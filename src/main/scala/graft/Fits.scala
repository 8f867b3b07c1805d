package graft

/** The one store of fitted parameters kept between a query and its
  * dynamic oracle ([[Queries.Q.oracleDyn]]).
  *
  * The reference fits an artifact once and runs every query against it
  * (notebooks/test.ipynb:647-658). A query keeps what it fitted in a
  * [[Slot]], keyed by the sf dir it ran against: PCA matrices (q204,
  * q262), derived plane counts (q207, q214), the Lloyd centroids (q263 →
  * q266/q271), the classifier weights and the DoReMi trajectory. Every
  * fit is bit-reproducible, so a stored fit is value-identical to a refit.
  *
  * [[dumpDir]] is set by [[Verify]] before the oracle dump: the sf dir the
  * dump targets, so an oracle reads the fit of the RIGHT dataset when one
  * JVM ran its query against several dirs (`SparkEntry.oracleSql` takes
  * no parameters, hence a context instead of an argument).
  */
object Fits {

  @volatile var dumpDir: Option[String] = None

  private val slots = new java.util.concurrent.ConcurrentLinkedQueue[Slot[_]]()
  private val hits = new java.util.concurrent.atomic.AtomicLong()

  /** Fits served from a store so far, by [[Slot.fit]] with `reuse`. */
  def hitCount: Long = hits.get

  /** Forget every stored fit, so the next run of each query refits. */
  def clearAll(): Unit = slots.forEach(_.clear())

  /** One kind of fit, keyed by sf dir. */
  final class Slot[V] {
    private val fits = new java.util.concurrent.ConcurrentHashMap[String, V]()
    slots.add(this)

    def put(dir: String, v: V): Unit = fits.put(dir, v)

    /** The stored fit for `dir` when `reuse` and there is one (a
      * consumer reading the artifact); otherwise `run` refits and the
      * result is stored (a trajectory query, whose cost is the fit's). */
    def fit(dir: String, reuse: Boolean)(run: => V): V = {
      val stored = if (reuse) Option(fits.get(dir)) else None
      stored match {
        case Some(v) => hits.incrementAndGet(); v
        case None =>
          val v = run
          put(dir, v)
          v
      }
    }

    /** An explicit dump dir must match exactly: falling back to "the
      * single stored fit" on a miss would embed another dir's literals
      * into the oracle SQL. The single-fit convenience applies only when
      * there is no dump context at all. */
    private[graft] def lookup(dir: Option[String]): Option[V] = dir match {
      case Some(d) => Option(fits.get(d))
      case None => if (fits.size == 1) Some(fits.values.iterator.next()) else None
    }

    /** `query`'s dynamic oracle: `sql` over the fit of [[dumpDir]], or a
      * loud error row when the query has not run for that dir (or ran
      * for several dirs with no dump context), whose literals could not
      * be trusted. */
    def oracle(query: String)(sql: V => String): String =
      lookup(dumpDir).map(sql).getOrElse(
        s"SELECT '$query oracle requested before the query ran for this dir' AS err")

    private[graft] def clear(): Unit = fits.clear()
  }
}
