package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The local-vs-distributed policy of the iterative operators: connected
  * components, PageRank, the BPE trainers and classifier GD.
  *
  * Each distributed loop costs a few sequential driver-blocking jobs per
  * round — pure job latency when its state is small, which it is on every
  * registered tier. So each operator materializes its state ONCE (the
  * distributed loop needs that frame anyway) and gauges it with one job:
  * a count or one aggregate on the persisted frame, never a
  * `limit(n).collect()` probe, whose executeTake ramps the final stage up
  * in sequential partition waves (q270 measured 5.7 → 6.7 s warm). When
  * the gauge fits the budget, [[collect]] pulls the cached rows in one
  * parallel pass and the operator runs an exact local kernel on the
  * driver, trajectory-identical to its distributed loop
  * (LocalTierParitySpec). Past the budget — the 100 TB tier — the
  * distributed loop runs unchanged on the same persisted frame; nothing
  * is ever collected unbounded.
  *
  * A budget is the sys-prop `graft.local.<key>`, read on every call so
  * specs and benchmarks can move an operator between tiers: unset or
  * non-numeric ⇒ the default, ≤ 0 ⇒ the local tier is disabled. The last
  * decision per operator is kept (one entry each) for [[Profile]] records.
  */
object LocalTier {

  /** The gauge fits at most `perBudget` × budget: CC and PageRank budget
    * undirected pairs and gauge the symmetric directed edge list. */
  final case class Tier(op: String, key: String, default: Long, perBudget: Long) {
    def prop: String = s"graft.local.$key"
    def budget: Long = sys.props.get(prop).flatMap(_.toLongOption).getOrElse(default)
  }

  /** 1M pairs ≈ 32 MB of longs on the driver. */
  val Cc: Tier = Tier("cc", "cc.max.edges", 1L << 20, 2L)
  val Pr: Tier = Tier("pr", "pr.max.edges", 1L << 20, 2L)
  /** Rows of a BPE trainer's (enc, freq) seed state. */
  val Bpe: Tier = Tier("bpe", "bpe.max.rows", 2000000L, 1L)
  /** Cells of the classifier's feature table. */
  val Clf: Tier = Tier("clf", "clf.max.cells", 4L << 20, 1L)
  val All: Seq[Tier] = Seq(Cc, Pr, Bpe, Clf)

  /** Cap on the string payload of one collect, whatever the row budget. */
  val MaxChars: Long = 64000000L

  /** What the gauge job measured: rows and their string characters. */
  final case class Gauge(rows: Long, chars: Long = 0L)

  /** A dispatch outcome; `gauge` is -1 when the local tier was disabled. */
  final case class Decision(local: Boolean, gauge: Long) {
    def json: String =
      s"""{"tier":"${if (local) "local" else "distributed"}","gauge":$gauge}"""
  }

  private val last = new java.util.concurrent.ConcurrentHashMap[String, Decision]()

  /** Take the last decision per operator since the previous drain. */
  def drain(): Seq[(String, Decision)] =
    All.map(_.op).flatMap(op => Option(last.remove(op)).map(op -> _))

  /** Gauge `frame`, the materialized state the distributed loop would
    * read (`gauge` runs only while the tier is enabled), and when it fits
    * the budget collect and `decode` it. `decode` returns None when the
    * rows cannot run locally, saying why. None ⇒ run the distributed loop.
    */
  def collect[T](tier: Tier, frame: DataFrame)(gauge: => Gauge)(
      decode: Array[Row] => Option[T]): Option[T] = {
    val budget = tier.budget
    val (out, measured) =
      if (budget <= 0) (None, -1L)
      else {
        val g = gauge
        if (g.rows <= tier.perBudget * budget && g.chars <= MaxChars)
          (decode(frame.collect()), g.rows)
        else {
          // stderr — stdout stays pure for Bench
          System.err.println(s"[${tier.op}] NOTE: ${g.rows} rows/${g.chars} " +
            s"chars exceeds local budget (${tier.prop}=$budget) — distributed loop")
          (None, g.rows)
        }
      }
    last.put(tier.op, Decision(out.isDefined, measured))
    out
  }
}
