package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of cached frames: every persist and local checkpoint in
  * the engine goes through here.
  *
  * A runner opens a per-query [[scope]]; each frame materialized inside it
  * is registered, and closing the scope releases whatever is still
  * registered, in reverse order, on every exit path. So a cache or
  * checkpoint cannot outlive the query that made it, and a warm rep reads
  * its inputs, not an earlier rep's cache. An operator that is done with a
  * frame before the query ends (a superseded fixpoint round, an
  * operator-internal edge list) hands it to [[release]] at that point.
  *
  * The scope sits in an `InheritableThreadLocal`: a thread pool a query
  * starts inside its scope (q296's concurrent tier audits) registers into
  * the caller's scope. Outside any scope `persist`/`checkpoint` are the
  * plain Spark calls and `release` drops the frame at once, so callers
  * that run operators directly (the benchmark, unit tests) see no change.
  * Frames with the same plan share one CacheManager entry (concurrent
  * `Verify` lanes persist identical plans): a persisted frame is dropped
  * from the cache only when no other frame persisted in an open scope
  * still maps to its entry.
  */
object Cached {

  /** The frames registered with one scope. A thread that inherited the
    * scope may outlive it, so a closed scope takes no more frames. */
  private final class Scope {
    private val frames = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    private var open = true

    def add(x: AnyRef): Boolean = synchronized { if (open) frames += x; open }
    def remove(x: AnyRef): Unit = synchronized { frames.filterInPlace(_ ne x) }
    def close(): Unit = synchronized {
      open = false
      frames.reverseIterator.foreach(drop)
      frames.clear()
    }
  }

  private val current = new InheritableThreadLocal[Scope]

  /** Run `body` in a fresh scope and release every frame still registered
    * with it when `body` returns or throws. */
  def scope[A](body: => A): A = {
    val outer = current.get
    val s = new Scope
    current.set(s)
    try body
    finally {
      current.set(outer)
      s.close()
    }
  }

  private def register[F <: AnyRef](x: F): F = {
    Option(current.get).foreach(_.add(x))
    x
  }

  /** Every frame persisted in a scope and not yet dropped. */
  private val owners = scala.collection.mutable.ArrayBuffer.empty[classic.Dataset[_]]

  /** `df.persist(MEMORY_AND_DISK)`, owned by the open scope. The frame is
    * listed first, so a concurrent drop of the same plan keeps the entry. */
  def persist[T](df: Dataset[T]): Dataset[T] = {
    if (Option(current.get).exists(_.add(df))) df match {
      case c: classic.Dataset[_] => owners.synchronized(owners += c)
      case _ =>
    }
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** `df.localCheckpoint(eager = true)`, owned by the open scope. */
  def checkpoint[T](df: Dataset[T]): Dataset[T] = register(df.localCheckpoint(true))

  /** `rdd.localCheckpoint()`, owned by the open scope: lazy, as for any
    * RDD, so the blocks fill on the RDD's first action. */
  def checkpoint[T](rdd: RDD[T]): RDD[T] = register(rdd.localCheckpoint())

  /** Release a frame now and deregister it. The caller guarantees every
    * consumer has run: a checkpoint's lineage is truncated, so its data is
    * unrecoverable afterwards. Non-blocking. */
  def release(df: Dataset[_]): Unit = unregister(df)
  def release(rdd: RDD[_]): Unit = unregister(rdd)

  private def unregister(x: AnyRef): Unit = {
    Option(current.get).foreach(_.remove(x))
    drop(x)
  }

  /** The block-stored RDD behind a checkpointed frame, if `df`'s plan is
    * the `LogicalRDD` that `localCheckpoint` produces. Releasing exactly
    * this RDD, not a `getPersistentRDDs` diff, cannot race with sibling
    * jobs on the shared session. */
  def checkpointRdd(df: Dataset[_]): Option[RDD[_]] = df match {
    case c: classic.Dataset[_] => c.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.getStorageLevel.isValid => Some(l.rdd)
      case _ => None
    }
    case _ => None
  }

  private def drop(x: AnyRef): Unit = x match {
    case rdd: RDD[_] => rdd.unpersist(blocking = false)
    case df: Dataset[_] => checkpointRdd(df) match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => owners.synchronized {
        owners.filterInPlace(_ ne df)
        val entry = df match {
          case c: classic.Dataset[_] => c.sparkSession.sharedState.cacheManager.lookupCachedData(c)
          case _ => None
        }
        if (!entry.exists(e => owners.exists(_.queryExecution.normalized.sameResult(e.plan))))
          df.unpersist(blocking = false)
      }
    }
  }
}
