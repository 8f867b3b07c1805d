package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The per-query cache scope: what registers with it, and when it is
  * released. */
class CachedSpec extends SparkSpec {

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A frame with a plan no other spec caches. */
  private def frame(tag: Long): DataFrame =
    spark.range(64).selectExpr(s"id * $tag AS x").filter("x % 3 = 0")

  test("a scope releases a persisted and a checkpointed frame when its body throws") {
    val before = persistedIds
    var persisted: DataFrame = null
    var ckptId = -1
    val e = intercept[IllegalStateException] {
      Cached.scope {
        persisted = Cached.persist(frame(7))
        persisted.count()
        val ckpt = Cached.checkpoint(frame(11))
        ckptId = Cached.checkpointRdd(ckpt).get.id
        assert(persistedIds.contains(ckptId))
        assert(persisted.storageLevel != StorageLevel.NONE)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(persisted.storageLevel == StorageLevel.NONE, "the persisted frame is still cached")
    assert(!persistedIds.contains(ckptId), "the checkpoint's blocks are still resident")
    assert(persistedIds -- before == Set.empty)
  }

  test("a thread pool started inside a scope registers into the caller's scope") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val dfs =
      try Cached.scope {
        val fs = Seq(13L, 17L).map(t => pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = {
            val df = Cached.persist(frame(t))
            df.count()
            df
          }
        }))
        val got = fs.map(_.get())
        got.foreach(df => assert(df.storageLevel != StorageLevel.NONE))
        got
      } finally pool.shutdown()
    dfs.foreach(df => assert(df.storageLevel == StorageLevel.NONE, "pool frame outlived the scope"))
  }

  test("release drops a frame at once, in a scope or outside one") {
    val inScope = Cached.scope {
      val df = Cached.persist(frame(19))
      df.count()
      Cached.release(df)
      assert(df.storageLevel == StorageLevel.NONE)
      Cached.checkpoint(frame(23))
    }
    assert(Cached.checkpointRdd(inScope).isEmpty)
    // Outside a scope nothing owns the frame: it stays until released.
    val df = Cached.persist(frame(29))
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)
    Cached.release(df)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("two scopes that persist the same plan share its cache entry until the last one closes") {
    val persisted = new java.util.concurrent.CountDownLatch(2)
    val firstClosed = new java.util.concurrent.CountDownLatch(1)
    @volatile var afterFirst = StorageLevel.NONE
    @volatile var second: DataFrame = null
    def lane(body: DataFrame => Unit): Thread = new Thread(() => Cached.scope {
      val df = Cached.persist(frame(31))
      df.count()
      persisted.countDown()
      persisted.await()
      body(df)
    })
    val first = lane(_ => ())
    val other = lane { df =>
      second = df
      firstClosed.await()
      afterFirst = df.storageLevel
    }
    Seq(first, other).foreach(_.start())
    first.join()
    firstClosed.countDown()
    other.join()
    assert(afterFirst != StorageLevel.NONE, "the first scope to close uncached the other's frame")
    assert(second.storageLevel == StorageLevel.NONE, "the last owner left the entry cached")
  }

  test("an early release of a parent keeps the dependent entry that two scopes share") {
    Cached.scope {
      val parent = Cached.persist(frame(37))
      val outer = Cached.persist(parent.filter("x > 10"))
      Cached.scope {
        val inner = Cached.persist(frame(37).filter("x > 10"))
        // Not loaded yet, so the dependent entry is rebuilt as a new object.
        Cached.release(parent)
        assert(inner.count() == outer.count())
      }
      assert(outer.storageLevel != StorageLevel.NONE, "the inner scope uncached the outer's frame")
    }
    assert(frame(37).filter("x > 10").storageLevel == StorageLevel.NONE)
  }
}
