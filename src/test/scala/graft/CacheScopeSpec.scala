package graft

import org.scalatest.funsuite.AnyFunSuite

/** CacheScope is per thread: a drain releases only the calling
  * thread's registrations, and a cache entry two threads registered
  * stays persisted until the last of them drains.
  */
class CacheScopeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq(1, 2, 3).toDF("v")

  private def onThread(body: => Unit): Unit = {
    @volatile var failure: Throwable = null
    val t = new Thread(() => try body catch { case e: Throwable => failure = e })
    t.start(); t.join()
    if (failure != null) throw failure
  }

  test("sequential scope-drain-scope hands ownership over cleanly") {
    CacheScope.drain() // isolate from any prior suite state
    val a = CacheScope.scoped(df)
    assert(a.count() == 3)
    CacheScope.drain()
    var ok = false
    onThread { CacheScope.scoped(df); ok = true; CacheScope.drain() }
    assert(ok)
    CacheScope.drain()
  }

  test("a shared entry survives until its last holder drains") {
    CacheScope.drain()
    spark.catalog.clearCache()
    val p = CacheScope.scoped(Seq(7, 8, 9).toDF("s"))
    // a second thread persists the same plan (one cache entry) and
    // drains first: this thread still holds the entry
    onThread {
      val q = CacheScope.scoped(Seq(7, 8, 9).toDF("s"))
      assert(q.count() == 3)
      CacheScope.drain()
    }
    assert(p.storageLevel.useMemory, "the second thread's drain unpersisted a held entry")
    CacheScope.drain()
    assert(p.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the last holder's drain should unpersist the entry")
  }

  test("the owning thread may register repeatedly before draining") {
    CacheScope.drain()
    CacheScope.scoped(df)
    CacheScope.scoped(df)
    CacheScope.scoped(df)
    CacheScope.drain()
  }

  test("drain with nothing registered is a no-op and releases ownership") {
    CacheScope.drain()
    CacheScope.drain()
    onThread { CacheScope.scoped(df); CacheScope.drain() }
    CacheScope.drain()
  }

  test("a second thread's drain leaves this thread's caches persisted") {
    CacheScope.drain()
    val p = CacheScope.scoped(Seq(4, 5, 6).toDF("w"))
    var other: org.apache.spark.sql.DataFrame = null
    onThread {
      other = CacheScope.scoped(Seq(10, 11).toDF("x"))
      CacheScope.drain()
    }
    assert(p.storageLevel.useMemory, "this thread's cache was unpersisted by another thread's drain")
    assert(other.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the second thread's drain should release its own cache")
    CacheScope.drain()
    assert(p.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("scopedIfLarge persists above the size estimate threshold and skips below it") {
    CacheScope.drain()
    val big = TestSpark.spark.range(10 * 1000 * 1000).toDF("id") // est ≈ 80 MB
    val small = TestSpark.spark.range(1000).toDF("id") // est ≈ 8 kB
    val bigOut = CacheScope.scopedIfLarge(big)
    assert(bigOut.storageLevel.useMemory || bigOut.storageLevel.useDisk,
      "large input should have been registered for persist")
    val smallOut = CacheScope.scopedIfLarge(small)
    assert(smallOut.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "small input should not persist")
    // explicit floor overrides the default both ways
    val forced = CacheScope.scopedIfLarge(small, minInputBytes = 1L)
    assert(forced.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    CacheScope.drain()
  }
}
