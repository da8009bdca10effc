package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Caching, Dedup}

class CachingSpec extends SparkSpec {
  import spark.implicits._

  test("persistTracked registers; release() unpersists only tracked frames") {
    Caching.release() // isolate from other suites sharing the session
    import graft.operators.Caching.TrackedDf
    val mine = Seq((1L, "a"), (2L, "b")).toDF("id", "s").persistTracked
    val user = Seq((9L, "z")).toDF("id", "s").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      mine.count(); user.count()
      assert(mine.storageLevel != StorageLevel.NONE)
      assert(Memo.size(Memo.Intermediates) >= 1)
      Caching.release()
      assert(mine.storageLevel == StorageLevel.NONE,
        "tracked frame still persisted after release()")
      assert(user.storageLevel != StorageLevel.NONE,
        "release() must not touch caller-owned caches")
      assert(Memo.size(Memo.Intermediates) == 0)
    } finally user.unpersist(blocking = false)
  }

  test("operator intermediates are tracked (release path exists end-to-end)") {
    Caching.release()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    Dedup.minHashNearDups(docs, "doc_id", "text", 0.8).count()
    assert(Memo.size(Memo.Intermediates) >= 1,
      "minHashNearDups persisted nothing through the tracked path")
    Caching.release()
    assert(Memo.size(Memo.Intermediates) == 0)
  }
}
