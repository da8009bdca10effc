package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Caching.TrackedDf
import graft.operators.{Caching, Similarity}

class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String) = s"$sfDir/$name.parquet"

  /** Memoized entries of every family but intermediates, plus a built
    * tree broadcast: the state that must outlive `Caching.release()`.
    */
  private def memoized() = {
    SparkEntry.queries("bpe_train_steps")(spark, sfDir)
    val corpus = spark.read.parquet(table("embeddings")).where(col("vec_id") < 200)
    val tree = Similarity.bisectAssignedCached(corpus, "vec_id", "embedding",
      nCells = 4, iters = 1, targetRows = 32)
    val docs = Memo.get(spark, Memo.Tables, table("documents"))(fail("documents not memoized"))
    val merges = Memo.get(spark, Memo.BpeMerges, (sfDir, "ws"))(fail("merges not memoized"))
    (corpus, tree, tree.flat, docs, merges)
  }

  test("eight threads asking for one key run its build once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val key = s"concurrent-${System.nanoTime}"
    try {
      val got = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          Memo.get(spark, Memo.ProbeWidths, key) {
            builds.incrementAndGet()
            Thread.sleep(300)
            7
          }
        }
      }))
      start.countDown()
      assert(got.map(_.get(60, TimeUnit.SECONDS)).toSet == Set(7))
      assert(builds.get == 1, s"${builds.get} builds for one key")
    } finally pool.shutdownNow()
  }

  test("Caching.release() leaves tables, BPE merge tables and trees intact") {
    val (corpus, tree, bc, docs, merges) = memoized()
    val builds = Similarity.treeBuilds.get()
    val mine = Seq(1L, 2L).toDF("id").persistTracked
    Caching.release()
    assert(mine.storageLevel == StorageLevel.NONE, "release() must unpersist intermediates")
    assert(Memo.size(Memo.Intermediates) == 0)
    assert(Memo.get(spark, Memo.Tables, table("documents"))(fail("table rebuilt")) eq docs)
    assert(Memo.get(spark, Memo.BpeMerges, (sfDir, "ws"))(fail("merges rebuilt")) eq merges)
    assert(Similarity.bisectAssignedCached(corpus, "vec_id", "embedding",
      nCells = 4, iters = 1, targetRows = 32) eq tree)
    assert(Similarity.treeBuilds.get() == builds, "release() must not drop the tree")
    assert(bc.value.levels == tree.levels.size, "release() must not destroy the broadcast")
  }

  test("evict(Trees) destroys the broadcast and leaves the other families alone") {
    val (corpus, _, bc, docs, merges) = memoized()
    val mine = Seq(1L, 2L).toDF("id").persistTracked
    try {
      Memo.evict(Memo.Trees)
      assert(intercept[Exception](bc.value).getMessage.contains("destroyed"))
      assert(Memo.size(Memo.Trees) == 0)
      assert(mine.storageLevel != StorageLevel.NONE, "evict(Trees) must not touch intermediates")
      assert(Memo.get(spark, Memo.Tables, table("documents"))(fail("table rebuilt")) eq docs)
      assert(Memo.get(spark, Memo.BpeMerges, (sfDir, "ws"))(fail("merges rebuilt")) eq merges)
      val builds = Similarity.treeBuilds.get()
      Similarity.bisectAssignedCached(corpus, "vec_id", "embedding",
        nCells = 4, iters = 1, targetRows = 32)
      assert(Similarity.treeBuilds.get() == builds + 1, "an evicted tree is rebuilt")
    } finally Caching.release()
  }

  test("spark.newSession() gets its own entries") {
    val other = spark.newSession()
    SparkEntry.queries("map_project")(spark, sfDir)
    val mine = Memo.get(spark, Memo.Tables, table("lineitem"))(fail("not memoized"))
    val tables = Memo.size(Memo.Tables)
    SparkEntry.queries("map_project")(other, sfDir)
    assert(Memo.size(Memo.Tables) == tables + 1)
    val theirs = Memo.get(other, Memo.Tables, table("lineitem"))(fail("not memoized"))
    assert((theirs ne mine) && (theirs.sparkSession eq other) && (mine.sparkSession eq spark))
    val key = s"own-${System.nanoTime}"
    assert(Memo.get(spark, Memo.ProbeWidths, key)(1) == 1)
    assert(Memo.get(other, Memo.ProbeWidths, key)(2) == 2)
    assert(Memo.get(spark, Memo.ProbeWidths, key)(fail("rebuilt")) == 1)
  }

  test("only Memo keys state on a SparkSession or asks whether a context is stopped") {
    val sessionKeyed = Seq(
      """\w*Map\w*(\.empty)?\s*\[\s*\(?\s*(org\.apache\.spark\.sql\.)?SparkSession\b""".r,
      """type\s+\w+\s*=\s*\(\s*(org\.apache\.spark\.sql\.)?SparkSession\b""".r)
    def offends(p: java.nio.file.Path) = {
      val src = Files.readString(p)
      src.contains("isStopped") || sessionKeyed.exists(_.findFirstIn(src).nonEmpty)
    }
    val mains = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val (memo, others) = mains.partition(_.endsWith("Memo.scala"))
    assert(memo.size == 1 && offends(memo.head), "the scan must see Memo's own map")
    val offenders = others.filter(offends)
    assert(offenders.isEmpty, s"session-keyed state outside Memo: $offenders")
  }
}
