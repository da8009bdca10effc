package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Caching.TrackedDf
import graft.operators.{Caching, Similarity}
import graft.sources.Sources

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

  /** `body`'s value and the Spark jobs it started. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val v = body
      GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
      (v, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A filter on a `t()` table that no other test counts. */
  private def slice(s: org.apache.spark.sql.SparkSession, m: Int) =
    SparkEntry.t(s, sfDir, "embeddings").where(col("vec_id") % 97 === m)

  test("two equal plans over one t() table run one count") {
    val (n, cold) = jobsIn(Memo.rows(slice(spark, 11)))
    assert(cold > 0, "the first count must run")
    val (again, warm) = jobsIn(Memo.rows(slice(spark, 11)))
    assert(again == n && warm == 0, s"an equal plan ran $warm job(s)")
    assert(n == slice(spark, 11).count())
  }

  test("a fresh read of a rewritten parquet path is counted again") {
    val dir = Files.createTempDirectory("memo_rows").resolve("t").toString
    spark.range(3).write.parquet(dir)
    val first = spark.read.parquet(dir)
    assert(Memo.rows(first) == 3)
    // an unchanged path read again is the same key (the read itself
    // may run a footer job, so it stays outside the measured region)
    val reread = spark.read.parquet(dir)
    assert(jobsIn(Memo.rows(reread)) == ((3L, 0)))
    spark.range(5).write.mode("overwrite").parquet(dir)
    val second = spark.read.parquet(dir)
    assert(Memo.planKey(second) != Memo.planKey(first), "the tree memo would reuse a stale tree")
    assert(Memo.rows(second) == 5)
  }

  test("a stopped session's entries are purged") {
    // one JVM holds one SparkContext, and stopping the suites' shared one
    // would end every suite after this, so the probe runs in a JVM of
    // its own: same classpath and JVM flags, a smaller heap
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx768m", "-cp", jvm.getClassPath, "graft.MemoPurgeProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(20).mkString("\n"))
    assert(out.contains("purge rows=1 stopped=1 after=1"), out.takeRight(20).mkString("\n"))
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
    val n = Memo.rows(slice(spark, 12))
    val mine = Seq(1L, 2L).toDF("id").persistTracked
    Caching.release()
    assert(jobsIn(Memo.rows(slice(spark, 12))) == ((n, 0)), "release() must not drop row counts")
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
    val n = Memo.rows(slice(spark, 13))
    val rows = Memo.size(Memo.Rows)
    val (counted, jobs) = jobsIn(Memo.rows(slice(other, 13)))
    assert(counted == n && jobs > 0 && Memo.size(Memo.Rows) == rows + 1)
  }

  private def tempPath(prefix: String) = Files.createTempDirectory(prefix).resolve("t").toString

  test("a second parquet, json or csv open of one path infers no schema") {
    val pq = tempPath("open_parquet")
    val js = tempPath("open_json")
    val cs = tempPath("open_csv")
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    df.write.parquet(pq)
    df.write.json(js)
    df.write.option("header", "true").csv(cs)
    val opens = Seq[(String, () => graft.Pipeline)](
      "parquet" -> (() => Sources.parquet(spark, pq)),
      "json" -> (() => Sources.json(spark, js)),
      "csv" -> (() => Sources.csv(spark, cs)))
    opens.foreach { case (format, open) =>
      val (first, cold) = jobsIn(open().toDF)
      assert(cold > 0, s"$format: the first open must infer its schema")
      val (again, warm) = jobsIn(open().toDF)
      assert(warm == 0, s"$format: a repeat open ran $warm job(s)")
      assert(again.schema == first.schema)
      assert(again.collect().toSet == first.collect().toSet)
    }
  }

  test("a path rewritten with an extra column is inferred again") {
    val dir = tempPath("open_rewrite")
    spark.range(3).write.parquet(dir)
    Sources.parquet(spark, dir)
    assert(jobsIn(Sources.parquet(spark, dir).toDF.columns.toSeq) == ((Seq("id"), 0)))
    spark.range(3).withColumn("extra", col("id") * 10).write.mode("overwrite").parquet(dir)
    val rewritten = Sources.parquet(spark, dir).toDF
    assert(rewritten.columns.toSeq == Seq("id", "extra"))
    assert(rewritten.select(sum("extra")).head().getLong(0) == 30L)
    assert(jobsIn(Sources.parquet(spark, dir).toDF.columns.toSeq) == ((Seq("id", "extra"), 0)))
  }

  test("a file appended to the path is read on the next open") {
    val dir = tempPath("open_append")
    spark.range(3).write.parquet(dir)
    assert(Sources.parquet(spark, dir).toDF.count() == 3)
    assert(jobsIn(Sources.parquet(spark, dir).toDF.schema)._2 == 0)
    spark.range(3, 5).write.mode("append").parquet(dir)
    assert(Sources.parquet(spark, dir).toDF.count() == 5)
    assert(jobsIn(Sources.parquet(spark, dir).toDF.schema)._2 == 0)
  }

  test("spark.newSession() infers a source's schema on its own") {
    val dir = tempPath("open_session")
    spark.range(3).write.parquet(dir)
    Sources.parquet(spark, dir)
    assert(jobsIn(Sources.parquet(spark, dir))._2 == 0)
    val other = spark.newSession()
    val (theirs, cold) = jobsIn(Sources.parquet(other, dir).toDF)
    assert(cold > 0 && (theirs.sparkSession eq other), "a new session must infer on its own")
    assert(jobsIn(Sources.parquet(other, dir))._2 == 0)
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

/** [[MemoSpec]]'s stopped-session probe: a row count memoized in a
  * session survives that session's stop, and the next session's first
  * memo call drops it. Prints the entry counts at each step.
  */
object MemoPurgeProbe {
  def main(args: Array[String]): Unit = {
    val first = GraftSession.local(1)
    Memo.rows(first.range(4).toDF())
    val rows = Memo.size(Memo.Rows)
    first.stop()
    val stopped = Memo.size(Memo.Rows)
    val next = GraftSession.local(1)
    Memo.rows(next.range(6).toDF())
    println(s"purge rows=$rows stopped=$stopped after=${Memo.size(Memo.Rows)}")
    next.stop()
  }
}
