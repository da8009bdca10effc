package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.{Caching, Similarity}
import graft.streaming.Streams

/** `Streams.replay`: the memory sink's rows, kept on the executors. */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  /** A parquet dir of `files` files over ids [0, rows). */
  private def idsDir(rows: Long, files: Int): String = {
    val dir = Files.createTempDirectory("graft_replay").resolve("t").toString
    spark.range(0, rows, 1, files)
      .select(col("id"), (col("id") % 7).as("k"), (col("id") * 1000).as("ts"))
      .write.parquet(dir)
    dir
  }

  /** One file per micro-batch over `dir`. */
  private def perFile(dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** `df` through Spark's memory sink, the reference replay. */
  private def viaMemorySink(df: DataFrame, mode: OutputMode, name: String): DataFrame = {
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.table(name)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  test("replay keeps the memory sink's rows over several micro-batches in every output mode") {
    val dir = idsDir(400, 4)
    val agg = (df: DataFrame) => df.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    Seq(
      ("append", OutputMode.Append(), (df: DataFrame) => df.where(col("k") =!= 3)),
      ("update", OutputMode.Update(), agg),
      ("complete", OutputMode.Complete(), agg)).foreach { case (name, mode, q) =>
      val out = Streams.replay(q(perFile(dir)), mode, 2)
      val ref = viaMemorySink(q(perFile(dir)), mode, s"replay_ref_$name")
      assert(rows(out) == rows(ref), s"$name: replay diverged from the memory sink")
      // one checkpoint per batch, of which Complete keeps the last
      val batches = GraftBridge.checkpointRdds(out).size
      if (mode == OutputMode.Complete()) assert(batches == 1, s"$name: $batches batches kept")
      else assert(batches == 4, s"$name: $batches batches, want one per file")
      // the frame belongs to the caller's session: a view over it resolves
      assert(out.sparkSession eq spark)
      out.createOrReplaceTempView(s"replay_view_$name")
      assert(spark.table(s"replay_view_$name").count() == ref.count())
    }
    assert(rows(viaMemorySink(agg(perFile(dir)), OutputMode.Update(), "replay_ref_n")).size > 7,
      "the update-mode case never saw a key updated in two batches")
    Caching.release()
  }

  test("an empty stream replays to no rows with the stream's schema") {
    val dir = Files.createTempDirectory("graft_replay_empty").toString
    val stream = spark.readStream.schema("id long, k long").parquet(dir)
    val out = Streams.replay(stream.where(col("k") > 0), OutputMode.Append(), 2)
    assert(out.schema == stream.schema)
    assert(out.count() == 0)
  }

  test("Caching.release() frees the replay's checkpoints and leaves a memoized tree intact") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet").where(col("vec_id") < 200)
    val tree = Similarity.bisectAssignedCached(corpus, "vec_id", "embedding",
      nCells = 4, iters = 1, targetRows = 32)
    val out = Streams.replay(perFile(idsDir(100, 2)), OutputMode.Append(), 2)
    val ids = GraftBridge.checkpointRdds(out).map(_.id).toSet
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert(ids.nonEmpty && ids.subsetOf(cached), "replay checkpoints not cached")
    assert(out.count() == 100)
    Caching.release()
    assert((ids & cached).isEmpty, s"checkpoints ${ids & cached} survived Caching.release()")
    assert(tree.blocksIntact, "Caching.release() dropped the memoized tree's blocks")
  }

  test("a stateful replay of 100k rows returns under 64 KB of task results per stage") {
    val dir = idsDir(100000, 4)
    val st = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
      .select((col("id") % 1000).as("user"), col("id").as("eventId"), col("ts"),
        col("k").cast("double").as("value"))
      .as[Streams.SessIn]
    val sessions = Streams.sessionizeStream(st, 5000000L).toDF
    /** Summed task result bytes per stage while `body` runs. */
    def resultBytes(body: => Long): (Long, Map[Int, Long]) = {
      val perStage = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          Option(te.taskMetrics).foreach(m => perStage.merge(te.stageId, m.resultSize, _ + _))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val n = body
        GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
        (n, perStage.asScala.toMap)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (n, replayed) = resultBytes(Streams.replay(sessions, OutputMode.Append(), 1).count())
    assert(n == 100000)
    assert(replayed.values.max < 64 * 1024, s"task result bytes per stage: $replayed")
    // the memory sink ships the same rows to the driver: the bound is not vacuous
    val (_, viaSink) = resultBytes(viaMemorySink(sessions, OutputMode.Append(), "replay_ref_sess").count())
    assert(viaSink.values.max > 64 * 1024, s"memory-sink task result bytes per stage: $viaSink")
    Caching.release()
  }
}
