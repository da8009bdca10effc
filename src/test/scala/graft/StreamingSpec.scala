package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** `df` replayed to completion at the session's shuffle width. */
  private def replay(df: DataFrame, mode: OutputMode): DataFrame =
    Streams.replay(df, mode, spark.conf.get("spark.sql.shuffle.partitions").toInt)

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("batch Transformer ops run unchanged on a streaming source") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    in.addData(1, 2, 3, 4, 5, 6)
    val t = Transformer.identity
      .filter(col("value") % 2 === 0)
      .map((col("value") * 10).as("value"))
    val out = t.run(in.toDF(), PipelineContext(spark))
    assert(out.isStreaming)
    val replayed = replay(out, OutputMode.Append())
    val rows = replayed.collect().map(_.getInt(0)).sorted
    assert(rows.toSeq == Seq(20, 40, 60))
  }

  test("windowed aggregate with watermark bounds state (streaming reducePerKey)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    in.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(11), "b", 5.0), (ts(12), "a", 4.0))
    val df = in.toDF().toDF("ts", "k", "v")
    val agg = Streams.windowedAgg(df, "ts", "1 minute", "10 minutes",
      Seq(col("k")), Seq(sum(col("v")).as("s"), count(lit(1)).as("n")))
    val replayed = replay(agg, OutputMode.Complete())
    val rows = replayed
      .select(col("k"), col("s"), col("n")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // window [10:00,10:10): a -> 3.0 over 2 events; [10:10,10:20): b 5.0, a 4.0
    assert(rows == Set(("a", 3.0, 2L), ("b", 5.0, 1L), ("a", 4.0, 1L)))
  }

  test("session windows split on gap (streaming sessionize)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    // user a: events at 10:01, 10:05 (same session, gap<10m), 10:30 (new session)
    in.addData((ts(1), "a", 1.0), (ts(5), "a", 1.0), (ts(30), "a", 1.0))
    val df = in.toDF().toDF("ts", "user", "v")
    val sess = Streams.sessionWindowAgg(df, "ts", "1 minute", "10 minutes",
      Seq(col("user")), Seq(count(lit(1)).as("n_events")))
    val replayed = replay(sess, OutputMode.Complete())
    val rows = replayed.select("n_events").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(1L, 2L))
  }

  test("mapGroupsWithState keeps running per-key totals (stateful context)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    in.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
    val out = Streams.runningTotals(in.toDS())
    val replayed = replay(out.toDF(), OutputMode.Update())
    val rows = replayed.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(("a", 2L, 3.0), ("b", 1L, 10.0)))
  }

  test("streaming dedup within watermark drops duplicate keys") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    in.addData((ts(1), 1L, "a"), (ts(2), 1L, "dup"), (ts(3), 2L, "b"), (ts(4), 1L, "dup2"))
    val df = in.toDF().toDF("ts", "key", "payload")
    val out = Streams.dedupWithinWatermark(df, "ts", "10 minutes", Seq("key"))
    val replayed = replay(out, OutputMode.Append())
    val keys = replayed.select("key").collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == Seq(1L, 2L))
  }

  test("stream-stream join bounded by event-time range") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys   = MemoryStream[(Timestamp, Long)]
    clicks.addData((ts(1), 1L), (ts(2), 2L), (ts(3), 3L))
    buys.addData((ts(5), 1L), (ts(40), 2L)) // user 2 buys too late (>30m lag)
    val c = clicks.toDF().toDF("cts", "user")
    val b = buys.toDF().toDF("bts", "user")
    val joined = Streams.streamStreamJoin(c, b, "cts", "bts", "1 minute", "user", "30 minutes")
    val replayed = replay(joined.select(c("user")), OutputMode.Append())
    val users = replayed.collect().map(_.getLong(0)).sorted
    assert(users.toSeq == Seq(1L)) // only the within-window purchase joins
  }

  test("file-stream over the real events table: windowed agg end-to-end") {
    import graft.sources.Sources
    val schema = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    val stream = // directory source (streaming requires a basePath dir); the dir mixes
    // table schemas, so non-event files surface as null event_type rows
    Sources.streamParquet(spark, "/root/testdata/sf0.001", schema)
      .where(org.apache.spark.sql.functions.col("event_type").isNotNull)
    // ts encoding (ns-long vs native timestamp) adapts via Temporal.epochUs
    val withTs = stream.withColumn("event_time",
      org.apache.spark.sql.functions.timestamp_micros(
        graft.operators.Temporal.epochUs(stream, "ts")))
    val agg = Streams.windowedAgg(withTs, "event_time", "1 hour", "1 day",
      Seq(org.apache.spark.sql.functions.col("event_type")),
      Seq(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")))
    val replayed = replay(agg, OutputMode.Complete())
    val total = replayed
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == 1000L) // every event of sf0.001 flowed through the stream
  }

  test("watermark drops late data and bounds state (append-mode windowed agg)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "k", "v")
    val agg = Streams.windowedAgg(df, "ts", "5 minutes", "10 minutes",
      Seq(col("k")), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("late_stream")
      .outputMode(OutputMode.Append()).start()
    // batch 1: event at 10:01; batch 2 advances event time to 10:40,
    // closing the [10:00,10:10) window (watermark 10:35 > window end)
    in.addData((ts(1), "a", 1.0)); q.processAllAvailable()
    in.addData((ts(40), "a", 1.0)); q.processAllAvailable()
    // batch 3: a LATE event for the closed 10:00 window must be dropped
    in.addData((ts(2), "a", 99.0)); q.processAllAvailable()
    in.addData((Timestamp.valueOf("2024-01-01 11:30:00"), "a", 1.0)); q.processAllAvailable()
    q.stop()
    val emitted = spark.table("late_stream")
      .select(col("window.start").cast("string"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // the first window emitted exactly 1 event — the late 99.0 never counted
    assert(emitted("2024-01-01 10:00:00") == 1L, s"late data not dropped: $emitted")
  }
}
