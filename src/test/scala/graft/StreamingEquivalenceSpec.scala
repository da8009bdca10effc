package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.Sources
import graft.streaming.Streams

/** Batch ↔ streaming equivalence harness: each streaming mirror runs
  * one-shot (Trigger.AvailableNow for file streams) over the SAME
  * parquet input as its batch counterpart and must produce the
  * identical row set — hard evidence the mirrors share semantics, not
  * just shape. This is the streaming analogue of the DuckDB oracle:
  * the batch operator (itself oracle-checked) is the reference.
  */
class StreamingEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** `df` replayed to completion at the session's shuffle width. */
  private def replay(df: DataFrame, mode: OutputMode): DataFrame =
    Streams.replay(df, mode, spark.conf.get("spark.sql.shuffle.partitions").toInt)

  private lazy val eventsSchema =
    spark.read.parquet(s"$sfDir/events.parquet").schema

  /** Stream over the sf dir restricted to events rows, with the ts
    * column (ns-long or native timestamp — Temporal.epochUs adapts)
    * converted to an event-time timestamp (same expression the batch
    * side uses, so values are bit-identical).
    */
  private def eventsStream: DataFrame = {
    val raw = Sources.streamParquet(spark, sfDir, eventsSchema)
    raw
      .where(col("event_type").isNotNull)
      .withColumn("event_time",
        timestamp_micros(graft.operators.Temporal.epochUs(raw, "ts")))
  }

  private def eventsBatch: DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.withColumn("event_time",
      timestamp_micros(graft.operators.Temporal.epochUs(raw, "ts")))
  }

  test("windowedAgg (AvailableNow) == batch tumbling-window aggregate") {
    val streamed = Streams.windowedAgg(eventsStream, "event_time", "1 hour", "1 day",
      Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v")))
      .select(col("window.start").cast("string").as("ws"),
        col("event_type"), col("n"), col("v"))
    val replayed = replay(streamed, OutputMode.Complete())
    val batch = eventsBatch
      .groupBy(window(col("event_time"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .select(col("window.start").cast("string").as("ws"),
        col("event_type"), col("n"), col("v"))
    assert(rowSet(replayed) == rowSet(batch),
      "streaming windowed aggregate diverged from batch")
  }

  test("dedupWithinWatermark (AvailableNow) == batch distinct keys") {
    // watermark horizon longer than the data span -> exact dedup, the
    // same contract as batch Dedup.exact on the key column
    val out = Streams.dedupWithinWatermark(
      eventsStream, "event_time", "3650 days", Seq("user_id"))
      .select(col("user_id"))
    val replayed = replay(out, OutputMode.Append())
    val streamKeys = replayed.collect().map(_.getLong(0)).toSet
    val batchKeys = eventsBatch.select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(streamKeys == batchKeys, "streaming dedup keys diverged from batch distinct")
  }

  test("sessionWindowAgg (AvailableNow) == batch session_window aggregate") {
    // integer-cents sum: aggregation order differs between engines'
    // plans, so equality must not ride on float summation order
    val cents = (col("value") * 100).cast("long")
    val streamed = Streams.sessionWindowAgg(eventsStream, "event_time",
      "3650 days", "30 minutes", Seq(col("user_id")),
      Seq(count(lit(1)).as("n"), sum(cents).as("v_cents")))
      .select(col("session_window.start").cast("string").as("ss"),
        col("user_id"), col("n"), col("v_cents"))
    val replayed = replay(streamed, OutputMode.Complete())
    val batch = eventsBatch
      .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(cents).as("v_cents"))
      .select(col("session_window.start").cast("string").as("ss"),
        col("user_id"), col("n"), col("v_cents"))
    assert(rowSet(replayed) == rowSet(batch),
      "streaming session windows diverged from batch")
  }

  test("streamStreamJoin (AvailableNow) == batch range join") {
    def shaped(df: DataFrame, prefix: String, eventType: String): DataFrame =
      df.where(col("event_type") === eventType)
        .select(col("user_id"),
          col("event_time").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
    val joined = Streams.streamStreamJoin(
      shaped(eventsStream, "c", "click"),
      shaped(eventsStream, "p", "purchase"),
      "c_ts", "p_ts", "3650 days", "user_id", "10 minutes")
      .select(col("c_id"), col("p_id"))
    val replayed = replay(joined, OutputMode.Append())
    val cb = shaped(eventsBatch, "c", "click")
    val pb = shaped(eventsBatch, "p", "purchase")
    val batch = cb.join(pb,
      cb("user_id") === pb("user_id") &&
        pb("p_ts") >= cb("c_ts") &&
        pb("p_ts") <= cb("c_ts") + expr("INTERVAL 10 minutes"))
      .select(col("c_id"), col("p_id"))
    assert(rowSet(replayed) == rowSet(batch),
      "stream-stream join diverged from the batch range join")
  }

  test("funnelStream (micro-batched) == brute-force min-chain == events_funnel counts") {
    val steps = Seq("view", "click", "purchase")
    val evs = eventsBatch.where(col("event_type").isin(steps: _*))
      .select(col("user_id"), unix_micros(col("event_time")).as("tus"),
        col("event_type"))
      .collect().map(r => Streams.FunnelIn(r.getLong(0), r.getLong(1),
        steps.indexOf(r.getString(2))))
      .sortBy(r => (r.ts, r.user, r.step))
    // brute-force expected per user: walk events in (ts, step) order
    val expected = evs.groupBy(_.user).map { case (u, rs) =>
      var done = 0
      var lastTs = Long.MinValue
      rs.sortBy(r => (r.ts, r.step)).foreach { r =>
        if (done < 3 && r.step == done && r.ts >= lastTs) { done += 1; lastTs = r.ts }
      }
      u -> done
    }
    // split by GLOBAL ts: per-user order preserved across micro-batches
    val (b1, b2) = evs.splitAt(evs.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.FunnelIn]
    val q = Streams.funnelStream(in.toDS(), 3).toDF()
      .writeStream.format("memory").queryName("eq_funnel")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // latest emission per user is the final state
    val got = spark.table("eq_funnel")
      .groupBy(col("user")).agg(max(struct(col("lastTs"), col("completed"))).as("w"))
      .select(col("user"), col("w.completed"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == expected.size)
    val diffs = expected.collect { case (u, d) if got(u) != d => (u, d, got(u)) }
    assert(diffs.isEmpty, s"${diffs.size} diverging users, e.g. ${diffs.take(3)}")
    // and the step counts tie back to the oracle-checked batch query
    val batchCounts = SparkEntry.queries("events_funnel")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val streamCounts = (0 until 3)
      .map(i => i.toLong -> expected.count(_._2 > i).toLong).toMap
    assert(streamCounts == batchCounts,
      s"stream-derived counts $streamCounts != batch funnel $batchCounts")
  }

  test("incrementalNearDupStream (micro-batched) == batch incremental near-dup") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val newBatch = docs.where(col("doc_id") % 10 === 0)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = graft.operators.Dedup
      .minHashNearDupsIncremental(newBatch, corpus, "doc_id", "text", 0.8)
      .select(col("id_new"), col("id_old"), round(col("jaccard"), 6).as("j"))

    val rows = newBatch.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // two micro-batches: stateless first-band-match dedup must hold
    // within AND across batches (each new doc appears once, so pair
    // uniqueness is per-row, not cross-batch state)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val streamDf = in.toDS().toDF("doc_id", "text")
    val out = Streams.incrementalNearDupStream(streamDf, corpus, "doc_id", "text", 0.8)
      .select(col("id_new"), col("id_old"), round(col("jaccard"), 6).as("j"))
    val q = out.writeStream.format("memory").queryName("eq_incdup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(rowSet(spark.table("eq_incdup")) == rowSet(batch),
      "streaming incremental near-dup diverged from the batch operator")
  }

  test("incrementalHashNearDupStream (micro-batched) == batch incremental hash near-dup") {
    import graft.operators.{Dedup, Multimodal}
    // real decode → dHash index once; the stream consumes (id, hash)
    // rows — the persisted-index shape production feeds it
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"))
    val hashed = Multimodal.imageDHash(
      Multimodal.syntheticNearDupImages(docs, "doc_id",
        Multimodal.nearDupKeysPlan(docs.count())),
      "doc_id", "img").cache()
    val newBatch = hashed.where(col("doc_id") % 10 === 0)
    val corpus = hashed.where(col("doc_id") % 10 =!= 0)
    val batch = Dedup.hashNearDupsIncremental(newBatch, corpus, "doc_id", "dhash", 3)

    val rows = newBatch.collect().map(r => (r.getLong(0), r.getLong(1)))
    // two micro-batches: first-band-match emission must be exactly-once
    // within and across batches (pair uniqueness is per-row, stateless)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val streamDf = in.toDS().toDF("doc_id", "dhash")
    val out = Streams.incrementalHashNearDupStream(streamDf, corpus, "doc_id", "dhash", 3)
    val q = out.writeStream.format("memory").queryName("eq_inchash")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(rowSet(spark.table("eq_inchash")) == rowSet(batch),
      "streaming incremental hash near-dup diverged from the batch operator")
    assert(spark.table("eq_inchash").count() ==
      spark.table("eq_inchash").distinct().count(),
      "first-band-match emission must be exactly-once (no duplicate pairs)")
    hashed.unpersist()
  }

  test("incrementalHashNearDupStream: a REPLAYED stream id re-emits its pairs (documented precondition)") {
    // the operator's unique-id precondition (Streams.scala) as a
    // CONTRACT, not a comment: statelessness means an id delivered in
    // two micro-batches (an at-least-once source re-delivering) emits
    // its corpus pairs once PER DELIVERY — exactly 2× the batch twin,
    // which distincts. This is the documented batch/stream divergence;
    // callers on at-least-once sources dedupe upstream.
    import graft.operators.{Dedup, Multimodal}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"))
    val hashed = Multimodal.imageDHash(
      Multimodal.syntheticNearDupImages(docs, "doc_id",
        Multimodal.nearDupKeysPlan(docs.count())),
      "doc_id", "img").cache()
    val corpus = hashed.where(col("doc_id") % 10 =!= 0)
    val newBatch = hashed.where(col("doc_id") % 10 === 0)
    val batch = Dedup.hashNearDupsIncremental(newBatch, corpus, "doc_id", "dhash", 3)
    val someId = batch.select(col("id_new")).orderBy(col("id_new")).limit(1)
      .collect().head.getLong(0)
    val batchPairs = batch.where(col("id_new") === someId).count()
    assert(batchPairs > 0, "need a new-batch id with at least one corpus pair")
    val row = hashed.where(col("doc_id") === someId).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val out = Streams.incrementalHashNearDupStream(
      in.toDS().toDF("doc_id", "dhash"), corpus, "doc_id", "dhash", 3)
    val q = out.writeStream.format("memory").queryName("eq_inchash_replay")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(row.toIndexedSeq)
      q.processAllAvailable()
      in.addData(row.toIndexedSeq) // the replay
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("eq_inchash_replay").count() == 2 * batchPairs,
      "a replayed id must emit its pair set once per delivery (2x batch)")
    hashed.unpersist()
  }

  test("incrementalClusterStream (micro-batched) == full batch recompute") {
    // the daily loop, streamed: labels + corpus index accumulate across
    // micro-batches; final labels must equal a ONE-SHOT full recompute
    // over everything seen — the same equivalence the batch twin's
    // oracle proves (dedup_clusters_incremental), extended inductively
    // across batches. Links between docs in DIFFERENT micro-batches are
    // the hard case (batch2 × batch1 rides the accumulated index).
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val streamRows = docs.where(col("doc_id") % 10 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val prev = Dedup.clusters(
      Dedup.minHashNearDups(corpus, "doc_id", "text", 0.8)
        .select(col("id_a"), col("id_b")), corpus, "doc_id")
    // plant exact copies of one corpus doc in BOTH micro-batches:
    // guarantees a corpus×batch1 link AND a batch2×batch1 link
    // (identical text ⇒ identical signature ⇒ certain band collision,
    // jaccard 1.0), so the hard paths provably fire regardless of the
    // organic near-dup structure at this sf
    val seedText = corpus.where(col("doc_id") === 1).select("text")
      .collect().head.getString(0)
    val (o1, o2) = streamRows.splitAt(streamRows.length / 2)
    val b1 = o1 :+ ((900001L, seedText))
    val b2 = o2 :+ ((900002L, seedText))
    val planted = Seq((900001L, seedText), (900002L, seedText))
      .toDF("doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val (st, writer) = Streams.incrementalClusterStream(
      in.toDS().toDF("doc_id", "text"), corpus, prev, "doc_id", "text", 0.8)
    val q = writer.start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val allDocs = docs.select(col("doc_id"), col("text")).unionByName(planted)
    val full = Dedup.clusters(
      Dedup.minHashNearDups(allDocs, "doc_id", "text", 0.8)
        .select(col("id_a"), col("id_b")), allDocs, "doc_id")
    assert(rowSet(st.labels) == rowSet(full),
      "streaming incremental clustering diverged from the full recompute")
    // non-vacuity: both planted copies landed in doc 1's family, whose
    // label is a corpus id — a merge that needed the accumulated index
    val byId = st.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(900001L) == byId(900002L) && byId(900002L) < 900001L,
      s"planted duplicates not merged into the corpus family: ${byId(900001L)}, ${byId(900002L)}")
  }

  test("Transformer map/filter over a file stream (AvailableNow) == batch") {
    val t = Transformer.identity
      .filter(col("event_type") === "purchase")
      .map(col("event_id"), col("user_id"), round(col("value") * 2, 2).as("v2"))
    val streamed = t.run(eventsStream.drop("event_time"), PipelineContext(spark))
    val replayed = replay(streamed, OutputMode.Append())
    val batch = t.run(spark.read.parquet(s"$sfDir/events.parquet"), PipelineContext(spark))
    assert(rowSet(replayed) == rowSet(batch),
      "streaming transformer output diverged from batch")
  }

  test("runningTotals final per-key state == batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(("a", 1.5), ("b", 2.0), ("a", 3.0), ("c", 4.25), ("b", 0.5), ("a", 1.0))
    val in = MemoryStream[(String, Double)]
    in.addData(data: _*)
    val out = Streams.runningTotals(in.toDS())
    val replayed = replay(out.toDF(), OutputMode.Update())
    // the last update per key carries the final running totals
    val finals = replayed.collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    val batch = data.toDF("k", "v").groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(finals == batch, s"streaming state $finals != batch $batch")
  }

  test("asofJoinStream (two in-order micro-batches) == batch Temporal.asofJoin") {
    implicit val sqlCtx = spark.sqlContext
    val e = eventsBatch
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("event_time")).as("tus"), col("value"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tus"), col("value"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_event_id"),
        col("tus").as("click_tus"))
    val batch = graft.operators.Temporal
      .asofJoin(purchases, clicks, "user_id", "tus", "click_tus", "click_event_id")
      .select(col("event_id"), col("click_event_id")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    val all = e.where(col("event_type").isin("purchase", "click")).select(
      col("user_id").as("key"), col("tus").as("ts"),
      when(col("event_type") === "click", 0).otherwise(1).as("side"),
      col("event_id").as("id"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[Streams.AsofIn].collect().sortBy(r => (r.ts, r.side, r.id))
    // split by GLOBAL event time: per-key event order is preserved
    // across micro-batches, the contract under which equivalence holds
    val (first, second) = all.splitAt(all.length / 2)

    val in = MemoryStream[Streams.AsofIn]
    val q = Streams.asofJoinStream(in.toDS()).toDF()
      .writeStream.format("memory").queryName("eq_asof")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(first.toIndexedSeq)
      q.processAllAvailable()
      in.addData(second.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("eq_asof")
      .select(col("id"), col("matchId")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(streamed.size == batch.size,
      s"row counts differ: streamed ${streamed.size} vs batch ${batch.size}")
    val diffs = batch.collect { case (id, m) if streamed.get(id) != Some(m) =>
      (id, m, streamed.get(id)) }
    assert(diffs.isEmpty, s"${diffs.size} diverging matches, e.g. ${diffs.take(3)}")
  }

  test("dailyAnomalyStream (AvailableNow) == batch dailyAnomaly flagged days") {
    import graft.operators.Temporal
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // batch gate, and the batch-side stats table the stream scores against
    val batch = Temporal.dailyAnomaly(raw, "ts", "event_type", 1.0)
      .select(col("event_type"), col("day"), col("n_events"), col("z"))
    val stats = Temporal.dailyStats(Temporal.dailyCounts(raw, "ts", "event_type"))
    val streamed = Streams.dailyAnomalyStream(
      eventsStream, stats, "event_time", "event_type", 1.0)
    val replayed = replay(streamed, OutputMode.Complete())
    assert(rowSet(replayed) == rowSet(batch),
      "streaming anomaly gate diverged from batch")
  }

  test("distinctSketchStream (AvailableNow) == batch distinctSketch") {
    val docsSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = graft.sources.Sources.streamParquet(spark, sfDir, docsSchema)
      .where(col("doc_id").isNotNull && col("text").isNotNull
        && col("source").isNotNull)
      .select(col("source"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .as[(String, String)]
    val out = Streams.distinctSketchStream(stream, 4096)
      .toDF("source", "v_filled", "n_est")
    // the bitmap only fills, so each group's final state is its max-v row
    val streamed = replay(out, OutputMode.Update())
      .groupBy(col("source"))
      .agg(max(struct(col("v_filled"), col("n_est"))).as("s"))
      .select(col("source"), col("s.v_filled"), col("s.n_est"))
    val batch = graft.operators.Corpus.distinctSketch(
      spark.read.parquet(s"$sfDir/documents.parquet"), "source", "text", 4096)
      .select(col("source"), col("v_filled"), col("n_est"))
    assert(rowSet(streamed) == rowSet(batch),
      "streaming sketch diverged from batch linear counting")
  }

  test("hllSketchStream (AvailableNow) == batch hllSketch estimates") {
    val docsSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = graft.sources.Sources.streamParquet(spark, sfDir, docsSchema)
      .where(col("doc_id").isNotNull && col("text").isNotNull
        && col("source").isNotNull)
      .select(col("source"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .as[(String, String)]
    val out = Streams.hllSketchStream(stream, 8).toDF("source", "seq", "n_est")
    // registers only grow; the max-seq row per group is the full-corpus state
    val streamed = replay(out, OutputMode.Update())
      .groupBy(col("source"))
      .agg(max(struct(col("seq"), col("n_est"))).as("s"))
      .select(col("source"), col("s.n_est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Corpus.hllSketch(
      spark.read.parquet(s"$sfDir/documents.parquet"), "source", "text", 8)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"streaming HLL diverged from batch: $streamed vs $batch")
  }

  test("incrementalCosineNearDupStream (AvailableNow) == batch banded incremental") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.where(col("vec_id") % 10 =!= 0)
    val nBits = graft.operators.Similarity.lshPlanBits(corpus.count(), 64)
    val embSchema = emb.schema
    val stream = graft.sources.Sources.streamParquet(spark, sfDir, embSchema)
      .where(col("vec_id").isNotNull && col("embedding").isNotNull
        && col("vec_id") % 10 === 0)
    val out = Streams.incrementalCosineNearDupStream(
      stream, corpus, "vec_id", "embedding", 0.3, nBits)
    val replayed = replay(out, OutputMode.Append())
    val batch = graft.operators.Similarity.nearDupCosineBandedIncremental(
      emb.where(col("vec_id") % 10 === 0), corpus, "vec_id", "embedding", 0.3,
      Memo.rows(corpus))
    assert(rowSet(replayed) == rowSet(batch),
      "streaming cosine links diverged from batch incremental")
  }

  test("freqSketchStream (AvailableNow) == batch CMS counter table") {
    val d = 4
    val w = 1024
    val docsSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = graft.sources.Sources.streamParquet(spark, sfDir, docsSchema)
      .where(col("doc_id").isNotNull && col("text").isNotNull)
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .as[String]
    val out = Streams.freqSketchStream(stream, d, w).toDF("i", "counters")
    // counters only grow; the final state per row i is its max-sum emission
    val streamed = replay(out, OutputMode.Update())
      .withColumn("tot", aggregate(col("counters"), lit(0L), _ + _))
      .groupBy(col("i"))
      .agg(max_by(col("counters"), col("tot")).as("counters"))
      .select(col("i"), posexplode(col("counters")).as(Seq("slot", "c")))
      .where(col("c") > 0)
      .select(col("i").cast("long"), col("slot").cast("long"), col("c"))
    // batch CMS counter table, built exactly as freqSketchEval's `cms`
    // stage (tokenHash64 -> per-row permutation -> mod-w slot)
    import graft.functions.VectorExprs
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(posexplode(VectorExprs.minhashSig(
        array(VectorExprs.tokenHash64(col("tok"))), d)).as(Seq("i", "perm")))
      .groupBy(col("i"), (col("perm") % w).as("slot"))
      .agg(count(lit(1)).as("c"))
      .select(col("i").cast("long"), col("slot"), col("c"))
    assert(rowSet(streamed) == rowSet(batch),
      "streaming CMS counters diverged from batch sketch")
  }

  test("quantileSketchStream (AvailableNow) == batch quantileSketch estimates") {
    val ordersSchema = spark.read.parquet(s"$sfDir/orders.parquet").schema
    val qs = Seq(0.5, 0.9, 0.99)
    val stream = graft.sources.Sources.streamParquet(spark, sfDir, ordersSchema)
      .where(col("o_orderkey").isNotNull && col("o_totalprice").isNotNull)
      .select(col("o_totalprice"))
      .as[Double]
    val out = Streams.quantileSketchStream(stream, 65536L, 1024, qs)
      .toDF("q", "rank", "est_upper")
    // ranks only grow with n; the final emission per q carries max rank
    val streamed = replay(out, OutputMode.Update())
      .groupBy(col("q"))
      .agg(max(struct(col("rank"), col("est_upper"))).as("s"))
      .select(col("q"), col("s.rank"), col("s.est_upper"))
    val batch = graft.operators.Corpus.quantileSketch(
      spark.read.parquet(s"$sfDir/orders.parquet"), "o_totalprice", 65536L, 1024, qs)
      .select(col("q"), col("rank"), col("est_upper"))
    assert(rowSet(streamed) == rowSet(batch),
      "streaming quantile sketch diverged from batch histogram estimates")
  }

  test("sessionizeStream (micro-batched) == batch events_sessionize") {
    val raw = eventsBatch
    val evs = raw.select(col("user_id"), col("event_id"),
        unix_micros(col("event_time")).as("tus"), col("value"))
      .collect()
      .map(r => Streams.SessIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(e => (e.ts, e.eventId))
    // split by GLOBAL ts: per-user order preserved across micro-batches
    val (b1, b2) = evs.splitAt(evs.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.SessIn]
    val q = Streams.sessionizeStream(in.toDS(), 1800000000L).toDF()
      .writeStream.format("memory").queryName("eq_sess")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("eq_sess")
      .groupBy(col("user"), col("sessionSeq"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user"), col("sessionSeq"), col("n_events"), col("session_value"))
    val batch = SparkEntry.queries("events_sessionize")(spark, sfDir)
    assert(rowSet(streamed) == rowSet(batch),
      "cross-micro-batch sessionization diverged from the batch lag rule")
  }

  test("dedupWindowStream (micro-batched) == batch events_dedup_window") {
    val raw = eventsBatch
    val evs = raw.select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("event_time")).as("tus"))
      .collect()
      .map(r => Streams.WDedupIn(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(e => (e.ts, e.eventId))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.WDedupIn]
    val q = Streams.dedupWindowStream(in.toDS(), 60000000L).toDF()
      .writeStream.format("memory").queryName("eq_wdedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("eq_wdedup")
      .groupBy(col("eventType"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
    val batch = SparkEntry.queries("events_dedup_window")(spark, sfDir)
    assert(rowSet(streamed) == rowSet(batch),
      "cross-micro-batch windowed dedup diverged from the batch lag rule")
  }
}
