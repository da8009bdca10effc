package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Physical-plan audits: the 100 TB design rules from SURVEY §4,
  * asserted against the actual executed plans at test scale. These
  * are the properties that decide whether a query survives a 1000×
  * scale-up, independent of wall-clock at sf0.001.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("GLOBAL SWEEP: every BroadcastNestedLoopJoin in every registered plan has a 1-row build side") {
    // the scalar-broadcast pattern crossJoin(broadcast(<global agg>))
    // is the ONLY sanctioned nested-loop shape (~200 BNLJ nodes across
    // PLANS.md are these 1-row builds); this sweep fails loudly if a
    // future change regresses a real join to a nested loop over a
    // multi-row side
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def descend(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.inputPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def bnljs(p: SparkPlan): Seq[BroadcastNestedLoopJoinExec] = {
      val here = p match {
        case b: BroadcastNestedLoopJoinExec => Seq(b)
        case _ => Seq.empty
      }
      here ++ descend(p).flatMap(bnljs) ++
        p.subqueries.flatMap(sp => bnljs(sp))
    }
    // a build side is provably ≤1 row when, descending through
    // exchanges/projections, it bottoms out in a grouping-key-free
    // aggregate, a ≤1-row local relation, or a reuse of an exchange
    // (whose original is audited where it appears)
    def oneRow(p: SparkPlan): Boolean = p match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty
      // driver-literal VALUES data (TPC-H constant in-lists written as
      // literal tables) — scale-independent by construction, any size
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => true
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => oneRow(q.plan)
      // a Generate multiplies rows, but exploding a FOLDABLE (literal)
      // array over a ≤1-row child is bounded by the literal's length —
      // scale-independent by construction (e.g. posexplode([0.5,0.9,0.99]))
      case g: org.apache.spark.sql.execution.GenerateExec =>
        g.generator.children.forall(_.foldable) && oneRow(g.children.head)
      // descend ONLY through unary nodes that preserve (or reduce) row
      // count; other Generate/Expand shapes can multiply a 1-row child
      case _: org.apache.spark.sql.execution.ProjectExec
         | _: org.apache.spark.sql.execution.FilterExec
         | _: org.apache.spark.sql.execution.SortExec
         | _: org.apache.spark.sql.execution.WholeStageCodegenExec
         | _: org.apache.spark.sql.execution.InputAdapter
         | _: org.apache.spark.sql.execution.CoalesceExec
         | _: org.apache.spark.sql.execution.exchange.Exchange
         | _: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
        oneRow(p.children.head)
      case _ => false
    }
    // sanctioned BOUNDED-multi-row broadcast builds (each documented at
    // its operator): the broadcast-query brute-force pattern (queries ≪
    // corpus by contract — annTopKBruteForce), and domain-bounded
    // aggregate tables (per-source HLL registers, fixed histogram
    // buckets). Everything else must prove ≤1 row structurally.
    val boundedBuildAllowlist = Set(
      "ann_topk",             // broadcast query set, ≤10 by registration
      "contrastive_triplets", // anchors broadcast via annTopKBruteForce
      "quantile_gate_sketch", // fixed-bucket histogram broadcast
      "source_overlap_hll")   // per-source register tables, #sources-bounded
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    (SparkEntry.queries.keys.toSet -- boundedBuildAllowlist).toSeq.sorted.foreach { name =>
      val exec = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
      bnljs(exec).foreach { b =>
        val build = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
        }
        if (!oneRow(build))
          offenders += s"$name: ${b.simpleStringWithNodeId()} build=${build.nodeName}"
      }
      graft.operators.Caching.release()
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"BNLJ with a non-1-row build side:\n${offenders.mkString("\n")}")
  }

  test("filter_rows: predicates reach the parquet scan (PushedFilters)") {
    val p = plan("filter_rows")
    assert(p.contains("PushedFilters: ["), s"no pushdown:\n$p")
    assert(p.contains("GreaterThan(l_quantity,30.0)") || p.contains("l_quantity"),
      s"quantity filter not pushed:\n$p")
  }

  test("map_project: scan reads only referenced columns (ReadSchema pruning)") {
    val p = plan("map_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"),
      s"unpruned scan: $readSchema")
    assert(readSchema.contains("l_extendedprice"), s"missing col: $readSchema")
  }

  test("join_broadcast: dims broadcast, no shuffle of the fact side") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
  }

  test("entry: all dim joins broadcast") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"no broadcast joins in entry:\n$p")
    assert(!p.contains("CartesianProduct"), "cartesian in entry plan")
  }

  test("whole-stage codegen covers the row-level operators") {
    // "*(n)" node prefix marks membership in a WholeStageCodegen stage
    val p = plan("map_project")
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
  }

  test("curation_e2e: ONE corpus scan feeds the gate; dedup stages read the cache") {
    // the gate output is persisted, so every downstream stage (exact
    // dedup, minhash, perplexity, buckets, split) must read the cached
    // slim projection, never re-scan the parquet corpus. The OPTIMIZED
    // logical plan substitutes InMemoryRelation (a leaf) for cached
    // subtrees, so any LogicalRelation still visible is a real
    // (uncached) scan the execution would re-run.
    val qe = SparkEntry.queries("curation_e2e")(spark, sfDir).queryExecution
    val rawScans = qe.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
        if l.toString.contains("documents") => l
    }
    assert(rawScans.length <= 1, s"corpus scanned ${rawScans.length} times uncached")
    val cached = qe.optimizedPlan.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryRelation => i
    }
    assert(cached.nonEmpty, "no cache reuse in the chain")
    assert(!qe.executedPlan.toString.contains("CartesianProduct"),
      "cartesian in curation_e2e plan")
  }

  test("dedup: minhash and simhash plans contain no cartesian/nested-loop join") {
    for (q <- Seq("dedup_minhash", "dedup_simhash", "ngram_jaccard")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: nested loop:\n$p")
    }
  }

  test("dedup shuffle keys are fixed-width hashes, not raw text") {
    // exact dedup groups by the 64-bit content hash; the exchange must
    // not carry the text column
    val p = Dedup.exact(spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    // the grouping key is the xxhash64 (a bare long: #NNNL), never the text column
    assert(exchangeLines.contains("hashpartitioning"), s"no hash partitioning:\n$exchangeLines")
    assert(!exchangeLines.contains("text#"), s"raw text shuffled:\n$exchangeLines")
  }

  test("banded cosine near-dup: (tbl, bucket) equi-join, no nested-loop/cartesian") {
    // the graded self-scaling path AND the minhash-fed multisignal
    // variant: candidate generation must be a hash/sort-merge join on
    // the per-table bucket key — all-pairs is never materialized
    for (q <- Seq("neardup_cosine_bucketed", "dedup_multisignal_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: nested loop:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q: no equi-join on bucket:\n$p")
    }
  }

  test("AQE skew-join handling is on by configuration (SURVEY §4.2)") {
    // the graded sessions (Verify/Bench/tests) set these EXPLICITLY —
    // a Spark default flip must fail here, not silently change the
    // runtime skew story. Salted-join operators (skew_salted_join,
    // skew_two_phase) remain the deterministic fallback for
    // aggregation skew, which AQE's join splitting does not cover.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("ann_ivf: cell assignment is a scan-stage argmax — no window over n×k rows") {
    // the only Window in the plan is the final per-query top-k rank;
    // assignment and probing must not sort corpus×cells rows
    val p = plan("ann_ivf")
    // count Window exec nodes ("Window ["), not WindowGroupLimit — the
    // rank-5 limit pushdown (partial+final) is exactly the plan we want
    val windows = "Window \\[".r.findAllIn(p).size
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(windows <= 1, s"assignment windows leaked back in ($windows Window nodes):\n$p")
  }

  test("ann_topk: query side broadcast, corpus never shuffled before scoring") {
    val p = plan("ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"queries not broadcast:\n$p")
  }

  test("first_n compiles to a TakeOrderedAndProject / limit, not global sort") {
    val p = plan("first_n")
    assert(p.contains("TakeOrderedAndProject") || p.contains("Limit"),
      s"no pushed limit:\n$p")
  }

  test("corpus_top_terms: partial count + TakeOrderedAndProject, no global sort") {
    val p = plan("corpus_top_terms")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k heap:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side count:\n$p")
  }

  test("embedding prep kernels stay in the scan stage: zero shuffles") {
    Seq("embed_normalize", "embed_quantize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("quantile_gate / source_cap broadcast their tiny threshold sides") {
    Seq("quantile_gate", "source_cap").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$q threshold side not broadcast:\n$p")
    }
  }

  test("aggregations use partial (map-side) aggregation") {
    val p = plan("reduce_per_key")
    // two HashAggregate levels: partial_<agg> then final
    assert(p.contains("partial_sum") || p.contains("partial"), s"no partial agg:\n$p")
  }

  test("operator plan-build triggers no Spark jobs (SURVEY §4 rule 1)") {
    // tokenCooccurrence used to .head() the corpus count at build time;
    // the count must stay in the plan (broadcast cross-join)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    // resolve the source first: parquet schema/footer reads may run a
    // job of their own and are not what this test pins
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.schema
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.operators.TextAnalysis.tokenCooccurrence(docs, "doc_id", "text", 5L)
      df.queryExecution.executedPlan // force full planning, no action
      Thread.sleep(500)              // let async listener events drain
      assert(jobs.get() == 0, s"plan build ran ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("cosine family with supplied stats: zero jobs at plan build") {
    // the banded operators price LSH bits from a caller-supplied row
    // count (catalog statistics, a manifest, Memo.rows) — plan
    // construction must run NO Spark job
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.schema // parquet footer read outside the measured region
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.nearDupCosineBanded(
        emb, "vec_id", "embedding", 0.4, nRows = 2000L)
        .queryExecution.executedPlan
      Similarity.nearDupCosineBandedIncremental(
        emb.where(col("vec_id") % 10 === 0), emb.where(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", 0.4, corpusRows = 1800L)
        .queryExecution.executedPlan
      Thread.sleep(500) // let async listener events drain
      assert(jobs.get() == 0,
        s"stats-supplied banded plan build ran ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a second build of the kNN and SemDeDup queries runs no job") {
    // the first build counts the corpus (and query side) once per
    // session and trains the tree; a rebuild reuses both from the memo
    val names = Seq("knn_recall_eval", "knn_recall_curve", "knn_join_ivf",
      "ann_ivf_incremental", "ann_ivf_drift", "semdedup_prune",
      "semdedup_rate_curve", "semdedup_fidelity_eval")
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      names.foreach(n => SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan)
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
      assert(jobs.get() == 0, s"a second build ran ${jobs.get()} Spark job(s)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.operators.Caching.release()
    }
  }

  test("Plans.formatted prints one text for two builds of one plan") {
    val session = spark
    import session.implicits._
    // a checkpointed RDD (its id and call site) and a typed map (its
    // lambda's address), under expression ids that differ per build
    def q() = {
      val cp = spark.range(8).localCheckpoint()
      cp.as[Long].map(_ * 2).toDF("id").join(cp, "id")
    }
    val (a, b) = (Plans.formatted(q()), Plans.formatted(q()))
    assert(a == b, s"two builds print differently:\n$a\n----\n$b")
    assert("""Lambda\$\d|RDD\[\d|\.scala:\d""".r.findFirstIn(a).isEmpty, a)
    assert(a.contains("#0") && a.contains("$Lambda") && a.contains("RDD[_]"), a)
  }

  /** Logical-plan collector for windows with an EMPTY partition spec —
    * the single-partition-sort hazard class. Works on the analyzed
    * plan so AQE wrapping is irrelevant.
    */
  private def globalWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.size

  test("GLOBAL SWEEP: empty-partition windows only over provably bounded inputs") {
    // A Window with no PARTITION BY executes on ONE partition — fine
    // over a k-row seed, fatal over a corpus. Whitelist of queries
    // whose global windows are bounded by construction; any NEW query
    // that sneaks in an unbounded global sort fails this sweep.
    val bounded = Map(
      // histogram-quantile walks: cumulative sum over nBins fixed bins
      "quantile_sketch" -> "nBins-bounded histogram rows",
      "quantile_gate_sketch" -> "nBins-bounded histogram rows",
      // anchor index: row_number over the anchor table, which is
      // ≪ corpus by the operator's contract (sampled anchors)
      "contrastive_triplets" -> "nAnchors-bounded anchor table",
      // TPC-H partsupp derivation: row_number over SUPPLIER, the
      // constant-cardinality broadcast-side dim (TPC-H semantics) —
      // the fact tables never enter the window
      "sql_tpch_q2" -> "supplier-dim-bounded sup index",
      "sql_tpch_q11" -> "supplier-dim-bounded sup index",
      "sql_tpch_q16" -> "supplier-dim-bounded sup index",
      "sql_tpch_q20" -> "supplier-dim-bounded sup index"
    )
    val actual = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        if (globalWindows(SparkEntry.queries(name)(spark, sfDir)) > 0) Some(name) else None
      } catch { case e: Throwable => Some(s"$name (plan build failed: ${e.getMessage})") }
    }.toSet
    // exact equality: an unwhitelisted global window fails (the scale
    // hazard), and a stale whitelist row fails too (keeps the list honest)
    assert(actual == bounded.keySet,
      s"empty-partition window set drifted: unexpected=${actual -- bounded.keySet}, " +
        s"stale whitelist=${bounded.keySet -- actual}")
    // the collector itself must catch a real unbounded global window,
    // or the sweep is vacuously green
    val scratch = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("l_orderkey"))))
    assert(globalWindows(scratch) == 1, "collector failed to flag an unbounded global window")
  }

  test("full-PSL suffix probes stay codegen'd InSet hash lookups at 8k entries") {
    import org.apache.spark.sql.catalyst.expressions.InSet
    // the r15 claim "swapping in the complete list is a data refresh"
    // holds only if the FULL list still plans as scan-stage hash
    // probes: Catalyst must convert every suffix-tier In to InSet
    // (O(1) per row), and no tier may materialize as a join
    val df = SparkEntry.queries("url_canonicalize")(spark, sfDir)
    val insets = df.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case i: InSet => i })
    assert(insets.nonEmpty, "no InSet in the optimized plan")
    // the 5473-entry exact2 tier is the big one — it must be an InSet,
    // not an expanded In chain
    assert(insets.map(_.hset.size).max == graft.operators.Psl.suffix2.size,
      s"largest InSet ${insets.map(_.hset.size).max} != exact2 size " +
        s"${graft.operators.Psl.suffix2.size}")
    // the probe ships IN the plan: no join, no shuffle of a suffix table
    val phys = df.queryExecution.executedPlan
    assert(phys.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "suffix lookup must not materialize as a join")
  }

  test("AQE skew-join split ENGAGES on the hub-skewed join (not just configured)") {
    // join_skew_hub puts ~20% of lineitem on one key. Production
    // defaults only call a partition skewed past 256MB — right for a
    // cluster, unreachable at test scale — so scale the thresholds to
    // the data (the MECHANISM under test is identical) and force the
    // sort-merge path the way a >broadcast-threshold dim would at
    // 100 TB. The final adaptive plan must carry the skew=true SMJ.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption.flatMap(Option(_))).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // with P partitions the hub partition holds ~(0.8/P + 0.2) of the
      // rows vs a 0.8/P median — at P=16 that is a 5× bulge, the same
      // relative shape a 1000-partition production shuffle would show
      conf.set("spark.sql.shuffle.partitions", "16")
      // pin the JOIN subplan (the skewed stage): a downstream
      // re-aggregation can veto the split via the no-extra-shuffle
      // cost check, which is an AQE scheduling choice, not the
      // mechanism under test
      val dir = "/root/testdata/sf0.01"
      // AQE splits a skewed reduce partition along MAPPER boundaries —
      // a single-file local scan has ONE map task and is unsplittable
      // by construction (at 100 TB there are ~10⁵ mappers). Repartition
      // the inputs so the shuffle has many mappers, as production would.
      val li = spark.read.parquet(s"$dir/lineitem.parquet").repartition(16)
        .withColumn("hub_key",
          when(col("l_orderkey") % 5 === 0, lit(1L)).otherwise(col("l_orderkey")))
      val df = li.join(spark.read.parquet(s"$dir/orders.parquet").repartition(16),
        col("hub_key") === col("o_orderkey"))
      // skew decisions happen at RUNTIME, and on THIS QueryExecution —
      // df.count() would plan (and finalize) a different one
      val qe = df.queryExecution
      qe.toRdd.count()
      val p = qe.executedPlan.toString
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the hub partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("saltedJoin equals the plain join on the hub-skewed data (deterministic fallback)") {
    // same hub data as join_skew_hub: the salted operator must produce
    // the identical aggregate the AQE path produces
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").withColumn("hub_key",
      when(col("l_orderkey") % 5 === 0, lit(1L)).otherwise(col("l_orderkey")))
    val dim = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("hub_key"), col("o_orderstatus"))
    def agg(j: org.apache.spark.sql.DataFrame) =
      j.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = agg(graft.operators.Skew.saltedJoin(li, dim, "hub_key", saltFactor = 8))
    val plain = agg(li.join(dim, Seq("hub_key")))
    assert(salted == plain, s"salted=$salted plain=$plain")
  }

  test("shuffle-count regression pins: headline queries stay within budget") {
    // number of shuffle exchanges is the scale-defining property of a
    // plan; a change that adds one should fail loudly here
    val budgets = Map(
      "map_project" -> 0, "filter_rows" -> 0, "flatten_explode" -> 0,
      "reduce_global" -> 1, "reduce_per_key" -> 1,
      "join_broadcast" -> 1,        // final agg only; dim joins broadcast
      "first_n" -> 1, "dedup_exact" -> 1,
      "string_shape" -> 0, "text_langid" -> 0, "text_fingerprint" -> 0,
      // round-3 additions
      "embed_normalize" -> 0, "embed_quantize" -> 0,   // scan-stage kernels
      "embed_norm_stats" -> 1, "embed_centroids" -> 1, // one keyed agg each
      "asof_join" -> 1,          // ONE union shuffle feeds the window walk
      "window_time_range" -> 1,  // one hash shuffle for the RANGE frame
      "corpus_top_terms" -> 1,   // term agg; top-k is a heap, not a sort
      "repetition_stats" -> 0,   // native per-doc kernel; round-robin
                                 // rebalance only (not hash/range)
      "window_ntile" -> 1, "cube_agg" -> 1,
      "pivot_status" -> 2,       // two-phase pivot: pre-agg then spread

      "decontaminate" -> 2,      // hit agg + left join back; bench broadcast
      "chunk_sliding" -> 0,      // row-local explode+slice, no shuffle
      "quantile_gate" -> 0,      // threshold agg is SinglePartition+broadcast;
                                 // the corpus itself is never hash-shuffled
      "source_cap" -> 2,         // per-source counts + final per-source agg;
                                 // rate table broadcasts into the filter
      "pii_redact" -> 0,         // row-local regex chain, no shuffle
      "dedup_incremental" -> 3,  // batch hash agg + index distinct + anti
                                 // join, all keyed on the 8-byte hash
      "split_assign" -> 1,       // row-local assignment; one count agg
      "shuffle_shards" -> 1,     // one hash exchange feeds the per-shard
                                 // windows — never a global ORDER BY
      // round-4 additions
      "source_mixture_weights" -> 2, // source counts + the tiny ordered
                                     // fold; rate table broadcasts back
      "events_retention" -> 2,   // one user-keyed day-set agg + the
                                 // cohort-cell agg; no log self-join
      "window_cume" -> 1,        // one hash shuffle for the user window
      "boilerplate_score" -> 3)  // df agg + per-doc hit agg + final
                                 // join; frequent set broadcasts
    budgets2Check(budgets)
  }

  test("round-5c pins: LM scoring, gate report, covariance within shuffle budget") {
    // quality_buckets self-joins its persisted scoring table; a stale
    // cache registration from an earlier suite's instance of the same
    // query makes the cutoff branch miss cache substitution after
    // attribute dedup, printing a second scoring subtree. Pin against
    // the fresh-session plan, which is what the driver executes.
    spark.catalog.clearCache()
    budgets2Check(Map(
      "corpus_gate" -> 0,       // one scan, sum-of-CASEs to a single row
      "doc_perplexity" -> 3,    // bigram counts + prefix re-agg + doc agg;
                                // LM probe side broadcasts
      "quality_buckets" -> 4,   // perplexity's 3 + per-lang cutoff agg;
                                // cutoffs broadcast back
      "embed_covariance" -> 3)) // moment agg + the two d-row mean aggs;
                                // centering joins broadcast
  }

  test("round-6 pins: sketch gate and banded near-dup shuffle budgets") {
    spark.catalog.clearCache()
    budgets2Check(Map(
      "quantile_gate_sketch" -> 1, // histogram agg only; cum walk runs on
                                   // the nBins-bounded single partition,
                                   // threshold row broadcasts back
      "neardup_cosine_bucketed" -> 5, // band explode self-join + pair
                                   // dedup + two id joins against the
                                   // persisted vector table
      "decontaminate_semantic" -> 0, // corpus NEVER shuffled: bench
                                   // packs to one broadcast row, max
                                   // cosine is scan-stage row-local
      "dsir_weights" -> 5,         // vocab²-bounded LM aggs + the
                                   // (w1,w2) scoring join + doc agg
      "substring_dup_stats" -> 6)) // window-hash count + semi join +
                                   // per-doc position collect + totals
  }

  test("group_sample_topk: rank is range-partitioned, no per-stratum window sort") {
    // the r10-flagged straggler: a plain Window.partitionBy(lang)
    // serializes a dominant stratum into one sort task at 100×. The
    // skew-safe rank must range-partition by the FULL sort key; the
    // only hash exchange allowed on the corpus path is none at all —
    // hashpartitioning may appear solely for the tiny offsets table
    // (bounded by #strata + #partitions rows).
    val p = plan("group_sample_topk")
    assert(p.contains("rangepartitioning"),
      s"rank not range-partitioned (straggler shape back?):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"offsets table not broadcast back:\n$p")
  }

  test("knn_join_ivf: candidate join is an unhinted EQUI join on cell_id — never nested-loop") {
    // the both-sides-distributed retrieval path: corpus assignment
    // walks the bisecting tree via broadcast EQUI-joins on `node`
    // (≤2^{level+1} child centroids per level — never a flat k-cell
    // cross join), the query beam is one row-local tree_descend over
    // the tree's broadcast flat centroids, and the candidate meet on
    // cell_id must plan as a hash/sort-merge equi-join Catalyst/AQE is
    // free to re-plan; no nested-loop join anywhere
    val p = plan("knn_join_ivf")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell_id""".r
      .findFirstIn(p).isDefined, s"no equi-join on cell_id:\n$p")
    // a nested loop may only be a 1-row BuildRight broadcast (the
    // allowed crossJoin(broadcast(1-row agg)) shape); the query side
    // joins nothing per level, so none is expected here
    val bnlj = """BroadcastNestedLoopJoin[^\n]*""".r.findAllIn(p).toSeq
    assert(bnlj.forall(_.contains("BuildRight")),
      s"nested loop beyond 1-row broadcasts:\n$p")
    // every window partitions by query_id: millions of small
    // partitions, never a global (unpartitioned) sort task. The beam
    // ranks inside tree_descend, per query row, so the plan's one
    // window is the candidate rank (pinned below with the ladder)
    val q = SparkEntry.queries("knn_join_ivf")(spark, sfDir)
    val windows = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "per-query rank window missing")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "unpartitioned window in the retrieval path")
  }

  /** The tree-descent shape of a kNN plan: (window count, LogicalRDD
    * leaves other than the tree's row table, tree_descend generators).
    * A per-level descent shows up as extra windows or as a checkpointed
    * beam / kid-table leaf, since each level's beam is cut to a
    * LogicalRDD.
    */
  private def descentShape(name: String): (Int, Seq[String], Int) = {
    val opt = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    val leaves = opt.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if !l.output.exists(_.name == "vid") => l.output.map(_.name).mkString(",")
    }
    val descents = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generator.exists(_.isInstanceOf[graft.functions.TreeDescend]) => g
    }.size
    (windows, leaves, descents)
  }

  test("knn_recall_curve / knn_join_ivf: one compiled descent, one window, no kid-table join") {
    val offenders = Seq("knn_recall_curve", "knn_join_ivf").flatMap { name =>
      val (windows, leaves, descents) = descentShape(name)
      Seq(
        (windows != 1) -> s"$name: $windows Window nodes, want only the candidate rank",
        leaves.nonEmpty ->
          s"$name: per-level kid-table or beam leaves: ${leaves.mkString("; ")}",
        (descents != 1) -> s"$name: $descents tree_descend generators, want 1")
        .collect { case (true, msg) => msg }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("curve operators emit their ladder rows from one aggregate row: no Union") {
    val offenders =
      Seq("knn_recall_curve", "semdedup_rate_curve", "neardup_cosine_rate_curve").flatMap { name =>
        val unions = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
          .collect { case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
        graft.operators.Caching.release()
        if (unions.isEmpty) None else Some(s"$name: ${unions.size} Union nodes")
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("semdedup_prune: broadcast assignment, equi dominance join, windowless") {
    val p = plan("semdedup_prune")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // dominance pairs meet on cell_id as an equi-join
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell_id""".r
      .findFirstIn(p).isDefined, s"no equi-join on cell_id:\n$p")
    val bnlj = """BroadcastNestedLoopJoin[^\n]*""".r.findAllIn(p).toSeq
    assert(bnlj.forall(l => l.contains("BuildRight") && l.contains("Cross")),
      s"nested loop beyond the packed-centroid broadcasts:\n$p")
    // the paper's keep rule needs NO window at all in the dominance form
    val q = SparkEntry.queries("semdedup_prune")(spark, sfDir)
    val windows = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"semdedup must be windowless, got ${windows.size}")
  }

  test("round-4 joins: boilerplate broadcast probe, q7/q10 shapes") {
    val bp = plan("boilerplate_score")
    assert(bp.contains("BroadcastHashJoin"), s"frequent-set probe not broadcast:\n$bp")
    assert(!bp.contains("CartesianProduct") && !bp.contains("BroadcastNestedLoopJoin"),
      s"boilerplate_score: non-equi join:\n$bp")
    val q7 = plan("sql_tpch_q7")
    assert(q7.contains("BroadcastHashJoin"), s"nation joins not broadcast:\n$q7")
    assert(!q7.contains("CartesianProduct"), s"q7 cartesian:\n$q7")
    val q10 = plan("sql_tpch_q10")
    assert(q10.contains("TakeOrderedAndProject"), s"q10 top-20 is a global sort:\n$q10")
    val ret = plan("events_retention")
    assert(!ret.contains("CartesianProduct") && !ret.contains("BroadcastNestedLoopJoin"),
      s"retention self-join shape:\n$ret")
  }

  test("round-5 TPC-H shapes: semi/anti joins planned as hash joins, no cartesian") {
    // q4 EXISTS → left semi; q21 EXISTS + NOT EXISTS over one derived
    // table → semi + anti; q16 NOT IN → null-aware anti; q19's
    // disjunctive predicate must still plan ONE equi hash join
    for (q <- Seq("sql_tpch_q2", "sql_tpch_q4", "sql_tpch_q16",
        "sql_tpch_q19", "sql_tpch_q20", "sql_tpch_q21")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian:\n$p")
    }
    val q4 = plan("sql_tpch_q4")
    assert(q4.contains("LeftSemi"), s"q4 EXISTS not a semi join:\n$q4")
    val q21 = plan("sql_tpch_q21")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"),
      s"q21 missing semi+anti pair:\n$q21")
    val q19 = plan("sql_tpch_q19")
    assert(q19.contains("BroadcastHashJoin") || q19.contains("SortMergeJoin") ||
      q19.contains("ShuffledHashJoin"), s"q19 disjunction broke the equi-join:\n$q19")
    assert(!q19.contains("BroadcastNestedLoopJoin"), s"q19 nested loop:\n$q19")
  }

  test("budget_select: offsets broadcast; doc window keyed by (source, length), not source") {
    val p = plan("budget_select")
    assert(p.contains("BroadcastHashJoin"), s"offset table not broadcast:\n$p")
    // the corpus-side window must partition on BOTH source and n_tokens —
    // a source-only partitioning is the one-reducer-per-source hazard
    val windowLines = p.linesIterator.filter(_.contains("Window [")).mkString("\n")
    assert(windowLines.contains("n_tokens"),
      s"doc running sum not keyed by length group:\n$windowLines")
  }

  test("neardup_incremental: band equi-join, no cartesian, text never shuffled") {
    val p = plan("neardup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental near-dup non-equi join:\n$p")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"), s"raw text shuffled:\n$exchangeLines")
  }

  test("lsh_multi and recall eval: no unbounded cartesian, eval brute force sample-bounded") {
    val m = plan("neardup_cosine_lsh_multi")
    assert(!m.contains("CartesianProduct") && !m.contains("BroadcastNestedLoopJoin"),
      s"multi-table LSH non-equi join:\n$m")
    // the eval harness MAY nested-loop, but only over the sampled side:
    // every scan feeding it must carry the id-sample filter
    val e = plan("lsh_recall_eval")
    if (e.contains("BroadcastNestedLoopJoin")) {
      assert(e.contains("pmod") || e.contains("% 2"),
        s"brute-force side not visibly sample-bounded:\n$e")
    }
  }

  test("ann_ivf_pq: scan-stage assignment, partial-sum coarse score, windows only rank") {
    val p = plan("ann_ivf_pq")
    // the only windows allowed are the per-query shortlist + final rank
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows <= 2, s"$windows windows — assignment/probing must stay windowless:\n$p")
    assert(p.contains("partial_sum"),
      s"PQ coarse score not partial-aggregated map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("embed_pq_encode: broadcast codebook, min-agg assignment, no window") {
    val p = plan("embed_pq_encode")
    assert(p.contains("BroadcastHashJoin"), s"codebook not broadcast:\n$p")
    assert(!p.contains("Window ["), s"PQ assignment sorts a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("partial_min"),
      s"code argmin not partial-aggregated map-side:\n$p")
  }

  test("shingle_novelty: hash-keyed shuffles only, text never on the wire") {
    val p = plan("shingle_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"novelty non-equi join:\n$p")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"), s"raw text shuffled:\n$exchangeLines")
  }

  test("GLOBAL SWEEP: no unbounded cartesian product in any registered query") {
    // CartesianProduct = both sides unbroadcast — never acceptable.
    // (BroadcastNestedLoopJoin can be fine when the broadcast side is
    // bounded — those cases are pinned individually above.)
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val p = plan(name)
        if (p.contains("CartesianProduct")) Some(name -> "CartesianProduct") else None
      } catch { case e: Throwable => Some(name -> s"plan build failed: ${e.getMessage}") }
    }
    assert(failures.isEmpty, s"plan sweep failures: $failures")
  }

  private def budgets2Check(budgets: Map[String, Int]): Unit =
    budgets.foreach { case (name, budget) =>
      val p = plan(name)
      // dedupe by plan_id: a persisted subtree's plan prints once per
      // occurrence but its exchanges execute once
      val n = "Exchange (hash|range)partitioning[^\\n]*plan_id=(\\d+)".r
        .findAllMatchIn(p).map(_.group(2)).toSet.size
      assert(n <= budget, s"$name: $n shuffles (budget $budget):\n$p")
    }
}
