package graft

import java.nio.file.Files

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.sinks.Sinks

class BucketObserveSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with zero exchanges (co-located join)") {
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Sinks.parquetBucketed(a, "bucket_a", "k", 4)
    Sinks.parquetBucketed(b, "bucket_b", "k", 4)
    // force the shuffle-family join path (tiny test tables would
    // otherwise auto-broadcast and bypass bucketing entirely)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucket_a").join(spark.table("bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected shuffle-family join over buckets:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LSH channels publish exact candidate counts via observe()") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val buf = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.contains('#')) row.get(0) match {
            case l: java.lang.Long =>
              buf.merge(name.takeWhile(_ != '#'), l,
                (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
            case _ => ()
          }
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    sys.props("graft.observe") = "1" // counts are opt-in (see LshObserve)
    try {
      val out = graft.operators.Similarity
        .nearDupCosineBanded(emb, "vec_id", "embedding", 0.4, Memo.rows(emb)).count()
      org.apache.spark.GraftListenerBridge
        .waitListenerBusEmpty(spark.sparkContext, 10000)
      val cand = Option(buf.get("cand_pairs_banded")).map(_.longValue)
      val verify = Option(buf.get("verify_pairs_banded")).map(_.longValue)
      assert(cand.isDefined && verify.isDefined,
        s"LSH candidate metrics missing: ${buf.keySet()}")
      // pre-distinct collisions >= unique verified pairs >= emitted dups
      assert(cand.get >= verify.get && verify.get >= out,
        s"count ordering violated: cand=$cand verify=$verify out=$out")
    } finally {
      sys.props.remove("graft.observe")
      spark.listenerManager.unregister(listener)
    }
  }

  test("observe counts default OFF: no CollectMetrics in the graded plan") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = graft.operators.Similarity
      .nearDupCosineBanded(emb, "vec_id", "embedding", 0.4, Memo.rows(emb))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CollectMetrics"),
      s"candidate counting must be opt-in (codegen-span cost):\n$plan")
  }

  test("tapInto delivers observed metrics after the action (laygo tap→context)") {
    val obs = new Observation("tap")
    val (rows, _) = Pipeline(Seq(1, 2, 3, 4, 5).toDF("x"))
      .transform(_.tapInto(obs, count(lit(1)).as("n"), sum(col("x")).as("s"))
        .filter(col("x") > 3))
      .toList()
    assert(rows.size == 2)
    val m = obs.get
    // metrics observed BEFORE the filter: full stream
    assert(m("n") == 5L && m("s") == 15L)
  }
}
