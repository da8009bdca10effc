package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** Scale-up data generator for the scaling sweep (VERDICT r6 item 1).
  *
  * Produces an sf-N× replica of a driver-generated sf directory by
  * unioning `copies` key-shifted copies of each table. The point is a
  * MEASURED second datapoint for per-query scaling exponents, so the
  * data is constructed to be linear-by-design in the dedup/similarity
  * space — any super-linear bench time is then attributable to the
  * PLAN, not to artificial cross-copy duplicate cliques:
  *
  *  - every key domain is offset by `copy * 10_000_000` consistently
  *    across tables (orderkey in orders+lineitem, custkey in
  *    customer+orders, …) so referential integrity holds per copy and
  *    joins never match across copies;
  *  - `documents.text` for copy>0 maps each word w → "w~c" — a
  *    bijective word renaming, so shingle/minhash/Jaccard structure
  *    WITHIN a copy is preserved exactly while cross-copy shingle
  *    overlap is zero (near-dup pair count scales exactly ×copies);
  *  - `embeddings.embedding` for copy c is cyclically shifted by
  *    (5·c mod 64) dimensions — inner products within a copy are
  *    bit-identical (rotation is orthogonal), cross-copy cosines
  *    decorrelate, so banded-LSH candidate counts scale linearly and
  *    the bits-from-n rule is exercised at its next tier;
  *  - `events` keeps the original time range at ×copies density:
  *    windowed/streaming aggregates see the same window count with
  *    proportionally more rows per window (the realistic scale-up);
  *  - region/nation stay fixed (TPC-H semantics: dims of constant
  *    cardinality — exactly the broadcast-side assumption at 100 TB).
  *
  * Copy 0 is byte-identical to the source rows, so sf1 ⊇ sf0.1.
  */
object DataGen {
  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, copiesStr) = args
    val copies = copiesStr.toInt
    val spark = GraftSession.local(GraftSession.cpus)

    def src(t: String): DataFrame = Sources.open(spark, "parquet", Map.empty, s"$srcDir/$t.parquet")

    // one row per copy index; the crossJoin is broadcast and bounded
    val cps = spark.range(copies.toLong).select(col("id").cast("int").as("cp"))
    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val rep = df.crossJoin(broadcast(cps))
      keyCols.foldLeft(rep)((d, k) =>
        d.withColumn(k, col(k) + col("cp") * lit(Stride))).drop("cp")
    }
    def write(df: DataFrame, t: String, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
      println(s"[datagen] $t done")
    }

    // fixed dims: verbatim copy
    write(src("region"), "region", 1)
    write(src("nation"), "nation", 1)

    write(replicate(src("customer"), Seq("c_custkey")), "customer", 8)
    write(replicate(src("supplier"), Seq("s_suppkey")), "supplier", 4)
    write(replicate(src("part"), Seq("p_partkey")), "part", 8)
    write(replicate(src("orders"), Seq("o_orderkey", "o_custkey")), "orders", 16)
    write(replicate(src("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem", 32)
    write(replicate(src("events"), Seq("event_id", "user_id")), "events", 16)

    val docs = src("documents").crossJoin(broadcast(cps))
      .withColumn("doc_id", col("doc_id") + col("cp") * lit(Stride))
      .withColumn("text", when(col("cp") === 0, col("text")).otherwise(
        array_join(
          transform(split(col("text"), " "),
            w => concat(w, lit("~"), col("cp").cast("string"))),
          " ")))
      .withColumn("n_chars", length(col("text")))
      .drop("cp")
    write(docs, "documents", 8)

    val embs = src("embeddings").crossJoin(broadcast(cps))
      .withColumn("vec_id", col("vec_id") + col("cp") * lit(Stride))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(63)),
          i => element_at(col("embedding"),
            (pmod(i + col("cp") * 5, lit(64))).cast("int") + 1)))
      .drop("cp")
    write(embs, "embeddings", 4)

    spark.stop()
  }
}
