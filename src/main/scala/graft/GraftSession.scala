package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every main (Bench, Verify,
  * RunOne, Plans, DataGen, BaselineChain) and the test session get the
  * graded configuration from here, so a number or a plan taken from
  * any of them is the shape the graded sweep runs.
  */
object GraftSession {

  /** Cores for the measurement and dump mains: `SPARK_GRAFT_CPUS`,
    * default the machine's cores (the graded sweep runs local[32]).
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Dev loop: `SPARK_GRAFT_ONLY=q1,q2` restricts Bench and Verify to
    * those queries (the graded runs leave it unset and run everything).
    */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

  def selected[V](queries: Map[String, V]): Map[String, V] =
    only.fold(queries)(names => queries.filter(kv => names(kv._1)))

  /** The graded session configuration at `cores` local cores. */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    // cap AQE coalescing at 16 MB wire-bytes per reducer: agg hash
    // entries cost ~3-5x their wire bytes on-heap, so the 64 MB
    // default re-collapsed basket_pairs' 36 M-group aggregation at
    // sf3 to 8 partitions of ~4.5 M groups each — the GC tail the
    // r13 chain measured; at 16 MB the same shuffle keeps 26-32
    // reducers. (A wider initialPartitionNum was tried and reverted:
    // it taxed every small-scale query with extra tasks while the
    // advisory cap alone delivers the partition count.)
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet carries TIMESTAMP(NANOS); Spark 4 reads it only
    // as a long (ns since epoch), which also keeps ns-precision
    // ordering bit-identical with the DuckDB oracle.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // explicit, not default-trusted: AQE re-plans skewed shuffle
    // joins at runtime (SURVEY §4.2); the deterministic salted-join
    // operators (Skew.scala) stay the fallback for aggregation skew
    // and engines where AQE is off.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // RocksDB state store + changelog checkpointing for the
    // streaming replays: the default HDFS-backed provider snapshots
    // the FULL store per micro-batch per partition (O(state·batches)
    // I/O — the super-linear term the r9 sweep flagged in
    // stream_sessionize); RocksDB persists per-batch CHANGELOGS
    // (deltas), so replay I/O follows the update volume instead
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** A local session with the graded configuration at `cores`, plus
    * `extra` settings on top (the test session's app name and
    * warehouse dir).
    */
  def local(cores: Int, extra: (String, String)*): SparkSession = {
    val spark = (conf(cores) ++ extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
