package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Memo, Pipeline}

/** Source bindings — laygo pipelines start from Python iterables
  * (pipeline.py:94); graft pipelines start from distributed sources.
  * Local collections are supported for parity (and tests), files for
  * real work. All readers return lazy scans: filters/projections
  * applied later in the pipeline reach the file scan via Catalyst.
  */
object Sources {

  /** `path` read as `format` with reader `options`, its schema inferred
    * once per (session, format, options, path, listing) in
    * `Memo.Schemas`. A repeat open reads with the memoized schema: it
    * still lists the files, so appended or removed files are read, but
    * runs no inference job (a footer merge for parquet, a full scan for
    * JSON and CSV). When the listing's [[graft.Memo.listingHash]]
    * differs from the one the schema was inferred over, the open
    * infers again and replaces the entry.
    */
  def open(spark: SparkSession, format: String, options: Map[String, String],
      path: String): DataFrame = {
    // DataFrameReader is a mutable builder: `.schema` must not reach `infer`
    def reader = spark.read.format(format).options(options)
    val key = (format, options, path)
    var inferred: DataFrame = null
    def infer(): (Int, StructType) = {
      inferred = reader.load(path)
      (Memo.listingHash(inferred), inferred.schema)
    }
    val (listing, schema) = Memo.get(spark, Memo.Schemas, key)(infer())
    if (inferred != null) inferred
    else {
      val df = reader.schema(schema).load(path)
      if (Memo.listingHash(df) == listing) df
      else { Memo.put(spark, Memo.Schemas, key, infer()); inferred }
    }
  }

  def parquet(spark: SparkSession, path: String): Pipeline =
    Pipeline(open(spark, "parquet", Map.empty, path))

  def csv(spark: SparkSession, path: String, header: Boolean = true,
      inferSchema: Boolean = true): Pipeline =
    Pipeline(open(spark, "csv",
      Map("header" -> header.toString, "inferSchema" -> inferSchema.toString), path))

  def json(spark: SparkSession, path: String): Pipeline =
    Pipeline(open(spark, "json", Map.empty, path))

  /** Local collection → distributed dataset (laygo `Pipeline(data)`). */
  def values[T: Encoder](spark: SparkSession, data: Seq[T]): Pipeline =
    Pipeline(spark.createDataset(data)(implicitly[Encoder[T]]).toDF())

  /** Typed dataset passthrough for case-class rows. */
  def dataset[T](ds: Dataset[T]): Pipeline = Pipeline(ds.toDF())

  /** Numeric range source (laygo tests' `range(n)` inputs). */
  def range(spark: SparkSession, n: Long): Pipeline =
    Pipeline(spark.range(n).toDF("id"))

  /** Streaming file source — the unbounded analogue; pair with
    * graft.streaming.Streams transforms.
    */
  def streamParquet(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Stream ONE table of a testdata sf directory. The file-stream
    * source only accepts directories, and the driver's layout varies:
    * `dir/name.parquet` is a single FILE in driver-generated dirs but
    * a DIRECTORY of part files in DataGen replicas. Stream the table
    * dir directly when it is one; otherwise stream the parent dir with
    * a pathGlobFilter so only the table's file is listed (not every
    * other table's — the filter prunes at listing time, before I/O).
    */
  def streamTable(spark: SparkSession, dir: String, name: String,
      schema: StructType): DataFrame = {
    val p = new java.io.File(s"$dir/$name.parquet")
    if (p.isDirectory) spark.readStream.schema(schema).parquet(p.toString)
    else spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** Shuffle/state-store partition count for a streaming replay over
    * one table, derived from its on-disk bytes: one partition per
    * ~4 MB of compressed parquet, clamped to [1, 32768]. Streaming
    * plans get no AQE coalescing, so this is the streaming twin of
    * the advisory-size rule the batch queries rely on — input-derived
    * at ANY scale, never a constant tuned to local mode or the
    * cluster. The per-partition target is deliberately SMALLER than a
    * batch shuffle partition's: the stateful replays run a CPU-bound
    * state machine per event (sessionize/dedup-window), so a
    * partition here is a unit of COMPUTE parallelism, not just
    * shuffle-buffer sizing — measured at sf1 (20 MB events), one
    * partition serialized stream_dedup_window to 8.9 s where five
    * read the r17 level; at sf0.1 (2 MB) both targets give 1
    * partition and the 32 RocksDB instances the constant session
    * width used to create stay gone. At 100 TB the 32768 cap
    * dominates either target.
    */
  def sizedShufflePartitions(dir: String, name: String): Int = {
    val p = new java.io.File(s"$dir/$name.parquet")
    val bytes =
      if (p.isDirectory)
        Option(p.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
      else p.length()
    val per = 4L << 20
    math.max(1L, math.min(32768L, (bytes + per - 1) / per)).toInt
  }
}
