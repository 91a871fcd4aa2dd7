package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated star schema
  * (TESTDATA.md). Every query takes the scale-factor directory as a
  * parameter, so the same plan runs at sf0.001 → 100 TB unchanged —
  * only the number of input splits grows.
  *
  * Scale note: `spark.read.parquet` yields a columnar `FileScan` whose
  * partitioning follows `spark.sql.files.maxPartitionBytes`; filters
  * and projections from downstream operators are pushed into the scan
  * by Catalyst (visible as PushedFilters/ReadSchema in explain), so no
  * query here ever reads more bytes than it needs.
  *
  * Schema reuse: a plain `spark.read.parquet(path)` starts a one-task
  * Spark job to infer the schema from the footers before the query's
  * own plan runs — at the test-data sizes that job costs more than the
  * scan. [[parquet]] infers a path's schema once per (path, file
  * identity, inference settings) and reads with `.schema(...)`, so a
  * re-read of an unchanged input or landed store starts no job.
  * Catalog tables (`StorageOps`) keep plain reads: DML rewrites them
  * under the same root path, possibly with a new schema.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The session settings that change what parquet schema inference
    * returns for the same files. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (path, size, mtime) of every file under a path. */
  private type Files = Seq[(String, Long, Long)]
  private final case class Inferred(files: Files, schema: StructType)
  /** One entry per (path, inference settings): an overwrite replaces
    * the entry, so the memo grows with the paths read, not with their
    * versions. */
  private val inferred = new ConcurrentHashMap[(String, Seq[String]), Inferred]()

  /** A parquet read that starts no schema-inference job when the path
    * was already read with the same files and inference settings. For
    * read-only inputs and landed stores; not for catalog tables (see
    * the header). */
  def parquet(s: SparkSession, path: String): DataFrame =
    s.read.schema(parquetSchema(s, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers, memoized on the
    * files' identity: the size and mtime of the file, or of every file
    * under a directory. A missing or empty path is inferred plainly,
    * and fails as a plain read does. */
  def parquetSchema(s: SparkSession, path: String): StructType = {
    val fs = files(s, path)
    if (fs.isEmpty) s.read.parquet(path).schema
    else {
      val key = (path, InferenceConfs.map(k => s.conf.getOption(k).orNull))
      inferred.compute(key, (_, old) =>
        if (old != null && old.files == fs) old
        else Inferred(fs, s.read.parquet(path).schema)).schema
    }
  }

  private def files(s: SparkSession, path: String): Files = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[(String, Long, Long)]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    }
    out.result().sorted
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.parquet has shipped with two different physical layouts
    * for `ts` across testdata generations: INT64 TIMESTAMP(NANOS)
    * (which the vectorized reader rejects unless read as raw longs)
    * and plain timestamp[us] (which Spark infers as TIMESTAMP_NTZ).
    * Hard-coding either one breaks silently or loudly when the data
    * regenerates, so normalization branches on the type the reader
    * ACTUALLY produced and fails loud on anything else — the
    * schema-drift guard. The session runs with timeZone=UTC, so the
    * ntz→ltz cast is value-preserving. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      // legacy layout: TIMESTAMP(NANOS) surfaced as raw long nanos via
      // nanosAsLong; integer division — a double division would lose
      // precision (nanos-since-2024 ≈ 1.7e18 > 2^53)
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other — testdata layout drifted; " +
        "extend Tables.normalizeTs for the new physical type")
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    // harmless when ts is not NANOS; required to read the legacy layout
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
