package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish tables (see TESTDATA.md).
  *
  * All queries read through here so that scan-level concerns (schema
  * pruning, pushdown) are handled uniformly. At cluster scale the same
  * API would point at partitioned/bucketed table roots instead of
  * single parquet files; nothing downstream changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns written as parquet TIMESTAMP(NANOS), which Spark 4 cannot
    * map to its µs TimestampType directly. We read them as raw nanos
    * (legacy long mode) and rescale — lossless for this data (driver
    * generates µs-precision values). */
  private val nanosTimestampCols = Map("events" -> Seq("ts"))

  /** Hash-repartition to the session's shuffle width — the r13 fix
    * for the single-row-group scan bottleneck: the corpus parquet
    * files decode in ONE task, so heavy per-row work (decimal moment
    * products, sketch updates, shingle hashing) placed before the
    * first exchange runs single-threaded. Putting it after this cheap
    * deterministic exchange runs it at full width. Hash (never
    * round-robin) partitioning: a keyless repartition pays a serial
    * sort-before-repartition of the whole input inside the scan task
    * (SPARK-23207). Callers pick high-cardinality deterministic keys;
    * downstream aggregates must be merge-order-free (DECIMAL/integer
    * sums, sets), which is the repo-wide convention already. */
  def wide(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      keys: _*)

  /** One version of a file: its path plus the Hadoop `FileStatus`
    * modification time and length. A file rewritten at the same path
    * (a corpus rebuilt at another scale inside one JVM, a table
    * re-encoded) gets a new key, so memos keyed on it never go stale. */
  def fileVersion(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    s"$path@${st.getModificationTime}:${st.getLen}"
  }

  /** Raw (pre-normalization) parquet schema per file version. Without
    * a schema, every `spark.read.parquet` runs a one-task job to read
    * the footer again; a session that serves many short queries over
    * the same tables pays that once per table instead of per call. */
  private val rawSchemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val schema = rawSchemas.computeIfAbsent(fileVersion(spark, path),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    val rescaled = nanosTimestampCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      if (d.schema.exists(f => f.name == c && f.dataType == LongType))
        d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))  // integer div: no double rounding
      else d
    }
    // Driver encodings have varied across rounds: TIMESTAMP(NANOS) (handled
    // above) and, currently, µs TIMESTAMP_NTZ (isAdjustedToUTC=false). The
    // session is pinned UTC (Sessions.scala), so casting NTZ → TIMESTAMP is
    // a wall-clock identity, and every downstream instant function
    // (unix_micros, window, watermarks) works uniformly.
    rescaled.schema.collect { case f if f.dataType == TimestampNTZType => f.name }
      .foldLeft(rescaled)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }
}
