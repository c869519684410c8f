package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Every [[graft.SparkEntry.queries]] entry receives `(spark, sfDir)` and
  * resolves its inputs through here, so the same query runs unchanged at
  * sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench) — and, at production
  * scale, against any directory of identically-named parquet tables.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table opened with the schema its footer gives
    * ([[graft.sources.GenStore.footerSchema]], derived as inference
    * derives it), so the load runs no schema-inference job.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    schemaFile(spark, path)
      .map(f => graft.sources.GenStore.footerSchema(spark, f, engineWritten = false))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The table's one file, or the first data file of a flat Spark-written
    * directory (its part files share one schema); None for a missing path
    * or any other layout, which then infers.
    */
  private def schemaFile(spark: SparkSession, path: String): Option[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None // Spark's read raises its own error
    else if (!fs.getFileStatus(p).isDirectory) Some(p)
    else fs.listStatus(p).filter(_.isFile).map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .sortBy(_.getName).headOption
  }

  /** `events` with `ts` normalized to epoch-µs BIGINT, whatever the parquet
    * physical type of the generation at hand: older testdata ships
    * TIMESTAMP(NANOS) (unreadable by Spark unless
    * spark.sql.legacy.parquet.nanosAsLong=true surfaces it as long ns —
    * every session here keeps that on), newer testdata ships native µs
    * TIMESTAMP/TIMESTAMP_NTZ. Dispatching on the LOADED schema instead of
    * assuming one physical type is what lets both generations read; all
    * sessions run UTC, so the NTZ→TZ cast is identity on the wall clock and
    * both paths agree with DuckDB's `epoch_us(ts)` exactly.
    */
  def eventsMicros(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = apply(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("ts div 1000"))
      case _        => df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)))
    }
  }

  /** Fan a freshly-scanned frame out to the session's parallelism when the
    * source produced (far) fewer splits than cores. Parquet scans
    * parallelize by ROW GROUP; the test tables are single-row-group files,
    * so without this every heavy per-row kernel downstream (chunker,
    * sha256 signatures, ingest routing) serializes on ONE task while 31
    * cores idle. The round-trip is one cheap exchange of the raw rows. At
    * production scale a 100 TB table has ~million row groups — the guard
    * makes this a no-op there, exactly as it should be: this is a
    * small-input pathology, not a scale pattern.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }
}
