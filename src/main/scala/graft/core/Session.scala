package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one Spark session configuration every driver runs under — Bench,
  * Verify and every tool — so a number measured by one is comparable with
  * a number measured by another, and the correctness dump runs the exact
  * plans the bench times.
  */
object Session {

  val BroadcastThresholdBytes: Long = 64L * 1024 * 1024

  /** `SPARK_GRAFT_CPUS`, parsed once; the JVM's available processors when
    * unset. A non-numeric or sub-1 value fails here, at startup, instead
    * of reaching a master URL or a JSON line.
    */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(v: Option[String]): Int = v match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(s) => s.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$s'"))
  }

  /** The session config for `cores` local cores, in builder order. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    // Shuffle parallelism must scale with DATA, not stay pinned at core
    // count: the r9 10x scale check showed a plan whose per-task shuffle
    // state was fine at sf0.1 crossing spill thresholds at 10x under a
    // fixed 32 partitions. AQE starts every shuffle at cores*8 partitions
    // and coalesces small ones back down, so sf0.1 keeps ~cpu-count
    // effective partitions while a 10x input spreads across 8x more
    // tasks — the local-mode analog of letting partition count follow
    // input bytes on a cluster.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cores * 8).toString,
    // oracle parity: the DuckDB replay reads timestamps as UTC
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> BroadcastThresholdBytes.toString,
    // Older testdata generations carry TIMESTAMP(NANOS) events; keep the
    // legacy read path open and let Tables.eventsMicros dispatch on the
    // loaded schema (nanos-as-long vs native µs).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // The generated-class cache defaults to 100 entries; a 101-query
    // suite holds several codegen stages per query, so by the time the
    // late composites run the cache has been evicted end-to-end and
    // EVERY run pays janino recompilation for every stage (~0.1-0.3s
    // each). q99 measured 4.2s on both suite runs vs 1.6s steady-state
    // in a fresh JVM — the delta was recompilation, not the plan. Size
    // the cache to hold the whole suite, as a long-lived production
    // session would.
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** A `local[cores]` session under [[settings]], log level WARN. */
  def local(cores: Int = cpus): SparkSession = {
    val spark = settings(cores)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The between-runs hygiene of every timing loop: drop cached frames and
    * let the ContextCleaner release broadcast/shuffle state (its driver
    * refs are weakly held, so they go on GC) before the next timed run.
    */
  def cooldown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  /** Materialize: fold every output column into one xxhash64 / bit_xor
    * value, so the whole projection is computed, shuffled and reduced —
    * a bare `count()` lets Catalyst prune projection-only work. The fold
    * is order-independent; an empty frame folds to 0.
    */
  def materialize(df: DataFrame): Long = {
    val r = fold(df).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The one-row frame [[materialize]] executes — for reading the plan it
    * ran.
    */
  def fold(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    df.select(h.as("h")).agg(expr("bit_xor(h)"))
  }
}
