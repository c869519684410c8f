package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Session, Telemetry}
import graft.operators.Curation

/** Skew stresses at bench scale: one hot key or class owning ~30% of the
  * rows (corpus replicated to `SPARK_GRAFT_SKEW_ROWS`, default 3M), run
  * three ways over the SAME lineage. Bench embeds [[joinKey]] as
  * `skew_stress` and [[shingleClass]] as `span_skew`.
  *
  * Each run is graded inside its heaviest stage (the one reading the most
  * shuffle records, among stages of ≥ 4 tasks): max/median task duration
  * AND max/median shuffle records per task. The row ratio is the
  * scale-true signal — at bench bytes a task's fixed overhead (~hundreds
  * of ms) partly masks the hot reducer's extra rows, but at 100 TB the
  * per-row work dominates and the row imbalance IS the time imbalance.
  * Done-bar: the mitigated variant keeps every task ≤ 4× its stage median
  * on BOTH axes; the unmitigated row ratio proves the stress is real.
  *
  * Run: runMain graft.tools.SkewStress [sfDir] (default: SPARK_GRAFT_SF_DIR)
  */
object SkewStress {

  private final case class SkewRun(secs: Double, maxMs: Long, medMs: Long,
      maxRows: Long, medRows: Long)

  private def targetRows: Long =
    sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "3000000").toLong

  /** Materialize `df` under [[Telemetry.profile]] and grade its heaviest stage. */
  private def measure(df: DataFrame): SkewRun = {
    val (_, p) = Telemetry.profile(df.sparkSession, "skew stress")(Session.materialize(df))
    val secs = p.wallMs / 1e3
    p.stages.filter(_.tasks >= 4).maxByOption(_.readRecords) match {
      case None => SkewRun(secs, -1L, -1L, -1L, -1L)
      // floors: sub-centisecond tasks compare scheduler noise
      case Some(s) => SkewRun(secs, s.maxTaskMs, math.max(s.medianTaskMs, 10L),
        s.maxReadRecords, math.max(s.medianReadRecords, 1L))
    }
  }

  private def vj(v: SkewRun): String =
    f"""{"sec":${v.secs}%.3f,"max_task_ms":${v.maxMs},""" +
      f""""median_task_ms":${v.medMs},"time_ratio":${v.maxMs.toDouble / v.medMs}%.2f,""" +
      f""""max_task_rows":${v.maxRows},"median_task_rows":${v.medRows},""" +
      f""""row_ratio":${v.maxRows.toDouble / v.medRows}%.2f}"""

  /** The three variants with broadcast joins off: `plain` with AQE off,
    * `aqe` with AQE's skew-join thresholds lowered to engage at bench
    * bytes (the 256MB default only engages at cluster scale), `mitigated`
    * with AQE off again — structure alone must bound the variance. The
    * session's config is restored afterwards.
    */
  private def grade(spark: SparkSession, rows: Long, keys: (String, String, String),
      plain: => DataFrame, aqe: => DataFrame, mitigated: => DataFrame): String = {
    val conf = spark.conf
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val a = measure(plain)
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")
      val b = measure(aqe)
      conf.set("spark.sql.adaptive.enabled", "false")
      val c = measure(mitigated)
      s"""{"rows":$rows,"hot_fraction":0.30,""" +
        s""""${keys._1}":${vj(a)},"${keys._2}":${vj(b)},"${keys._3}":${vj(c)}}"""
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", Session.BroadcastThresholdBytes.toString)
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    }
  }

  /** Hot JOIN key: the q74-shaped line-frequency equi-join over the
    * documents table's lines. Variants: `plain` — shuffled hash join, the
    * hot key's reducer owns ~30% of the stage (with AQE fully off, since
    * even its partition COALESCING narrows the gap by merging the small
    * partitions); `aqe` — AQE skew join; `salted` —
    * [[graft.operators.SkewJoin.saltedJoin]], the form for pipelines that
    * KNOW their hot keys.
    */
  def joinKey(spark: SparkSession, sfDir: String): String = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val real = docs
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .filter(length(col("line")) > 0)
    val nReal = real.count()
    val k = math.max(1L, targetRows / math.max(nReal, 1L))
    // every row carries an incompressible payload, like a real corpus
    // row carries content beyond its join key. Without it the hot
    // partition — one string repeated a million times — lz4-compresses
    // to less than a MEDIAN partition of diverse lines, and AQE's
    // BYTE-based skew detector provably cannot see the row skew (first
    // cut of this stress measured exactly that: row_ratio 14, AQE inert).
    val replicated = real
      .crossJoin(spark.range(k).select(col("id").as("rep")))
      .withColumn("pad",
        md5(concat_ws("-", col("doc_id"), col("rep"), col("line"))))
    val hotRows = (nReal * k * 3) / 7 // hot / (real + hot) ~= 0.30
    val hot = spark.range(hotRows).select(
      lit(-1L).as("doc_id"), lit("\u0001graft-hot-boilerplate\u0001").as("line"),
      col("id").as("rep"),
      md5(concat_ws("-", lit("hot"), col("id"))).as("pad"))
    // Materialize BOTH sides before measuring: (a) the measured work is
    // then the join itself, not corpus generation; (b) AQE's
    // OptimizeSkewedJoin can only rewrite a join whose children are
    // direct shuffle reads — with dim left as a lazy aggregate, the join
    // reuses the agg's partitioning (final HashAggregate above the stage)
    // and the rule can NEVER split the hot partition, a precondition
    // worth knowing at 100 TB: skew-join your materialized tables, not
    // your just-aggregated ones.
    val fact = replicated.unionByName(hot).localCheckpoint()
    val dim = fact.groupBy("line").agg(count(lit(1)).as("line_count"))
      .localCheckpoint()
    grade(spark, nReal * k + hotRows, ("plain", "aqe", "salted"),
      fact.join(dim.hint("shuffle_hash"), Seq("line")),
      fact.join(dim.hint("shuffle_hash"), Seq("line")),
      graft.operators.SkewJoin.saltedJoin(fact, dim, "line", 16))
  }

  /** Hot SHINGLE CLASS for the q88/q99 span-removal keeper step: one
    * boilerplate 8-gram (a license header) owning ~30% of all
    * positional-shingle rows, the shape a 100 TB crawl guarantees. Basis
    * = the REAL positional-hash lineage over the sfDir's documents
    * (replica-remapped to the stress row count) plus the synthetic hot
    * class. Variants of the same keeper/shared-by-≥2 computation:
    * `window` — the min/max window over (h1, h2), where the hot class
    * sorts in ONE task; `window_aqe` — proves AQE cannot split a window
    * partition (unlike a join); `salted` — the shipped
    * [[Curation.classBounds]] two-phase fold.
    */
  def shingleClass(spark: SparkSession, sfDir: String): String = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val real0 = graft.queries.PipelineCatalog.positionalShingleHashes(docs)
    val nReal = real0.count()
    val k = math.max(1L, targetRows / math.max(nReal, 1L))
    // replicas get fresh class ids (h1 remixed per replica) and fresh doc
    // ids: the tail stays diverse — replication must not turn EVERY class
    // hot, only the synthetic one below is
    val replicated = real0
      .crossJoin(spark.range(k).select(col("id").as("rep")))
      .select(xxhash64(col("h1"), col("rep")).as("h1"), col("h2"),
        (col("doc_id") * k + col("rep")).as("doc_id"), col("pos"))
    val hotRows = (nReal * k * 3) / 7 // hot / (real + hot) ~= 0.30
    val hot = spark.range(hotRows).select(
      lit(424242L).as("h1"), lit(7).as("h2"),
      pmod(col("id") * 2654435761L, lit(100000L)).as("doc_id"),
      (col("id") % 50000).cast("int").as("pos"))
    val basis = replicated.unionByName(hot).localCheckpoint()
    def windowHits = Curation.plainClassBounds(
        basis, Seq("h1", "h2"), "doc_id", "keeper", "_mx")
      .filter(col("keeper") =!= col("_mx") && col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("pos"))
    grade(spark, nReal * k + hotRows, ("window", "window_aqe", "salted"),
      windowHits, windowHits,
      // the SHIPPED q88 form: shared-class filter pushed into the lookup
      // (see removeDupSpansFrom), residual keeper filter after
      Curation.classBounds(
          basis, Seq("h1", "h2"), "doc_id",
          xxhash64(col("doc_id"), col("pos")), "keeper", "_mx",
          classFilter = Some(col("keeper") =!= col("_mx")))
        .filter(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"), col("pos")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("usage: SkewStress <sfDir> (or set SPARK_GRAFT_SF_DIR)"))
    val spark = Session.local()
    println(s"""{"skew_stress":${joinKey(spark, sfDir)},"span_skew":${shingleClass(spark, sfDir)}}""")
    spark.stop()
  }
}
