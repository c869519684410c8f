package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted loader-handoff manifest — the BandStore/GenStore discipline
  * applied to q142/q146's span frame (r15 verdict Next #3).
  *
  * The manifest is the artifact a training loader mounts: per (epoch,
  * shard, seq_id) document spans in the per-epoch shuffled packing order,
  * plus per-(epoch, shard) order-pinning signatures. Production writes it
  * ONCE at shard-publish time; before this store the engine recomputed
  * the salted packing fold per JVM (a `localCheckpoint` memo — honest for
  * the bench, but any new dump re-paid both epochs' folds from scratch).
  *
  * Layout (one [[GenStore]] lifecycle):
  *   - `spans/e<K>/gen=N/epoch=E/` — span rows per ingest generation
  *   - `sigs/e<K>/gen=N/`          — per-gen (epoch, shard) signature
  *     PARTIALS: the signature is a commutative bit_xor fold over
  *     position-encoded terms and the token count a plain sum, so the
  *     serve-side aggregate of per-gen partials IS the full signature —
  *     an append touches only the shards its spans land in, and nothing
  *     ever rewrites an old gen's partials
  *   - `_graft_stats.json` — {gen, last_batch, total_tok}: `total_tok` is
  *     each epoch's stream length so far, i.e. the TAIL OFFSET the next
  *     append packs at
  *
  * Incremental contract (the q77/q78/q79 equivalence discipline, stated
  * for an order-bearing artifact): an appended dump packs into fresh
  * sequences AT THE TAIL of each epoch's order — published sequence ids
  * and spans are immutable; only the straddle sequence's shard and the
  * new tail shards change signatures. Deletions are NOT incremental by
  * design: removing a document from a published packing would renumber
  * every later sequence (exactly what a training run must never observe),
  * so a shrunk corpus rebuilds via the manifest stamp mismatch.
  *
  * Reference: jsonify2ai ships chunk manifests per export
  * (worker/app/routers/export.py) but recomputes them per run;
  * the persisted+incremental form is this engine's scale path.
  */
object ManifestStore {

  /** Packing parameters — recorded in the store manifest; any change
    * rebuilds. Mirrors PipelineCatalog's q119/q142 constants.
    */
  final case class Params(epochs: Long, buckets: Long, seqLen: Long,
      shards: Long)

  final case class Store(spans: DataFrame, sigs: DataFrame)

  def storePath(sfDir: String): String =
    GenStore.artifactPath(sfDir, "documents.parquet", "_graft_manifest",
      "graft-manifeststore")

  private def manifest(sfDir: String, p: Params): String = {
    val stamp = GenStore.sourceStamp(new java.io.File(s"$sfDir/documents.parquet"))
    s"""{"layout":"manifest-v1.1-gen","src":"$stamp","epochs":${p.epochs},"buckets":${p.buckets},"seq_len":${p.seqLen},"shards":${p.shards},"hash_family":"sha256-affine-2^60","tokenizer":"v1-frozen"}"""
  }

  // --- stats sidecar: gen + replay watermark + the per-epoch tail offset.
  //     The file is EPOCH-SUFFIXED (one per store epoch, like the span/sig
  //     segment trees) so a full rebuild commits its stats BEFORE the
  //     pointer flip: a crash between the two leaves the old epoch live
  //     with the old epoch's stats — readers and a direct append() always
  //     see a (spans, total_tok) pair from the same packing, whereas the
  //     v1 root-level file flipped the epoch first and a crash stranded
  //     the new packing with the previous store's tail offset (r16 ADVICE).
  //     Within an epoch, append() still commits stats LAST (the
  //     committed-gen read gate).

  private def statsPath(path: String): java.nio.file.Path =
    statsPath(path, GenStore.epochOf(path))

  private def statsPath(path: String, epoch: Long): java.nio.file.Path =
    java.nio.file.Paths.get(path, s"_graft_stats_e$epoch.json")

  private def writeStats(path: String, epoch: Long, gen: Long, lastBatch: Long,
      totalTok: Long): Unit =
    GenStore.atomicWrite(statsPath(path, epoch),
      s"""{"gen":$gen,"last_batch":$lastBatch,"total_tok":$totalTok}""")

  /** (current max generation, replay watermark, per-epoch tail offset). */
  def readStats(path: String): (Long, Long, Long) =
    GenStore.readSidecar(statsPath(path))
      .map(n => (GenStore.jLong(n, "gen", 0L),
        GenStore.jLong(n, "last_batch", -1L),
        GenStore.jLong(n, "total_tok", 0L)))
      .getOrElse((0L, -1L, 0L))

  private def spansDir(path: String) =
    new java.io.File(GenStore.tableDir(path, "spans"))

  def exists(path: String): Boolean =
    GenStore.hasParquetData(spansDir(path)) ||
      java.nio.file.Files.exists(
        spansDir(path).toPath.resolve(GenStore.EmptyMarker))

  // ---------------------------------------------------------------------
  // The packing kernel (one batch)
  // ---------------------------------------------------------------------

  /** Token counts per doc — the manifest's only corpus touch. */
  def tokCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(graft.operators.TextAnalytics.tokens(col(textCol)))
        .cast("long").as("n_tok"))

  /** Span rows for ONE batch packed at tail offset `baseTok`: the
    * per-epoch hash-shuffled order within the batch (epoch packed into
    * the salted prefix sum's order key, overflow `require`d), q112's
    * bounded sequence explode, spans clipped to sequence boundaries.
    * A full build is the baseTok=0 instance — build and append share
    * this ONE definition, which is what the equivalence spec leans on.
    * Callers pass a MATERIALIZED `toks` (the bounds probe and the fold
    * both read it; write/append checkpoint once at the corpus scan).
    */
  def spanRows(toks: DataFrame, baseTok: Long, p: Params): DataFrame = {
    val b = toks.agg(min(col("doc_id")).cast("long"),
      max(col("doc_id")).cast("long"), sum(col("n_tok")).cast("long")).head()
    if (b.isNullAt(0)) return emptySpans(toks.sparkSession)
    val (mn, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
    require(span <= Long.MaxValue / (p.buckets * p.epochs),
      s"doc_id span $span overflows the epoch-packed shuffle key")
    val perEpochKey = p.buckets * span
    val epochs = toks.sparkSession.range(p.epochs).select(col("id").as("epoch"))
    val keyed = toks.crossJoin(broadcast(epochs))
      .withColumn("__shuf",
        pmod(graft.operators.TextAnalytics.hash60(
          concat(col("epoch"), lit(":"), col("doc_id"))), lit(p.buckets))
          * span + (col("doc_id") - mn))
      .withColumn("__gk", col("epoch") * perEpochKey + col("__shuf"))
    val gpre = graft.operators.Curation.saltedPrefixSum(keyed, "__gk",
      "n_tok", outCol = "__gpre",
      orderBounds = Some((0L, p.epochs * perEpochKey - 1)))
    val batchTok = b.getLong(2)
    gpre
      .withColumn("off",
        lit(baseTok) + col("__gpre") - col("epoch") * lit(batchTok))
      .filter(col("n_tok") > 0)
      .withColumn("first_seq", expr(s"off div ${p.seqLen}"))
      .withColumn("last_seq", expr(s"(off + n_tok - 1) div ${p.seqLen}"))
      .withColumn("seq_id",
        explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("gstart", greatest(col("off"), col("seq_id") * p.seqLen))
      .withColumn("gend",
        least(col("off") + col("n_tok"), (col("seq_id") + 1) * p.seqLen))
      .select(col("epoch"),
        pmod(col("seq_id"), lit(p.shards)).as("shard"),
        col("seq_id"), col("doc_id"),
        (col("gstart") - col("off")).as("doc_tok_start"),
        (col("gstart") - col("seq_id") * p.seqLen).as("seq_tok_start"),
        (col("gend") - col("gstart")).as("n_tok"))
  }

  private def emptySpans(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("epoch", "shard", "seq_id", "doc_id",
      "doc_tok_start", "seq_tok_start", "n_tok")
      .map(StructField(_, LongType, nullable = false)))
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Per-(epoch, shard) signature PARTIAL over one batch's spans —
    * the order-pinning bit_xor of position-encoded terms plus the token
    * sum. Commutative in both components, so partials aggregate across
    * gens at serve time.
    */
  def sigRows(spans: DataFrame): DataFrame =
    spans
      .withColumn("term", graft.operators.TextAnalytics.hash60(concat(
        col("seq_id"), lit(":"), col("seq_tok_start"), lit(":"),
        col("doc_id"))))
      .groupBy(col("epoch"), col("shard"))
      .agg(expr("bit_xor(term)").as("shard_sig"),
        sum(col("n_tok")).as("shard_tok"))

  // ---------------------------------------------------------------------
  // Lifecycle
  // ---------------------------------------------------------------------

  /** Full (re)build at gen 0 in the next epoch directory, committed by
    * the atomic pointer flip. Stats land in the NEW epoch's sidecar
    * BEFORE the flip, so the flip atomically publishes spans, sigs, and
    * the tail offset together (see the stats-sidecar note above).
    */
  def write(docs: DataFrame, idCol: String, textCol: String, path: String,
      p: Params, batchId: Long = -1L): Unit = {
    val prevLast = readStats(path)._2
    val next = GenStore.epochOf(path) + 1
    val toks = tokCounts(docs, idCol, textCol).localCheckpoint()
    val spans = spanRows(toks, baseTok = 0L, p).localCheckpoint()
    GenStore.writeTable(spans.withColumn("gen", lit(0L)),
      Seq("gen", "epoch"), Seq("seq_id", "seq_tok_start"),
      s"$path/spans/e$next")
    GenStore.writeTable(sigRows(spans).withColumn("gen", lit(0L)),
      Seq("gen"), Nil, s"$path/sigs/e$next")
    val total = toks.agg(sum(col("n_tok"))).head()
    writeStats(path, epoch = next, gen = 0L,
      lastBatch = if (batchId >= 0) batchId else prevLast,
      totalTok = if (total.isNullAt(0)) 0L else total.getLong(0))
    GenStore.setEpoch(path, next)
    GenStore.gcEpochs(path, Seq("spans", "sigs"), next)
    // retire superseded epochs' stats sidecars (best-effort, like gcEpochs)
    (0L until next).foreach { e =>
      try java.nio.file.Files.deleteIfExists(statsPath(path, e))
      catch { case _: java.io.IOException => () }
    }
  }

  /** Incremental append: the delta packs into fresh sequences at the
    * TAIL of each epoch's order (`baseTok` = the stats sidecar's stream
    * length); span and sig-partial segments land at gen+1; signatures of
    * untouched shards are never rewritten (their partials simply gain no
    * gen+1 rows). Replay-idempotent via `batchId`; crash-atomic: partial
    * next-gen directories are deleted before a redo, stats commit last.
    * Deletions rebuild (see the object scaladoc) — there is no tombstone
    * path on purpose.
    */
  def append(spark: SparkSession, delta: DataFrame, idCol: String,
      textCol: String, path: String, p: Params, batchId: Long = -1L): Unit = {
    val (gen0, lastBatch, baseTok) = readStats(path)
    if (batchId >= 0 && batchId <= lastBatch) return
    val nextGen = gen0 + 1
    GenStore.dropPartialGen(spark, path, Seq("spans", "sigs"), nextGen)
    val toks = tokCounts(delta, idCol, textCol).localCheckpoint()
    val spans = spanRows(toks, baseTok, p).localCheckpoint()
    // one file per epoch per gen (the sf0.1 manifest stores had
    // accumulated 2,600+ tiny span/sig files at one per write task)
    GenStore.writeBucketed(spans.withColumn("gen", lit(nextGen)),
      Seq("gen", "epoch"), GenStore.tableDir(path, "spans"))
    sigRows(spans).withColumn("gen", lit(nextGen))
      .repartition(1) // shard-count-bounded partials: one file per gen
      .write.mode("append").partitionBy("gen")
      .parquet(GenStore.tableDir(path, "sigs"))
    val total = toks.agg(sum(col("n_tok"))).head()
    val deltaTok = if (total.isNullAt(0)) 0L else total.getLong(0)
    writeStats(path, GenStore.epochOf(path), nextGen,
      if (batchId >= 0) batchId else lastBatch, baseTok + deltaTok)
  }

  /** Serve frames: `spans` in canonical column order and types; `sigs`
    * aggregated across generations (the commutative fold of partials).
    * Both gated on the COMMITTED generation (the stats sidecar commits
    * last — the sibling stores' maxGen discipline): a crashed append's
    * partial gen directory is invisible to readers until the redo.
    */
  def read(spark: SparkSession, path: String): Store = {
    val maxGen = GenStore.committedGen(statsPath(path))
    val spans = GenStore.seg(spark, spansDir(path).toString, maxGen)
      .filter(col("gen") <= maxGen)
      .select(col("epoch").cast("long").as("epoch"), col("shard"),
        col("seq_id"), col("doc_id"), col("doc_tok_start"),
        col("seq_tok_start"), col("n_tok"))
    val sigs = GenStore.seg(spark, GenStore.tableDir(path, "sigs"), maxGen)
      .filter(col("gen") <= maxGen)
      .groupBy(col("epoch"), col("shard"))
      .agg(expr("bit_xor(shard_sig)").as("shard_sig"),
        sum(col("shard_tok")).as("shard_tok"))
    Store(spans, sigs)
  }

  /** Load the manifest for `docs`, building it if absent/stale — the
    * write-once-at-publish-time contract: Verify/Bench build once per
    * sfDir, q142/q146 serves only read.
    */
  def ensure(spark: SparkSession, docs: => DataFrame, idCol: String,
      textCol: String, sfDir: String, p: Params): Store = {
    val path = storePath(sfDir)
    GenStore.ensureFresh(path, manifest(sfDir, p)) {
      write(docs, idCol, textCol, path, p)
    }
    read(spark, path)
  }
}
