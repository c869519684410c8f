package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * The reference dedups by sha256 content signature + deterministic ids
  * (reference: scripts/dev/tools/ingest_dropzone.py:41-42,
  * worker/app/utils/docids.py:44-49 — re-ingest replaces, never
  * duplicates). At corpus scale that generalizes to: exact dedup by
  * content hash, and near-dedup by MinHash+LSH — both implemented here as
  * shuffle-minimal DataFrame transforms.
  */
object Dedup {

  /** Exact duplicate groups by content signature (one hash-aggregation;
    * map-side combine makes this a single light shuffle at any scale).
    */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_sig"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the daily-batch shape: classify each NEW
    * document against the existing corpus and against earlier rows of its
    * own batch. Returns the batch annotated with `dup_of_corpus` (content
    * signature already stored) and `is_batch_dup` (an earlier batch row —
    * smaller id — has the same signature). At 100 TB the corpus side is a
    * signature-only scan (one column) and both joins are hash joins on the
    * signature — no full-text movement.
    */
  def incrementalExact(
      batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // Null text signs as the empty string: sha2(NULL) = NULL would make the
    // null-unsafe signature joins silently DROP those batch rows from the
    // annotated output. Contract: null and empty text are one signature
    // class — every input batch row appears exactly once in the result.
    val sig = sha2(coalesce(col(textCol), lit("")), 256)
    val corpusSigs = corpus.select(
      sha2(coalesce(col(textCol), lit("")), 256).as("content_sig")).distinct()
    val b = batch.withColumn("content_sig", sig)
    val firstOfSig = b.groupBy(col("content_sig"))
      .agg(min(col(idCol)).as("_first_id"))
    b.join(corpusSigs.withColumn("_in_corpus", lit(true)), Seq("content_sig"), "left")
      .join(firstOfSig, Seq("content_sig"))
      .withColumn("dup_of_corpus", coalesce(col("_in_corpus"), lit(false)))
      .withColumn("is_batch_dup", col(idCol) > col("_first_id"))
      .drop("_in_corpus", "_first_id")
  }

  /** Distributed-built Bloom sketch over the corpus' content signatures —
    * the persistable membership artifact [[bloomIncrementalExact]] probes.
    * `spark.util.sketch.BloomFilter` builds by treeAggregate (each
    * partition fills a local sketch, merged up), so the corpus is read
    * once, signature column only; the result is a compact serializable
    * bitset (~1.2 GB per 10^9 items at 1% fpp) that a daily pipeline
    * stores next to the corpus and merges deltas into
    * (`BloomFilter.mergeInPlace`) instead of rebuilding.
    */
  def corpusSignatureSketch(
      corpus: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    corpus
      .select(sha2(coalesce(col(textCol), lit("")), 256).as("content_sig"))
      .stat.bloomFilter("content_sig", math.max(expectedItems, 1L), fpp)

  /** [[incrementalExact]] with a Bloom pre-filter: batch rows whose
    * signature the sketch rejects are DEFINITELY new (Bloom filters have
    * no false negatives) and skip the corpus entirely; only the
    * bloom-positive remainder — real dups plus an fpp-sized sliver of
    * false positives — joins the stored signatures, which verifies
    * exactly. Output is therefore row-for-row identical to
    * [[incrementalExact]] regardless of sketch quality.
    *
    * The 100 TB shape: a mostly-new daily batch (the common crawl case)
    * reduces corpus I/O from one signature-column scan per batch to a
    * broadcast sketch probe — zero corpus reads when nothing collides —
    * and the verification join's probe side shrinks from |batch| to
    * |candidates|. The probe itself is one boolean map over the
    * delta-sized batch (a closure over the broadcast sketch; off the
    * codegen path by design — it touches only the delta, never the
    * corpus).
    */
  def bloomIncrementalExact(
      batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      sketch: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val spark = batch.sparkSession
    val bcast = spark.sparkContext.broadcast(sketch)
    val mightContain = udf((s: String) => bcast.value.mightContainString(s))
    val b = batch
      .withColumn("content_sig", sha2(coalesce(col(textCol), lit("")), 256))
    // batch-local first-of-signature: whole batch, independent of the sketch
    val firstOfSig = b.groupBy(col("content_sig"))
      .agg(min(col(idCol)).as("_first_id"))
    val candidates = b.filter(mightContain(col("content_sig")))
    val corpusSigs = corpus.select(
      sha2(coalesce(col(textCol), lit("")), 256).as("content_sig")).distinct()
    val verified = candidates
      .join(corpusSigs.withColumn("_in_corpus", lit(true)), Seq("content_sig"), "left")
      .withColumn("dup_of_corpus", coalesce(col("_in_corpus"), lit(false)))
      .drop("_in_corpus")
    val definitelyNew = b.filter(!mightContain(col("content_sig")))
      .withColumn("dup_of_corpus", lit(false))
    verified.unionByName(definitelyNew)
      .join(firstOfSig, Seq("content_sig"))
      .withColumn("is_batch_dup", col(idCol) > col("_first_id"))
      .drop("_first_id")
  }

  /** Exact all-pairs shingle-Jaccard within a blocking key — the verifiable
    * small-scale form (quadratic within a block; use [[minhashNearDuplicates]]
    * for the unblocked 100 TB path).
    */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc"), col(blockCol).as("block"),
        explode(WordShingles.wordShingles(col(textCol))).as("shingle"))
    // shingle-set sizes straight off the doc-level arrays (WordShingles is
    // already distinct) — no second explode+aggregate pass
    val sizes = docs.select(col(idCol).as("doc"),
      size(WordShingles.wordShingles(col(textCol))).as("n"))
    val a = sh.select(col("doc").as("a_id"), col("block"), col("shingle"))
    val b = sh.select(col("doc").as("b_id"), col("block").as("block_b"), col("shingle").as("shingle_b"))
    a.join(b,
        col("block") === col("block_b") && col("shingle") === col("shingle_b") &&
          col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), graft.queries.Catalog.rnd(col("jaccard"), 6).as("jaccard"))
  }

  /** SimHash near-duplicate pairs: documents whose 60-bit SimHash
    * fingerprints are within `maxHamming` bits. Pigeonhole banding: split
    * the fingerprint into `maxHamming + 1` segments — any pair within the
    * distance budget agrees EXACTLY on at least one segment — so
    * candidates come from equi-joins on (segment index, segment value),
    * then `bit_count(a XOR b)` verifies. O(n·segments) + collision joins,
    * never O(n²).
    */
  def simhashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    val segments = maxHamming + 1
    val segBits = bits / segments
    // Fingerprint is ONE narrow per-row pass (tokenize→hash→vote inside a
    // codegen'd kernel) — no token explode, no per-doc aggregation: at
    // 100 TB the only exchanges left are the banded candidate joins.
    val fp = docs
      .select(col(idCol).as("doc"),
        graft.functions.SimHashText.simhashText(col(textCol)).as("fp"))

    val banded = fp.select(col("doc"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(segments - 1)), i =>
        call_function("shiftright", col("fp"), i * segBits)
          .bitwiseAND(lit((1L << segBits) - 1)))).as(Seq("seg", "segval")))

    val a = banded.select(col("doc").as("a_id"), col("fp").as("fp_a"),
      col("seg"), col("segval"))
    val b = banded.select(col("doc").as("b_id"), col("fp").as("fp_b"),
      col("seg").as("seg_b"), col("segval").as("segval_b"))
    // Emit-once: a qualifying pair collides in EVERY segment where its
    // fingerprints agree — keep only the lowest such segment, so no
    // dedup aggregation over the candidate stream is needed.
    val mask = (1L << segBits) - 1
    val xorFp = col("fp_a").bitwiseXOR(col("fp_b"))
    def segEqual(s: Int): Column =
      call_function("shiftright", xorFp, lit(s * segBits)).bitwiseAND(lit(mask)) === 0
    val firstEqualSeg = (1 until segments)
      .foldLeft(when(segEqual(0), lit(0)))((acc, s) => acc.when(segEqual(s), lit(s)))
    a.join(b, col("seg") === col("seg_b") && col("segval") === col("segval_b") &&
        col("a_id") < col("b_id"))
      .filter(col("seg") === firstEqualSeg)
      .select(col("a_id"), col("b_id"),
        bit_count(xorFp).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicate pairs, exact all-pairs form: every
    * (a, b) with cosine ≥ threshold. Quadratic — the verifiable
    * small-scale oracle; use [[embeddingNearDuplicatesLsh]] at corpus
    * scale.
    */
  def embeddingNearDuplicates(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("a_id"),
      col(vecCol).cast("array<double>").as("va"))
    val b = emb.select(col(idCol).as("b_id"),
      col(vecCol).cast("array<double>").as("vb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cosine", graft.functions.VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"),
        graft.queries.Catalog.rnd(col("cosine"), 6).as("cosine"))
  }

  /** Embedding-cosine near-dups via BANDED sign-LSH blocking: `bands`
    * independent hyperplane families of `planes` bits each (one fused
    * bucket computation, bit-sliced into per-band keys); candidates
    * collide on ANY band, then exact cosine verification —
    * O(n·collisions), never O(n²).
    *
    * Tuning at corpus scale (the knobs minhash banding already exposes):
    * more `planes` per band → smaller blocks (collision fan-out
    * ~n²/2^planes per band on skewed corpora); more `bands` → recall
    * (P[candidate] = 1−(1−p^planes)^bands for pair agreement prob p). A
    * single 8-plane band (the old shape) is `bands = 1`.
    *
    * Emit-once: a pair colliding in several bands is emitted only from
    * its FIRST agreeing band — a predicate on the full bucket both rows
    * carry, not a distinct over candidate pairs (no candidate shuffle).
    */
  def embeddingNearDuplicatesLsh(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int = 8, dim: Int = 64, bands: Int = 1): DataFrame = {
    require(planes * bands <= 63, "planes*bands must fit a signed long")
    val bucketed = Similarity.withBucket(
      emb.select(col(idCol).as("doc"), col(vecCol)), vecCol, planes * bands, dim)
    val mask = (1L << planes) - 1
    def bandKey(bucket: Column, b: Int): Column =
      shiftright(bucket, b * planes).bitwiseAND(lit(mask))
    val keys = array((0 until bands).map(b => bandKey(col("bucket"), b)): _*)
    val banded = bucketed.select(col("doc"), col("bucket"), col(vecCol),
      posexplode(keys).as(Seq("band", "bk")))

    def bandEqual(i: Int): Column =
      bandKey(col("bucket_a"), i) === bandKey(col("bucket_b"), i)
    val firstEqualBand = (1 until bands)
      .foldLeft(when(bandEqual(0), lit(0)))((acc, i) => acc.when(bandEqual(i), lit(i)))

    val a = banded.select(col("doc").as("a_id"), col("bucket").as("bucket_a"),
      col("band"), col("bk"), col(vecCol).cast("array<double>").as("va"))
    val b = banded.select(col("doc").as("b_id"), col("bucket").as("bucket_b"),
      col("band").as("band_b"), col("bk").as("bk_b"),
      col(vecCol).cast("array<double>").as("vb"))
    a.join(b, col("band") === col("band_b") && col("bk") === col("bk_b") &&
        col("a_id") < col("b_id"))
      .filter(col("band") === firstEqualBand)
      .withColumn("cosine", graft.functions.VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"),
        graft.queries.Catalog.rnd(col("cosine"), 6).as("cosine"))
  }

  /** MinHash + LSH near-duplicate pairs — the scale path.
    *
    * shingle → K minhash signatures (nested HOF, one pass per doc) →
    * band buckets (join key = (band, hash of the band's signature rows)) →
    * candidate pairs from same-bucket docs → exact Jaccard verification on
    * the candidates only. Cost is O(n·K) + a bucket-join whose fan-out is
    * the duplicate rate, never O(n²).
    */
  def minhashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")

    val sh = docs
      .select(col(idCol).as("doc"),
        WordShingles.wordShingles(col(textCol)).as("shingles"))
      .filter(size(col("shingles")) > 0)

    // All band bucket ids in one codegen'd pass per doc (see BandMinhash);
    // posexplode yields (band, bh) rows for the bucket join. The full band
    // array rides along so a pair is emitted only from the FIRST band where
    // the signatures agree — no dedup aggregation over candidates.
    val banded = sh
      .select(col("doc"),
        graft.functions.BandMinhash.bandMinhash(col("shingles"), numHashes, bands).as("bhs"))
      .select(col("doc"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))

    def bandEqual(i: Int): Column =
      element_at(col("bhs_a"), i + 1) === element_at(col("bhs_b"), i + 1)
    val firstEqualBand = (1 until bands)
      .foldLeft(when(bandEqual(0), lit(0)))((acc, i) => acc.when(bandEqual(i), lit(i)))

    val candidates = banded
      .select(col("doc").as("a_id"), col("bhs").as("bhs_a"), col("band"), col("bh"))
      .join(banded.select(col("doc").as("b_id"), col("bhs").as("bhs_b"),
          col("band").as("band_b"), col("bh").as("bh_b")),
        col("band") === col("band_b") && col("bh") === col("bh_b") && col("a_id") < col("b_id"))
      .filter(col("band") === firstEqualBand)
      .select(col("a_id"), col("b_id"))

    val shA = sh.select(col("doc").as("a_id"), col("shingles").as("sh_a"))
    val shB = sh.select(col("doc").as("b_id"), col("shingles").as("sh_b"))
    candidates
      .join(shA, "a_id").join(shB, "b_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter").cast("long").as("inter"),
        graft.queries.Catalog.rnd(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental near-duplicate detection — the MinHash analog of
    * [[incrementalExact]], against a persisted
    * [[graft.sources.BandStore]]: the corpus was banding-fingerprinted
    * once at ingest; each new batch fingerprints only ITSELF, prunes the
    * store to the `bh_bucket` partitions its band hashes can collide
    * with, equi-joins on (band, bucket-hash), and exactly verifies the
    * candidates' Jaccard — re-shingling, per verification, only the few
    * corpus docs that collided (an id-semi-join against the docs table,
    * bucket-prunable at scale). The corpus is never re-fingerprinted:
    * probe cost is O(delta + collisions), the shape that survives a
    * daily re-crawl at 100 TB.
    *
    * Emit-once: a (batch, corpus) pair colliding in several bands
    * surfaces only from the FIRST band where the stored and probe
    * signatures agree — both sides carry their full band arrays, so
    * this is a filter, not a distinct.
    */
  /** The probe half of [[incrementalNearDuplicates]]: candidate
    * (batch, corpus) id pairs from the persisted band store — exposed
    * separately so the plan (bucket-pruned store scan, single batch
    * fingerprint, emit-once band filter) stays auditable after the
    * composition checkpoints it.
    */
  /** Plan-audit form: returns the lazy candidate frame (the composing
    * operator, [[incrementalNearDuplicates]], is the production entry).
    * Skips the band-frame persist so the audited plan shows the full
    * fingerprint lineage and nothing is left cached behind the caller's
    * back (the composing operator persists and unpersists instead).
    */
  def nearDupCandidates(
      batch: DataFrame, store: graft.sources.BandStore.Store,
      idCol: String, textCol: String): DataFrame =
    nearDupCandidatesWithBands(batch, store, idCol, textCol,
      persistBands = false)._1

  /** Internal form that also returns the (persisted) batch band frame so
    * the composing operator can unpersist it once the candidates are
    * checkpointed. The batch fingerprint feeds TWO consumers — the
    * bucket-prune collect (on a store of more than one bucket) and the
    * probe join — and without the persist
    * each one re-ran band_minhash over the whole delta (r10: the probe
    * fingerprinted the batch twice; the delta must be fingerprinted ONCE
    * for the O(delta + collisions) claim to hold with the honest constant).
    */
  private[graft] def nearDupCandidatesWithBands(
      batch: DataFrame, store: graft.sources.BandStore.Store,
      idCol: String, textCol: String,
      selfPairs: Boolean = false,
      persistBands: Boolean = true): (DataFrame, DataFrame) = {
    val bands = store.nBands
    // r18 measured and REJECTED: replacing the array-based emit-once
    // filter with a bhs-free join + distinct-over-matches (pair-identical:
    // "bands agree at i" ⟺ "a (band=i, bh) join match exists", and an
    // agreeing band's store row always survives the bucket pruning because
    // its bh equals the batch's). The narrower join sides (§2.3) lost to
    // the distinct's added exchange + stage barrier at bench scale on
    // every consumer: q97 2.01→2.31, q96 1.78→2.07, q122 1.38→1.69,
    // q111 1.11→1.23 (QueryTime min-of-5/7). The array filter dedups
    // inline with ZERO extra shuffle; at a true delta-probe scale the
    // arrays ride only the (small) batch side and the bucket-pruned store
    // columns, so the at-scale case for the distinct form is weak too.
    // Kept: n_sh projected out of the persisted band frame (dead weight).
    val bb0 = graft.sources.BandStore
      .bandRows(batch, idCol, textCol, store.numHashes, bands, store.buckets)
      .withColumnRenamed("c_id", "b_id")
      .select(col("b_id"), col("bhs"), col("band"), col("bh"), col("bh_bucket"))
    val bb =
      if (persistBands)
        bb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else bb0
    // a one-bucket store has nothing to prune: no collect job
    val probed =
      if (store.buckets == 1) store.rows
      else {
        val buckets = bb.select(col("bh_bucket")).distinct()
          .collect().map(_.getLong(0)) // ≤ store.buckets values
        store.rows.filter(col("bh_bucket").isin(buckets.toIndexedSeq: _*))
      }

    def bandEqual(i: Int): Column =
      element_at(col("bhs_b"), i + 1) === element_at(col("bhs_c"), i + 1)
    val firstEqualBand = (1 until bands)
      .foldLeft(when(bandEqual(0), lit(0)))((acc, i) => acc.when(bandEqual(i), lit(i)))

    // the self-pair guard is OPTIONAL: a batch re-crawl must not pair a
    // doc with its own stored fingerprint, but a decontamination probe
    // must flag a benchmark extract's own source doc (selfPairs = true
    // there — id-type-agnostic, where the old numeric id offset silently
    // NULLed out every candidate on string-keyed corpora)
    val joinCond = {
      val onBand = col("band") === col("band_c") && col("bh") === col("bh_c")
      if (selfPairs) onBand else onBand && col("b_id") =!= col("c_id")
    }
    val cands = bb
      .select(col("b_id"), col("bhs").as("bhs_b"), col("band"), col("bh"))
      .join(probed.select(col("c_id"), col("bhs").as("bhs_c"),
          col("band").as("band_c"), col("bh").as("bh_c")), joinCond)
      .filter(col("band") === firstEqualBand)
      .select(col("b_id"), col("c_id"))
    (cands, bb)
  }

  def incrementalNearDuplicates(
      batch: DataFrame, corpus: DataFrame,
      store: graft.sources.BandStore.Store,
      idCol: String, textCol: String, threshold: Double = 0.5,
      selfPairs: Boolean = false): DataFrame = {
    // snapshot the candidate pairs: they feed BOTH the output join and
    // the corpus id-semi-join — without the barrier Spark re-runs the
    // whole probe (batch re-fingerprint + store join) once per consumer.
    // Candidates are duplicate-rate-bounded, so the checkpoint is tiny.
    val (candsRaw, bb) =
      nearDupCandidatesWithBands(batch, store, idCol, textCol, selfPairs)
    val cands = candsRaw.localCheckpoint()
    bb.unpersist() // probe is materialized; the band frame has no more readers

    // shingle only the batch docs that actually collided — the same
    // candidate-id semi-join the corpus side gets below (r10: shingling
    // the WHOLE delta here cost a third full-delta pass per probe)
    val candBIds = cands.select(col("b_id")).distinct()
    val nBIds = candBIds.count()
    val shB = {
      val semi =
        if (nBIds * 64L <= graft.sources.GenStore.MaxTombstoneBroadcastBytes)
          batch.join(broadcast(candBIds), batch(idCol) === candBIds("b_id"), "left_semi")
        else batch.hint("shuffle_hash")
          .join(candBIds.hint("shuffle_hash"),
            batch(idCol) === candBIds("b_id"), "left_semi")
      semi.select(col(idCol).as("b_id"),
          WordShingles.wordShingles(col(textCol)).as("sh_b"))
        .filter(size(col("sh_b")) > 0)
    }
    val candIds = cands.select(col("c_id")).distinct()
    // The candidate-id set is duplicate-rate-bounded, but a boilerplate-
    // heavy batch can collide with much of the corpus — size-gate the
    // semi-join like the stores' liveRows tombstone joins (cands is
    // already checkpointed, so the gate count is a local scan, no recompute)
    val nCands = candIds.count()
    val shC = {
      val semi =
        if (nCands * 64L <= graft.sources.GenStore.MaxTombstoneBroadcastBytes)
          corpus.join(broadcast(candIds), corpus(idCol) === candIds("c_id"), "left_semi")
        else corpus.hint("shuffle_hash")
          .join(candIds.hint("shuffle_hash"),
            corpus(idCol) === candIds("c_id"), "left_semi")
      semi.select(col(idCol).as("c_id"),
        WordShingles.wordShingles(col(textCol)).as("sh_c"))
    }
    cands.join(shB, "b_id").join(shC, "c_id")
      .withColumn("inter", size(array_intersect(col("sh_b"), col("sh_c"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_b")) + size(col("sh_c")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("b_id"), col("c_id"), col("inter").cast("long").as("inter"),
        graft.queries.Catalog.rnd(col("jaccard"), 6).as("jaccard"))
  }

  /** Corpus-internal near-duplicate pairs served from a persisted
    * [[graft.sources.BandStore]] — the deployment-scale form of
    * [[minhashNearDuplicates]]: the corpus was banding-fingerprinted once
    * at ingest, so this self-joins the STORED band rows on (band, bucket
    * hash) and re-shingles only the docs that actually collided, for the
    * exact Jaccard verification (an id-semi-join, size-gated like the
    * stores' tombstone joins). Candidate emission is the same emit-once
    * first-agreeing-band filter as the inline operator — the output is
    * value-identical to [[minhashNearDuplicates]] at the store's
    * (numHashes, bands); the corpus text is never re-fingerprinted.
    */
  def storedNearDuplicates(
      corpus: DataFrame, store: graft.sources.BandStore.Store,
      idCol: String, textCol: String, threshold: Double = 0.7): DataFrame = {
    val bands = store.nBands
    def bandEqual(i: Int): Column =
      element_at(col("bhs_a"), i + 1) === element_at(col("bhs_b"), i + 1)
    val firstEqualBand = (1 until bands)
      .foldLeft(when(bandEqual(0), lit(0)))((acc, i) => acc.when(bandEqual(i), lit(i)))
    val rows = store.rows
    // snapshot: candidates feed the semi-join AND both sides of the
    // verify join — duplicate-rate-bounded, so the checkpoint is tiny.
    // (r18 measured and REJECTED a bhs-free join + distinct-over-matches
    // here too — see the note in [[nearDupCandidatesWithBands]]: q111
    // 1.11→1.23, q122 1.38→1.69; the inline array filter dedups with no
    // extra exchange.)
    val candidates = rows
      .select(col("c_id").as("a_id"), col("bhs").as("bhs_a"), col("band"), col("bh"))
      .join(rows.select(col("c_id").as("b_id"), col("bhs").as("bhs_b"),
          col("band").as("band_b"), col("bh").as("bh_b")),
        col("band") === col("band_b") && col("bh") === col("bh_b") &&
          col("a_id") < col("b_id"))
      .filter(col("band") === firstEqualBand)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint()
    val ids = candidates.select(col("a_id").as("cand_id"))
      .unionByName(candidates.select(col("b_id").as("cand_id"))).distinct()
    val nIds = ids.count()
    val sh = {
      val semi =
        if (nIds * 64L <= graft.sources.GenStore.MaxTombstoneBroadcastBytes)
          corpus.join(broadcast(ids), corpus(idCol) === ids("cand_id"), "left_semi")
        else corpus.hint("shuffle_hash")
          .join(ids.hint("shuffle_hash"),
            corpus(idCol) === ids("cand_id"), "left_semi")
      semi.select(col(idCol).as("doc"),
        WordShingles.wordShingles(col(textCol)).as("shingles"))
    }
    candidates
      .join(sh.select(col("doc").as("a_id"), col("shingles").as("sh_a")), "a_id")
      .join(sh.select(col("doc").as("b_id"), col("shingles").as("sh_b")), "b_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter").cast("long").as("inter"),
        graft.queries.Catalog.rnd(col("jaccard"), 6).as("jaccard"))
  }

  /** [[fuzzyDecontaminate]] probing a persisted [[graft.sources.BandStore]]
    * instead of re-fingerprinting the corpus: the benchmark (tiny)
    * fingerprints itself, prunes the store to its own bucket partitions,
    * and only the colliding corpus docs are re-shingled for the exact
    * Jaccard verification — [[incrementalNearDuplicates]] with the
    * benchmark as the "batch". Returns the distinct contaminated corpus
    * ids as `idCol`. Fuzzy decontamination has NO self-pair exclusion —
    * a benchmark extract must flag its own source doc — so the probe runs
    * with `selfPairs = true` (an earlier revision namespaced the bench
    * ids by a numeric offset instead, which silently NULLed every
    * candidate on string-keyed corpora and collided for ids ≥ 1e9).
    */
  def storedFuzzyDecontaminate(
      corpus: DataFrame, bench: DataFrame,
      store: graft.sources.BandStore.Store,
      idCol: String, textCol: String, threshold: Double = 0.3): DataFrame =
    incrementalNearDuplicates(bench, corpus, store, idCol, textCol, threshold,
        selfPairs = true)
      .select(col("c_id").as(idCol)).distinct()

  /** Fuzzy benchmark decontamination — the MinHash complement to exact
    * n-gram overlap scrubbing: a paraphrased or lightly-edited benchmark
    * extract shares most (not all) shingles with its source, so exact
    * 8-gram matching misses it while banded MinHash still collides.
    *
    * Asymmetric by design: the benchmark suite is tiny next to the
    * corpus (MBs vs 100 TB), so its banded keys BROADCAST and the corpus
    * streams past in one scan — same family/constants as
    * [[minhashNearDuplicates]] (portable sha256+affine hashes, emit-once
    * first-agreeing-band), then exact Jaccard verification on the
    * candidates only. Returns one row per contaminated train doc:
    * (idCol, n_bench_hits, max_jaccard).
    */
  def fuzzyDecontaminate(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    def shingled(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), WordShingles.wordShingles(col(textCol)).as("shingles"))
      .filter(size(col("shingles")) > 0)
    def banded(df: DataFrame, as: String) = df
      .select(col(as), col("shingles"),
        graft.functions.BandMinhash.bandMinhash(col("shingles"), numHashes, bands).as("bhs"))
      .select(col(as), col("shingles"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))

    val t = banded(shingled(train, "t_id"), "t_id")
      .select(col("t_id"), col("shingles").as("sh_t"), col("bhs").as("bhs_t"),
        col("band"), col("bh"))
    val b = banded(shingled(bench, "bench_id"), "bench_id")
      .select(col("bench_id"), col("shingles").as("sh_b"), col("bhs").as("bhs_b"),
        col("band").as("band_b"), col("bh").as("bh_b"))

    def bandEqual(i: Int): Column =
      element_at(col("bhs_t"), i + 1) === element_at(col("bhs_b"), i + 1)
    val firstEqualBand = (1 until bands)
      .foldLeft(when(bandEqual(0), lit(0)))((acc, i) => acc.when(bandEqual(i), lit(i)))

    t.join(broadcast(b), col("band") === col("band_b") && col("bh") === col("bh_b"))
      .filter(col("band") === firstEqualBand)
      .withColumn("inter", size(array_intersect(col("sh_t"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_t")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("t_id").as(idCol))
      .agg(count(lit(1)).as("n_bench_hits"),
        graft.queries.Catalog.rnd(max(col("jaccard")), 6).as("max_jaccard"))
  }

  /** Cross-document frequent-line removal — the C4 global rule: a line
    * occurring in ≥ `minDocs` distinct documents is boilerplate and is
    * dropped corpus-wide (reference scope: jsonify2ai normalizes per
    * document; this is the corpus-level companion every pretraining
    * pipeline adds).
    *
    * Scale gate: on curated corpora the frequent-line set is tiny (it IS
    * the boilerplate) and broadcasts into the LEFT ANTI join; on a
    * web-scale crawl the >1-doc line set is itself huge (C4's global rule
    * famously needs a shuffle), and broadcasting it is the OOM. The set
    * is therefore materialized ONCE (`localCheckpoint` — the agg is not
    * recomputed by the join), counted, and the anti join picks its
    * strategy: broadcast at or below `maxBroadcastLines`, shuffled hash
    * join on the line key above it (both sides exchange on `line`; no
    * sort — the build side is the smaller frequent set).
    */
  def removeFrequentLines(lines: DataFrame, lineCol: String, docCol: String,
      minDocs: Long = 2L, maxBroadcastLines: Long = 4000000L): DataFrame = {
    val frequent = lines.select(col(docCol), col(lineCol)).distinct()
      .groupBy(col(lineCol)).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col(lineCol))
      .localCheckpoint()
    val n = frequent.count()
    if (n <= maxBroadcastLines)
      lines.join(broadcast(frequent), Seq(lineCol), "left_anti")
    else
      lines.hint("shuffle_hash")
        .join(frequent.hint("shuffle_hash"), Seq(lineCol), "left_anti")
  }

  /** Connected components over a near-duplicate pair list — the step a
    * dedup pipeline runs AFTER pair finding: transitive closure groups
    * a~b, b~c into one cluster whose id is the smallest member, and the
    * smallest member is the canonical survivor (deterministic, engine-
    * portable: pure integer mins). Output: one `(node, cluster_id,
    * is_canonical)` row per distinct endpoint.
    *
    * The pairs are checkpointed once. A graph whose edge rows fit
    * `spark.sql.autoBroadcastJoinThreshold` (the bound past which Spark
    * stops collecting a join side to the driver) is collected and solved
    * by a min-label union-find on the driver, and the labels come back as
    * a LocalRelation: one scan job instead of the ~2 jobs per round of
    * [[propagateClusters]], whose fixed costs dominate a graph of a few
    * hundred edges. A larger graph, a disabled threshold, a null id or
    * an id type other than int, bigint or string runs [[propagateClusters]]
    * on the checkpointed pairs. Both give identical rows: the minimum node
    * per component under Spark's ordering (strings by UTF-8 bytes), the
    * same id type and the same schema.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame = {
    val ends = pairs.select(col(aCol).as("x"), col(bCol).as("y")).localCheckpoint()
    smallEdges(ends) match {
      case Some(es) => unionFindLabels(ends, es)
      case None => propagateClusters(ends, "x", "y", maxIters)
    }
  }

  /** The id type the driver path supports: both ends the same int,
    * bigint or (default-collation) string type.
    */
  private def driverIdType(ends: DataFrame): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val Seq(x, y) = ends.schema.fields.toSeq.map(_.dataType)
    Option.when(x == y && (x == IntegerType || x == LongType || x == StringType))(x)
  }

  /** The checkpointed `(x, y)` rows, if their bytes fit the broadcast
    * threshold and no end is null. One job: each partition stops at its
    * share of the threshold, so the driver never receives more than the
    * threshold in total.
    */
  private def smallEdges(ends: DataFrame): Option[Array[(Any, Any)]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import org.apache.spark.sql.types.StringType
    val limit = ends.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    driverIdType(ends).filter(_ => limit > 0).flatMap { dt =>
      val rdd = ends.queryExecution.toRdd
      val share = math.max(1L, limit / math.max(1, rdd.getNumPartitions))
      val str = dt == StringType
      val parts = ends.sparkSession.sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
        var bytes = 0L
        var fits = true
        while (fits && rows.hasNext) {
          val r = rows.next()
          bytes += (r match { case u: UnsafeRow => u.getSizeInBytes.toLong; case _ => 32L })
          fits = bytes <= share && !r.isNullAt(0) && !r.isNullAt(1)
          if (fits) out += (
            if (str) (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
            else (r.get(0, dt), r.get(1, dt)))
        }
        Option.when(fits)(out.toArray)
      })
      Option.when(parts.forall(_.isDefined))(parts.flatMap(_.get))
    }
  }

  /** Min-label union-find over collected edges: nodes are ranked once in
    * Spark's order (strings by UTF-8 bytes, not UTF-16 code units), every
    * union keeps the lower rank as the root, so each root is its
    * component's minimum.
    */
  private def unionFindLabels(ends: DataFrame, edges: Array[(Any, Any)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val ord: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
      case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
      case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
      case _ => throw new IllegalArgumentException(s"unsupported id pair ($a, $b)")
    }
    val nodes = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toArray.distinct.sorted(ord)
    val rank = nodes.iterator.zipWithIndex.toMap
    val parent = Array.tabulate(nodes.length)(identity)
    def find(i: Int): Int = {
      var j = i
      while (parent(j) != j) { parent(j) = parent(parent(j)); j = parent(j) }
      j
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(rank(a)), find(rank(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val dt = ends.schema("x").dataType
    val nullable = ends.schema.fields.exists(_.nullable)
    val schema = StructType(Seq(StructField("node", dt, nullable),
      StructField("cluster_id", dt, nullable), StructField("is_canonical", BooleanType, nullable)))
    val rows = nodes.indices.map { i =>
      val root = find(i)
      Row(nodes(i), nodes(root), root == i)
    }
    import scala.jdk.CollectionConverters._
    ends.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** The distributed connected components behind [[duplicateClusters]]:
    * iterative min-label propagation WITH pointer jumping. Each round every
    * node takes the min of (its own label, its neighbours' labels, its
    * label's label). The neighbour step alone needs diameter rounds; the
    * label-of-label hop halves the remaining pointer chains each round, so
    * convergence is O(log diameter) — a 1M-long chain settles in ~20
    * rounds instead of 1M. Per round: TWO equi-joins (edges⋈labels,
    * labels⋈labels) + ONE min-aggregation — still the standard large-scale
    * CC shape — with a `localCheckpoint` truncating the iterative lineage
    * (an unchecked loop builds an exponentially deep plan) and a
    * driver-side converged? count on the CHANGED rows only.
    *
    * If the loop exits at `maxIters` with rows still changing, the labels
    * are WRONG (one component reported as several, each with a fake
    * canonical survivor — silent under-deduplication), so this THROWS
    * rather than returning them.
    */
  private[graft] def propagateClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
      .unionByName(pairs.select(col(bCol).as("x"), col(aCol).as("y")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("x").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("node").as("y"), col("label").as("ylabel")), Seq("y"))
        .groupBy(col("x")).agg(min(col("ylabel")).as("nl"))
        .select(col("x").as("node"), col("nl"))
      // pointer jump: my label's current label (label is always a node id,
      // so the self-join always hits; min keeps it monotone-decreasing).
      // Round 0 skips it — every label is still its own node there, so
      // label-of-label is the identity and the join would be a no-op.
      val withNbr = labels.join(nbrMin, Seq("node"), "left")
      val updated = (if (i == 0)
          withNbr.select(col("node"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        else {
          val jump = labels
            .join(labels.select(col("node").as("label"), col("label").as("ll")),
              Seq("label"))
            .select(col("node"), col("ll"))
          withNbr.join(jump, Seq("node"), "left")
            .select(col("node"),
              least(col("label"), coalesce(col("nl"), col("label")),
                coalesce(col("ll"), col("label"))).as("label"))
        }).localCheckpoint()
      val changed = updated
        .join(labels.select(col("node"), col("label").as("old")), Seq("node"))
        .filter(col("label") < col("old")).count()
      labels = updated
      converged = changed == 0
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters: not converged after $maxIters rounds (labels " +
        "still changing) — component diameter exceeds 2^maxIters; raise " +
        "maxIters rather than use these labels")
    labels.select(col("node"), col("label").as("cluster_id"),
      (col("node") === col("label")).as("is_canonical"))
  }
}
