package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the physical-plan properties the 100 TB
  * design depends on (SCALING.md). A future change that silently loses
  * pushdown, broadcasts, or top-k short-circuits fails here, not in
  * production.
  */
class PlanSpec extends AnyFunSuite with ScratchDirs {

  private val Sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // plan-string assertions match on scan LOCATION paths; the default
    // 100-char metadata truncation can cut the table dir name off deep
    // artifact paths (".../postings/e1" -> ".../postin...")
    .config("spark.sql.maxMetadataStringLength", "1000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), "filters not pushed")
    assert(!p.contains("l_comment"), "scan reads more than the projection")
  }

  test("q03: dimension joins broadcast, no shuffle on dims") {
    val p = plan("q03_regional_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "expected broadcast joins for nation/region")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("q05/q16: global top-k compiles to TakeOrderedAndProject, not a sort") {
    assert(plan("q05_global_top_orders").contains("TakeOrderedAndProject"))
    assert(plan("q16_knn_cosine").contains("TakeOrderedAndProject"))
  }

  test("q13: chunker runs as a codegen Generate over a two-column scan") {
    val p = plan("q13_chunks")
    assert(p.contains("Generate posexplode(chunk_text("))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q19: banding uses the single-pass band_minhash expression") {
    val p = plan("q19_minhash_lsh")
    assert(p.contains("band_minhash("))
    assert(!p.toLowerCase.contains("cartesianproduct"), "candidate join degraded to cartesian")
  }

  test("q32: range join is an equi hash join on bins, not a nested loop") {
    val p = plan("q32_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join degenerated to a non-equi nested loop")
    assert(p.contains("Join") && p.contains("_bin"), "expected bin-keyed equi join")
  }

  test("q20/q30: SimHash fingerprints are a narrow map — no token shuffle") {
    // The fingerprint must come from the per-row simhash_text kernel, not
    // an explode→groupBy→collect_list assembly (a token-level exchange of
    // the whole corpus at 100 TB).
    val p20 = plan("q20_simhash")
    assert(p20.contains("simhash_text("), "q20 lost the single-pass kernel")
    assert(!p20.contains("HashAggregate") && !p20.contains("collect_list"),
      "q20 fingerprint went through an aggregation")
    val p30 = plan("q30_simhash_near_dup")
    assert(p30.contains("simhash_text("), "q30 lost the single-pass kernel")
    assert(!p30.contains("collect_list"),
      "q30 fingerprint assembly re-grew a token-level shuffle")
  }

  test("q46: batch search ranks per-partition heap survivors, not the corpus") {
    // The bounded heap (MapPartitions) must sit BELOW the ranking window:
    // only k·nQueries·nPartitions survivors reach the query_id exchange.
    val p = plan("q46_batch_search")
    val mp = p.indexOf("MapPartitions")
    val win = p.indexOf("Window")
    assert(mp >= 0, "per-partition top-k heap missing from the plan")
    assert(win >= 0, "final exact ranking window missing")
    // executedPlan prints top-down: the window must appear ABOVE (before)
    // the MapPartitions reduction in the tree.
    assert(win < mp, "ranking window runs below the heap reduction")
  }

  test("q29: banded embedding LSH joins on (band, key) — no nested loop") {
    // The any-band candidate set must come from the posexploded equi-join,
    // never an OR-of-bands non-equi condition (that is a cartesian at
    // corpus scale; the OR form exists only in the DuckDB oracle).
    val p = plan("q29_embedding_near_dup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "banded LSH degenerated to a non-equi nested loop")
    assert(p.contains("band"), "expected band-keyed equi join")
  }

  test("skip-unchanged probe reads only (path, content_sig) from the store") {
    // The anti-join's store side must prune to the two key columns —
    // text/vector bytes of a 100 TB corpus must not ride the probe.
    import org.apache.spark.sql.functions._
    val dz = scratchDir("plan-dz")
    java.nio.file.Files.writeString(dz.resolve("a.txt"), "alpha beta gamma delta")
    val store = dz.resolve("store").toString
    graft.sources.ChunkStore.upsert(
      graft.sources.FileIngest.ingestDirectory(spark, dz.toString), store)
    val docs = graft.sources.FileIngest.parseDirectoryWithChat(spark, dz.toString)
    val p = graft.sources.FileIngest
      .skipUnchanged(docs, graft.sources.ChunkStore.read(spark, store))
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), "skip-unchanged lost the anti-join")
    val scanLine = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains(store.replace("\\", ""))).mkString
    assert(scanLine.contains("path") && scanLine.contains("content_sig"),
      "store scan lost the probe columns")
    assert(!scanLine.contains("vector") && !scanLine.contains("text:"),
      "store probe reads payload bytes it must prune")
  }

  test("q69: PQ candidates scan codes only; rerank broadcasts survivor ids") {
    val p = plan("q69_ann_pq")
    val codesRoot = graft.sources.VectorStore.pqPath(Sf).replace("\\", "")
    val codesScan = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains(codesRoot)).mkString
    assert(codesScan.nonEmpty, "no scan of the PQ codes artifact")
    // the path itself contains "embeddings.parquet…", so test the ReadSchema
    assert(codesScan.contains("ReadSchema: struct<vec_id:bigint,codes:array<tinyint>>"),
      "ADC candidate stage reads more than (vec_id, codes) — byte saving lost")
    assert(p.contains("BroadcastHashJoin"), "candidate ids not broadcast into rerank")
    assert(p.contains("TakeOrderedAndProject"), "top-k lost the short-circuit")
  }

  test("q70: repetition metrics stay a narrow map — no per-doc aggregation shuffle") {
    val p = plan("q70_gopher_quality")
    // the bigram mode is the sorted-run fold, not explode+groupBy
    assert(!p.contains("HashAggregate"), "per-doc metrics degraded to a groupBy")
    // only the scan fan-out repartition and the final orderBy may exchange
    assert("Exchange".r.findAllIn(p).size <= 2, "unexpected extra shuffle")
  }

  test("q71: resample flag rides a TakeOrdered + broadcast, not a global window") {
    val p = plan("q71_dsir_weights")
    assert(p.contains("TakeOrderedAndProject"), "top-100 lost the bounded heap")
    assert(p.contains("BroadcastHashJoin"), "selected flag not broadcast")
    assert(!p.contains("Window"), "global window single-partitions the corpus")
  }

  test("q73: batch PQ broadcasts query LUTs over the codes scan, no SMJ") {
    val p = plan("q73_batch_pq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query LUT frame not broadcast")
    assert(!p.contains("SortMergeJoin"), "batch PQ degraded to a sort-merge join")
  }

  test("q74: frequent-line set broadcasts into a left-anti join") {
    val p = plan("q74_global_line_dedup")
    assert(p.contains("LeftAnti"), "global removal lost the anti-join")
    assert(p.contains("BroadcastHashJoin"), "frequent-line set not broadcast")
  }

  test("q74 operator: oversized frequent-line set falls back to a shuffled anti join") {
    // Above the gate the anti join must exchange on the line key instead
    // of broadcasting (C4's global set does not fit one executor at web
    // scale) — and must stay a HASH join, not degrade to sort-merge.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lines = Seq((1L, 0, "common"), (1L, 1, "only-a"),
      (2L, 0, "common"), (2L, 1, "only-b"))
      .toDF("doc_id", "idx", "line")
    val gated = graft.operators.Dedup.removeFrequentLines(
      lines, "line", "doc_id", maxBroadcastLines = 0L)
    val p = gated.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), "gated removal lost the anti-join")
    assert(!p.contains("BroadcastHashJoin"), "oversized set still broadcasts")
    assert(p.contains("ShuffledHashJoin"), "fallback degraded from hash join")
    // both strategies keep the same answer
    val kept = gated.select(col("line")).collect().map(_.getString(0)).toSet
    assert(kept == Set("only-a", "only-b"))
  }

  test("q76: IVF-PQ prunes code partitions at the source, reads codes only") {
    val p = plan("q76_ivf_pq")
    val codesRoot = graft.sources.VectorStore.pqPath(Sf).replace("\\", "")
    val codesScan = p.linesIterator.filter(l =>
      l.contains(codesRoot) && l.contains("PartitionFilters")).mkString
    // the probe set is a partition filter on `cell`, printed as IN (…) up
    // to 10 values and as INSET above (Spark's OptimizeIn)
    val probed = """cell#\d+ (?:IN \(([^)]*)\)|INSET ([\d, ]+))""".r
      .findFirstMatchIn(codesScan)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)).split(",").map(_.trim.toInt).toSet)
    assert(probed.map(_.size).contains(graft.queries.PipelineCatalog.IvfProbes),
      s"probe set lost partition pruning on the codes table: $probed")
    assert(codesScan.contains("ReadSchema: struct<vec_id:bigint,codes:array<tinyint>>"),
      "ADC stage reads more than (vec_id, codes)")
    assert(p.contains("BroadcastHashJoin"), "rerank ids not broadcast")
  }

  test("q56/q57: top-k short-circuits; benchmark shingle set broadcasts") {
    // q56: frequency top-100 must be TakeOrderedAndProject over the
    // partially-aggregated tokens, never a global sort of the vocabulary
    val p56 = plan("q56_token_freq")
    assert(p56.contains("TakeOrderedAndProject"), "token top-k lost the short-circuit")
    // q57: the benchmark side must broadcast — a shuffled join would
    // exchange every corpus shingle at 100 TB
    val p57 = plan("q57_decontaminate")
    assert(p57.contains("BroadcastHashJoin"), "benchmark set not broadcast")
    assert(!p57.contains("SortMergeJoin"), "decontamination degraded to sort-merge")
  }

  test("q60: BM25 stats and df tables broadcast — no sort-merge join") {
    // postings are term-filtered before any shuffle (the inverted-index
    // lookup shape); the per-term df table and corpus stats broadcast
    val p = plan("q60_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "df/stats not broadcast")
    assert(!p.contains("SortMergeJoin"), "BM25 join degraded to sort-merge")
    assert(p.contains("TakeOrderedAndProject"), "top-k lost the short-circuit")
  }

  test("q62: batch ANN broadcasts probes and reduces via the bounded heap") {
    val p = plan("q62_batch_ann")
    assert(p.contains("BroadcastHashJoin"), "probe frame not broadcast")
    val mp = p.indexOf("MapPartitions")
    val win = p.indexOf("Window")
    assert(mp >= 0 && win >= 0 && win < mp,
      "per-query heap must sit below the exact ranking window")
    // the cell equi-join against the partitioned store prunes at runtime
    // (dynamic partition pruning on the partition column)
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
      "cell join does not dynamically prune store partitions")
  }

  test("q25/q27: ANN probes prune the persisted layout at the source") {
    // LSH: bucket probe list pushed into parquet (bucket-clustered files →
    // row-group skipping); IVF: cell probe prunes whole partitions.
    val p25 = plan("q25_ann_lsh")
    assert(p25.contains("PushedFilters: [In(bucket"),
      "LSH bucket probe not pushed to the parquet scan")
    val p27 = plan("q27_ann_ivf")
    assert(p27.contains("PartitionFilters") && p27.contains("cell"),
      "IVF probe does not prune cell partitions at the source")
  }

  test("q68: BM25 serving path scans the postings index, never the corpus") {
    // The persisted-TextIndex path must read term_bucket-pruned postings
    // (+ the small df side) and NOTHING else: no documents scan, no
    // tokenize/explode of corpus text. That is the difference between an
    // inverted-index lookup and re-indexing the corpus per query at 100 TB.
    val p = plan("q68_bm25_indexed")
    assert(p.contains("postings"), "serving path lost the postings scan")
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
      "postings scan not pruned by term_bucket partitions")
    assert(!p.contains("documents.parquet]"), "serving path scans the corpus")
    assert(!p.contains("Generate"), "serving path re-tokenizes (explode) at query time")
  }

  test("q151: hybrid serving — both arms store-served, cell-pruned dense arm, no corpus text") {
    // the production fused ranking must be two INDEX lookups + a fuse:
    // sparse arm = term_bucket-pruned postings (q68's contract), dense
    // arm = cell-partition-pruned vectors (q27's contract) restricted to
    // document ids (a doc_id-only corpus projection — never text), and
    // no query-time tokenization or full-vector scan anywhere.
    val p = plan("q151_hybrid_served")
    assert(p.contains("postings"), "sparse arm lost the postings scan")
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
      "postings scan not pruned by term_bucket partitions")
    assert(p.contains("cell"),
      "dense arm lost its cell pruning")
    assert(!p.contains("Generate"), "hybrid serve re-tokenizes at query time")
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).toList
    assert(schemas.nonEmpty)
    assert(!schemas.exists(_.contains("text")),
      s"hybrid serve reads corpus text: $schemas")
  }

  test("q77: incremental index — serving scans the index, update reads only the delta") {
    // Serving side: same contract as q68, over the base+delta artifact —
    // term_bucket-pruned postings (+ small broadcast tombstones), never
    // the corpus, no query-time tokenization.
    val p = plan("q77_inc_text_index")
    assert(p.contains("postings"), "serving path lost the postings scan")
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
      "postings scan not pruned by term_bucket partitions")
    assert(!p.contains("documents.parquet]"), "serving path scans the corpus")
    assert(!p.contains("Generate"), "serving path re-tokenizes (explode) at query time")

    // Update side: the q77 artifact exists after plan() above. (a) The
    // new-segment postings frame reads NOTHING from the stored index —
    // its only scan is the delta's own source; a maintenance pass that
    // re-reads base postings is a rebuild in disguise at 100 TB.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = graft.queries.PipelineCatalog.q77EnsureIncremental(spark, Sf)
    val delta = Seq((9000001L, "spark delta doc")).toDF("doc_id", "text")
      .select(col("doc_id").as("doc"),
        graft.operators.TextAnalytics.tokens(col("text")).as("toks"))
      .select(col("doc"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val segPlan = graft.sources.TextIndex.segmentPostings(delta, gen = 9L, buckets = 1)
      .queryExecution.executedPlan.toString
    assert(!segPlan.contains("postings") && !segPlan.contains("parquet"),
      "delta segment build reads stored state")
    // (b) The replaced/deleted lookup touches ONLY the doclens
    // bookkeeping table (one row per doc version), never the postings or
    // the corpus.
    val lookPlan = graft.sources.TextIndex
      .liveAffectedDoclens(spark, path, Seq(0L).toDF("doc"))
      .queryExecution.executedPlan.toString
    assert(lookPlan.contains("doclens"), "affected lookup lost the doclens scan")
    assert(!lookPlan.contains("/postings"), "affected lookup scans postings")
    assert(!lookPlan.contains("documents.parquet]"), "affected lookup scans the corpus")
  }

  test("q81/q82: LM scoring joins hash on token keys; sem-dedup pairs stay cell-local") {
    // q81: the count-table joins must be hash joins on the token keys —
    // never a nested loop (the LM counts of a 100 TB corpus do not
    // broadcast) — and the per-doc fold must not be a global Window.
    val p81 = plan("q81_bigram_lm")
    assert(!p81.contains("BroadcastNestedLoopJoin") && !p81.contains("CartesianProduct"),
      "LM scoring degenerated to a non-equi join")
    assert(!p81.contains("Window"), "per-doc fold became a window")
    // q82: the quadratic stage must be an equi-join on the cell key (the
    // SemDeDup boundedness argument), not a corpus cross product.
    val p82 = plan("q82_sem_dedup")
    assert(!p82.contains("BroadcastNestedLoopJoin") && !p82.contains("CartesianProduct"),
      "sem-dedup pairs degenerated to a cross product")
    assert(p82.contains("cell"), "pair join lost the cell key")
  }

  test("q83/q84: span dedup joins on shingle hash; mixture rates broadcast over the corpus") {
    val p83 = plan("q83_dup_spans")
    assert(!p83.contains("CartesianProduct") && !p83.contains("BroadcastNestedLoopJoin"),
      "span dedup degenerated to a cross product")
    val p84 = plan("q84_mixture_sample")
    assert(p84.contains("BroadcastHashJoin"),
      "per-lang rates must broadcast over the corpus scan")
    assert(!p84.contains("SortMergeJoin"), "tiny rates dim degraded to sort-merge")
  }

  test("ingest lineage stays inside whole-stage codegen (no Janino 64 KB fallback)") {
    // The round-5 regression: pushdown copies path/guard expressions into
    // the fused ingest stage many times over; if any stage's generated
    // method outgrows the JVM 64 KB limit, Janino fails and the WHOLE
    // stage silently drops to interpreted execution (q33/q34/q54 ran
    // ~60% slower). codegenStringSeq compiles every stage and reports
    // UNAVAILABLE (-1) bytecode stats on failure — assert none do.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    for (q <- Seq("q33_ingest_text", "q34_ingest_route", "q54_incremental_ingest")) {
      val df = SparkEntry.queries(q)(s2, Sf)
      val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(
        df.queryExecution.executedPlan)
      assert(stages.nonEmpty, s"$q: no whole-stage codegen at all")
      stages.foreach { case (subtree, _, stats) =>
        assert(stats.maxMethodCodeSize > 0,
          s"$q: a codegen stage failed to compile (interpreted fallback): " +
            subtree.linesIterator.next().take(120))
      }
    }
  }

  test("q78/q79: incremental vector artifacts keep pruning; delta assignment reads nothing stored") {
    // Serving side: cell probes must still prune partitions THROUGH the
    // tombstone filter, and the tombstone list rides a broadcast join.
    val p78 = plan("q78_inc_ivf")
    assert(p78.contains("PartitionFilters") && p78.contains("cell"),
      "IVF probe lost cell partition pruning under the live view")
    assert(p78.contains("tombstones"), "live view lost the tombstone filter")
    assert(p78.contains("BroadcastHashJoin"), "tombstone filter not broadcast")
    val p79 = plan("q79_inc_pq")
    assert(p79.contains("codes"), "PQ candidates lost the codes scan")
    assert(p79.contains("tombstones"), "codes live view lost the tombstone filter")

    // Update side: labelling a delta is stored-literal arithmetic only —
    // no scan of stored vectors/codes/corpus (a maintenance pass that
    // re-reads them is a rebuild in disguise).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = graft.queries.PipelineCatalog.q78EnsureIncremental(spark, Sf)
    val cs = graft.sources.VectorStore.read(spark, path, 8, 64).centroids
    val delta = Seq((9000001L, Array.fill(64)(0.1f)))
      .toDF("vec_id", "embedding")
    val assignPlan = graft.sources.VectorStore
      .assignDelta(delta, "embedding", cs, planes = 8, dim = 64, gen = 9L)
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("parquet"),
      "delta assignment scans stored state")
  }

  test("q93: benchmark bands broadcast over the streaming corpus side") {
    val p = plan("q93_fuzzy_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark banded keys must broadcast — a shuffle here moves the corpus")
    assert(!p.contains("SortMergeJoin"),
      "corpus x benchmark candidate join degraded to sort-merge")
  }

  test("q94/q95: rank windows are partitioned — no global single-partition sort") {
    // the canonical scale killer is Window.partitionBy() empty: every row
    // lands in one task. Both dealing queries must keep their stratum /
    // cell partition keys in the physical Window spec.
    val p94 = plan("q94_balanced_shards")
    assert(p94.contains("windowspecdefinition(size_class"),
      "q94 window lost its (size_class, stratum) partitioning")
    val p95 = plan("q95_cluster_balance")
    assert(p95.contains("windowspecdefinition(cell"),
      "q95 window lost its cell partitioning")
  }

  test("q96: band-store probe prunes bucket partitions; corpus never re-fingerprints") {
    // the final plan starts from the checkpointed candidates: it must
    // verify (shingle joins) without ever re-running band_minhash
    val p = plan("q96_inc_near_dup")
    assert(!p.contains("band_minhash"),
      "verification stage must not re-fingerprint anything")
    assert(!p.toLowerCase.contains("cartesianproduct"))

    // the probe subplan (exposed pre-checkpoint): bucket-pruned store
    // scan, batch-side fingerprint only
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val store = graft.sources.BandStore.ensure(spark, docs, "doc_id", "text", Sf)
    val batch = docs.select((col("doc_id") + 500000).as("doc_id"), col("text"))
    def probePlan(s: graft.sources.BandStore.Store): String = graft.operators.Dedup
      .nearDupCandidates(batch, s, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val probe = probePlan(store)
    // a store of more than one bucket prunes its scan to the batch's
    // buckets (this corpus is sized to one; the 64-bucket layout is not)
    val multi = scratchDir("plan-bands").resolve("bands").toString
    graft.sources.BandStore.write(docs, "doc_id", "text", multi, 32, 8)
    LegacyStores.bandStore(spark, multi)
    val pruned = probePlan(graft.sources.BandStore.read(spark, multi, 32, 8))
    assert(pruned.contains("PartitionFilters") && pruned.contains("bh_bucket"),
      "store probe lost bh_bucket partition pruning")
    assert(probe.contains(graft.sources.BandStore.storePath(Sf)),
      "candidates must come from the persisted store")
    assert("band_minhash\\(".r.findAllIn(probe).size >= 1,
      "batch side must fingerprint itself")
    // exactly ONE documents scan (the batch side); a second one means the
    // corpus is being re-fingerprinted instead of served from the store
    assert("documents\\.parquet\\]".r.findAllIn(probe).size == 1,
      "corpus side must come from the store scan, not a docs re-fingerprint")
  }

  test("q91: bloom probe touches only the batch; corpus contributes one sig column") {
    val p = plan("q91_bloom_dedup")
    // the mightContain UDF must sit on the batch side (filter), and the
    // corpus verification join must be a hash join on the signature
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"),
      "signature verification join degraded")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("q99: the composed recipe stays hash-join-only and drops q98's inner sort") {
    val p = plan("q99_full_recipe")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.toLowerCase.contains("cartesianproduct"),
      "full recipe degenerated to a non-equi join")
    // both MinHash gates are served from the persisted BandStore (their
    // probes are checkpointed before the final plan): the recipe's own
    // plan must never fingerprint the corpus
    assert(!p.contains("band_minhash"),
      "q99 must serve banding from the BandStore, not re-fingerprint")
    // q98's trailing orderBy feeds a join here; EliminateSorts must have
    // removed it — exactly ONE range partitioning (q99's own final sort)
    assert("rangepartitioning".r.findAllIn(p).size == 1,
      "an inner component's presentation sort survived under the join")
  }

  test("q102: blocklist broadcasts; admission rank is range-bucketed, never a bare domain window") {
    val p = plan("q102_domain_curation")
    // thousands of blocked domains must never shuffle the corpus — the
    // blocklist join has to stay a broadcast hash join
    assert(p.contains("BroadcastHashJoin"),
      "domain blocklist join lost its broadcast")
    // r11 (VERDICT r10 #2): the exact admission rank ships as
    // Curation.saltedExactRank — every window whose partition key leads
    // with `domain` must also carry the __rb range bucket, so a
    // mega-domain can never pin a single window task. (The offsets
    // running sum windows over the ≤ salts-rows-per-domain count frame —
    // bounded by construction — and also carries __rb, as its order key.)
    val domWins = "windowspecdefinition\\(domain#\\d+, [^ ,]+".r.findAllIn(p).toList
    assert(domWins.nonEmpty, "q102 lost its per-domain rank windows")
    assert(domWins.forall(_.contains("__rb")),
      s"a bare per-domain window reappeared in q102: $domWins")
  }

  test("q106: PII redaction is a narrow pass over a pruned two-column scan") {
    val p = plan("q106_pii_redact")
    // the three regex passes must fuse with the scan: reading any column
    // beyond (doc_id, text) or shuffling before the presentation sort
    // would turn a pipelined O(bytes) pass into real cluster work
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "PII scan reads more than (doc_id, text)")
    // allowed exchanges: the presentation sort's rangepartitioning and the
    // small-input fanOut round-robin (a guarded no-op on multi-row-group
    // production files — Tables.fanOut). A hashpartitioning shuffle would
    // mean the regex passes picked up a key they don't have.
    val exch = "Exchange [A-Za-z]+".r.findAllIn(p).toList
    assert(exch.forall(e => e.contains("rangepartitioning") ||
        e.contains("RoundRobinPartitioning")),
      s"unexpected shuffle kind in q106: $exch\n$p")
    assert(exch.count(_.contains("rangepartitioning")) <= 1,
      s"more than one sort exchange in q106: $exch")
  }

  test("q107: every packing window carries the __rb bucket (no global-order window)") {
    val p = plan("q107_sequence_packing")
    val wins = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(wins.nonEmpty, "q107 lost its prefix-sum windows")
    assert(wins.forall(_.contains("__rb")),
      s"a global-order window reappeared in q107: $wins")
  }

  test("q112: manifest windows carry __rb; corpus total joins as a broadcast") {
    // the inverse-manifest explode rides q107's salted prefix sum — the
    // same no-global-order-window invariant — and total_tok must arrive
    // as a broadcast one-row aggregate, never a shuffle keyed on nothing
    val p = plan("q112_packed_manifest")
    val wins = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(wins.nonEmpty, "q112 lost its prefix-sum windows")
    assert(wins.forall(_.contains("__rb")),
      s"a global-order window reappeared in q112: $wins")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "q112's corpus-total join lost its broadcast")
  }

  test("q113: mixture weights — window-free, pruned scan, broadcast normalizer") {
    // one partial-aggregated groupBy(source) over (source, text), a
    // broadcast one-row normalizer, nothing else: a window, an unpruned
    // scan, or a non-broadcast join would mean the ≤|sources|-row plan
    // grew corpus-shaped work
    val p = plan("q113_mixture_weights")
    assert(!p.contains("windowspecdefinition"), s"q113 grew a window:\n$p")
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).toList
    assert(schemas.nonEmpty, "no parquet scan in q113's plan")
    schemas.foreach { sc =>
      val cols = sc.split(",").map(_.takeWhile(_ != ':')).toSet
      assert(cols.subsetOf(Set("source", "text")),
        s"q113 scan reads more than (source, text): $sc") }
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "q113's normalizer join lost its broadcast")
  }

  test("q115: ablation curve — __rb windows only, candidate lengths broadcast") {
    // five candidate lengths over the whole corpus must fan out as a
    // broadcast against the ONE shared prefix-sum frame — a shuffle keyed
    // on seq_len or a second prefix pass per L would multiply the packing
    // cost by the ablation width
    val p = plan("q115_packing_curve")
    val wins = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(wins.nonEmpty, "q115 lost its prefix-sum windows")
    assert(wins.forall(_.contains("__rb")),
      s"a global-order window reappeared in q115: $wins")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "q115's candidate-length fan-out lost its broadcast")
  }

  test("q116: noise-span merge is an in-array fold — no window at all") {
    // the interval union runs as collect_list + array_sort + aggregate
    // inside the per-doc hash aggregate; a window here (the "easy"
    // islands formulation the ORACLE uses) would re-sort candidate rows
    // per doc and regress the no-window contract the salted kernels keep
    val p = plan("q116_noise_spans")
    assert(!p.contains("windowspecdefinition"), s"q116 grew a window:\n$p")
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).toList
    assert(schemas.nonEmpty, "no parquet scan in q116's plan")
    schemas.foreach { sc =>
      val cols = sc.split(",").map(_.takeWhile(_ != ':')).toSet
      assert(cols.subsetOf(Set("doc_id", "text")),
        s"q116 scan reads more than (doc_id, text): $sc") }
  }

  test("q117: recipe windows all carry __rb; split bases join as a broadcast") {
    // the composed recipe must inherit every component's scale shape: the
    // only windows are the salted prefix sum's (__rb-bucketed), and the
    // 2-row per-split base frame joins back broadcast, never shuffled
    val p = plan("q117_train_prep")
    val wins = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(wins.nonEmpty, "q117 lost its prefix-sum windows")
    assert(wins.forall(_.contains("__rb")),
      s"a global-order window appeared in q117: $wins")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "q117's split-base join lost its broadcast")
  }

  test("q119: epoch-shuffle ranks are range-bucketed — 2 epochs never pin 2 tasks") {
    // per-epoch rank is the hot-key shape taken to the extreme (two keys
    // over the whole corpus): every rank window must carry the __rb
    // bucket or each epoch's entire corpus sorts in one task
    val p = plan("q119_epoch_shuffle")
    val wins = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(wins.nonEmpty, "q119 lost its rank windows")
    assert(wins.forall(_.contains("__rb")),
      s"a bare per-epoch window appeared in q119: $wins")
  }

  test("q114: the turn-offset window is conv-partitioned, never global-order") {
    // per-conversation prefix sums are the BENIGN window shape (partition
    // key cardinality = conversations, partition size = turns) — but only
    // while the partition spec actually carries conv_id; an empty
    // partition spec here is the q107 scale-killer wearing chat clothes
    val p = plan("q114_sft_mask")
    val wins = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(wins.nonEmpty, "q114 lost its offset window")
    assert(wins.forall(_.contains("conv_id")),
      s"a window without conv_id partitioning in q114: $wins")
  }

  test("q108: the holdout split adds zero exchanges over q85's lineage") {
    // q108 = q85 + one codegen'd projection (hash60 of a column already
    // in hand). Any extra shuffle would mean the split stopped being a
    // free rider on the dedup lineage — the property its 100 TB story
    // rests on.
    val ex85 = "Exchange ".r.findAllIn(plan("q85_dedup_apply")).size
    val ex108 = "Exchange ".r.findAllIn(plan("q108_leakage_split")).size
    assert(ex108 == ex85,
      s"q108 has $ex108 exchanges vs q85's $ex85 — the split projection " +
        "must not introduce plan work")
  }

  test("q85: dedup apply serves the persisted ClusterStore — no fingerprint, no window, pruned scans") {
    // r17: the MinHash→verify→CC pass runs ONCE at publish time
    // (ClusterStore.write); the serve is a corpus-id left-join against
    // the stored (doc_id, cluster_id) rows. Any band_minhash or window
    // in this plan means the top-tier recomputation came back.
    val p = plan("q85_dedup_apply")
    assert(!p.contains("band_minhash"),
      "q85's serve re-fingerprints the corpus instead of reading the ClusterStore")
    assert(!p.contains("windowspecdefinition"), "q85's serve grew a window")
    assert(!p.contains("CartesianProduct"), "q85 grew a cartesian product")
    assertScansWithin(p, "q85", Set("doc_id", "cluster_id"))
  }

  test("q154: incremental cluster serve is a pure store read — no fingerprint, no window") {
    // the append path's cost lives at maintenance time; the SERVE must be
    // the q85 store-read contract over the scenario store
    val p = plan("q154_inc_clusters")
    assert(!p.contains("band_minhash"),
      "q154's serve re-fingerprints instead of reading the store")
    assert(!p.contains("windowspecdefinition"), "q154's serve grew a window")
    // the scenario store HAS tombstones (the doc-45 relabel), so the
    // serve legitimately scans the (doc)-keyed tombstone segments too
    assertScansWithin(p, "q154", Set("doc_id", "cluster_id", "doc"))
  }

  test("q109: every budget-selection window carries the __rb bucket (no global-order window)") {
    // same invariant as q107, on the quality-packed order key: the global
    // prefix sum must stay in its salted two-phase form — a keyless
    // ordered window here would serialize the corpus onto one task
    val p = plan("q109_budget_select")
    val wins = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(wins.nonEmpty, "q109 lost its prefix-sum windows")
    assert(wins.forall(_.contains("__rb")),
      s"a global-order window reappeared in q109: $wins")
  }

  test("q110: mixture diagnostics is window-free and reads only (source, text)") {
    // the statistic folds over existing (source, token) pairs + broadcast
    // totals: a window or an unpruned scan would mean the sparse-JS
    // formulation regressed to a dense or sorted shape
    val p = plan("q110_mixture_diag")
    assert(!p.contains("windowspecdefinition"),
      s"q110 grew a window:\n$p")
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).toList
    assert(schemas.nonEmpty, "no parquet scan in q110's plan")
    schemas.foreach { sc =>
      val cols = sc.split(",").map(_.takeWhile(_ != ':')).toSet
      assert(cols.subsetOf(Set("source", "text")),
        s"q110 scan reads more than (source, text): $sc") }
  }

  test("q88: span-form gate runs zero jobs at plan construction (stats, not count)") {
    // r11 verdict #4: the window-vs-salted gate used docs.count() — a full
    // eager scan of the corpus lineage every time q88/q99 was CONSTRUCTED.
    // The gate now reads optimizedPlan.stats; building the frame must
    // launch no Spark job at all.
    val (df, prof) = graft.core.Telemetry.profile(spark, "q88 construction") {
      val df = SparkEntry.queries("q88_span_removal")(spark, Sf)
      df.queryExecution.executedPlan // force full planning, still no action
      df
    }
    // The ONE job construction legitimately runs is parquet schema
    // inference ("parquet at" — bounded footer metadata, per-table fixed
    // cost); anything else (count/head/collect-shaped stages) is an eager
    // gate regression.
    val started = prof.jobs.map(_.stages.map(_.name).mkString("|"))
    val offending = started
      .filterNot(_.split('|').forall(_.startsWith("parquet at ")))
    assert(offending.isEmpty,
      s"constructing q88 launched data job(s): $offending — the span-form " +
      "gate regressed to an eager action")
    // and with accurate small-corpus stats the gate must still pick the
    // window form (salted-by-default would mean the estimate was lost)
    assert(df.queryExecution.executedPlan.toString
        .contains("windowspecdefinition"),
      "tiny corpus no longer selects the window span form — plan-stats " +
      "estimate unavailable?")
  }

  test("span-form gate direction: planted row stats flip window->salted at the gate (r12 prescription #5)") {
    // The two span forms are VALUE-identical, so a gate regression (a
    // stats misread keeping the window form on a 100 TB corpus — one
    // unsplittable task per hot shingle class) is invisible to the
    // oracle; only a plan assertion can pin the gate's DIRECTION. CBO
    // propagates Range's exact rowCount through the projections, so
    // range(n) PLANTS a row count on either side of SpanSaltedDocsGate
    // without materializing anything.
    import org.apache.spark.sql.functions._
    val (docsGate, _) = graft.queries.PipelineCatalog.spanGateThresholds
    val orig = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      def planOf(n: Long): String = {
        val docs = spark.range(n).select(col("id").as("doc_id"),
          concat(lit("alpha beta gamma "), col("id").cast("string")).as("body"))
        // planted stats must actually arrive at the gate
        assert(docs.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(n)),
          s"CBO did not propagate Range's rowCount=$n — the test plants nothing")
        graft.queries.PipelineCatalog.spanRemovalForGateSpec(docs)
          .queryExecution.executedPlan.toString
      }
      val below = planOf(docsGate - 1)
      assert(below.contains("windowspecdefinition"),
        "below the gate the keeper step must stay the window form " +
        "(salted-by-default = the fixed-overhead regression)")
      assert(!below.contains("__salt"),
        "below-gate plan unexpectedly carries the salted machinery")
      val above = planOf(docsGate + 1)
      assert(above.contains("__salt"),
        "above the gate the keeper step must take the salted form — " +
        "the 100 TB skew-safety regression the oracle cannot see")
      assert(!above.contains("windowspecdefinition"),
        "above-gate plan still contains an unsplittable class window")
    } finally orig match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("span-form gate direction: the BYTES branch flips too (no CBO rowCount)") {
    // Without CBO, the Project over range(n) DROPS the leaf's rowCount
    // (size-only stats visitor), so the gate falls to its sizeInBytes
    // branch — the branch a real parquet corpus without ANALYZE stats
    // takes. Width-scaled size (≈28 bytes/row estimated for
    // long + string) straddles SpanSaltedBytesGate at ~10M rows; still
    // zero execution, only planning.
    import org.apache.spark.sql.functions._
    val (_, bytesGate) = graft.queries.PipelineCatalog.spanGateThresholds
    assert(spark.conf.get("spark.sql.cbo.enabled") == "false",
      "this test pins the NO-rowCount branch; run with CBO off")
    def docsOf(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma "), col("id").cast("string")).as("body"))
    def planted(n: Long) = {
      val st = docsOf(n).queryExecution.optimizedPlan.stats
      assert(st.rowCount.isEmpty,
        "size-only stats unexpectedly carry rowCount — the bytes branch is not exercised")
      st.sizeInBytes
    }
    val small = 1000L
    val big = 24L * 1000 * 1000 // ≈ 430 MB at the 8 B/row leaf × width scale-up
    assert(planted(small) <= bytesGate && planted(big) > bytesGate,
      s"planted sizes ${planted(small)}/${planted(big)} do not straddle the $bytesGate gate")
    val below = graft.queries.PipelineCatalog.spanRemovalForGateSpec(docsOf(small))
      .queryExecution.executedPlan.toString
    assert(below.contains("windowspecdefinition") && !below.contains("__salt"),
      "below the bytes gate the keeper step must stay the window form")
    val above = graft.queries.PipelineCatalog.spanRemovalForGateSpec(docsOf(big))
      .queryExecution.executedPlan.toString
    assert(above.contains("__salt") && !above.contains("windowspecdefinition"),
      "above the bytes gate the keeper step must take the salted form")
  }

  test("q105: skip-ledger serving reads the persisted ledger, never the corpus") {
    // r11 verdict #2: both micro-batch builds used to run INSIDE the
    // timed query (10.3 s); the build is now write-time
    // (IngestCatalog.ensureDzLedger) and the serving plan must be a scan
    // of the accumulated ledger only. Construction may ensure (build on
    // a cold /tmp), but the PLAN must not carry the ingest lineage.
    val p = plan("q105_stream_skip_ledger")
    assert(p.contains("graft-dzledger") || p.contains("_graft_dzledger"),
      "q105 must serve from the persisted ledger directory")
    assert(!p.contains("documents.parquet"),
      "q105 serving plan re-derives the ledger from the corpus")
    assert(!p.contains("chunk_text(") && !p.contains("dev_embed("),
      "q105 serving plan carries the ingest chunk/embed lineage")
  }

  test("q104: frame ANN prunes cell partitions; serving never re-decodes media") {
    val p = plan("q104_frame_ann")
    // tolerate leading filters (the r11 read-side commit gate prepends
    // `isnotnull(gen), gen <= committedGen` to the partition filter list);
    // what must survive is the cell IN (...) prune itself
    assert("PartitionFilters: \\[[^\\]]*cell#\\d+ IN ".r.findFirstIn(p).nonEmpty,
      "frame store probe lost cell partition pruning")
    assert(p.contains("graft-framestore") || p.contains("_graft_frames"),
      "frames must serve from the persisted store")
    // the decode/frame/embed lineage is WRITE-time work: the serving plan
    // must not scan the documents table or re-run the decode contract
    assert(!p.contains("documents.parquet"),
      "q104 serving plan re-derives frames from the corpus")
    assert(p.contains("TakeOrderedAndProject"),
      "frame top-k degraded to a global sort")
  }

  test("q103: query vector constant-folds; one roll-up shuffle; top-k short-circuits") {
    val p = plan("q103_video_search")
    // the query embedding must be folded to a literal array at plan time —
    // a dev_embed call over the query string in the per-frame scoring
    // expression would re-hash it once per frame
    assert(p.contains("cosine_similarity(dev_embed(concat"),
      "frame scoring lost the codegen cosine kernel")
    assert("dev_embed\\(stub query".r.findAllIn(p).isEmpty &&
      p.contains("0.65234375"),
      "query vector was not constant-folded to a literal")
    // frames reach the per-video roll-up without any join, and the final
    // ranking is a TakeOrdered, never a global sort
    assert(!p.contains("Join"), "q103 must not join anything")
    assert(p.contains("TakeOrderedAndProject"),
      "video top-k degraded to a global sort")
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      "expected exactly the one per-video roll-up exchange")
  }

  /** Scan-schema helper: every documents ReadSchema in the plan must stay
    * within `allowed` — a widened scan means a pruning regression.
    */
  private def assertScansWithin(p: String, q: String, allowed: Set[String]): Unit = {
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).toList
    assert(schemas.nonEmpty, s"no parquet scan in $q's plan")
    schemas.foreach { sc =>
      val cols = sc.split(",").map(_.takeWhile(_ != ':')).toSet
      assert(cols.subsetOf(allowed),
        s"$q scan reads more than $allowed: $sc")
    }
  }

  test("q120/q124: BPE merge application joins broadcast; training scan reads text only") {
    // The shipped plan roots at the checkpointed word table (the
    // iterative-trainer pattern), so the corpus scan is asserted on the
    // training lineage itself: word counts must read ONLY text.
    val words = graft.core.Tables.fanOut(graft.core.Tables(spark, Sf, "documents"))
      .select(org.apache.spark.sql.functions.explode(
        graft.operators.TextAnalytics.tokens(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.col("text")))).as("word"))
      .groupBy("word").count()
    assertScansWithin(words.queryExecution.executedPlan.toString,
      "q120-training", Set("text"))
    // and the served plans must never degrade the merge application
    for (q <- Seq("q120_bpe_merges", "q124_fertility_curve")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q merge application degraded to a cartesian product")
      assert(!p.contains("SortMergeJoin"),
        s"$q grew a sort-merge join on 1-row merge frames")
    }
    // application is the single-pass expression (SCALING row 30): one
    // apply_bpe per depth, NEVER a per-merge operator chain — the plan
    // must not regrow a stage per merge round
    val p124 = plan("q124_fertility_curve")
    assert(p124.contains("apply_bpe"),
      "q124 lost the single-pass apply_bpe expression")
    assert(!p124.contains("BroadcastNestedLoopJoin"),
      "q124 regrew the chained per-merge crossJoin plan")
  }

  test("q121: recall harness broadcasts probe sets and prunes the store") {
    val p = plan("q121_ann_recall")
    assert(p.contains("BroadcastHashJoin"), "probe frames not broadcast")
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
      "cell joins do not dynamically prune store partitions")
  }

  test("q122: threshold sweep is one pair pass — taus broadcast, token scan pruned") {
    // the (threshold, pair) frame is checkpointed (multi-consumer
    // barrier), so the served plan roots at an RDD scan; the sweep's
    // broadcast shape is asserted on the pre-checkpoint lineage, exactly
    // like q96's probe and q120's training scan
    import org.apache.spark.sql.functions._
    val taus = spark.createDataFrame(
      Seq(0.5, 0.7, 0.9, 0.95, 0.98).map(Tuple1(_))).toDF("threshold")
    val tp = graft.operators.Dedup.minhashNearDuplicates(
        graft.core.Tables.fanOut(graft.core.Tables(spark, Sf, "documents")),
        "doc_id", "text", numHashes = 32, bands = 8, threshold = 0.5)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .crossJoin(broadcast(taus))
      .filter(col("jaccard") >= col("threshold"))
    val pre = tp.queryExecution.executedPlan.toString
    assert(pre.contains("BroadcastNestedLoopJoin") || pre.contains("BroadcastHashJoin"),
      "tau axis not broadcast over the pair pass")
    // the served plan: dropped ids broadcast into the pruned token scan
    val p = plan("q122_threshold_curve")
    assert(p.contains("BroadcastHashJoin"),
      "dropped ids not broadcast into the token scan")
    assertScansWithin(p, "q122", Set("doc_id", "text"))
    assert(!p.contains("CartesianProduct"), "q122 grew a cartesian product")
  }

  test("q123: benchmark shingles broadcast; attribution windows stay hit-bounded") {
    // the hit frame is checkpointed (multi-consumer barrier): the
    // benchmark-broadcast shape is asserted on the pre-checkpoint
    // lineage, the window shape on the served plan
    import org.apache.spark.sql.functions._
    import graft.operators.WordShingles
    val docs = graft.core.Tables.fanOut(graft.core.Tables(spark, Sf, "documents"))
    val bench = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
      .select(col("doc_id").as("bench_id"),
        explode(WordShingles.wordShingles(
          substring(col("text"), 21, 120), 8)).as("shingle"))
    val pre = docs.filter(col("doc_id") >= 35)
      .select(col("doc_id"), col("source"),
        explode(WordShingles.wordShingles(col("text"), 8)).as("shingle"))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("bench_id"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_shared"))
      .queryExecution.executedPlan.toString
    assert(pre.contains("BroadcastHashJoin"), "benchmark set not broadcast")
    assert(!pre.contains("SortMergeJoin"), "hit join degraded to sort-merge")
    // served plan: the top-source window must rank the per-(item, source)
    // AGGREGATE (its input subtree — printed below the window — carries a
    // HashAggregate), never raw rows
    val p = plan("q123_contam_attribution")
    val win = p.indexOf("windowspecdefinition")
    assert(win >= 0, "q123 lost its top-source ranking window")
    assert(p.substring(win).contains("HashAggregate"),
      "top-source window no longer rides the hit-bounded aggregate")
  }

  test("q126: no broadcast HINT on the cluster frame; keeper window survives") {
    // cluster labels scale with duplicated mass (corpus-fraction at crawl
    // dup rates), so the join strategy is left to AQE — an explicit hint
    // can't be demoted and OOMs at scale (SCALING row 29). The guard pins
    // the SEMANTIC shape (no cartesian, the keeper window, hash aggs) and
    // checks the pre-checkpoint lineage carries no join-strategy hint.
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.fanOut(graft.core.Tables(spark, Sf, "documents"))
    val clusters = graft.operators.Dedup.duplicateClusters(
        graft.operators.Dedup.minhashNearDuplicates(docs, "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5), "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
    val pre = docs.select(col("doc_id"), length(col("text")).as("q_score"))
      .join(clusters, Seq("doc_id"))
      .queryExecution.optimizedPlan.toString
    assert(!pre.toLowerCase.contains("broadcast"),
      "q126's cluster join carries a join-strategy hint — AQE must choose")
    val p = plan("q126_quality_keeper")
    assert(!p.contains("CartesianProduct"), "q126 grew a cartesian product")
    assert(p.contains("windowspecdefinition"), "q126 lost its keeper window")
    assert(p.contains("HashAggregate"), "q126 lost its hash aggregates")
  }

  test("q127: near path never re-fingerprints; flags stay dump-keyed") {
    // the band-store probe is checkpointed at construction (q96's
    // pattern — its pruning is pinned there); the SERVED plan must verify
    // and classify without ever re-running band_minhash, and every
    // documents scan stays within the pruned three columns
    val p = plan("q127_crawl_yield")
    assert(!p.contains("band_minhash"),
      "q127's served plan re-fingerprints the corpus")
    assert(!p.contains("CartesianProduct"), "q127 grew a cartesian product")
    assertScansWithin(p, "q127", Set("doc_id", "source", "text"))
  }

  test("q128: PQ recall tiers — ADC over codes, rerank ids broadcast, no SMJ") {
    val p = plan("q128_pq_recall")
    assert(p.contains("BroadcastHashJoin"), "rerank survivor ids not broadcast")
    assert(!p.contains("CartesianProduct"), "q128 grew a cartesian product")
  }

  test("q125: all n-gram families fuse into TWO document scans") {
    val p = plan("q125_decontam_ablation")
    val scans = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).size
    assert(scans == 2,
      s"q125 expected exactly 2 document scans (corpus + benchmark), got $scans")
    assert(p.contains("BroadcastHashJoin"), "benchmark set not broadcast")
    assert(!p.contains("SortMergeJoin"), "q125 degraded to sort-merge")
  }

  test("q130: signature pass prunes to pair docs via a broadcast semi-join") {
    // the pair frame is checkpointed (multi-consumer barrier: six config
    // projections), so the broadcast-pruning shape is asserted on the
    // pre-checkpoint signature lineage, q122-style: the minhash pass must
    // sit ABOVE a broadcast join on the pair-participating ids — a plan
    // that computes signatures for the whole corpus before the join has
    // lost the planner's entire scale story
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.fanOut(graft.core.Tables(spark, Sf, "documents"))
    val pairs = graft.operators.Dedup
      .jaccardPairs(docs, "doc_id", "text", "lang", 0.3)
      .select(col("a_id"), col("b_id"))
    val ids = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val sigs = docs.join(broadcast(ids), Seq("doc_id"))
      .select(col("doc_id"),
        graft.functions.BandMinhash.rawMinhashCol(
          graft.operators.WordShingles.wordShingles(col("text")), 32)
          .as("mins"))
    val pre = sigs.queryExecution.executedPlan.toString
    assert(pre.contains("BroadcastHashJoin"),
      "pair-id set not broadcast into the signature scan")
    val joinIdx = pre.indexOf("BroadcastHashJoin")
    val minIdx = pre.indexOf("raw_minhash")
    assert(minIdx >= 0 && minIdx < joinIdx,
      "raw_minhash is computed below the pruning join (whole-corpus signatures)")
    // the served plan: aggregates over the checkpointed pair frame only
    val p = plan("q130_lsh_tuning")
    assert(!p.contains("CartesianProduct"), "q130 grew a cartesian product")
    assert(!p.contains("windowspecdefinition"), s"q130 grew a window:\n$p")
  }

  test("q131: repetition value — window-free, pruned scan, broadcast normalizer") {
    // q113's exact shape with the decay arithmetic on top: one
    // partial-aggregated groupBy(source) over (source, text), a broadcast
    // one-row normalizer, per-source math over |sources| rows
    val p = plan("q131_repeat_value")
    assert(!p.contains("windowspecdefinition"), s"q131 grew a window:\n$p")
    assertScansWithin(p, "q131", Set("source", "text"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "q131's normalizer join lost its broadcast")
  }

  test("q133: drift monitor — one pruned scan feeds the checkpoint; served plan broadcast") {
    // the |labels| x dims sum frame is checkpointed (two consumers: global
    // centroid + per-label join), so the one-corpus-pass shape is asserted
    // on the pre-checkpoint lineage and the join shape on the served plan
    import org.apache.spark.sql.functions._
    val lc = graft.core.Tables(spark, Sf, "embeddings")
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val pre = lc.queryExecution.executedPlan.toString
    val scans = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(pre).size
    assert(scans == 1, s"q133 sum frame expected ONE embeddings scan, got $scans")
    assertScansWithin(pre, "q133", Set("label", "embedding"))
    val p = plan("q133_embedding_drift")
    assert(!p.contains("windowspecdefinition"), s"q133 grew a window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "q133's global centroid lost its broadcast")
    assert(!p.contains("SortMergeJoin"), "q133 degraded to sort-merge")
  }

  test("q134: length histogram — window-free, text-only scan, broadcast total") {
    val p = plan("q134_length_histogram")
    assert(!p.contains("windowspecdefinition"), s"q134 grew a window:\n$p")
    assertScansWithin(p, "q134", Set("text"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "q134's corpus total lost its broadcast")
    assert(p.contains("HashAggregate"), "q134 lost its hash aggregate")
  }

  test("q135: overlap cross-tab — flag sets broadcast, no cartesian, window-free") {
    // both flag sets are benchmark-bounded and must broadcast into the
    // pruned doc_id scan; the cross-tab itself is a 4-key aggregate
    val p = plan("q135_decontam_overlap")
    assert(!p.contains("windowspecdefinition"), s"q135 grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), "q135 grew a cartesian product")
    assert(p.contains("BroadcastHashJoin"), "q135's flag joins lost their broadcasts")
    assert(!p.contains("SortMergeJoin"), "q135 degraded to sort-merge")
  }

  test("q136: drift batch — single-pass apply_bpe, pruned scan, window-free") {
    // the frozen merges apply as ONE apply_bpe expression (broadcast
    // automaton, SCALING row 30) over the slice-keyed word table; the
    // only corpus touch is the pruned (doc_id, text) word scan
    val p = plan("q136_tokenizer_drift")
    assert(!p.contains("windowspecdefinition"), s"q136 grew a window:\n$p")
    // apply_bpe may be collapsed into an aggregate's result projection,
    // which executedPlan.toString elides — assert on the optimized
    // logical plan, where every projection is printed
    val lp = SparkEntry.queries("q136_tokenizer_drift")(spark, Sf)
      .queryExecution.optimizedPlan.toString
    assert(lp.contains("apply_bpe"),
      "q136 lost the single-pass apply_bpe expression")
    assertScansWithin(p, "q136", Set("doc_id", "text"))
    assert(!p.contains("SortMergeJoin"), "q136 degraded to sort-merge")
    assert(!p.contains("CartesianProduct"),
      "q136 regrew the chained per-merge crossJoin plan")
  }

  test("q137: funnel adds one id-keyed join over q98's gates, window-free") {
    val p = plan("q137_gate_funnel")
    assert(!p.contains("windowspecdefinition"), s"q137 grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), "q137 grew a cartesian product")
    // r17: canonicalization labels come from the persisted ClusterStore
    // (q143/q147's store-served convention) — the extra allowed column is
    // the store's own (doc_id, cluster_id) parquet; the labels must NOT
    // be re-derived per serve
    assert(!p.contains("band_minhash"),
      "q137 re-fingerprints the corpus instead of serving stored labels")
    assertScansWithin(p, "q137", Set("doc_id", "source", "text", "cluster_id"))
  }

  test("q138: vocab growth — window-free, pruned scans, vocabulary-bounded shuffle") {
    // first-seen attribution is a (word -> min id) partial aggregate; the
    // cumulative is a 4-row triangle join — a window or an unpruned scan
    // means the prefix machinery regressed to a corpus-order sort
    val p = plan("q138_vocab_growth")
    assert(!p.contains("windowspecdefinition"), s"q138 grew a window:\n$p")
    assertScansWithin(p, "q138", Set("doc_id", "text"))
    assert(!p.contains("SortMergeJoin"), "q138 degraded to sort-merge")
  }

  test("q139: review queue — bounded heaps + broadcast late materialization") {
    // both cuts must compile to TakeOrderedAndProject (no global sort
    // materialization) and the text column must join via broadcast AFTER
    // the cut — a corpus-wide exchange carrying snippets means the
    // late-materialization shape regressed
    val p = plan("q139_review_queue")
    assert(p.contains("TakeOrderedAndProject"),
      "q139's extremes are not bounded heaps")
    assert(p.contains("BroadcastHashJoin"),
      "q139's snippet fetch lost its broadcast")
    assert(!p.contains("windowspecdefinition"), s"q139 grew a window:\n$p")
  }

  test("q140: syndication — one pruned scan, hash aggregate, window-free") {
    val p = plan("q140_syndication")
    assert(!p.contains("windowspecdefinition"), s"q140 grew a window:\n$p")
    assertScansWithin(p, "q140", Set("doc_id", "source", "text"))
    assert(p.contains("HashAggregate"), "q140 lost its hash aggregate")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "q140 grew a join")
  }

  test("q132: calibration is one serving pass — window-free, <=10-key aggregate") {
    // q67's single narrow serving scan regrouped by the fixed logit bin:
    // a window, a join, or an unpruned scan would mean the reliability
    // table grew corpus-shaped work beyond the serving pass itself
    val p = plan("q132_quality_calibration")
    assert(!p.contains("windowspecdefinition"), s"q132 grew a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "q132 grew a join — the serving pass needs none")
    assertScansWithin(p, "q132", Set("doc_id", "lang", "text"))
    assert(p.contains("HashAggregate"), "q132 lost its hash aggregate")
  }

  test("q142: manifest packing windows carry __rb; served joins broadcast") {
    // the served plan roots at the result-scale span checkpoint (2
    // consumers, ONE salted fold — the q130 discipline), so the
    // no-global-order-window invariant is asserted on the pre-checkpoint
    // packing lineage, q122-style
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalytics
    val toks = graft.core.Tables.fanOut(graft.core.Tables(spark, Sf, "documents"))
      .select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
    val epochs = spark.range(2).select(col("id").as("epoch"))
    val keyed = toks.crossJoin(broadcast(epochs))
      .withColumn("__gk", col("epoch") * 100000000L +
        pmod(TextAnalytics.hash60(concat(col("epoch"), lit(":"),
          col("doc_id"))), lit(1000000L)))
    val packed = graft.operators.Curation.saltedPrefixSum(keyed, "__gk",
      "n_tok", outCol = "__gpre", orderBounds = Some((0L, 200000000L)))
    val pp = packed.queryExecution.executedPlan.toString
    val wins = "windowspecdefinition\\([^)]*".r.findAllIn(pp).toList
    assert(wins.nonEmpty, "q142's packing lost its prefix-sum windows")
    assert(wins.forall(_.contains("__rb")),
      s"a global-order window reappeared in q142's packing: $wins")
    assertScansWithin(pp, "q142-packing", Set("doc_id", "text"))
    val p = plan("q142_loader_manifest")
    assert(!p.contains("windowspecdefinition"),
      s"q142's served plan grew a window:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "q142's 16-row signature join degraded to sort-merge")
    assert(p.contains("BroadcastHashJoin"),
      "q142's signature join lost its broadcast")
  }

  test("q143: store-served labels, one pruned corpus pass, no cartesian, no join-strategy hint") {
    // the cluster-label frame is corpus-fraction at crawl dup rates
    // (SCALING row 29): the join strategy stays AQE's call — broadcast at
    // bench bytes, shuffle at crawl bytes. Pin semantics, not strategy.
    // r17: labels come from the persisted ClusterStore — the serve must
    // never re-fingerprint (no band_minhash) and the extra scan is the
    // store's own (doc_id, cluster_id) parquet.
    val p = plan("q143_near_syndication")
    assert(!p.contains("CartesianProduct"), "q143 grew a cartesian product")
    assert(p.contains("HashAggregate"), "q143 lost its hash aggregates")
    assert(!p.contains("band_minhash"),
      "q143's serve re-fingerprints the corpus instead of reading the ClusterStore")
    assertScansWithin(p, "q143", Set("doc_id", "text", "source", "cluster_id"))
  }

  test("q147: cluster spectrum — store-served labels, one pruned corpus pass, hash aggs, no join-strategy hint") {
    // same join discipline as q143 (SCALING row 29): the cluster-label
    // frame's strategy stays AQE's call; only the 1-row totals broadcast
    val p = plan("q147_cluster_shape")
    assert(!p.contains("CartesianProduct"), "q147 grew a cartesian product")
    assert(p.contains("HashAggregate"), "q147 lost its hash aggregates")
    assert(!p.contains("band_minhash"),
      "q147's serve re-fingerprints the corpus instead of reading the ClusterStore")
    assertScansWithin(p, "q147", Set("doc_id", "text", "cluster_id"))
  }

  test("q148: tokenization is one narrow apply_bpe map + doc-keyed agg — no join, no window") {
    val q = SparkEntry.queries("q148_bpe_tokenize")(spark, Sf)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("windowspecdefinition"), s"q148 grew a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "q148's per-occurrence map grew a join — the word-table-join rewrite " +
        "belongs to a different (documented) trade, not this query")
    assert(p.contains("HashAggregate"), "q148 lost its doc-keyed aggregate")
    assertScansWithin(p, "q148", Set("doc_id", "text"))
    assert(q.queryExecution.optimizedPlan.toString.contains("apply_bpe"),
      "q148 lost the single-pass apply_bpe expression")
  }

  test("q149: incremental manifest serves as a pure store read — no packing fold, no corpus scan") {
    val p = plan("q149_inc_manifest")
    assert(!p.contains("windowspecdefinition"),
      s"q149's serve re-ran a packing window:\n$p")
    assert(!p.contains("text"), "q149's serve scans corpus text")
    assert(p.contains("BroadcastHashJoin"),
      "q149's bounded signature join lost its broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "q149's serve degraded")
  }

  test("q144: spectrum is two hash aggregates over one token explode — window-free") {
    val p = plan("q144_freq_spectrum")
    assert(!p.contains("windowspecdefinition"), s"q144 grew a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "q144's 1-row total join degraded")
    assertScansWithin(p, "q144", Set("doc_id", "text"))
    assert(p.contains("HashAggregate"), "q144 lost its hash aggregates")
  }

  test("q145: budget report is one pruned supply agg + a broadcast ladder — window-free") {
    val p = plan("q145_compute_budget")
    assert(!p.contains("windowspecdefinition"), s"q145 grew a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "q145's 1-row supply join degraded")
    assertScansWithin(p, "q145", Set("doc_id", "text"))
    assert(p.contains("HashAggregate"), "q145 lost its supply aggregate")
  }

  test("q146: datasheet rollups are window-free hash aggregates over the span checkpoint") {
    val p = plan("q146_shard_datasheet")
    assert(!p.contains("windowspecdefinition"), s"q146 grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), "q146 grew a cartesian product")
    assert(p.contains("HashAggregate"), "q146 lost its hash aggregates")
  }

  test("q141: schedule is arithmetic over checkpointed source stats — window-free, broadcasts only") {
    // the served plan roots at the |sources|-row checkpoint (3 consumers,
    // ONE corpus scan — the q130 discipline); the corpus scan itself is
    // asserted on the pre-checkpoint stats lineage
    import org.apache.spark.sql.functions._
    val stats = graft.core.Tables.fanOut(graft.core.Tables(spark, Sf, "documents"))
      .select(col("source"),
        size(graft.operators.TextAnalytics.tokens(col("text"))).cast("long")
          .as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("n_tok"))
    assertScansWithin(stats.queryExecution.executedPlan.toString,
      "q141-stats", Set("source", "text"))
    val p = plan("q141_mixture_schedule")
    assert(!p.contains("windowspecdefinition"), s"q141 grew a window:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "q141's tiny normalizer/sums joins degraded to sort-merge")
    assert(!p.contains("CartesianProduct"),
      "q141's 1-row normalizer join degraded to a cartesian product")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "q141 lost its broadcast joins")
  }
}
