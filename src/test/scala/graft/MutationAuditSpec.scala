package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Uuid5
import graft.operators.{Chunker, Curation, Dedup, Similarity}
import graft.core.Tables
import graft.queries.Catalog

/** Oracle-sensitivity (mutation) audit — r10 VERDICT next-round #3.
  *
  * The q100 lesson: a query was oracle-green in r9 while harboring a real
  * bug, because impl and oracle shared the same wrong join key — the
  * correctness gate only proves impl ≡ oracle, not that either reflects
  * the intended semantics. This audit closes the loop from the other
  * side: for each query family, ONE semantic choice is perturbed in a
  * test-only rebuild of the lineage, and the result must HASH-MISMATCH
  * the shipped query (which the driver proves ≡ oracle, so a mismatch
  * here is a mismatch the oracle gate would catch if the impl alone
  * regressed on that axis).
  *
  * Every family carries a CONTROL rebuild — byte-identical lineage — that
  * must hash-MATCH the shipped query first. The control proves the
  * rebuild is faithful (so the mutation's mismatch is attributable to the
  * mutated choice, not to rebuild drift), and doubles as a tripwire if
  * the catalog's literals ever drift from the copies here.
  *
  * Scale note: the dedup-keeper and frame-join mutations only produce
  * different bytes when exact-duplicate texts exist, which the generated
  * corpus first has at sf0.1 (8 duplicate classes, 1 in the video slot) —
  * those two families run there; the rest run at sf0.01.
  */
class MutationAuditSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Sf01 = "/root/testdata/sf0.01"
  private val Sf1 = "/root/testdata/sf0.1"

  /** The driver's comparison, in-process: columns sorted by name, rows
    * sorted, stringified. Equality here ⟺ the driver's hash match.
    */
  private def canon(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq

  private def docsWide(d: String) = Tables.fanOut(Tables(spark, d, "documents"))

  private def audit(name: String, sfDir: String,
      control: DataFrame, mutated: DataFrame): Unit = {
    val shipped = canon(SparkEntry.queries(name)(spark, sfDir))
    assert(canon(control) == shipped,
      s"$name control rebuild drifted from the shipped lineage — fix the " +
        "copy here before trusting the mutation result")
    assert(canon(mutated) != shipped,
      s"$name oracle gate is INSENSITIVE to the mutated semantic choice")
  }

  test("ids family (q14): uuid5 name-scheme mutation flips the gate") {
    def build(prefix: String) = docsWide(Sf01)
      .filter(col("doc_id") < 10)
      .withColumn("document_id", Uuid5.documentId(concat(lit(prefix), col("doc_id"))))
      .select(col("doc_id"), col("document_id"),
        explode(sequence(lit(0), lit(2))).as("idx"))
      .withColumn("chunk_id", Uuid5.chunkId(col("document_id"), col("idx")))
      .select(col("doc_id"), col("document_id"), col("idx"), col("chunk_id"))
      .orderBy(col("doc_id"), col("idx"))
    audit("q14_chunk_ids", Sf01,
      control = build("docs/"),
      mutated = build("doc/")) // the reference's path prefix, one char off
  }

  test("chunking family (q13): overlap mutation flips the gate") {
    def build(overlap: Int) = docsWide(Sf01)
      .select(col("doc_id"),
        posexplode(Chunker.chunkTextCol(col("text"), 100, overlap))
          .as(Seq("idx", "chunk")))
      .orderBy(col("doc_id"), col("idx"))
    audit("q13_chunks", Sf01, control = build(20), mutated = build(19))
  }

  test("embedding family (q15): normalization-constant mutation flips the gate") {
    def build(denom: Double) = docsWide(Sf01)
      .select(col("doc_id") +:
        (0 until 8).map(i =>
          (conv(substring(sha2(col("text"), 256), 2 * i + 1, 2), 16, 10)
            .cast("long") / lit(denom)).as(s"e$i")): _*)
      .orderBy(col("doc_id"))
    audit("q15_embed_dev", Sf01,
      control = build(256.0),
      mutated = build(255.0)) // the classic off-by-one byte normalizer
  }

  test("ANN family (q16): score rounding-grid mutation flips the gate") {
    def build(scale: Int) = {
      val emb = Tables(spark, Sf01, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qv"))
      Similarity.cosineTopK(emb.filter(col("vec_id") =!= 0), "embedding", query, 10)
        .select(col("vec_id"), col("label"),
          Catalog.rnd(col("score"), scale).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }
    audit("q16_knn_cosine", Sf01, control = build(6), mutated = build(5))
  }

  test("dedup family (q17): keeper-choice mutation flips the gate (needs sf0.1 dups)") {
    def build(keeper: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      docsWide(Sf1)
        .groupBy(sha2(col("text"), 256).as("content_sig"))
        .agg(keeper(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("content_sig"))
    audit("q17_dedup_exact", Sf1,
      control = build(min),   // the shipped rule: keeper = lowest id
      mutated = build(max))   // a plausible wrong rule, visible only on dups
  }

  test("curation family (q102): per-domain cap mutation flips the gate") {
    val pool = Seq("news.example.com", "blog.example.org", "cdn.assets.example",
      "win.spam-casino.biz", "docs.example.io", "forum.example.net")
    val blocklist = Seq("cdn.assets.example", "tracker.example.net")
    def build(cap: Int) = {
      val domains = array(pool.map(lit): _*)
      val block = spark.createDataFrame(blocklist.map(Tuple1(_))).toDF("bdomain")
      val withUrl = docsWide(Sf01)
        .select(col("doc_id"), col("source"))
        .withColumn("url", concat(lit("https://"),
          element_at(domains, (pmod(col("doc_id"), lit(6)) + 1).cast("int")),
          lit("/"), col("source"), lit("/"), col("doc_id")))
        .withColumn("domain", Curation.urlDomain(col("url")))
      val flagged = withUrl
        .join(broadcast(block), col("domain") === col("bdomain"), "left")
        .withColumn("blocked",
          col("bdomain").isNotNull || col("domain").contains("casino"))
      Curation.saltedExactRank(flagged, "domain", "doc_id", rankCol = "dom_rank")
        .select(col("doc_id"), col("url"), col("domain"), col("blocked"),
          col("dom_rank"),
          (!col("blocked") && col("dom_rank") <= cap).as("kept"))
        .orderBy(col("doc_id"))
    }
    audit("q102_domain_curation", Sf01, control = build(60), mutated = build(61))
  }

  test("skip-ledger family (q101): drop-reason classifier mutation flips the gate") {
    import graft.sources.FileIngest
    import graft.queries.IngestCatalog
    val scanned = FileIngest.scanFilesFrame(
      IngestCatalog.ledgerFiles(spark, Sf01), "dz")
    // control: the exact shipped lineage (scan → route → empty filter →
    // two-way reason classification)
    val control = FileIngest.skipLedger(scanned).orderBy(col("path"))
    // mutation: drop the whitespace disjunct from the empty_file rule —
    // a plausible "bytes==0 is what empty means" regression that
    // reclassifies every whitespace-only file as extraction_empty
    val mutated = scanned
      .withColumn("text", FileIngest.routedTextCol(scanned))
      .filter(trim(col("text")) === "")
      .select(col("relpath").as("path"), col("kind"), col("bytes"),
        when(col("bytes") === 0, "empty_file")
          .otherwise("extraction_empty").as("reason"))
      .orderBy(col("path"))
    audit("q101_skip_ledger", Sf01, control = control, mutated = mutated)
  }

  test("stream-ledger family (q105): batch-attribution mutation flips the gate") {
    import graft.queries.IngestCatalog
    import graft.streaming.Dropzone
    // Rebuild the two-micro-batch ledger into a FRESH directory (a true
    // independent rebuild — the shipped query reads the write-time
    // artifact); the mutation swaps which parity ships in which batch.
    // The oracle states each drop's ARRIVAL batch, so misattributing
    // deliveries to the wrong micro-batch must hash-mismatch even though
    // the classified file set is identical.
    def build(parity0: Int) = {
      val root = scratchDir(s"graft-mut-dzledger-$parity0").toString
      Seq(0, 1).foreach { b =>
        Dropzone.processBatch(spark,
          IngestCatalog.ledgerFiles(spark, Sf01,
            Some(if (b == 0) parity0 else 1 - parity0)),
          "dz", s"$root/chunks", 100, 20, 8, skipUnchangedFiles = true,
          batchId = b.toLong, skipLedgerPath = Some(s"$root/ledger"))
      }
      Dropzone.readSkipLedger(spark, s"$root/ledger")
        .select(col("batch"), col("path"), col("kind"), col("bytes"),
          col("reason"))
        .orderBy(col("batch"), col("path"))
    }
    audit("q105_stream_skip_ledger", Sf01,
      control = build(0),  // the shipped convention: even doc_ids in batch 0
      mutated = build(1))  // batches swapped: same drops, wrong arrival
  }

  test("search family (q60): BM25 length-normalization mutation flips the gate") {
    // 10th family (r13): the BM25 oracle SQL was reformulated this round
    // (join-free postings CTE for the sf0.1 sweep), so the family gets a
    // standing sensitivity check — a b-constant drift (0.75 -> 0.74, the
    // classic transcribed-hyperparameter error) changes every score's
    // length-normalization denominator and must hash-mismatch through
    // the 6dp rounding grid. k1=1.5/b=0.75 are the shipped constants
    // (PipelineCatalog.q60Bm25); the control replays them exactly.
    def build(b: Double) = graft.operators.SearchOps.bm25Scores(
        docsWide(Sf01), "doc_id", "text", Seq("spark", "join", "hash"),
        k1 = 1.5, b = b)
      .orderBy(col("bm25").desc, col("doc"))
      .limit(15)
      .select(col("doc").as("doc_id"), Catalog.rnd(col("bm25"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
    audit("q60_bm25", Sf01, control = build(0.75), mutated = build(0.74))
  }

  test("media/frame family (q100): the r10 join-key bug stays caught (needs sf0.1 dups)") {
    import spark.implicits._
    def build(frameKey: String) = {
      val exts = array(lit("png"), lit("mp3"), lit("mp4"))
      val kinds = array(lit("image"), lit("audio"), lit("video"))
      val slot = (pmod(col("doc_id"), lit(3)) + 1).cast("int")
      val media = docsWide(Sf1)
        .select(
          sha2(encode(col("text"), "UTF-8"), 256).as("id"),
          element_at(kinds, slot).as("kind"),
          concat(lit("media/"), col("doc_id"), lit("."), element_at(exts, slot)).as("path"),
          encode(col("text"), "UTF-8").as("content"))
        .as[graft.operators.Multimodal.MediaRow]
      val dec = graft.operators.Multimodal.decode(media).toDF()
      val frames = graft.operators.Multimodal.sampleFrames(dec, 500L)
        .groupBy(col(frameKey)).agg(count(lit(1)).as("n_frames"))
      graft.operators.Multimodal.resizeTo(dec, 256)
        .join(frames, Seq(frameKey), "left")
        .select(
          regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
          col("kind"), col("width"), col("height"),
          col("durationMs").as("duration_ms"),
          col("out_width"), col("out_height"),
          coalesce(col("n_frames"), lit(0L)).as("n_frames"),
          col("caption"))
        .orderBy(col("doc_id"))
    }
    audit("q100_media_decode", Sf1,
      control = build("path"),  // unique per media row (the r10 fix)
      mutated = build("id"))    // sha256(text): collides on duplicate texts
  }

  test("PII family (q106): octet-bound mutation flips the gate") {
    // The classic sloppy IP regex ([0-9]{1,3} octets, no 0-255 bound)
    // redacts the fixture's INVALID address 10.1.2.300 — exactly the
    // over-redaction the range-exact octet alternation exists to prevent.
    // If the gate can't see that choice, a regex "simplification" would
    // ship silently.
    val tailA =
      " contact alice.smith+news@mail.example.org or bob@sub.example.co.uk now"
    val tailB = " origin 203.0.113.47 relay 10.1.2.300 backup 192.168.001.5"
    val tailC = " forwarded by 9.9.9.9@relay.example.net from 172.16.254.1."
    def build(ipRe: String) = {
      val emailRe = Curation.PiiEmailRe
      val body = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(tailA)).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(tailB)).otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit(tailC)).otherwise(lit("")))
      val emailClean = regexp_replace(body, emailRe, "<EMAIL>")
      docsWide(Sf01).select(col("doc_id"),
          size(regexp_extract_all(body, lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(emailClean, lit(ipRe), lit(0)))
            .cast("long").as("n_ips"),
          regexp_replace(emailClean, ipRe, "<IP>").as("text_clean"))
        .withColumn("has_pii", col("n_emails") + col("n_ips") > 0)
        .select("doc_id", "n_emails", "n_ips", "has_pii", "text_clean")
        .orderBy(col("doc_id"))
    }
    val loose = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    audit("q106_pii_redact", Sf01,
      control = build(Curation.PiiIpv4Re),
      mutated = build(loose))
  }

  test("PII family (q106): pass-order mutation flips the gate") {
    // 13th family: the OTHER load-bearing choice in redactPii — emails are
    // redacted BEFORE the IP pass, so an IP-shaped email local part
    // (9.9.9.9@relay.example.net) is one email and zero IPs. Running the
    // IP pass first redacts the local part in place (<IP>@relay…), which
    // then no longer matches the email regex: counts shift AND the
    // cleaned text differs. Same octet alternation both ways — only the
    // order is perturbed, so a mismatch is attributable to order alone.
    val tailA =
      " contact alice.smith+news@mail.example.org or bob@sub.example.co.uk now"
    val tailB = " origin 203.0.113.47 relay 10.1.2.300 backup 192.168.001.5"
    val tailC = " forwarded by 9.9.9.9@relay.example.net from 172.16.254.1."
    def build(ipFirst: Boolean) = {
      val emailRe = Curation.PiiEmailRe
      val ipRe = Curation.PiiIpv4Re
      val body = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(tailA)).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(tailB)).otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit(tailC)).otherwise(lit("")))
      val base = docsWide(Sf01)
      val withCols =
        if (ipFirst) {
          val ipClean = regexp_replace(body, ipRe, "<IP>")
          base.select(col("doc_id"),
            size(regexp_extract_all(ipClean, lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(body, lit(ipRe), lit(0)))
              .cast("long").as("n_ips"),
            regexp_replace(ipClean, emailRe, "<EMAIL>").as("text_clean"))
        } else {
          val emailClean = regexp_replace(body, emailRe, "<EMAIL>")
          base.select(col("doc_id"),
            size(regexp_extract_all(body, lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(emailClean, lit(ipRe), lit(0)))
              .cast("long").as("n_ips"),
            regexp_replace(emailClean, ipRe, "<IP>").as("text_clean"))
        }
      withCols.withColumn("has_pii", col("n_emails") + col("n_ips") > 0)
        .select("doc_id", "n_emails", "n_ips", "has_pii", "text_clean")
        .orderBy(col("doc_id"))
    }
    audit("q106_pii_redact", Sf01,
      control = build(ipFirst = false),
      mutated = build(ipFirst = true))
  }

  test("split family (q108): id-keyed holdout hash mutation flips the gate") {
    // 14th family: q108's entire reason to exist is that the holdout
    // hash keys on the near-dup CLUSTER (canonical_id), not the document
    // id — id-keying puts near-duplicates on opposite sides (train-test
    // leakage). The corpus demonstrably leaks under id-keying (the q19
    // pair (70,447) at sf0.01 straddles), so the mutated rebuild must
    // hash-mismatch. Everything else — banding, clustering, the hash,
    // the 10% threshold — is byte-identical to the control.
    import graft.operators.TextAnalytics
    def build(keyCol: String) = {
      val pairs = Dedup.minhashNearDuplicates(docsWide(Sf01), "doc_id",
        "text", numHashes = 32, bands = 8, threshold = 0.5)
      val clusters = Dedup.duplicateClusters(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_id"),
          col("is_canonical"))
      docsWide(Sf01).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
          coalesce(col("is_canonical"), lit(true)).as("kept"))
        .withColumn("split",
          when(pmod(TextAnalytics.hash60(col(keyCol).cast("string")),
            lit(100L)) < 10L, lit("val")).otherwise(lit("train")))
        .orderBy(col("doc_id"))
    }
    audit("q108_leakage_split", Sf01,
      control = build("canonical_id"),
      mutated = build("doc_id"))
  }

  test("budget family (q109): must-fit selection mutation flips the gate") {
    // 15th family: the boundary-doc policy. q109 ships greedy-include
    // (the doc that CROSSES the budget line is kept — FineWeb-style "cut
    // at the target count"); the other published policy is must-fit
    // (keep only docs that fit ENTIRELY under the budget). They differ
    // on exactly the boundary doc — the sf0.01 corpus has one — and
    // nothing coarser than the per-row gate would see a single flipped
    // boolean. Ranking, scores, and prefix sums are byte-identical.
    import graft.operators.TextAnalytics
    def build(mustFit: Boolean) = {
      val scored = docsWide(Sf01)
        .withColumn("toks", TextAnalytics.tokens(col("text")))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("avg_raw",
          TextAnalytics.totalTokenChars(col("toks")).cast("double") / col("n_tok"))
        .withColumn("stop_raw",
          TextAnalytics.wordListHits(col("toks"), TextAnalytics.EnStopwords)
            .cast("double") / col("n_tok"))
        .withColumn("q_score",
          when(col("n_tok") === 0, lit(0.0)).otherwise(floor((
            lit(0.2) * least(col("n_tok").cast("double") / 100.0, lit(1.0)) +
              lit(0.5) * col("stop_raw") +
              lit(0.3) * (lit(1.0) - least(abs(col("avg_raw") - 5.0) / 10.0, lit(1.0))))
            * 10000.0 + lit(0.5)) / 10000.0))
        .select(col("doc_id"), col("q_score"), col("n_tok"))
      val b = Tables(spark, Sf01, "documents")
        .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head()
      val (mn, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
      val keyed = scored.withColumn("__ord",
        (lit(10000L) - round(col("q_score") * 10000.0).cast("long")) * span
          + (col("doc_id") - mn))
      Curation.saltedPrefixSum(keyed, "__ord", "n_tok", outCol = "cum_before",
          orderBounds = Some((0L, 10001L * span)))
        .withColumn("selected",
          if (mustFit) col("cum_before") + col("n_tok") <= 12050L
          else col("cum_before") < 12050L)
        .select("doc_id", "q_score", "n_tok", "cum_before", "selected")
        .orderBy(col("doc_id"))
    }
    audit("q109_budget_select", Sf01,
      control = build(mustFit = false),
      mutated = build(mustFit = true))
  }

  test("mixture family (q110): intersection-only JS mutation flips the gate") {
    // 16th family: the classic sparse-JS bug — computing KL(Q‖M) only
    // over tokens PRESENT in the source and forgetting that every absent
    // token contributes q·ln2 (the ln2·(1−q_cov) closure term). The
    // statistic still lands in [0, ln 2], still orders sources
    // plausibly — it's just systematically too small, which only the
    // per-value gate can see. Tokenization, counts, and both
    // distributions are byte-identical between control and mutation.
    import graft.operators.TextAnalytics
    def build(closure: Boolean) = {
      val st = docsWide(Sf01)
        .select(col("source"),
          explode(TextAnalytics.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val srcTot = st.groupBy(col("source"))
        .agg(sum(col("c")).as("n_s"), count(lit(1)).as("vocab"))
      val tokTot = st.groupBy(col("tok")).agg(sum(col("c")).as("c_t"))
      val corpusTot = tokTot.agg(sum(col("c_t")).cast("double").as("n_all"))
      val srcDocs = docsWide(Sf01).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      st.join(tokTot, Seq("tok"))
        .join(broadcast(srcTot), Seq("source"))
        .crossJoin(broadcast(corpusTot))
        .withColumn("p", col("c").cast("double") / col("n_s"))
        .withColumn("q", col("c_t").cast("double") / col("n_all"))
        .withColumn("m", (col("p") + col("q")) / 2.0)
        .groupBy(col("source"), col("n_s"), col("vocab"))
        .agg(sum(col("p") * log(col("p") / col("m"))).as("kl_p"),
          sum(col("q") * log(col("q") / col("m"))).as("kl_q_cov"),
          sum(col("q")).as("q_cov"))
        .withColumn("js", lit(0.5) * col("kl_p") + lit(0.5) * (col("kl_q_cov") +
          (if (closure) log(lit(2.0)) * (lit(1.0) - col("q_cov"))
           else lit(0.0))))
        .join(broadcast(srcDocs), Seq("source"))
        .select(col("source"), col("n_docs"), col("n_s").as("n_tokens"),
          col("vocab"),
          (floor(col("js") * 1000000.0 + lit(0.5)) / 1000000.0)
            .as("js_divergence"))
        .orderBy(col("source"))
    }
    audit("q110_mixture_diag", Sf01,
      control = build(closure = true),
      mutated = build(closure = false))
  }

  test("leakage-matrix family (q111): cell-canonicalization mutation flips the gate") {
    // 17th family (r13 prescription #3): q111's load-bearing choice is the
    // least/greatest canonicalization that makes a (source, source) cell
    // UNORDERED — one row per source pair regardless of which side of the
    // near-dup pair carried which source. The plausible regression is the
    // pass-through (sa, sb) cell: counts still conserve (Σ cells = Σ
    // pairs), the diagonal is untouched, but every cross-source cell whose
    // pairs arrive in both directions splits into two directed rows — and
    // a cell observed only in its descending direction sorts under the
    // wrong key. The sf0.01 corpus has cross-source pairs, so the rebuild
    // must hash-mismatch; banding, verification, and joins are
    // byte-identical between control and mutation.
    def build(canonical: Boolean) = {
      val pairs = Dedup.minhashNearDuplicates(docsWide(Sf01), "doc_id",
        "text", numHashes = 32, bands = 8, threshold = 0.5)
      val src = docsWide(Sf01).select(col("doc_id"), col("source"))
      val attributed = pairs.select(col("a_id"), col("b_id"))
        .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
          Seq("a_id"))
        .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
          Seq("b_id"))
      val cells =
        if (canonical)
          attributed.select(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"))
        else
          attributed.select(col("sa").as("src_a"), col("sb").as("src_b"))
      cells.groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_source", col("src_a") =!= col("src_b"))
        .orderBy(col("src_a"), col("src_b"))
    }
    audit("q111_dup_leakage", Sf01,
      control = build(canonical = true),
      mutated = build(canonical = false))
  }

  test("manifest family (q112): span-base mutation flips the gate") {
    // 18th family: q112's per-span arithmetic anchors seq_tok_start on
    // THE SPAN'S OWN sequence (seq_id·L). The plausible copy bug anchors
    // on the doc's FIRST sequence (first_seq·L) — correct for every
    // non-crossing doc and for every crossing doc's first span, wrong by
    // exactly L·(seq_id−first_seq) on continuation spans. Totals, tiling
    // by n_tok, and doc coverage all still conserve; only the per-row
    // gate sees it. The sf0.01 corpus has crossing docs (manifest rows >
    // doc count), so the rebuild must hash-mismatch.
    import graft.operators.{Curation => C, TextAnalytics}
    def build(anchorOwnSeq: Boolean) = {
      val L = 512L
      val toks = docsWide(Sf01).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val off = C.saltedPrefixSum(toks, "doc_id", "n_tok", outCol = "tok_offset")
      val spans = off.filter(col("n_tok") > 0)
        .withColumn("first_seq", expr(s"tok_offset div $L"))
        .withColumn("last_seq", expr(s"(tok_offset + n_tok - 1) div $L"))
        .withColumn("seq_id", explode(sequence(col("first_seq"), col("last_seq"))))
        .withColumn("gstart", greatest(col("tok_offset"), col("seq_id") * L))
        .withColumn("gend",
          least(col("tok_offset") + col("n_tok"), (col("seq_id") + 1) * L))
      val base = if (anchorOwnSeq) col("seq_id") else col("first_seq")
      val total = toks.agg(sum(col("n_tok")).as("total_tok"))
      spans.crossJoin(broadcast(total))
        .select(col("seq_id"), col("doc_id"),
          (col("gstart") - col("tok_offset")).as("doc_tok_start"),
          (col("gstart") - base * L).as("seq_tok_start"),
          (col("gend") - col("gstart")).as("n_tok"),
          when(col("seq_id") === expr(s"(total_tok - 1) div $L"),
            (col("seq_id") + 1) * L - col("total_tok"))
            .otherwise(lit(0L)).as("n_fill"))
        .orderBy(col("seq_id"), col("doc_id"))
    }
    audit("q112_packed_manifest", Sf01,
      control = build(anchorOwnSeq = true),
      mutated = build(anchorOwnSeq = false))
  }

  test("mixture family (q113): temperature mutation flips the gate") {
    // 19th family: the load-bearing constant is α=0.7 — at α=1 the
    // "temperature" weights silently degenerate to the raw shares
    // (w = n/Σn), which still normalize, still conserve the budget, and
    // still order sources by size: every invariant the QueriesSpec pins
    // survives. Only the per-value gate can see that the blend stopped
    // flattening. Counts and the normalizer structure are byte-identical.
    import graft.operators.TextAnalytics
    def build(alpha: Double) = {
      val st = docsWide(Sf01)
        .select(col("source"),
          size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      val tot = st.agg(sum(col("n_tok")).cast("double").as("total_tok"),
        sum(pow(col("n_tok").cast("double"), alpha)).as("z"))
      st.crossJoin(broadcast(tot))
        .withColumn("weight_raw",
          pow(col("n_tok").cast("double"), alpha) / col("z"))
        .withColumn("epochs_6dp", Catalog.rnd(
          lit(2.0) * col("total_tok") * col("weight_raw") / col("n_tok"), 6))
        .select(col("source"), col("n_docs"), col("n_tok"),
          Catalog.rnd(col("n_tok") / col("total_tok"), 6).as("p_share"),
          Catalog.rnd(col("weight_raw"), 6).as("weight"),
          col("epochs_6dp").as("epochs"),
          (col("epochs_6dp") > 4.0).as("over_cap"))
        .orderBy(col("source"))
    }
    audit("q113_mixture_weights", Sf01,
      control = build(0.7),
      mutated = build(1.0))
  }

  test("SFT-mask family (q114): conversation-scoped offset mutation flips the gate") {
    // 20th family: q114's load-bearing choice is that token offsets
    // restart per CONVERSATION. The plausible regression reuses the
    // corpus-global prefix sum (q107's kernel, one partition for all
    // conversations ordered by (conv_id, turn_idx)) — masks, roles,
    // per-turn counts, even each conversation's INTERNAL deltas all stay
    // right; only the absolute offsets shift by everything before the
    // conversation, which is exactly what a loader would mis-seek by.
    import graft.queries.IngestCatalog
    import org.apache.spark.sql.expressions.{Window => W}
    val re = "^\\[[^\\]]+\\] (user|assistant): "
    def build(perConv: Boolean) = {
      val turns = IngestCatalog.q40ChatExport(spark, Sf01)
        .select(col("document_id").as("conv_id"),
          posexplode(split(col("text"), "\n\n")).as(Seq("turn_idx", "line")))
        .select(col("conv_id"), col("turn_idx"),
          regexp_extract(col("line"), re, 1).as("role"),
          regexp_replace(col("line"), re, "").as("content"))
        .withColumn("n_tok", size(graft.operators.TextAnalytics
          .tokens(col("content"))).cast("long"))
      val w =
        (if (perConv) W.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
         else W.orderBy(col("conv_id"), col("turn_idx")))
          .rowsBetween(W.unboundedPreceding, -1)
      turns
        .withColumn("tok_start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("n_tok"),
          col("tok_start"), (col("role") === "assistant").as("loss_mask"))
        .orderBy(col("conv_id"), col("turn_idx"))
    }
    audit("q114_sft_mask", Sf01,
      control = build(perConv = true),
      mutated = build(perConv = false))
  }

  test("curve family (q115): fan-in/fan-out transposition flips the gate") {
    // 21st family: avg_docs_per_seq is doc-sequence SPANS over SEQUENCES
    // (the document-mask fan-in a trainer pays per sequence). The
    // plausible transposition divides by DOCS instead — the same spans
    // total, a statistic that still rises with L and still looks like a
    // fan measure (it's avg sequences per doc), wrong in every row. The
    // other five columns are byte-identical, so the mismatch is
    // attributable to the denominator alone.
    import graft.operators.{Curation => C, TextAnalytics}
    def build(perSeq: Boolean) = {
      val toks = docsWide(Sf01).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val off = C.saltedPrefixSum(toks, "doc_id", "n_tok", outCol = "tok_offset")
      val lens = spark.range(1).select(
        explode(array(Seq(128L, 256L, 512L, 1024L, 2048L).map(lit): _*))
          .as("seq_len"))
      off.filter(col("n_tok") > 0)
        .crossJoin(broadcast(lens))
        .withColumn("first_seq", expr("tok_offset div seq_len"))
        .withColumn("last_seq", expr("(tok_offset + n_tok - 1) div seq_len"))
        .groupBy(col("seq_len"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tok"),
          expr("(max(tok_offset + n_tok) + seq_len - 1) div seq_len")
            .as("n_seqs"),
          sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
            .as("n_crossing"),
          sum(col("last_seq") - col("first_seq") + 1).as("doc_seq_spans"))
        .select(col("seq_len"), col("n_seqs"), col("n_crossing"),
          Catalog.rnd(col("n_crossing").cast("double") / col("n_docs"), 6)
            .as("crossing_frac"),
          Catalog.rnd(col("doc_seq_spans").cast("double") /
              (if (perSeq) col("n_seqs") else col("n_docs")), 6)
            .as("avg_docs_per_seq"),
          (col("n_seqs") * col("seq_len") - col("total_tok")).as("tail_fill"))
        .orderBy(col("seq_len"))
    }
    audit("q115_packing_curve", Sf01,
      control = build(perSeq = true),
      mutated = build(perSeq = false))
  }

  test("noise-span family (q116): dropping the interval union flips the gate") {
    // 22nd family: the merge step. The mutant emits each clipped
    // candidate as its own span — ids still dense, lengths still 1..5,
    // every span still in bounds, the mask still ~15%; only where
    // candidates overlap/touch do rows multiply and n_masked
    // double-count. A sentinel-based objective with unmerged spans is
    // corrupt training data that LOOKS fine — exactly the regression the
    // per-row gate must see. The corpus has overlapping candidates
    // (merged mean span length measures > 3), so the hashes diverge.
    import graft.operators.TextAnalytics
    def lineage(merge: Boolean) = {
      val toks = docsWide(Sf01).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val cand = toks.filter(col("n_tok") > 0)
        .select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0L), col("n_tok") - 1)).as("p"))
        .filter(pmod(TextAnalytics.hash60(
          concat(col("doc_id"), lit(":"), col("p"))), lit(20L)) === 0)
        .withColumn("e", least(
          col("p") + 1L + pmod(TextAnalytics.hash60(
            concat(col("doc_id"), lit(":"), col("p"), lit(":len"))),
            lit(5L)),
          col("n_tok")))
      val acc0 = struct(
        array().cast("array<struct<s:bigint,e:bigint>>").as("spans"),
        lit(-1L).as("cs"), lit(-1L).as("ce"))
      val grouped = cand
        .groupBy(col("doc_id"), col("n_tok"))
        .agg(array_sort(collect_list(struct(col("p").as("s"), col("e")))).as("cs"))
      val withSpans =
        if (merge)
          grouped.select(col("doc_id"), col("n_tok"),
            aggregate(col("cs"), acc0,
              (acc, x) => {
                val open = acc.getField("cs") >= 0L
                val overlaps = open && x.getField("s") <= acc.getField("ce")
                struct(
                  when(overlaps || !open, acc.getField("spans"))
                    .otherwise(array_append(acc.getField("spans"),
                      struct(acc.getField("cs").as("s"),
                        acc.getField("ce").as("e"))))
                    .as("spans"),
                  when(overlaps, acc.getField("cs"))
                    .otherwise(x.getField("s")).as("cs"),
                  when(overlaps, greatest(acc.getField("ce"), x.getField("e")))
                    .otherwise(x.getField("e")).as("ce"))
              },
              acc => when(acc.getField("cs") >= 0L,
                array_append(acc.getField("spans"),
                  struct(acc.getField("cs").as("s"), acc.getField("ce").as("e"))))
                .otherwise(acc.getField("spans"))).as("spans"))
        else grouped.select(col("doc_id"), col("n_tok"), col("cs").as("spans"))
      withSpans
        .withColumn("n_masked", aggregate(col("spans"), lit(0L),
          (a, sp) => a + sp.getField("e") - sp.getField("s")))
        .select(col("doc_id"), col("n_tok"), col("n_masked"),
          Catalog.rnd(col("n_masked").cast("double") / col("n_tok"), 6)
            .as("mask_frac"),
          posexplode(col("spans")).as(Seq("span_id", "sp")))
        .select(col("doc_id"), col("span_id").cast("long").as("span_id"),
          col("sp.s").as("span_start"),
          (col("sp.e") - col("sp.s")).as("span_len"),
          col("n_tok"), col("n_masked"), col("mask_frac"))
        .orderBy(col("doc_id"), col("span_id"))
    }
    audit("q116_noise_spans", Sf01,
      control = lineage(merge = true),
      mutated = lineage(merge = false))
  }

  test("recipe family (q117): shared-stream packing mutation flips the gate") {
    // 23rd family: the recipe packs each split into ITS OWN token stream
    // (base-subtracted per-split offsets). The plausible regression skips
    // the restart — one shared stream ordered (train, val) — so one
    // straddling sequence would mix val tokens into a train window.
    // Train offsets stay byte-identical (base 0); every val doc shifts by
    // the train total, and nothing coarser than the per-row gate notices
    // (counts, splits, scores, even within-val deltas all survive).
    import graft.operators.{Curation => C, TextAnalytics}
    def build(restart: Boolean) = {
      val scored = docsWide(Sf01)
        .withColumn("toks", TextAnalytics.tokens(col("text")))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("avg_raw",
          TextAnalytics.totalTokenChars(col("toks")).cast("double") / col("n_tok"))
        .withColumn("stop_raw",
          TextAnalytics.wordListHits(col("toks"), TextAnalytics.EnStopwords)
            .cast("double") / col("n_tok"))
        .withColumn("q_score",
          when(col("n_tok") === 0, lit(0.0)).otherwise(Catalog.rnd(
            lit(0.2) * least(col("n_tok").cast("double") / 100.0, lit(1.0)) +
              lit(0.5) * col("stop_raw") +
              lit(0.3) * (lit(1.0) - least(abs(col("avg_raw") - 5.0) / 10.0, lit(1.0))),
            4)))
        .select(col("doc_id"), col("q_score"), col("n_tok"))
      val pairs = Dedup.minhashNearDuplicates(docsWide(Sf01), "doc_id",
        "text", numHashes = 32, bands = 8, threshold = 0.5)
      val clusters = Dedup.duplicateClusters(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_id"), col("is_canonical"))
      val dd = docsWide(Sf01).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
          coalesce(col("is_canonical"), lit(true)).as("kept"))
      val selected = scored.join(dd, Seq("doc_id"))
        .filter(col("kept") && col("q_score") >= 0.35)
        .withColumn("split",
          when(pmod(TextAnalytics.hash60(col("canonical_id").cast("string")),
            lit(100L)) < 10L, lit("val")).otherwise(lit("train")))
      val b = Tables(spark, Sf01, "documents")
        .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head()
      val (mn, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
      val keyed = selected.withColumn("__ord",
        when(col("split") === "val", lit(span)).otherwise(lit(0L))
          + (col("doc_id") - mn))
      val cum = C.saltedPrefixSum(keyed, "__ord", "n_tok", outCol = "__cum",
        orderBounds = Some((0L, 2 * span)))
      val bases = cum.groupBy(col("split")).agg(min(col("__cum")).as("__base"))
      cum.join(broadcast(bases), Seq("split"))
        .withColumn("tok_offset",
          if (restart) col("__cum") - col("__base") else col("__cum"))
        .select(col("doc_id"), col("split"), col("q_score"), col("n_tok"),
          col("tok_offset"),
          expr("tok_offset div 512").as("first_seq"),
          expr("(tok_offset + n_tok - 1) div 512").as("last_seq"))
        .orderBy(col("doc_id"))
    }
    audit("q117_train_prep", Sf01,
      control = build(restart = true),
      mutated = build(restart = false))
  }

  test("impact family (q118): canonical-exempt mutation flips the gate") {
    // 24th family: removable tokens must EXCLUDE each cluster's canonical
    // (dedup keeps one copy; its tokens are not savings). The plausible
    // regression counts the whole cluster's mass as removable — the
    // report still tiles, sizes and counts are untouched, the numbers
    // merely overstate savings by one kept doc per cluster; only the
    // per-value gate notices. The corpus has k≥2 clusters at sf0.01, so
    // the rebuild must hash-mismatch.
    import graft.operators.TextAnalytics
    def build(exemptCanonical: Boolean) = {
      val toks = docsWide(Sf01).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val pairs = Dedup.minhashNearDuplicates(docsWide(Sf01), "doc_id",
        "text", numHashes = 32, bands = 8, threshold = 0.5)
      val clusters = Dedup.duplicateClusters(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_id"), col("is_canonical"))
      val dd = docsWide(Sf01).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
          coalesce(col("is_canonical"), lit(true)).as("kept"))
      val perCluster = dd.join(toks, Seq("doc_id"))
        .groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("k"),
          sum(col("n_tok")).as("c_tok"),
          sum(when(!col("kept"), col("n_tok")).otherwise(lit(0L)))
            .as("c_removable"))
      val removable =
        if (exemptCanonical) col("c_removable")
        // the mutant: "savings = the duplicate clusters' mass" — whole
        // cluster counted, canonical included
        else when(col("k") >= 2, col("c_tok")).otherwise(lit(0L))
      perCluster
        .groupBy(col("k").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("k")).as("n_docs"),
          sum(col("c_tok")).as("n_tok"),
          sum(removable).as("n_tok_removable"))
        .orderBy(col("cluster_size"))
    }
    audit("q118_dedup_impact", Sf01,
      control = build(exemptCanonical = true),
      mutated = build(exemptCanonical = false))
  }

  test("shuffle family (q119): epoch-blind hash mutation flips the gate") {
    // 25th family: the epoch must be INSIDE the shuffle hash. The
    // plausible regression hashes the doc alone (seeding once, reusing
    // the order) — each epoch is still a valid permutation, still
    // pseudorandom, still deterministic; the two epochs are just
    // IDENTICAL, which silently costs the regularization epoch-varying
    // order exists to buy. Only epoch 1's rows change, so the per-value
    // gate flips while every per-epoch invariant survives.
    import graft.operators.{Curation => C, TextAnalytics}
    def build(epochInHash: Boolean) = {
      val b = Tables(spark, Sf01, "documents")
        .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head()
      val (mn, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
      val docs = docsWide(Sf01).select(col("doc_id"))
      val epochs = spark.range(2).select(col("id").as("epoch"))
      val hashIn =
        if (epochInHash) concat(col("epoch"), lit(":"), col("doc_id"))
        else concat(lit("0"), lit(":"), col("doc_id"))
      val keyed = docs.crossJoin(broadcast(epochs))
        .withColumn("shuffle_bucket",
          pmod(TextAnalytics.hash60(hashIn), lit(1000000L)))
        .withColumn("__shuf",
          col("shuffle_bucket") * span + (col("doc_id") - mn))
      C.saltedExactRank(keyed, "epoch", "__shuf", rankCol = "epoch_rank",
          orderBounds = Some((0L, 1000000L * span)))
        .select(col("epoch"), col("doc_id"), col("shuffle_bucket"),
          col("epoch_rank"))
        .orderBy(col("epoch"), col("epoch_rank"))
    }
    audit("q119_epoch_shuffle", Sf01,
      control = build(epochInHash = true),
      mutated = build(epochInHash = false))
  }

  test("packing family (q107): prefix-frame fencepost mutation flips the gate") {
    // The classic frame off-by-one: an INCLUSIVE running sum (frame ends
    // at CURRENT ROW) as the token offset shifts every doc one
    // own-length too far down the packed stream — sequences still tile,
    // totals still conserve, only each doc's claimed placement is wrong,
    // so nothing coarser than the per-row gate would notice.
    import graft.operators.{Curation => C, TextAnalytics}
    def build(inclusive: Boolean) = {
      val toks = docsWide(Sf01).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val off0 = C.saltedPrefixSum(toks, "doc_id", "n_tok", outCol = "__ex")
      val off = off0.withColumn("tok_offset",
          if (inclusive) col("__ex") + col("n_tok") else col("__ex"))
        .drop("__ex")
      off.withColumn("first_seq", expr("tok_offset div 512"))
        .withColumn("last_seq",
          when(col("n_tok") > 0,
            expr("(tok_offset + n_tok - 1) div 512")))
        .withColumn("n_seqs",
          when(col("n_tok") > 0, col("last_seq") - col("first_seq") + 1)
            .otherwise(lit(0L)))
        .withColumn("crosses",
          col("n_tok") > 0 && col("last_seq") > col("first_seq"))
        .select("doc_id", "n_tok", "tok_offset", "first_seq", "last_seq",
          "n_seqs", "crosses")
        .orderBy(col("doc_id"))
    }
    audit("q107_sequence_packing", Sf01,
      control = build(inclusive = false),
      mutated = build(inclusive = true))
  }

  /** Shared rebuild of the q120/q124 BPE induction with one mutation
    * knob: `weighted` — pair counts weighted by word frequency (the
    * shipped token-frequency semantics) vs the plausible type-frequency
    * confusion. Family 30's separator mutation lives in its OWN
    * aggregation code; the rebuild always splits on the shipped
    * two-space separator.
    */
  private def bpeRebuild(sfDir: String, weighted: Boolean)
      : (IndexedSeq[DataFrame], IndexedSeq[DataFrame]) = {
    import graft.operators.TextAnalytics
    val w0 = docsWide(sfDir)
      .select(explode(TextAnalytics.tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), regexp_replace(col("word"), "(.)", " $1 ").as("r"))
      .localCheckpoint()
    val noPairs = array().cast("array<struct<lhs:string,rhs:string>>")
    val ws = scala.collection.mutable.ArrayBuffer(w0)
    val bests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (1 to 6).foreach { _ =>
      val w = ws.last
      val syms = split(trim(col("r")), "  ")
      val pairs = w.select(col("freq"),
          explode(when(size(syms) >= 2,
            transform(sequence(lit(1), size(syms) - 1), j =>
              struct(element_at(syms, j).as("lhs"),
                element_at(syms, j + 1).as("rhs"))))
            .otherwise(noPairs)).as("p"))
        .select(col("freq"), col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      val weight = if (weighted) sum(col("freq")) else count(lit(1))
      val best = pairs.groupBy(col("lhs"), col("rhs"))
        .agg(weight.as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1)
        .localCheckpoint()
      bests += best
      ws += w.crossJoin(broadcast(
          best.select(col("lhs").as("__l"), col("rhs").as("__r"))))
        .withColumn("r", replace(col("r"),
          concat(lit(" "), col("__l"), lit("  "), col("__r"), lit(" ")),
          concat(lit(" "), col("__l"), col("__r"), lit(" "))))
        .drop("__l", "__r")
    }
    (ws.toIndexedSeq, bests.toIndexedSeq)
  }

  test("tokenizer family (q120): type-vs-token pair counting flips the gate") {
    // 26th family: BPE merges must be ranked by TOKEN frequency (freq-
    // weighted pair counts). The plausible confusion counts word TYPES
    // containing the pair — still a valid-looking induction, still
    // deterministic, but every pair_count (and eventually the winners)
    // drifts from the token statistics a tokenizer is supposed to fit.
    def out(weighted: Boolean) = {
      val (_, bests) = bpeRebuild(Sf01, weighted)
      bests.zipWithIndex.map { case (best, i0) =>
        best.select(lit((i0 + 1).toLong).as("merge_rank"), col("lhs"),
          col("rhs"), concat(col("lhs"), col("rhs")).as("merged"),
          col("pair_count"))
      }.reduce(_ union _).orderBy(col("merge_rank"))
    }
    audit("q120_bpe_merges", Sf01,
      control = out(weighted = true),
      mutated = out(weighted = false))
  }

  test("fertility family (q124): separator miscount flips the gate") {
    // 30th family: symbol counting must split on the TWO-space separator.
    // The single-space miscount sees a phantom empty symbol between every
    // pair (" a  b " -> [a, '', b]), inflating every depth's symbol total
    // while chars stay conserved — a report that still LOOKS consistent.
    def out(doubleSep: Boolean) = {
      val (ws, _) = bpeRebuild(Sf01, weighted = true)
      val sep = if (doubleSep) "  " else " "
      ws.zipWithIndex.map { case (w, r) =>
        w.agg(
            sum(col("freq") * size(split(trim(col("r")), sep)))
              .as("total_symbols"),
            sum(col("freq") * length(replace(col("r"), lit(" "), lit(""))))
              .as("total_chars"))
          .select(lit(r.toLong).as("merge_depth"),
            col("total_symbols"), col("total_chars"),
            Catalog.rnd(col("total_chars").cast("double") / col("total_symbols"), 6)
              .as("chars_per_symbol"))
      }.reduce(_ union _).orderBy(col("merge_depth"))
    }
    audit("q124_fertility_curve", Sf01,
      control = out(doubleSep = true),
      mutated = out(doubleSep = false))
  }

  test("recall family (q121): pruned ground truth flips the gate") {
    // 27th family: the recall denominator must be EXACT search (all cells
    // probed). The plausible shortcut reuses the widest candidate tier
    // (nProbe=8) as "truth" — recall at 8 probes then reads 1.0 by
    // construction and every tier's score inflates: an eval that can no
    // longer fail is the regression this family pins.
    def build(exactProbes: Int) = {
      val emb = Tables(spark, Sf01, "embeddings")
      val store = graft.sources.VectorStore.ensure(
        spark, emb.filter(col("vec_id") =!= 0), "embedding", Sf01)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      val exact = Similarity.ivfBatchTopK(store.vectors, "embedding",
          store.centroids, queries, 10, nProbe = exactProbes)
        .select(col("query_id"), col("vec_id"))
      val approx = Seq(1, 2, 4, 8).map { p =>
        Similarity.ivfBatchTopK(store.vectors, "embedding",
            store.centroids, queries, 10, nProbe = p)
          .select(lit(p).as("nprobe"), col("query_id"), col("vec_id"))
      }.reduce(_ union _)
      val hits = approx.join(exact, Seq("query_id", "vec_id"))
        .groupBy(col("nprobe"), col("query_id"))
        .agg(count(lit(1)).as("n_hit"))
      queries.select(col("query_id"))
        .crossJoin(spark.createDataFrame(Seq(1, 2, 4, 8).map(Tuple1(_))).toDF("nprobe"))
        .join(hits, Seq("nprobe", "query_id"), "left")
        .select(col("nprobe"), col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          Catalog.rnd(coalesce(col("n_hit"), lit(0L)) / lit(10.0), 6).as("recall"))
        .orderBy(col("nprobe"), col("query_id"))
    }
    val allCells = graft.sources.VectorStore.ensure(
      spark, Tables(spark, Sf01, "embeddings").filter(col("vec_id") =!= 0),
      "embedding", Sf01).centroids.length
    audit("q121_ann_recall", Sf01,
      control = build(exactProbes = allCells),
      mutated = build(exactProbes = 8))
  }

  test("threshold-curve family (q122): drop-side mutation flips the gate") {
    // 28th family: the greedy estimator drops the LATER doc of each
    // qualifying pair (b_id — keep-first, the q17/q85 keeper direction).
    // Dropping the EARLIER doc is the same-looking rule with the keeper
    // inverted; pair/doc counts can coincide but the token savings are
    // charged to different documents.
    import graft.operators.{Dedup, TextAnalytics}
    def build(dropLater: Boolean) = {
      val docs = docsWide(Sf01)
      val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5)
        .select(col("a_id"), col("b_id"), col("jaccard"))
      val taus = spark.createDataFrame(
        Seq(0.5, 0.7, 0.9, 0.95, 0.98).map(Tuple1(_))).toDF("threshold")
      val tp = pairs.crossJoin(broadcast(taus))
        .filter(col("jaccard") >= col("threshold"))
      val nPairs = tp.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
      val nDocs = tp.select(col("threshold"),
          explode(array(col("a_id"), col("b_id"))).as("id"))
        .distinct()
        .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
      val dropCol = if (dropLater) "b_id" else "a_id"
      val dropped = tp.select(col("threshold"), col(dropCol).as("b_id")).distinct()
      val docTok = docs.select(col("doc_id").as("b_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val savings = docTok.join(broadcast(dropped), Seq("b_id"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_dropped"), sum(col("n_tok")).as("tok_saved"))
      taus
        .join(nPairs, Seq("threshold"), "left")
        .join(nDocs, Seq("threshold"), "left")
        .join(savings, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          coalesce(col("tok_saved"), lit(0L)).as("tok_saved"))
        .orderBy(col("threshold"))
    }
    audit("q122_threshold_curve", Sf01,
      control = build(dropLater = true),
      mutated = build(dropLater = false))
  }

  test("attribution family (q123): donor-inclusive corpus flips the gate") {
    // 29th family: the corpus side must EXCLUDE the benchmark's extract
    // donors (doc_id >= 35). The plausible regression reuses q57's
    // population (>= 25) — every item then "detects" its own donor and
    // the report inflates by exactly the self-hits.
    import graft.operators.WordShingles
    def build(corpusFrom: Int) = {
      val docs = docsWide(Sf01)
      val bench = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
        .select(col("doc_id").as("bench_id"),
          explode(WordShingles.wordShingles(
            substring(col("text"), 21, 120), 8)).as("shingle"))
      val corpus = docs.filter(col("doc_id") >= corpusFrom)
        .select(col("doc_id"), col("source"),
          explode(WordShingles.wordShingles(col("text"), 8)).as("shingle"))
      val hits = corpus.join(broadcast(bench), Seq("shingle"))
        .groupBy(col("bench_id"), col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_shared"))
      val perItem = hits.groupBy(col("bench_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_shared")).as("n_hits"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bench_id"))
        .orderBy(col("n_docs_src").desc, col("source"))
      val top = hits.groupBy(col("bench_id"), col("source"))
        .agg(count(lit(1)).as("n_docs_src"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("bench_id"), col("source").as("top_source"),
          col("n_docs_src").as("top_source_docs"))
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
        .select(col("doc_id").as("bench_id"))
        .join(perItem, Seq("bench_id"), "left")
        .join(top, Seq("bench_id"), "left")
        .select(col("bench_id"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("top_source"),
          coalesce(col("top_source_docs"), lit(0L)).as("top_source_docs"))
        .orderBy(col("bench_id"))
    }
    audit("q123_contam_attribution", Sf01,
      control = build(corpusFrom = 35),
      mutated = build(corpusFrom = 25))
  }

  test("decontam-ablation family (q125): population fencepost flips the gate") {
    // 31st family: the sweep must run over q57's exact population
    // (doc_id >= 25, donors included) or its n=8 row silently stops
    // reconciling with the shipped decontamination check. The off-by-one
    // population (>= 26) drops donor 25's self-hit at every n.
    import graft.operators.WordShingles
    def build(corpusFrom: Int) = {
      val ns = Seq(4, 6, 8, 12)
      val docs = docsWide(Sf01)
      def fused(text: org.apache.spark.sql.Column) =
        flatten(array(ns.map { n =>
          transform(WordShingles.wordShingles(text, n), sh =>
            struct(lit(n).as("ngram_n"), sh.as("shingle")))
        }: _*))
      val bench = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
        .select(explode(fused(substring(col("text"), 21, 120))).as("g"))
        .select(col("g.ngram_n").as("ngram_n"), col("g.shingle").as("shingle"))
        .distinct()
      val hits = docs.filter(col("doc_id") >= corpusFrom)
        .select(col("doc_id"), explode(fused(col("text"))).as("g"))
        .select(col("doc_id"), col("g.ngram_n").as("ngram_n"),
          col("g.shingle").as("shingle"))
        .join(broadcast(bench), Seq("ngram_n", "shingle"))
        .groupBy(col("ngram_n"), col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
      spark.createDataFrame(ns.map(Tuple1(_))).toDF("ngram_n")
        .join(hits.groupBy(col("ngram_n"))
            .agg(count(lit(1)).as("n_docs_flagged"),
              sum(col("n_shared")).as("total_hits")),
          Seq("ngram_n"), "left")
        .select(col("ngram_n"),
          coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"),
          coalesce(col("total_hits"), lit(0L)).as("total_hits"))
        .orderBy(col("ngram_n"))
    }
    audit("q125_decontam_ablation", Sf01,
      control = build(corpusFrom = 25),
      mutated = build(corpusFrom = 26))
  }

  test("quality-keeper family (q126): argmin regression flips the gate") {
    // 32nd family: the keeper must MAXIMIZE quality (score DESC, doc_id
    // tie-break). The classic sort-direction slip keeps the WORST member
    // — still one keeper per cluster, still deterministic, and the
    // changed-flag column still LOOKS sane; only the per-value gate sees
    // the inverted choice.
    import graft.operators.{Dedup, TextAnalytics}
    def build(best: Boolean) = {
      val docs = docsWide(Sf01)
      val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.5)
      val clusters = Dedup.duplicateClusters(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_id"))
      val scored = docs
        .withColumn("toks", TextAnalytics.tokens(col("text")))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("avg_raw",
          TextAnalytics.totalTokenChars(col("toks")).cast("double") / col("n_tok"))
        .withColumn("stop_raw",
          TextAnalytics.wordListHits(col("toks"), TextAnalytics.EnStopwords)
            .cast("double") / col("n_tok"))
        .withColumn("q_score",
          when(col("n_tok") === 0, lit(0.0)).otherwise(Catalog.rnd(
            lit(0.2) * least(col("n_tok").cast("double") / 100.0, lit(1.0)) +
              lit(0.5) * col("stop_raw") +
              lit(0.3) * (lit(1.0) - least(abs(col("avg_raw") - 5.0) / 10.0, lit(1.0))),
            4)))
        .select(col("doc_id"), col("q_score"))
      val members = scored.join(broadcast(clusters), Seq("doc_id"))
      val ord = if (best) col("q_score").desc else col("q_score").asc
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id")).orderBy(ord, col("doc_id"))
      val keeper = members.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("q_keeper"),
          col("q_score").as("keeper_score"))
      val firstSeen = members.filter(col("doc_id") === col("cluster_id"))
        .select(col("cluster_id"), col("q_score").as("first_score"))
      val sizes = members.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
      sizes.join(keeper, Seq("cluster_id")).join(firstSeen, Seq("cluster_id"))
        .select(col("cluster_id"), col("n_members"), col("q_keeper"),
          (col("q_keeper") =!= col("cluster_id")).as("keeper_changed"),
          Catalog.rnd(col("keeper_score") - col("first_score"), 4).as("q_gain"))
        .orderBy(col("cluster_id"))
    }
    audit("q126_quality_keeper", Sf01,
      control = build(best = true),
      mutated = build(best = false))
  }

  test("crawl-yield family (q127): precedence inversion flips the gate") {
    // 33rd family: classification precedence must be exact > near — an
    // identical redelivery IS also a J=1.0 near-dup candidate, so testing
    // the near flag first silently reclassifies every exact redelivery as
    // "near" and the report stops saying how much of the crawl is
    // byte-identical (the dedup path redeliveries should take).
    import graft.operators.{Dedup, TextAnalytics}
    def build(exactFirst: Boolean) = {
      val docs = docsWide(Sf01)
      val store = graft.sources.BandStore.ensure(spark, docs, "doc_id", "text", Sf01)
      val cls = pmod((col("doc_id") / 20).cast("long"), lit(5))
      val dump = docs.select((col("doc_id") + 700000L).as("doc_id"),
        col("source"),
        when(cls === 0, col("text"))
          .when(cls === 1, concat(col("text"), lit(" v2")))
          .otherwise(array_join(reverse(split(trim(col("text")), " ")), " "))
          .as("text"))
      val corpusSigs = docs.select(sha2(col("text"), 256).as("sig")).distinct()
      val exactIds = dump.select(col("doc_id"), sha2(col("text"), 256).as("sig"))
        .join(corpusSigs, Seq("sig"), "left_semi")
        .select(col("doc_id")).withColumn("__ex", lit(true))
      val nearIds = Dedup.incrementalNearDuplicates(dump, docs, store,
          "doc_id", "text", threshold = 0.5)
        .select(col("b_id").as("doc_id")).distinct()
        .withColumn("__nr", lit(true))
      val classified =
        if (exactFirst)
          when(col("__ex"), lit("exact"))
            .when(col("__nr"), lit("near")).otherwise(lit("novel"))
        else
          when(col("__nr"), lit("near"))
            .when(col("__ex"), lit("exact")).otherwise(lit("novel"))
      dump
        .join(exactIds, Seq("doc_id"), "left")
        .join(nearIds, Seq("doc_id"), "left")
        .withColumn("cls", classified)
        .withColumn("n_tok", size(TextAnalytics.tokens(col("text"))).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cls") === "exact", 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("cls") === "near", 1L).otherwise(0L)).as("n_near"),
          sum(when(col("cls") === "novel", 1L).otherwise(0L)).as("n_novel"),
          sum(when(col("cls") === "novel", col("n_tok")).otherwise(0L))
            .as("novel_tokens"),
          sum(col("n_tok")).as("dump_tokens"))
        .withColumn("yield_pct",
          Catalog.rnd(col("novel_tokens").cast("double") / col("dump_tokens"), 6))
        .orderBy(col("source"))
    }
    audit("q127_crawl_yield", Sf01,
      control = build(exactFirst = true),
      mutated = build(exactFirst = false))
  }

  test("pq-recall family (q128): quantized ground truth flips the gate") {
    // 34th family: q121's family 27 pinned the PARTITION-pruning axis
    // (ground truth must probe all cells); this one pins the
    // QUANTIZATION axis — the plausible shortcut scores "truth" through
    // the PQ path at the widest rerank tier, so recall@50 reads 1.0 by
    // construction and the quantization error the harness exists to
    // measure disappears from the report.
    import graft.operators.Similarity
    def build(exactTruth: Boolean) = {
      val emb = Tables(spark, Sf01, "embeddings")
      val vectors = emb.filter(col("vec_id") =!= 0)
      val pq = graft.sources.VectorStore.ensurePq(spark, vectors, "embedding", Sf01)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      val exact =
        if (exactTruth) {
          val store = graft.sources.VectorStore.ensure(spark, vectors, "embedding", Sf01)
          Similarity.ivfBatchTopK(store.vectors, "embedding", store.centroids,
              queries, 10, nProbe = store.centroids.length)
            .select(col("query_id"), col("vec_id"))
        } else
          Similarity.pqBatchTopK(pq.codes, pq.codebooks, vectors, "embedding",
              queries, k = 10, rerank = 50)
            .select(col("query_id"), col("vec_id"))
      val arms = Seq(10, 20, 50).map { r =>
        Similarity.pqBatchTopK(pq.codes, pq.codebooks, vectors, "embedding",
            queries, k = 10, rerank = r)
          .select(lit(r).as("rerank"), col("query_id"), col("vec_id"))
      }.reduce(_ union _)
      val hits = arms.join(exact, Seq("query_id", "vec_id"))
        .groupBy(col("rerank"), col("query_id"))
        .agg(count(lit(1)).as("n_hit"))
      queries.select(col("query_id"))
        .crossJoin(spark.createDataFrame(Seq(10, 20, 50).map(Tuple1(_))).toDF("rerank"))
        .join(hits, Seq("rerank", "query_id"), "left")
        .select(col("rerank"), col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          Catalog.rnd(coalesce(col("n_hit"), lit(0L)) / lit(10.0), 6).as("recall"))
        .orderBy(col("rerank"), col("query_id"))
    }
    audit("q128_pq_recall", Sf01,
      control = build(exactTruth = true),
      mutated = build(exactTruth = false))
  }

  test("fertility-by-source family (q129): reversed merge order flips the gate") {
    // 35th family: merges must apply in LEARNED order — later merges
    // consume earlier merges' output symbols (round 6's 'mer' only exists
    // after round 1 created 'er'). Applying the same six merges in
    // reverse is the classic fold-direction slip: every individual
    // replace is still valid, the totals still look plausible, but
    // chained merges silently never fire.
    import graft.operators.TextAnalytics
    def build(learnedOrder: Boolean) = {
      val bests = graft.queries.PipelineCatalog.bpeChainForAudit(spark, Sf01)
      val sw0 = docsWide(Sf01)
        .select(col("source"),
          explode(TextAnalytics.tokens(lower(col("text")))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("freq"))
        .select(col("source"), col("freq"),
          regexp_replace(col("word"), "(.)", " $1 ").as("r"))
      val ordered = if (learnedOrder) bests else bests.reverse
      val applied = ordered.foldLeft(sw0) { (df, best) =>
        df.crossJoin(broadcast(
            best.select(col("lhs").as("__l"), col("rhs").as("__r"))))
          .withColumn("r", replace(col("r"),
            concat(lit(" "), col("__l"), lit("  "), col("__r"), lit(" ")),
            concat(lit(" "), col("__l"), col("__r"), lit(" "))))
          .drop("__l", "__r")
      }
      applied.groupBy(col("source"))
        .agg(
          sum(col("freq") * size(split(trim(col("r")), "  ")))
            .as("total_symbols"),
          sum(col("freq") * length(replace(col("r"), lit(" "), lit(""))))
            .as("total_chars"))
        .select(col("source"), col("total_symbols"), col("total_chars"),
          Catalog.rnd(col("total_chars").cast("double") / col("total_symbols"), 6)
            .as("chars_per_symbol"))
        .orderBy(col("source"))
    }
    audit("q129_fertility_by_source", Sf01,
      control = build(learnedOrder = true),
      mutated = build(learnedOrder = false))
  }

  test("lsh-tuning family (q130): transposed S-curve flips the gate") {
    // 36th family: the banding design rule is P(catch) = 1-(1-s^r)^b —
    // rows-per-band INSIDE the band power, bands outside. Transposing
    // them (1-(1-s^b)^r, the classic formula error) still produces a
    // plausible monotone curve, so only the oracle's expected-mass column
    // can catch it.
    import graft.functions.BandMinhash
    import graft.operators.WordShingles
    val cfgs = Seq((1, 32), (2, 16), (4, 8), (8, 4), (16, 2), (32, 1))
    def build(transpose: Boolean) = {
      val docs = docsWide(Sf01)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.3)
        .select(col("a_id"), col("b_id"), col("jaccard"))
      val ids = pairs
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
      val sigs = docs.join(broadcast(ids), Seq("doc_id"))
        .select(col("doc_id"),
          BandMinhash.rawMinhashCol(
            WordShingles.wordShingles(col("text")), 32).as("mins"))
      val base = pairs
        .join(sigs.select(col("doc_id").as("a_id"), col("mins").as("mins_a")),
          Seq("a_id"))
        .join(sigs.select(col("doc_id").as("b_id"), col("mins").as("mins_b")),
          Seq("b_id"))
      val perCfg = cfgs.map { case (b, r) =>
        val (pb, pr) = if (transpose) (r, b) else (b, r)
        val folded = base
          .withColumn("fa", BandMinhash.bandFoldCol(col("mins_a"), b))
          .withColumn("fb", BandMinhash.bandFoldCol(col("mins_b"), b))
        val caught = (0 until b)
          .map(j => element_at(col("fa"), j + 1) === element_at(col("fb"), j + 1))
          .reduce(_ || _)
        folded.select(
          lit(b).as("bands"), lit(r).as("rows_per_band"),
          caught.as("caught"),
          floor((lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), lit(pr.toDouble)),
            lit(pb.toDouble))) * 1000000 + 0.5).cast("long").as("p_micros"))
      }.reduce(_ unionAll _)
      val agg = perCfg.groupBy(col("bands"), col("rows_per_band"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"),
          sum(col("p_micros")).as("expected_micros"))
      val cfg = spark.createDataFrame(cfgs.map { case (b, r) =>
          (b, r, math.floor(math.pow(1.0 / b, 1.0 / r) * 1000000 + 0.5).toLong)
        }).toDF("bands", "rows_per_band", "s_star_micros")
      cfg.join(agg, Seq("bands", "rows_per_band"), "left")
        .select(col("bands"), col("rows_per_band"), col("s_star_micros"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_caught"), lit(0L)).as("n_caught"),
          coalesce(col("expected_micros"), lit(0L)).as("expected_micros"))
        .orderBy(col("bands"))
    }
    audit("q130_lsh_tuning", Sf01,
      control = build(transpose = false),
      mutated = build(transpose = true))
  }

  test("repetition-value family (q131): decay half-life mutation flips the gate") {
    // 37th family: the load-bearing constant is the Muennighoff fitted
    // R* ≈ 15.4 (q113's α discipline, applied to the decay axis) — a
    // mis-transcribed half-life rescales every effective-epoch and value
    // column while keeping all the invariants (ratio <= 1, monotonicity),
    // so only the oracle hash can notice.
    def build(halfLife: Double) = {
      val st = docsWide(Sf01)
        .select(col("source"),
          size(graft.operators.TextAnalytics.tokens(col("text")))
            .cast("long").as("n_tok"))
        .groupBy(col("source")).agg(sum(col("n_tok")).as("n_tok"))
        .filter(col("n_tok") > 0)
      val tot = st.agg(sum(col("n_tok")).cast("double").as("total_tok"),
        sum(pow(col("n_tok").cast("double"), 0.7)).as("z"))
      st.crossJoin(broadcast(tot))
        .withColumn("epochs_raw",
          lit(2.0) * col("total_tok")
            * (pow(col("n_tok").cast("double"), 0.7) / col("z")) / col("n_tok"))
        .withColumn("reps", greatest(col("epochs_raw") - 1.0, lit(0.0)))
        .withColumn("eff_raw",
          least(col("epochs_raw"), lit(1.0)) + lit(halfLife)
            * (lit(1.0) - exp(-col("reps") / lit(halfLife))))
        .withColumn("epochs_micros",
          floor(col("epochs_raw") * 1000000 + 0.5).cast("long"))
        .withColumn("eff_epochs_micros",
          floor(col("eff_raw") * 1000000 + 0.5).cast("long"))
        .withColumn("value_micros",
          floor(col("eff_raw") / col("epochs_raw") * 1000000 + 0.5).cast("long"))
        .select(col("source"), col("n_tok"),
          col("epochs_micros"), col("eff_epochs_micros"),
          floor(col("n_tok") * col("eff_raw") + 0.5).cast("long").as("eff_tok"),
          col("value_micros"),
          (col("value_micros") < 900000L).as("diminishing"))
        .orderBy(col("source"))
    }
    audit("q131_repeat_value", Sf01,
      control = build(15.4),
      mutated = build(1.54)) // a dropped decimal point
  }

  test("calibration family (q132): bin-edge mutation flips the gate") {
    // 38th family: the report's bins are FIXED edges (floor of the 6dp
    // logit clamped to [-5, 4]) so tables are comparable across corpus
    // snapshots — a widened clamp silently re-labels the tail mass other
    // consumers join on. The corpus has logits below -5, so lowering the
    // clamp moves rows between bins and the hash must notice.
    import graft.operators.QualityModel
    def build(binLo: Int) = {
      val docs = docsWide(Sf01)
      val w = QualityModel.ensure(spark, docs, Sf01)
      QualityModel.features(docs)
        .withColumn("logit6", Catalog.rnd(QualityModel.zCol(w), 6))
        .withColumn("bin",
          least(greatest(floor(col("logit6")).cast("int"), lit(binLo)), lit(4)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("y").cast("long")).as("n_label_pos"),
          sum(when(col("logit6") > 0.0, 1L).otherwise(0L)).as("n_pred_keep"),
          sum(when((col("logit6") > 0.0) === (col("y") === 1), 1L)
            .otherwise(0L)).as("n_agree"))
        .orderBy(col("bin"))
    }
    audit("q132_quality_calibration", Sf01,
      control = build(-5),
      mutated = build(-6))
  }

  test("drift family (q133): unweighted global centroid flips the gate") {
    // 39th family: the blend centroid must be the VECTOR-weighted mean
    // (sum of all vectors / N), never the mean of the label centroids —
    // with unequal label sizes the unweighted form silently re-weights
    // the blend toward small labels (the classic aggregation-of-averages
    // bug), shifting every reported cosine.
    def build(weighted: Boolean) = {
      val ex = Tables(spark, Sf01, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      val lc = ex.groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      val gc =
        if (weighted)
          lc.groupBy(col("pos"))
            .agg((sum(col("sv")) / sum(col("n"))).as("g"))
        else
          lc.groupBy(col("pos"))
            .agg(avg(col("sv") / col("n")).as("g"))
      lc.join(broadcast(gc), Seq("pos"))
        .withColumn("m", col("sv") / col("n"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          sort_array(collect_list(struct(col("pos"), col("m"), col("g"))))
            .as("a"))
        .withColumn("dot", aggregate(col("a"), lit(0.0),
          (acc, x) => acc + x.getField("m") * x.getField("g")))
        .withColumn("nm", aggregate(col("a"), lit(0.0),
          (acc, x) => acc + x.getField("m") * x.getField("m")))
        .withColumn("ng", aggregate(col("a"), lit(0.0),
          (acc, x) => acc + x.getField("g") * x.getField("g")))
        .select(col("label"), col("n_vecs"),
          Catalog.rnd(when(col("nm") * col("ng") === 0.0, lit(0.0))
            .otherwise(col("dot") / sqrt(col("nm") * col("ng"))), 6)
            .as("centroid_cos"))
        .orderBy(col("label"))
    }
    audit("q133_embedding_drift", Sf01,
      control = build(weighted = true),
      mutated = build(weighted = false))
  }

  test("histogram family (q134): digit-count fencepost flips the gate") {
    // 40th family: bucket = binary digit count MINUS ONE is floor(log2) —
    // the off-by-one (digit count itself, i.e. ceil semantics) relabels
    // every bucket and its power-of-two bounds while the histogram still
    // tiles the corpus, so only the hash can notice.
    def build(off: Int) = {
      val nt = docsWide(Sf01)
        .select(size(graft.operators.TextAnalytics.tokens(col("text")))
          .cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("bucket", (length(bin(col("n_tok"))) - off).cast("int"))
      val ht = nt.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val tot = ht.agg(sum(col("n_tokens")).cast("double").as("tt"))
      ht.crossJoin(broadcast(tot))
        .select(col("bucket"),
          expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("lo_tok"),
          (expr("shiftleft(CAST(1 AS BIGINT), bucket + 1)") - 1).as("hi_tok"),
          col("n_docs"), col("n_tokens"),
          floor(col("n_tokens") / col("tt") * 1000000 + 0.5).cast("long")
            .as("tok_share_micros"))
        .orderBy(col("bucket"))
    }
    audit("q134_length_histogram", Sf01,
      control = build(off = 1),
      mutated = build(off = 0))
  }

  test("overlap family (q135): exact-scrubber n-gram length flips the gate") {
    // 41st family: the exact method's 8-gram basis is WHY the paraphrase
    // cell exists (every 8-word window carries a swap) — shortening the
    // basis to 3-grams makes "exact" see through the paraphrase and the
    // cross-tab silently stops measuring the two methods' difference.
    import graft.operators.WordShingles
    def build(exactN: Int) = {
      val docs = docsWide(Sf01)
      def paraphrase(text: org.apache.spark.sql.Column) =
        array_join(transform(split(trim(text), " "), (x, j) =>
          when(j % 8 === 0,
            concat(lit("pz"), (j / 8).cast("int").cast("string")))
            .otherwise(x)), " ")
      val bench = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
        .select(col("doc_id"), substring(col("text"), 21, 120).as("text"))
        .unionAll(docs.filter(col("doc_id") >= 5 && col("doc_id") < 15)
          .select((col("doc_id") + 1000).as("doc_id"),
            paraphrase(substring(col("text"), 21, 300)).as("text")))
      val fuzzy = Dedup.fuzzyDecontaminate(docs, bench, "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.3)
        .select(col("doc_id"), lit(true).as("flag_fuzzy"))
      val benchSh = bench
        .select(explode(WordShingles.wordShingles(col("text"), exactN)).as("shingle"))
        .distinct()
      val exact = docs
        .select(col("doc_id"),
          explode(WordShingles.wordShingles(col("text"), exactN)).as("shingle"))
        .join(broadcast(benchSh), Seq("shingle"))
        .select(col("doc_id")).distinct()
        .withColumn("flag_exact", lit(true))
      val agg = docs.select(col("doc_id"))
        .join(broadcast(exact), Seq("doc_id"), "left")
        .join(broadcast(fuzzy), Seq("doc_id"), "left")
        .select(coalesce(col("flag_exact"), lit(false)).as("flag_exact"),
          coalesce(col("flag_fuzzy"), lit(false)).as("flag_fuzzy"))
        .groupBy(col("flag_exact"), col("flag_fuzzy"))
        .agg(count(lit(1)).as("n_docs"))
      spark.createDataFrame(
          Seq((false, false), (false, true), (true, false), (true, true)))
        .toDF("flag_exact", "flag_fuzzy")
        .join(broadcast(agg), Seq("flag_exact", "flag_fuzzy"), "left")
        .select(col("flag_exact"), col("flag_fuzzy"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy(col("flag_exact"), col("flag_fuzzy"))
    }
    audit("q135_decontam_overlap", Sf01,
      control = build(exactN = 8),
      mutated = build(exactN = 3))
  }

  test("drift family (q136): word-order shift masquerading as drift flips the gate") {
    // 42nd family: the drifted slice must perturb the BYTE statistics
    // (alphabet permutation), not merely the word order — a word-reversed
    // "drift" leaves the word multiset intact, the frozen merges fire as
    // usual, and the monitor reports no drift at all. A rebuild that
    // quietly swaps the synthesis would make the whole query vacuous.
    import graft.queries.PipelineCatalog
    def build(permute: Boolean) = {
      val bests = PipelineCatalog.bpeChainForAudit(spark, Sf01)
      val docs = docsWide(Sf01)
      val shifted =
        if (permute)
          translate(lower(col("text")), "abcdefghijklmnopqrstuvwxyz",
            "qwertyuiopasdfghjklzxcvbnm")
        else array_join(reverse(split(trim(lower(col("text"))), " ")), " ")
      val batch = docs.select(
        when(col("doc_id") % 2 === 0, lit("stable")).otherwise(lit("shifted"))
          .as("slice"),
        when(col("doc_id") % 2 === 0, lower(col("text"))).otherwise(shifted)
          .as("text"))
      val sw0 = batch
        .select(col("slice"),
          explode(graft.operators.TextAnalytics.tokens(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("slice"), col("word")).agg(count(lit(1)).as("freq"))
        .select(col("slice"), col("freq"),
          regexp_replace(col("word"), "(.)", " $1 ").as("r"))
      val applied = bests.foldLeft(sw0) { (df, best) =>
        df.crossJoin(broadcast(
            best.select(col("lhs").as("__l"), col("rhs").as("__r"))))
          .withColumn("r", replace(col("r"),
            concat(lit(" "), col("__l"), lit("  "), col("__r"), lit(" ")),
            concat(lit(" "), col("__l"), col("__r"), lit(" "))))
          .drop("__l", "__r")
      }
      applied.groupBy(col("slice"))
        .agg(
          sum(col("freq") * size(split(trim(col("r")), "  ")))
            .as("total_symbols"),
          sum(col("freq") * length(replace(col("r"), lit(" "), lit(""))))
            .as("total_chars"))
        .select(col("slice"), col("total_symbols"), col("total_chars"),
          Catalog.rnd(col("total_chars").cast("double") / col("total_symbols"), 6)
            .as("chars_per_symbol"))
        .orderBy(col("slice"))
    }
    audit("q136_tokenizer_drift", Sf01,
      control = build(permute = true),
      mutated = build(permute = false))
  }

  test("funnel family (q137): doc-weighted retention flips the gate") {
    // 43rd family: retention must be TOKEN-weighted (the training budget
    // is tokens) — a doc-weighted rebuild reports a plausible but wrong
    // fraction whenever kept docs skew long or short, which is exactly
    // when the report matters.
    import graft.queries.PipelineCatalog
    def build(tokenWeighted: Boolean) = {
      val base = PipelineCatalog.q137FunnelBaseForAudit(spark, Sf01)
      def split(k: String, t: String) =
        s"(($k * 1000 DIV $t) * 1000 + (($k * 1000 % $t) * 1000 DIV $t))"
      val retention =
        if (tokenWeighted)
          when(col("tok_total") > 0,
            expr(split("tok_kept", "tok_total"))).otherwise(lit(0L))
        else
          when(col("n_docs") > 0,
            expr(split("n_kept", "n_docs"))).otherwise(lit(0L))
      base.withColumn("retention_micros", retention)
        .orderBy(col("source"))
    }
    audit("q137_gate_funnel", Sf01,
      control = build(tokenWeighted = true),
      mutated = build(tokenWeighted = false))
  }

  test("vocab-growth family (q138): last-seen attribution flips the gate") {
    // 44th family: a word belongs to the prefix of its EARLIEST document
    // (min id) — last-seen attribution (max id) silently re-labels every
    // recurring word to the tail prefix, inflating late novelty, while
    // all the conservation invariants still hold.
    import graft.queries.PipelineCatalog
    def build(firstSeen: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      val docs = docsWide(Sf01)
      val b = Tables(spark, Sf01, "documents")
        .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long"))
        .head()
      val (mn, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
      val words = docs
        .select(col("doc_id"),
          explode(graft.operators.TextAnalytics.tokens(lower(col("text"))))
            .as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
      val uptos = (1 to 4).map(k => mn + span * k / 4)
      val fs = words.groupBy(col("word"))
        .agg(firstSeen(col("doc_id")).as("first_id"))
        .withColumn("prefix_q",
          (1 until 4).foldRight(lit(4): org.apache.spark.sql.Column) {
            (k, rest) => when(col("first_id") < uptos(k - 1), lit(k))
              .otherwise(rest)
          })
      val nw = fs.groupBy(col("prefix_q")).agg(count(lit(1)).as("new_words"))
      val tokAggs = (1 to 4).map { k =>
        val upto = mn + span * k / 4
        sum(when(col("doc_id") < upto, col("n_tok")).otherwise(0L)).as(s"ct$k")
      }
      val toks = words.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"))
        .agg(tokAggs.head, tokAggs.tail: _*)
      val qs = spark.createDataFrame((1 to 4).map(k =>
          (k, mn + span * k.toLong / 4))).toDF("prefix_q", "upto_id")
      val base = qs.join(broadcast(nw), Seq("prefix_q"), "left")
        .select(col("prefix_q"), col("upto_id"),
          coalesce(col("new_words"), lit(0L)).as("new_words"))
      val cum = base.as("a")
        .join(base.select(col("prefix_q").as("qb"), col("new_words").as("nb")),
          col("qb") <= col("prefix_q"))
        .groupBy(col("prefix_q"), col("upto_id"), col("new_words"))
        .agg(sum(col("nb")).as("cum_words"))
      cum.crossJoin(broadcast(toks))
        .withColumn("cum_tokens",
          (1 to 4).map(k =>
            when(col("prefix_q") === k, col(s"ct$k")).otherwise(lit(0L)))
            .reduce(_ + _))
        .select(col("prefix_q"), col("upto_id"), col("new_words"),
          col("cum_words"), col("cum_tokens"),
          when(col("cum_tokens") > 0,
            expr("cum_words * 1000000 DIV cum_tokens")).otherwise(lit(0L))
            .as("ttr_micros"))
        .orderBy(col("prefix_q"))
    }
    audit("q138_vocab_growth", Sf01,
      control = build(min),
      mutated = build(max))
  }

  test("review-queue family (q139): rule-score ranking flips the gate") {
    // 45th family: the queue audits the LEARNED model, so it must rank by
    // the classifier's logit — ranking by the q22 rule score (the
    // training label's own arithmetic) still yields a plausible-looking
    // extremes list but reviews the teacher instead of the student, and
    // the two orders disagree inside the high/low mass.
    import graft.operators.QualityModel
    def build(useModel: Boolean) = {
      val docs = docsWide(Sf01)
      val w = QualityModel.ensure(spark, docs, Sf01)
      val feats = docs
        .withColumn("toks", graft.operators.TextAnalytics.tokens(col("text")))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
      val rule =
        lit(0.2) * least(col("n").cast("double") / 100.0, lit(1.0)) +
          lit(0.5) * (graft.operators.TextAnalytics
            .wordListHits(col("toks"), graft.operators.TextAnalytics.EnStopwords)
            .cast("double") / col("n")) +
          lit(0.3) * (lit(1.0) - least(
            abs(graft.operators.TextAnalytics.totalTokenChars(col("toks"))
              .cast("double") / col("n") - 5.0) / 10.0, lit(1.0)))
      val scored =
        if (useModel)
          QualityModel.features(docs)
            .select(col("doc_id"),
              Catalog.rnd(QualityModel.zCol(w), 6).as("quality_logit"))
        else feats.select(col("doc_id"),
          Catalog.rnd(rule, 6).as("quality_logit"))
      val keeps = scored
        .orderBy(col("quality_logit").desc, col("doc_id")).limit(10)
        .withColumn("queue", lit("keep"))
      val drops = scored
        .orderBy(col("quality_logit").asc, col("doc_id")).limit(10)
        .withColumn("queue", lit("drop"))
      docs.select(col("doc_id"), col("text"))
        .join(broadcast(keeps.unionAll(drops)), Seq("doc_id"))
        .select(col("queue"), col("doc_id"), col("quality_logit"),
          when(length(col("text")) > 600,
            concat(substring(col("text"), 1, 600), lit("…")))
            .otherwise(col("text")).as("snippet"))
        .orderBy(col("queue"), col("doc_id"))
    }
    audit("q139_review_queue", Sf01,
      control = build(useModel = true),
      mutated = build(useModel = false))
  }

  test("syndication family (q140): multi-source threshold flips the gate (needs sf0.1 dups)") {
    // 46th family: two distinct publishers of byte-identical text IS
    // syndication — a flag that waits for a third source silently
    // empties on the common two-publisher case.
    def build(minSources: Int) = {
      val self = struct(col("doc_id"), col("source"))
      docsWide(Sf1)
        .select(col("text"), explode(
          when(col("doc_id") % 97 === 0, array(
            self,
            struct((col("doc_id") + 1000000000L).as("doc_id"),
              lit("wire_feed_a").as("source")),
            struct((col("doc_id") + 2000000000L).as("doc_id"),
              lit("wire_feed_b").as("source"))))
            .otherwise(array(self))).as("c"))
        .select(col("c.doc_id").as("doc_id"), col("c.source").as("source"),
          col("text"))
      .groupBy(sha2(col("text"), 256).as("content_sig"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("keeper_id"))
      .filter(col("n_copies") > 1)
      .withColumn("multi_source", col("n_sources") > minSources)
      .select(col("content_sig"), col("n_copies"), col("n_sources"),
        col("keeper_id"), col("multi_source"))
      .orderBy(col("content_sig"))
    }
    audit("q140_syndication", Sf1,
      control = build(minSources = 1),
      mutated = build(minSources = 2))
  }

  test("schedule family (q141): phase-blind anneal weights flip the gate") {
    // 47th family: the anneal phase exists to RE-weight toward quality —
    // a schedule that reuses the warmup basis for phase 2 (the natural
    // copy-paste bug) silently degenerates to q113 run twice; the gate
    // must see it.
    import graft.operators.TextAnalytics
    def build(qualityAware: Boolean) = {
      val toks = TextAnalytics.tokens(col("text"))
      val nTok = size(toks).cast("long")
      val avgLen =
        TextAnalytics.totalTokenChars(toks).cast("double") / size(toks)
      val stopRatio = TextAnalytics.wordListHits(toks,
        TextAnalytics.EnStopwords).cast("double") / size(toks)
      val q4 = Catalog.rnd(
        lit(0.2) * least(size(toks).cast("double") / 100.0, lit(1.0)) +
          lit(0.5) * stopRatio +
          lit(0.3) * (lit(1.0) - least(abs(avgLen - 5.0) / 10.0, lit(1.0))), 4)
      val st = docsWide(Sf01)
        .select(col("source"), nTok.as("n_tok"),
          when(nTok > 0 && q4 >= 0.5, nTok).otherwise(lit(0L)).as("kept_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("n_tok"), sum(col("kept_tok")).as("kept_tok"))
        .filter(col("n_tok") > 0)
        .localCheckpoint()
      val alpha = 0.7
      val tot = st.agg(sum(col("n_tok")).as("total_tok"),
        sum(pow(col("n_tok").cast("double"), alpha)).as("z1"),
        sum(pow(col("kept_tok").cast("double"), alpha)).as("z2"),
        max(col("source")).as("last_source"))
      val base = st.crossJoin(broadcast(tot))
        .withColumn("budget_tok", lit(2L) * col("total_tok"))
        .withColumn("p1_tok", expr("budget_tok * 80 DIV 100"))
      val ph1 = base.select(lit(1L).as("phase"), col("source"), col("n_tok"),
        col("n_tok").as("basis_tok"), col("z1").as("z"),
        col("p1_tok").as("phase_tok"), col("last_source"))
      val ph2Basis = if (qualityAware) col("kept_tok") else col("n_tok")
      val ph2Z = if (qualityAware) col("z2") else col("z1")
      val ph2 = base.select(lit(2L).as("phase"), col("source"), col("n_tok"),
        ph2Basis.as("basis_tok"), ph2Z.as("z"),
        (col("budget_tok") - col("p1_tok")).as("phase_tok"), col("last_source"))
      val mulDiv = "(((phase_tok DIV 1000000) * weight_micros)" +
        " + (((phase_tok % 1000000) * weight_micros) DIV 1000000))"
      val wts = ph1.unionAll(ph2)
        .withColumn("weight_micros",
          when(col("z") > 0,
            floor(pow(col("basis_tok").cast("double"), alpha) / col("z")
              * 1000000 + 0.5).cast("long"))
            .otherwise(lit(0L)))
        .withColumn("floor_alloc", expr(mulDiv))
      val sums = wts.groupBy(col("phase"))
        .agg(sum(col("floor_alloc")).as("alloc_sum"))
      wts.join(broadcast(sums), Seq("phase"))
        .withColumn("token_budget", col("floor_alloc") +
          when(col("source") === col("last_source"),
            col("phase_tok") - col("alloc_sum")).otherwise(lit(0L)))
        .withColumn("epochs_micros", expr(
          "((token_budget * 1000 DIV n_tok) * 1000" +
            " + ((token_budget * 1000 % n_tok) * 1000 DIV n_tok))"))
        .select(col("phase"), col("source"), col("n_tok"), col("basis_tok"),
          col("weight_micros"), col("token_budget"), col("epochs_micros"),
          (col("epochs_micros") > 4000000L).as("over_cap"))
        .orderBy(col("phase"), col("source"))
    }
    audit("q141_mixture_schedule", Sf01,
      control = build(qualityAware = true),
      mutated = build(qualityAware = false))
  }

  test("loader-manifest family (q142): epoch-blind shuffle key flips the gate") {
    // 48th family: the manifest's contract is that every epoch visits
    // the corpus in a DIFFERENT deterministic order — a shuffle key that
    // forgets the epoch (hashing doc_id alone, the natural simplification)
    // packs both epochs identically, which a loader cannot distinguish
    // from a broken shuffle; the gate must see it.
    import graft.operators.TextAnalytics
    def build(epochAware: Boolean) = {
      val toks = docsWide(Sf01).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val bounds = docsWide(Sf01)
        .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long"))
        .head()
      val (mn, span) = (bounds.getLong(0), bounds.getLong(1) - bounds.getLong(0) + 1)
      val perEpochKey = 1000000L * span
      val epochs = spark.range(2).select(col("id").as("epoch"))
      val hashInput = if (epochAware)
        concat(col("epoch"), lit(":"), col("doc_id"))
      else concat(col("doc_id"))
      val keyed = toks.crossJoin(broadcast(epochs))
        .withColumn("__shuf",
          pmod(TextAnalytics.hash60(hashInput), lit(1000000L))
            * span + (col("doc_id") - mn))
        .withColumn("__gk", col("epoch") * perEpochKey + col("__shuf"))
      val gpre = Curation.saltedPrefixSum(keyed, "__gk", "n_tok",
        outCol = "__gpre", orderBounds = Some((0L, 2 * perEpochKey - 1)))
      val total = toks.agg(sum(col("n_tok")).as("total_tok"))
      val spans = gpre.crossJoin(broadcast(total))
        .withColumn("off", col("__gpre") - col("epoch") * col("total_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("first_seq", expr("off div 512"))
        .withColumn("last_seq", expr("(off + n_tok - 1) div 512"))
        .withColumn("seq_id", explode(sequence(col("first_seq"), col("last_seq"))))
        .withColumn("gstart", greatest(col("off"), col("seq_id") * 512L))
        .withColumn("gend",
          least(col("off") + col("n_tok"), (col("seq_id") + 1) * 512L))
        .select(col("epoch"), pmod(col("seq_id"), lit(8L)).as("shard"),
          col("seq_id"), col("doc_id"),
          (col("gstart") - col("off")).as("doc_tok_start"),
          (col("gstart") - col("seq_id") * 512L).as("seq_tok_start"),
          (col("gend") - col("gstart")).as("n_tok"))
        .localCheckpoint()
      val sigs = spans
        .withColumn("term", TextAnalytics.hash60(concat(
          col("seq_id"), lit(":"), col("seq_tok_start"), lit(":"),
          col("doc_id"))))
        .groupBy(col("epoch"), col("shard"))
        .agg(expr("bit_xor(term)").as("shard_sig"),
          sum(col("n_tok")).as("shard_tok"))
      spans.join(broadcast(sigs), Seq("epoch", "shard"))
        .select(col("epoch"), col("shard"), col("seq_id"), col("doc_id"),
          col("doc_tok_start"), col("seq_tok_start"), col("n_tok"),
          col("shard_sig"), col("shard_tok"))
        .orderBy(col("epoch"), col("seq_id"), col("seq_tok_start"))
    }
    audit("q142_loader_manifest", Sf01,
      control = build(epochAware = true),
      mutated = build(epochAware = false))
  }

  test("near-syndication family (q143): keeper-excluded source count flips the gate") {
    // 49th family: the source spread must count EVERY member's source —
    // the off-by-one that counts only non-keeper members (attributing
    // "spread" to the copies alone) undercounts the common 2-member
    // cross-source cluster to n_sources = 1 and silently unflags it.
    def build(allMembers: Boolean) = {
      val pairs = Dedup.minhashNearDuplicates(docsWide(Sf01), "doc_id",
        "text", numHashes = 32, bands = 8, threshold = 0.5)
      val clusters = Dedup.duplicateClusters(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_id"))
      val srcCol = if (allMembers) col("source")
        else when(col("doc_id") =!= col("cluster_id"), col("source"))
      docsWide(Sf01)
        .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("sig"))
        .join(broadcast(clusters), Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(srcCol).as("n_sources"),
          countDistinct(col("sig")).as("n_texts"))
        .select(col("cluster_id"), col("n_members"), col("n_sources"),
          col("n_texts"), (col("n_sources") > 1).as("multi_source"),
          (col("n_texts") > 1).as("near_only"))
        .orderBy(col("cluster_id"))
    }
    audit("q143_near_syndication", Sf01,
      control = build(allMembers = true),
      mutated = build(allMembers = false))
  }

  test("spectrum family (q144): document-frequency basis flips the gate") {
    // 50th family: the spectrum weighs word OCCURRENCES (collection
    // frequency) — the classic IR slip of counting the DOCUMENTS that
    // contain a word instead (document frequency, the df-for-cf
    // confusion) caps every bucket at n_docs and collapses the high-mass
    // end of the Zipf curve; the gate must see it.
    import graft.operators.TextAnalytics
    def build(collectionFreq: Boolean) = {
      val tail = concat(col("text"),
        lit(" zqu"), translate(col("doc_id").cast("string"),
          "0123456789", "abcdefghij"),
        lit(" zqm"), translate(pmod(col("doc_id"), lit(16)).cast("string"),
          "0123456789", "abcdefghij"))
      val raw = docsWide(Sf01)
        .select(col("doc_id"),
          explode(TextAnalytics.tokens(lower(tail))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
      val words = (if (collectionFreq) raw.groupBy(col("word"))
          .agg(count(lit(1)).as("freq"))
        else raw.groupBy(col("word"))
          .agg(countDistinct(col("doc_id")).as("freq")))
      val bucketed = words
        .withColumn("log2_freq", (length(bin(col("freq"))) - 1).cast("long"))
      val tot = words.agg(sum(col("freq")).as("total_mass"))
      bucketed.groupBy(col("log2_freq"))
        .agg(count(lit(1)).as("n_types"), sum(col("freq")).as("mass"))
        .crossJoin(broadcast(tot))
        .select(col("log2_freq"), col("n_types"), col("mass"),
          expr("((mass * 1000 DIV total_mass) * 1000" +
            " + ((mass * 1000 % total_mass) * 1000 DIV total_mass))")
            .as("mass_share_micros"))
        .orderBy(col("log2_freq"))
    }
    audit("q144_freq_spectrum", Sf01,
      control = build(collectionFreq = true),
      mutated = build(collectionFreq = false))
  }

  test("budget family (q145): raw-supply basis flips the gate (needs sf0.1 dups)") {
    // 51st family: a compute-budget plan must count UNIQUE data — sizing
    // a run against raw bytes (duplicates included, the natural
    // `sum(n_tok)` slip) overstates the supply by exactly the mass dedup
    // would remove and under-reports the implied epochs; the gate must
    // see it. Runs at sf0.1, where exact-duplicate classes first exist.
    import graft.operators.TextAnalytics
    def build(dedupSupply: Boolean) = {
      import spark.implicits._
      val toks = docsWide(Sf1)
        .select(sha2(col("text"), 256).as("sig"),
          size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val supply = (if (dedupSupply)
          toks.groupBy(col("sig")).agg(min(col("n_tok")).as("n_tok"))
        else toks)
        .agg(sum(col("n_tok")).as("unique_tok"))
      val ladder = Seq(
        ("probe-1k", 1000L), ("probe-100k", 100000L), ("tiny-1m", 1000000L),
        ("125m", 125000000L), ("1b3", 1300000000L), ("6b7", 6700000000L),
        ("13b", 13000000000L), ("30b", 30000000000L), ("70b", 70000000000L))
        .toDF("model", "params")
      ladder.crossJoin(broadcast(supply))
        .withColumn("needed_tok", col("params") * 20L)
        .withColumn("epochs_raw",
          col("needed_tok").cast("double") / col("unique_tok").cast("double"))
        .withColumn("reps", greatest(col("epochs_raw") - 1.0, lit(0.0)))
        .withColumn("eff_raw",
          least(col("epochs_raw"), lit(1.0)) + lit(15.4)
            * (lit(1.0) - exp(-col("reps") / lit(15.4))))
        .withColumn("eff_tok",
          floor(col("unique_tok") * col("eff_raw") + 0.5).cast("long"))
        .withColumn("utility_micros", expr(
          "((eff_tok * 1000 DIV needed_tok) * 1000" +
            " + ((eff_tok * 1000 % needed_tok) * 1000 DIV needed_tok))"))
        .select(col("model"), col("params"), col("needed_tok"),
          col("unique_tok"),
          floor(col("epochs_raw") * 1000000 + 0.5).cast("long")
            .as("epochs_micros"),
          col("eff_tok"), col("utility_micros"),
          (col("utility_micros") >= 900000L).as("sufficient"))
        .orderBy(col("params"))
    }
    audit("q145_compute_budget", Sf1,
      control = build(dedupSupply = true),
      mutated = build(dedupSupply = false))
  }

  test("datasheet family (q146): span-count-as-sequence-count flips the gate") {
    // 52nd family: the datasheet's n_seqs must count DISTINCT sequences —
    // counting span rows (the natural count(*)) multiplies every
    // sequence by the documents composing it (~10x here), and a loader
    // sizing its prefetch off the datasheet reads garbage; the gate must
    // see it. (The doc-count analogue is insensitive WITHIN a shard at
    // this scale: a straddling doc's spans land in consecutive
    // sequences, which round-robin to DIFFERENT shards.)
    import graft.operators.TextAnalytics
    def build(distinctSeqs: Boolean) = {
      val toks = docsWide(Sf01).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      val bounds = docsWide(Sf01)
        .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long"))
        .head()
      val (mn, span) =
        (bounds.getLong(0), bounds.getLong(1) - bounds.getLong(0) + 1)
      val perEpochKey = 1000000L * span
      val epochs = spark.range(2).select(col("id").as("epoch"))
      val keyed = toks.crossJoin(broadcast(epochs))
        .withColumn("__shuf",
          pmod(TextAnalytics.hash60(
            concat(col("epoch"), lit(":"), col("doc_id"))), lit(1000000L))
            * span + (col("doc_id") - mn))
        .withColumn("__gk", col("epoch") * perEpochKey + col("__shuf"))
      val gpre = Curation.saltedPrefixSum(keyed, "__gk", "n_tok",
        outCol = "__gpre", orderBounds = Some((0L, 2 * perEpochKey - 1)))
      val total = toks.agg(sum(col("n_tok")).as("total_tok"))
      val spans = gpre.crossJoin(broadcast(total))
        .withColumn("off", col("__gpre") - col("epoch") * col("total_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("first_seq", expr("off div 512"))
        .withColumn("last_seq", expr("(off + n_tok - 1) div 512"))
        .withColumn("seq_id", explode(sequence(col("first_seq"), col("last_seq"))))
        .withColumn("gstart", greatest(col("off"), col("seq_id") * 512L))
        .withColumn("gend",
          least(col("off") + col("n_tok"), (col("seq_id") + 1) * 512L))
        .select(col("epoch"), pmod(col("seq_id"), lit(8L)).as("shard"),
          col("seq_id"), col("doc_id"),
          (col("gend") - col("gstart")).as("n_tok"))
      val m = spans.join(docsWide(Sf01).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      val g = m.groupBy(col("epoch"), col("shard"), col("source"))
        .agg(sum(col("n_tok")).as("tok"))
      val tops = g.groupBy(col("epoch"), col("shard"))
        .agg(max(col("tok")).as("top_tok"))
      val topSrc = g.join(broadcast(tops), Seq("epoch", "shard"))
        .filter(col("tok") === col("top_tok"))
        .groupBy(col("epoch"), col("shard"))
        .agg(min(col("source")).as("top_source"),
          max(col("top_tok")).as("top_tok"))
      val seqCount =
        if (distinctSeqs) countDistinct(col("seq_id")) else count(col("seq_id"))
      val base = m.groupBy(col("epoch"), col("shard"))
        .agg(seqCount.as("n_seqs"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_tok")).as("n_tok"),
          countDistinct(col("source")).as("n_sources"))
      base.join(broadcast(topSrc), Seq("epoch", "shard"))
        .select(col("epoch"), col("shard"), col("n_seqs"), col("n_docs"),
          col("n_tok"), col("n_sources"), col("top_source"), col("top_tok"),
          expr("((top_tok * 1000 DIV n_tok) * 1000" +
            " + ((top_tok * 1000 % n_tok) * 1000 DIV n_tok))")
            .as("top_share_micros"))
        .orderBy(col("epoch"), col("shard"))
    }
    audit("q146_shard_datasheet", Sf01,
      control = build(distinctSeqs = true),
      mutated = build(distinctSeqs = false))
  }

  test("cluster-shape family (q147): component-vs-member count confusion flips the gate") {
    // 53rd family: the spectrum's n_clusters counts COMPONENTS per size
    // bucket; the natural slip aggregates the member-grain frame and
    // counts rows (members) where components were meant — the report then
    // claims N× more clusters exactly in the buckets that matter for the
    // "is dup mass corpus-fraction?" decision. The gate must see it.
    import graft.operators.TextAnalytics
    def build(componentCount: Boolean) = {
      val pairs = Dedup.minhashNearDuplicates(docsWide(Sf01), "doc_id",
        "text", numHashes = 32, bands = 8, threshold = 0.5)
      val clusters = Dedup.duplicateClusters(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_id"))
      val toks = docsWide(Sf01).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      // r17 multi-decade redelivery fixture — the shipped construction
      val fix = toks
        .filter(col("doc_id") % 211 === 0 || col("doc_id") % 223 === 0)
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          col("n_tok"))
      val copies = fix
        .withColumn("i", explode(sequence(lit(1L),
          when(col("doc_id") % 211 === 0, lit(5L)).otherwise(lit(11L)))))
        .select((col("doc_id") + col("i") * 1000000000L).as("doc_id"),
          col("cluster_id"), col("n_tok"))
      val members = toks.join(clusters, Seq("doc_id"))
        .select(col("doc_id"), col("cluster_id"), col("n_tok"))
        .unionByName(fix.join(clusters, Seq("doc_id"), "left_anti"))
        .unionByName(copies)
      val tot = toks.select(col("n_tok"))
        .unionByName(copies.select(col("n_tok")))
        .agg(count(lit(1)).as("total_docs"), sum(col("n_tok")).as("total_tok"))
      val perCluster = members
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("ctok"))
      val bucketed = perCluster
        .withColumn("size_bucket", (length(bin(col("n"))) - 1).cast("long"))
      val grouped =
        if (componentCount)
          bucketed.groupBy(col("size_bucket"))
            .agg(count(lit(1)).as("n_clusters"), sum(col("n")).as("n_members"),
              sum(col("ctok")).as("n_tokens"))
        else
          // the confusion: re-grain to members, count ROWS as "clusters"
          bucketed.select(col("size_bucket"), col("n"), col("ctok"),
              explode(sequence(lit(1L), col("n"))).as("__m"))
            .groupBy(col("size_bucket"))
            .agg(count(lit(1)).as("n_clusters"),
              sum(when(col("__m") === 1, col("n")).otherwise(0L)).as("n_members"),
              sum(when(col("__m") === 1, col("ctok")).otherwise(0L)).as("n_tokens"))
      grouped.crossJoin(broadcast(tot))
        .select(col("size_bucket"), col("n_clusters"), col("n_members"),
          col("n_tokens"),
          expr("((n_members * 1000 DIV total_docs) * 1000" +
            " + ((n_members * 1000 % total_docs) * 1000 DIV total_docs))")
            .as("member_share_micros"),
          expr("((n_tokens * 1000 DIV total_tok) * 1000" +
            " + ((n_tokens * 1000 % total_tok) * 1000 DIV total_tok))")
            .as("token_share_micros"))
        .orderBy(col("size_bucket"))
    }
    audit("q147_cluster_shape", Sf01,
      control = build(componentCount = true),
      mutated = build(componentCount = false))
  }

  test("tokenize family (q148): type-basis counting flips the gate") {
    // 54th family: the serving tokenizer counts every word OCCURRENCE;
    // the natural slip dedups words per document first (the TYPE basis —
    // family 26's axis, re-emerging on the apply side), undercounting
    // exactly the repetitive documents a packing pipeline over-packs.
    import graft.operators.TextAnalytics
    import graft.queries.PipelineCatalog
    def build(occurrenceBasis: Boolean) = {
      val w0 = PipelineCatalog.bpeWordTable(spark, Sf01)
      val table = w0.select(col("freq"), col("r")).collect()
        .map(r => (r.getLong(0), r.getString(1).trim.split("  ")))
      val merges = PipelineCatalog.trainBpeLocal(table, 6).map(m => (m._1, m._2))
      val words0 = docsWide(Sf01)
        .select(col("doc_id"),
          explode(TextAnalytics.tokens(lower(col("text")))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
      val words = if (occurrenceBasis) words0 else words0.distinct()
      val applied = graft.functions.ApplyBpe.applyBpe(
        regexp_replace(col("word"), "(.)", " $1 "), merges, spark)
      words
        .select(col("doc_id"), length(col("word")).cast("long").as("n_ch"),
          size(split(trim(applied), "  ")).cast("long").as("n_sym"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_ch")).as("n_chars"),
          sum(col("n_sym")).as("n_bpe_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          col("n_bpe_tokens"),
          expr("((n_chars * 1000 DIV n_bpe_tokens) * 1000" +
            " + ((n_chars * 1000 % n_bpe_tokens) * 1000 DIV n_bpe_tokens))")
            .as("chars_per_token_micros"))
        .orderBy(col("doc_id"))
    }
    audit("q148_bpe_tokenize", Sf01,
      control = build(occurrenceBasis = true),
      mutated = build(occurrenceBasis = false))
  }

  test("incremental-manifest family (q149): append-as-repack flips the gate") {
    // 55th family: the append contract packs the delta at the TAIL of the
    // published order; the natural-but-wrong implementation repacks the
    // whole corpus in one batch (the full-build shape), renumbering every
    // published sequence — exactly what a training run must never
    // observe. The gate must distinguish the two orders.
    import graft.sources.ManifestStore
    val P = graft.queries.PipelineCatalog.manifestParams
    def serve(spans: org.apache.spark.sql.DataFrame) = {
      val sigs = ManifestStore.sigRows(spans)
      spans.join(broadcast(sigs), Seq("epoch", "shard"))
        .select(col("epoch"), col("shard"), col("seq_id"), col("doc_id"),
          col("doc_tok_start"), col("seq_tok_start"), col("n_tok"),
          col("shard_sig"), col("shard_tok"))
        .orderBy(col("epoch"), col("seq_id"), col("seq_tok_start"))
    }
    val docs = docsWide(Sf01).select(col("doc_id"), col("text"))
    val evToks = ManifestStore.tokCounts(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text").localCheckpoint()
    val odToks = ManifestStore.tokCounts(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text").localCheckpoint()
    val evenTok = evToks.agg(sum(col("n_tok"))).head().getLong(0)
    val twoPhase = ManifestStore.spanRows(evToks, 0L, P)
      .unionByName(ManifestStore.spanRows(odToks, evenTok, P))
      .localCheckpoint()
    val repacked = ManifestStore.spanRows(
      ManifestStore.tokCounts(docs, "doc_id", "text").localCheckpoint(),
      0L, P).localCheckpoint()
    audit("q149_inc_manifest", Sf01,
      control = serve(twoPhase),
      mutated = serve(repacked))
  }

  test("stream-manifest family (q150): a broken replay watermark flips the gate") {
    // 56th family: q150's scenario RE-delivers its second micro-batch
    // under the same batch id — the restart replay the watermark must
    // swallow. The natural-but-wrong implementation (no watermark, or a
    // watermark keyed after the append) applies the replay as a fresh
    // dump: the odd docs pack AGAIN at the new tail, doubling their spans
    // behind unchanged base rows. The gate must distinguish served-once
    // from served-twice.
    import graft.sources.ManifestStore
    val P = graft.queries.PipelineCatalog.manifestParams
    def serve(spans: org.apache.spark.sql.DataFrame) = {
      val sigs = ManifestStore.sigRows(spans)
      spans.join(broadcast(sigs), Seq("epoch", "shard"))
        .select(col("epoch"), col("shard"), col("seq_id"), col("doc_id"),
          col("doc_tok_start"), col("seq_tok_start"), col("n_tok"),
          col("shard_sig"), col("shard_tok"))
        .orderBy(col("epoch"), col("seq_id"), col("seq_tok_start"))
    }
    val docs = docsWide(Sf01).select(col("doc_id"), col("text"))
    val evToks = ManifestStore.tokCounts(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text").localCheckpoint()
    val odToks = ManifestStore.tokCounts(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text").localCheckpoint()
    val evenTok = evToks.agg(sum(col("n_tok"))).head().getLong(0)
    val oddTok = odToks.agg(sum(col("n_tok"))).head().getLong(0)
    val once = ManifestStore.spanRows(evToks, 0L, P)
      .unionByName(ManifestStore.spanRows(odToks, evenTok, P))
      .localCheckpoint()
    val replayApplied = once
      .unionByName(ManifestStore.spanRows(odToks, evenTok + oddTok, P))
      .localCheckpoint()
    audit("q150_stream_manifest", Sf01,
      control = serve(once),
      mutated = serve(replayApplied))
  }

  test("inc-cluster family (q154): a tombstone-blind store read flips the gate") {
    // 58th family: the incremental cluster store RELABELS a published
    // cluster's members when a delta doc becomes its new minimum (the
    // scenario's doc-45 bridge into {267, 413}) — losers tombstone at
    // gen N and re-append at gen N. The natural serving slip reads raw
    // segment rows without the tombstone/committed-gen discipline, so a
    // relabeled member serves BOTH its stale and its new label. The gate
    // must see the stale rows.
    import graft.queries.PipelineCatalog
    import graft.sources.{ClusterStore, GenStore}
    val path = PipelineCatalog.q154EnsureIncremental(spark, Sf01)
    val control = ClusterStore.read(spark, path)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
      .orderBy(col("doc_id"))
    val mutated = GenStore.seg(spark, GenStore.tableDir(path, "clusters"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .distinct()
      .orderBy(col("doc_id"))
    // non-vacuity: the scenario must actually have tombstoned something
    assert(mutated.count() > control.count(),
      "q154 scenario produced no relabel — the mutation would be vacuous")
    audit("q154_inc_clusters", Sf01, control = control, mutated = mutated)
  }

  test("stream-cluster family (q155): probing before the band upsert flips the gate") {
    // 59th family: the dropzone wiring probes the band store for the
    // delta's pairs AFTER upserting the delta's fingerprints — the
    // ordering that makes delta-INTERNAL pairs visible. The natural slip
    // probes first (or against a stale read), so a dump whose duplicates
    // arrive together never clusters them: the {8, 245} pair lands in
    // the band store but its labels never materialize. Control is q154's
    // direct-call store (same labels as the stream path by the oracle's
    // own equivalence); mutated replays the scenario with the batch-1
    // probe against the PRE-upsert bands.
    import graft.queries.PipelineCatalog
    import graft.sources.{BandStore, ClusterStore}
    import spark.implicits._
    val control = SparkEntry.queries("q154_inc_clusters")(spark, Sf01)
    val docs = docsWide(Sf01).select(col("doc_id"), col("text"))
    val held = Seq(8L, 245L, 45L)
    val base = docs.filter(!col("doc_id").isin(held: _*))
    val bandTmp = scratchDir("f59-bands").toString
    val clTmp = scratchDir("f59-clusters").toString
    BandStore.write(base, "doc_id", "text", bandTmp, 32, 8)
    ClusterStore.write(base, BandStore.read(spark, bandTmp, 32, 8),
      "doc_id", "text", clTmp)
    val d1 = docs.filter(col("doc_id").isin(8L, 245L))
    val d2 = docs.filter(col("doc_id") === 45L)
    // THE SLIP: batch 1's probe runs against the store WITHOUT the
    // delta's fingerprints (upsert happens after, too late)
    val corpus1 = base.unionByName(d1)
    ClusterStore.append(spark, d1, corpus1,
      BandStore.read(spark, bandTmp, 32, 8), "doc_id", "text", clTmp,
      batchId = 1L)
    BandStore.upsert(spark, d1, "doc_id", "text",
      Seq.empty[Long].toDF("doc_id"), bandTmp, 32, 8, batchId = 1L)
    // batch 2 in the correct order — the slip's damage must persist
    BandStore.upsert(spark, d2, "doc_id", "text",
      Seq.empty[Long].toDF("doc_id"), bandTmp, 32, 8, batchId = 2L)
    ClusterStore.append(spark, d2, corpus1.unionByName(d2),
      BandStore.read(spark, bandTmp, 32, 8), "doc_id", "text", clTmp,
      batchId = 2L)
    val mutated = ClusterStore.read(spark, clTmp)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
      .orderBy(col("doc_id"))
    // non-vacuity: the slip must actually have lost the {8, 245} pair
    assert(!mutated.collect().exists(_.getLong(0) == 8L),
      "slip replica still clustered the delta-internal pair — vacuous")
    audit("q155_stream_clusters", Sf01, control = control, mutated = mutated)
  }

  test("v2-tokenizer family (q152): a lowercase slip flips the gate") {
    // 57th family: v2's contract is CASE-PRESERVING full-alphabet
    // induction (production byte-level tokenizers never casefold); the
    // natural migration slip keeps v1's lower() in the new word basis,
    // which folds the fixture's uppercase mass back into the lowercase
    // pairs and moves merge winners. The gate must see it.
    import graft.queries.PipelineCatalog
    import spark.implicits._
    def build(lowercased: Boolean) = {
      val w0raw = PipelineCatalog.bpeWordTableV2(spark, Sf01)
      val w0 =
        if (lowercased)
          // the slip applied at the symbolization grain: casefold the
          // symbolized words and re-aggregate the freqs
          w0raw.select(col("freq"), lower(col("r")).as("r"))
            .groupBy(col("r")).agg(sum(col("freq")).as("freq"))
            .select(col("freq"), col("r"))
        else w0raw
      val table = w0.select(col("freq"), col("r")).collect()
        .map(r => (r.getLong(0), r.getString(1).trim.split("  ")))
      val merges = PipelineCatalog.trainBpeLocal(table, 6)
      merges.zipWithIndex.map { case ((l, r, c), i0) =>
        ((i0 + 1).toLong, l, r, l + r, c)
      }.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
        .orderBy(col("merge_rank"))
    }
    audit("q152_bpe_merges_v2", Sf01,
      control = build(lowercased = false),
      mutated = build(lowercased = true))
  }
}
