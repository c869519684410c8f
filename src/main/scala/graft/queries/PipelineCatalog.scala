package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Uuid5
import graft.operators.{Chunker, Dedup, DevEmbed, QualityModel, Similarity, TextAnalytics}
import graft.sources.{GenStore, VectorStore}

/** Pipeline / text-analytics operator queries: the reference's dataflow
  * stages (chunk → embed → search, SURVEY §2.8) plus the training-data
  * operators (dedup, near-dup, similarity search, language id, quality,
  * fingerprints). Oracle SQL reproduces each computation in DuckDB —
  * including the full iterative whitespace-aware chunker, expressed as a
  * recursive CTE.
  */
object PipelineCatalog {
  import Catalog.{Q, rnd}

  private def tbl(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** documents with scan fan-out: the text-kernel queries (chunker,
    * shingles, minhash, simhash, quality, redaction) are CPU-bound per-row
    * work, and the single-row-group test file would otherwise run all of
    * it on ONE task (see Tables.fanOut — a no-op on well-split sources).
    */
  private def docsWide(s: SparkSession, d: String) =
    Tables.fanOut(Tables(s, d, "documents"))

  // The shared trained artifacts. Each has exactly one accessor, called by
  // every query that serves it AND by its oracle, so the oracle embeds the
  // literals the query served. Each builds once per source stamp; later
  // calls read the manifest and the JSON sidecar.

  /** IVF index (cells + centroids) over every embedding but the probe. */
  private[graft] def ivfIndex(s: SparkSession, d: String): VectorStore.Index =
    VectorStore.ensure(
      s, tbl(s, d, "embeddings").filter(col("vec_id") =!= 0), "embedding", d)

  /** PQ codes + codebooks, cell-partitioned by [[ivfIndex]]'s centroids. */
  private[graft] def pqIndex(s: SparkSession, d: String): VectorStore.PqIndex =
    VectorStore.ensurePq(
      s, tbl(s, d, "embeddings").filter(col("vec_id") =!= 0), "embedding", d)

  /** Quality-classifier coefficients trained on the documents. */
  private[graft] def qcWeights(s: SparkSession, d: String): Array[Double] =
    QualityModel.ensure(s, docsWide(s, d), d)

  private val ChunkSize = 100
  private val ChunkOverlap = 20
  private val ChunkStep = ChunkSize - ChunkOverlap

  // -------------------------------------------------------------------------
  // q13: sliding-window chunker (T1) — posexplode of the ChunkText expression
  // -------------------------------------------------------------------------

  val q13Chunks: Q = (s, d) =>
    docsWide(s, d)
      .select(col("doc_id"),
        posexplode(Chunker.chunkTextCol(col("text"), ChunkSize, ChunkOverlap))
          .as(Seq("idx", "chunk")))
      .orderBy(col("doc_id"), col("idx"))

  private val q13Sql =
    s"""${ChunkerSql.walkCte("SELECT doc_id AS key, text FROM documents", ChunkSize, ChunkOverlap)}
       SELECT key AS doc_id, idx, chunk FROM chunks
       ORDER BY doc_id, idx"""

  // -------------------------------------------------------------------------
  // q14: deterministic ids (F6). DuckDB lacks sha1, so the oracle is a
  // VALUES table of RFC-4122 uuid5 vectors precomputed with an INDEPENDENT
  // implementation (CPython's stdlib uuid module) for a fixed (doc, idx)
  // grid — a uuid5 regression now flips a driver row, not only a ScalaTest.
  // The chunker lineage the old rows-only form rode on is already fully
  // oracle-verified by q13/q33.
  // -------------------------------------------------------------------------

  val q14ChunkIds: Q = (s, d) =>
    docsWide(s, d)
      .filter(col("doc_id") < 10)
      .withColumn("document_id", Uuid5.documentId(concat(lit("docs/"), col("doc_id"))))
      .select(col("doc_id"), col("document_id"),
        explode(sequence(lit(0), lit(2))).as("idx"))
      .withColumn("chunk_id", Uuid5.chunkId(col("document_id"), col("idx")))
      .select(col("doc_id"), col("document_id"), col("idx"), col("chunk_id"))
      .orderBy(col("doc_id"), col("idx"))

  /** Golden (doc_id, idx, document_id, chunk_id) rows: python3 -c uuid5
    * with namespace 00000000-0000-5000-8000-000000000000, names
    * "docs/{doc_id}" / "chunk:{idx}" — the reference's id scheme
    * (worker/app/utils/docids.py:25,44-49).
    */
  private val q14Sql =
    """WITH v(doc_id, idx, document_id, chunk_id) AS (VALUES
       (0, 0, '3c258cfd-419a-5683-8698-16c463246921', 'ad3c5b94-30c8-5308-a732-8f57e374e4f0'),
       (0, 1, '3c258cfd-419a-5683-8698-16c463246921', '9db3b6a3-b21e-57bc-a7c6-3aa185493d5a'),
       (0, 2, '3c258cfd-419a-5683-8698-16c463246921', '02ab78fc-ba7f-5698-80a1-091025d1c225'),
       (1, 0, '46beadc5-53db-5b38-8440-eaa78ef58b6c', '681bfdaf-37e8-5785-834e-94372059d95a'),
       (1, 1, '46beadc5-53db-5b38-8440-eaa78ef58b6c', '66ccfef5-6a43-5449-8e30-7550c2fff357'),
       (1, 2, '46beadc5-53db-5b38-8440-eaa78ef58b6c', '6587a8ca-95ba-5a22-aef5-6ce8b81c1d2b'),
       (2, 0, '1145e388-6644-5cb7-b321-e7b922aaa713', '6a213b53-bf46-5a3e-8641-8f8d491f22ae'),
       (2, 1, '1145e388-6644-5cb7-b321-e7b922aaa713', '31f24206-ea5b-567c-8634-4f6e2aebd2e7'),
       (2, 2, '1145e388-6644-5cb7-b321-e7b922aaa713', 'c9601815-2b17-5db9-b20b-fc57f221020f'),
       (3, 0, 'a21c6e60-17b2-52cb-b90d-3675046b248a', 'b0811142-dd67-5f34-ad1d-48d76f67c87b'),
       (3, 1, 'a21c6e60-17b2-52cb-b90d-3675046b248a', '0aa10dcd-ff03-5f4f-8d8d-16eb188cf551'),
       (3, 2, 'a21c6e60-17b2-52cb-b90d-3675046b248a', '8f63a4e9-4539-56e9-9913-0e263a82c9c8'),
       (4, 0, 'f2580f8d-dd4f-5185-a1c8-5561fa00338c', '60c193ed-9bf4-5a50-92df-d41ae4507771'),
       (4, 1, 'f2580f8d-dd4f-5185-a1c8-5561fa00338c', 'b38d18e5-bd10-59f0-a88c-a4a5f6de6f96'),
       (4, 2, 'f2580f8d-dd4f-5185-a1c8-5561fa00338c', '51c8cae2-d98b-5277-a3b0-b0458d5fa216'),
       (5, 0, '2a567d3d-ced5-5716-8c26-bde0112fd69b', 'e1f46009-7960-51d0-9e43-0b33916fcd9c'),
       (5, 1, '2a567d3d-ced5-5716-8c26-bde0112fd69b', 'dcadd097-f699-539a-a223-7e8f3762a090'),
       (5, 2, '2a567d3d-ced5-5716-8c26-bde0112fd69b', 'b08e614f-7317-5ba2-9480-101f688a67a9'),
       (6, 0, '58e11769-2cd4-55c9-8493-46361f34db11', '8cfd41ba-6200-5665-bece-dbef5827090a'),
       (6, 1, '58e11769-2cd4-55c9-8493-46361f34db11', '5402745e-da49-537b-bffe-8d99ddf6ab34'),
       (6, 2, '58e11769-2cd4-55c9-8493-46361f34db11', '8565175b-dd32-5e7d-a21d-e09e0307539c'),
       (7, 0, '5ce161d5-0e75-56ff-afea-40c9be7b0398', '37e3a136-e2b7-5832-a0f4-174c2c48432e'),
       (7, 1, '5ce161d5-0e75-56ff-afea-40c9be7b0398', '07aa402b-a583-5060-9300-f95f464afb6e'),
       (7, 2, '5ce161d5-0e75-56ff-afea-40c9be7b0398', '5f632a29-1349-5f81-a85f-8578a5754f4f'),
       (8, 0, '4df0661e-ffca-53c5-bd21-ca161b52f55f', '7050d501-6cdf-50dd-9c7e-cd1640205cee'),
       (8, 1, '4df0661e-ffca-53c5-bd21-ca161b52f55f', 'efa2f402-b1f2-5bc8-b315-507835c0c02f'),
       (8, 2, '4df0661e-ffca-53c5-bd21-ca161b52f55f', 'ed23454d-c039-5f9d-bad4-ed851f5079b7'),
       (9, 0, '5dbc4807-c329-584e-a4fa-8e3144a1fb5a', '0e6dc967-1dc0-527c-b2e4-4f98854de815'),
       (9, 1, '5dbc4807-c329-584e-a4fa-8e3144a1fb5a', 'ccb40911-7bf2-5556-a537-906df390feb2'),
       (9, 2, '5dbc4807-c329-584e-a4fa-8e3144a1fb5a', '0b0181ef-0ee8-539f-a73b-6d46c8b31567'))
       SELECT d.doc_id, v.document_id, CAST(v.idx AS INT) AS idx, v.chunk_id
       FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 10) d
       JOIN v ON v.doc_id = d.doc_id
       ORDER BY d.doc_id, v.idx"""

  // -------------------------------------------------------------------------
  // q15: dev-mode embedding (T3) — first 8 dims, exact doubles
  // -------------------------------------------------------------------------

  val q15EmbedDev: Q = (s, d) =>
    docsWide(s, d)
      .withColumn("vec", DevEmbed.devEmbed(col("text"), 8))
      .select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("vec"), i + 1).as(s"e$i")): _*)
      .orderBy(col("doc_id"))

  private val q15Sql = {
    val dims = (0 until 8)
      .map(i => s"CAST('0x' || substr(sha256(text), ${2 * i + 1}, 2) AS INT) / 256.0 AS e$i")
      .mkString(",\n       ")
    s"""SELECT doc_id,
       $dims
       FROM documents ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q16: brute-force cosine KNN (J4/W1)
  // -------------------------------------------------------------------------

  val q16KnnCosine: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qv"))
    Similarity.cosineTopK(
        emb.filter(col("vec_id") =!= 0), "embedding", query, 10)
      .select(col("vec_id"), col("label"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  private val q16Sql =
    """SELECT vec_id, label,
       floor((list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))) * 1000000 + 0.5) / 1000000.0 AS score
       FROM embeddings WHERE vec_id <> 0
       ORDER BY score DESC, vec_id LIMIT 10"""

  // -------------------------------------------------------------------------
  // q17: exact dedup by content signature
  // -------------------------------------------------------------------------

  val q17DedupExact: Q = (s, d) =>
    Dedup.exactDuplicateGroups(docsWide(s, d), "doc_id", "text")
      .select(col("content_sig"), col("keeper_id"), col("n_copies"))
      .orderBy(col("content_sig"))

  private val q17Sql =
    """SELECT sha256(text) AS content_sig,
       CAST(min(doc_id) AS BIGINT) AS keeper_id, count(*) AS n_copies
       FROM documents
       GROUP BY sha256(text)
       ORDER BY content_sig"""

  // -------------------------------------------------------------------------
  // q18: near-dup pairs by exact shingle Jaccard (lang-blocked)
  // -------------------------------------------------------------------------

  val q18JaccardPairs: Q = (s, d) =>
    Dedup.jaccardPairs(docsWide(s, d), "doc_id", "text", "lang", 0.5)
      .orderBy(col("a_id"), col("b_id"))

  private val q18Sql =
    """WITH words AS (
         SELECT doc_id, lang, string_split(trim(text), ' ') AS w FROM documents
       ), sh AS (
         SELECT DISTINCT doc_id, lang, shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       pairs AS (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         FROM sh a JOIN sh b ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       )
       SELECT a_id, b_id, inter,
              floor((CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)) * 1000000 + 0.5) / 1000000.0 AS jaccard
       FROM pairs JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
       ORDER BY a_id, b_id"""

  // -------------------------------------------------------------------------
  // q19: MinHash+LSH near-dups (scale path). The hash family is
  // engine-portable (sha256 base + mod-2^60 affine permutations, see
  // BandMinhash), so DuckDB replays the banding BIT-FOR-BIT: the oracle
  // recomputes all 32 minhashes, folds the 8 band buckets, takes
  // same-bucket candidate pairs, and verifies exact Jaccard — a full
  // hash-match of the LSH path, not a rows-only count.
  // -------------------------------------------------------------------------

  val q19MinhashLsh: Q = (s, d) =>
    Dedup.minhashNearDuplicates(docsWide(s, d), "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.5)
      .orderBy(col("a_id"), col("b_id"))

  /** The q19 replay's WITH-chain, ending in `prs(a_id, b_id, inter,
    * jaccard)` — shared by q19's pair listing and q122's threshold sweep.
    */
  private val minhashPrsCte = {
    import graft.functions.BandMinhash
    val numHashes = 32
    val bands = 8
    val rpb = numHashes / bands
    val minCols = (0 until numHashes)
      .map(k => s"min(${BandMinhash.sqlLcg(k, "x")}) AS m$k")
      .mkString(",\n           ")
    val bandCols = (0 until bands).map { b =>
      val acc = (0 until rpb).foldLeft(BandMinhash.FoldSeed.toString)(
        (a, r) => BandMinhash.sqlMix(a, s"m${b * rpb + r}"))
      s"$acc AS bh$b"
    }.mkString(",\n           ")
    val anyBand = (0 until bands).map(b => s"a.bh$b = b.bh$b").mkString(" OR ")
    s"""WITH words AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
       ), sh AS (
         SELECT DISTINCT doc_id, shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), h AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM sh
       ), mins AS (
         SELECT doc_id,
           $minCols
         FROM h GROUP BY doc_id
       ), bnd AS (
         SELECT doc_id,
           $bandCols
         FROM mins
       ), cand AS (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id
         FROM bnd a JOIN bnd b ON a.doc_id < b.doc_id AND ($anyBand)
       ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT c.a_id, c.b_id, count(*) AS inter
         FROM cand c
         JOIN sh sa ON sa.doc_id = c.a_id
         JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         GROUP BY c.a_id, c.b_id
       ), prs AS (
         SELECT i.a_id, i.b_id, CAST(i.inter AS BIGINT) AS inter,
                floor((CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter)) * 1000000 + 0.5) / 1000000.0 AS jaccard
         FROM inter i
         JOIN sizes sa ON sa.doc_id = i.a_id
         JOIN sizes sb ON sb.doc_id = i.b_id
         WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.5
       )"""
  }

  private val q19Sql =
    s"""$minhashPrsCte
       SELECT a_id, b_id, inter, jaccard FROM prs ORDER BY a_id, b_id"""

  // -------------------------------------------------------------------------
  // q20: SimHash fingerprints
  // -------------------------------------------------------------------------

  val q20Simhash: Q = (s, d) =>
    docsWide(s, d)
      .select(col("doc_id"),
        graft.functions.SimHashText.simhashText(col("text")).as("simhash"))
      .orderBy(col("doc_id"))

  private val q20Sql =
    """WITH tok AS (
         SELECT DISTINCT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS h
         FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
       ), bits AS (
         SELECT doc_id, i,
           CASE WHEN sum(CAST((h >> CAST(i AS INT)) & 1 AS INT) * 2 - 1) >= 0
                THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END AS b
         FROM tok CROSS JOIN range(60) r(i) GROUP BY doc_id, i
       )
       SELECT doc_id, CAST(sum(b) AS BIGINT) AS simhash FROM bits
       GROUP BY doc_id ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q21: heuristic language id
  // -------------------------------------------------------------------------

  val q21LangId: Q = (s, d) =>
    docsWide(s, d)
      .withColumn("toks", array_distinct(TextAnalytics.tokens(col("text"))))
      .select(col("doc_id"),
        TextAnalytics.stopwordScore(col("toks"), TextAnalytics.EnStopwords).as("s_en"),
        TextAnalytics.stopwordScore(col("toks"), TextAnalytics.DeStopwords).as("s_de"),
        TextAnalytics.stopwordScore(col("toks"), TextAnalytics.EsStopwords).as("s_es"),
        TextAnalytics.stopwordScore(col("toks"), TextAnalytics.FrStopwords).as("s_fr"))
      .withColumn("predicted",
        TextAnalytics.langId(col("s_en"), col("s_de"), col("s_es"), col("s_fr")))
      .orderBy(col("doc_id"))

  private val q21Sql = {
    def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH w AS (SELECT doc_id, list_distinct(list_filter(
           regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS toks FROM documents),
       s AS (SELECT doc_id,
         len(list_intersect(toks, ${arr(TextAnalytics.EnStopwords)})) AS s_en,
         len(list_intersect(toks, ${arr(TextAnalytics.DeStopwords)})) AS s_de,
         len(list_intersect(toks, ${arr(TextAnalytics.EsStopwords)})) AS s_es,
         len(list_intersect(toks, ${arr(TextAnalytics.FrStopwords)})) AS s_fr
         FROM w)
       SELECT doc_id, s_en, s_de, s_es, s_fr,
         CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
              WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS predicted
       FROM s ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q22: quality scoring
  // -------------------------------------------------------------------------

  val q22Quality: Q = (s, d) =>
    docsWide(s, d)
      .withColumn("toks", TextAnalytics.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("total_len", TextAnalytics.totalTokenChars(col("toks")))
      .withColumn("avg_token_len_raw", col("total_len").cast("double") / col("n_tokens"))
      .withColumn("stop_hits",
        TextAnalytics.wordListHits(col("toks"), TextAnalytics.EnStopwords))
      .withColumn("stop_ratio_raw", col("stop_hits").cast("double") / col("n_tokens"))
      .withColumn("digit_ratio_raw",
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") / length(col("text")))
      .select(col("doc_id"), col("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        rnd(col("avg_token_len_raw"), 4).as("avg_token_len"),
        rnd(col("stop_ratio_raw"), 4).as("stopword_ratio"),
        rnd(col("digit_ratio_raw"), 4).as("digit_ratio"),
        rnd(
          lit(0.2) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)) +
            lit(0.5) * col("stop_ratio_raw") +
            lit(0.3) * (lit(1.0) - least(abs(col("avg_token_len_raw") - 5.0) / 10.0, lit(1.0))),
          4).as("quality_score"))
      .orderBy(col("doc_id"))

  private val q22Sql = {
    val arr = TextAnalytics.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH w AS (
         SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'),
                                          t -> t <> '') AS toks FROM documents
       ), m AS (
         SELECT doc_id, text, len(toks) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
             / len(toks) AS avg_len_raw,
           CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS DOUBLE)
             / len(toks) AS stop_ratio_raw,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / length(text) AS digit_ratio_raw
         FROM w)
       SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         floor((avg_len_raw) * 10000 + 0.5) / 10000.0 AS avg_token_len,
         floor((stop_ratio_raw) * 10000 + 0.5) / 10000.0 AS stopword_ratio,
         floor((digit_ratio_raw) * 10000 + 0.5) / 10000.0 AS digit_ratio,
         floor((0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
             + 0.5 * stop_ratio_raw
             + 0.3 * (1.0 - least(abs(avg_len_raw - 5.0) / 10.0, 1.0))) * 10000 + 0.5) / 10000.0 AS quality_score
       FROM m ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q23: document fingerprint (min-hash + xor over shingle hashes)
  // -------------------------------------------------------------------------

  val q23Fingerprint: Q = (s, d) =>
    docsWide(s, d)
      .select(col("doc_id"),
        explode(graft.operators.WordShingles.wordShingles(col("text"))).as("shingle"))
      .distinct()
      .select(col("doc_id"), TextAnalytics.hash60(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(min(col("h")).as("fp_min"), expr("bit_xor(h)").as("fp_xor"),
        count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))

  private val q23Sql =
    """WITH words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS h
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       )
       SELECT doc_id, CAST(min(h) AS BIGINT) AS fp_min, CAST(bit_xor(h) AS BIGINT) AS fp_xor,
              count(*) AS n_shingles
       FROM sh GROUP BY doc_id ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q24: sessionization (gap > 30 min) — lag/cumsum windows over events
  // -------------------------------------------------------------------------

  private val SessionGapUs = 1800L * 1000000L

  val q24Sessionize: Q = (s, d) => {
    val e = graft.core.Tables.eventsMicros(s, d)
      .select(col("user_id"), col("event_id"), col("ts").as("us"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val cum = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > SessionGapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        rnd(sum(col("value")), 2).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q24Sql =
    s"""WITH e AS (
         SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
       ), flags AS (
         SELECT user_id, event_id, us, value,
           CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > $SessionGapUs
                THEN 1 ELSE 0 END AS new_s
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       ), sess AS (
         SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM flags
       )
       SELECT user_id, session_id, count(*) AS n_events,
         CAST(min(us) AS BIGINT) AS start_us, CAST(max(us) AS BIGINT) AS end_us,
         floor((sum(value)) * 100 + 0.5) / 100.0 AS total_value
       FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  // -------------------------------------------------------------------------
  // q25: LSH-bucketed approximate nearest neighbours. The hyperplanes are
  // deterministic LCG constants (Similarity.planeValues), so the oracle
  // recomputes every vector's sign bucket AND the query's probe set in
  // DuckDB (Hamming ball ≡ the enumerated `isin` list) — full hash-match;
  // recall vs q16 exact additionally asserted in SimilaritySpec.
  // -------------------------------------------------------------------------

  val q25AnnLsh: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    // Probe the at-rest layout: bucket is a PARTITION column of the
    // persisted vector store, so the Hamming-ball `isin` prunes the scan
    // at the source (PlanSpec asserts PartitionFilters).
    val store = ivfIndex(s, d)
    Similarity.annTopK(store.vectors, "embedding", qv, 10, 8, 64, probeRadius = 2)
      .select(col("vec_id"), col("label"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  private val q25Sql = {
    val planes = Similarity.planeValues(8, 64)
    val bucket = planes.zipWithIndex.map { case (p, r) =>
      val pl = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $pl::DOUBLE[]) >= 0 THEN ${1L << r} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), b AS (
         SELECT vec_id, label, v, $bucket AS bucket FROM e
       ), q AS (
         SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0
       ), hits AS (
         SELECT b.vec_id, b.label, list_cosine_similarity(b.v, q.qv) AS s
         FROM b, q
         WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, q.qbucket)) <= 2
         ORDER BY s DESC LIMIT 10
       )
       SELECT vec_id, label, floor(s * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits ORDER BY score DESC, vec_id"""
  }

  // -------------------------------------------------------------------------
  // q26: semi-structured property extraction (F14/F20 in query form) —
  // events.props carries JSON strings; extract + aggregate
  // -------------------------------------------------------------------------

  val q26JsonProps: Q = (s, d) =>
    tbl(s, d, "events")
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        rnd(sum(col("value")), 2).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("k_mod"))

  private val q26Sql =
    """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) % 10 AS k_mod,
       count(*) AS n,
       floor((sum(value)) * 100 + 0.5) / 100.0 AS total_value,
       count(DISTINCT user_id) AS n_users
       FROM events
       GROUP BY 1
       ORDER BY k_mod"""

  // -------------------------------------------------------------------------
  // q27: IVF (k-means cell) approximate nearest neighbours — the
  // coarse-quantization scale path. Cell assignment uses the PORTABLE
  // NearestCell identity (1 + ‖c‖² − 2·nv·c over exported centroid
  // literals), so the oracle replays assignment + probe selection + cosine
  // bit-for-bit in DuckDB: full hash-match, same contract as q25's planes.
  // The centroids come out of the shared index build (seeded driver
  // k-means over a bounded sample, deterministic); the oracle reads them
  // through [[ivfIndex]].
  // NOTE: the synthetic embeddings are near-uniform random vectors — the
  // worst case for ANY partition-pruning ANN (measured recall ~= scan
  // fraction; IvfTune sweep); clustered real-world embeddings fare far
  // better at much lower probe ratios.
  // -------------------------------------------------------------------------

  /** Cells an embeddings-store IVF query probes, of the store's k = 16
    * (q27, q62, q76, q78, q151). The k-means cells are near equal in size
    * on this data, so recall follows the scanned share: recall@10 with
    * every vector as a query is 0.923 at sf0.01 and 0.911 at sf0.1,
    * scanning 70% and 69% of the corpus. MLlib's k-means|| cells (1 to 62
    * members at sf0.01) gave 0.915 and 0.826 at 8 probes, scanning 75%
    * and 55%; 8 probes of these cells give 0.817 and 0.799 at 51% and 50%.
    */
  private[graft] val IvfProbes = 11

  val q27AnnIvf: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    // The k-means index is built at WRITE time (VectorStore.ensure builds
    // once per sfDir); the query only selects nProbe cells and scans those
    // partitions — no training job inside query wall-time.
    val store = ivfIndex(s, d)
    Similarity.ivfTopK(store.vectors, "embedding", store.centroids, qv, 10, nProbe = IvfProbes)
      .select(col("vec_id"), col("label"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  /** DuckDB replay of the whole IVF path from centroid literals:
    * normalize → per-cell distance identity → first-min cell assignment →
    * `IvfProbes`-probe selection for the query → exact cosine top-10
    * within probed cells. Every arithmetic step mirrors the engine kernels
    * (VectorKernels.nearestCell / Similarity.cellDistances) op-for-op.
    */
  private def q27Sql(cs: Array[Array[Double]]): String = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    val dExprs = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${cn2(i)} - 2.0*list_inner_product(nv, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    s"""WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), n AS (
         SELECT vec_id, label, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), d AS (
         SELECT vec_id, label, v, $dExprs AS ds FROM n
       ), a AS (
         SELECT vec_id, label, v, list_position(ds, list_min(ds)) - 1 AS cell FROM d
       ), probes AS (
         SELECT i AS cell FROM (
           SELECT unnest(range(${cs.length})) AS i, unnest(ds) AS dd
           FROM d WHERE vec_id = 0)
         ORDER BY dd, i LIMIT $IvfProbes
       ), q AS (
         SELECT v AS qv FROM e WHERE vec_id = 0
       ), hits AS (
         SELECT a.vec_id, a.label, list_cosine_similarity(a.v, q.qv) AS s
         FROM a JOIN probes USING (cell), q
         WHERE a.vec_id <> 0
         ORDER BY s DESC LIMIT 10
       )
       SELECT vec_id, label, floor(s * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits ORDER BY score DESC, vec_id"""
  }

  // -------------------------------------------------------------------------
  // q28/q29: embedding-cosine near-duplicates — exact all-pairs (oracle)
  // and sign-LSH-blocked (scale path; near-orthogonal testdata makes LSH
  // recall data-limited, correctness asserted as subset in DedupSpec)
  // -------------------------------------------------------------------------

  val q28EmbeddingNearDup: Q = (s, d) =>
    Dedup.embeddingNearDuplicates(tbl(s, d, "embeddings"), "vec_id", "embedding", 0.4)
      .orderBy(col("a_id"), col("b_id"))

  private val q28Sql =
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              CAST(b.embedding AS DOUBLE[]))) * 1000000 + 0.5) / 1000000.0 AS cosine
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) >= 0.4
       ORDER BY a_id, b_id"""

  // 4 bands × 4 planes: the banded family (round-3 advice #7) — recall
  // 1−(1−p⁴)⁴ instead of a single block's p⁴, fan-out still n²/16 per
  // band; oracle replays all 16 LCG planes, the bit-sliced band keys and
  // the any-band-collides candidate set.
  val q29EmbeddingNearDupLsh: Q = (s, d) =>
    Dedup.embeddingNearDuplicatesLsh(tbl(s, d, "embeddings"), "vec_id", "embedding",
        0.4, planes = 4, bands = 4)
      .orderBy(col("a_id"), col("b_id"))

  // -------------------------------------------------------------------------
  // q30: SimHash near-dup pairs via pigeonhole segment banding (rows-only;
  // equivalence with brute-force Hamming pinned in QueriesSpec)
  // -------------------------------------------------------------------------

  val q30SimhashNearDup: Q = (s, d) =>
    Dedup.simhashNearDuplicates(docsWide(s, d), "doc_id", "text", maxHamming = 4)
      .orderBy(col("a_id"), col("b_id"))

  private val q30Sql =
    """WITH tok AS (
         SELECT DISTINCT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS h
         FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
       ), bits AS (
         SELECT doc_id, i,
           CASE WHEN sum(CAST((h >> CAST(i AS INT)) & 1 AS INT) * 2 - 1) >= 0
                THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END AS b
         FROM tok CROSS JOIN range(60) r(i) GROUP BY doc_id, i
       ), fp AS (
         SELECT doc_id, CAST(sum(b) AS BIGINT) AS f FROM bits GROUP BY doc_id
       )
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
       FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.f, b.f)) <= 4
       ORDER BY a_id, b_id"""

  private val q29Sql = {
    // 4 bands × 4 planes = 16 LCG hyperplanes, one fused bucket; band b's
    // key is bits [4b, 4b+4). A pair is a candidate iff ANY band's keys
    // agree — the OR below enumerates each pair once, which is exactly the
    // engine's emit-once-first-band output set.
    val planes = graft.operators.Similarity.planeValues(16, 64)
    val bucket = planes.zipWithIndex.map { case (p, r) =>
      val lit = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $lit::DOUBLE[]) >= 0 THEN ${1L << r} ELSE 0 END)"
    }.mkString(" + ")
    val anyBand = (0 until 4).map { b =>
      s"((a.bucket >> ${4 * b}) & 15) = ((b.bucket >> ${4 * b}) & 15)"
    }.mkString(" OR ")
    s"""WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), bucketed AS (
         SELECT vec_id, v, $bucket AS bucket FROM e
       )
       SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              floor((list_cosine_similarity(a.v, b.v)) * 1000000 + 0.5) / 1000000.0 AS cosine
       FROM bucketed a JOIN bucketed b
         ON a.vec_id < b.vec_id AND ($anyBand)
       WHERE list_cosine_similarity(a.v, b.v) >= 0.4
       ORDER BY a_id, b_id"""
  }

  // -------------------------------------------------------------------------
  // q31: as-of join — each purchase matched to the user's latest prior view
  // (composed windows, one shuffle; DuckDB's native ASOF JOIN as the oracle)
  // -------------------------------------------------------------------------

  val q31AsofJoin: Q = (s, d) => {
    val e = graft.core.Tables.eventsMicros(s, d)
      .select(col("event_id"), col("user_id"),
        col("ts").as("us"), col("value"), col("event_type"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "us", "value")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("us"), col("value"))
    graft.operators.AsOfJoin.leftAsOf(purchases, views, "user_id", "us", Seq("value"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"),
        col("asof_us").as("view_us"), col("asof_value").as("view_value"))
      .orderBy(col("purchase_id"))
  }

  private val q31Sql =
    """WITH e AS (
         SELECT event_id, user_id, epoch_us(ts) AS us, value, event_type FROM events
       ), p AS (SELECT * FROM e WHERE event_type = 'purchase'),
          v AS (SELECT * FROM e WHERE event_type = 'view')
       SELECT p.event_id AS purchase_id, p.user_id,
              CAST(p.us AS BIGINT) AS purchase_us,
              CAST(v.us AS BIGINT) AS view_us, v.value AS view_value
       FROM p ASOF LEFT JOIN v
         ON p.user_id = v.user_id AND v.us <= p.us
       ORDER BY purchase_id"""

  // -------------------------------------------------------------------------
  // q32: bounded range join — errors within 10 minutes before each purchase
  // (bin-bucketed equi-join, never a nested-loop; plain inequality join as
  // the DuckDB oracle)
  // -------------------------------------------------------------------------

  val q32RangeJoin: Q = (s, d) => {
    val e = graft.core.Tables.eventsMicros(s, d)
      .select(col("event_id"), col("user_id"),
        col("ts").as("us"), col("event_type"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("us"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("us"), col("event_id"))
    graft.operators.RangeJoin.intervalJoin(
        purchases, errors, "user_id", "us",
        before = 600L * 1000000L, after = 0L, rightCols = Seq("event_id"))
      .select(col("purchase_id"), col("user_id"),
        col("us").as("purchase_us"), col("r_event_id").as("error_id"),
        col("r_us").as("error_us"))
      .orderBy(col("purchase_id"), col("error_id"))
  }

  private val q32Sql =
    """WITH e AS (
         SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events
       )
       SELECT p.event_id AS purchase_id, p.user_id,
              CAST(p.us AS BIGINT) AS purchase_us,
              CAST(x.event_id AS BIGINT) AS error_id,
              CAST(x.us AS BIGINT) AS error_us
       FROM e p JOIN e x
         ON p.user_id = x.user_id
        AND p.event_type = 'purchase' AND x.event_type = 'error'
        AND x.us >= p.us - 600000000 AND x.us <= p.us
       ORDER BY purchase_id, error_id"""

  // -------------------------------------------------------------------------
  // q46: BATCH similarity search — N query vectors against the corpus in
  // one job through the real SearchOps.batchSearch (per-partition bounded
  // heap + exact final rank; the full-corpus row_number window it replaces
  // exchanged every scored row). Oracle: the straightforward window SQL.
  // -------------------------------------------------------------------------

  val q46BatchSearch: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 3).select(
      col("vec_id").as("id"),
      concat(lit("doc-"), col("vec_id")).as("document_id"),
      lit("text").as("kind"),
      concat(lit("emb/"), col("vec_id")).as("path"),
      lit(0).as("idx"),
      concat(lit("label "), col("label")).as("text"),
      col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    graft.operators.SearchOps.batchSearch(corpus, queries, k = 5)
      .select(col("query_id"), col("rank"), col("id"), col("document_id"),
        col("kind"), col("path"), col("idx"),
        rnd(col("score"), 6).as("score"), col("text"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val q46Sql =
    """WITH q AS (
         SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         FROM embeddings WHERE vec_id < 3
       ), c AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings WHERE vec_id >= 3
       ), scored AS (
         SELECT q.qid, c.vec_id, c.label,
                list_cosine_similarity(c.v, q.qv) AS s
         FROM c CROSS JOIN q
       ), ranked AS (
         SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rnk
         FROM scored
       )
       SELECT qid AS query_id, CAST(rnk AS INT) AS "rank", vec_id AS id,
              'doc-' || vec_id AS document_id, 'text' AS kind,
              'emb/' || vec_id AS path, 0 AS idx,
              floor(s * 1000000 + 0.5) / 1000000.0 AS score,
              'label ' || label AS text
       FROM ranked WHERE rnk <= 5
       ORDER BY query_id, "rank""""

  // -------------------------------------------------------------------------
  // q47: documents listing (J1/A1/U3 surface) — the REAL
  // Exports.documentsListing over two constructed collections: per-doc
  // kind/path set roll-ups, chunks-first order-preserving merge, top-3
  // path slice, per-collection counts (documents.py:19-168). Arrays are
  // serialized to joined strings for the cross-engine compare.
  // -------------------------------------------------------------------------

  val q47DocumentsListing: Q = (s, d) => {
    val docs = docsWide(s, d)
    val chunks = docs.select((col("doc_id") % 200).as("document_id"),
      col("source").as("kind"), concat(lit("docs/"), col("doc_id")).as("path"))
    val images = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") % 150).as("document_id"),
        lit("image").as("kind"), concat(lit("img/"), col("doc_id")).as("path"))
    graft.sources.Exports.documentsListing(chunks, images, 200)
      .select(col("document_id"),
        array_join(col("kinds"), ",").as("kinds"),
        array_join(col("paths"), ",").as("paths"),
        col("chunks_count"), col("images_count"))
      .orderBy(col("document_id").desc)
  }

  private val q47Sql =
    """WITH c AS (
         SELECT doc_id % 200 AS document_id, source AS kind,
                'docs/' || doc_id AS path
         FROM documents
       ), i AS (
         SELECT doc_id % 150 AS document_id, 'image' AS kind,
                'img/' || doc_id AS path
         FROM documents WHERE doc_id % 3 = 0
       ), cr AS (
         SELECT document_id, list_sort(list(DISTINCT kind)) AS kinds,
                list_sort(list(DISTINCT path))[1:3] AS paths,
                count(*) AS chunks_count
         FROM c GROUP BY document_id
       ), ir AS (
         SELECT document_id, list_sort(list(DISTINCT kind)) AS kinds,
                list_sort(list(DISTINCT path))[1:3] AS paths,
                count(*) AS images_count
         FROM i GROUP BY document_id
       ), m AS (
         SELECT COALESCE(cr.document_id, ir.document_id) AS document_id,
                list_concat(COALESCE(cr.kinds, CAST([] AS VARCHAR[])),
                            COALESCE(ir.kinds, CAST([] AS VARCHAR[]))) AS ak,
                list_concat(COALESCE(cr.paths, CAST([] AS VARCHAR[])),
                            COALESCE(ir.paths, CAST([] AS VARCHAR[]))) AS ap,
                CAST(COALESCE(cr.chunks_count, 0) AS BIGINT) AS chunks_count,
                CAST(COALESCE(ir.images_count, 0) AS BIGINT) AS images_count
         FROM cr FULL OUTER JOIN ir ON cr.document_id = ir.document_id
       )
       SELECT document_id,
              array_to_string(list_filter(ak, (x, j) -> list_position(ak, x) = j), ',') AS kinds,
              array_to_string(list_filter(ap, (x, j) -> list_position(ap, x) = j)[1:3], ',') AS paths,
              chunks_count, images_count
       FROM m ORDER BY document_id DESC LIMIT 200"""

  // -------------------------------------------------------------------------
  // q48: synthesis-gate arithmetic in batch form (A5; ask.py:448-463,
  // config.py MIN_SYNTH_SCORE=0.55, snippet pool min score 0.2) — per
  // query: source count, top score, and the gate classification
  // no_sources / low_confidence / synthesized.
  // -------------------------------------------------------------------------

  val q48SynthGate: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("score", graft.functions.VectorFunctions.cosine(col("v"), col("qv")))
      .select(col("query_id"), col("score"))
    graft.operators.SearchOps.synthesisGateBatch(scored, queries.select(col("query_id")))
      .select(col("query_id"), col("n_sources"),
        rnd(col("top_score"), 6).as("top_score"), col("synth_status"))
      .orderBy(col("query_id"))
  }

  private val q48Sql =
    """WITH q AS (
         SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         FROM embeddings WHERE vec_id < 5
       ), c AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings WHERE vec_id >= 5
       ), scored AS (
         SELECT q.query_id, list_cosine_similarity(c.v, q.qv) AS s
         FROM c CROSS JOIN q
       ), agg AS (
         SELECT query_id, count(*) AS n_sources, max(s) AS top_raw
         FROM scored WHERE s >= 0.2 GROUP BY query_id
       )
       SELECT q.query_id,
              CAST(COALESCE(a.n_sources, 0) AS BIGINT) AS n_sources,
              floor((COALESCE(a.top_raw, 0.0)) * 1000000 + 0.5) / 1000000.0 AS top_score,
              CASE WHEN COALESCE(a.n_sources, 0) = 0 THEN 'no_sources'
                   WHEN a.top_raw < 0.55 THEN 'low_confidence'
                   ELSE 'synthesized' END AS synth_status
       FROM q LEFT JOIN agg a ON a.query_id = q.query_id
       ORDER BY q.query_id"""

  // -------------------------------------------------------------------------
  // q49: per-source ingest summary (A4/A7; status.py:51-91 ingest state —
  // files seen, chunks upserted, empty-skip counts) recomputed over the
  // REAL chunker, grouped by source system.
  // -------------------------------------------------------------------------

  val q49IngestSummary: Q = (s, d) =>
    docsWide(s, d)
      .withColumn("n_chunks",
        size(Chunker.chunkTextCol(col("text"), ChunkSize, ChunkOverlap)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("files_seen"),
        sum(when(col("n_chunks") === 0, 1L).otherwise(0L)).as("skipped_empty"),
        sum(col("n_chunks")).cast("long").as("chunks_upserted"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy(col("source"))

  private val q49Sql =
    s"""${ChunkerSql.walkCte("SELECT doc_id AS key, text FROM documents", ChunkSize, ChunkOverlap)},
       per_doc AS (SELECT key, count(*) AS n FROM chunks GROUP BY key),
       j AS (
         SELECT d.source, length(d.text) AS len, COALESCE(p.n, 0) AS n
         FROM documents d LEFT JOIN per_doc p ON p.key = d.doc_id
       )
       SELECT source, count(*) AS files_seen,
              CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS skipped_empty,
              CAST(sum(n) AS BIGINT) AS chunks_upserted,
              CAST(sum(len) AS BIGINT) AS total_chars
       FROM j GROUP BY source ORDER BY source"""

  // -------------------------------------------------------------------------
  // q50: export manifest (S15-S17) — the REAL Exports.manifest over the
  // real chunker's output for a set of documents: chunk counts, total
  // chars, and the partition-order-independent content sha256 (sha256 over
  // the sorted "idx:chunk_sig" lines — export.py:66-160's manifest).
  // -------------------------------------------------------------------------

  val q50ExportManifest: Q = (s, d) => {
    val chunks = docsWide(s, d)
      .filter(col("doc_id") < 50)
      .select(concat(lit("doc-"), col("doc_id")).as("document_id"),
        lit("text").as("kind"),
        concat(lit("docs/"), col("doc_id")).as("path"),
        posexplode(Chunker.chunkTextCol(col("text"), ChunkSize, ChunkOverlap))
          .as(Seq("idx", "text")))
    graft.sources.Exports.manifestAll(chunks)
      .select(col("document_id"), col("chunk_count"), col("total_chars"),
        col("content_sha256"), col("path"), col("kind"))
      .orderBy(col("document_id"))
  }

  private val q50Sql =
    s"""${ChunkerSql.walkCte("SELECT doc_id AS key, text FROM documents WHERE doc_id < 50", ChunkSize, ChunkOverlap)},
       sigs AS (
         SELECT 'doc-' || key AS document_id, idx,
                'docs/' || key AS path,
                sha256(CAST(idx AS VARCHAR) || '|' || chunk) AS chunk_sig,
                length(chunk) AS len
         FROM chunks
       )
       SELECT document_id, count(*) AS chunk_count,
              CAST(sum(len) AS BIGINT) AS total_chars,
              sha256(string_agg(CAST(idx AS VARCHAR) || ':' || chunk_sig, chr(10)
                ORDER BY CAST(idx AS VARCHAR) || ':' || chunk_sig)) AS content_sha256,
              min(path) AS path, 'text' AS kind
       FROM sigs GROUP BY document_id
       ORDER BY document_id"""

  // -------------------------------------------------------------------------
  // q51: token-budget estimation — whitespace tokens vs the BPE-ish
  // pre-tokenizer count (the pair a training pipeline compares to price a
  // corpus before real tokenization), plus chars-per-token.
  // -------------------------------------------------------------------------

  val q51TokenBudget: Q = (s, d) =>
    docsWide(s, d)
      .withColumn("n_ws_tokens", size(TextAnalytics.tokens(col("text"))))
      .withColumn("n_bpe_tokens", TextAnalytics.bpeTokenCount(col("text")))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
        rnd(length(col("text")).cast("double") /
          greatest(col("n_bpe_tokens"), lit(1)).cast("double"), 4)
          .as("chars_per_token"))
      .orderBy(col("doc_id"))

  private val q51Sql = {
    // embed in a SQL single-quoted literal: double the quotes the regex
    // itself contains (contraction tails)
    val re = TextAnalytics.BpeTokenRe.replace("'", "''")
    s"""SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
         AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '$re')) AS INT) AS n_bpe_tokens,
       floor((CAST(length(text) AS DOUBLE) /
         CAST(greatest(len(regexp_extract_all(text, '$re')), 1) AS DOUBLE)) * 10000 + 0.5) / 10000.0
         AS chars_per_token
       FROM documents ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q53: retrieval eval harness (T11/A6; ask_eval.py:66-127) — hit@1
  // substring match through the REAL AskEval.evalSummary / batchSearch
  // path plus the reference's nearest-rank p50/p95 formula. Latencies are
  // a deterministic per-query frame (wall-clock isn't replayable; the
  // ARITHMETIC is what the oracle pins — the same evalSummary code path
  // consumes measured latencies in production).
  // -------------------------------------------------------------------------

  val q53AskEval: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 20).select(
      col("vec_id").as("id"),
      concat(lit("doc-"), col("vec_id")).as("document_id"),
      lit("text").as("kind"),
      concat(lit("emb/"), col("vec_id")).as("path"),
      lit(0).as("idx"),
      concat(lit("label "), col("label").cast("string")).as("text"),
      col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 20).select(
      col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"),
      concat(lit("label "), pmod(col("vec_id"), lit(10)).cast("string")).as("expect"),
      (lit(5.0) + pmod(col("vec_id") * 37, lit(100)).cast("double")).as("latency_ms"))
    graft.tools.AskEval.evalSummary(corpus, queries, k = 5)
      .select(col("n"), col("hits"), rnd(col("hit_rate"), 6).as("hit_rate"),
        col("p50_ms"), col("p95_ms"))
  }

  private val q53Sql =
    """WITH q AS (
         SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                'label ' || CAST(vec_id % 10 AS VARCHAR) AS expect,
                5.0 + CAST((vec_id * 37) % 100 AS DOUBLE) AS latency_ms
         FROM embeddings WHERE vec_id < 20
       ), c AS (
         SELECT vec_id, 'label ' || CAST(label AS VARCHAR) AS text,
                CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings WHERE vec_id >= 20
       ), scored AS (
         SELECT q.query_id, q.expect, q.latency_ms, c.vec_id, c.text,
                list_cosine_similarity(c.v, q.qv) AS s
         FROM c CROSS JOIN q
       ), top1 AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY s DESC, vec_id) AS rnk
           FROM scored) WHERE rnk = 1
       ), hits AS (
         SELECT query_id, latency_ms,
                CASE WHEN contains(text, expect) THEN 1 ELSE 0 END AS hit
         FROM top1
       ), ranked AS (
         SELECT *, row_number() OVER (ORDER BY latency_ms, query_id) AS rn,
                count(*) OVER () AS n_total
         FROM hits
       )
       SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(hit) AS BIGINT) AS hits,
              floor((CAST(sum(hit) AS DOUBLE) / count(*)) * 1000000 + 0.5)
                / 1000000.0 AS hit_rate,
              max(CASE WHEN rn = greatest(CAST(ceil(n_total * 0.5) AS BIGINT), 1)
                  THEN latency_ms END) AS p50_ms,
              max(CASE WHEN rn = greatest(CAST(ceil(n_total * 0.95) AS BIGINT), 1)
                  THEN latency_ms END) AS p95_ms
       FROM ranked"""

  // -------------------------------------------------------------------------
  // q55: within-document repeated-line removal (C4-style cleaning): keep
  // each line's FIRST occurrence, report the repetition ratio a filter
  // would gate on. array_distinct is order-preserving in Spark; the
  // oracle replays first-occurrence semantics via min(position).
  // -------------------------------------------------------------------------

  val q55LineDedup: Q = (s, d) => {
    val body = concat_ws("\n",
      substring(col("text"), 1, 40), lit("boilerplate footer"),
      substring(col("text"), 41, 40), lit("boilerplate footer"),
      substring(col("text"), 1, 40))
    docsWide(s, d)
      .withColumn("lines", split(body, "\n"))
      .withColumn("uniq", array_distinct(col("lines")))
      .select(col("doc_id"),
        size(col("lines")).as("n_lines"),
        size(col("uniq")).as("n_unique"),
        rnd(lit(1.0) - size(col("uniq")).cast("double") /
          size(col("lines")).cast("double"), 6).as("repetition_ratio"),
        array_join(col("uniq"), "\n").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  private val q55Sql =
    """WITH d AS (
         SELECT doc_id,
                substr(text, 1, 40) || chr(10) || 'boilerplate footer' || chr(10)
                  || substr(text, 41, 40) || chr(10) || 'boilerplate footer'
                  || chr(10) || substr(text, 1, 40) AS body
         FROM documents
       ), ls AS (
         SELECT doc_id, string_split(body, chr(10)) AS lines FROM d
       ), l AS (
         SELECT doc_id, i, lines[i] AS line, len(lines) AS n_lines
         FROM ls, unnest(range(1, len(lines) + 1)) AS t(i)
       ), firsts AS (
         SELECT doc_id, line, min(i) AS fi, min(n_lines) AS n_lines
         FROM l GROUP BY doc_id, line
       )
       SELECT doc_id,
              CAST(min(n_lines) AS INT) AS n_lines,
              CAST(count(*) AS INT) AS n_unique,
              floor((1.0 - CAST(count(*) AS DOUBLE) / min(n_lines)) * 1000000 + 0.5)
                / 1000000.0 AS repetition_ratio,
              string_agg(line, chr(10) ORDER BY fi) AS clean_text
       FROM firsts GROUP BY doc_id ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q56: corpus token frequency top-100 — the vocabulary profile a
  // pipeline inspects before tokenizer training. Partial (map-side)
  // aggregation bounds the shuffle at distinct-token count, and the
  // top-100 compiles to TakeOrderedAndProject; total order (n desc,
  // token asc) makes the cut deterministic.
  // -------------------------------------------------------------------------

  val q56TokenFreq: Q = (s, d) =>
    docsWide(s, d)
      .select(explode(split(trim(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  private val q56Sql =
    """SELECT token, count(*) AS n
       FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
       WHERE token <> ''
       GROUP BY token ORDER BY n DESC, token LIMIT 100"""

  // -------------------------------------------------------------------------
  // q57: benchmark decontamination — flag corpus documents sharing any
  // word 8-gram with a benchmark set (train/test leakage scrubbing; the
  // n-gram-overlap check every serious pretraining pipeline runs). The
  // benchmark here is extracts leaked from 10 corpus documents; the
  // small benchmark shingle set broadcasts, so the corpus side stays a
  // narrow scan + broadcast semi-structure at any scale.
  // -------------------------------------------------------------------------

  val q57Decontaminate: Q = (s, d) => {
    val docs = docsWide(s, d)
    val bench = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
      .select(explode(graft.operators.WordShingles.wordShingles(
        substring(col("text"), 21, 120), 8)).as("shingle"))
      .distinct()
    docs.filter(col("doc_id") >= 25)
      .select(col("doc_id"),
        explode(graft.operators.WordShingles.wordShingles(col("text"), 8)).as("shingle"))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated"))
      .orderBy(col("doc_id"))
  }

  private val q57Sql = {
    val g8 = (0 until 8).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH words AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w
         FROM documents WHERE doc_id >= 25
       ), cs AS (
         SELECT DISTINCT doc_id, shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> $g8)) AS u(shingle)
       ), bw AS (
         SELECT string_split(trim(substr(text, 21, 120)), ' ') AS w
         FROM documents WHERE doc_id >= 25 AND doc_id < 35
       ), bs AS (
         SELECT DISTINCT shingle
         FROM bw, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> $g8)) AS u(shingle)
       )
       SELECT doc_id, count(*) AS n_contaminated
       FROM cs JOIN bs USING (shingle)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q58: symmetric int8 embedding quantization — 4× smaller vectors at
  // rest (the storage move a 100 TB corpus makes), with floor-based
  // half-up rounding and clamp-after-floor so the oracle replays every
  // quantized value and the retained cosine bit-for-bit.
  // -------------------------------------------------------------------------

  val q58QuantizeEmbeddings: Q = (s, d) => {
    import graft.functions.VectorFunctions
    tbl(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", VectorFunctions.i8Scale(col("v")))
      .withColumn("q", VectorFunctions.i8Quantize(col("v"), col("scale")))
      .withColumn("deq", VectorFunctions.i8Dequant(col("q"), col("scale")))
      .select(col("vec_id"),
        rnd(col("scale"), 9).as("scale"),
        element_at(col("q"), 1).cast("int").as("q_first"),
        element_at(col("q"), 33).cast("int").as("q_mid"),
        rnd(VectorFunctions.cosine(col("deq"), col("v")), 6).as("cos_kept"))
      .orderBy(col("vec_id"))
  }

  private val q58Sql =
    """WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), s AS (
         SELECT vec_id, v,
                list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
         FROM e
       ), q AS (
         SELECT vec_id, v, scale,
                list_transform(v, x ->
                  greatest(-127.0, least(127.0, floor(x / scale + 0.5)))) AS ql
         FROM s
       ), dq AS (
         SELECT vec_id, v, scale, ql,
                list_transform(ql, x -> x * scale) AS deq
         FROM q
       )
       SELECT vec_id,
              floor(scale * 1000000000 + 0.5) / 1000000000.0 AS scale,
              CAST(ql[1] AS INT) AS q_first,
              CAST(ql[33] AS INT) AS q_mid,
              floor(list_cosine_similarity(deq, v) * 1000000 + 0.5) / 1000000.0
                AS cos_kept
       FROM dq ORDER BY vec_id"""

  // -------------------------------------------------------------------------
  // q59: deterministic stratified sample — first 20 documents per lang in
  // engine-portable hash order (caps over-represented sources in a
  // training mix; membership survives re-runs, partitioning and engines).
  // -------------------------------------------------------------------------

  val q59StratifiedSample: Q = (s, d) =>
    graft.operators.TrainPrep.stratifiedSample(
        docsWide(s, d).select(col("doc_id"), col("lang")),
        "lang", "doc_id", "mix-v1", 20)
      .orderBy(col("lang"), col("sample_rank"))

  private val q59Sql =
    """WITH h AS (
         SELECT doc_id, lang,
                CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':mix-v1'), 1, 15)
                     AS BIGINT) AS hk
         FROM documents
       ), r AS (
         SELECT doc_id, lang,
                CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
                     AS INT) AS sample_rank
         FROM h
       )
       SELECT doc_id, lang, sample_rank FROM r
       WHERE sample_rank <= 20
       ORDER BY lang, sample_rank"""

  // -------------------------------------------------------------------------
  // q60: Okapi BM25 keyword top-k — the sparse half of hybrid retrieval
  // (the reference provisions a hybrid text index: qdrant_client.py:
  // 354-355). k1=1.5 / b=0.75 keep every derived constant an exact dyadic
  // double, so the only transcendental is ln (grid-rounded to 6dp).
  // Postings filter to the literal query terms BEFORE any shuffle — the
  // relational form of an inverted-index lookup.
  // -------------------------------------------------------------------------

  private val Bm25Terms = Seq("spark", "join", "hash")

  val q60Bm25: Q = (s, d) =>
    graft.operators.SearchOps.bm25Scores(
        docsWide(s, d), "doc_id", "text", Bm25Terms, k1 = 1.5, b = 0.75)
      .orderBy(col("bm25").desc, col("doc"))
      .limit(15)
      .select(col("doc").as("doc_id"), rnd(col("bm25"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))

  private def bm25Ctes(limit: Int): String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
         -- ws-split-v2: whitespace-run split, empty tokens dropped
         -- (CPython str.split() semantics, same as the engine's tokens())
         SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),
                                    t -> t <> '') AS toks FROM documents
       ), wdl AS (
         SELECT doc_id, len(toks) AS dl FROM d
       ), stats AS (
         SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         FROM wdl
       ), p AS (
         -- dl comes from len(toks) on the SAME d row: the previous
         -- `FROM d, wdl w, unnest(d.toks) WHERE d.doc_id = w.doc_id`
         -- form made DuckDB materialize the d x wdl product (every doc
         -- row, full token array, x every dl row) BEFORE the lateral
         -- unnest's correlation filter — >40 GB of spill at 5000 docs,
         -- which aborted the sf0.1 oracle sweep (r12 verdict #1). The
         -- join-free lateral unnests |tokens| rows total and is
         -- value-identical (dl is the same len(toks) wdl computed).
         SELECT doc_id, len(toks) AS dl, tok AS term
         FROM d, unnest(d.toks) AS u(tok)
         WHERE tok IN ($terms)
       ), tf AS (
         SELECT doc_id, dl, term, count(*) AS tf FROM p GROUP BY 1, 2, 3
       ), df AS (
         SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1
       ), sc AS (
         SELECT tf.doc_id, term,
                (ln(1.0 + (CAST(s.n - df.df AS DOUBLE) + 0.5)
                          / (CAST(df.df AS DOUBLE) + 0.5))
                 * (CAST(tf.tf AS DOUBLE) * 2.5)
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.5 * (0.25 + 0.75 * (tf.dl / s.avgdl)))) AS st
         FROM tf JOIN df USING (term), stats s
       ), agg AS (
         -- ordered aggregate: accumulate per-term scores in term order,
         -- matching the engine's sort_array fold bit-for-bit (float
         -- addition is non-associative; an unordered sum may land on the
         -- other side of the 6dp rounding grid)
         SELECT doc_id, sum(st ORDER BY term) AS bm25 FROM sc GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT $limit
       )"""
  }

  private val q60Sql =
    s"""${bm25Ctes(15)}
       SELECT doc_id, floor(bm25 * 1000000 + 0.5) / 1000000.0 AS bm25
       FROM agg ORDER BY bm25 DESC, doc_id"""

  // -------------------------------------------------------------------------
  // q61: TRUE dense+sparse hybrid retrieval via reciprocal-rank fusion —
  // the BM25 keyword ranking fused with a dense cosine ranking over the
  // embeddings table (1/(60+rank) each, pure rational arithmetic: rank
  // integers are bit-identical across engines — the cosine doubles that
  // produce them are engine-exact, the q16/q39 precedent — so the fusion
  // is too). This is the standard RAG retrieval shape: sparse postings
  // lookup + dense ANN, combined without score normalization.
  // -------------------------------------------------------------------------

  val q61HybridRrf: Q = (s, d) => {
    val docs = docsWide(s, d)
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qv"))
    // sparse arm serves from the persisted TextIndex (q68's store, r16):
    // a serving query must not re-scan corpus text at 100 TB — values are
    // identical to the inline pass (shared bm25Formula), so the oracle is
    // untouched. The dense arm stays the EXACT brute cosine: RRF fuses
    // ranks, and the oracle pins exact ranks (the IVF-served approximate
    // hybrid is q151, with its rank-agreement curve measured per probe
    // budget in tools/HybridAgree / PROFILE_r18 §2).
    val idx = graft.sources.TextIndex.ensure(s, docsWide(s, d), "doc_id", "text", d)
    val bmTop = graft.operators.SearchOps.bm25ScoresIndexed(
        idx, Bm25Terms, k1 = 1.5, b = 0.75)
      .orderBy(col("bm25").desc, col("doc")).limit(50)
    val bmRank = graft.operators.SearchOps
      .boundedRank(bmTop, "rank")(col("bm25").desc, col("doc"))
      .select(col("doc"), col("rank"))
    val denseTop = emb.filter(col("vec_id") =!= 0)
      .join(docs.select(col("doc_id")), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(qv))
      .select(col("doc_id").as("doc"),
        graft.functions.VectorFunctions.cosine(
          col("embedding").cast("array<double>"), col("qv")).as("score"))
      .orderBy(col("score").desc, col("doc")).limit(50)
    val denseRank = graft.operators.SearchOps
      .boundedRank(denseTop, "rank")(col("score").desc, col("doc"))
      .select(col("doc"), col("rank"))
    graft.operators.SearchOps.rrfFuse(Seq(bmRank, denseRank))
      .orderBy(col("rrf").desc, col("doc"))
      .limit(20)
      .select(col("doc").as("doc_id"), rnd(col("rrf"), 9).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  private val q61Sql =
    s"""${bm25Ctes(50)}, bmr AS (
         SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS r
         FROM agg
       ), dns AS (
         SELECT e.vec_id AS doc_id,
                list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS score
         FROM embeddings e
         JOIN documents dd ON e.vec_id = dd.doc_id,
              (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id <> 0
       ), dnr AS (
         SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS r
         FROM (SELECT * FROM dns ORDER BY score DESC, doc_id LIMIT 50)
       ), u AS (
         SELECT doc_id, 0 AS src, CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r) AS c FROM bmr
         UNION ALL
         SELECT doc_id, 1 AS src, CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r) AS c FROM dnr
       ), f AS (
         -- ordered aggregate mirrors rrfFuse's ranking-order fold
         SELECT doc_id, sum(c ORDER BY src) AS rrf FROM u GROUP BY doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20
       )
       SELECT doc_id, floor(rrf * 1000000000 + 0.5) / 1000000000.0 AS rrf
       FROM f ORDER BY rrf DESC, doc_id"""

  // -------------------------------------------------------------------------
  // q68: BM25 over the PERSISTED text index (the serving path) — same
  // top-15 as q60, but computed from the write-time postings/df/stats
  // artifact (sources/TextIndex): term-bucket partition pruning + term
  // row-group skipping, zero corpus scan, zero tokenization. The oracle
  // is q60's full inline recomputation — green means the serving artifact
  // is value-identical to scoring the corpus directly.
  // -------------------------------------------------------------------------

  val q68Bm25Indexed: Q = (s, d) => {
    val idx = graft.sources.TextIndex.ensure(s, docsWide(s, d), "doc_id", "text", d)
    graft.operators.SearchOps.bm25ScoresIndexed(idx, Bm25Terms, k1 = 1.5, b = 0.75)
      .orderBy(col("bm25").desc, col("doc"))
      .limit(15)
      .select(col("doc").as("doc_id"), rnd(col("bm25"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q77: INCREMENTALLY maintained text index — the q54 skip-unchanged
  // contract extended to the serving artifact (reference: Qdrant indexes
  // points incrementally at upsert, qdrant_client.py:303-407, and never
  // rebuilds the collection on new data). Scenario: the BASE build holds
  // the even documents — 50 of them with STALE text (extra 'spark'
  // occurrences, so a failed replacement shifts tf/df) — plus 5 transient
  // docs containing query terms (so a failed delete shifts df/n). ONE
  // upsert then delivers the odd documents (add), the corrected stale
  // documents (replace) and the transient deletions; the index update
  // reads the delta + the affected ids' doclens rows, never the unchanged
  // corpus (PlanSpec-guarded). Serving the same BM25 top-15 as q68
  // against q60's FULL INLINE oracle proves the incrementally-updated
  // artifact is value-identical to an index of the true corpus — n, Σdl,
  // postings, tf, df all repaired by exact delta arithmetic.
  // -------------------------------------------------------------------------

  /** Build-base + upsert-delta once per corpus version (the manifest
    * records the final state); every later call only serves.
    */
  private[graft] def q77EnsureIncremental(s: SparkSession, d: String): String =
    GenStore.ensureArtifact(d, "documents.parquet", "tindex-inc",
      """"scenario":"base+delta-v1","tokenize":"ws-split-v2","layout":"seg-v5"""") { path =>
      val docs = docsWide(s, d).select(col("doc_id"), col("text"))
      val stale = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" spark spark stale draft")))
      val extras = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("transient spark join hash filler "),
            substring(col("text"), 1, 40)).as("text"))
      val base = docs
        .filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 =!= 0)
        .unionByName(stale).unionByName(extras)
      graft.sources.TextIndex.write(base, "doc_id", "text", path)
      val delta = docs.filter(col("doc_id") % 2 === 1 || col("doc_id") % 10 === 0)
      val deleted = extras.select(col("doc_id"))
      graft.sources.TextIndex.upsert(s, delta, "doc_id", "text", deleted, path)
    }

  val q77IncTextIndex: Q = (s, d) => {
    val idx = graft.sources.TextIndex.read(s, q77EnsureIncremental(s, d))
    graft.operators.SearchOps.bm25ScoresIndexed(idx, Bm25Terms, k1 = 1.5, b = 0.75)
      .orderBy(col("bm25").desc, col("doc"))
      .limit(15)
      .select(col("doc").as("doc_id"), rnd(col("bm25"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q78/q79: incrementally maintained VECTOR artifacts — same contract as
  // q77 for the IVF store and the PQ codes. The base build trains
  // centroids/codebooks; the upsert assigns its delta with the STORED
  // literals (no retrain, no scan of stored vectors), appends into the
  // cell partitions at the next generation and tombstones replaced/
  // deleted ids. Stale vectors are REVERSED embeddings (so an unapplied
  // replacement lands in wrong cells with wrong codes → hash mismatch);
  // transient vectors are deleted by the upsert. The final live state is
  // exactly the corpus, so the oracles are the full q27/q69 replays from
  // the STORED base-trained literals — proving the incremental artifact
  // is value-identical to assignment of the true corpus.
  // -------------------------------------------------------------------------

  /** The add/replace/delete frames shared by the IVF and PQ scenarios. */
  private def incVecScenario(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = tbl(s, d, "embeddings").filter(col("vec_id") =!= 0)
    val stale = emb.filter(col("vec_id") % 10 === 2)
      .withColumn("embedding", reverse(col("embedding")))
    val extras = emb.filter(col("vec_id") >= 1 && col("vec_id") <= 5)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding", reverse(col("embedding")))
    val base = emb
      .filter(col("vec_id") % 2 === 0 && col("vec_id") % 10 =!= 2)
      .unionByName(stale).unionByName(extras)
    val delta = emb.filter(col("vec_id") % 2 === 1 || col("vec_id") % 10 === 2)
    (base, delta, extras.select(col("vec_id")))
  }

  // -v2 in the scenario: the epoch-pointer layout
  private[graft] def q78EnsureIncremental(s: SparkSession, d: String): String =
    GenStore.ensureArtifact(d, "embeddings.parquet", "vstore-inc",
      """"scenario":"vstore-inc-v2"""") { path =>
      val (base, delta, deleted) = incVecScenario(s, d)
      graft.sources.VectorStore.write(base, "embedding", path)
      graft.sources.VectorStore.upsertVectors(
        s, delta, "vec_id", "embedding", deleted, path)
    }

  val q78IncIvf: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val store = graft.sources.VectorStore.read(
      s, q78EnsureIncremental(s, d), planes = 8, dim = 64)
    Similarity.ivfTopK(store.vectors, "embedding", store.centroids, qv, 10, nProbe = IvfProbes)
      .select(col("vec_id"), col("label"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  private[graft] def q79EnsureIncremental(s: SparkSession, d: String): String = {
    val ivfPath = q78EnsureIncremental(s, d)
    GenStore.ensureArtifact(d, "embeddings.parquet", "pqstore-inc",
      """"scenario":"pqstore-inc-v2"""") { path =>
      val centroids = graft.sources.VectorStore
        .read(s, ivfPath, planes = 8, dim = 64).centroids
      val (base, delta, deleted) = incVecScenario(s, d)
      graft.sources.VectorStore.writePq(
        base, "embedding", path, centroids = centroids)
      graft.sources.VectorStore.upsertPqCodes(
        s, delta, "vec_id", "embedding", deleted, path, centroids)
    }
  }

  val q79IncPq: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val pq = graft.sources.VectorStore.readPq(s, q79EnsureIncremental(s, d))
    Similarity.pqTopK(pq.codes, pq.codebooks,
        emb.filter(col("vec_id") =!= 0), "embedding", qv, 10, rerank = 50)
      .select(col("vec_id"), col("label"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  // -------------------------------------------------------------------------
  // q62: BATCH ANN — N queries probe the persisted IVF store in one job
  // (the eval-set shape of q46, but over the pruned layout instead of a
  // full scan). Probe selection is distributed and uses the same portable
  // cell-distance identity as q27, so the oracle replays every query's
  // probe set AND the per-query top-k from the exported centroids.
  // -------------------------------------------------------------------------

  val q62BatchAnn: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val store = ivfIndex(s, d)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    Similarity.ivfBatchTopK(store.vectors, "embedding", store.centroids,
        queries, k = 10, nProbe = IvfProbes)
      .select(col("query_id"), col("rank"), col("vec_id"), col("label"),
        rnd(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Same centroid-literal replay machinery as [[q27Sql]], generalized to
    * N queries: per-query probe sets via the zipped-unnest window, hits
    * restricted to probed cells, per-query rank.
    */
  private def q62Sql(cs: Array[Array[Double]]): String = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    val dExprs = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${cn2(i)} - 2.0*list_inner_product(nv, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    s"""WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), n AS (
         SELECT vec_id, label, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), d AS (
         SELECT vec_id, label, v, $dExprs AS ds FROM n
       ), a AS (
         SELECT vec_id, label, v, list_position(ds, list_min(ds)) - 1 AS cell
         FROM d WHERE vec_id <> 0
       ), q AS (
         SELECT vec_id AS query_id, v AS qv, ds FROM d WHERE vec_id < 5
       ), probes AS (
         SELECT query_id, qv, i AS cell FROM (
           SELECT query_id, qv, unnest(range(${cs.length})) AS i, unnest(ds) AS dd
           FROM q)
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dd, i) <= $IvfProbes
       ), hits AS (
         SELECT p.query_id, a.vec_id, a.label,
                list_cosine_similarity(a.v, p.qv) AS s,
                row_number() OVER (PARTITION BY p.query_id
                  ORDER BY list_cosine_similarity(a.v, p.qv) DESC, a.vec_id) AS rnk
         FROM a JOIN probes p USING (cell)
       )
       SELECT query_id, CAST(rnk AS INT) AS "rank", vec_id, label,
              floor(s * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits WHERE rnk <= 10
       ORDER BY query_id, "rank""""
  }

  // -------------------------------------------------------------------------
  // q69: product-quantization ANN — codes-only candidate generation + exact
  // rerank. The PQ artifact (8 sub-codebooks × 16 centroids over the
  // normalized 64-dim vectors → 8 bytes/vector, 32× smaller than the float
  // embeddings) is built at WRITE time (VectorStore.ensurePq, once per
  // sfDir); the query scans ONLY the codes table for ADC scoring, keeps the
  // top-50 by (adc, vec_id), and broadcasts those ids into an exact-cosine
  // rerank against the full vectors. Every arithmetic step — normalize,
  // per-subspace argmin assignment (‖c‖²−2·sub·c, first-min ties), the
  // query LUT, the ascending-m ADC sum — is replayed by the oracle from
  // the exported codebook literals, so the row is a full hash-match like
  // q27/q62. NOTE: near-uniform random test vectors are PQ's worst case
  // (quantization error ≈ vector variance); recall vs exact top-k is
  // asserted in PqSpec, and real clustered embeddings fare far better.
  // -------------------------------------------------------------------------

  val q69AnnPq: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val pq = pqIndex(s, d)
    Similarity.pqTopK(pq.codes, pq.codebooks,
        emb.filter(col("vec_id") =!= 0), "embedding", qv, 10, rerank = 50)
      .select(col("vec_id"), col("label"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  /** DuckDB replay of the full PQ path from codebook literals: normalize →
    * per-subspace first-min code assignment → query LUT → left-associative
    * ascending-m ADC sum → top-50 candidate cutoff on (adc, vec_id) →
    * exact cosine top-10. Mirrors VectorKernels.pqEncode/pqAdc op-for-op.
    */
  private def q69Sql(cbs: Array[Array[Array[Double]]]): String = {
    val m = cbs.length
    val ksub = cbs(0).length
    val dsub = cbs(0)(0).length
    val cn2 = graft.functions.VectorFunctions.codebookNorm2(cbs)
    def subSlice(c: String, mi: Int) =
      s"list_slice($c, ${mi * dsub + 1}, ${(mi + 1) * dsub})"
    val codeExprs = (0 until m).map { mi =>
      val ds = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"(${cn2(mi)(ci)} - 2.0*list_inner_product(${subSlice("nv", mi)}, $cl::DOUBLE[]))"
      }.mkString("[", ", ", "]")
      s"list_position($ds, list_min($ds)) - 1 AS c$mi"
    }.mkString(",\n                ")
    val adcExpr = (0 until m).map { mi =>
      val lut = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"list_inner_product(${subSlice("qn", mi)}, $cl::DOUBLE[])"
      }.mkString("[", ", ", "]")
      s"($lut[c$mi + 1])"
    }.mkString(" + ")
    s"""WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), n AS (
         SELECT vec_id, label, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), q AS (
         SELECT v AS qv, nv AS qn FROM n WHERE vec_id = 0
       ), c AS (
         SELECT vec_id, label, v, $codeExprs
         FROM n WHERE vec_id <> 0
       ), a AS (
         SELECT c.vec_id, c.label, c.v, $adcExpr AS adc
         FROM c, q
       ), cand AS (
         SELECT vec_id, label, v FROM a ORDER BY adc DESC, vec_id LIMIT 50
       ), hits AS (
         SELECT cand.vec_id, cand.label, list_cosine_similarity(cand.v, q.qv) AS s
         FROM cand, q
         ORDER BY s DESC, cand.vec_id LIMIT 10
       )
       SELECT vec_id, label, floor(s * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits ORDER BY score DESC, vec_id"""
  }

  // -------------------------------------------------------------------------
  // q70: Gopher-style repetition quality rules (Rae et al. 2021, Table A1)
  // — the document-level gates a pretraining pipeline applies after the
  // q22 lexical score and the q55 line cleaning: duplicate-line fraction,
  // duplicate-line CHARACTER fraction, most-frequent-word-bigram character
  // fraction, bullet-start / ellipsis-end line fractions, symbol-to-word
  // ratio, mean word length, and the combined keep/drop flag. All metrics
  // are per-row folds over the line/word arrays (topRun = sorted-adjacent-
  // run mode, no explode) — a narrow map at any corpus size, like q22/q55.
  // The test documents are single-line word soup, so (exactly like q55) a
  // deterministic multi-line body is constructed in-query: repeated
  // footer, a "- " bullet, an "..." ellipsis line, and a doc_id-dependent
  // fifth line so the duplicate fractions vary across documents.
  // -------------------------------------------------------------------------

  val q70GopherQuality: Q = (s, d) => {
    val body = concat_ws("\n",
      substring(col("text"), 1, 40),
      lit("boilerplate footer"),
      concat(lit("- "), substring(col("text"), 41, 30)),
      concat(substring(col("text"), 71, 40), lit("...")),
      when(col("doc_id") % 3 === 0, lit("boilerplate footer"))
        .otherwise(substring(col("text"), 111, 40)),
      substring(col("text"), 1, 40))
    val sumLen = (a: org.apache.spark.sql.Column) =>
      aggregate(transform(a, x => length(x).cast("long")), lit(0L), _ + _)
    docsWide(s, d)
      .withColumn("body", body)
      .withColumn("lines", split(col("body"), "\n"))
      .withColumn("words", split(translate(col("body"), "\n", " "), " "))
      .withColumn("n_lines", size(col("lines")))
      .withColumn("n_words", size(col("words")))
      .withColumn("line_chars", sumLen(col("lines")))
      .withColumn("uniq_chars", sumLen(array_distinct(col("lines"))))
      .withColumn("word_chars", sumLen(col("words")))
      .withColumn("bigrams", when(size(col("words")) >= 2, transform(
        sequence(lit(1), size(col("words")) - 1),
        i => concat_ws(" ", element_at(col("words"), i), element_at(col("words"), i + 1))))
        // one-word body: sequence(1, 0) would step DOWN to [1, 0] and
        // element_at(words, 0) throws; DuckDB's range(1, 1) is empty
        .otherwise(array().cast("array<string>")))
      .withColumn("top", TextAnalytics.topRun(col("bigrams")))
      .withColumn("dup_line_frac_raw",
        lit(1.0) - size(array_distinct(col("lines"))).cast("double") / col("n_lines"))
      .withColumn("dup_char_frac_raw",
        lit(1.0) - col("uniq_chars").cast("double") / col("line_chars"))
      .withColumn("top_bigram_frac_raw",
        col("top.cnt").cast("double") * length(col("top.value")) / length(col("body")))
      .withColumn("bullet_frac_raw",
        size(filter(col("lines"), l => l.startsWith("- "))).cast("double") / col("n_lines"))
      .withColumn("ellipsis_frac_raw",
        size(filter(col("lines"), l => l.endsWith("..."))).cast("double") / col("n_lines"))
      .withColumn("symbol_ratio_raw",
        (regexp_count(col("body"), lit("#")) +
          regexp_count(col("body"), lit("\\.\\.\\."))).cast("double") / col("n_words"))
      .withColumn("mean_word_len_raw",
        col("word_chars").cast("double") / col("n_words"))
      .select(col("doc_id"), col("n_lines"), col("n_words"),
        rnd(col("dup_line_frac_raw"), 6).as("dup_line_frac"),
        rnd(col("dup_char_frac_raw"), 6).as("dup_char_frac"),
        col("top.value").as("top_bigram"),
        rnd(col("top_bigram_frac_raw"), 6).as("top_bigram_frac"),
        rnd(col("bullet_frac_raw"), 6).as("bullet_frac"),
        rnd(col("ellipsis_frac_raw"), 6).as("ellipsis_frac"),
        rnd(col("symbol_ratio_raw"), 6).as("symbol_ratio"),
        rnd(col("mean_word_len_raw"), 6).as("mean_word_len"),
        (col("dup_line_frac_raw") <= 0.2 &&
          col("dup_char_frac_raw") <= 0.2 &&
          col("top_bigram_frac_raw") <= 0.08 &&
          col("symbol_ratio_raw") <= 0.1 &&
          col("mean_word_len_raw") >= 3.0 && col("mean_word_len_raw") <= 10.0)
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: same body construction, list folds for the char sums,
    * count+first-row window for the bigram mode (= the sorted-run fold's
    * strict-> tie-break: max count, then smallest bigram).
    */
  private val q70Sql =
    """WITH d AS (
         SELECT doc_id,
                substr(text, 1, 40) || chr(10) || 'boilerplate footer' || chr(10)
                  || '- ' || substr(text, 41, 30) || chr(10)
                  || substr(text, 71, 40) || '...' || chr(10)
                  || (CASE WHEN doc_id % 3 = 0 THEN 'boilerplate footer'
                           ELSE substr(text, 111, 40) END) || chr(10)
                  || substr(text, 1, 40) AS body
         FROM documents
       ), base AS (
         SELECT doc_id, body,
                string_split(body, chr(10)) AS lines,
                string_split(replace(body, chr(10), ' '), ' ') AS words
         FROM d
       ), bg AS (
         SELECT doc_id, words[i] || ' ' || words[i+1] AS bigram
         FROM base, unnest(range(1, len(words))) AS t(i)
       ), bgc AS (
         SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2
       ), top AS (
         SELECT doc_id, bigram, c FROM bgc
         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram) = 1
       ), m AS (
         SELECT b.doc_id, b.body,
                len(b.lines) AS n_lines, len(b.words) AS n_words,
                1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE) / len(b.lines) AS dup_line_raw,
                1.0 - CAST(list_aggregate(list_transform(list_distinct(b.lines), x -> length(x)), 'sum') AS DOUBLE)
                  / list_aggregate(list_transform(b.lines, x -> length(x)), 'sum') AS dup_char_raw,
                t.bigram AS top_bigram,
                CAST(t.c AS DOUBLE) * length(t.bigram) / length(b.body) AS top_bigram_raw,
                CAST(len(list_filter(b.lines, x -> starts_with(x, '- '))) AS DOUBLE)
                  / len(b.lines) AS bullet_raw,
                CAST(len(list_filter(b.lines, x -> suffix(x, '...'))) AS DOUBLE)
                  / len(b.lines) AS ellipsis_raw,
                CAST(len(regexp_extract_all(b.body, '#')) + len(regexp_extract_all(b.body, '\.\.\.')) AS DOUBLE)
                  / len(b.words) AS symbol_raw,
                CAST(list_aggregate(list_transform(b.words, x -> length(x)), 'sum') AS DOUBLE)
                  / len(b.words) AS mean_word_raw
         FROM base b JOIN top t USING (doc_id)
       )
       SELECT doc_id, CAST(n_lines AS INT) AS n_lines, CAST(n_words AS INT) AS n_words,
              floor(dup_line_raw * 1000000 + 0.5) / 1000000.0 AS dup_line_frac,
              floor(dup_char_raw * 1000000 + 0.5) / 1000000.0 AS dup_char_frac,
              top_bigram,
              floor(top_bigram_raw * 1000000 + 0.5) / 1000000.0 AS top_bigram_frac,
              floor(bullet_raw * 1000000 + 0.5) / 1000000.0 AS bullet_frac,
              floor(ellipsis_raw * 1000000 + 0.5) / 1000000.0 AS ellipsis_frac,
              floor(symbol_raw * 1000000 + 0.5) / 1000000.0 AS symbol_ratio,
              floor(mean_word_raw * 1000000 + 0.5) / 1000000.0 AS mean_word_len,
              (dup_line_raw <= 0.2 AND dup_char_raw <= 0.2
                 AND top_bigram_raw <= 0.08 AND symbol_raw <= 0.1
                 AND mean_word_raw >= 3.0 AND mean_word_raw <= 10.0) AS keep
       FROM m ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q71: DSIR-style importance weights (Xie et al. 2023, "Data Selection
  // via Importance Resampling"): score every document by how much more
  // likely its hashed-token bag is under a TARGET distribution (here: the
  // lang='en' slice) than under the raw corpus —
  // logw(doc) = Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)] with
  // +1-smoothed counts over B=256 sha-hash buckets — then mark the top-100
  // resample. 100 TB shape: ONE explode feeding a 256-key partial-agg
  // (map-side combine bounds the shuffle at B rows/partition), a bounded
  // 256-row collect (the centroid-training pattern), then a NARROW per-doc
  // fold over the sorted bucket list against the log-ratio literal table —
  // no per-doc shuffle. The fold adds identical values for same-bucket
  // tokens, so ascending-bucket order pins the float sum on both engines
  // (Spark sort_array fold == DuckDB sum(lr ORDER BY b)).
  // -------------------------------------------------------------------------

  private val DsirB = 256

  val q71DsirWeights: Q = (s, d) => {
    val docs = docsWide(s, d)
    val bucketOf = (t: org.apache.spark.sql.Column) =>
      (TextAnalytics.hash60(t) % DsirB).cast("int")
    // corpus/target bucket histograms: integer counts, exact on both engines
    val counts = docs
      .select(col("lang"), explode(TextAnalytics.tokens(col("text"))).as("t"))
      .select(col("lang"), bucketOf(col("t")).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("rc"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"))
      .collect()
    val rc = new Array[Long](DsirB)
    val tc = new Array[Long](DsirB)
    counts.foreach { r => rc(r.getInt(0)) = r.getLong(1); tc(r.getInt(0)) = r.getLong(2) }
    val rTot = rc.sum
    val tTot = tc.sum
    // ln of (+1-smoothed count / total+B): same exact rational inputs the
    // oracle's ln() sees (q60 precedent for cross-engine ln parity)
    val logratio = Array.tabulate(DsirB) { b =>
      math.log((tc(b) + 1.0) / (tTot + DsirB.toDouble)) -
        math.log((rc(b) + 1.0) / (rTot + DsirB.toDouble))
    }
    val lut = array(logratio.toIndexedSeq.map(lit): _*)
    val scored = docs
      .withColumn("toks", TextAnalytics.tokens(col("text")))
      .withColumn("logw_raw", aggregate(
        sort_array(transform(col("toks"), bucketOf)),
        lit(0.0),
        (acc, b) => acc + element_at(lut, b + 1)))
    // the resample membership: top-100 ids via TakeOrdered (bounded heap),
    // broadcast back as a flag — a global row_number window would drag the
    // whole corpus into ONE partition at scale
    val top = scored
      .orderBy(col("logw_raw").desc, col("doc_id")).limit(100)
      .select(col("doc_id"), lit(true).as("sel"))
    scored
      .join(broadcast(top), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), size(col("toks")).as("n_tokens"),
        rnd(col("logw_raw"), 6).as("dsir_logw"),
        coalesce(col("sel"), lit(false)).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Full independent replay: bucket histograms, smoothing, ln ratios and
    * the ascending-bucket ordered sum all recomputed from the parquet —
    * the engine's driver-side LUT literals are NOT shared with the oracle.
    */
  private val q71Sql =
    s"""WITH d AS (
         SELECT doc_id, lang, list_filter(regexp_split_to_array(text, '\\s+'),
                                          t -> t <> '') AS toks FROM documents
       ), tb AS (
         SELECT doc_id, lang,
                CAST(CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) % $DsirB AS INT) AS b
         FROM d, unnest(d.toks) AS u(tok)
       ), counts AS (
         SELECT b, count(*) AS rc,
                sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
         FROM tb GROUP BY b
       ), tot AS (
         SELECT sum(rc) AS r, sum(tc) AS t FROM counts
       ), lr AS (
         SELECT b,
                ln((CAST(tc AS DOUBLE) + 1.0) / (CAST(t AS DOUBLE) + $DsirB.0))
                  - ln((CAST(rc AS DOUBLE) + 1.0) / (CAST(r AS DOUBLE) + $DsirB.0)) AS lr
         FROM counts, tot
       ), docw AS (
         SELECT tb.doc_id, sum(lr.lr ORDER BY tb.b) AS logw, count(*) AS n_tokens
         FROM tb JOIN lr USING (b) GROUP BY tb.doc_id
       ), ranked AS (
         SELECT doc_id, logw, n_tokens,
                row_number() OVER (ORDER BY logw DESC, doc_id) AS rk
         FROM docw
       )
       SELECT d2.doc_id, d2.lang, CAST(r.n_tokens AS INT) AS n_tokens,
              floor(r.logw * 1000000 + 0.5) / 1000000.0 AS dsir_logw,
              (r.rk <= 100) AS selected
       FROM ranked r JOIN documents d2 USING (doc_id)
       ORDER BY d2.doc_id"""

  // -------------------------------------------------------------------------
  // q67: LEARNED quality classifier — the fastText/GPT-3-shaped logistic
  // regression over hashed token bags that production pipelines train to
  // generalize a curated seed signal (GPT-3 trained LR on WebText-vs-
  // crawl; CCNet/LLaMA retrain the same shape). Since r8 the fit is a
  // WRITE-TIME artifact (operators/QualityModel: ensure/manifest/drift-
  // retrain, the IVF-centroid lifecycle) — the query below is the pure
  // serving scan. Training DISTILLS the rule-based q22 quality gate into
  // a model: label = quality_score ≥
  // 0.42 (fixed threshold, q81's fixed-gate discipline), features = B=64
  // sha-hash token buckets (q71's portable hash family, x = tf/n) + a
  // length feature min(n/100, 1) + bias — the real-world bootstrap of
  // "label with heuristics, train the cheap model, serve the model".
  // Training is T=5 IRLS (Newton) steps — the algorithm inside every
  // production GLM fit (MLlib's WLS does exactly this): each step is ONE
  // narrow map + ONE (B+2)-key gradient agg + ONE (B+2)²-key Hessian agg
  // (map-side combine bounds both shuffles at the key count per
  // partition — the 100 TB shape, treeAggregate's job done
  // relationally), then a driver-side (B+2)×(B+2) ridge solve. Gradient
  // and Hessian components accumulate as DECIMAL(38,18), so the
  // cross-row sums are EXACT and order-independent — training is
  // bit-deterministic under any partitioning, which float sums cannot
  // promise. The trained coefficients are EXPORTED as literals (q27's
  // centroid contract): the oracle replays tokenize → bucket → tf/n →
  // the ascending-index ordered dot product, and scoring any future
  // corpus slice is one narrow pass against the literals. Output:
  // per-doc log-odds + keep decision (sigmoid-free on the serving
  // path — exp is not IEEE-portable, log-odds are). In-sample accuracy
  // ~0.95 vs the 0.53 majority baseline (QueriesSpec pins the floor).
  // -------------------------------------------------------------------------

  // Constants live in QualityModel (the write-time artifact); aliased here
  // for the oracle SQL and the q98 silver-label rule.
  private val QcB = QualityModel.B
  private val QcTau = QualityModel.Tau

  val q67QualityClassifier: Q = (s, d) => {
    val docs = docsWide(s, d)
    // write-time artifact: ensure trains ONCE per (source stamp, params)
    // and persists the coefficients; steady-state this is a sidecar read
    // and the query below is the single-narrow-pass serving scan —
    // training never runs in query wall-time (the IVF-centroid contract;
    // drift-triggered refresh via QualityModel.retrainIfStale)
    val w = qcWeights(s, d)

    QualityModel.features(docs)
      .withColumn("quality_logit", rnd(QualityModel.zCol(w), 6))
      .select(col("doc_id"), col("lang"), col("n").as("n_tokens"), col("y"),
        col("quality_logit"), (col("quality_logit") > 0.0).as("keep_pred"))
      .orderBy(col("doc_id"))
  }

  /** Scoring replay from the exported coefficient literals (training is
    * verified by QueriesSpec invariants, like the k-means fits): tokens,
    * buckets, tf/n, length + bias pseudo-buckets, ordered dot product, rounded
    * log-odds and the keep decision all recomputed in DuckDB. The label
    * column replays the full q22 rule arithmetic independently.
    */
  private def q67Sql(w: Array[Double]): String = {
    val wvals = w.zipWithIndex
      .map { case (v, b) => s"($b, CAST($v AS DOUBLE))" }.mkString(", ")
    val stop = TextAnalytics.EnStopwords.map(x => s"'$x'").mkString("[", ",", "]")
    s"""WITH d AS (
         SELECT doc_id, lang, list_filter(regexp_split_to_array(text, '\\s+'),
                                          t -> t <> '') AS toks FROM documents
       ), lab AS (
         SELECT doc_id,
                (0.2 * least(CAST(len(toks) AS DOUBLE)/100.0, 1.0)
                 + 0.5 * (CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS DOUBLE)
                          / len(toks))
                 + 0.3 * (1.0 - least(abs(CAST(list_aggregate(list_transform(toks,
                            x -> length(x)), 'sum') AS DOUBLE)/len(toks) - 5.0)/10.0, 1.0))
                 >= $QcTau) AS yb
         FROM d WHERE len(toks) > 0
       ), tb AS (
         SELECT doc_id,
                CAST(CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) % $QcB AS INT) AS b
         FROM d, unnest(d.toks) AS u(tok)
       ), n AS (
         SELECT doc_id, count(*) AS n FROM tb GROUP BY doc_id
       ), xr AS (
         SELECT tf.doc_id, tf.b, CAST(tf.c AS DOUBLE) / n.n AS x
         FROM (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY doc_id, b) tf
         JOIN n USING (doc_id)
         UNION ALL
         SELECT doc_id, $QcB AS b, least(CAST(n AS DOUBLE) / 100.0, 1.0) AS x FROM n
         UNION ALL
         SELECT doc_id, ${QcB + 1} AS b, 1.0 AS x FROM n
       ), w(b, w) AS (
         VALUES $wvals
       ), z AS (
         SELECT xr.doc_id, sum(w.w * xr.x ORDER BY xr.b) AS z
         FROM xr JOIN w USING (b)
         GROUP BY xr.doc_id
       )
       SELECT d2.doc_id, d2.lang, CAST(n.n AS INT) AS n_tokens,
              CAST(lab.yb AS INT) AS y,
              floor(z.z * 1000000 + 0.5) / 1000000.0 AS quality_logit,
              (floor(z.z * 1000000 + 0.5) / 1000000.0 > 0.0) AS keep_pred
       FROM z JOIN n USING (doc_id) JOIN lab USING (doc_id)
            JOIN documents d2 USING (doc_id)
       ORDER BY d2.doc_id"""
  }

  // -------------------------------------------------------------------------
  // q81: CCNet-style LM quality scoring — a bigram language model with
  // add-one smoothing trained on the 'en' slice (the "clean reference
  // corpus" role KenLM plays in CCNet), scoring EVERY document by mean
  // negative log-likelihood; low NLL ≈ target-like text. Scale shape:
  // unigram/bigram counts are map-side-combined aggregations bounded by
  // vocab size; scoring is the exploded-bigram frame joined to the count
  // tables on token keys (hash joins — the counts table of a 100 TB LM
  // does NOT broadcast, exactly like q74's gate rationale) and ONE
  // per-doc position-ordered fold pins the float sum. V (distinct LM
  // unigrams) is the single bounded driver-side scalar (DSIR pattern);
  // the keep gate is a FIXED threshold — CCNet thresholds come from the
  // LM's validation set, not a global percentile sort of the corpus.
  // -------------------------------------------------------------------------

  // -------------------------------------------------------------------------
  // q82: SemDeDup-style semantic deduplication (Abbas et al. 2023) — the
  // embedding-space companion to MinHash/SimHash: cluster the corpus,
  // then drop near-identical items WITHIN each cluster, keeping the
  // lowest id. The clusters ARE the persisted IVF cells (one shared
  // centroid set with q27/q62/q76 — no extra training, and the pairwise
  // stage is an equi-join on the cell partition key, so the quadratic
  // work is bounded per cell ≈ (N/k)² instead of N² — exactly the
  // SemDeDup design point). Output: every vector's cell, its count of
  // lower-id near-duplicates (cos ≥ τ) and the keep flag.
  // -------------------------------------------------------------------------

  // -------------------------------------------------------------------------
  // q83: cross-corpus duplicated-SPAN detection — the bounded relational
  // form of exact-substring dedup (Lee et al. 2022 use suffix arrays; at
  // 100 TB the practical shape is fixed-width span fingerprints): every
  // document's distinct word 8-grams, a corpus-wide doc-frequency over
  // them (map-side-combined agg bounded by distinct-shingle count), and
  // per-doc shared-span counts/fractions. Documents sharing any 8-gram
  // with ANOTHER document surface with dup_frac > 0; the in-query corpus
  // appends two boilerplate tails (%3, %5) so real shared spans exist.
  // Same 8-gram construction as q57's decontamination — there against a
  // benchmark set, here corpus-against-itself.
  // -------------------------------------------------------------------------

  val q83DupSpans: Q = (s, d) => {
    val tail3 = " the quick brown fox jumps over the lazy dog archive footer"
    val tail5 = " all rights reserved by the automated pipeline export system"
    val body = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(tail3)).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(tail5)).otherwise(lit("")))
    val spans = docsWide(s, d)
      .select(col("doc_id"),
        explode(graft.operators.WordShingles.wordShingles(body, 8)).as("shingle"))
    val df8 = spans.groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("shingle"))
    spans
      .join(df8, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .join(spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans")),
        Seq("doc_id"), "right")
      .select(col("doc_id"),
        col("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        rnd(coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_spans"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  private val q83Sql = {
    val g8 = (0 until 8).map(k => s"w[i+$k]").mkString("||' '||")
    """WITH b AS (
         SELECT doc_id,
                text || (CASE WHEN doc_id % 3 = 0 THEN '<T3>' ELSE '' END)
                     || (CASE WHEN doc_id % 5 = 0 THEN '<T5>' ELSE '' END) AS body
         FROM documents
       ), words AS (
         SELECT doc_id, string_split(trim(body), ' ') AS w FROM b
       ), sp AS (
         SELECT DISTINCT doc_id, <G8> AS shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> i)) AS u(i)
         WHERE i + 7 <= len(w)
       ), freq AS (
         SELECT shingle FROM sp GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2
       ), shared AS (
         SELECT doc_id, count(*) AS n_shared
         FROM sp JOIN freq USING (shingle) GROUP BY doc_id
       ), tot AS (
         SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id
       )
       SELECT t.doc_id, t.n_spans, COALESCE(s.n_shared, 0) AS n_shared,
              floor((CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / t.n_spans)
                * 1000000 + 0.5) / 1000000.0 AS dup_frac
       FROM tot t LEFT JOIN shared s USING (doc_id)
       ORDER BY t.doc_id"""
      .replace("<T3>", " the quick brown fox jumps over the lazy dog archive footer")
      .replace("<T5>", " all rights reserved by the automated pipeline export system")
      .replace("<G8>", g8)
  }

  // -------------------------------------------------------------------------
  // q88: duplicated-span REMOVAL — the apply step q83 stops short of (the
  // exact-substring dedup recipe, Lee et al. 2022: cut repeated spans,
  // keep one occurrence). Same corpus, same word-8-gram DF basis as
  // q83/q57; additionally each frequent shingle elects a KEEPER (its
  // minimum doc_id — deterministic, engine-portable), every other doc's
  // occurrence becomes a hit interval [pos, pos+7], overlapping hits
  // union into maximal spans via their covered-word set, the covered
  // words are cut, and the survivors reassemble with the q74-style
  // idx-sorted fold. n_spans_cut counts MERGED spans (hits with no other
  // hit within 7 positions start one). Every stage is an equi-join or a
  // per-doc fold: the DF table is bounded by distinct shingles (no
  // broadcast of it — q74's gate rationale applies at scale), hits and
  // cover are duplicated-span-sized, and nothing driver-collects.
  // -------------------------------------------------------------------------

  /** Positional word-8-gram identity frame over `(doc_id, w)` rows:
    * one row per 8-gram occurrence, `(doc_id, pos, h1, h2)` — the shingle
    * itself carried as a 96-bit hash pair (xxhash64 ⊕ murmur3), never as
    * a string. The SAME shingle strings as WordShingles/q83 (trim +
    * single-space split) feed the hashes, so any basis consumer (span
    * removal, exact decontamination) matches the string-level oracle up
    * to hash collisions: P(any merge) ≈ n²/2⁹⁷ — ~10⁻¹⁴ at 10¹² corpus
    * shingles, and a collision merely merges two shingle classes (one
    * span over-cut), the standard trade the hashed substring-dedup
    * recipes make. What the hashes buy at scale: the two big exchanges
    * (frequency aggregation + hit join) shuffle 20-byte rows instead of
    * ~8-word strings — 3-5× less shuffle volume on the hottest stage.
    */
  private[graft] def positionalShingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(when(size(col("w")) >= 8,
        transform(sequence(lit(0), size(col("w")) - 8),
          i => {
            val sh = concat_ws(" ", slice(col("w"), i + 1, lit(8)))
            struct(xxhash64(sh).as("h1"), hash(sh).as("h2"))
          }))
        .otherwise(array().cast("array<struct<h1:bigint,h2:int>>")))
        .as(Seq("pos", "hs")))
      .select(col("doc_id"), col("pos"),
        col("hs.h1").as("h1"), col("hs.h2").as("h2"))

  /** q88's span-removal core over `(doc_id, body)`: find word-8-grams
    * shared by ≥2 docs, keep them only in the min-doc_id keeper, cut the
    * covered word positions everywhere else. Returns one row per doc:
    * `(doc_id, n_words, n_removed, n_spans_cut, text_clean)`. Factored so
    * q99 can run the identical lineage over the RAW corpus text (q88's
    * fixture appends synthetic boilerplate tails first) — and share the
    * [[positionalShingleHashes]] basis with its decontamination stage.
    *
    * Scale shape (the r9 10× red flag lived here): the old form shuffled
    * the shingle STRINGS twice (distinct + join) and then re-shuffled
    * every word of the corpus as (wi, word) struct rows to reassemble
    * text via array_sort(collect_list) — three corpus-sized exchanges
    * whose per-task state blew past spill thresholds at 10×. Now: hashes
    * shuffle instead of strings, the shared-by-≥2-docs test and the
    * keeper come from the salted two-phase class-bounds fold
    * ([[graft.operators.Curation.classBounds]] — skew-safe r11; the basis
    * still crosses the wire exactly once), the
    * covered-word set and the merged-span count come from ONE hits
    * aggregation, and reassembly is a doc-level `array_except` splice —
    * each doc's words never leave their row, so the only doc-sized
    * exchange left is the docs⋈cuts join (cuts is duplicated-span-
    * bounded and broadcasts under AQE).
    */
  private def removeDupSpans(docs0: DataFrame): DataFrame = {
    val docs = docs0.withColumn("w", split(col("body"), " "))
    removeDupSpansFrom(docs, positionalShingleHashes(docs))
  }

  /** Test hook (PlanSpec, r12 prescription #5): the span-removal lineage
    * over an ARBITRARY (doc_id, body) frame, so the form gate's
    * direction can be pinned against planted plan statistics. The two
    * forms are value-identical, which makes a gate regression (a stats
    * misread picking the window form on a 100 TB corpus — one
    * unsplittable task per hot shingle class) invisible to every oracle;
    * only a plan-shape assertion can catch it.
    */
  private[graft] def spanRemovalForGateSpec(docs0: DataFrame): DataFrame =
    removeDupSpans(docs0)

  /** [[SpanSaltedDocsGate]]/[[SpanSaltedBytesGate]] for the gate-direction
    * spec — the thresholds the planted stats must straddle.
    */
  private[graft] def spanGateThresholds: (Long, Long) =
    (SpanSaltedDocsGate, SpanSaltedBytesGate)

  /** [[removeDupSpans]] with the positional-hash basis passed in, so a
    * composition (q99) can compute it once for several consumers.
    * `docs` must carry `(doc_id, body, w)`.
    */
  /** Above this many documents the span-removal keeper step switches from
    * the window form to the salted agg+join form (see the form note in
    * [[removeDupSpansFrom]]). At or below it, even a 100%-boilerplate
    * shingle class is bounded by total corpus shingles (≲ docs × words ≈
    * tens of millions of 20-byte rows), which one task sorts through
    * UnsafeExternalSorter's spill path without distress — while the
    * salted form's extra basis pass + class aggregation are pure fixed
    * overhead at that size (measured at sf0.1: 0.62 s window vs 1.36 s
    * salted). Past the gate a single class CAN outgrow any one task, and
    * the structural bound is worth the extra pass. Override with
    * -Dgraft.span.form=window|salted (the spec and the span_skew stress
    * exercise both forms explicitly).
    */
  private val SpanSaltedDocsGate = 100000L

  /** [[SpanSaltedDocsGate]] expressed in plan-estimate bytes, for lineages
    * without a CBO row count: 100k docs at the corpus's few-KB body width
    * ≈ a few hundred MB of scan footprint. 256 MB errs toward salted —
    * past the boundary the window form risks a task that cannot finish,
    * while the salted form merely pays a measured ~2× fixed overhead.
    */
  private val SpanSaltedBytesGate = 256L * 1024 * 1024

  private def removeDupSpansFrom(docs: DataFrame, spH: DataFrame): DataFrame = {
    // "shared by ≥2 docs" ⟺ min(doc_id) ≠ max(doc_id) within the shingle
    // class, keeper = the min. Two value-identical forms (CurationSpec
    // pins row-level equality; Bench's span_skew block measures both on a
    // hot-class fixture):
    //   window — r10's min/max window over (h1, h2): ONE shuffle of the
    //       20-byte hash rows, fastest at bench scale, but a window
    //       partition cannot be AQE-skew-split, so one hot class (a
    //       license-header 8-gram shared by 10⁸ docs — guaranteed in a
    //       100 TB crawl) sorts in a single task (r10 VERDICT, the last
    //       named scale-killer; measured row_ratio 14.7 on the fixture,
    //       unchanged under AQE).
    //   salted — min/max are associative, so the bounds come from
    //       [[graft.operators.Curation.classBounds]]: a skew-safe
    //       map-side-combined class aggregate, the shared-class filter
    //       pushed into the lookup, and the join-back keyed on
    //       (h1, h2, salt) so no task ever sees more than ~1/salts of a
    //       hot class (measured row_ratio ~1-2 on the same fixture).
    // The salted form costs one extra basis traversal — pure overhead
    // while classes are small, structural survival once one class can
    // outgrow a single task — so the form is gated on corpus size
    // ([[SpanSaltedDocsGate]]), the same shape as AQE's own
    // size-triggered re-plans.
    val useSalted = sys.props.get("graft.span.form") match {
      case Some("salted") => true
      case Some("window") => false
      case _ =>
        // Plan-stats estimate, NOT docs.count() (r11 verdict #4): the
        // count was a full eager scan of the (doc_id, body, w) lineage on
        // every q88/q99 plan CONSTRUCTION — at 100 TB a whole corpus read
        // before planning even starts. Catalyst already knows the size:
        // rowCount when CBO stats exist, else the scan-derived
        // sizeInBytes (file footprint × projection ratio). The bytes gate
        // is the docs gate at an assumed few-KB row width; both gates
        // only pick between two VALUE-IDENTICAL forms, and an unknown
        // size (sizeInBytes defaults to spark.sql.defaultSizeInBytes =
        // Long.MaxValue) falls to salted — the structurally safe form,
        // where a wrong guess costs one extra pass, not a dead executor.
        val st = docs.queryExecution.optimizedPlan.stats
        st.rowCount match {
          case Some(n) => n > SpanSaltedDocsGate
          case None => st.sizeInBytes > SpanSaltedBytesGate
        }
    }
    val hits = (if (useSalted)
      graft.operators.Curation.classBounds(
        spH, Seq("h1", "h2"), "doc_id",
        saltExpr = xxhash64(col("doc_id"), col("pos")),
        minName = "keeper", maxName = "_mx",
        classFilter = Some(col("keeper") =!= col("_mx")))
    else
      graft.operators.Curation.plainClassBounds(
          spH, Seq("h1", "h2"), "doc_id", "keeper", "_mx")
        .filter(col("keeper") =!= col("_mx")))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("pos"))
    // ONE aggregation over the doc's hit positions yields BOTH outputs:
    //  - merged-span starts: a hit with no other hit in the 7 positions
    //    before it opens a maximal span — a linear fold over the sorted
    //    positions (a hits×hits band self-join goes per-doc-quadratic on
    //    a boilerplate-heavy document; the fold stays linear);
    //  - the covered-word cut set: ∪ [pos, pos+7], 8·|hits|-bounded.
    val perDoc = hits
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("pos"))).as("ps"))
      .select(col("doc_id"),
        aggregate(
          col("ps"),
          struct(lit(-1000000).as("prev"), lit(0L).as("cnt")),
          (acc, p) => struct(p.as("prev"),
            (acc.getField("cnt") +
              when(p - acc.getField("prev") > 7, 1L).otherwise(0L)).as("cnt")),
          acc => acc.getField("cnt")).as("n_spans_cut"),
        array_distinct(flatten(transform(col("ps"),
          p => sequence(p, p + 7)))).as("cut"))
    // Doc-level splice: kept indices = [0..n) \ cut (array_except keeps
    // first-array order, hash-set probe — linear per doc), words fetched
    // by index. A doc with no hits short-circuits to its original body.
    docs.select(col("doc_id"), col("body"), col("w"),
        size(col("w")).cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("cut").isNull, lit(null).cast("array<int>"))
          .otherwise(array_except(sequence(lit(0), size(col("w")) - 1), col("cut"))))
      .select(col("doc_id"), col("n_words"),
        when(col("cut").isNull, lit(0L))
          .otherwise(col("n_words") - size(col("kept"))).as("n_removed"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        when(col("cut").isNull, col("body"))
          .otherwise(array_join(transform(col("kept"),
            i => element_at(col("w"), i + 1)), " ")).as("text_clean"))
  }

  val q88SpanRemoval: Q = (s, d) => {
    val tail3 = " the quick brown fox jumps over the lazy dog archive footer"
    val tail5 = " all rights reserved by the automated pipeline export system"
    val body = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(tail3)).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(tail5)).otherwise(lit("")))
    removeDupSpans(docsWide(s, d).select(col("doc_id"), trim(body).as("body")))
      .orderBy(col("doc_id"))
  }

  private val q88Sql = {
    val g8 = (0 until 8).map(k => s"w[i+$k]").mkString("||' '||")
    """WITH b AS (
         SELECT doc_id,
                trim(text || (CASE WHEN doc_id % 3 = 0 THEN '<T3>' ELSE '' END)
                          || (CASE WHEN doc_id % 5 = 0 THEN '<T5>' ELSE '' END)) AS body
         FROM documents
       ), words AS (
         SELECT doc_id, string_split(body, ' ') AS w FROM b
       ), sp AS (
         SELECT doc_id, i, <G8> AS shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> i)) AS u(i)
         WHERE i + 7 <= len(w)
       ), freq AS (
         SELECT shingle, min(doc_id) AS keeper
         FROM (SELECT DISTINCT doc_id, shingle FROM sp)
         GROUP BY shingle HAVING count(*) >= 2
       ), hits AS (
         SELECT sp.doc_id, sp.i
         FROM sp JOIN freq USING (shingle)
         WHERE sp.doc_id <> freq.keeper
       ), cover AS (
         SELECT DISTINCT doc_id, i + k AS wi
         FROM hits, unnest(list_transform(range(0, 8), k -> k)) AS v(k)
       ), wp AS (
         SELECT doc_id, i AS wi, w[i] AS word
         FROM words, unnest(list_transform(range(1, len(w) + 1), i -> i)) AS u(i)
       ), surv AS (
         SELECT wp.doc_id, wp.wi, wp.word
         FROM wp LEFT JOIN cover c ON wp.doc_id = c.doc_id AND wp.wi = c.wi
         WHERE c.wi IS NULL
       ), clean AS (
         SELECT doc_id, count(*) AS n_kept,
                string_agg(word, ' ' ORDER BY wi) AS text_clean
         FROM surv GROUP BY doc_id
       ), starts AS (
         SELECT doc_id, count(*) AS n_spans_cut
         FROM hits h
         WHERE NOT EXISTS (SELECT 1 FROM hits h2
                           WHERE h2.doc_id = h.doc_id
                             AND h2.i BETWEEN h.i - 7 AND h.i - 1)
         GROUP BY doc_id
       )
       SELECT b.doc_id, len(w.w) AS n_words,
              len(w.w) - COALESCE(c.n_kept, 0) AS n_removed,
              COALESCE(st.n_spans_cut, 0) AS n_spans_cut,
              COALESCE(c.text_clean, '') AS text_clean
       FROM b JOIN words w USING (doc_id)
       LEFT JOIN clean c ON b.doc_id = c.doc_id
       LEFT JOIN starts st ON b.doc_id = st.doc_id
       ORDER BY b.doc_id"""
      .replace("<T3>", " the quick brown fox jumps over the lazy dog archive footer")
      .replace("<T5>", " all rights reserved by the automated pipeline export system")
      .replace("<G8>", g8)
  }

  private val SemDedupTau = 0.4

  val q82SemDedup: Q = (s, d) => {
    val store = ivfIndex(s, d)
    val m = store.vectors.select(col("vec_id"), col("cell"),
      col("embedding").cast("array<double>").as("v"))
    val dups = m
      .join(m.select(col("cell"), col("vec_id").as("o_id"), col("v").as("ov")),
        Seq("cell"))
      .filter(col("o_id") < col("vec_id"))
      .filter(graft.functions.VectorFunctions.cosine(col("v"), col("ov"))
        >= SemDedupTau)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("nd"))
    m.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        coalesce(col("nd"), lit(0L)).cast("int").as("n_lower_dups"),
        (coalesce(col("nd"), lit(0L)) === 0).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Cell assignment replayed from the stored centroid literals (the
    * q27 machinery), then the within-cell lower-id pair count in SQL.
    */
  private def q82Sql(cs: Array[Array[Double]]): String = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    val dExprs = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${cn2(i)} - 2.0*list_inner_product(nv, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    s"""WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         WHERE vec_id <> 0
       ), n AS (
         SELECT vec_id, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), a AS (
         SELECT vec_id, v, list_position($dExprs, list_min($dExprs)) - 1 AS cell
         FROM n
       ), p AS (
         SELECT x.vec_id, count(*) AS nd
         FROM a x JOIN a y ON x.cell = y.cell AND y.vec_id < x.vec_id
         WHERE list_cosine_similarity(x.v, y.v) >= $SemDedupTau
         GROUP BY x.vec_id
       )
       SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
              CAST(COALESCE(p.nd, 0) AS INT) AS n_lower_dups,
              COALESCE(p.nd, 0) = 0 AS keep
       FROM a LEFT JOIN p USING (vec_id)
       ORDER BY a.vec_id"""
  }

  // -------------------------------------------------------------------------
  // q84: temperature-based mixture sampling across language shards — the
  // multilingual-pretraining rebalancer (sample lang l with probability ∝
  // c_l^α, α < 1 upweights low-resource shards; XLM-R/mT5 recipe). α=1/2
  // keeps the only transcendental at sqrt, which IEEE-754 rounds
  // correctly on every engine — unlike pow(x, 0.3), whose libm results
  // differ across platforms and would flake the oracle. Per-doc
  // membership is deterministic portable-hash thresholding
  // (hash60(doc_id) < rate·2^60): no RNG, replayable anywhere, and the
  // whole plan is one tiny per-lang agg broadcast back over the corpus —
  // nothing global moves. The Σ over shards is an ordered fold (few
  // shards, float determinism).
  // -------------------------------------------------------------------------

  private val MixTarget = 200L // total docs the mixture should yield

  val q84MixtureSample: Q = (s, d) => {
    val docs = docsWide(s, d)
    val perLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
    val total = perLang
      .agg(aggregate(
        sort_array(collect_list(struct(col("lang"), sqrt(col("c").cast("double")).as("sq")))),
        lit(0.0), (acc, x) => acc + x.getField("sq")).as("z"))
    val rates = perLang.crossJoin(broadcast(total))
      .withColumn("weight_raw", sqrt(col("c").cast("double")) / col("z"))
      .withColumn("rate_raw",
        least(lit(1.0), lit(MixTarget.toDouble) * col("weight_raw") / col("c")))
      .select(col("lang"), col("c"), col("weight_raw"), col("rate_raw"))
    docs.join(broadcast(rates), Seq("lang"))
      .withColumn("h", TextAnalytics.hash60(col("doc_id").cast("string")))
      .select(col("doc_id"), col("lang"), col("c").as("lang_docs"),
        rnd(col("weight_raw"), 6).as("weight"),
        rnd(col("rate_raw"), 6).as("rate"),
        (col("h").cast("double") < col("rate_raw") * lit(1152921504606846976.0))
          .as("selected"))
      .orderBy(col("doc_id"))
  }

  private val q84Sql =
    s"""WITH c AS (
         SELECT lang, count(*) AS c FROM documents GROUP BY lang
       ), z AS (
         SELECT sum(sqrt(CAST(c AS DOUBLE)) ORDER BY lang) AS z FROM c
       ), r AS (
         SELECT lang, c,
                sqrt(CAST(c AS DOUBLE)) / (SELECT z FROM z) AS weight_raw,
                least(1.0, $MixTarget.0 * (sqrt(CAST(c AS DOUBLE)) / (SELECT z FROM z)) / c)
                  AS rate_raw
         FROM c
       )
       SELECT d.doc_id, d.lang, r.c AS lang_docs,
              floor(r.weight_raw * 1000000 + 0.5) / 1000000.0 AS weight,
              floor(r.rate_raw * 1000000 + 0.5) / 1000000.0 AS rate,
              (CAST(CAST('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                 AS DOUBLE) < r.rate_raw * 1152921504606846976.0) AS selected
       FROM documents d JOIN r USING (lang)
       ORDER BY d.doc_id"""

  private val LmNllKeep = 6.5

  val q81BigramLm: Q = (s, d) => {
    val toks = docsWide(s, d).select(col("doc_id"), col("lang"),
      TextAnalytics.tokens(col("text")).as("toks"))
    val bigramsOf = (t: org.apache.spark.sql.Column) =>
      when(size(t) >= 2, transform(sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val lm = toks.filter(col("lang") === "en")
    val uniCounts = lm.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = uniCounts.count() // bounded: ONE scalar (vocab size)
    val biCounts = lm.select(explode(bigramsOf(col("toks"))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"),
        posexplode(bigramsOf(col("toks"))).as(Seq("idx", "bg")))
      .select(col("doc_id"), col("lang"), col("idx"),
        col("bg.w1"), col("bg.w2"))
      .join(biCounts, Seq("w1", "w2"), "left")
      .join(uniCounts, Seq("w1"), "left")
      .withColumn("lp", log(
        (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + lit(v)).cast("double")))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(sort_array(collect_list(struct(col("idx"), col("lp")))),
          lit(0.0), (acc, x) => acc + x.getField("lp")).as("lp_sum"))
      .withColumn("nll_raw", -col("lp_sum") / col("n_bigrams"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        rnd(col("nll_raw"), 6).as("mean_nll"),
        (col("nll_raw") <= LmNllKeep).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Full independent replay: counts, vocab size, smoothing, ln and the
    * position-ordered sum all recomputed in DuckDB; the engine's
    * driver-side V literal is NOT shared.
    */
  private val q81Sql =
    s"""WITH t AS (
         SELECT doc_id, lang, list_filter(regexp_split_to_array(text, '\\s+'),
                                          x -> x <> '') AS toks FROM documents
       ), lm AS (
         SELECT toks FROM t WHERE lang = 'en'
       ), u AS (
         SELECT w1, count(*) AS c1
         FROM (SELECT unnest(toks) AS w1 FROM lm) GROUP BY w1
       ), vocab AS (
         SELECT count(*) AS v FROM u
       ), b AS (
         SELECT w1, w2, count(*) AS c12 FROM (
           SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM lm, unnest(range(1, len(toks))) AS r(i))
         GROUP BY w1, w2
       ), pos AS (
         SELECT doc_id, lang, i AS idx, toks[i] AS w1, toks[i + 1] AS w2
         FROM t, unnest(range(1, len(toks))) AS r(i)
         WHERE len(toks) >= 2
       ), sc AS (
         SELECT p.doc_id, p.lang, p.idx,
                ln((COALESCE(b.c12, 0) + 1.0)
                   / (COALESCE(u.c1, 0) + (SELECT v FROM vocab))) AS lp
         FROM pos p
         LEFT JOIN b ON p.w1 = b.w1 AND p.w2 = b.w2
         LEFT JOIN u ON p.w1 = u.w1
       ), agg AS (
         SELECT doc_id, lang, count(*) AS n_bigrams,
                sum(lp ORDER BY idx) AS lp_sum
         FROM sc GROUP BY doc_id, lang
       )
       SELECT doc_id, lang, n_bigrams,
              floor((-lp_sum / n_bigrams) * 1000000 + 0.5) / 1000000.0 AS mean_nll,
              ((-lp_sum / n_bigrams) <= $LmNllKeep) AS keep
       FROM agg ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q72: int8 quantized similarity search — the q58 quantization applied to
  // scoring: approx_cos ≈ (i8dot(q_codes, v_codes) · v_scale) · q_scale.
  // The integer dot is EXACT on every engine (no float-order pinning),
  // only the two-scale product is floating — one pinned multiply chain.
  // At rest the codes+scale columns are what a 100 TB deployment persists
  // (4× fewer scan bytes than the float vectors); here they are computed
  // inline so the oracle replays quantization + scoring end-to-end from
  // the parquet alone. Top-50 int8 candidates then exact-cosine rerank,
  // the q69 shape.
  // -------------------------------------------------------------------------

  val q72I8Search: Q = (s, d) => {
    import graft.functions.VectorFunctions
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    // driver-side query quantization, same arithmetic as the i8 kernels
    var mx = 0.0
    qv.foreach(x => if (math.abs(x) > mx) mx = math.abs(x))
    val qscale = mx / 127.0
    val qcodes = qv.map { x =>
      val q = if (qscale == 0.0) 0.0
        else math.max(-127.0, math.min(127.0, math.floor(x / qscale + 0.5)))
      q.toByte
    }
    val cand = emb.filter(col("vec_id") =!= 0)
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("scale", VectorFunctions.i8Scale(col("v")))
      .withColumn("idot", VectorFunctions.i8Dot(
        VectorFunctions.i8Quantize(col("v"), col("scale")),
        array(qcodes.toIndexedSeq.map(lit): _*)))
      .withColumn("approx",
        col("idot").cast("double") * col("scale") * lit(qscale))
      .orderBy(col("approx").desc, col("vec_id")).limit(50)
      .select("vec_id")
    emb.filter(col("vec_id") =!= 0)
      .join(broadcast(cand), Seq("vec_id"))
      .withColumn("score", VectorFunctions.cosine(
        col("embedding").cast("array<double>"), array(qv.toIndexedSeq.map(lit): _*)))
      .orderBy(col("score").desc, col("vec_id")).limit(10)
      .select(col("vec_id"), col("label"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  /** Replay: q58's quantization CTEs over every vector (query included),
    * exact integer dot, the same (idot·scale)·qscale multiply order,
    * (approx, vec_id) candidate cutoff, exact cosine top-10.
    */
  private val q72Sql =
    """WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), s AS (
         SELECT vec_id, label, v,
                list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
         FROM e
       ), q8 AS (
         SELECT vec_id, label, v, scale,
                list_transform(v, x -> CAST(greatest(-127.0,
                  least(127.0, floor(x / scale + 0.5))) AS BIGINT)) AS ql
         FROM s
       ), qq AS (
         SELECT ql AS qlq, scale AS qscale, v AS qv FROM q8 WHERE vec_id = 0
       ), a AS (
         SELECT c.vec_id, c.label, c.v,
                (CAST(list_aggregate(list_transform(range(1, len(c.ql) + 1),
                    i -> c.ql[i] * qq.qlq[i]), 'sum') AS DOUBLE)
                 * c.scale) * qq.qscale AS approx
         FROM q8 c, qq WHERE c.vec_id <> 0
       ), cand AS (
         SELECT vec_id, label, v FROM a ORDER BY approx DESC, vec_id LIMIT 50
       ), hits AS (
         SELECT cand.vec_id, cand.label, list_cosine_similarity(cand.v, qq.qv) AS sc
         FROM cand, qq ORDER BY sc DESC, cand.vec_id LIMIT 10
       )
       SELECT vec_id, label, floor(sc * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits ORDER BY score DESC, vec_id"""

  // -------------------------------------------------------------------------
  // q73: BATCH PQ ANN — N queries over the codes artifact in one job (the
  // q62 eval-fleet shape on the 32×-compressed layout). Per-query LUTs are
  // built once on the query frame and broadcast; ADC per (vector, query)
  // is m lookups; candidates reduce via the shared bounded heap and
  // broadcast into the exact rerank. Oracle: q69's codebook replay
  // generalized with a per-query partition window, like q62 vs q27.
  // -------------------------------------------------------------------------

  val q73BatchPq: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val pq = pqIndex(s, d)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    Similarity.pqBatchTopK(pq.codes, pq.codebooks,
        emb.filter(col("vec_id") =!= 0), "embedding", queries,
        k = 10, rerank = 20)
      .select(col("query_id"), col("rank"), col("vec_id"), col("label"),
        rnd(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def q73Sql(cbs: Array[Array[Array[Double]]]): String = {
    val m = cbs.length
    val ksub = cbs(0).length
    val dsub = cbs(0)(0).length
    val cn2 = graft.functions.VectorFunctions.codebookNorm2(cbs)
    def subSlice(c: String, mi: Int) =
      s"list_slice($c, ${mi * dsub + 1}, ${(mi + 1) * dsub})"
    val codeExprs = (0 until m).map { mi =>
      val ds = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"(${cn2(mi)(ci)} - 2.0*list_inner_product(${subSlice("nv", mi)}, $cl::DOUBLE[]))"
      }.mkString("[", ", ", "]")
      s"list_position($ds, list_min($ds)) - 1 AS c$mi"
    }.mkString(",\n                ")
    val adcExpr = (0 until m).map { mi =>
      val lut = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"list_inner_product(${subSlice("q.qn", mi)}, $cl::DOUBLE[])"
      }.mkString("[", ", ", "]")
      s"($lut[c.c$mi + 1])"
    }.mkString(" + ")
    s"""WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), n AS (
         SELECT vec_id, label, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), q AS (
         SELECT vec_id AS query_id, v AS qv, nv AS qn FROM n WHERE vec_id < 5
       ), c AS (
         SELECT vec_id, label, v, $codeExprs
         FROM n WHERE vec_id <> 0
       ), a AS (
         SELECT q.query_id, q.qv, c.vec_id, c.label, c.v, $adcExpr AS adc
         FROM c, q
       ), cand AS (
         SELECT query_id, qv, vec_id, label, v FROM a
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) <= 20
       ), hits AS (
         SELECT query_id, vec_id, label,
                list_cosine_similarity(v, qv) AS sc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rnk
         FROM cand
       )
       SELECT query_id, CAST(rnk AS INT) AS "rank", vec_id, label,
              floor(sc * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits WHERE rnk <= 10
       ORDER BY query_id, "rank""""
  }

  // -------------------------------------------------------------------------
  // q74: CROSS-document boilerplate line removal — the C4 global rule
  // (lines occurring in more than one document are dropped corpus-wide),
  // complementing q55's within-document pass. Scale shape: explode →
  // distinct (line, doc) → per-line doc-frequency partial agg (map-side
  // combine bounds the shuffle at distinct-line count); the frequent-line
  // set is materialized once and SIZE-GATED (Dedup.removeFrequentLines):
  // small sets — this corpus — broadcast into the LEFT ANTI join, while a
  // web-scale set falls back to a shuffled hash anti join (broadcasting
  // C4's global line set is the OOM at 100 TB); reassembly is one
  // groupBy(doc) with an idx-sorted fold. All-integer/string arithmetic —
  // the oracle replays it with plain SQL aggregation, no float pinning.
  // -------------------------------------------------------------------------

  val q74GlobalLineDedup: Q = (s, d) => {
    val body = concat_ws("\n",
      substring(col("text"), 1, 40), lit("boilerplate footer"),
      substring(col("text"), 41, 40), lit("generated by pipeline v2"),
      substring(col("text"), 81, 40))
    val lines = docsWide(s, d)
      .withColumn("body", body)
      .select(col("doc_id"),
        posexplode(split(col("body"), "\n")).as(Seq("idx", "line")))
    Dedup.removeFrequentLines(lines, "line", "doc_id")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("line")))),
          x => x.getField("line")), "\n").as("clean_text"))
      .withColumn("n_removed", lit(5) - col("n_kept"))
      .select(col("doc_id"), col("n_kept"), col("n_removed"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  private val q74Sql =
    """WITH d AS (
         SELECT doc_id,
                substr(text, 1, 40) || chr(10) || 'boilerplate footer' || chr(10)
                  || substr(text, 41, 40) || chr(10) || 'generated by pipeline v2'
                  || chr(10) || substr(text, 81, 40) AS body
         FROM documents
       ), ls AS (
         SELECT doc_id, string_split(body, chr(10)) AS lines FROM d
       ), l AS (
         SELECT doc_id, i - 1 AS idx, lines[i] AS line
         FROM ls, unnest(range(1, len(lines) + 1)) AS t(i)
       ), freq AS (
         SELECT line FROM (SELECT DISTINCT doc_id, line FROM l)
         GROUP BY line HAVING count(*) > 1
       ), kept AS (
         SELECT doc_id, idx, line FROM l
         WHERE line NOT IN (SELECT line FROM freq)
       )
       SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
              CAST(5 - count(*) AS INT) AS n_removed,
              string_agg(line, chr(10) ORDER BY idx) AS clean_text
       FROM kept GROUP BY doc_id ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q75: duplicate-cluster canonicalization — connected components over
  // the q19 MinHash near-dup pairs (transitive closure: a~b, b~c → one
  // cluster), cluster id = smallest member = the canonical survivor.
  // Iterative min-label propagation (diameter-bounded rounds of equi-join
  // + min-agg, lineage-checkpointed); the oracle computes the same
  // closure with a RECURSIVE reachability CTE over the independently
  // replayed pair list — pure integer mins, engine-exact.
  // -------------------------------------------------------------------------

  val q75DupClusters: Q = (s, d) =>
    // r17 OPT: the label table IS the ClusterStore's serve frame
    // (ClusterStore.read documents "q75's exact shape") — serve the
    // persisted labels instead of re-running MinHash→verify→CC per query
    // (§2.4 remove whole passes; value-identity pinned by the unchanged
    // from-scratch DuckDB oracle + ClusterStoreSpec)
    storedClusterLabels(s, d)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
      .orderBy(col("doc_id"))

  private val q75Sql =
    s"""WITH RECURSIVE pairs AS (
         SELECT a_id, b_id FROM (${q19Sql.replace("\n", "\n  ")}) p
       ), edges AS (
         SELECT a_id AS x, b_id AS y FROM pairs
         UNION
         SELECT b_id, a_id FROM pairs
       ), nodes AS (
         SELECT DISTINCT x FROM edges
       ), reach(x, r) AS (
         SELECT x, x FROM nodes
         UNION
         SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.x
       )
       SELECT x AS doc_id, min(r) AS cluster_id,
              (x = min(r)) AS is_canonical
       FROM reach GROUP BY x ORDER BY doc_id"""

  /** The near-dup cluster-label frame `(doc_id, cluster_id, is_canonical)`
    * served from the persisted [[graft.sources.ClusterStore]] — the q19
    * MinHash basis (32 hashes, 8 bands, Jaccard ≥ 0.5) → exact-verify →
    * connected components, materialized ONCE at publish time from the
    * band store and read by every serving lineage that needs labels
    * (q85/q99/q108/q117/q118/q126/q143/q147 — the r16 top cost tier).
    * Value-identical to the inline `minhashNearDuplicates` →
    * `duplicateClusters` pass (the mutation audit's control rebuilds and
    * ClusterStoreSpec pin it), so every oracle stays the from-scratch
    * recursive-CTE replay.
    */
  private def storedClusterLabels(s: SparkSession, d: String): DataFrame = {
    lazy val docs = docsWide(s, d)
    graft.sources.ClusterStore.ensure(s, docs, "doc_id", "text", d,
      graft.sources.BandStore.ensure(s, docs, "doc_id", "text", d))
  }

  // -------------------------------------------------------------------------
  // q85: dedup APPLY — the deliverable a dedup pipeline actually ships:
  // every document mapped to its canonical survivor. The cluster labels
  // (MinHash banding → candidate verification → connected-component
  // canonicalization) are SERVED from the persisted ClusterStore — built
  // once at publish time, the production "materialize the cluster table
  // at write time" shape — and left-joined back over the corpus:
  // unclustered docs are their own canonical and kept; clustered docs
  // keep only the smallest member. `SELECT * WHERE kept` IS the
  // deduplicated corpus.
  // -------------------------------------------------------------------------

  val q85DedupApply: Q = (s, d) => {
    val clusters = storedClusterLabels(s, d)
    docsWide(s, d).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
        coalesce(col("is_canonical"), lit(true)).as("kept"))
      .orderBy(col("doc_id"))
  }

  private val q85Sql =
    s"""WITH RECURSIVE pairs AS (
         SELECT a_id, b_id FROM (${q19Sql.replace("\n", "\n  ")}) p
       ), edges AS (
         SELECT a_id AS x, b_id AS y FROM pairs
         UNION
         SELECT b_id, a_id FROM pairs
       ), nodes AS (
         SELECT DISTINCT x FROM edges
       ), reach(x, r) AS (
         SELECT x, x FROM nodes
         UNION
         SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.x
       ), cl AS (
         SELECT x AS doc_id, min(r) AS cluster_id, (x = min(r)) AS is_canonical
         FROM reach GROUP BY x
       )
       SELECT d.doc_id,
              COALESCE(cl.cluster_id, d.doc_id) AS canonical_id,
              COALESCE(cl.is_canonical, TRUE) AS kept
       FROM documents d LEFT JOIN cl USING (doc_id)
       ORDER BY d.doc_id"""

  // -------------------------------------------------------------------------
  // q86: training-shard plan — the LAST pipeline step: every document
  // deterministically assigned to one of N output shards (portable
  // hash60 of the id — no RNG, any engine/worker re-derives the same
  // plan), with a per-shard manifest of doc/token/char counts and an
  // order-independent content fingerprint (XOR of per-doc text hashes —
  // commutative, so the manifest is partition-order-proof; the writer's
  // check after shuffling shards to 1000 executors). One narrow map +
  // one N-group aggregation; nothing global moves.
  // -------------------------------------------------------------------------

  private val ShardCount = 8

  val q86ShardPlan: Q = (s, d) =>
    docsWide(s, d)
      .select(
        pmod(TextAnalytics.hash60(col("doc_id").cast("string")),
          lit(ShardCount.toLong)).as("shard"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("nt"),
        length(col("text")).cast("long").as("nc"),
        TextAnalytics.hash60(col("text")).as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("nc")).as("n_chars"),
        expr("bit_xor(h)").as("content_sig"))
      .orderBy(col("shard"))

  private val q86Sql =
    s"""WITH a AS (
         SELECT CAST(CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                  % $ShardCount AS BIGINT) AS shard,
                len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS nt,
                length(text) AS nc,
                CAST('0x' || substr(sha256(text), 1, 15) AS BIGINT) AS h
         FROM documents
       )
       SELECT shard, count(*) AS n_docs,
              CAST(sum(nt) AS BIGINT) AS n_tokens,
              CAST(sum(nc) AS BIGINT) AS n_chars,
              bit_xor(h) AS content_sig
       FROM a GROUP BY shard ORDER BY shard"""

  // -------------------------------------------------------------------------
  // q76: IVF-PQ — the two prunings composed (the standard billion-scale
  // ANN layout): nProbe cell partitions of the cell-partitioned CODES
  // table survive (PartitionFilters at the source), ADC ranks only those
  // codes, the top-50 broadcast into the exact rerank. Scan bytes ≈
  // corpus · nProbe/k · 1/32 of the float vectors. Oracle = q27's
  // cell/probe replay composed with q69's code/ADC replay, both from
  // exported literals.
  // -------------------------------------------------------------------------

  val q76IvfPq: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val store = ivfIndex(s, d)
    val pq = pqIndex(s, d)
    Similarity.ivfPqTopK(pq.codes, pq.codebooks, store.centroids,
        emb.filter(col("vec_id") =!= 0), "embedding", qv,
        k = 10, nProbe = IvfProbes, rerank = 50)
      .select(col("vec_id"), col("label"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  private def q76Sql(cs: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]]): String = {
    val ivfN2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    val dExprs = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${ivfN2(i)} - 2.0*list_inner_product(nv, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    val m = cbs.length
    val ksub = cbs(0).length
    val dsub = cbs(0)(0).length
    val cn2 = graft.functions.VectorFunctions.codebookNorm2(cbs)
    def subSlice(c: String, mi: Int) =
      s"list_slice($c, ${mi * dsub + 1}, ${(mi + 1) * dsub})"
    val codeExprs = (0 until m).map { mi =>
      val ds = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"(${cn2(mi)(ci)} - 2.0*list_inner_product(${subSlice("nv", mi)}, $cl::DOUBLE[]))"
      }.mkString("[", ", ", "]")
      s"list_position($ds, list_min($ds)) - 1 AS c$mi"
    }.mkString(",\n                ")
    val adcExpr = (0 until m).map { mi =>
      val lut = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"list_inner_product(${subSlice("q.qn", mi)}, $cl::DOUBLE[])"
      }.mkString("[", ", ", "]")
      s"($lut[c.c$mi + 1])"
    }.mkString(" + ")
    s"""WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), n AS (
         SELECT vec_id, label, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), d AS (
         SELECT vec_id, label, v, nv, $dExprs AS ds FROM n
       ), a AS (
         SELECT vec_id, label, v, nv, list_position(ds, list_min(ds)) - 1 AS cell
         FROM d WHERE vec_id <> 0
       ), probes AS (
         SELECT i AS cell FROM (
           SELECT unnest(range(${cs.length})) AS i, unnest(ds) AS dd
           FROM d WHERE vec_id = 0)
         ORDER BY dd, i LIMIT $IvfProbes
       ), q AS (
         SELECT v AS qv, nv AS qn FROM n WHERE vec_id = 0
       ), c AS (
         SELECT vec_id, label, v, $codeExprs
         FROM a JOIN probes USING (cell)
       ), adc AS (
         SELECT c.vec_id, c.label, c.v, $adcExpr AS adc FROM c, q
       ), cand AS (
         SELECT vec_id, label, v FROM adc ORDER BY adc DESC, vec_id LIMIT 50
       ), hits AS (
         SELECT cand.vec_id, cand.label, list_cosine_similarity(cand.v, q.qv) AS s
         FROM cand, q ORDER BY s DESC, cand.vec_id LIMIT 10
       )
       SELECT vec_id, label, floor(s * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits ORDER BY score DESC, vec_id"""
  }

  // -------------------------------------------------------------------------
  // q87/q89/q90: the STREAMING-MAINTAINED serving path — the one operator
  // family round 6 left without a CORRECTNESS row. The whole serving stack
  // (chunk store + BM25 text index + IVF vector store + PQ codes) is built
  // by driving micro-batches through Dropzone.processBatch — the real
  // foreachBatch body — with adds, replaces (stale tens corrected), a
  // SHRINKING re-drop (its removed tail chunk must be deleted from the
  // ANN artifacts, r6 advice) and a deliberate same-batch-id replay (a
  // restart re-delivery that must be a no-op by construction). The final
  // live state must equal the true documents corpus exactly, so:
  //   q87 serves BM25 top-15 against q60's FULL INLINE DuckDB oracle;
  //   q89 serves IVF probes against a devembed+chunker+centroid-literal
  //       replay (q27's contract over the streamed chunk vectors);
  //   q90 serves PQ ADC + exact rerank against the q69-style codebook
  //       replay. Hash-green means per-batch maintenance — including the
  //       replay guard and the tail-chunk delete — is value-exact.
  // -------------------------------------------------------------------------

  private val Q87Dropzone = "dzs"
  private val Q87ChunkSize = 800
  private val Q87ChunkOverlap = 100
  private val Q87Dim = 8
  private val Q87Cells = 16
  private val Q87PqM = 4
  private val Q87PqKsub = 16
  private val Q87QText = "fast hash join on sorted data"

  /** Drive the micro-batch scenario once per corpus version; later calls
    * only serve from the maintained artifacts (q77/q78 contract).
    */
  private[graft] def q87EnsureStreaming(s: SparkSession, d: String): String =
    GenStore.ensureArtifact(d, "documents.parquet", "dz-stream",
      """"scenario":"dz-stream-v2"""") { root =>
      val docs = docsWide(s, d).select(col("doc_id"), col("text"))
      // a micro-batch as the binaryFile source delivers it: (path,
      // content, length) — content is the document text byte-exact
      def files(ds: DataFrame): org.apache.spark.sql.DataFrame =
        ds.select(
            concat(lit(s"$Q87Dropzone/"), col("doc_id"), lit(".txt")).as("path"),
            encode(col("text"), "UTF-8").as("content"))
          .withColumn("length", octet_length(col("content")).cast("long"))
      // ~1 KB of filler: the padded drop chunks into 2 pieces at 800/100,
      // the corrected re-drop into 1 — its tail chunk id must be DELETED
      // from the vector/PQ stores (it is in no later delta)
      val pad = (1 to 130).map(i => s"padfill$i").mkString(" ", " ", "")
      val shrinkId = 4L
      val batch0 = docs
        .filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 =!= 0 &&
          col("doc_id") =!= shrinkId)
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .withColumn("text", concat(col("text"), lit(" spark spark stale draft"))))
        .unionByName(docs.filter(col("doc_id") === shrinkId)
          .withColumn("text", concat(col("text"), lit(pad))))
      val batch1 = docs.filter(col("doc_id") % 2 === 1 ||
        col("doc_id") % 10 === 0 || col("doc_id") === shrinkId)
      def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
        graft.streaming.Dropzone.processBatch(
          s, files(b), Q87Dropzone, s"$root/chunks",
          Q87ChunkSize, Q87ChunkOverlap, Q87Dim,
          skipUnchangedFiles = true, media = None,
          textIndexPath = Some(s"$root/tindex"),
          vectorStorePath = Some(s"$root/vstore"), vectorStoreK = Q87Cells,
          batchId = id, pqStorePath = Some(s"$root/pq"),
          pqM = Q87PqM, pqKsub = Q87PqKsub,
          bandStorePath = Some(s"$root/bands"))
      run(batch0, 0L) // adds: evens, with stale tens + the padded shrink doc
      run(batch0, 0L) // restart re-delivery of the SAME batch id: no-op
      run(batch1, 1L) // odds + corrected tens + corrected (shrunk) doc
    }

  val q87StreamBm25: Q = (s, d) => {
    val root = q87EnsureStreaming(s, d)
    val idx = graft.sources.TextIndex.read(s, s"$root/tindex")
    // doc = the dropzone-relative path "NNN.txt": recover the numeric id
    // FIRST so the top-15 tie-break is numeric like q60's, not lexicographic
    graft.operators.SearchOps.bm25ScoresIndexed(idx, Bm25Terms, k1 = 1.5, b = 0.75)
      .select(regexp_extract(col("doc"), "(\\d+)", 1).cast("long").as("doc_id"),
        col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(15)
      .select(col("doc_id"), rnd(col("bm25"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  private def l2n(v: Array[Double]): Array[Double] = {
    // same arithmetic as Similarity.l2Normalize: reciprocal-multiply
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
    v.map(_ * inv)
  }

  private def q87QueryVec(s: SparkSession): Array[Double] =
    s.range(1).select(graft.operators.DevEmbed.devEmbed(lit(Q87QText), Q87Dim)
      .cast("array<double>")).head().getSeq[Double](0).toArray

  /** (chunk id → doc_id, idx) of the streamed chunk store — serving joins
    * ANN hits back through it, which is exactly the id mapping the r6
    * liveRows defect would have broken.
    */
  private def q87ChunkMeta(s: SparkSession, root: String) =
    graft.sources.ChunkStore.read(s, s"$root/chunks")
      .select(col("id"),
        regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
        col("idx"))

  /** q97: the near-dup probe served from the STREAMING-MAINTAINED band
    * store — the q87/q89/q90 pattern for the fourth artifact. The
    * stream's final corpus equals the documents table (adds, a stale
    * re-drop, a same-batch-id replay, a shrink-rewrite — all settled),
    * so the probe's numeric output is row-identical to q96's and the
    * SAME DuckDB replay oracles it: any maintenance bug (double-applied
    * replay, missed tombstone, stale generation) breaks the hash.
    */
  val q97StreamNearDup: Q = (s, d) => {
    val root = q87EnsureStreaming(s, d)
    val store = graft.sources.BandStore.read(s, s"$root/bands", 32, 8)
    val docs = docsWide(s, d)
    val corpus = docs.select(concat(col("doc_id"), lit(".txt")).as("doc"), col("text"))
    val batch = docs.select(
      concat(col("doc_id") + 500000, lit(".txt")).as("doc"),
      when(pmod(col("doc_id"), lit(4)) === 0, concat(col("text"), lit(" v2")))
        .otherwise(array_join(reverse(split(trim(col("text")), " ")), " "))
        .as("text"))
    Dedup.incrementalNearDuplicates(batch, corpus, store, "doc", "text",
        threshold = 0.5)
      .select(
        regexp_extract(col("b_id"), "(\\d+)", 1).cast("long").as("b_id"),
        regexp_extract(col("c_id"), "(\\d+)", 1).cast("long").as("c_id"),
        col("inter"), col("jaccard"))
      .orderBy(col("b_id"), col("c_id"))
  }

  val q89StreamIvf: Q = (s, d) => {
    val root = q87EnsureStreaming(s, d)
    val store = graft.sources.VectorStore.read(
      s, s"$root/vstore", planes = 8, dim = Q87Dim, idCol = "id")
    val qv = q87QueryVec(s)
    val probes = Similarity.cellDistances(l2n(qv), store.centroids).zipWithIndex
      .map { case (dist, i) => (i, dist) }
      .sortBy { case (i, dist) => (dist, i) }.take(8).map(_._1)
    store.vectors
      .filter(col("cell").isin(probes.toSeq: _*)) // cell partition pruning
      .withColumn("score", graft.functions.VectorFunctions.cosine(
        col("vector").cast("array<double>"), array(qv.map(lit).toSeq: _*)))
      .join(q87ChunkMeta(s, root), Seq("id"))
      .orderBy(col("score").desc, col("doc_id"), col("idx"))
      .limit(10)
      .select(col("doc_id"), col("idx"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("idx"))
  }

  val q90StreamPq: Q = (s, d) => {
    val root = q87EnsureStreaming(s, d)
    val store = graft.sources.VectorStore.read(
      s, s"$root/vstore", planes = 8, dim = Q87Dim, idCol = "id")
    val pq = graft.sources.VectorStore.readPq(s, s"$root/pq", idCol = "id")
    val qv = q87QueryVec(s)
    val meta = q87ChunkMeta(s, root)
    val cand = pq.codes
      .withColumn("adc", graft.functions.VectorFunctions.pqAdc(col("codes"),
        Similarity.pqLut(qv, pq.codebooks)))
      .join(meta, Seq("id"))
      .orderBy(col("adc").desc, col("doc_id"), col("idx"))
      .limit(50)
      .select(col("id"))
    store.vectors
      .join(broadcast(cand), Seq("id"))
      .withColumn("score", graft.functions.VectorFunctions.cosine(
        col("vector").cast("array<double>"), array(qv.map(lit).toSeq: _*)))
      .join(meta, Seq("id"))
      .orderBy(col("score").desc, col("doc_id"), col("idx"))
      .limit(10)
      .select(col("doc_id"), col("idx"), rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("idx"))
  }

  /** DuckDB replay of the streamed IVF serve from the STREAM-TRAINED
    * centroid literals: chunker walk (q13 CTE) → devembed (q15 SQL) →
    * normalize → cell assignment → 8-probe selection from the literal
    * query vector → exact cosine top-10 with (doc_id, idx) tie-breaks.
    */
  private def q89Sql(cs: Array[Array[Double]]): String = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    def dExprs(nvCol: String) = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${cn2(i)} - 2.0*list_inner_product($nvCol, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    s"""${graft.queries.ChunkerSql.walkCte(
          "SELECT doc_id AS key, text FROM documents", Q87ChunkSize, Q87ChunkOverlap)},
       e AS (
         SELECT key AS doc_id, idx, ${IngestCatalog.devEmbedSql("chunk")} AS v
         FROM chunks
       ), n AS (
         SELECT doc_id, idx, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), a AS (
         SELECT doc_id, idx, v,
                list_position(${dExprs("nv")}, list_min(${dExprs("nv")})) - 1 AS cell
         FROM n
       ), q AS (
         SELECT qv, list_transform(qv, x -> x * (CASE WHEN list_inner_product(qv, qv) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(qv, qv)) END)) AS qn
         FROM (SELECT ${IngestCatalog.devEmbedSql(s"'$Q87QText'")} AS qv)
       ), probes AS (
         SELECT i AS cell FROM (
           SELECT unnest(range(${cs.length})) AS i, unnest(${dExprs("qn")}) AS dd
           FROM q)
         ORDER BY dd, i LIMIT 8
       ), hits AS (
         SELECT a.doc_id, a.idx, list_cosine_similarity(a.v, q.qv) AS s
         FROM a JOIN probes USING (cell), q
         ORDER BY s DESC, a.doc_id, a.idx LIMIT 10
       )
       SELECT doc_id, idx, floor(s * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits ORDER BY score DESC, doc_id, idx"""
  }

  /** DuckDB replay of the streamed PQ serve from the STREAM-TRAINED
    * codebook literals (q69's contract over the chunk vectors).
    */
  private def q90Sql(cbs: Array[Array[Array[Double]]]): String = {
    val m = cbs.length
    val ksub = cbs(0).length
    val dsub = cbs(0)(0).length
    val cn2 = graft.functions.VectorFunctions.codebookNorm2(cbs)
    def subSlice(c: String, mi: Int) =
      s"list_slice($c, ${mi * dsub + 1}, ${(mi + 1) * dsub})"
    val codeExprs = (0 until m).map { mi =>
      val ds = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"(${cn2(mi)(ci)} - 2.0*list_inner_product(${subSlice("nv", mi)}, $cl::DOUBLE[]))"
      }.mkString("[", ", ", "]")
      s"list_position($ds, list_min($ds)) - 1 AS c$mi"
    }.mkString(",\n                ")
    val adcExpr = (0 until m).map { mi =>
      val lut = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"list_inner_product(${subSlice("qn", mi)}, $cl::DOUBLE[])"
      }.mkString("[", ", ", "]")
      s"($lut[c$mi + 1])"
    }.mkString(" + ")
    s"""${graft.queries.ChunkerSql.walkCte(
          "SELECT doc_id AS key, text FROM documents", Q87ChunkSize, Q87ChunkOverlap)},
       e AS (
         SELECT key AS doc_id, idx, ${IngestCatalog.devEmbedSql("chunk")} AS v
         FROM chunks
       ), n AS (
         SELECT doc_id, idx, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), q AS (
         SELECT qv, list_transform(qv, x -> x * (CASE WHEN list_inner_product(qv, qv) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(qv, qv)) END)) AS qn
         FROM (SELECT ${IngestCatalog.devEmbedSql(s"'$Q87QText'")} AS qv)
       ), c AS (
         SELECT doc_id, idx, v, $codeExprs
         FROM n
       ), adc AS (
         SELECT c.doc_id, c.idx, c.v, $adcExpr AS adc FROM c, q
       ), cand AS (
         SELECT doc_id, idx, v FROM adc ORDER BY adc DESC, doc_id, idx LIMIT 50
       ), hits AS (
         SELECT cand.doc_id, cand.idx, list_cosine_similarity(cand.v, q.qv) AS s
         FROM cand, q ORDER BY s DESC, cand.doc_id, cand.idx LIMIT 10
       )
       SELECT doc_id, idx, floor(s * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits ORDER BY score DESC, doc_id, idx"""
  }

  // -------------------------------------------------------------------------
  // q92: corpus datasheet — the "data card" a corpus release ships
  // (Datasheets for Datasets, Gebru et al. 2021): doc / token / char
  // counts and per-doc token stats at EVERY (lang × source) grouping
  // level in one ROLLUP pass. The 100 TB shape: a single scan feeds one
  // hash aggregation whose grouping-sets expansion happens BEFORE the
  // partial agg, so the shuffle carries only |langs|·|sources|-bounded
  // partial rows — the same plan at any scale. GROUPING() labels the
  // subtotal rows, which stays correct even if a dimension value is NULL.
  // -------------------------------------------------------------------------

  val q92Datasheet: Q = (s, d) => {
    val base = docsWide(s, d).select(
      col("lang"), col("source"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"),
      col("n_chars"))
    base.rollup(col("lang"), col("source"))
      .agg(grouping(col("lang")).as("_gl"), grouping(col("source")).as("_gs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        rnd(avg(col("n_tok")), 4).as("avg_doc_tokens"),
        max(col("n_tok")).as("max_doc_tokens"))
      .select(
        when(col("_gl") === 1, lit("ALL")).otherwise(col("lang")).as("lang"),
        when(col("_gs") === 1, lit("ALL")).otherwise(col("source")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"),
        col("avg_doc_tokens"), col("max_doc_tokens"))
      .orderBy(col("lang"), col("source"))
  }

  private val q92Sql =
    """WITH base AS (
         SELECT lang, source,
                len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS n_tok,
                n_chars
         FROM documents
       )
       SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
              CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
              COUNT(*) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
              CAST(SUM(n_chars) AS BIGINT) AS n_chars,
              floor(AVG(n_tok) * 10000 + 0.5) / 10000.0 AS avg_doc_tokens,
              CAST(MAX(n_tok) AS BIGINT) AS max_doc_tokens
       FROM base
       GROUP BY ROLLUP(lang, source)
       ORDER BY lang, source"""

  // -------------------------------------------------------------------------
  // q93: FUZZY benchmark decontamination — the MinHash complement to
  // q57's exact 8-gram overlap: the benchmark here is paraphrase-shaped
  // (mid-document extracts with an appended suffix — most shingles
  // shared, none of the edges), which exact matching under-reports but
  // banded MinHash still catches. Benchmark keys broadcast (a benchmark
  // suite is MBs against a 100 TB corpus); the corpus side is one scan.
  // Same portable hash family as q19, so DuckDB replays banding,
  // candidates, and Jaccard verification bit-for-bit.
  // -------------------------------------------------------------------------

  val q93FuzzyDecontam: Q = (s, d) => {
    val docs = docsWide(s, d)
    val bench = docs.filter(col("doc_id") >= 5 && col("doc_id") < 15)
      .select(col("doc_id"),
        concat(substring(col("text"), 21, 300), lit(" held out eval")).as("text"))
    Dedup.fuzzyDecontaminate(docs, bench, "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.3)
      .orderBy(col("doc_id"))
  }

  private val q93Sql = {
    import graft.functions.BandMinhash
    val numHashes = 32
    val bands = 8
    val rpb = numHashes / bands
    val minCols = (0 until numHashes)
      .map(k => s"min(${BandMinhash.sqlLcg(k, "x")}) AS m$k")
      .mkString(",\n           ")
    val bandCols = (0 until bands).map { b =>
      val acc = (0 until rpb).foldLeft(BandMinhash.FoldSeed.toString)(
        (a, r) => BandMinhash.sqlMix(a, s"m${b * rpb + r}"))
      s"$acc AS bh$b"
    }.mkString(",\n           ")
    val anyBand = (0 until bands).map(b => s"t.bh$b = b.bh$b").mkString(" OR ")
    s"""WITH words AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
       ), sh AS (
         SELECT DISTINCT doc_id, shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), bwords AS (
         SELECT doc_id, string_split(trim(substr(text, 21, 300) || ' held out eval'), ' ') AS w
         FROM documents WHERE doc_id >= 5 AND doc_id < 15
       ), bsh AS (
         SELECT DISTINCT doc_id, shingle
         FROM bwords, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), h AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM sh
       ), hb AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM bsh
       ), mins AS (
         SELECT doc_id,
           $minCols
         FROM h GROUP BY doc_id
       ), minsb AS (
         SELECT doc_id,
           $minCols
         FROM hb GROUP BY doc_id
       ), bnd AS (
         SELECT doc_id,
           $bandCols
         FROM mins
       ), bndb AS (
         SELECT doc_id,
           $bandCols
         FROM minsb
       ), cand AS (
         SELECT t.doc_id AS t_id, b.doc_id AS bench_id
         FROM bnd t JOIN bndb b ON ($anyBand)
       ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       sizesb AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
       inter AS (
         SELECT c.t_id, c.bench_id, count(*) AS inter
         FROM cand c
         JOIN sh st ON st.doc_id = c.t_id
         JOIN bsh sb ON sb.doc_id = c.bench_id AND sb.shingle = st.shingle
         GROUP BY c.t_id, c.bench_id
       ), jac AS (
         SELECT i.t_id, i.bench_id,
                CAST(i.inter AS DOUBLE) / (st.n + sb.n - i.inter) AS j
         FROM inter i
         JOIN sizes st ON st.doc_id = i.t_id
         JOIN sizesb sb ON sb.doc_id = i.bench_id
         WHERE CAST(i.inter AS DOUBLE) / (st.n + sb.n - i.inter) >= 0.3
       )
       SELECT t_id AS doc_id, count(*) AS n_bench_hits,
              floor(max(j) * 1000000 + 0.5) / 1000000.0 AS max_jaccard
       FROM jac GROUP BY t_id ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q94: token-balanced training shards — q86 assigns shards by id hash
  // (document counts balance; token totals drift with the length mix);
  // this dealing stratifies by log2 size class, sub-splits each class by
  // a portable hash so NO rank window sees an unbounded partition, and
  // deals each stratum snake-wise across shards. Deterministic in (ids,
  // token counts) alone, so DuckDB replays every assignment.
  // -------------------------------------------------------------------------

  val q94BalancedShards: Q = (s, d) => {
    val docs = docsWide(s, d).select(col("doc_id"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.TrainPrep.balancedShards(docs, "doc_id", "n_tokens",
        nShards = 8, subSplits = 4)
      .select(col("doc_id"), col("n_tokens"), col("size_class"),
        col("stratum"), col("shard"))
      .orderBy(col("doc_id"))
  }

  private val q94Sql =
    """WITH t AS (
         SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
                  AS BIGINT) AS n_tokens
         FROM documents
       ), sized AS (
         SELECT doc_id, n_tokens,
                CAST(floor(log2(greatest(n_tokens, 1))) AS BIGINT) AS size_class,
                CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4
                  AS stratum
         FROM t
       ), ranked AS (
         SELECT doc_id, n_tokens, size_class, stratum,
                ROW_NUMBER() OVER (PARTITION BY size_class, stratum
                                   ORDER BY n_tokens DESC, doc_id) - 1 AS r,
                CAST('0x' || substr(sha256(CAST(size_class AS VARCHAR) || '#' ||
                                           CAST(stratum AS VARCHAR)), 1, 15) AS BIGINT) % 8
                  AS start
         FROM sized
       )
       SELECT doc_id, n_tokens, size_class, stratum,
              (start + CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END) % 8
                AS shard
       FROM ranked ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q95: cluster-balanced sampling — cap each embedding cluster at a
  // quota so over-represented topics can't dominate a training mix (the
  // curation sibling of q82's SemDeDup: same persisted IVF cells, same
  // centroid literals in the oracle). Within-cell order is the portable
  // id hash (re-runs, partitioning and engines agree); the rank window
  // partitions by cell, so no partition exceeds N/k — never a global
  // sort. At 100 TB the cells are the at-rest partition layout, so the
  // whole query is per-partition work plus nothing.
  // -------------------------------------------------------------------------

  private val ClusterQuota = 20

  val q95ClusterBalance: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val store = ivfIndex(s, d)
    val w = Window.partitionBy(col("cell"))
      .orderBy(TextAnalytics.hash60(col("vec_id").cast("string")), col("vec_id"))
    store.vectors.select(col("vec_id"), col("cell"))
      .withColumn("cell_rank", (row_number().over(w) - 1).cast("int"))
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("cell_rank"), (col("cell_rank") < ClusterQuota).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Cell assignment replayed from the stored centroid literals (the
    * q27/q82 machinery), then the per-cell hash-rank quota in SQL.
    */
  private def q95Sql(cs: Array[Array[Double]]): String = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    val dExprs = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${cn2(i)} - 2.0*list_inner_product(nv, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    s"""WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         WHERE vec_id <> 0
       ), n AS (
         SELECT vec_id,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), a AS (
         SELECT vec_id, list_position($dExprs, list_min($dExprs)) - 1 AS cell
         FROM n
       ), r AS (
         SELECT vec_id, cell,
                ROW_NUMBER() OVER (PARTITION BY cell ORDER BY
                  CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                  vec_id) - 1 AS cell_rank
         FROM a
       )
       SELECT vec_id, CAST(cell AS INT) AS cell, CAST(cell_rank AS INT) AS cell_rank,
              cell_rank < $ClusterQuota AS keep
       FROM r ORDER BY vec_id"""
  }

  // -------------------------------------------------------------------------
  // q96: INCREMENTAL near-dup — the MinHash analog of q44's daily-batch
  // shape, against the persisted BandStore: the corpus is fingerprinted
  // once at ingest; the batch (¼ light edits of corpus docs → near-dups,
  // ¾ word-reversed → genuinely new) fingerprints only itself, prunes
  // the store to its collision buckets, and exactly verifies candidates.
  // The store is invisible to the oracle — it's a materialization of the
  // corpus bands, which DuckDB recomputes from the same portable family.
  // -------------------------------------------------------------------------

  val q96IncNearDup: Q = (s, d) => {
    val docs = docsWide(s, d)
    val store = graft.sources.BandStore.ensure(s, docs, "doc_id", "text", d)
    // r17 OPT note: measured a localCheckpoint on this batch (its two probe
    // consumers re-run the word-reversal transform) — LOST at sf0.1
    // (3.25 s vs 2.14 s warm min): materializing 5,000 full texts costs
    // more than recomputing the codegen'd transform. q127's dump barrier
    // wins only because FIVE consumers re-ran it. Left uncheckpointed.
    val batch = docs.select((col("doc_id") + 500000).as("doc_id"),
      when(pmod(col("doc_id"), lit(4)) === 0, concat(col("text"), lit(" v2")))
        .otherwise(array_join(reverse(split(trim(col("text")), " ")), " "))
        .as("text"))
    Dedup.incrementalNearDuplicates(batch, docs, store, "doc_id", "text",
        threshold = 0.5)
      .orderBy(col("b_id"), col("c_id"))
  }

  private val q96Sql = {
    import graft.functions.BandMinhash
    val numHashes = 32
    val bands = 8
    val rpb = numHashes / bands
    val minCols = (0 until numHashes)
      .map(k => s"min(${BandMinhash.sqlLcg(k, "x")}) AS m$k")
      .mkString(",\n           ")
    val bandCols = (0 until bands).map { b =>
      val acc = (0 until rpb).foldLeft(BandMinhash.FoldSeed.toString)(
        (a, r) => BandMinhash.sqlMix(a, s"m${b * rpb + r}"))
      s"$acc AS bh$b"
    }.mkString(",\n           ")
    val anyBand = (0 until bands).map(b => s"p.bh$b = c.bh$b").mkString(" OR ")
    s"""WITH cwords AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
       ), csh AS (
         SELECT DISTINCT doc_id, shingle
         FROM cwords, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), batch AS (
         SELECT doc_id + 500000 AS doc_id,
                CASE WHEN doc_id % 4 = 0 THEN text || ' v2'
                     ELSE array_to_string(list_reverse(string_split(trim(text), ' ')), ' ')
                END AS text
         FROM documents
       ), bwords AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM batch
       ), bsh AS (
         SELECT DISTINCT doc_id, shingle
         FROM bwords, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), chh AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM csh
       ), bhh AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM bsh
       ), cmins AS (
         SELECT doc_id,
           $minCols
         FROM chh GROUP BY doc_id
       ), bmins AS (
         SELECT doc_id,
           $minCols
         FROM bhh GROUP BY doc_id
       ), cbnd AS (
         SELECT doc_id,
           $bandCols
         FROM cmins
       ), bbnd AS (
         SELECT doc_id,
           $bandCols
         FROM bmins
       ), cand AS (
         SELECT p.doc_id AS b_id, c.doc_id AS c_id
         FROM bbnd p JOIN cbnd c ON p.doc_id <> c.doc_id AND ($anyBand)
       ), bsizes AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
       csizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
       inter AS (
         SELECT x.b_id, x.c_id, count(*) AS inter
         FROM cand x
         JOIN bsh sb ON sb.doc_id = x.b_id
         JOIN csh sc ON sc.doc_id = x.c_id AND sc.shingle = sb.shingle
         GROUP BY x.b_id, x.c_id
       )
       SELECT i.b_id, i.c_id, CAST(i.inter AS BIGINT) AS inter,
              floor((CAST(i.inter AS DOUBLE) / (sb.n + sc.n - i.inter)) * 1000000 + 0.5)
                / 1000000.0 AS jaccard
       FROM inter i
       JOIN bsizes sb ON sb.doc_id = i.b_id
       JOIN csizes sc ON sc.doc_id = i.c_id
       WHERE CAST(i.inter AS DOUBLE) / (sb.n + sc.n - i.inter) >= 0.5
       ORDER BY b_id, c_id"""
  }

  // -------------------------------------------------------------------------
  // q98: the curation pipeline END-TO-END — the composed deliverable a
  // pretraining run ships, as ONE lineage: (1) the rule-quality gate
  // (q22/q67's silver arithmetic), (2) near-dup canonicalization (q19
  // banding → q75 pointer-jump CC — only cluster survivors), (3) exact
  // 8-gram decontamination against the q57 benchmark, (4) the portable
  // hash shard for what survives. Gates are reported as independent
  // flags (kept = all three) so the oracle composes the already-proven
  // replay fragments verbatim — no new cross-engine surface.
  // -------------------------------------------------------------------------

  /** The exact-8-gram decontamination flag frame `(doc_id, _dirty)` of
    * q98's stage (3): corpus docs sharing any word-8-gram with the
    * doc-25..35 benchmark extract.
    */
  private def q98Contaminated(docs: DataFrame): DataFrame = {
    val bench = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
      .select(explode(graft.operators.WordShingles.wordShingles(
        substring(col("text"), 21, 120), 8)).as("shingle"))
      .distinct()
    docs
      .select(col("doc_id"),
        explode(graft.operators.WordShingles.wordShingles(col("text"), 8)).as("shingle"))
      .join(broadcast(bench), Seq("shingle"))
      .select(col("doc_id")).distinct()
      .withColumn("_dirty", lit(true))
  }

  /** q98's flag assembly over pluggable gate lineages: `clusters` (the
    * near-dup label frame, `(doc_id, is_canonical)`-shaped) and
    * `contaminated` (`(doc_id, _dirty)`) are parameters so the composed
    * recipe (q99) can serve them from the persisted ClusterStore / the
    * shared positional-hash basis while remaining value-identical to the
    * from-scratch component queries (QueriesSpec's q99 agreement test
    * pins that).
    */
  private def q98Core(docs: DataFrame, clusters: DataFrame,
      contaminated: DataFrame): DataFrame = {
    // (1) quality gate — q67's silver-label rule, guarded for empty docs
    val quality = docs
      .withColumn("toks", TextAnalytics.tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .withColumn("q_ok", when(col("n") === 0, lit(false)).otherwise(
        lit(0.2) * least(col("n").cast("double") / 100.0, lit(1.0)) +
          lit(0.5) * (TextAnalytics.wordListHits(col("toks"), TextAnalytics.EnStopwords)
            .cast("double") / col("n")) +
          lit(0.3) * (lit(1.0) - least(
            abs(TextAnalytics.totalTokenChars(col("toks")).cast("double") / col("n") - 5.0)
              / 10.0, lit(1.0))) >= QcTau))
      .select(col("doc_id"), col("q_ok"))
    // (2) near-dup canonicalization — q85's survivor flag, from the
    // caller's label lineage (from-scratch for the component queries,
    // the persisted ClusterStore for the composed recipes)
    val cl = clusters.select(col("doc_id"), col("is_canonical"))
    docs.select(col("doc_id"))
      .join(quality, Seq("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("is_canonical", coalesce(col("is_canonical"), lit(true)))
      .withColumn("clean", col("_dirty").isNull)
      .withColumn("kept", col("q_ok") && col("is_canonical") && col("clean"))
      .withColumn("shard", when(col("kept"),
          pmod(TextAnalytics.hash60(col("doc_id").cast("string")), lit(ShardCount.toLong)))
        .otherwise(lit(null).cast("long")))
      .select(col("doc_id"), col("q_ok"), col("is_canonical"), col("clean"),
        col("kept"), col("shard"))
      .orderBy(col("doc_id"))
  }

  val q98CurationPipeline: Q = (s, d) => {
    val docs = docsWide(s, d)
    // from-scratch labels: q98 is the COMPONENT query the store-served
    // recipes (q99) are spec-pinned against
    q98Core(docs,
      Dedup.duplicateClusters(
        Dedup.minhashNearDuplicates(docs, "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5), "a_id", "b_id")
        .select(col("node").as("doc_id"), col("is_canonical")),
      q98Contaminated(docs))
  }

  private val q98Sql = {
    val g8 = (0 until 8).map(k => s"w[i+$k]").mkString("||' '||")
    val stop = TextAnalytics.EnStopwords.map(x => s"'$x'").mkString("[", ",", "]")
    s"""WITH RECURSIVE pairs AS (
         SELECT a_id, b_id FROM (${q19Sql.replace("\n", "\n  ")}) p
       ), edges AS (
         SELECT a_id AS x, b_id AS y FROM pairs
         UNION
         SELECT b_id, a_id FROM pairs
       ), nodes AS (
         SELECT DISTINCT x FROM edges
       ), reach(x, r) AS (
         SELECT x, x FROM nodes
         UNION
         SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.x
       ), cl AS (
         SELECT x AS doc_id, (x = min(r)) AS is_canonical
         FROM reach GROUP BY x
       ), dt AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
         FROM documents
       ), q AS (
         SELECT doc_id,
                CASE WHEN len(toks) = 0 THEN FALSE ELSE
                  (0.2 * least(CAST(len(toks) AS DOUBLE)/100.0, 1.0)
                   + 0.5 * (CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS DOUBLE)
                            / len(toks))
                   + 0.3 * (1.0 - least(abs(CAST(list_aggregate(list_transform(toks,
                              x -> length(x)), 'sum') AS DOUBLE)/len(toks) - 5.0)/10.0, 1.0)))
                  >= $QcTau END AS q_ok
         FROM dt
       ), w8 AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
       ), cs8 AS (
         SELECT DISTINCT doc_id, shingle
         FROM w8, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> $g8)) AS u(shingle)
       ), bw AS (
         SELECT string_split(trim(substr(text, 21, 120)), ' ') AS w
         FROM documents WHERE doc_id >= 25 AND doc_id < 35
       ), bs AS (
         SELECT DISTINCT shingle
         FROM bw, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> $g8)) AS u(shingle)
       ), cont AS (
         SELECT DISTINCT doc_id FROM cs8 JOIN bs USING (shingle)
       ), flags AS (
         SELECT d.doc_id,
                q.q_ok,
                COALESCE(cl.is_canonical, TRUE) AS is_canonical,
                (cont.doc_id IS NULL) AS clean
         FROM documents d
         JOIN q USING (doc_id)
         LEFT JOIN cl USING (doc_id)
         LEFT JOIN cont USING (doc_id)
       )
       SELECT doc_id, q_ok, is_canonical, clean,
              (q_ok AND is_canonical AND clean) AS kept,
              CASE WHEN q_ok AND is_canonical AND clean
                THEN CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % $ShardCount
                ELSE NULL END AS shard
       FROM flags ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q99: the COMPLETE curation recipe (the FineWeb-style end state) — q98's
  // three gates PLUS fuzzy decontamination (q93's banded MinHash vs the
  // paraphrase-shaped benchmark) decide the kept set; the kept docs then
  // go through duplicated-span REMOVAL (q88's core on the RAW text), and
  // the deliverable is the q92-shape datasheet of the kept, span-cleaned
  // corpus: (lang × source) rollup of doc/token/char counts computed AFTER
  // cleaning. Every stage is a proven fragment (q98/q93/q88/q92), composed
  // verbatim — flags stay consistent with the component queries by
  // construction (q99 calls the same lineages), and the spec asserts it.
  // 100 TB: all stages are linear scans + bounded joins (benchmark side
  // broadcast, span frequency map-side combined, rollup expands before the
  // partial agg) — composing them adds no new shuffle class. The
  // canonicalization gate reads the persisted ClusterStore (labels
  // materialized once at publish time from the band store), and the
  // fuzzy gate probes the SAME persisted BandStore (the q96/q97
  // incremental path): the corpus is banded exactly once at ingest, and
  // only benchmark-colliding docs are ever re-shingled. The positional 8-gram hash
  // basis is ONE lineage shared by the span-removal and exact-
  // decontamination stages; it is deliberately NOT checkpointed — at
  // this scale the per-consumer recompute (a scan + codegen'd hashing,
  // no shuffle) costs less than a materialization barrier (measured:
  // 2.2s vs 3.2s at sf0.1), and at deployment scale the basis would
  // persist as an ingest-time artifact beside the band store rather
  // than be checkpointed per query. Value-identity with the from-
  // scratch component queries (q98/q93) is pinned by QueriesSpec's q99
  // agreement test and the driver's oracle row.
  // -------------------------------------------------------------------------

  val q99FullRecipe: Q = (s, d) => {
    val docs = docsWide(s, d)
    val store = graft.sources.BandStore.ensure(s, docs, "doc_id", "text", d)
    val docsW = docs.select(col("doc_id"), trim(col("text")).as("body"))
      .withColumn("w", split(col("body"), " "))
    // r18 re-measured (r17 verdict #5, "the trade may have flipped now
    // that cluster labels are store-served"): localCheckpoint(spH) is a
    // WASH at bench scale — 1.92 s → 1.90 s QueryTime min-of-6 — and the
    // basis is corpus×words-sized, so materializing it is exactly the §5
    // full-corpus executor spill q127 got flagged for. Keep the recompute.
    val spH = positionalShingleHashes(docsW)
    // canonicalization labels from the persisted ClusterStore (built from
    // this same band store at publish time) — the recipe no longer
    // re-runs the store self-join + verify per serve
    val clusters = graft.sources.ClusterStore.ensure(s, docs, "doc_id",
      "text", d, store)
    val benchExact = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
      .select(col("doc_id"), trim(substring(col("text"), 21, 120)).as("body"))
      .withColumn("w", split(col("body"), " "))
    val benchExactH = positionalShingleHashes(benchExact)
      .select(col("h1"), col("h2")).distinct()
    val contaminated = spH.join(broadcast(benchExactH), Seq("h1", "h2"))
      .select(col("doc_id")).distinct().withColumn("_dirty", lit(true))
    val flags = q98Core(docs, clusters, contaminated)
      .select(col("doc_id"), col("q_ok"), col("is_canonical"), col("clean"))
    val benchFuzzy = docs.filter(col("doc_id") >= 5 && col("doc_id") < 15)
      .select(col("doc_id"),
        concat(substring(col("text"), 21, 300), lit(" held out eval")).as("text"))
    val fuzzyDirty = Dedup.storedFuzzyDecontaminate(docs, benchFuzzy, store,
        "doc_id", "text", threshold = 0.3)
      .withColumn("_fdirty", lit(true))
    val cleaned = removeDupSpansFrom(docsW, spH)
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(flags, Seq("doc_id"))
      .join(fuzzyDirty, Seq("doc_id"), "left")
      .filter(col("q_ok") && col("is_canonical") && col("clean") &&
        col("_fdirty").isNull)
      .join(cleaned, Seq("doc_id"))
      .select(col("lang"), col("source"),
        (col("n_words") - col("n_removed")).as("n_tok"),
        length(col("text_clean")).cast("long").as("n_chr"),
        col("n_spans_cut"))
      .rollup(col("lang"), col("source"))
      .agg(grouping(col("lang")).as("_gl"), grouping(col("source")).as("_gs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chr")).as("n_chars"),
        rnd(avg(col("n_tok")), 4).as("avg_doc_tokens"),
        max(col("n_tok")).as("max_doc_tokens"),
        sum(col("n_spans_cut")).as("n_spans_cut"))
      .select(
        when(col("_gl") === 1, lit("ALL")).otherwise(col("lang")).as("lang"),
        when(col("_gs") === 1, lit("ALL")).otherwise(col("source")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"),
        col("avg_doc_tokens"), col("max_doc_tokens"), col("n_spans_cut"))
      .orderBy(col("lang"), col("source"))
  }

  /** Oracle: the proven q98/q93 replays as subqueries, the raw-text span
    * removal as q88's CTE chain minus the synthetic tails, one rollup.
    */
  private def q99Sql: String = {
    val g8 = (0 until 8).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH f98 AS (
         SELECT doc_id, q_ok, is_canonical, clean
         FROM (${q98Sql.replace("\n", "\n  ")}) x
       ), fdirty AS (
         SELECT doc_id FROM (${q93Sql.replace("\n", "\n  ")}) y
       ), words AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
       ), sp AS (
         SELECT doc_id, i, $g8 AS shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> i)) AS u(i)
         WHERE i + 7 <= len(w)
       ), freq AS (
         SELECT shingle, min(doc_id) AS keeper
         FROM (SELECT DISTINCT doc_id, shingle FROM sp)
         GROUP BY shingle HAVING count(*) >= 2
       ), hits AS (
         SELECT sp.doc_id, sp.i
         FROM sp JOIN freq USING (shingle)
         WHERE sp.doc_id <> freq.keeper
       ), cover AS (
         SELECT DISTINCT doc_id, i + k AS wi
         FROM hits, unnest(list_transform(range(0, 8), k -> k)) AS v(k)
       ), wp AS (
         SELECT doc_id, i AS wi, w[i] AS word
         FROM words, unnest(list_transform(range(1, len(w) + 1), i -> i)) AS u(i)
       ), surv AS (
         SELECT wp.doc_id, wp.wi, wp.word
         FROM wp LEFT JOIN cover c ON wp.doc_id = c.doc_id AND wp.wi = c.wi
         WHERE c.wi IS NULL
       ), cleaned AS (
         SELECT doc_id, count(*) AS n_kept,
                string_agg(word, ' ' ORDER BY wi) AS text_clean
         FROM surv GROUP BY doc_id
       ), starts AS (
         SELECT doc_id, count(*) AS n_spans_cut
         FROM hits h
         WHERE NOT EXISTS (SELECT 1 FROM hits h2
                           WHERE h2.doc_id = h.doc_id
                             AND h2.i BETWEEN h.i - 7 AND h.i - 1)
         GROUP BY doc_id
       ), kept AS (
         SELECT d.doc_id, d.lang, d.source,
                COALESCE(c.n_kept, 0) AS n_tok,
                length(COALESCE(c.text_clean, '')) AS n_chr,
                COALESCE(st.n_spans_cut, 0) AS nsc
         FROM documents d
         JOIN f98 USING (doc_id)
         LEFT JOIN fdirty fd USING (doc_id)
         LEFT JOIN cleaned c ON d.doc_id = c.doc_id
         LEFT JOIN starts st ON d.doc_id = st.doc_id
         WHERE f98.q_ok AND f98.is_canonical AND f98.clean AND fd.doc_id IS NULL
       )
       SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
              CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
              COUNT(*) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
              CAST(SUM(n_chr) AS BIGINT) AS n_chars,
              floor(AVG(n_tok) * 10000 + 0.5) / 10000.0 AS avg_doc_tokens,
              CAST(MAX(n_tok) AS BIGINT) AS max_doc_tokens,
              CAST(SUM(nsc) AS BIGINT) AS n_spans_cut
       FROM kept
       GROUP BY ROLLUP(lang, source)
       ORDER BY lang, source"""
  }

  // -------------------------------------------------------------------------
  // q100: the multimodal column pipeline as an ORACLE row — media rows
  // (binary content + typed metadata) through the REAL partition-batched
  // decode contract (Multimodal.decode: mapPartitions accumulating
  // model-server-sized batches, no shuffle, bytes never leave their
  // partition), then the declarative resize + frame-sampling plan. The
  // decode STUB is sha256-derived, so DuckDB replays every derived
  // dimension/duration/caption bit-for-bit — upgrading the multimodal
  // component from spec-only to hash-checked. Swapping the stub for a
  // real model call changes none of the plumbing this row pins.
  // -------------------------------------------------------------------------

  val q100MediaDecode: Q = (s, d) => {
    import s.implicits._
    val exts = array(lit("png"), lit("mp3"), lit("mp4"))
    val kinds = array(lit("image"), lit("audio"), lit("video"))
    val slot = (pmod(col("doc_id"), lit(3)) + 1).cast("int")
    val media = docsWide(s, d)
      .select(
        sha2(encode(col("text"), "UTF-8"), 256).as("id"),
        element_at(kinds, slot).as("kind"),
        concat(lit("media/"), col("doc_id"), lit("."), element_at(exts, slot)).as("path"),
        encode(col("text"), "UTF-8").as("content"))
      .as[graft.operators.Multimodal.MediaRow]
    val dec = graft.operators.Multimodal.decode(media).toDF()
    // Frames join on PATH, not the content-hash id: exact-duplicate texts
    // share a sha256 id, and an id-keyed groupBy+join would cross-assign /
    // double n_frames across the colliding rows (real corpora have exact
    // dups; sf0.1 has 8 such pairs). The path is unique per media row —
    // the same key a real frame extractor would carry.
    val frames = graft.operators.Multimodal.sampleFrames(dec, 500L)
      .groupBy(col("path")).agg(count(lit(1)).as("n_frames"))
    graft.operators.Multimodal.resizeTo(dec, 256)
      .join(frames, Seq("path"), "left")
      .select(
        regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
        col("kind"), col("width"), col("height"),
        col("durationMs").as("duration_ms"),
        col("out_width"), col("out_height"),
        coalesce(col("n_frames"), lit(0L)).as("n_frames"),
        col("caption"))
      .orderBy(col("doc_id"))
  }

  private val q100Sql =
    """WITH m AS (
         SELECT doc_id, sha256(text) AS h,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                'media/' || doc_id || '.' ||
                  (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
                        WHEN 1 THEN 'mp3' ELSE 'mp4' END) AS path
         FROM documents
       ), dd AS (
         SELECT doc_id, kind, path,
                64 + CAST('0x' || substr(h, 1, 2) AS INT) * 8 AS width,
                64 + CAST('0x' || substr(h, 3, 2) AS INT) * 8 AS height,
                CAST(CASE WHEN kind IN ('audio','video')
                     THEN (CAST('0x' || substr(h, 5, 2) AS BIGINT) + 1) * 1000
                     ELSE 0 END AS BIGINT) AS duration_ms,
                kind || ' stub: ' || path || ' sig=' || substr(h, 1, 8) AS caption
         FROM m
       ), r AS (
         SELECT *, least(CAST(1.0 AS DOUBLE),
                         256 / CAST(greatest(width, height) AS DOUBLE)) AS scale
         FROM dd
       )
       SELECT doc_id, kind, width, height, duration_ms,
              CAST(trunc(width * scale) AS INT) AS out_width,
              CAST(trunc(height * scale) AS INT) AS out_height,
              CAST(CASE WHEN duration_ms > 0 THEN duration_ms // 500 ELSE 0 END
                AS BIGINT) AS n_frames,
              caption
       FROM r ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q102: URL/domain-level curation — the web-corpus stage the rest of the
  // catalog assumed away: parse the domain out of each document's URL,
  // drop blocklisted domains (exact list ∪ a pattern rule, the C4/
  // RefinedWeb shape), and cap docs-per-domain so no single host dominates
  // the training mix (RefinedWeb §3.1 keeps per-domain shares bounded).
  // The corpus tables carry no URL column, so (like q88's boilerplate
  // tails) the URL is synthesized deterministically from (doc_id, source)
  // and the SQL oracle replays the same construction. 100 TB shape: the
  // blocklist is a broadcast join (thousands of domains, never a shuffle);
  // the per-domain cap needs the EXACT admission rank of every doc (kept
  // or rejected — the output contract), and a plain row_number window
  // keyed by domain sends a mega-domain (half the crawl on one CDN) to
  // ONE task. r11 ships Curation.saltedExactRank as the default: ordered
  // range-buckets over the stable doc_id split the hot domain's window
  // ~salts ways, a bounded (≤ salts rows/domain) running-sum frame turns
  // sub-ranks into exact ranks, and the join-back carries the bucket in
  // its keys — value-identical to the plain window (CurationSpec pins
  // it; PlanSpec asserts the bucketed shape), skew-safe without AQE.
  // -------------------------------------------------------------------------

  private val DomainPool = Seq("news.example.com", "blog.example.org",
    "cdn.assets.example", "win.spam-casino.biz", "docs.example.io",
    "forum.example.net")
  private val DomainBlocklist = Seq("cdn.assets.example", "tracker.example.net")
  private val DomainCap = 60

  val q102DomainCuration: Q = (s, d) => {
    val domains = array(DomainPool.map(lit): _*)
    val block = s.createDataFrame(DomainBlocklist.map(Tuple1(_)))
      .toDF("bdomain")
    val withUrl = docsWide(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("url", concat(lit("https://"),
        element_at(domains, (pmod(col("doc_id"), lit(6)) + 1).cast("int")),
        lit("/"), col("source"), lit("/"), col("doc_id")))
      // parse the domain back OUT of the url (the real stage's first step);
      // the oracle replays a simpler https-only regex — value-identical on
      // these synthesized URLs (always https, lowercase, no port/userinfo)
      .withColumn("domain", graft.operators.Curation.urlDomain(col("url")))
    val flagged = withUrl
      .join(broadcast(block), col("domain") === col("bdomain"), "left")
      .withColumn("blocked",
        col("bdomain").isNotNull || col("domain").contains("casino"))
    graft.operators.Curation.saltedExactRank(
        flagged, "domain", "doc_id", rankCol = "dom_rank")
      .select(col("doc_id"), col("url"), col("domain"), col("blocked"),
        col("dom_rank"),
        (!col("blocked") && col("dom_rank") <= DomainCap).as("kept"))
      .orderBy(col("doc_id"))
  }

  private val q102Sql = {
    val pool = DomainPool.map(x => s"'$x'").mkString("[", ",", "]")
    val bl = DomainBlocklist.map(x => s"'$x'").mkString("(", ",", ")")
    s"""WITH u AS (
         SELECT doc_id,
                'https://' || ($pool)[CAST(doc_id % 6 AS INT) + 1] || '/' ||
                  source || '/' || doc_id AS url
         FROM documents
       ), p AS (
         SELECT doc_id, url,
                regexp_extract(url, '^https://([^/]+)/', 1) AS domain
         FROM u
       ), f AS (
         SELECT doc_id, url, domain,
                (domain IN $bl OR domain LIKE '%casino%') AS blocked,
                CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id)
                  AS BIGINT) AS dom_rank
         FROM p
       )
       SELECT doc_id, url, domain, blocked, dom_rank,
              (NOT blocked AND dom_rank <= $DomainCap) AS kept
       FROM f ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q106: PII anonymization — the release stage the published pipelines run
  // last (FineWeb §3.4 replaces emails and IP addresses before shipping the
  // corpus; reference scope: jsonify2ai ships raw chunk text, so this is a
  // training-data addition like q102). The corpus text carries no PII, so
  // (exactly like q88's boilerplate tails) deterministic PII fixtures are
  // appended from doc_id residues and the oracle replays the construction.
  // The fixtures pin the contract's sharp edges cross-engine: a valid IP
  // with a trailing sentence period, a zero-padded octet (001 — still
  // redacted), an INVALID octet (300 — must survive untouched, the \b
  // boundary proof), and an IP-shaped email local part (9.9.9.9@host —
  // email pass wins, IP pass sees nothing). 100 TB shape: see
  // Curation.redactPii — three codegen'd regex passes fused into the scan's
  // WholeStageCodegen span, zero exchanges before the presentation sort.
  // -------------------------------------------------------------------------

  private val PiiTailA =
    " contact alice.smith+news@mail.example.org or bob@sub.example.co.uk now"
  private val PiiTailB =
    " origin 203.0.113.47 relay 10.1.2.300 backup 192.168.001.5"
  private val PiiTailC =
    " forwarded by 9.9.9.9@relay.example.net from 172.16.254.1."

  val q106PiiRedact: Q = (s, d) => {
    val body = concat(col("text"),
      when(col("doc_id") % 4 === 0, lit(PiiTailA)).otherwise(lit("")),
      when(col("doc_id") % 6 === 0, lit(PiiTailB)).otherwise(lit("")),
      when(col("doc_id") % 9 === 0, lit(PiiTailC)).otherwise(lit("")))
    docsWide(s, d).select(col("doc_id"), body.as("body"))
      .withColumn("r", graft.operators.Curation.redactPii(col("body")))
      .select(col("doc_id"),
        col("r.n_emails").as("n_emails"), col("r.n_ips").as("n_ips"),
        (col("r.n_emails") + col("r.n_ips") > 0).as("has_pii"),
        col("r.text_clean").as("text_clean"))
      .orderBy(col("doc_id"))
  }

  private val q106Sql = {
    val er = graft.operators.Curation.PiiEmailRe
    val ir = graft.operators.Curation.PiiIpv4Re
    val et = graft.operators.Curation.PiiEmailToken
    val it = graft.operators.Curation.PiiIpToken
    s"""WITH b AS (
         SELECT doc_id,
                text || (CASE WHEN doc_id % 4 = 0 THEN '$PiiTailA' ELSE '' END)
                     || (CASE WHEN doc_id % 6 = 0 THEN '$PiiTailB' ELSE '' END)
                     || (CASE WHEN doc_id % 9 = 0 THEN '$PiiTailC' ELSE '' END)
                  AS body
         FROM documents
       ), e AS (
         SELECT doc_id,
                CAST(len(regexp_extract_all(body, '$er')) AS BIGINT)
                  AS n_emails,
                regexp_replace(body, '$er', '$et', 'g') AS body_e
         FROM b
       )
       SELECT doc_id, n_emails,
              CAST(len(regexp_extract_all(body_e, '$ir')) AS BIGINT) AS n_ips,
              (n_emails + len(regexp_extract_all(body_e, '$ir'))) > 0
                AS has_pii,
              regexp_replace(body_e, '$ir', '$it', 'g') AS text_clean
       FROM e ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q107: concat-and-chunk sequence packing — the GPT-pretraining default
  // (docs concatenated in a fixed order with boundaries IGNORED, the token
  // stream cut into fixed-length training sequences; contrast q43, which
  // packs WHOLE docs greedily within shards). The per-doc deliverable is
  // where each doc lands in the packed stream: its exclusive token offset,
  // the first/last sequence it touches, and whether it straddles a cut.
  // The scale shape is the interesting part: the offset is a GLOBAL prefix
  // sum, and the naive `sum().over(Window.orderBy(doc_id))` is a
  // single-task plan — Curation.saltedPrefixSum is the two-phase salted
  // form (range-bucket windows ~1/salts of the corpus each, a ≤ salts+2
  // row offset fold, broadcast join-back), value-identical and
  // spec-pinned. Tokenization is ws-split-v2 (the SEARCH/ANALYTICS
  // contract, q94's), so the oracle replays counts exactly.
  // -------------------------------------------------------------------------

  private val PackSeqLen = 512L

  val q107SequencePacking: Q = (s, d) => {
    val toks = docsWide(s, d).select(col("doc_id"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
    // pass the memoized id bounds so withRangeBuckets skips its eager
    // min/max probe over the token-count lineage on every construction —
    // the same per-construction probe q109's docIdBounds memo exists to
    // avoid, and it is min/max of the very column that memo caches
    val (mn, span) = docIdBounds(s, d)
    graft.operators.Curation.saltedPrefixSum(toks, "doc_id", "n_tok",
        outCol = "tok_offset", orderBounds = Some((mn, mn + span - 1)))
      // `div`, not floor(a / b): long/long division promotes to DOUBLE,
      // which silently drops low bits once the global token offset passes
      // 2^53 (~9e15 tokens — squarely the 100 TB regime this kernel is
      // for) and can land a doc one sequence off; integral div is exact
      // at any offset and matches the oracle's `//` semantics
      .withColumn("first_seq", expr(s"tok_offset div $PackSeqLen"))
      .withColumn("last_seq",
        when(col("n_tok") > 0,
          expr(s"(tok_offset + n_tok - 1) div $PackSeqLen")))
      .withColumn("n_seqs",
        when(col("n_tok") > 0, col("last_seq") - col("first_seq") + 1)
          .otherwise(lit(0L)))
      .withColumn("crosses",
        col("n_tok") > 0 && col("last_seq") > col("first_seq"))
      .orderBy(col("doc_id"))
  }

  private val q107Sql =
    s"""WITH t AS (
         SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), o AS (
         SELECT doc_id, n_tok,
                CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_offset
         FROM t
       )
       SELECT doc_id, n_tok, tok_offset,
              tok_offset // $PackSeqLen AS first_seq,
              CASE WHEN n_tok > 0
                   THEN (tok_offset + n_tok - 1) // $PackSeqLen END
                AS last_seq,
              CASE WHEN n_tok > 0
                   THEN (tok_offset + n_tok - 1) // $PackSeqLen
                        - tok_offset // $PackSeqLen + 1
                   ELSE 0 END AS n_seqs,
              (n_tok > 0 AND (tok_offset + n_tok - 1) // $PackSeqLen
                             > tok_offset // $PackSeqLen) AS crosses
       FROM o ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q108: leakage-safe train/val holdout — the split a pretraining corpus
  // actually needs: hash-bucketing DOCUMENT ids leaks, because two near-
  // duplicates of the same page routinely land on opposite sides and the
  // "held-out" loss is partially memorization (the contamination q57/q93
  // guard against for EXTERNAL benchmarks, happening inside your own
  // split). The fix is to key the holdout hash on the near-dup CLUSTER
  // (q85's canonical_id): every member of a cluster inherits its
  // canonical's side, so no near-dup pair can straddle by construction —
  // unclustered docs are their own canonical and behave exactly like an
  // id-keyed split. hash60 (q86's portable shard hash) keeps the
  // assignment engine/worker-independent and RNG-free. 100 TB: q85's
  // lineage + one narrow codegen'd projection — no new shuffle, no new
  // pass over text.
  // -------------------------------------------------------------------------

  private val ValHoldoutPct = 10L

  val q108LeakageSplit: Q = (s, d) =>
    q85DedupApply(s, d)
      .withColumn("split",
        when(pmod(TextAnalytics.hash60(col("canonical_id").cast("string")),
          lit(100L)) < ValHoldoutPct, lit("val")).otherwise(lit("train")))
      .orderBy(col("doc_id"))

  private val q108Sql =
    s"""SELECT doc_id, canonical_id, kept,
              CASE WHEN CAST(CAST('0x' ||
                       substr(sha256(CAST(canonical_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 100 AS BIGINT) < $ValHoldoutPct
                   THEN 'val' ELSE 'train' END AS split
       FROM (${q85Sql.replace("\n", "\n  ")}) q
       ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q109: token-budget corpus selection — rank the corpus by quality and
  // keep the best documents until a fixed token budget is spent
  // (FineWeb-Edu's selection shape: classifier score DESC, cut at the
  // target token count; greedy-include, so the one doc that crosses the
  // budget line ships). The ranking needs the EXCLUSIVE cumulative token
  // count of all strictly-better-ranked docs — a global prefix sum over
  // (quality DESC, doc_id), which is q107's saltedPrefixSum problem on a
  // non-id ordering with ties. The (score, doc_id) lexicographic order
  // packs EXACTLY into one long: q22's score is 4-decimal quantized, so
  // key = (10^4 - score·10^4)·span + (doc_id − min_id) — monotone, and
  // its bounds are ANALYTIC (0 ≤ key < (10^4+1)·span), so the prefix sum
  // needs no bounds probe over the text lineage; the only eager probe is
  // min/max doc_id — ONE narrow scan of the pruned int64 id column,
  // memoized per corpus dir for the JVM's lifetime so repeated
  // constructions (bench reruns, plan inspection) never rescan. (Spark
  // does NOT serve min/max from parquet footers unless
  // spark.sql.parquet.aggregatePushDown is enabled, which this library
  // doesn't assume of the host session — the scan cost is real, paid
  // once.) Fits while (10^4+1)·id_span < 2^63 — nine hundred trillion
  // ids. Score is q22's three-term heuristic verbatim (proven
  // oracle-portable), totalized: a ZERO-TOKEN doc's ratio terms are
  // null-on-division in BOTH engines, so the score is pinned to 0.0
  // explicitly — it ranks LAST (with its 0-token weight) instead of
  // riding the salted form's nulls-first sentinel bucket to the FRONT,
  // which would also silently diverge from the oracle's NULLS LAST.
  // -------------------------------------------------------------------------

  private val TokenBudget = 12050L
  private val QualityLevels = 10000L

  /** doc_id (min, span) per corpus dir — one probe per JVM, not per
    * construction (the r11 q88 count-gate lesson applied to q109).
    *
    * The memo key carries the documents table's [[GenStore.sourceStamp]],
    * not the path alone: a corpus dir rewritten in-process (regenerated
    * testdata, refreshed dropzone output) would otherwise serve a stale
    * span, making q109's packed order key non-monotone — doc_id − mn can
    * bleed into the adjacent quality level and silently mis-order the
    * selection, with the overflow `require` validating only the stale
    * span. The values are plain longs, so the map holds no Spark state.
    */
  private val idBoundsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Memoized (min_id, span) of the documents table — the one eager probe
    * the budget/packing kernels share: a narrow min/max over the pruned
    * int64 id column, paid once per (dir, stamp).
    */
  private def docIdBounds(s: SparkSession, d: String): (Long, Long) =
    idBoundsCache.computeIfAbsent(
      d + "\u0000" + GenStore.sourceStamp(new java.io.File(d, "documents.parquet")), { _ =>
      val b = Tables(s, d, "documents")
        .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long"))
        .head()
      (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
    })

  /** The shipped q109 at an arbitrary budget — the ONLY difference from
    * the catalog entry is the budget literal, so a spec can sweep budgets
    * (under the smallest doc, on/off the boundary edge, past the corpus
    * total) through the genuinely shipped lineage (r13 prescription #7).
    */
  /** (doc_id, q_score, n_tok): q22's three-term quality heuristic,
    * totalized with the zero-token pin — the shared scoring frame of the
    * budget selection (q109) and the train-prep recipe (q117).
    */
  private def scoredDocs(s: SparkSession, d: String): DataFrame =
    docsWide(s, d)
      .withColumn("toks", TextAnalytics.tokens(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("avg_raw",
        TextAnalytics.totalTokenChars(col("toks")).cast("double") / col("n_tok"))
      .withColumn("stop_raw",
        TextAnalytics.wordListHits(col("toks"), TextAnalytics.EnStopwords)
          .cast("double") / col("n_tok"))
      .withColumn("q_score",
        when(col("n_tok") === 0, lit(0.0)).otherwise(rnd(
          lit(0.2) * least(col("n_tok").cast("double") / 100.0, lit(1.0)) +
            lit(0.5) * col("stop_raw") +
            lit(0.3) * (lit(1.0) - least(abs(col("avg_raw") - 5.0) / 10.0, lit(1.0))),
          4)))
      .select(col("doc_id"), col("q_score"), col("n_tok"))

  private[graft] def q109BudgetSelectAt(budget: Long): Q = (s, d) => {
    val scored = scoredDocs(s, d)
    val (mn, span) = docIdBounds(s, d)
    // the packed key's headroom is checked, not assumed: past this span
    // the multiply would WRAP and silently mis-order the selection — fail
    // loud at construction instead (at 2 KB/doc this bound is ~1.8 EB of
    // corpus, ~200x the design target, but ids need not be dense)
    require(span <= Long.MaxValue / (QualityLevels + 1),
      s"doc_id span $span overflows the quality-packed order key; " +
        "re-key the corpus or densify ids before budget selection")
    val keyed = scored.withColumn("__ord",
      (lit(QualityLevels) -
        round(col("q_score") * QualityLevels.toDouble).cast("long")) * span
        + (col("doc_id") - mn))
    graft.operators.Curation.saltedPrefixSum(keyed, "__ord", "n_tok",
        outCol = "cum_before",
        orderBounds = Some((0L, (QualityLevels + 1) * span)))
      .withColumn("selected", col("cum_before") < budget)
      .select("doc_id", "q_score", "n_tok", "cum_before", "selected")
      .orderBy(col("doc_id"))
  }

  val q109BudgetSelect: Q = q109BudgetSelectAt(TokenBudget)

  /** The q22-shape quality-score replay as a reusable WITH-fragment
    * (CTEs w/m/q, ending in q(doc_id, n_tok, q_score)) — shared by q109's
    * budget selection and q126's quality-aware keeper.
    */
  private val qualityCteSql = {
    val arr = TextAnalytics.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""w AS (
         SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'),
                                          t -> t <> '') AS toks FROM documents
       ), m AS (
         SELECT doc_id, len(toks) AS n_tok_i,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
             / len(toks) AS avg_raw,
           CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS DOUBLE)
             / len(toks) AS stop_raw
         FROM w
       ), q AS (
         SELECT doc_id, CAST(n_tok_i AS BIGINT) AS n_tok,
           CASE WHEN n_tok_i = 0 THEN 0.0 ELSE
             floor((0.2 * least(CAST(n_tok_i AS DOUBLE) / 100.0, 1.0)
                 + 0.5 * stop_raw
                 + 0.3 * (1.0 - least(abs(avg_raw - 5.0) / 10.0, 1.0)))
               * $QualityLevels + 0.5) / $QualityLevels.0 END AS q_score
         FROM m
       )"""
  }

  private val q109Sql =
    s"""WITH $qualityCteSql, c AS (
         SELECT doc_id, q_score, n_tok,
           CAST(COALESCE(sum(n_tok) OVER (ORDER BY q_score DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS cum_before
         FROM q
       )
       SELECT doc_id, q_score, n_tok, cum_before,
              (cum_before < $TokenBudget) AS selected
       FROM c ORDER BY doc_id"""

  // -------------------------------------------------------------------------
  // q110: mixture diagnostics — per-source unigram Jensen–Shannon
  // divergence against the corpus distribution, the number a data-mixing
  // loop (DoReMi-style domain reweighting; FineWeb's per-dump QA) watches
  // to spot a source whose token distribution drifts from the blend.
  // JS(P_s‖Q) = ½KL(P_s‖M) + ½KL(Q‖M), M=(P_s+Q)/2, natural log; tokens
  // ABSENT from a source contribute exactly q·ln2 to the second term, so
  // the whole statistic folds over only the (source, token) pairs that
  // EXIST plus each source's covered corpus mass — no dense
  // vocab × sources matrix ever materializes. 100 TB shape: one token
  // explode (the only O(corpus-tokens) pass), two vocabulary-bounded
  // hash aggregations with map-side partials, broadcast joins for the
  // per-source/corpus totals, a 20-row deliverable; no window, no sort
  // beyond presentation. Cross-engine double policy: cross-row sums of
  // transcendental terms round at 6 dp (q03's convention; summation-order
  // noise is ~1e-13, five orders under the grain).
  // -------------------------------------------------------------------------

  val q110MixtureDiag: Q = (s, d) => {
    // r17 OPT: st feeds THREE consumers (srcTot, tokTot, the join) — each
    // re-ran the O(corpus-tokens) explode+agg; checkpoint the vocabulary-
    // bounded (source, tok, c) frame once (the q96/q122 barrier pattern)
    val st = docsWide(s, d)
      .select(col("source"),
        explode(TextAnalytics.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val srcTot = st.groupBy(col("source"))
      .agg(sum(col("c")).as("n_s"), count(lit(1)).as("vocab"))
    val tokTot = st.groupBy(col("tok")).agg(sum(col("c")).as("c_t"))
    val corpusTot = tokTot.agg(sum(col("c_t")).cast("double").as("n_all"))
    val srcDocs = docsWide(s, d).groupBy(col("source"))
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
      .withColumn("js", lit(0.5) * col("kl_p") +
        lit(0.5) * (col("kl_q_cov") + log(lit(2.0)) * (lit(1.0) - col("q_cov"))))
      .join(broadcast(srcDocs), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_s").as("n_tokens"),
        col("vocab"), rnd(col("js"), 6).as("js_divergence"))
      .orderBy(col("source"))
  }

  private val q110Sql =
    s"""WITH t AS (
         SELECT source, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                           x -> x <> '')) AS tok
         FROM documents
       ), st AS (
         SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2
       ), srct AS (
         SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
                CAST(count(*) AS BIGINT) AS vocab
         FROM st GROUP BY 1
       ), tt AS (
         SELECT tok, sum(c) AS c_t FROM st GROUP BY 1
       ), n AS (
         SELECT CAST(sum(c_t) AS DOUBLE) AS n_all FROM tt
       ), j AS (
         SELECT st.source,
                st.c / CAST(srct.n_s AS DOUBLE) AS p,
                tt.c_t / n.n_all AS q
         FROM st JOIN tt USING (tok) JOIN srct USING (source) CROSS JOIN n
       ), a AS (
         SELECT source,
                sum(p * ln(p / ((p + q) / 2))) AS kl_p,
                sum(q * ln(q / ((p + q) / 2))) AS kl_q_cov,
                sum(q) AS q_cov
         FROM j GROUP BY 1
       )
       SELECT srct.source, sd.n_docs, srct.n_s AS n_tokens, srct.vocab,
              floor((0.5 * kl_p + 0.5 * (kl_q_cov + ln(2) * (1 - q_cov)))
                * 1000000 + 0.5) / 1000000.0 AS js_divergence
       FROM a JOIN srct USING (source)
       JOIN (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY 1) sd USING (source)
       ORDER BY source"""

  // -------------------------------------------------------------------------
  // q111: duplicate-leakage matrix — WHERE the near-duplication comes
  // from: q19's verified pairs attributed to their (source, source)
  // cell (unordered — least/greatest canonicalization, so a cell is one
  // row regardless of pair direction). The dump-overlap diagnostic a
  // web-corpus pipeline runs before choosing dedup scope: a heavy
  // diagonal means within-source crawl churn (dedup per source is
  // enough), heavy off-diagonal cells mean cross-dump overlap (dedup
  // must be global — exactly FineWeb's finding across CC dumps). 100 TB
  // shape: the pair list (collision-verified, ≪ corpus) shuffle-joins
  // the pruned (doc_id, source) projection twice on ids; the matrix is
  // ≤ sources² rows; no window, presentation sort only.
  // -------------------------------------------------------------------------

  val q111DupLeakage: Q = (s, d) => {
    // r17 OPT: pairs from the persisted BandStore (storedNearDuplicates —
    // value-identical to the inline operator at the store's (32, 8)) —
    // the corpus is fingerprinted once at publish, not per serve
    val docs = docsWide(s, d)
    val pairs = Dedup.storedNearDuplicates(docs,
      graft.sources.BandStore.ensure(s, docs, "doc_id", "text", d),
      "doc_id", "text", threshold = 0.5)
    val src = docs.select(col("doc_id"), col("source"))
    pairs.select(col("a_id"), col("b_id"))
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
        Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
        Seq("b_id"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("src_a") =!= col("src_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val q111Sql =
    s"""WITH p AS (
         SELECT a_id, b_id FROM (${q19Sql.replace("\n", "\n  ")}) q19
       )
       SELECT least(da.source, db.source) AS src_a,
              greatest(da.source, db.source) AS src_b,
              count(*) AS n_pairs,
              (least(da.source, db.source) <> greatest(da.source, db.source))
                AS cross_source
       FROM p
       JOIN documents da ON p.a_id = da.doc_id
       JOIN documents db ON p.b_id = db.doc_id
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // -------------------------------------------------------------------------
  // q112: packed-sequence manifest — the INVERSE of q107, and what a
  // training loader actually consumes: per fixed-length sequence, which
  // documents compose it and at what offsets. q107 answers "where does
  // doc X land in the packed stream"; q112 answers "what is sequence S
  // made of" — (seq_id, doc_id, doc_tok_start, seq_tok_start, n_tok) span
  // rows, one per (document, sequence) intersection, plus the per-seq
  // n_fill (only the global LAST sequence can be short: concatenation is
  // gap-free, so every earlier sequence tiles exactly PackSeqLen — the
  // invariant QueriesSpec pins). Reference anchor: the sliding chunker's
  // idx-assignment contract (worker/app/services/chunker.py:56-131) at
  // sequence rather than character granularity — same "cut a stream into
  // fixed windows, report each piece's provenance" shape, over tokens.
  // 100 TB shape: q107's salted prefix sum (no global-order window), then
  // a BOUNDED explode — sequence(first_seq, last_seq) fans each doc into
  // its touched sequences, Σ rows = corpus_tokens/PackSeqLen + n_docs −
  // (docs that end exactly on a cut), linear in input. total_tok rides a
  // broadcast one-row aggregate over the NARROW (doc_id, n_tok) lineage
  // (not the prefix-summed frame — no second pass through the salted
  // fold); span arithmetic is codegen'd greatest/least; the only ordering
  // is the presentation sort.
  // -------------------------------------------------------------------------

  val q112PackedManifest: Q = (s, d) => {
    val toks = docsWide(s, d).select(col("doc_id"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
    val (mn, span) = docIdBounds(s, d)
    val off = graft.operators.Curation.saltedPrefixSum(toks, "doc_id",
      "n_tok", outCol = "tok_offset", orderBounds = Some((mn, mn + span - 1)))
    val spans = off.filter(col("n_tok") > 0)
      // integral div, like q107: exact past 2^53 tokens
      .withColumn("first_seq", expr(s"tok_offset div $PackSeqLen"))
      .withColumn("last_seq", expr(s"(tok_offset + n_tok - 1) div $PackSeqLen"))
      .withColumn("seq_id", explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("gstart", greatest(col("tok_offset"), col("seq_id") * PackSeqLen))
      .withColumn("gend",
        least(col("tok_offset") + col("n_tok"), (col("seq_id") + 1) * PackSeqLen))
    val total = toks.agg(sum(col("n_tok")).as("total_tok"))
    spans.crossJoin(broadcast(total))
      .select(col("seq_id"), col("doc_id"),
        (col("gstart") - col("tok_offset")).as("doc_tok_start"),
        (col("gstart") - col("seq_id") * PackSeqLen).as("seq_tok_start"),
        (col("gend") - col("gstart")).as("n_tok"),
        when(col("seq_id") === expr(s"(total_tok - 1) div $PackSeqLen"),
          (col("seq_id") + 1) * PackSeqLen - col("total_tok"))
          .otherwise(lit(0L)).as("n_fill"))
      .orderBy(col("seq_id"), col("doc_id"))
  }

  private val q112Sql =
    s"""WITH t AS (
         SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), o AS (
         SELECT doc_id, n_tok,
                CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_offset
         FROM t
       ), tot AS (
         SELECT CAST(sum(n_tok) AS BIGINT) AS total_tok FROM t
       ), sp AS (
         SELECT doc_id, n_tok, tok_offset,
                unnest(generate_series(tok_offset // $PackSeqLen,
                  (tok_offset + n_tok - 1) // $PackSeqLen)) AS seq_id
         FROM o WHERE n_tok > 0
       )
       SELECT sp.seq_id, sp.doc_id,
              greatest(sp.tok_offset, sp.seq_id * $PackSeqLen) - sp.tok_offset
                AS doc_tok_start,
              greatest(sp.tok_offset, sp.seq_id * $PackSeqLen)
                - sp.seq_id * $PackSeqLen AS seq_tok_start,
              least(sp.tok_offset + sp.n_tok, (sp.seq_id + 1) * $PackSeqLen)
                - greatest(sp.tok_offset, sp.seq_id * $PackSeqLen) AS n_tok,
              CASE WHEN sp.seq_id = (tot.total_tok - 1) // $PackSeqLen
                   THEN (sp.seq_id + 1) * $PackSeqLen - tot.total_tok
                   ELSE 0 END AS n_fill
       FROM sp CROSS JOIN tot
       ORDER BY sp.seq_id, sp.doc_id"""

  // -------------------------------------------------------------------------
  // q115: packing-efficiency ablation curve — the table a context-length
  // choice is made from: for each candidate sequence length L, what does
  // concat-and-chunk packing (q107's scheme) cost? Per L: the sequence
  // count, how many documents straddle a cut (cross-document attention
  // contamination unless the trainer masks boundaries), the average
  // number of documents touching a sequence (the document-mask fan-in),
  // and the tail padding. Everything is CLOSED-FORM from the one
  // L-independent prefix sum: n_seqs = ceil(total/L), a doc crosses iff
  // floor((off+n-1)/L) > floor(off/L), a doc touches last−first+1
  // sequences. 100 TB shape: ONE salted prefix sum (shared with
  // q107/q112), a 5-row broadcast of candidate lengths, per-(doc, L)
  // codegen arithmetic, and a ≤|L|-row aggregate — the whole ablation
  // table costs one extra pass over the narrow offsets frame, not one
  // packing run per candidate length.
  // -------------------------------------------------------------------------

  private val PackCurveLens = Seq(128L, 256L, 512L, 1024L, 2048L)

  val q115PackingCurve: Q = (s, d) => {
    val toks = docsWide(s, d).select(col("doc_id"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
    val (mn, span) = docIdBounds(s, d)
    val off = graft.operators.Curation.saltedPrefixSum(toks, "doc_id",
      "n_tok", outCol = "tok_offset", orderBounds = Some((mn, mn + span - 1)))
    val lens = s.range(1).select(
      explode(array(PackCurveLens.map(lit): _*)).as("seq_len"))
    off.filter(col("n_tok") > 0)
      .crossJoin(broadcast(lens))
      .withColumn("first_seq", expr("tok_offset div seq_len"))
      .withColumn("last_seq", expr("(tok_offset + n_tok - 1) div seq_len"))
      .groupBy(col("seq_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tok"),
        // the packed stream is gap-free, so the global sequence count is
        // ceil(total/L) — derived from the max END rather than a second
        // aggregate over a different frame
        expr("(max(tok_offset + n_tok) + seq_len - 1) div seq_len")
          .as("n_seqs"),
        sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
          .as("n_crossing"),
        sum(col("last_seq") - col("first_seq") + 1).as("doc_seq_spans"))
      .select(col("seq_len"), col("n_seqs"), col("n_crossing"),
        rnd(col("n_crossing").cast("double") / col("n_docs"), 6)
          .as("crossing_frac"),
        rnd(col("doc_seq_spans").cast("double") / col("n_seqs"), 6)
          .as("avg_docs_per_seq"),
        (col("n_seqs") * col("seq_len") - col("total_tok")).as("tail_fill"))
      .orderBy(col("seq_len"))
  }

  private val q115Sql = {
    val lenList = PackCurveLens.mkString("[", ", ", "]")
    s"""WITH t AS (
         SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), o AS (
         SELECT doc_id, n_tok,
                CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_offset
         FROM t
       ), l AS (
         SELECT unnest($lenList::BIGINT[]) AS seq_len
       ), x AS (
         SELECT o.doc_id, o.n_tok, o.tok_offset, l.seq_len,
                o.tok_offset // l.seq_len AS first_seq,
                (o.tok_offset + o.n_tok - 1) // l.seq_len AS last_seq
         FROM o CROSS JOIN l WHERE o.n_tok > 0
       )
       SELECT seq_len,
              (max(tok_offset + n_tok) + seq_len - 1) // seq_len AS n_seqs,
              CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
                AS BIGINT) AS n_crossing,
              floor(CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000.0
                AS crossing_frac,
              floor(CAST(sum(last_seq - first_seq + 1) AS DOUBLE)
                      / ((max(tok_offset + n_tok) + seq_len - 1) // seq_len)
                      * 1000000 + 0.5) / 1000000.0 AS avg_docs_per_seq,
              ((max(tok_offset + n_tok) + seq_len - 1) // seq_len) * seq_len
                - CAST(sum(n_tok) AS BIGINT) AS tail_fill
       FROM x
       GROUP BY seq_len
       ORDER BY seq_len"""
  }

  // -------------------------------------------------------------------------
  // q116: span-corruption mask generation — the denoising-objective
  // (T5/UL2 "span corruption") preprocessing step: per document, a
  // deterministic set of noise spans covering ~15% of tokens with mean
  // length 3, emitted as (doc_id, span_id, span_start, span_len) rows a
  // trainer turns into sentinel-delimited inputs/targets. RNG-free by
  // construction: a position starts a candidate span iff
  // hash60(doc:pos) % 20 == 0 (5% of positions) with length
  // 1 + hash60(doc:pos:len) % 5 (mean 3 → ~15% mass), so the mask is
  // engine-portable (the DuckDB oracle replays it bit-for-bit through
  // the same sha256-based hash, like q86/q108's shard hashes) and
  // reproducible across reruns/workers — the property an actual training
  // pipeline needs from its noise. Overlapping/adjacent candidates merge
  // (sentinel collapse), exactly q88's interval-union shape. 100 TB:
  // the position explode is linear in corpus tokens (the shingle
  // pipelines already pay this), candidates are ~1/20 of positions, the
  // merge is a per-doc in-array fold (collect_list + array_sort +
  // aggregate — NO window, bounded by candidates-per-doc), and the only
  // shuffle carries candidate rows, not tokens.
  // -------------------------------------------------------------------------

  private val NoiseStartMod = 20L // 1-in-20 positions start a span
  private val NoiseLenMod = 5L    // length 1 + h%5 ∈ [1,5], mean 3

  val q116NoiseSpans: Q = (s, d) => {
    val toks = docsWide(s, d).select(col("doc_id"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
    val cand = toks.filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_tok") - 1)).as("p"))
      .filter(pmod(TextAnalytics.hash60(
        concat(col("doc_id"), lit(":"), col("p"))), lit(NoiseStartMod)) === 0)
      .withColumn("e", least(
        col("p") + 1L + pmod(TextAnalytics.hash60(
          concat(col("doc_id"), lit(":"), col("p"), lit(":len"))),
          lit(NoiseLenMod)),
        col("n_tok")))
    // per-doc interval union: fold the sorted candidates, merging any
    // start ≤ the running max end (adjacent spans collapse, as a
    // sentinel-based objective requires); accumulator carries the merged
    // list + the open interval
    val acc0 = struct(
      array().cast("array<struct<s:bigint,e:bigint>>").as("spans"),
      lit(-1L).as("cs"), lit(-1L).as("ce"))
    val merged = cand
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(array_sort(collect_list(struct(col("p").as("s"), col("e")))).as("cs"))
      .select(col("doc_id"), col("n_tok"),
        aggregate(col("cs"), acc0,
          (acc, x) => {
            val open = acc.getField("cs") >= 0L
            val overlaps = open && x.getField("s") <= acc.getField("ce")
            struct(
              when(overlaps || !open, acc.getField("spans"))
                .otherwise(array_append(acc.getField("spans"),
                  struct(acc.getField("cs").as("s"), acc.getField("ce").as("e"))))
                .as("spans"),
              when(overlaps, acc.getField("cs")).otherwise(x.getField("s")).as("cs"),
              when(overlaps, greatest(acc.getField("ce"), x.getField("e")))
                .otherwise(x.getField("e")).as("ce"))
          },
          acc => when(acc.getField("cs") >= 0L,
            array_append(acc.getField("spans"),
              struct(acc.getField("cs").as("s"), acc.getField("ce").as("e"))))
            .otherwise(acc.getField("spans"))).as("spans"))
    merged
      .withColumn("n_masked", aggregate(col("spans"), lit(0L),
        (a, sp) => a + sp.getField("e") - sp.getField("s")))
      .select(col("doc_id"), col("n_tok"), col("n_masked"),
        rnd(col("n_masked").cast("double") / col("n_tok"), 6).as("mask_frac"),
        posexplode(col("spans")).as(Seq("span_id", "sp")))
      .select(col("doc_id"), col("span_id").cast("long").as("span_id"),
        col("sp.s").as("span_start"), (col("sp.e") - col("sp.s")).as("span_len"),
        col("n_tok"), col("n_masked"), col("mask_frac"))
      .orderBy(col("doc_id"), col("span_id"))
  }

  private val q116Sql = {
    def h60(x: String) = s"CAST(CAST('0x' || substr(sha256($x), 1, 15) AS BIGINT) AS BIGINT)"
    s"""WITH t AS (
         SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), pos AS (
         SELECT doc_id, n_tok, unnest(range(0, n_tok)) AS p
         FROM t WHERE n_tok > 0
       ), cand AS (
         SELECT doc_id, n_tok, p,
                least(p + 1 + ${h60("doc_id || ':' || p || ':len'")}
                        % $NoiseLenMod, n_tok) AS e
         FROM pos
         WHERE ${h60("doc_id || ':' || p")} % $NoiseStartMod = 0
       ), isl AS (
         SELECT doc_id, n_tok, p, e,
                CASE WHEN p <= COALESCE(max(e) OVER (PARTITION BY doc_id
                  ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) THEN 0 ELSE 1 END AS ni
         FROM cand
       ), isl2 AS (
         SELECT doc_id, n_tok, p, e,
                sum(ni) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS UNBOUNDED PRECEDING) - 1 AS span_id
         FROM isl
       ), spans AS (
         SELECT doc_id, n_tok, CAST(span_id AS BIGINT) AS span_id,
                min(p) AS span_start, max(e) - min(p) AS span_len
         FROM isl2 GROUP BY doc_id, n_tok, span_id
       ), ds AS (
         SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS n_masked
         FROM spans GROUP BY doc_id
       )
       SELECT s.doc_id, s.span_id, s.span_start, s.span_len, s.n_tok,
              ds.n_masked,
              floor(CAST(ds.n_masked AS DOUBLE) / s.n_tok * 1000000 + 0.5)
                / 1000000.0 AS mask_frac
       FROM spans s JOIN ds ON s.doc_id = ds.doc_id
       ORDER BY s.doc_id, s.span_id"""
  }

  // -------------------------------------------------------------------------
  // q117: the end-to-end train-prep recipe — the composition a pretraining
  // data pipeline actually ships, each stage an already-oracle-verified
  // kernel: near-dup dedup keeps the canonical survivors (q85) → the
  // quality gate drops the bottom tail (q22's score, ≥ 0.35 ≈ p10 of the
  // corpus) → the leakage-safe holdout assigns train/val on the CLUSTER
  // hash (q108's rule — for survivors canonical_id = doc_id, but the rule
  // is stated on the cluster so re-admitting non-canonicals can never
  // split a near-dup pair) → each split is packed into its own token
  // stream (q107's kernel; splits must NOT share a stream, or one straddling
  // sequence leaks val into train). The per-split restart costs no second
  // kernel: ONE salted prefix sum over the composite (split, doc_id)
  // packed key, then each split's base — the min cumulative in the split,
  // i.e. its first doc's exclusive prefix — joins back as a 2-row
  // broadcast and subtracts. 100 TB note: the 2-row base aggregate is a
  // second pass over the dedup lineage at bench; a production deployment
  // materializes the dedup table once at write time (the ChunkStore
  // pattern) and both passes read the artifact.
  // -------------------------------------------------------------------------

  private val TrainPrepQualityMin = 0.35

  val q117TrainPrep: Q = (s, d) => {
    val selected = scoredDocs(s, d)
      .join(q85DedupApply(s, d)
        .select(col("doc_id"), col("canonical_id"), col("kept")), Seq("doc_id"))
      .filter(col("kept") && col("q_score") >= TrainPrepQualityMin)
      .withColumn("split",
        when(pmod(TextAnalytics.hash60(col("canonical_id").cast("string")),
          lit(100L)) < ValHoldoutPct, lit("val")).otherwise(lit("train")))
    val (mn, span) = docIdBounds(s, d)
    require(span <= Long.MaxValue / 2,
      s"doc_id span $span overflows the split-packed order key")
    val keyed = selected.withColumn("__ord",
      when(col("split") === "val", lit(span)).otherwise(lit(0L))
        + (col("doc_id") - mn))
    val cum = graft.operators.Curation.saltedPrefixSum(keyed, "__ord",
      "n_tok", outCol = "__cum", orderBounds = Some((0L, 2 * span)))
    val bases = cum.groupBy(col("split")).agg(min(col("__cum")).as("__base"))
    cum.join(broadcast(bases), Seq("split"))
      .withColumn("tok_offset", col("__cum") - col("__base"))
      .select(col("doc_id"), col("split"), col("q_score"), col("n_tok"),
        col("tok_offset"),
        expr(s"tok_offset div $PackSeqLen").as("first_seq"),
        expr(s"(tok_offset + n_tok - 1) div $PackSeqLen").as("last_seq"))
      .orderBy(col("doc_id"))
  }

  private val q117Sql = {
    val arr = TextAnalytics.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH w AS (
         SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'),
                                          t -> t <> '') AS toks FROM documents
       ), m AS (
         SELECT doc_id, len(toks) AS n_tok_i,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
             / len(toks) AS avg_raw,
           CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS DOUBLE)
             / len(toks) AS stop_raw
         FROM w
       ), q AS (
         SELECT doc_id, CAST(n_tok_i AS BIGINT) AS n_tok,
           CASE WHEN n_tok_i = 0 THEN 0.0 ELSE
             floor((0.2 * least(CAST(n_tok_i AS DOUBLE) / 100.0, 1.0)
                 + 0.5 * stop_raw
                 + 0.3 * (1.0 - least(abs(avg_raw - 5.0) / 10.0, 1.0)))
               * $QualityLevels + 0.5) / $QualityLevels.0 END AS q_score
         FROM m
       ), dd AS (
         SELECT doc_id, canonical_id, kept
         FROM (${q85Sql.replace("\n", "\n  ")}) q85
       ), sel AS (
         SELECT q.doc_id, dd.canonical_id, q.q_score, q.n_tok,
                CASE WHEN CAST(CAST('0x' ||
                         substr(sha256(CAST(dd.canonical_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 100 AS BIGINT) < $ValHoldoutPct
                     THEN 'val' ELSE 'train' END AS split
         FROM q JOIN dd ON q.doc_id = dd.doc_id
         WHERE dd.kept AND q.q_score >= $TrainPrepQualityMin
       ), o AS (
         SELECT doc_id, split, q_score, n_tok,
                CAST(COALESCE(sum(n_tok) OVER (PARTITION BY split
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_offset
         FROM sel
       )
       SELECT doc_id, split, q_score, n_tok, tok_offset,
              tok_offset // $PackSeqLen AS first_seq,
              (tok_offset + n_tok - 1) // $PackSeqLen AS last_seq
       FROM o ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q118: dedup-impact report — the sizing table a pipeline reads BEFORE
  // committing to dedup scope (the q111 matrix says WHERE duplication
  // lives; this says HOW MUCH deleting it buys): per near-dup cluster
  // size k, how many clusters, documents, and tokens exist, and how many
  // tokens dedup would remove (every non-canonical member's). Singleton
  // "clusters" (docs with no near-dup) ride the same frame with
  // removable 0, so the report TILES the corpus — Σ n_docs = |corpus|,
  // Σ n_tok = corpus tokens — and the spec pins the tiling. 100 TB
  // shape: q85's cluster lineage + one narrow token-count join, then two
  // hash aggregates whose keys shrink monotonically (canonical_id →
  // cluster_size); output ≤ max-cluster-size rows; window-free.
  // -------------------------------------------------------------------------

  val q118DedupImpact: Q = (s, d) => {
    val toks = docsWide(s, d).select(col("doc_id"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
    q85DedupApply(s, d)
      .join(toks, Seq("doc_id"))
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("k"),
        sum(col("n_tok")).as("c_tok"),
        sum(when(!col("kept"), col("n_tok")).otherwise(lit(0L)))
          .as("c_removable"))
      .groupBy(col("k").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("k")).as("n_docs"),
        sum(col("c_tok")).as("n_tok"),
        sum(col("c_removable")).as("n_tok_removable"))
      .orderBy(col("cluster_size"))
  }

  private val q118Sql =
    s"""WITH t AS (
         SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), dd AS (
         SELECT doc_id, canonical_id, kept
         FROM (${q85Sql.replace("\n", "\n  ")}) q85
       ), c AS (
         SELECT dd.canonical_id, count(*) AS k,
                CAST(sum(t.n_tok) AS BIGINT) AS c_tok,
                CAST(sum(CASE WHEN dd.kept THEN 0 ELSE t.n_tok END) AS BIGINT)
                  AS c_removable
         FROM dd JOIN t ON dd.doc_id = t.doc_id
         GROUP BY dd.canonical_id
       )
       SELECT CAST(k AS BIGINT) AS cluster_size,
              count(*) AS n_clusters,
              CAST(sum(k) AS BIGINT) AS n_docs,
              CAST(sum(c_tok) AS BIGINT) AS n_tok,
              CAST(sum(c_removable) AS BIGINT) AS n_tok_removable
       FROM c GROUP BY k ORDER BY cluster_size"""

  // -------------------------------------------------------------------------
  // q119: deterministic per-epoch shuffle order — the last train-prep
  // stage: every epoch must visit the corpus in a DIFFERENT pseudorandom
  // order, and the order must be reproducible on any executor, any
  // retry, any engine (no RNG state to checkpoint or coordinate). The
  // shuffle key is a hash BUCKET, not the raw hash: rank by
  // (hash60(epoch:doc) % 10^6) with doc_id breaking ties inside a
  // bucket — ~n/10^6 docs share a bucket, plenty of shuffle granularity,
  // and the composite packs into one long with ANALYTIC bounds, so the
  // rank is EXACT (raw-hash ordering would be nondeterministic on a
  // 60-bit collision, which a 10^10-doc corpus makes likely). Ranking is
  // Curation.saltedExactRank on that key — per-epoch partitions are the
  // hot-key shape (2 keys over the whole corpus), exactly what the
  // range-bucketed rank exists for. 100 TB: one narrow (doc_id) scan,
  // a 2-row epoch broadcast, the salted rank's bounded fold; no probe
  // (bounds are analytic), no text pass at all.
  // -------------------------------------------------------------------------

  private val ShuffleBuckets = 1000000L
  private val ShuffleEpochs = 2L

  val q119EpochShuffle: Q = (s, d) => {
    val (mn, span) = docIdBounds(s, d)
    require(span <= Long.MaxValue / ShuffleBuckets,
      s"doc_id span $span overflows the bucket-packed shuffle key")
    val docs = docsWide(s, d).select(col("doc_id"))
    val epochs = s.range(ShuffleEpochs).select(col("id").as("epoch"))
    val keyed = docs.crossJoin(broadcast(epochs))
      .withColumn("shuffle_bucket",
        pmod(TextAnalytics.hash60(
          concat(col("epoch"), lit(":"), col("doc_id"))), lit(ShuffleBuckets)))
      .withColumn("__shuf",
        col("shuffle_bucket") * span + (col("doc_id") - mn))
    graft.operators.Curation.saltedExactRank(keyed, "epoch", "__shuf",
        rankCol = "epoch_rank",
        orderBounds = Some((0L, ShuffleBuckets * span)))
      .select(col("epoch"), col("doc_id"), col("shuffle_bucket"),
        col("epoch_rank"))
      .orderBy(col("epoch"), col("epoch_rank"))
  }

  private val q119Sql =
    s"""WITH d AS (
         SELECT doc_id FROM documents
       ), b AS (
         SELECT CAST(min(doc_id) AS BIGINT) AS mn,
                CAST(max(doc_id) - min(doc_id) + 1 AS BIGINT) AS span
         FROM d
       ), e AS (
         SELECT unnest(range(0, $ShuffleEpochs)) AS epoch
       ), k AS (
         SELECT e.epoch, d.doc_id,
                CAST(CAST('0x' || substr(sha256(e.epoch || ':' || d.doc_id),
                  1, 15) AS BIGINT) % $ShuffleBuckets AS BIGINT)
                  AS shuffle_bucket,
                b.mn, b.span
         FROM d CROSS JOIN e CROSS JOIN b
       )
       SELECT epoch, doc_id, shuffle_bucket,
              CAST(row_number() OVER (PARTITION BY epoch
                ORDER BY shuffle_bucket * span + (doc_id - mn))
                AS BIGINT) AS epoch_rank
       FROM k
       ORDER BY epoch, epoch_rank"""

  // -------------------------------------------------------------------------
  // q113: temperature-sampled mixture weights — the PLANNING step q110
  // diagnoses after the fact: given per-source token counts, compute the
  // α-temperature sampling weights (w_s ∝ p_s^α, the multilingual/
  // multi-corpus standard since GPT-3 / XLM-R; α < 1 upweights small
  // sources) and the oversampling each weight implies at a fixed training
  // budget — epochs_s = budget·w_s / n_tok_s — flagging sources the blend
  // would repeat past the ~4-epoch point where repeated data measurably
  // degrades (Muennighoff et al. 2023). The flag reads the ROUNDED epochs
  // so the Spark/DuckDB comparison sits on the same 6-dp grid as the
  // published value (pow/libm may differ in the last ulp between
  // engines). 100 TB shape: one partial-aggregated groupBy(source) over a
  // pruned (source, text) scan — the shuffle carries ≤ |sources| rows —
  // then a broadcast one-row normalizer; window-free, no second text
  // pass. w ∝ n^α directly: p_s^α / Σ p^α = n^α / Σ n^α (total^α cancels),
  // so the blend needs no share intermediate.
  // -------------------------------------------------------------------------

  private val MixAlpha = 0.7
  private val MixBudgetMult = 2.0 // train-budget = 2x the corpus tokens
  private val MixEpochCap = 4.0

  val q113MixtureWeights: Q = (s, d) => {
    val st = docsWide(s, d)
      .select(col("source"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      // a zero-token source cannot be sampled — and dividing by its
      // n_tok would make `epochs` 0/0, where Spark says NaN and DuckDB
      // disagrees; exclude it from the blend in BOTH engines
      .filter(col("n_tok") > 0)
    val tot = st.agg(sum(col("n_tok")).cast("double").as("total_tok"),
      sum(pow(col("n_tok").cast("double"), MixAlpha)).as("z"))
    st.crossJoin(broadcast(tot))
      .withColumn("weight_raw",
        pow(col("n_tok").cast("double"), MixAlpha) / col("z"))
      .withColumn("epochs_6dp", rnd(
        lit(MixBudgetMult) * col("total_tok") * col("weight_raw")
          / col("n_tok"), 6))
      .select(col("source"), col("n_docs"), col("n_tok"),
        rnd(col("n_tok") / col("total_tok"), 6).as("p_share"),
        rnd(col("weight_raw"), 6).as("weight"),
        col("epochs_6dp").as("epochs"),
        (col("epochs_6dp") > MixEpochCap).as("over_cap"))
      .orderBy(col("source"))
  }

  private val q113Sql =
    s"""WITH t AS (
         SELECT source,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), s AS (
         SELECT source, COUNT(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok
         FROM t GROUP BY source
         HAVING sum(n_tok) > 0
       ), tot AS (
         SELECT CAST(sum(n_tok) AS DOUBLE) AS total_tok,
                sum(power(CAST(n_tok AS DOUBLE), $MixAlpha)) AS z
         FROM s
       )
       SELECT source, n_docs, n_tok,
              floor(n_tok / total_tok * 1000000 + 0.5) / 1000000.0 AS p_share,
              floor(power(CAST(n_tok AS DOUBLE), $MixAlpha) / z * 1000000 + 0.5)
                / 1000000.0 AS weight,
              floor($MixBudgetMult * total_tok
                    * (power(CAST(n_tok AS DOUBLE), $MixAlpha) / z) / n_tok
                    * 1000000 + 0.5) / 1000000.0 AS epochs,
              (floor($MixBudgetMult * total_tok
                     * (power(CAST(n_tok AS DOUBLE), $MixAlpha) / z) / n_tok
                     * 1000000 + 0.5) / 1000000.0 > $MixEpochCap) AS over_cap
       FROM s CROSS JOIN tot
       ORDER BY source"""

  // -------------------------------------------------------------------------
  // q114: SFT loss-mask manifest — the supervised-finetuning counterpart
  // of q112's pretraining manifest: per conversation turn, the token
  // offsets and the assistant-only loss mask a finetuning loader consumes
  // (user/system tokens attend but take no loss — the standard SFT
  // objective). Rides the REAL chat lineage end-to-end: q40's ChatGPT
  // export parse (detection → mapping salvage → create_time sort →
  // formatted turns), re-split into turns, re-tokenized with ws-split-v2.
  // 100 TB shape: the prefix sum is PER CONVERSATION — a window
  // partitioned by conv_id, key cardinality = conversations (massive),
  // partition size = turns per conversation (bounded by chat UX, ~10³
  // worst case) — the benign window shape, unlike the global-order
  // windows q107/q109 salt away. The mask is a codegen'd equality; no
  // joins, no second text pass. Fence: the turn re-split keys on the
  // "\n\n" join q40's formatter emits (parse_chatgpt.py:268-280), so a
  // message whose CONTENT carries a blank line would split early — the
  // same ambiguity any consumer of the reference's flat text format
  // inherits; a loader needing blank-line-safe turns should read the
  // structured ChatExport rows, not the formatted text.
  // -------------------------------------------------------------------------

  private[graft] val ChatTurnRe = "^\\[[^\\]]+\\] (user|assistant): "

  /** q114's role of a chat line from its whole [[ChatTurnRe]] match
    * (`regexp_extract(line, ChatTurnRe, 0)`, see q114): a null match — a
    * null line — stays null instead of falling through to "assistant".
    */
  private[graft] def chatTurnRole(m: Column): Column =
    when(m.isNull, lit(null).cast("string"))
      .when(m === "", lit(""))
      .when(m.endsWith("user: "), lit("user"))
      .otherwise(lit("assistant"))

  val q114SftMask: Q = (s, d) => {
    // ONE regex execution per line instead of two (r17 verdict #6): the
    // old form ran the same anchored pattern through regexp_extract (role)
    // AND regexp_replace (strip) — Catalyst does not share matches across
    // distinct regex expressions. Extract the WHOLE match once; the role
    // is pinned by the match's tail ("[ts] user: " vs "[ts] assistant: " —
    // only the former ends in "user: "), and stripping an ^-anchored
    // single-occurrence match is substring past its length (empty match ⇒
    // role "", content = line, exactly regexp_extract/replace's no-match
    // behavior).
    val turns = IngestCatalog.q40ChatExport(s, d)
      .select(col("document_id").as("conv_id"),
        posexplode(split(col("text"), "\n\n")).as(Seq("turn_idx", "line")))
      .withColumn("__m", regexp_extract(col("line"), ChatTurnRe, 0))
      .select(col("conv_id"), col("turn_idx"),
        chatTurnRole(col("__m")).as("role"),
        col("line").substr(length(col("__m")) + 1, length(col("line")))
          .as("content"))
      .withColumn("n_tok",
        size(TextAnalytics.tokens(col("content"))).cast("long"))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    turns
      .withColumn("tok_start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("n_tok"),
        col("tok_start"), (col("role") === "assistant").as("loss_mask"))
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  private val q114Sql =
    s"""WITH w AS (
         SELECT doc_id, string_split(trim(text), ' ') AS ws,
                CAST(2 + doc_id % 3 AS INT) AS k
         FROM documents
       ), turns AS (
         SELECT 'chatgpt:conv-' || doc_id AS conv_id,
                unnest(range(0, k)) AS j, ws
         FROM w
       ), tk AS (
         SELECT conv_id, CAST(j AS INT) AS turn_idx,
                CASE WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
                CAST(len(list_filter(regexp_split_to_array(
                  ws[2*j + 1] || ' ' || ws[2*j + 2], '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM turns
       )
       SELECT conv_id, turn_idx, role, n_tok,
              CAST(COALESCE(sum(n_tok) OVER (PARTITION BY conv_id
                ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS tok_start,
              (role = 'assistant') AS loss_mask
       FROM tk
       ORDER BY conv_id, turn_idx"""

  // -------------------------------------------------------------------------
  // q103: video-frame ANN search — the multimodal RETRIEVAL composition:
  // q100's batched decode contract feeds frame sampling, every frame gets
  // an embedding (dev-stub, bit-replayable), frames are scored against a
  // query vector and rolled up per video by MaxSim (best-frame score, the
  // late-interaction shape CLIP-style video retrieval uses), top-k videos
  // out. 100 TB: the query vector is a constant-folded literal (no
  // broadcast, no shuffle to score), frames never shuffle — the only
  // exchange is the per-video partial-aggregated roll-up (bounded by
  // video count, not frame count), and the final top-k is a
  // TakeOrdered, never a global sort. Swapping the stub for a real
  // frame encoder changes the decode batch call only; at deployment the
  // frame vectors would persist into the same VectorStore layout the
  // q27/q69 serving family probes.
  // -------------------------------------------------------------------------

  private val FrameEveryMs = 20000L
  private val FrameDim = 16
  private val VideoQueryText = "stub query: demo clip"
  private val VideoTopK = 20

  /** Shared frame lineage for q103/q104: the video slot's media rows
    * through the batched decode contract, the 20 s frame grid, and the
    * 16-dim dev-stub frame embeddings — (path, frame_ms, fvec).
    */
  /** Test-only exposure of the shared frame lineage (QueriesSpec's q104
    * recall check re-derives the brute-force ranking from it).
    */
  private[graft] def videoFrameVectorsForTest(
      s: SparkSession, d: String): DataFrame = videoFrameVectors(s, d)

  private def videoFrameVectors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.{DevEmbed, Multimodal}
    val media = docsWide(s, d)
      .filter(pmod(col("doc_id"), lit(3)) === 2) // the q100 video slot
      .select(
        // unique per row even across duplicate texts (the q100 lesson)
        sha2(concat_ws(":", col("text"), col("doc_id")), 256).as("id"),
        lit("video").as("kind"),
        concat(lit("media/"), col("doc_id"), lit(".mp4")).as("path"),
        encode(col("text"), "UTF-8").as("content"))
      .as[Multimodal.MediaRow]
    Multimodal.sampleFrames(Multimodal.decode(media).toDF(), FrameEveryMs)
      .withColumn("fvec", DevEmbed.devEmbed(
        concat(col("path"), lit("#"), col("frame_ms")), FrameDim))
      .select(col("path"), col("frame_ms"), col("fvec"))
  }

  val q103VideoSearch: Q = (s, d) => {
    val qv = graft.operators.DevEmbed.devEmbed(lit(VideoQueryText), FrameDim)
    val scored = videoFrameVectors(s, d)
      .select(col("path"), col("frame_ms"),
        rnd(graft.functions.VectorFunctions.cosine(col("fvec"), qv), 6).as("score"))
    scored
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_frames"),
        max(struct(col("score"), col("frame_ms"))).as("best"))
      .select(
        regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
        col("n_frames"),
        col("best.frame_ms").as("best_frame_ms"),
        col("best.score").as("best_score"))
      .orderBy(col("best_score").desc, col("doc_id"))
      .limit(VideoTopK)
  }

  /** DuckDB replay of [[graft.operators.DevEmbed]] over an arbitrary
    * hex-digest SQL expression (dim ≤ 32 so `h[i mod 32] = h[i]`).
    */
  private def devVecSql(hExpr: String, dim: Int): String =
    s"list_transform(range(0, $dim), i -> " +
      s"CAST('0x' || substr($hExpr, CAST(2*i+1 AS INT), 2) AS INT) / 256.0)"

  private val q103Sql = {
    def vec(hExpr: String) = devVecSql(hExpr, FrameDim)
    s"""WITH m AS (
         SELECT doc_id, sha256(text) AS h,
                'media/' || doc_id || '.mp4' AS path
         FROM documents WHERE doc_id % 3 = 2
       ), dd AS (
         SELECT doc_id, path,
                (CAST('0x' || substr(h, 5, 2) AS BIGINT) + 1) * 1000 AS duration_ms
         FROM m
       ), fr AS (
         SELECT doc_id, path, unnest(range(0, duration_ms, $FrameEveryMs)) AS frame_ms
         FROM dd
       ), qv AS (
         SELECT ${vec(s"sha256('$VideoQueryText')")} AS v
       ), sc AS (
         SELECT doc_id, path, frame_ms,
                floor(list_cosine_similarity(
                  ${vec("sha256(path || '#' || frame_ms)")},
                  (SELECT v FROM qv)) * 1000000 + 0.5) / 1000000.0 AS score
         FROM fr
       ), b AS (
         SELECT doc_id, frame_ms, score,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, frame_ms DESC) AS rn,
                count(*) OVER (PARTITION BY doc_id) AS n_frames
         FROM sc
       )
       SELECT doc_id, n_frames, CAST(frame_ms AS BIGINT) AS best_frame_ms,
              score AS best_score
       FROM b WHERE rn = 1
       ORDER BY best_score DESC, doc_id LIMIT $VideoTopK"""
  }

  // -------------------------------------------------------------------------
  // q104: frame vectors SERVED from the persisted IVF VectorStore — the
  // deployment path q103's brute scan stands in for: the frame embeddings
  // are written ONCE at ingest into the same cell-partitioned layout the
  // q27/q69 serving family probes (write-time k-means, portable
  // NearestCell assignment, epoch-committed), and the query selects
  // nProbe cells and scans ONLY those partitions. The oracle embeds the
  // store's trained centroids as literals (q27's pattern), and DuckDB
  // replays frame grid → dev-embed → normalize → cell assignment → probe
  // selection → cosine top-k bit-for-bit. 100 TB:
  // frame corpus >> video corpus (hours × fps), which is exactly when
  // brute scan dies and the at-rest ANN layout is the only serving shape.
  // -------------------------------------------------------------------------

  private val FrameCells = 8
  private val FrameProbe = 4

  /** Write-time build of the frame vector store (q104 serves it; Bench
    * pre-builds it with the other ingest-time artifacts). Returns the
    * store path.
    */
  private[graft] def ensureFrameStore(s: SparkSession, d: String): String =
    // every_ms is part of the artifact identity: a changed sampling grid
    // produces a different frame corpus and must invalidate the store
    GenStore.ensureArtifact(d, "documents.parquet", "framestore",
      s""""planes":8,"dim":$FrameDim,"k":$FrameCells,"every_ms":$FrameEveryMs,""" +
        """"scenario":"frames-v1"""") { path =>
      graft.sources.VectorStore.write(
        videoFrameVectors(s, d)
          .withColumn("fid", concat(col("path"), lit("#"), col("frame_ms"))),
        "fvec", path, planes = 8, dim = FrameDim, k = FrameCells)
    }

  val q104FrameAnn: Q = (s, d) => {
    val path = ensureFrameStore(s, d)
    val store = VectorStore.read(s, path, 8, FrameDim, idCol = "fid")
    val qv = s.range(1)
      .select(graft.operators.DevEmbed.devEmbed(lit(VideoQueryText), FrameDim))
      .head().getSeq[Double](0).toArray
    Similarity.ivfTopK(store.vectors, "fvec", store.centroids, qv, 10,
        nProbe = FrameProbe)
      .select(
        regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
        col("frame_ms"),
        rnd(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("frame_ms"))
  }

  /** q27's centroid-literal replay over the q103 frame-grid CTEs. */
  private def q104Sql(cs: Array[Array[Double]]): String = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    val dExprs = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${cn2(i)} - 2.0*list_inner_product(nv, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    val norm = "list_transform(v, x -> x * (CASE WHEN " +
      "list_inner_product(v, v) = 0 THEN 0.0 ELSE " +
      "1.0/sqrt(list_inner_product(v, v)) END))"
    s"""WITH m AS (
         SELECT doc_id, sha256(text) AS h,
                'media/' || doc_id || '.mp4' AS path
         FROM documents WHERE doc_id % 3 = 2
       ), dd AS (
         SELECT doc_id, path,
                (CAST('0x' || substr(h, 5, 2) AS BIGINT) + 1) * 1000 AS duration_ms
         FROM m
       ), fr AS (
         SELECT doc_id, path, unnest(range(0, duration_ms, $FrameEveryMs)) AS frame_ms
         FROM dd
       ), fe AS (
         SELECT doc_id, frame_ms,
                ${devVecSql("sha256(path || '#' || frame_ms)", FrameDim)} AS v
         FROM fr
       ), n AS (
         SELECT doc_id, frame_ms, v, $norm AS nv FROM fe
       ), a AS (
         SELECT doc_id, frame_ms, v,
                list_position(ds, list_min(ds)) - 1 AS cell
         FROM (SELECT doc_id, frame_ms, v, $dExprs AS ds FROM n)
       ), q AS (
         SELECT ${devVecSql(s"sha256('$VideoQueryText')", FrameDim)} AS qv
       ), qd AS (
         SELECT $dExprs AS ds
         FROM (SELECT $norm AS nv FROM (SELECT qv AS v FROM q))
       ), probes AS (
         SELECT i AS cell FROM (
           SELECT unnest(range(${cs.length})) AS i, unnest(ds) AS dd FROM qd)
         ORDER BY dd, i LIMIT $FrameProbe
       ), hits AS (
         SELECT a.doc_id, a.frame_ms,
                list_cosine_similarity(a.v, (SELECT qv FROM q)) AS s
         FROM a JOIN probes USING (cell)
         ORDER BY s DESC LIMIT 10
       )
       SELECT doc_id, CAST(frame_ms AS BIGINT) AS frame_ms,
              floor(s * 1000000 + 0.5) / 1000000.0 AS score
       FROM hits ORDER BY score DESC, doc_id, frame_ms"""
  }

  // -------------------------------------------------------------------------
  // q120: BPE merge induction — the tokenizer-TRAINING step the corpus
  // profile (q56) and token counting (TextAnalytics.tokens) feed. Classic
  // byte-pair encoding: start from characters, repeatedly merge the
  // globally most-frequent adjacent symbol pair. The split of labor is
  // the one production trainers use (HF tokenizers / SentencePiece train
  // on WORD COUNTS, not the raw stream): ONE corpus scan builds the
  // distinct-word frequency table (Heaps-law bounded, orders of magnitude
  // smaller than a 100 TB corpus; localCheckpoint materializes it once),
  // the merge LOOP then runs DRIVER-LOCAL over the collected table with
  // incrementally-maintained pair counts (trainBpeLocal below), and merge
  // APPLICATION stays distributed (broadcast 1-row merge frames folded
  // over the word table — q124's depth curve, q129's per-source replay,
  // q136's drift batch all consume the same frames as before).
  //
  // Why driver-local induction (r14 verdict Next #1): the pre-r15 shape
  // ran one Spark job per merge round — a pair-count aggregate + 1-row
  // argmax + checkpoint, ~0.3 s of scheduling floor per round — which is
  // fine at K=6 but a 32k-merge production vocabulary would be 32k
  // SEQUENTIAL jobs (~hours of pure scheduling, independent of data
  // size). The word table is sample-scale BY CONSTRUCTION (Heaps' law:
  // ~10⁶-10⁸ distinct words for a 100 TB corpus — exactly the table
  // HF-tokenizers/SentencePiece train over single-node), so collecting it
  // once and looping in memory with a priority structure is the
  // architecture real trainers use; the per-round cost is then bounded by
  // the words CONTAINING the winning pair, not by corpus size or round
  // count. tools/BpeDepth measures the induction wall-time at
  // K = 6 … 16384 (SCALING ledger row 28); KernelsSpec pins the local
  // trainer's merges byte-equal to the retained distributed round
  // (bpeRoundDistributed) at every depth of the shipped K=6 chain, and
  // the DuckDB oracle's unrolled per-round replay (q120CteChain) stays
  // the cross-engine proof of both the argmax and every application.
  //
  // Symbolizations are engine-portable strings — each symbol wrapped in
  // single spaces (" a  b  c "), so applying merge (A,B) is a plain
  // left-to-right `replace(" A  B " -> " AB ")`, which reproduces BPE's
  // greedy leftmost-non-overlapping semantics in Spark codegen AND the
  // DuckDB oracle byte-for-byte (both engines' replace() scan
  // left-to-right over non-overlapping occurrences). The alphabet is the
  // lowercased ^[a-z]+$ word slice, so no engine-divergent unicode enters
  // the symbol space (real trainers operate on bytes for the same
  // reason). The oracle unrolls all rounds as CTEs, so every round's
  // argmax transitively verifies the application of every prior merge.
  // -------------------------------------------------------------------------

  private val BpeMerges = 6

  /** Apply one learned merge: the 1-row winning-pair frame broadcasts in
    * and the wrapped-symbolization replace folds its occurrences — the
    * chained definition of merge application, kept as the parity
    * reference the one-expression apply_bpe is pinned against.
    */
  private[graft] def applyMerge(df: DataFrame, best: DataFrame): DataFrame =
    df.crossJoin(broadcast(
        best.select(col("lhs").as("__l"), col("rhs").as("__r"))))
      .withColumn("r", replace(col("r"),
        concat(lit(" "), col("__l"), lit("  "), col("__r"), lit(" ")),
        concat(lit(" "), col("__l"), col("__r"), lit(" "))))
      .drop("__l", "__r")

  /** The fertility aggregation over a symbolization frame: total symbols
    * (two-space separator) and total characters — shared by q124's depth
    * curve and q129's per-source report.
    */
  private def fertilityAgg(df: DataFrame, keys: Seq[String]): DataFrame = {
    val aggs = Seq(
      sum(col("freq") * size(split(trim(col("r")), "  ")))
        .as("total_symbols"),
      sum(col("freq") * length(replace(col("r"), lit(" "), lit(""))))
        .as("total_chars"))
    if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A persisted BPE induction ([[bpeChain]]): the learned
    * (lhs, rhs, pair_count) merges, read from the artifact's sidecar, and
    * the Heaps-bounded word table they were trained on, which only q124
    * opens.
    */
  private final case class BpeModel(root: String,
      merges: IndexedSeq[(String, String, Long)]) {
    def words(s: SparkSession): DataFrame = GenStore.open(s, s"$root/words")
    def pairs: IndexedSeq[(String, String)] = merges.map(m => (m._1, m._2))
  }

  private val BpeMergesFile = "merges.json"

  /** The shared BPE induction (v1 [a-z]+ alphabet, or v2 full alphabet),
    * a write-time artifact of the documents table built once per
    * (stamp, alphabet, depth) by [[GenStore.ensureArtifact]]: the build
    * writes the word table as parquet, trains driver-local over it and
    * writes the learned merges as a JSON sidecar. Every later call reads
    * the sidecar on the driver and submits no Spark job. q120/q152 list
    * the merges, q124 measures what they buy, q129/q136/q148/q153 apply
    * them to their own word tables.
    */
  private def bpeChain(s: SparkSession, d: String, v2: Boolean = false): BpeModel = {
    val (tag, scenario) = if (v2) ("bpe-v2", "bpe-v2-full") else ("bpe-v1", "bpe-v1-az")
    val root = GenStore.ensureArtifact(d, "documents.parquet", tag,
        s""""scenario":"$scenario","merges":$BpeMerges""") { path =>
      val w0 = if (v2) bpeWordTableV2(s, d) else bpeWordTable(s, d)
      w0.write.parquet(s"$path/words")
      val table = w0.select(col("freq"), col("r")).collect().map { row =>
        (row.getLong(0), row.getString(1).trim.split("  "))
      }
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = json.createArrayNode()
      trainBpeLocal(table, BpeMerges).foreach { case (l, r, c) =>
        arr.addObject().put("lhs", l).put("rhs", r).put("pair_count", c)
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path, BpeMergesFile),
        json.writeValueAsString(arr))
    }
    val node = GenStore.readSidecar(java.nio.file.Paths.get(root, BpeMergesFile))
      .getOrElse(throw new IllegalStateException(s"BPE artifact $root: unreadable $BpeMergesFile"))
    import scala.jdk.CollectionConverters._
    BpeModel(root, node.elements().asScala.map { m =>
      (m.get("lhs").asText(), m.get("rhs").asText(), m.get("pair_count").asLong())
    }.toIndexedSeq)
  }

  /** The Heaps-bounded training table: distinct lowercase [a-z]+ words
    * with corpus frequencies, in the char-wrapped symbolization. ONE
    * corpus scan, checkpointed; [[bpeChain]] persists it.
    */
  private[graft] def bpeWordTable(s: SparkSession, d: String): DataFrame =
    docsWide(s, d)
      .select(explode(TextAnalytics.tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), graft.functions.CharInterleave.charInterleave(col("word")).as("r"))
      .localCheckpoint()

  /** One distributed merge round — the pre-r15 shipped inducer, retained
    * as the parity REFERENCE for the driver-local trainer (KernelsSpec
    * pins byte-equality at every depth of the K=6 chain) and as the
    * documentation of the semantics both implementations share: adjacent
    * pairs counted with overlap (a k-run of one symbol contributes k−1
    * pairs), freq-weighted, argmax on (pair_count DESC, lhs, rhs).
    */
  private[graft] def bpeRoundDistributed(w: DataFrame): DataFrame = {
    val noPairs = array().cast("array<struct<lhs:string,rhs:string>>")
    val syms = split(trim(col("r")), "  ")
    w.select(col("freq"),
        explode(when(size(syms) >= 2,
          transform(sequence(lit(1), size(syms) - 1), j =>
            struct(element_at(syms, j).as("lhs"),
              element_at(syms, j + 1).as("rhs"))))
          .otherwise(noPairs)).as("p"))
      .select(col("freq"), col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .groupBy(col("lhs"), col("rhs"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
      .limit(1)
  }

  /** Driver-local BPE induction over the collected word table — the
    * HF-tokenizers/SentencePiece architecture: pair counts are maintained
    * INCREMENTALLY (each round touches only the words containing the
    * winning pair, found through an inverted pair→words index) with a
    * TreeSet priority structure for the deterministic argmax, so the
    * per-round cost is independent of both corpus size and round count —
    * the property that makes a 32k-merge vocabulary tractable where the
    * one-Spark-job-per-round shape was 32k sequential scheduling floors
    * (measured curve: tools/BpeDepth, SCALING ledger row 28).
    *
    * Semantics are EXACTLY the distributed round's: overlapping adjacent
    * pair counts weighted by word freq; argmax (count DESC, lhs, rhs) —
    * Java String ordering == Spark UTF8 binary ordering on the [a-z]+
    * symbol alphabet; greedy leftmost non-overlapping application (the
    * wrapped-string replace). Stops early if the corpus exhausts pairs.
    */
  private[graft] def trainBpeLocal(
      words: Array[(Long, Array[String])], k: Int)
      : IndexedSeq[(String, String, Long)] = {
    import scala.collection.mutable
    val symTab: Array[Array[String]] = words.map(_._2)
    val freqs: Array[Long] = words.map(_._1)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // CODE-POINT string order, not Java's UTF-16 unit order: identical on
    // the v1 [a-z]+ alphabet, and on the v2 full-UTF-8 alphabet it is the
    // order BOTH engine replays use (Spark UTF8String = binary UTF-8 =
    // code points; DuckDB default collation likewise) — Java's unit order
    // would sort a supplementary symbol below U+E000 and flip a tie-break
    val cpOrd: Ordering[String] = (a: String, b: String) => {
      var i = 0; var j = 0
      var r = 0
      while (r == 0 && i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        r = Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      if (r != 0) r else Integer.compare(a.length - i, b.length - j)
    }
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering[Long].reverse, cpOrd, cpOrd)
    val heap = mutable.TreeSet.empty[(Long, String, String)]

    def pairMultiset(a: Array[String]): mutable.HashMap[(String, String), Int] = {
      val m = mutable.HashMap.empty[(String, String), Int]
      var i = 0
      while (i + 1 < a.length) {
        val p = (a(i), a(i + 1))
        m.update(p, m.getOrElse(p, 0) + 1)
        i += 1
      }
      m
    }
    def bump(p: (String, String), delta: Long): Unit = if (delta != 0) {
      val old = counts.getOrElse(p, 0L)
      if (old > 0) heap.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw > 0) { counts(p) = nw; heap.add((nw, p._1, p._2)) }
      else counts.remove(p)
    }
    def greedyMerge(a: Array[String], l: String, r: String): Array[String] = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < a.length) {
        if (i + 1 < a.length && a(i) == l && a(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += a(i); i += 1 }
      }
      out.result()
    }

    var w = 0
    while (w < symTab.length) {
      pairMultiset(symTab(w)).foreach { case (p, mult) =>
        bump(p, freqs(w) * mult)
        where.getOrElseUpdate(p, mutable.HashSet.empty) += w
      }
      w += 1
    }

    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    while (round < k && heap.nonEmpty) {
      val (c, lhs, rhs) = heap.head
      merges += ((lhs, rhs, c))
      val winner = (lhs, rhs)
      val affected = where.getOrElse(winner, mutable.HashSet.empty).toArray
      affected.foreach { wi =>
        val oldPairs = pairMultiset(symTab(wi))
        symTab(wi) = greedyMerge(symTab(wi), lhs, rhs)
        val newPairs = pairMultiset(symTab(wi))
        (oldPairs.keySet ++ newPairs.keySet).foreach { p =>
          val d = newPairs.getOrElse(p, 0) - oldPairs.getOrElse(p, 0)
          bump(p, freqs(wi) * d.toLong)
          if (newPairs.contains(p))
            where.getOrElseUpdate(p, mutable.HashSet.empty) += wi
          else if (oldPairs.contains(p)) {
            where.get(p).foreach { set =>
              set -= wi
              if (set.isEmpty) where.remove(p)
            }
          }
        }
      }
      round += 1
    }
    merges.toIndexedSeq
  }

  /** The whole learned vocabulary applied in ONE codegen'd expression
    * (SCALING row 30) — replaces the K-stage `applyMerge` fold whose
    * operator count grew with merge depth. An exhausted induction (fewer
    * than K merges) empties the frame, the degradation contract the
    * q124/q129/q136 specs pin.
    */
  private def applyBpeFull(s: SparkSession, df: DataFrame, bpe: BpeModel): DataFrame =
    if (bpe.merges.size < BpeMerges) df.filter(lit(false))
    else df.withColumn("r", graft.functions.ApplyBpe.applyBpe(col("r"), bpe.pairs, s))

  /** Test-only window into the induction so the mutation audit can apply
    * the SAME learned merges in a perturbed order (family 35): one 1-row
    * frame per round, empty past exhaustion.
    */
  private[graft] def bpeChainForAudit(s: SparkSession, d: String): IndexedSeq[DataFrame] = {
    import s.implicits._
    val merges = bpeChain(s, d).merges
    (0 until BpeMerges).map(i => merges.lift(i).toSeq.toDF("lhs", "rhs", "pair_count"))
  }

  /** The learned merge pairs in learned order (tools apply them). */
  private[graft] def bpeMerges(s: SparkSession, d: String): IndexedSeq[(String, String)] =
    bpeChain(s, d).pairs

  /** Bench hook: build the persisted induction so suite timings measure
    * SERVE (training = write-time work, itemized in index_build_sec).
    * Returns the artifact root.
    */
  private[graft] def ensureBpe(s: SparkSession, d: String): String =
    bpeChain(s, d).root

  /** The merge listing as a LocalRelation of the learned merges: building
    * it submits no Spark job.
    */
  private def bpeListing(s: SparkSession, bpe: BpeModel): DataFrame = {
    import s.implicits._
    bpe.merges.zipWithIndex.map { case ((l, r, c), i0) => ((i0 + 1).toLong, l, r, l + r, c) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  val q120BpeMerges: Q = (s, d) => bpeListing(s, bpeChain(s, d))

  /** Full unrolled replay: round i extracts adjacent pairs from w{i-1}'s
    * symbolizations, takes the same deterministic argmax, and applies the
    * same wrapped-string replace — so a drift in ANY round's counting,
    * tie-break, or application moves a later round's winner and fails the
    * hash.
    */
  /** The q120 replay's WITH-chain — w0 (word counts, char-wrapped
    * symbolizations) and per round i: pairs p_i, 1-row argmax b_i,
    * post-merge w_i. Shared by q120's merge listing and q124's fertility
    * curve.
    */
  /** Per-round replay CTEs (pairs p_i, argmax b_i, post-merge w_i) — the
    * word-basis-independent half of the chain, shared by the v1 chain and
    * q152/q153's v2 (full-alphabet) chain. Expects a `w0` CTE in scope.
    */
  private def bpeRoundsCtes: String =
    (1 to BpeMerges).map { i =>
      s"""p$i AS (
         SELECT w.freq, w.syms[j] AS lhs, w.syms[j + 1] AS rhs
         FROM (SELECT freq, string_split(trim(r), '  ') AS syms FROM w${i - 1}) w,
              unnest(range(1, greatest(len(w.syms), 1))) AS u(j)
       ), b$i AS (
         SELECT lhs, rhs, sum(freq) AS pair_count
         FROM p$i GROUP BY lhs, rhs
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1
       ), w$i AS (
         SELECT w.freq,
                replace(w.r, ' ' || b.lhs || '  ' || b.rhs || ' ',
                        ' ' || b.lhs || b.rhs || ' ') AS r
         FROM w${i - 1} w, b$i b
       )"""
    }.mkString(", ")

  private val q120CteChain =
    s"""WITH toks AS (
         SELECT lower(t) AS word
         FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t
               FROM documents)
         WHERE regexp_matches(lower(t), '^[a-z]+$$')
       ), w0 AS (
         SELECT CAST(count(*) AS BIGINT) AS freq,
                regexp_replace(word, '(.)', ' \\1 ', 'g') AS r
         FROM toks GROUP BY word
       ), $bpeRoundsCtes"""

  private val q120Sql = {
    val out = (1 to BpeMerges).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_rank, lhs, rhs,
              lhs || rhs AS merged, CAST(pair_count AS BIGINT) AS pair_count
         FROM b$i"""
    }.mkString(" UNION ALL ")
    s"""$q120CteChain
       $out ORDER BY merge_rank"""
  }

  // -------------------------------------------------------------------------
  // q121: ANN recall evaluation — "measure, don't guess" for the serving
  // indexes. Before trusting an IVF layout at a given probe budget, a
  // production deployment measures recall@k against exact search on a
  // QUERY SAMPLE; this query is that harness: for each sampled query and
  // each nProbe in {1,2,4,8}, recall@10 of the IVF result against the
  // exact top-10 (computed by probing ALL cells — the same kernel, zero
  // probe pruning, so ground truth and candidate share every arithmetic
  // choice and tie-break). 100 TB shape: the probe sets broadcast (5
  // queries x <=16 cells), each ANN arm scans only its probed partitions,
  // and the exact arm — the expensive leg — runs over a bounded query
  // SAMPLE by design (that is how recall is estimated in practice; it is
  // an eval, not a serving path). The left join from the (nprobe x query)
  // grid keeps zero-recall cells visible instead of silently dropping
  // them. NOTE: near-uniform random test vectors are the documented
  // worst case for cell pruning (recall ~= scan fraction, see q27); the
  // harness is exactly what surfaces that.
  // -------------------------------------------------------------------------

  private val RecallProbes = Seq(1, 2, 4, 8)
  private val RecallK = 10

  val q121AnnRecall: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val store = ivfIndex(s, d)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    // r17 OPT: one scored pass for the whole curve (ivfBatchTopKCurve —
    // rank cells once, each tier is a rank filter; row-identical per tier
    // to the old per-nProbe passes, which re-scanned the store 5×). The
    // exact arm is the all-cells tier of the same curve.
    val allCells = store.centroids.length
    val curve = Similarity.ivfBatchTopKCurve(store.vectors, "embedding",
      store.centroids, queries, RecallK, (RecallProbes :+ allCells).distinct)
    val exact = curve.filter(col("nprobe") === allCells)
      .select(col("query_id"), col("vec_id"))
    val approx = curve.filter(col("nprobe").isin(RecallProbes: _*))
      .select(col("nprobe"), col("query_id"), col("vec_id"))
    val hits = approx.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_hit"))
    val grid = queries.select(col("query_id"))
      .crossJoin(s.createDataFrame(RecallProbes.map(Tuple1(_))).toDF("nprobe"))
    grid.join(hits, Seq("nprobe", "query_id"), "left")
      .select(col("nprobe"), col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        rnd(coalesce(col("n_hit"), lit(0L)) / lit(RecallK.toDouble), 6)
          .as("recall"))
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** Centroid-literal replay (same machinery as [[q62Sql]]): per-query
    * probe RANKS once, then every nProbe tier filters that rank — so the
    * oracle's ground truth (all cells) and candidates (tiered) share the
    * assignment arithmetic exactly like the engine's arms do.
    */
  private def q121Sql(cs: Array[Array[Double]]): String = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    val dExprs = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${cn2(i)} - 2.0*list_inner_product(nv, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    s"""WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), n AS (
         SELECT vec_id, label, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), dd AS (
         SELECT vec_id, label, v, $dExprs AS ds FROM n
       ), a AS (
         SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cell
         FROM dd WHERE vec_id <> 0
       ), q AS (
         SELECT vec_id AS query_id, v AS qv, ds FROM dd WHERE vec_id < 5
       ), pr AS (
         SELECT query_id, qv, i AS cell,
                row_number() OVER (PARTITION BY query_id ORDER BY dd, i) AS prank
         FROM (SELECT query_id, qv, unnest(range(${cs.length})) AS i,
                      unnest(ds) AS dd FROM q)
       ), ps AS (
         SELECT unnest([${RecallProbes.mkString(", ")}]) AS nprobe
       ), ann AS (
         SELECT ps.nprobe, p.query_id, a.vec_id,
                row_number() OVER (PARTITION BY ps.nprobe, p.query_id
                  ORDER BY list_cosine_similarity(a.v, p.qv) DESC, a.vec_id) AS rnk
         FROM a JOIN pr p USING (cell) CROSS JOIN ps
         WHERE p.prank <= ps.nprobe
       ), ex AS (
         SELECT p.query_id, a.vec_id,
                row_number() OVER (PARTITION BY p.query_id
                  ORDER BY list_cosine_similarity(a.v, p.qv) DESC, a.vec_id) AS rnk
         FROM a JOIN pr p USING (cell)
       ), hits AS (
         SELECT ann.nprobe, ann.query_id, count(*) AS n_hit
         FROM ann JOIN ex ON ann.query_id = ex.query_id AND ann.vec_id = ex.vec_id
         WHERE ann.rnk <= $RecallK AND ex.rnk <= $RecallK
         GROUP BY 1, 2
       )
       SELECT ps.nprobe, g.query_id,
              CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
              floor(coalesce(h.n_hit, 0) / ${RecallK.toDouble} * 1000000 + 0.5)
                / 1000000.0 AS recall
       FROM (SELECT query_id FROM q) g CROSS JOIN ps
       LEFT JOIN hits h ON h.nprobe = ps.nprobe AND h.query_id = g.query_id
       ORDER BY ps.nprobe, g.query_id"""
  }

  // -------------------------------------------------------------------------
  // q122: dedup threshold sensitivity — the ablation a pipeline runs
  // BEFORE committing to a near-dup cutoff (the FineWeb/RefinedWeb-style
  // threshold study): one LSH candidate pass (the q19 kernel at the
  // band family's design floor 0.5), then every candidate threshold is a
  // FILTER over the verified pair list — the sweep costs one broadcast
  // of 5 thresholds, not 5 dedup runs. Per threshold: surviving pairs,
  // docs touched, docs dropped, and the token savings those drops buy.
  // "Dropped" uses the one-pass greedy estimator — doc b is dropped iff
  // some DIRECT pair partner a < b has J >= t — deliberately NOT the
  // q75/q85 connected-component keeper (which would need a CC run per
  // threshold): on a transitive chain the estimator can keep a doc CC
  // would drop, so it is a savings LOWER bound, the cheap-but-sound
  // direction for a sizing study (QueriesSpec pins the direction against
  // q85's canonical drops at 0.5). 100 TB: the pair list is << corpus, so
  // every aggregate here is over pairs; the only corpus touch is the
  // pruned (doc_id, text) token-count scan semi-joined down to dropped
  // ids (broadcast — dropped docs are pair-bounded).
  // -------------------------------------------------------------------------

  // Grid top-weighted on purpose: the synthetic dup classes are small
  // edits (every sf0.01 pair sits at J >= 0.9), so uniform 0.5–0.9 steps
  // would measure a flat curve; 0.9/0.95/0.98 is where this corpus's
  // decision actually lives.
  private val DedupTaus = Seq(0.5, 0.7, 0.9, 0.95, 0.98)

  val q122ThresholdCurve: Q = (s, d) => {
    val docs = docsWide(s, d)
    // r17 OPT: same store-served pair basis as q111 — the threshold sweep
    // needs verified (pair, jaccard) rows, which the BandStore probe
    // yields without re-fingerprinting the corpus per serve
    val pairs = Dedup.storedNearDuplicates(docs,
        graft.sources.BandStore.ensure(s, docs, "doc_id", "text", d),
        "doc_id", "text", threshold = 0.5)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    val taus = s.createDataFrame(DedupTaus.map(Tuple1(_))).toDF("threshold")
    // the (threshold, pair) frame feeds THREE consumers (pair counts, doc
    // counts, drop savings) — checkpoint the pair-bounded frame once so
    // the LSH candidate pass really runs once (the q96 multi-consumer
    // barrier; without it Spark re-runs the band self-join per consumer)
    val tp = pairs.crossJoin(broadcast(taus))
      .filter(col("jaccard") >= col("threshold"))
      .localCheckpoint()
    val nPairs = tp.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = tp
      .select(col("threshold"),
        explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct()
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
    val dropped = tp.select(col("threshold"), col("b_id")).distinct()
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

  private val q122Sql =
    s"""$minhashPrsCte
       , taus AS (
         SELECT CAST(unnest([${DedupTaus.mkString(", ")}]) AS DOUBLE) AS threshold
       ), tp AS (
         SELECT t.threshold, p.a_id, p.b_id
         FROM prs p JOIN taus t ON p.jaccard >= t.threshold
       ), np AS (
         SELECT threshold, count(*) AS n_pairs FROM tp GROUP BY 1
       ), ndc AS (
         SELECT threshold, count(*) AS n_docs
         FROM (SELECT DISTINCT threshold, id
               FROM (SELECT threshold, unnest([a_id, b_id]) AS id FROM tp))
         GROUP BY 1
       ), dr AS (
         SELECT DISTINCT threshold, b_id FROM tp
       ), tk AS (
         SELECT doc_id,
                len(list_filter(regexp_split_to_array(text, '\\s+'),
                    t -> t <> '')) AS n_tok
         FROM documents
       ), sv AS (
         SELECT dr.threshold, count(*) AS n_dropped,
                sum(tk.n_tok) AS tok_saved
         FROM dr JOIN tk ON tk.doc_id = dr.b_id GROUP BY 1
       )
       SELECT t.threshold,
              CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
              CAST(coalesce(ndc.n_docs, 0) AS BIGINT) AS n_docs,
              CAST(coalesce(sv.n_dropped, 0) AS BIGINT) AS n_dropped,
              CAST(coalesce(sv.tok_saved, 0) AS BIGINT) AS tok_saved
       FROM taus t
       LEFT JOIN np ON np.threshold = t.threshold
       LEFT JOIN ndc ON ndc.threshold = t.threshold
       LEFT JOIN sv ON sv.threshold = t.threshold
       ORDER BY t.threshold"""

  // -------------------------------------------------------------------------
  // q123: per-benchmark-item contamination attribution — the report that
  // turns q57's per-DOC flags into the question an eval owner actually
  // asks: WHICH benchmark items are compromised, how badly, and which
  // corpus source is leaking them (the q111 attribution direction, applied
  // to decontamination). Same 8-gram basis and benchmark extracts as q57,
  // but the corpus side EXCLUDES the extract donors (doc_id >= 35): an
  // item's footprint counts independent corpus hits, not its own donor.
  // Zero-contamination items stay visible via the left join from the
  // item list (their top_source is NULL). 100 TB: the benchmark shingle
  // set broadcasts (eval suites are tiny); everything after the
  // broadcast-semi-join is hit-bounded — the per-source window ranks a
  // table of at most items x sources rows.
  // -------------------------------------------------------------------------

  val q123ContamAttribution: Q = (s, d) => {
    import graft.operators.WordShingles
    val docs = docsWide(s, d)
    val bench = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
      .select(col("doc_id").as("bench_id"),
        explode(WordShingles.wordShingles(
          substring(col("text"), 21, 120), 8)).as("shingle"))
    val corpus = docs.filter(col("doc_id") >= 35)
      .select(col("doc_id"), col("source"),
        explode(WordShingles.wordShingles(col("text"), 8)).as("shingle"))
    // hit-bounded and read by three consumers (per-item totals, the
    // top-source ranking, nothing else corpus-scale) — checkpoint once so
    // the corpus shingle pass is paid once (q96's barrier pattern)
    val hits = corpus.join(broadcast(bench), Seq("shingle"))
      .groupBy(col("bench_id"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_shared"))
      .localCheckpoint()
    val perItem = hits.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_shared")).as("n_hits"))
    val w = Window.partitionBy(col("bench_id"))
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

  private val q123Sql = {
    val g8 = (0 until 8).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH bw AS (
         SELECT doc_id AS bench_id, string_split(trim(substr(text, 21, 120)), ' ') AS w
         FROM documents WHERE doc_id >= 25 AND doc_id < 35
       ), bs AS (
         SELECT DISTINCT bench_id, shingle
         FROM bw, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> $g8)) AS u(shingle)
       ), cw AS (
         SELECT doc_id, source, string_split(trim(text), ' ') AS w
         FROM documents WHERE doc_id >= 35
       ), cs AS (
         SELECT DISTINCT doc_id, source, shingle
         FROM cw, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> $g8)) AS u(shingle)
       ), h AS (
         SELECT b.bench_id, c.doc_id, c.source, count(*) AS n_shared
         FROM cs c JOIN bs b USING (shingle)
         GROUP BY 1, 2, 3
       ), pb AS (
         SELECT bench_id, count(*) AS n_docs, sum(n_shared) AS n_hits
         FROM h GROUP BY 1
       ), srcs AS (
         SELECT bench_id, source, count(*) AS nds FROM h GROUP BY 1, 2
       ), top AS (
         SELECT bench_id, source AS top_source, nds AS top_source_docs
         FROM srcs
         QUALIFY row_number() OVER (PARTITION BY bench_id
           ORDER BY nds DESC, source) = 1
       )
       SELECT b.bench_id,
              CAST(coalesce(pb.n_docs, 0) AS BIGINT) AS n_docs,
              CAST(coalesce(pb.n_hits, 0) AS BIGINT) AS n_hits,
              top.top_source,
              CAST(coalesce(top.top_source_docs, 0) AS BIGINT) AS top_source_docs
       FROM (SELECT doc_id AS bench_id FROM documents
             WHERE doc_id >= 25 AND doc_id < 35) b
       LEFT JOIN pb USING (bench_id)
       LEFT JOIN top USING (bench_id)
       ORDER BY bench_id"""
  }

  // -------------------------------------------------------------------------
  // q124: tokenizer fertility curve — what each BPE merge actually BUYS,
  // measured on the corpus the tokenizer was induced from (the standard
  // tokenizer-eval axis: symbols per unit text, a.k.a. fertility /
  // compression). For every merge depth r in 0..BpeMerges: total corpus
  // symbol count (sum over the word table of freq x symbols-after-r-
  // merges), total characters, and the chars-per-symbol compression
  // ratio. The character total is recomputed FROM EACH ROUND'S
  // symbolization, so the oracle's per-depth row also proves every merge
  // application is character-preserving — a corrupted replace would move
  // total_chars, not just total_symbols. Same cost shape as q120: all
  // depths are 1-row aggregates over the checkpointed word table (the
  // corpus text is scanned once, by the table build).
  // -------------------------------------------------------------------------

  val q124FertilityCurve: Q = (s, d) => {
    // each depth r is ONE apply_bpe expression over the checkpointed word
    // table (the prefix merges[0..r) automaton), not the r-stage chained
    // frame — SCALING row 30; depth r past exhaustion stays the empty
    // frame (null totals), the chained degradation contract
    val bpe = bpeChain(s, d)
    val merges = bpe.pairs
    val w0 = bpe.words(s)
    (0 to BpeMerges).map { r =>
      val base =
        if (r == 0) w0
        else if (r <= merges.size)
          w0.withColumn("r",
            graft.functions.ApplyBpe.applyBpe(col("r"), merges.take(r), s))
        else w0.filter(lit(false))
      fertilityAgg(base, Seq.empty)
        .select(lit(r.toLong).as("merge_depth"),
          col("total_symbols"), col("total_chars"),
          rnd(col("total_chars").cast("double") / col("total_symbols"), 6)
            .as("chars_per_symbol"))
    }.reduce(_ union _).orderBy(col("merge_depth"))
  }

  private val q124Sql = {
    val rows = (0 to BpeMerges).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_depth,
              CAST(sum(freq * len(string_split(trim(r), '  '))) AS BIGINT) AS total_symbols,
              CAST(sum(freq * length(replace(r, ' ', ''))) AS BIGINT) AS total_chars
         FROM w$r"""
    }.mkString(" UNION ALL ")
    s"""${q120CteChain}
       SELECT merge_depth, total_symbols, total_chars,
              floor(CAST(total_chars AS DOUBLE) / total_symbols * 1000000 + 0.5)
                / 1000000.0 AS chars_per_symbol
       FROM ($rows)
       ORDER BY merge_depth"""
  }

  // -------------------------------------------------------------------------
  // q125: decontamination n-gram-length ablation — the parameter study
  // behind q57's fixed n=8 (the published pipelines disagree: GPT-3 used
  // 13-grams, FineWeb 10, some eval suites 8; too short over-flags common
  // phrasing, too long misses paraphrase-adjacent leaks). For each n in
  // {4, 6, 8, 12}: how many corpus docs the benchmark check would flag
  // and how many distinct-shingle hits they carry. ONE corpus pass
  // computes all four shingle families (per-n transforms fused into a
  // single flatten+explode over the same token scan — at 100 TB you do
  // not re-scan per parameter); the benchmark side stays a broadcast.
  // Population and window match q57 exactly, so the n=8 row must equal
  // q57's totals — a cross-query invariant QueriesSpec pins. Containment
  // (a 12-gram match implies 8/6/4-gram matches) makes n_docs
  // non-increasing in n.
  // -------------------------------------------------------------------------

  private val DecontamNs = Seq(4, 6, 8, 12)

  val q125DecontamAblation: Q = (s, d) => {
    import graft.operators.WordShingles
    val docs = docsWide(s, d)
    def fused(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      flatten(array(DecontamNs.map { n =>
        transform(WordShingles.wordShingles(text, n), sh =>
          struct(lit(n).as("ngram_n"), sh.as("shingle")))
      }: _*))
    val bench = docs.filter(col("doc_id") >= 25 && col("doc_id") < 35)
      .select(explode(fused(substring(col("text"), 21, 120))).as("g"))
      .select(col("g.ngram_n").as("ngram_n"), col("g.shingle").as("shingle"))
      .distinct()
    val hits = docs.filter(col("doc_id") >= 25)
      .select(col("doc_id"), explode(fused(col("text"))).as("g"))
      .select(col("doc_id"), col("g.ngram_n").as("ngram_n"),
        col("g.shingle").as("shingle"))
      .join(broadcast(bench), Seq("ngram_n", "shingle"))
      .groupBy(col("ngram_n"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    s.createDataFrame(DecontamNs.map(Tuple1(_))).toDF("ngram_n")
      .join(hits.groupBy(col("ngram_n"))
          .agg(count(lit(1)).as("n_docs_flagged"),
            sum(col("n_shared")).as("total_hits")),
        Seq("ngram_n"), "left")
      .select(col("ngram_n"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"),
        coalesce(col("total_hits"), lit(0L)).as("total_hits"))
      .orderBy(col("ngram_n"))
  }

  private val q125Sql = {
    def gN(n: Int) = (0 until n).map(k => s"w[i+$k]").mkString("||' '||")
    val blocks = DecontamNs.map { n =>
      s"""(SELECT $n AS ngram_n, doc_id, shingle
          FROM cw, unnest(list_transform(range(1, greatest(len(w) - ${n - 2}, 1)),
               i -> ${gN(n)})) AS u(shingle))"""
    }.mkString(" UNION ALL ")
    val bblocks = DecontamNs.map { n =>
      s"""(SELECT $n AS ngram_n, shingle
          FROM bw, unnest(list_transform(range(1, greatest(len(w) - ${n - 2}, 1)),
               i -> ${gN(n)})) AS u(shingle))"""
    }.mkString(" UNION ALL ")
    s"""WITH cw AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w
         FROM documents WHERE doc_id >= 25
       ), bw AS (
         SELECT string_split(trim(substr(text, 21, 120)), ' ') AS w
         FROM documents WHERE doc_id >= 25 AND doc_id < 35
       ), cs AS (
         SELECT DISTINCT ngram_n, doc_id, shingle FROM ($blocks)
       ), bs AS (
         SELECT DISTINCT ngram_n, shingle FROM ($bblocks)
       ), h AS (
         SELECT c.ngram_n, c.doc_id, count(*) AS n_shared
         FROM cs c JOIN bs b ON b.ngram_n = c.ngram_n AND b.shingle = c.shingle
         GROUP BY 1, 2
       ), agg AS (
         SELECT ngram_n, count(*) AS n_docs_flagged, sum(n_shared) AS total_hits
         FROM h GROUP BY 1
       )
       SELECT n.ngram_n,
              CAST(coalesce(a.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
              CAST(coalesce(a.total_hits, 0) AS BIGINT) AS total_hits
       FROM (SELECT unnest([${DecontamNs.mkString(", ")}]) AS ngram_n) n
       LEFT JOIN agg a USING (ngram_n)
       ORDER BY n.ngram_n"""
  }

  // -------------------------------------------------------------------------
  // q126: quality-aware dedup keeper — the keeper-choice upgrade real
  // curation pipelines make: inside a near-dup cluster, keep the
  // HIGHEST-QUALITY member, not the first-seen one (q85's min-id rule is
  // the ingest-order default; FineWeb-style pipelines re-rank cluster
  // members by quality before dropping). Per cluster: the first-seen
  // keeper (== cluster_id by construction), the quality keeper (argmax
  // q_score, doc_id tie-break), whether the upgrade CHANGES the keeper,
  // and the quality gained. 100 TB shape: cluster labels scale with the
  // corpus' DUPLICATED mass — at crawl scale a double-digit share of all
  // documents (FineWeb-class near-dedup drops ~30%+), i.e. a
  // corpus-fraction frame, NOT pair-bounded. So no broadcast() hint here:
  // an explicit hint cannot be demoted by AQE and would OOM instead of
  // shuffling; left unhinted, AQE still broadcasts at bench bytes
  // (runtime adaptivity, the right default — SCALING row 29). The
  // corpus-wide scan is the quality pass the recipe already pays
  // elsewhere (shared q22 kernel via scoredDocs).
  // -------------------------------------------------------------------------

  val q126QualityKeeper: Q = (s, d) => {
    val clusters = storedClusterLabels(s, d)
      .select(col("doc_id"), col("cluster_id"))
    // pair-bounded and read by three consumers (keeper window, first-seen
    // lookup, sizes) — checkpoint once so the corpus-wide quality pass is
    // paid once (q96's barrier pattern)
    val members = scoredDocs(s, d).select(col("doc_id"), col("q_score"))
      .join(clusters, Seq("doc_id"))
      .localCheckpoint()
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("q_score").desc, col("doc_id"))
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
        rnd(col("keeper_score") - col("first_score"), 4).as("q_gain"))
      .orderBy(col("cluster_id"))
  }

  /** q75's recursive-reachability replay + the shared quality CTE, with a
    * per-cluster argmax window — the oracle recomputes clusters, scores
    * and the keeper upgrade end-to-end.
    */
  private val q126Sql =
    s"""WITH RECURSIVE pairs AS (
         SELECT a_id, b_id FROM (${q19Sql.replace("\n", "\n  ")}) p
       ), edges AS (
         SELECT a_id AS x, b_id AS y FROM pairs
         UNION
         SELECT b_id, a_id FROM pairs
       ), nodes AS (
         SELECT DISTINCT x FROM edges
       ), reach(x, r) AS (
         SELECT x, x FROM nodes
         UNION
         SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.x
       ), cl AS (
         SELECT x AS doc_id, min(r) AS cluster_id FROM reach GROUP BY x
       ), $qualityCteSql, mem AS (
         SELECT cl.cluster_id, cl.doc_id, q.q_score
         FROM cl JOIN q USING (doc_id)
       ), kp AS (
         SELECT cluster_id, doc_id AS q_keeper, q_score AS keeper_score
         FROM mem
         QUALIFY row_number() OVER (PARTITION BY cluster_id
           ORDER BY q_score DESC, doc_id) = 1
       ), fs AS (
         SELECT cluster_id, q_score AS first_score
         FROM mem WHERE doc_id = cluster_id
       ), sz AS (
         SELECT cluster_id, count(*) AS n_members FROM mem GROUP BY 1
       )
       SELECT sz.cluster_id, CAST(sz.n_members AS BIGINT) AS n_members,
              kp.q_keeper, (kp.q_keeper <> sz.cluster_id) AS keeper_changed,
              floor((kp.keeper_score - fs.first_score) * 10000 + 0.5)
                / 10000.0 AS q_gain
       FROM sz
       JOIN kp USING (cluster_id)
       JOIN fs USING (cluster_id)
       ORDER BY cluster_id"""

  // -------------------------------------------------------------------------
  // q127: crawl-yield report — the per-dump novelty accounting a
  // continuously-fed pretraining corpus runs on every new crawl (the
  // FineWeb per-dump finding: later dumps are mostly redelivery, so
  // GLOBAL dedup scope decides the corpus's marginal value). A synthetic
  // "new dump" arrives (per doc_id % 5: exact redelivery / near-dup
  // " v2" edit / novel word-reversal — q96's batch convention), and each
  // dump doc is classified against the EXISTING corpus with precedence
  // exact > near > novel: exact via a content-sig semi-join (the q17/q44
  // signature basis; at full scale the q91 bloom pre-filter composes in
  // front), near via the persisted BandStore incremental probe (the
  // corpus is never re-fingerprinted — q96's machinery verbatim). The
  // deliverable: per source, docs/exact/near/novel counts, novel tokens,
  // and the token yield fraction. 100 TB: redelivery is corpus-scale in
  // a real re-crawl, so the class-flag joins are dump-keyed shuffle
  // joins, deliberately NOT broadcasts; the report is |sources| rows.
  // -------------------------------------------------------------------------

  private val DumpOffset = 700000L

  val q127CrawlYield: Q = (s, d) => {
    val docs = docsWide(s, d)
    val store = graft.sources.BandStore.ensure(s, docs, "doc_id", "text", d)
    // class selector strides OVER the source stripe (doc_id % 20 == the
    // source), so every source's dump mixes all three classes — doc_id % 5
    // would degenerate to one class per source
    val cls = pmod((col("doc_id") / 20).cast("long"), lit(5))
    // r17 OPT: the synthesized dump feeds FIVE consumers (its sig pass,
    // the near probe's fingerprint + candidate semi-join, and the final
    // flag-join + rollup) — each re-ran the corpus scan + the class
    // transforms; checkpoint the dump once (the q122 barrier pattern)
    val dump = docs.select((col("doc_id") + DumpOffset).as("doc_id"),
      col("source"),
      when(cls === 0, col("text"))
        .when(cls === 1, concat(col("text"), lit(" v2")))
        .otherwise(array_join(reverse(split(trim(col("text")), " ")), " "))
        .as("text"))
      .localCheckpoint()
    val corpusSigs = docs.select(sha2(col("text"), 256).as("sig")).distinct()
    // exact ids are checkpointed because they now feed TWO consumers: the
    // final flag join AND an anti-join that shrinks the near probe's batch
    val exactIds = dump.select(col("doc_id"), sha2(col("text"), 256).as("sig"))
      .join(corpusSigs, Seq("sig"), "left_semi")
      .select(col("doc_id")).withColumn("__ex", lit(true))
      .localCheckpoint()
    // r18: don't MinHash-probe docs the exact pass already matched — the
    // output's precedence masks their near flag (`when(__ex).when(__nr)`),
    // so fingerprint + candidate join + Jaccard verify on them is thrown
    // away. At bench the dump is 20% exact; on a production recrawl dump
    // (mostly unchanged pages) the skip is most of the probe (§1.2: don't
    // compute things you discard). Pair-identical for every surviving id.
    val nearIds = Dedup.incrementalNearDuplicates(
        dump.join(exactIds.select(col("doc_id")), Seq("doc_id"), "left_anti"),
        docs, store, "doc_id", "text", threshold = 0.5)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("__nr", lit(true))
    dump
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .withColumn("cls",
        when(col("__ex"), lit("exact"))
          .when(col("__nr"), lit("near"))
          .otherwise(lit("novel")))
      .withColumn("n_tok", size(TextAnalytics.tokens(col("text"))).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cls") === "exact", 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("cls") === "near", 1L).otherwise(0L)).as("n_near"),
        sum(when(col("cls") === "novel", 1L).otherwise(0L)).as("n_novel"),
        sum(when(col("cls") === "novel", col("n_tok")).otherwise(0L))
          .as("novel_tokens"),
        sum(col("n_tok")).as("dump_tokens"))
      // zero-token guard (the q113 0/0 lesson): an all-whitespace source
      // would divide 0/0 — Spark NULL, DuckDB NaN, gate divergence; an
      // unsampleable dump yields nothing by definition
      .withColumn("yield_pct",
        when(col("dump_tokens") > 0,
          rnd(col("novel_tokens").cast("double") / col("dump_tokens"), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("source"))
  }

  /** Full replay: the dump synthesis, the sig semi-join, the complete
    * banded probe (corpus + dump minhashes from the q19 hash family, any-
    * band candidates, exact Jaccard >= 0.5), precedence and the roll-up.
    */
  private val q127Sql = {
    import graft.functions.BandMinhash
    val numHashes = 32
    val bands = 8
    val rpb = numHashes / bands
    val minCols = (0 until numHashes)
      .map(k => s"min(${BandMinhash.sqlLcg(k, "x")}) AS m$k")
      .mkString(",\n           ")
    val bandCols = (0 until bands).map { b =>
      val acc = (0 until rpb).foldLeft(BandMinhash.FoldSeed.toString)(
        (a, r) => BandMinhash.sqlMix(a, s"m${b * rpb + r}"))
      s"$acc AS bh$b"
    }.mkString(",\n           ")
    val anyBand = (0 until bands).map(b => s"p.bh$b = c.bh$b").mkString(" OR ")
    s"""WITH dump0 AS (
         SELECT doc_id + $DumpOffset AS doc_id, source,
                CASE CAST((doc_id // 20) % 5 AS INT)
                  WHEN 0 THEN text
                  WHEN 1 THEN text || ' v2'
                  ELSE array_to_string(list_reverse(string_split(trim(text), ' ')), ' ')
                END AS text
         FROM documents
       ), csig AS (
         SELECT DISTINCT sha256(text) AS sig FROM documents
       ), ex AS (
         SELECT DISTINCT d.doc_id FROM dump0 d
         JOIN csig ON sha256(d.text) = csig.sig
       ), cwords AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
       ), csh AS (
         SELECT DISTINCT doc_id, shingle
         FROM cwords, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), bwords AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM dump0
       ), bsh AS (
         SELECT DISTINCT doc_id, shingle
         FROM bwords, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), chh AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM csh
       ), bhh AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM bsh
       ), cmins AS (
         SELECT doc_id,
           $minCols
         FROM chh GROUP BY doc_id
       ), bmins AS (
         SELECT doc_id,
           $minCols
         FROM bhh GROUP BY doc_id
       ), cbnd AS (
         SELECT doc_id,
           $bandCols
         FROM cmins
       ), bbnd AS (
         SELECT doc_id,
           $bandCols
         FROM bmins
       ), cand AS (
         SELECT DISTINCT p.doc_id AS b_id, c.doc_id AS c_id
         FROM bbnd p JOIN cbnd c ON ($anyBand)
       ), bsizes AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
       csizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
       inter AS (
         SELECT x.b_id, x.c_id, count(*) AS inter
         FROM cand x
         JOIN bsh sb ON sb.doc_id = x.b_id
         JOIN csh sc ON sc.doc_id = x.c_id AND sc.shingle = sb.shingle
         GROUP BY x.b_id, x.c_id
       ), nr AS (
         SELECT DISTINCT i.b_id AS doc_id
         FROM inter i
         JOIN bsizes sb ON sb.doc_id = i.b_id
         JOIN csizes sc ON sc.doc_id = i.c_id
         WHERE CAST(i.inter AS DOUBLE) / (sb.n + sc.n - i.inter) >= 0.5
       ), flagged AS (
         SELECT d.source,
                len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                    t -> t <> '')) AS n_tok,
                CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
                     WHEN nr.doc_id IS NOT NULL THEN 'near'
                     ELSE 'novel' END AS cls
         FROM dump0 d
         LEFT JOIN ex ON ex.doc_id = d.doc_id
         LEFT JOIN nr ON nr.doc_id = d.doc_id
       )
       SELECT source,
              count(*) AS n_docs,
              CAST(sum(CASE WHEN cls = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
              CAST(sum(CASE WHEN cls = 'near' THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
              CAST(sum(CASE WHEN cls = 'novel' THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
              CAST(sum(CASE WHEN cls = 'novel' THEN n_tok ELSE 0 END) AS BIGINT) AS novel_tokens,
              CAST(sum(n_tok) AS BIGINT) AS dump_tokens,
              CASE WHEN sum(n_tok) > 0 THEN
                floor(CAST(sum(CASE WHEN cls = 'novel' THEN n_tok ELSE 0 END) AS DOUBLE)
                  / sum(n_tok) * 1000000 + 0.5) / 1000000.0
              ELSE 0.0 END AS yield_pct
       FROM flagged GROUP BY source ORDER BY source"""
  }

  // -------------------------------------------------------------------------
  // q128: PQ recall vs rerank budget — q121's "measure the index" story
  // for the SECOND serving family: product quantization's accuracy knob
  // is the rerank budget (how many ADC candidates get exact-cosine
  // rescoring), and no deployment should pick it unmeasured. For each
  // rerank tier in {10, 20, 50} and each sampled query: recall@10 of the
  // PQ path against exact search. Ground truth = exact cosine over the
  // full vectors (what probing every cell degenerates to — the q121
  // contract); candidates = the q69/q73 codes-only ADC cut + rerank.
  // 100 TB: the ADC pass scans only the 8-byte codes table; every tier's
  // rerank set is id-broadcast into the full-vector probe; the exact arm
  // is query-sample-bounded by design. Near-uniform random vectors are
  // PQ's WORST case (quantization error ~ vector variance) — which is
  // exactly why the harness exists.
  // -------------------------------------------------------------------------

  private val PqRerankTiers = Seq(10, 20, 50)

  val q128PqRecall: Q = (s, d) => {
    val emb = tbl(s, d, "embeddings")
    val vectors = emb.filter(col("vec_id") =!= 0)
    val pq = pqIndex(s, d)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val store = ivfIndex(s, d)
    val exact = Similarity.ivfBatchTopK(store.vectors, "embedding",
        store.centroids, queries, RecallK, nProbe = store.centroids.length)
      .select(col("query_id"), col("vec_id"))
    // r17 OPT: one ADC pass + one exact-cosine rerank for the whole tier
    // sweep (pqBatchTopKCurve — ADC-rank once, each tier is a rank
    // filter; row-identical per tier to the old per-rerank passes, which
    // re-scanned the codes and re-probed the vectors 3×)
    val arms = Similarity.pqBatchTopKCurve(pq.codes, pq.codebooks, vectors,
        "embedding", queries, k = RecallK, reranks = PqRerankTiers)
      .select(col("rerank"), col("query_id"), col("vec_id"))
    val hits = arms.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("rerank"), col("query_id"))
      .agg(count(lit(1)).as("n_hit"))
    queries.select(col("query_id"))
      .crossJoin(s.createDataFrame(PqRerankTiers.map(Tuple1(_))).toDF("rerank"))
      .join(hits, Seq("rerank", "query_id"), "left")
      .select(col("rerank"), col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        rnd(coalesce(col("n_hit"), lit(0L)) / lit(RecallK.toDouble), 6)
          .as("recall"))
      .orderBy(col("rerank"), col("query_id"))
  }

  /** Codebook-literal replay (q73's machinery): codes + per-query ADC
    * RANKS once, every tier filters that rank; ground truth is plain
    * exact cosine top-10 (== the engine's probe-all-cells arm).
    */
  private def q128Sql(cbs: Array[Array[Array[Double]]]): String = {
    val m = cbs.length
    val ksub = cbs(0).length
    val dsub = cbs(0)(0).length
    val cn2 = graft.functions.VectorFunctions.codebookNorm2(cbs)
    def subSlice(c: String, mi: Int) =
      s"list_slice($c, ${mi * dsub + 1}, ${(mi + 1) * dsub})"
    val codeExprs = (0 until m).map { mi =>
      val ds = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"(${cn2(mi)(ci)} - 2.0*list_inner_product(${subSlice("nv", mi)}, $cl::DOUBLE[]))"
      }.mkString("[", ", ", "]")
      s"list_position($ds, list_min($ds)) - 1 AS c$mi"
    }.mkString(",\n                ")
    val adcExpr = (0 until m).map { mi =>
      val lut = (0 until ksub).map { ci =>
        val cl = cbs(mi)(ci).map(_.toString).mkString("[", ",", "]")
        s"list_inner_product(${subSlice("qn", mi)}, $cl::DOUBLE[])"
      }.mkString("[", ", ", "]")
      s"($lut[c$mi + 1])"
    }.mkString(" + ")
    s"""WITH e AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), n AS (
         SELECT vec_id, label, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), q AS (
         SELECT vec_id AS query_id, v AS qv, nv AS qn FROM n WHERE vec_id < 5
       ), c AS (
         SELECT vec_id, v, $codeExprs
         FROM n WHERE vec_id <> 0
       ), a AS (
         SELECT q.query_id, q.qv, c.vec_id, c.v,
                row_number() OVER (PARTITION BY q.query_id
                  ORDER BY ($adcExpr) DESC, c.vec_id) AS arank
         FROM c, q
       ), ts AS (
         SELECT unnest([${PqRerankTiers.mkString(", ")}]) AS rerank
       ), ann AS (
         SELECT ts.rerank, a.query_id, a.vec_id,
                row_number() OVER (PARTITION BY ts.rerank, a.query_id
                  ORDER BY list_cosine_similarity(a.v, a.qv) DESC, a.vec_id) AS rnk
         FROM a CROSS JOIN ts
         WHERE a.arank <= ts.rerank
       ), ex AS (
         SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rnk
         FROM a
       ), hits AS (
         SELECT ann.rerank, ann.query_id, count(*) AS n_hit
         FROM ann JOIN ex ON ann.query_id = ex.query_id AND ann.vec_id = ex.vec_id
         WHERE ann.rnk <= $RecallK AND ex.rnk <= $RecallK
         GROUP BY 1, 2
       )
       SELECT ts.rerank, g.query_id,
              CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
              floor(coalesce(h.n_hit, 0) / ${RecallK.toDouble} * 1000000 + 0.5)
                / 1000000.0 AS recall
       FROM (SELECT DISTINCT query_id FROM q) g CROSS JOIN ts
       LEFT JOIN hits h ON h.rerank = ts.rerank AND h.query_id = g.query_id
       ORDER BY ts.rerank, g.query_id"""
  }

  // -------------------------------------------------------------------------
  // q129: per-source tokenizer fertility — the fairness axis of q124's
  // curve: one GLOBAL tokenizer serves every source, so compression is
  // never uniform (the multilingual-fertility problem: a tokenizer fit
  // on the blend spends more symbols per character on under-represented
  // domains). The q120 induction's learned merges are applied — in
  // LEARNED ORDER, the BPE contract, since later merges consume earlier
  // merges' output symbols — to a per-(source, word) count table, and
  // each source reports its own chars-per-symbol at full merge depth.
  // 100 TB: the source-keyed word table is |sources| x Heaps-bounded;
  // the whole vocabulary applies as ONE apply_bpe expression over it
  // (broadcast automaton, SCALING row 30 — depth-independent plan); one
  // corpus scan (plus the induction's own — a production run trains
  // once and reuses the merge table).
  // -------------------------------------------------------------------------

  val q129FertilityBySource: Q = (s, d) => {
    val bpe = bpeChain(s, d)
    val sw0 = docsWide(s, d)
      .select(col("source"),
        explode(TextAnalytics.tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("freq"))
      .select(col("source"), col("freq"),
        graft.functions.CharInterleave.charInterleave(col("word")).as("r"))
    val applied = applyBpeFull(s, sw0, bpe)
    fertilityAgg(applied, Seq("source"))
      .select(col("source"), col("total_symbols"), col("total_chars"),
        rnd(col("total_chars").cast("double") / col("total_symbols"), 6)
          .as("chars_per_symbol"))
      .orderBy(col("source"))
  }

  /** The q120 chain (which proves the merges) + a source-keyed word table
    * pushed through the same six replaces in learned order.
    */
  private val q129Sql = {
    val applies = (1 to BpeMerges).map { i =>
      s"""s$i AS (
         SELECT s.source, s.freq,
                replace(s.r, ' ' || b.lhs || '  ' || b.rhs || ' ',
                        ' ' || b.lhs || b.rhs || ' ') AS r
         FROM s${i - 1} s, b$i b
       )"""
    }.mkString(", ")
    s"""$q120CteChain, stoks AS (
         SELECT source, lower(t) AS word
         FROM (SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS t
               FROM documents)
         WHERE regexp_matches(lower(t), '^[a-z]+$$')
       ), s0 AS (
         SELECT source, CAST(count(*) AS BIGINT) AS freq,
                regexp_replace(word, '(.)', ' \\1 ', 'g') AS r
         FROM stoks GROUP BY source, word
       ), $applies
       SELECT source,
              CAST(sum(freq * len(string_split(trim(r), '  '))) AS BIGINT)
                AS total_symbols,
              CAST(sum(freq * length(replace(r, ' ', ''))) AS BIGINT)
                AS total_chars,
              floor(CAST(sum(freq * length(replace(r, ' ', ''))) AS DOUBLE)
                / sum(freq * len(string_split(trim(r), '  '))) * 1000000 + 0.5)
                / 1000000.0 AS chars_per_symbol
       FROM s$BpeMerges GROUP BY source ORDER BY source"""
  }

  // -------------------------------------------------------------------------
  // q130: LSH banding-parameter planner — the study a pipeline runs BEFORE
  // committing to q19's (bands, rowsPerBand): for every config that
  // divides the 32-hash budget, the analytic S-curve catch probability
  // 1-(1-s^r)^b on each TRUE near-dup pair (exact shingle Jaccard >= 0.3,
  // the q18 kernel at a study floor below the 0.5 design point so the
  // curve's knee is visible) versus the EMPIRICAL catch — does the pair
  // collide in >= 1 band under that config. The signature is computed
  // ONCE per doc (RawMinhash) and re-FOLDED per config (BandFold) — six
  // configs cost one minhash pass, not six. Expected mass sums per-pair
  // 6dp micros as BIGINT, so the cross-engine sum is exact and
  // order-independent (no float-summation drift); s* = (1/b)^(1/r) is a
  // Scala-computed literal interpolated into BOTH engines. 100 TB: this
  // is a planning query over a SAMPLE by construction (the ground-truth
  // pair pass is the quadratic-within-block q18 exact form); the
  // signature pass is pruned to pair-participating docs via a broadcast
  // semi-join before any minhash is computed, and every aggregate is over
  // the pair list (<< corpus). Production then runs q19 at the chosen
  // config. Reference: the banding threshold analysis in MMDS ch.3 /
  // Leskovec et al. — the standard (1/b)^(1/r) design rule, measured
  // instead of assumed.
  // -------------------------------------------------------------------------

  private val LshStudyTau = 0.3
  private val LshNumHashes = 32
  /** (bands, rowsPerBand) grid: every factorization of the 32-hash budget. */
  private val LshConfigs: Seq[(Int, Int)] =
    Seq((1, 32), (2, 16), (4, 8), (8, 4), (16, 2), (32, 1))
  private def lshSStarMicros(b: Int, r: Int): Long =
    math.floor(math.pow(1.0 / b, 1.0 / r) * 1000000 + 0.5).toLong

  val q130LshTuning: Q = (s, d) => {
    import graft.functions.BandMinhash
    val docs = docsWide(s, d)
    // the pair list feeds THREE consumers (the id prune and both join
    // sides) — checkpoint the tiny frame so the quadratic-within-block
    // ground-truth pass runs ONCE (the q122 multi-consumer barrier;
    // without it the shingle self-join re-runs under every consumer)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", LshStudyTau)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .localCheckpoint()
    // signatures only for docs that appear in a true pair: the pair list
    // is tiny, so the id set broadcasts and the minhash pass never touches
    // the rest of the corpus; checkpointed because BOTH join sides consume
    // it (the minhash projection would otherwise run twice)
    val ids = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val sigs = docs.join(broadcast(ids), Seq("doc_id"))
      .select(col("doc_id"),
        BandMinhash.rawMinhashCol(
          graft.operators.WordShingles.wordShingles(col("text")),
          LshNumHashes).as("mins"))
      .localCheckpoint()
    // one row per true pair carrying both signatures; the SIX config
    // projections re-join the two materialized pair-bounded frames, which
    // costs broadcast joins over dozens of rows — nothing corpus-shaped
    // survives below this point
    val base = pairs
      .join(broadcast(sigs.select(col("doc_id").as("a_id"), col("mins").as("mins_a"))),
        Seq("a_id"))
      .join(broadcast(sigs.select(col("doc_id").as("b_id"), col("mins").as("mins_b"))),
        Seq("b_id"))
    val perCfg = LshConfigs.map { case (b, r) =>
      val folded = base
        .withColumn("fa", BandMinhash.bandFoldCol(col("mins_a"), b))
        .withColumn("fb", BandMinhash.bandFoldCol(col("mins_b"), b))
      val caught = (0 until b)
        .map(j => element_at(col("fa"), j + 1) === element_at(col("fb"), j + 1))
        .reduce(_ || _)
      folded.select(
        lit(b).as("bands"), lit(r).as("rows_per_band"),
        caught.as("caught"),
        floor((lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), lit(r.toDouble)),
          lit(b.toDouble))) * 1000000 + 0.5).cast("long").as("p_micros"))
    }.reduce(_ unionAll _)
    val agg = perCfg.groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"),
        sum(col("p_micros")).as("expected_micros"))
    val cfg = s.createDataFrame(
        LshConfigs.map { case (b, r) => (b, r, lshSStarMicros(b, r)) })
      .toDF("bands", "rows_per_band", "s_star_micros")
    cfg.join(agg, Seq("bands", "rows_per_band"), "left")
      .select(col("bands"), col("rows_per_band"), col("s_star_micros"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        coalesce(col("expected_micros"), lit(0L)).as("expected_micros"))
      .orderBy(col("bands"))
  }

  private val q130Sql = {
    import graft.functions.BandMinhash
    val minCols = (0 until LshNumHashes)
      .map(k => s"min(${BandMinhash.sqlLcg(k, "x")}) AS m$k")
      .mkString(",\n           ")
    // the textually-nested sqlMix chain the q19 oracle uses grows ~3^r
    // (sqlAffine mentions its argument three times), so a 32-deep band
    // fold must be a list_reduce with the seed as the first element —
    // same arithmetic, constant SQL size per band
    def foldSql(side: String, band: Int, rpb: Int): String = {
      val elems = (0 until rpb).map(r => s"$side.m${band * rpb + r}")
        .mkString(", ")
      s"list_reduce([CAST(${BandMinhash.FoldSeed} AS BIGINT), $elems], " +
        s"(a, b) -> ${BandMinhash.sqlMix("a", "b")})"
    }
    val evBranches = LshConfigs.map { case (b, r) =>
      val caught = (0 until b)
        .map(j => s"${foldSql("ma", j, r)} = ${foldSql("mb", j, r)}")
        .mkString("(", " OR ", ")")
      s"""SELECT $b AS bands, $r AS rows_per_band, p.jaccard, $caught AS caught
         FROM pairs p
         JOIN mins ma ON ma.doc_id = p.a_id
         JOIN mins mb ON mb.doc_id = p.b_id"""
    }.mkString("\n         UNION ALL\n         ")
    val cfgVals = LshConfigs
      .map { case (b, r) => s"($b, $r, ${lshSStarMicros(b, r)})" }
      .mkString(", ")
    s"""WITH words AS (
         SELECT doc_id, lang, string_split(trim(text), ' ') AS w FROM documents
       ), sh AS (
         SELECT DISTINCT doc_id, lang, shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       ip AS (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         FROM sh a JOIN sh b ON a.lang = b.lang AND a.shingle = b.shingle
           AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       ), pairs AS (
         SELECT a_id, b_id,
                floor((CAST(inter AS DOUBLE) / (sa.n + sb.n - inter))
                  * 1000000 + 0.5) / 1000000.0 AS jaccard
         FROM ip JOIN sizes sa ON sa.doc_id = a_id
                 JOIN sizes sb ON sb.doc_id = b_id
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $LshStudyTau
       ), ids AS (
         SELECT DISTINCT id
         FROM (SELECT unnest([a_id, b_id]) AS id FROM pairs)
       ), h AS (
         SELECT sh.doc_id,
                CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x
         FROM sh JOIN ids ON ids.id = sh.doc_id
       ), mins AS (
         SELECT doc_id,
           $minCols
         FROM h GROUP BY doc_id
       ), ev AS (
         $evBranches
       ), agg AS (
         SELECT bands, rows_per_band, count(*) AS n_pairs,
                sum(CASE WHEN caught THEN 1 ELSE 0 END) AS n_caught,
                sum(CAST(floor((1 - power(1 - power(jaccard,
                      CAST(rows_per_band AS DOUBLE)),
                      CAST(bands AS DOUBLE))) * 1000000 + 0.5) AS BIGINT))
                  AS expected_micros
         FROM ev GROUP BY 1, 2
       ), cfg(bands, rows_per_band, s_star_micros) AS (
         VALUES $cfgVals
       )
       SELECT cfg.bands, cfg.rows_per_band,
              CAST(cfg.s_star_micros AS BIGINT) AS s_star_micros,
              CAST(coalesce(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
              CAST(coalesce(agg.n_caught, 0) AS BIGINT) AS n_caught,
              CAST(coalesce(agg.expected_micros, 0) AS BIGINT)
                AS expected_micros
       FROM cfg LEFT JOIN agg
         ON agg.bands = cfg.bands AND agg.rows_per_band = cfg.rows_per_band
       ORDER BY cfg.bands"""
  }

  // -------------------------------------------------------------------------
  // q131: data-constrained repetition value — what the q113 blend's epochs
  // are WORTH: under the Muennighoff et al. 2023 data-constrained scaling
  // fit, tokens repeated past the first epoch decay in value, with
  // effective epochs E' = min(E, 1) + R*·(1 − exp(−R/R*)) for R =
  // max(E − 1, 0) repetitions and the fitted half-life R* ≈ 15.4 (the
  // min(E, 1) term is Muennighoff's U' = min(D, U): a source allocated
  // under one epoch contributes only the fraction it is actually seen). Per source this query
  // reports the blend's raw epochs (q113's α-temperature allocation at
  // the same 2× budget), the effective epochs, the effective token count
  // E'·n_tok, and the value ratio E'/E — flagging sources whose
  // repetition burns compute (ratio below 0.9). The flag compares exact
  // BIGINT micros, not floats, so it cannot drift cross-engine. 100 TB
  // shape: identical to q113 — one partial-aggregated groupBy(source)
  // over a pruned (source, text) scan, a broadcast 1-row normalizer,
  // window-free; the decay math is per-source arithmetic over
  // |sources| rows.
  // -------------------------------------------------------------------------

  private val RepHalfLife = 15.4 // Muennighoff et al. 2023 fitted R*_D
  private val RepValueFloorMicros = 900000L // flag sources under 0.9 value

  val q131RepeatValue: Q = (s, d) => {
    val st = docsWide(s, d)
      .select(col("source"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("n_tok"))
      .filter(col("n_tok") > 0)
    val tot = st.agg(sum(col("n_tok")).cast("double").as("total_tok"),
      sum(pow(col("n_tok").cast("double"), MixAlpha)).as("z"))
    st.crossJoin(broadcast(tot))
      .withColumn("epochs_raw",
        lit(MixBudgetMult) * col("total_tok")
          * (pow(col("n_tok").cast("double"), MixAlpha) / col("z"))
          / col("n_tok"))
      .withColumn("reps", greatest(col("epochs_raw") - 1.0, lit(0.0)))
      // first term = min(E, 1): a source allocated UNDER one epoch sees
      // only that fraction of its unique tokens (Muennighoff's U' =
      // min(D, U)); only mass past epoch 1 decays
      .withColumn("eff_raw",
        least(col("epochs_raw"), lit(1.0)) + lit(RepHalfLife)
          * (lit(1.0) - exp(-col("reps") / lit(RepHalfLife))))
      .withColumn("epochs_micros",
        floor(col("epochs_raw") * 1000000 + 0.5).cast("long"))
      .withColumn("eff_epochs_micros",
        floor(col("eff_raw") * 1000000 + 0.5).cast("long"))
      .withColumn("value_micros",
        floor(col("eff_raw") / col("epochs_raw") * 1000000 + 0.5).cast("long"))
      .select(col("source"), col("n_tok"),
        col("epochs_micros"), col("eff_epochs_micros"),
        floor(col("n_tok") * col("eff_raw") + 0.5).cast("long")
          .as("eff_tok"),
        col("value_micros"),
        (col("value_micros") < RepValueFloorMicros).as("diminishing"))
      .orderBy(col("source"))
  }

  private val q131Sql =
    s"""WITH t AS (
         SELECT source,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), s AS (
         SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok
         FROM t GROUP BY source HAVING sum(n_tok) > 0
       ), tot AS (
         SELECT CAST(sum(n_tok) AS DOUBLE) AS total_tok,
                sum(power(CAST(n_tok AS DOUBLE), $MixAlpha)) AS z
         FROM s
       ), e AS (
         SELECT source, n_tok,
                $MixBudgetMult * total_tok
                  * (power(CAST(n_tok AS DOUBLE), $MixAlpha) / z)
                  / n_tok AS epochs_raw
         FROM s CROSS JOIN tot
       ), v AS (
         SELECT source, n_tok, epochs_raw,
                least(epochs_raw, 1.0) + $RepHalfLife
                  * (1.0 - exp(-greatest(epochs_raw - 1.0, 0.0)
                               / $RepHalfLife)) AS eff_raw
         FROM e
       )
       SELECT source, n_tok,
              CAST(floor(epochs_raw * 1000000 + 0.5) AS BIGINT)
                AS epochs_micros,
              CAST(floor(eff_raw * 1000000 + 0.5) AS BIGINT)
                AS eff_epochs_micros,
              CAST(floor(n_tok * eff_raw + 0.5) AS BIGINT) AS eff_tok,
              CAST(floor(eff_raw / epochs_raw * 1000000 + 0.5) AS BIGINT)
                AS value_micros,
              (CAST(floor(eff_raw / epochs_raw * 1000000 + 0.5) AS BIGINT)
                 < $RepValueFloorMicros) AS diminishing
       FROM v ORDER BY source"""

  // -------------------------------------------------------------------------
  // q132: quality-classifier calibration — the reliability table a
  // curation owner reads before trusting q67's learned gate: per FIXED
  // logit bin (floor of the 6dp-rounded log-odds, clamped to [-5, 4] —
  // fixed edges, not corpus percentiles, so the report needs no global
  // sort and bins are comparable across corpus snapshots), the document
  // count, how many carry the positive silver label (the q22 rule the
  // classifier was distilled from), how many the classifier keeps, and
  // how many it gets RIGHT. A well-calibrated distillation shows label
  // share rising monotonically with the bin and the disagreements
  // concentrated around logit 0 — anything else localizes WHERE the
  // cheap model diverges from the rule before it gates a 100 TB corpus.
  // Scale shape: q67's single narrow serving pass (write-time
  // coefficients, no training in query time) + one groupBy over <= 10
  // bin keys; binning on the shared 6dp grid keeps the floor()
  // cross-engine-exact.
  // -------------------------------------------------------------------------

  private val CalBinLo = -5
  private val CalBinHi = 4

  val q132QualityCalibration: Q = (s, d) => {
    val docs = docsWide(s, d)
    val w = qcWeights(s, d)
    QualityModel.features(docs)
      .withColumn("logit6", rnd(QualityModel.zCol(w), 6))
      .withColumn("bin",
        least(greatest(floor(col("logit6")).cast("int"), lit(CalBinLo)),
          lit(CalBinHi)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y").cast("long")).as("n_label_pos"),
        sum(when(col("logit6") > 0.0, 1L).otherwise(0L)).as("n_pred_keep"),
        sum(when((col("logit6") > 0.0) === (col("y") === 1), 1L)
          .otherwise(0L)).as("n_agree"))
      .orderBy(col("bin"))
  }

  /** Calibration replay from the exported coefficient literals — the same
    * z/label CTEs as [[q67Sql]], regrouped by the fixed logit bin.
    */
  private def q132Sql(w: Array[Double]): String = {
    val wvals = w.zipWithIndex
      .map { case (v, b) => s"($b, CAST($v AS DOUBLE))" }.mkString(", ")
    val stop = TextAnalytics.EnStopwords.map(x => s"'$x'").mkString("[", ",", "]")
    s"""WITH d AS (
         SELECT doc_id, lang, list_filter(regexp_split_to_array(text, '\\s+'),
                                          t -> t <> '') AS toks FROM documents
       ), lab AS (
         SELECT doc_id,
                (0.2 * least(CAST(len(toks) AS DOUBLE)/100.0, 1.0)
                 + 0.5 * (CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS DOUBLE)
                          / len(toks))
                 + 0.3 * (1.0 - least(abs(CAST(list_aggregate(list_transform(toks,
                            x -> length(x)), 'sum') AS DOUBLE)/len(toks) - 5.0)/10.0, 1.0))
                 >= $QcTau) AS yb
         FROM d WHERE len(toks) > 0
       ), tb AS (
         SELECT doc_id,
                CAST(CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) % $QcB AS INT) AS b
         FROM d, unnest(d.toks) AS u(tok)
       ), n AS (
         SELECT doc_id, count(*) AS n FROM tb GROUP BY doc_id
       ), xr AS (
         SELECT tf.doc_id, tf.b, CAST(tf.c AS DOUBLE) / n.n AS x
         FROM (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY doc_id, b) tf
         JOIN n USING (doc_id)
         UNION ALL
         SELECT doc_id, $QcB AS b, least(CAST(n AS DOUBLE) / 100.0, 1.0) AS x FROM n
         UNION ALL
         SELECT doc_id, ${QcB + 1} AS b, 1.0 AS x FROM n
       ), w(b, w) AS (
         VALUES $wvals
       ), z AS (
         SELECT xr.doc_id, floor(sum(w.w * xr.x ORDER BY xr.b) * 1000000 + 0.5)
                  / 1000000.0 AS logit6
         FROM xr JOIN w USING (b)
         GROUP BY xr.doc_id
       )
       SELECT CAST(least(greatest(floor(z.logit6), $CalBinLo), $CalBinHi)
                AS INT) AS bin,
              count(*) AS n_docs,
              CAST(sum(CASE WHEN lab.yb THEN 1 ELSE 0 END) AS BIGINT)
                AS n_label_pos,
              CAST(sum(CASE WHEN z.logit6 > 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_pred_keep,
              CAST(sum(CASE WHEN (z.logit6 > 0.0) = lab.yb THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree
       FROM z JOIN lab USING (doc_id)
       GROUP BY 1 ORDER BY bin"""
  }

  // -------------------------------------------------------------------------
  // q133: per-label embedding centroid drift — the embedding-space
  // fingerprint a pipeline monitors across sources or corpus snapshots
  // (the vector-side analogue of q110's token-distribution JS): each
  // label's mean vector compared by cosine against the corpus-wide mean.
  // A label whose centroid swings away from the blend signals ingest
  // drift (new domain, broken encoder, poisoned source) before any
  // downstream eval does. 100 TB shape: the dim-explode is the standard
  // 64x row map; partial aggregation reduces it map-side to
  // |labels| x dims keys (checkpointed once — its two consumers must not
  // re-scan the corpus), the global centroid derives from the label
  // sums (no second corpus pass) and broadcasts back; the cosine is an
  // ordered fold over a |dims|-bounded collected array (q71's
  // ascending-index ordered-sum discipline, so the float fold is
  // replayable) — window-free, join-bounded by labels x dims.
  // -------------------------------------------------------------------------

  val q133EmbeddingDrift: Q = (s, d) => {
    val ex = tbl(s, d, "embeddings")
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
    // the |labels| x dims sum frame feeds TWO consumers (the global
    // centroid and the per-label join) — checkpoint it so the embeddings
    // scan runs once (the q122 multi-consumer barrier); the materialized
    // frame is labels x dims rows, trivially bounded
    val lc = ex.groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .localCheckpoint()
    val gc = lc.groupBy(col("pos"))
      .agg(sum(col("sv")).as("gs"), sum(col("n")).as("gn"))
    lc.join(broadcast(gc), Seq("pos"))
      .withColumn("m", col("sv") / col("n"))
      .withColumn("g", col("gs") / col("gn"))
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
        rnd(when(col("nm") * col("ng") === 0.0, lit(0.0))
          .otherwise(col("dot") / sqrt(col("nm") * col("ng"))), 6)
          .as("centroid_cos"))
      .orderBy(col("label"))
  }

  private val q133Sql =
    """WITH ex AS (
         SELECT label, u.pos, CAST(embedding[u.pos] AS DOUBLE) AS v
         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(pos)
       ), lc AS (
         SELECT label, pos, sum(v) AS sv, CAST(count(*) AS BIGINT) AS n
         FROM ex GROUP BY label, pos
       ), gc AS (
         SELECT pos, sum(sv) AS gs, CAST(sum(n) AS BIGINT) AS gn
         FROM lc GROUP BY pos
       ), j AS (
         SELECT lc.label, lc.pos, lc.n,
                lc.sv / lc.n AS m, gc.gs / gc.gn AS g
         FROM lc JOIN gc USING (pos)
       ), f AS (
         SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
                sum(m * g ORDER BY pos) AS dot,
                sum(m * m ORDER BY pos) AS nm,
                sum(g * g ORDER BY pos) AS ng
         FROM j GROUP BY label
       )
       SELECT label, n_vecs,
              CASE WHEN nm * ng = 0 THEN 0.0
                   ELSE floor(dot / sqrt(nm * ng) * 1000000 + 0.5) / 1000000.0
              END AS centroid_cos
       FROM f ORDER BY label"""

  // -------------------------------------------------------------------------
  // q134: document-length histogram on power-of-two buckets — the size
  // profile read before choosing a training sequence length (q115 then
  // measures packing at the candidate lengths this histogram suggests).
  // Buckets are floor(log2(n_tok)) computed BIT-EXACTLY as the binary
  // digit count minus one (length(bin(n)) - 1) — no libm log2 whose
  // boundary ulps could disagree between engines at exact powers of two.
  // 100 TB shape: one pruned text scan, map-side-combined groupBy over
  // <= 64 bucket keys, a broadcast 1-row total; window-free.
  // -------------------------------------------------------------------------

  val q134LengthHistogram: Q = (s, d) => {
    val nt = docsWide(s, d)
      .select(size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bucket", (length(bin(col("n_tok"))) - 1).cast("int"))
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

  private val q134Sql =
    """WITH nt AS (
         SELECT CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), b AS (
         SELECT n_tok, CAST(length(printf('%b', n_tok)) - 1 AS INT) AS bucket
         FROM nt WHERE n_tok > 0
       ), ht AS (
         SELECT bucket, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM b GROUP BY bucket
       ), tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt FROM ht)
       SELECT bucket,
              (CAST(1 AS BIGINT) << bucket) AS lo_tok,
              (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi_tok,
              n_docs, n_tokens,
              CAST(floor(n_tokens / tt * 1000000 + 0.5) AS BIGINT)
                AS tok_share_micros
       FROM ht CROSS JOIN tot
       ORDER BY bucket"""

  // -------------------------------------------------------------------------
  // q135: decontamination method overlap — the ablation that justifies
  // running BOTH scrubbers: against ONE benchmark with two leak shapes,
  // cross-tabulate the corpus by exact-8-gram flag (q57's method) x
  // fuzzy-MinHash flag (q93's method, banding + J >= 0.3 verify). The
  // benchmark mixes (a) SHORT verbatim extracts (120 chars, q57's shape)
  // — every 8-gram survives so exact catches the donor, but the extract
  // is a small fraction of the donor's shingle set so Jaccard sits under
  // the fuzzy threshold: the EXACT-ONLY cell — and (b) PARAPHRASED long
  // extracts (300 chars, every 8th word swapped for a marker): every
  // 8-gram window contains a swap so exact matching is blind, while
  // ~5/8 of the 3-shingles survive and Jaccard stays over 0.3: the
  // FUZZY-ONLY cell. Both cells non-empty is the measured argument for
  // the two-method scrub (QueriesSpec pins it). 100 TB shape: each
  // method is its own broadcast-bench corpus pass (that cost is the
  // methods', not the cross-tab's); both flag sets are benchmark-bounded
  // and broadcast into a pruned doc_id scan; the aggregate has exactly
  // 4 keys, and the 4-row combo frame left-joins so empty cells stay
  // visible.
  // -------------------------------------------------------------------------

  val q135DecontamOverlap: Q = (s, d) => {
    import graft.operators.WordShingles
    val docs = docsWide(s, d)
    // paraphrase: every 8th word (0-based) becomes a marker token absent
    // from the corpus — kills every 8-gram, keeps ~5/8 of the 3-shingles
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
    // r17 OPT note: measured the BandStore probe (storedFuzzyDecontaminate,
    // q99's fuzzy-gate shape) against this inline broadcast-bench scan at
    // sf0.1 — the store probe LOST (2.10 s vs 1.74 s warm min): the probe's
    // eager candidate checkpoint + segment reads cost more than one
    // fingerprint pass over this corpus. Kept inline; at 100 TB the probe
    // form wins (no corpus re-fingerprint) and q99 already ships it.
    val fuzzy = Dedup.fuzzyDecontaminate(docs, bench, "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.3)
      .select(col("doc_id"), lit(true).as("flag_fuzzy"))
    val benchSh = bench
      .select(explode(WordShingles.wordShingles(col("text"), 8)).as("shingle"))
      .distinct()
    val exact = docs
      .select(col("doc_id"),
        explode(WordShingles.wordShingles(col("text"), 8)).as("shingle"))
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
    val combos = s.createDataFrame(
        Seq((false, false), (false, true), (true, false), (true, true)))
      .toDF("flag_exact", "flag_fuzzy")
    combos.join(broadcast(agg), Seq("flag_exact", "flag_fuzzy"), "left")
      .select(col("flag_exact"), col("flag_fuzzy"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("flag_exact"), col("flag_fuzzy"))
  }

  private val q135Sql = {
    import graft.functions.BandMinhash
    val numHashes = 32
    val bands = 8
    val rpb = numHashes / bands
    val g8 = (0 until 8).map(k => s"w[i+$k]").mkString("||' '||")
    val minCols = (0 until numHashes)
      .map(k => s"min(${BandMinhash.sqlLcg(k, "x")}) AS m$k")
      .mkString(",\n           ")
    val bandCols = (0 until bands).map { b =>
      val acc = (0 until rpb).foldLeft(BandMinhash.FoldSeed.toString)(
        (a, r) => BandMinhash.sqlMix(a, s"m${b * rpb + r}"))
      s"$acc AS bh$b"
    }.mkString(",\n           ")
    val anyBand = (0 until bands).map(b => s"t.bh$b = b.bh$b").mkString(" OR ")
    s"""WITH bench AS (
         SELECT doc_id, substr(text, 21, 120) AS text
         FROM documents WHERE doc_id >= 25 AND doc_id < 35
         UNION ALL
         SELECT doc_id + 1000 AS doc_id,
                array_to_string(list_transform(
                  string_split(trim(substr(text, 21, 300)), ' '),
                  (x, i) -> CASE WHEN (i - 1) % 8 = 0
                                 THEN 'pz' || CAST((i - 1) // 8 AS INT)
                                 ELSE x END), ' ') AS text
         FROM documents WHERE doc_id >= 5 AND doc_id < 15
       ), words AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
       ), sh AS (
         SELECT DISTINCT doc_id, shingle
         FROM words, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), bwords AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM bench
       ), bsh AS (
         SELECT DISTINCT doc_id, shingle
         FROM bwords, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(shingle)
       ), h AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM sh
       ), hb AS (
         SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) AS x FROM bsh
       ), mins AS (
         SELECT doc_id,
           $minCols
         FROM h GROUP BY doc_id
       ), minsb AS (
         SELECT doc_id,
           $minCols
         FROM hb GROUP BY doc_id
       ), bnd AS (
         SELECT doc_id,
           $bandCols
         FROM mins
       ), bndb AS (
         SELECT doc_id,
           $bandCols
         FROM minsb
       ), cand AS (
         SELECT t.doc_id AS t_id, b.doc_id AS bench_id
         FROM bnd t JOIN bndb b ON ($anyBand)
       ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       sizesb AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
       inter AS (
         SELECT c.t_id, c.bench_id, count(*) AS inter
         FROM cand c
         JOIN sh st ON st.doc_id = c.t_id
         JOIN bsh sb ON sb.doc_id = c.bench_id AND sb.shingle = st.shingle
         GROUP BY c.t_id, c.bench_id
       ), fz AS (
         SELECT DISTINCT i.t_id AS doc_id
         FROM inter i
         JOIN sizes st ON st.doc_id = i.t_id
         JOIN sizesb sb ON sb.doc_id = i.bench_id
         WHERE CAST(i.inter AS DOUBLE) / (st.n + sb.n - i.inter) >= 0.3
       ), w8 AS (
         SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
       ), cs8 AS (
         SELECT DISTINCT doc_id, shingle
         FROM w8, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> $g8)) AS u(shingle)
       ), bw8 AS (
         SELECT string_split(trim(text), ' ') AS w FROM bench
       ), bs8 AS (
         SELECT DISTINCT shingle
         FROM bw8, unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
              i -> $g8)) AS u(shingle)
       ), ex AS (
         SELECT DISTINCT cs8.doc_id FROM cs8 JOIN bs8 USING (shingle)
       ), fl AS (
         SELECT d.doc_id,
                (ex.doc_id IS NOT NULL) AS flag_exact,
                (fz.doc_id IS NOT NULL) AS flag_fuzzy
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN ex ON ex.doc_id = d.doc_id
         LEFT JOIN fz ON fz.doc_id = d.doc_id
       ), agg AS (
         SELECT flag_exact, flag_fuzzy, count(*) AS n_docs
         FROM fl GROUP BY 1, 2
       ), combos(flag_exact, flag_fuzzy) AS (
         VALUES (false, false), (false, true), (true, false), (true, true)
       )
       SELECT c.flag_exact, c.flag_fuzzy,
              CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs
       FROM combos c
       LEFT JOIN agg a
         ON a.flag_exact = c.flag_exact AND a.flag_fuzzy = c.flag_fuzzy
       ORDER BY c.flag_exact, c.flag_fuzzy"""
  }

  // -------------------------------------------------------------------------
  // q136: tokenizer staleness on an incoming batch — the ops monitor a
  // continuously-fed corpus runs before REUSING its frozen tokenizer on
  // new data: apply the corpus-trained q120 merges (frozen, in learned
  // order) to a synthetic incoming batch that mixes redelivered text
  // with an alphabet-shifted slice (a stand-in for a new domain whose
  // byte statistics the tokenizer never saw), and report fertility per
  // slice. On the stable slice chars-per-symbol reproduces the corpus
  // compression; on the shifted slice the learned merges never fire and
  // cps collapses toward the unmerged 1.0 — the measured signal that the
  // tokenizer needs retraining before the new domain is ingested at
  // scale (the q127 crawl-yield discipline, applied to the tokenizer
  // axis). 100 TB: the batch word table is Heaps-bounded per slice; the
  // merge applications are ONE apply_bpe expression (broadcast automaton,
  // SCALING row 30 — depth-independent plan); the
  // induction itself is the persisted write-time artifact.
  // -------------------------------------------------------------------------

  private val DriftAlpha = "abcdefghijklmnopqrstuvwxyz"
  private val DriftPermuted = "qwertyuiopasdfghjklzxcvbnm"

  val q136TokenizerDrift: Q = (s, d) => {
    val bpe = bpeChain(s, d)
    val docs = docsWide(s, d)
    val batch = docs.select(
      when(col("doc_id") % 2 === 0, lit("stable")).otherwise(lit("shifted"))
        .as("slice"),
      when(col("doc_id") % 2 === 0, lower(col("text")))
        .otherwise(translate(lower(col("text")), DriftAlpha, DriftPermuted))
        .as("text"))
    val sw0 = batch
      .select(col("slice"), explode(TextAnalytics.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("slice"), col("word")).agg(count(lit(1)).as("freq"))
      .select(col("slice"), col("freq"),
        graft.functions.CharInterleave.charInterleave(col("word")).as("r"))
    val applied = applyBpeFull(s, sw0, bpe)
    fertilityAgg(applied, Seq("slice"))
      .select(col("slice"), col("total_symbols"), col("total_chars"),
        rnd(col("total_chars").cast("double") / col("total_symbols"), 6)
          .as("chars_per_symbol"))
      .orderBy(col("slice"))
  }

  /** The q120 induction chain (frozen merges proven by replay) + the
    * batch synthesis + the same six replaces over the slice-keyed word
    * table (q129's replay shape with the drift batch as input).
    */
  private val q136Sql = {
    val applies = (1 to BpeMerges).map { i =>
      s"""t$i AS (
         SELECT t.slice, t.freq,
                replace(t.r, ' ' || b.lhs || '  ' || b.rhs || ' ',
                        ' ' || b.lhs || b.rhs || ' ') AS r
         FROM t${i - 1} t, b$i b
       )"""
    }.mkString(", ")
    s"""$q120CteChain, batch AS (
         SELECT CASE WHEN doc_id % 2 = 0 THEN 'stable' ELSE 'shifted' END
                  AS slice,
                CASE WHEN doc_id % 2 = 0 THEN lower(text)
                     ELSE translate(lower(text), '$DriftAlpha', '$DriftPermuted')
                END AS text
         FROM documents
       ), btoks AS (
         SELECT slice, t AS word
         FROM (SELECT slice, unnest(regexp_split_to_array(text, '\\s+')) AS t
               FROM batch)
         WHERE regexp_matches(t, '^[a-z]+$$')
       ), t0 AS (
         SELECT slice, CAST(count(*) AS BIGINT) AS freq,
                regexp_replace(word, '(.)', ' \\1 ', 'g') AS r
         FROM btoks GROUP BY slice, word
       ), $applies
       SELECT slice,
              CAST(sum(freq * len(string_split(trim(r), '  '))) AS BIGINT)
                AS total_symbols,
              CAST(sum(freq * length(replace(r, ' ', ''))) AS BIGINT)
                AS total_chars,
              floor(CAST(sum(freq * length(replace(r, ' ', ''))) AS DOUBLE)
                / sum(freq * len(string_split(trim(r), '  '))) * 1000000 + 0.5)
                / 1000000.0 AS chars_per_symbol
       FROM t$BpeMerges GROUP BY slice ORDER BY slice"""
  }

  // -------------------------------------------------------------------------
  // q137: curation gate funnel by source — the per-source attribution of
  // q98's end-to-end pipeline: how many documents each source loses at
  // each gate, attributed WATERFALL-style to the FIRST failing gate in
  // pipeline order (quality → near-dup canonicalization → exact
  // decontamination), plus token retention. This is the report that
  // decides which sources are worth re-negotiating, re-crawling, or
  // dropping — the q92 datasheet's actionable sibling. Retention is
  // exact BIGINT integer division (micros), no float division to drift
  // cross-engine. 100 TB: the gates' own costs are q98's (already
  // scale-shaped); the funnel adds ONE id-keyed join of the flag frame
  // against a pruned (doc_id, source, n_tok) projection — both sides
  // hash-partition on doc_id — and a |sources|-key rollup.
  // -------------------------------------------------------------------------

  private def q137FunnelBase(s: SparkSession, d: String): DataFrame = {
    val docs = docsWide(s, d)
    // r17 OPT: canonicalization labels from the persisted ClusterStore —
    // the same re-point q99's recipe got in r17's build phase; q98 stays
    // the from-scratch component the store is spec-pinned against
    val flags = q98Core(docs,
      storedClusterLabels(s, d).select(col("doc_id"), col("is_canonical")),
      q98Contaminated(docs))
    val meta = docs.select(col("doc_id"), col("source"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
    flags.join(meta, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("q_ok"), 1L).otherwise(0L)).as("n_fail_quality"),
        sum(when(col("q_ok") && !col("is_canonical"), 1L).otherwise(0L))
          .as("n_fail_dup"),
        sum(when(col("q_ok") && col("is_canonical") && !col("clean"), 1L)
          .otherwise(0L)).as("n_fail_contam"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tok")).as("tok_total"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tok_kept"))
  }

  /** Test-only window so the mutation audit can perturb the retention
    * weighting over the identical funnel base (family 43). */
  private[graft] def q137FunnelBaseForAudit(s: SparkSession, d: String)
      : DataFrame = q137FunnelBase(s, d)

  /** floor(kept * 10^6 / total) WITHOUT the kept*10^6 intermediate: the
    * single multiply overflows signed 64-bit past ~9.2e12 kept tokens —
    * inside the 100 TB regime this report targets (Spark would wrap
    * silently, DuckDB would abort). Splitting 10^6 = 10^3 · 10^3 keeps
    * every intermediate under totals of ~9.2e15 tokens (peta-scale per
    * key): floor(a·10^3/t)·10^3 + floor((a·10^3 mod t)·10^3/t) with
    * a·10^3 and (mod)·10^3 both < t·10^3.
    */
  private def microsDiv(kept: String, total: String): String =
    s"(($kept * 1000 DIV $total) * 1000" +
      s" + (($kept * 1000 % $total) * 1000 DIV $total))"

  /** The DuckDB form of [[microsDiv]] — same split, `//` division. */
  private def microsDivSql(kept: String, total: String): String =
    s"(($kept * 1000 // $total) * 1000" +
      s" + (($kept * 1000 % $total) * 1000 // $total))"

  val q137GateFunnel: Q = (s, d) =>
    q137FunnelBase(s, d)
      .withColumn("retention_micros",
        when(col("tok_total") > 0,
          expr(microsDiv("tok_kept", "tok_total"))).otherwise(lit(0L)))
      .orderBy(col("source"))

  /** q98's proven per-doc flag replay, joined to the pruned meta
    * projection and rolled up by source with the same first-failing-gate
    * attribution.
    */
  private val q137Sql =
    s"""WITH flags AS (
         ${q98Sql.replace("\n", "\n  ")}
       ), meta AS (
         SELECT doc_id, source,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       )
       SELECT m.source, count(*) AS n_docs,
              CAST(sum(CASE WHEN NOT f.q_ok THEN 1 ELSE 0 END) AS BIGINT)
                AS n_fail_quality,
              CAST(sum(CASE WHEN f.q_ok AND NOT f.is_canonical
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_dup,
              CAST(sum(CASE WHEN f.q_ok AND f.is_canonical AND NOT f.clean
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_contam,
              CAST(sum(CASE WHEN f.kept THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              CAST(sum(m.n_tok) AS BIGINT) AS tok_total,
              CAST(sum(CASE WHEN f.kept THEN m.n_tok ELSE 0 END) AS BIGINT)
                AS tok_kept,
              CASE WHEN sum(m.n_tok) > 0
                   THEN CAST(${microsDivSql(
                     "sum(CASE WHEN f.kept THEN m.n_tok ELSE 0 END)",
                     "sum(m.n_tok)")} AS BIGINT)
                   ELSE 0 END AS retention_micros
       FROM flags f JOIN meta m USING (doc_id)
       GROUP BY m.source ORDER BY m.source"""

  // -------------------------------------------------------------------------
  // q138: vocabulary growth over corpus prefixes — the Heaps-law
  // diagnostic read before sizing a tokenizer vocabulary or trusting a
  // q120-style induction's scale curve: at four id-range prefixes
  // (quarters of [min_id, max_id]), the number of NEW distinct words
  // first seen in that quarter, the cumulative vocabulary, cumulative
  // tokens, and the type-token ratio. A corpus whose vocabulary keeps
  // growing linearly is OCR noise or adversarial junk, not language —
  // this is the report that says so before 100 TB of it trains a
  // tokenizer. Every column is INTEGER-exact (first-seen attribution,
  // integer-division bucketing on the memoized id bounds, BIGINT TTR
  // micros): no float anywhere, so the cross-engine hash cannot drift.
  // 100 TB shape: one word explode partial-aggregated to
  // (word, min(doc_id)) — vocabulary-bounded, the q56 shuffle shape —
  // one conditional-sum token pass, a 4-row bucket frame and its
  // triangle-join cumulative; window-free.
  // -------------------------------------------------------------------------

  private val VocabPrefixes = 4

  val q138VocabGrowth: Q = (s, d) => {
    val (mn, span) = docIdBounds(s, d)
    val docs = docsWide(s, d)
    val words = docs
      .select(col("doc_id"), explode(TextAnalytics.tokens(lower(col("text"))))
        .as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    // first-seen attribution: the word belongs to the FIRST quarter whose
    // floor boundary upto_k = mn + span*k/4 exceeds its earliest doc id —
    // the SAME boundaries the token denominators and upto_id use (a
    // multiplicative bucket floor((id-mn)*4/span) disagrees with them
    // whenever span % 4 != 0, mis-aligning new_words with cum_tokens)
    val uptos = (1 to VocabPrefixes).map(k => mn + span * k / VocabPrefixes)
    val firstSeen = words.groupBy(col("word"))
      .agg(min(col("doc_id")).as("first_id"))
      .withColumn("prefix_q",
        (1 until VocabPrefixes).foldRight(
          lit(VocabPrefixes): org.apache.spark.sql.Column) {
          (k, rest) => when(col("first_id") < uptos(k - 1), lit(k))
            .otherwise(rest)
        })
    val newWords = firstSeen.groupBy(col("prefix_q"))
      .agg(count(lit(1)).as("new_words"))
    // cumulative tokens per prefix: ONE pass with conditional sums
    val tokAggs = (1 to VocabPrefixes).map { k =>
      val upto = mn + span * k / VocabPrefixes
      sum(when(col("doc_id") < upto, col("n_tok")).otherwise(0L))
        .as(s"ct$k")
    }
    val toks = words.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"))
      .agg(tokAggs.head, tokAggs.tail: _*)
    val qs = s.createDataFrame((1 to VocabPrefixes).map(k =>
        (k, mn + span * k.toLong / VocabPrefixes))).toDF("prefix_q", "upto_id")
    val base = qs.join(broadcast(newWords), Seq("prefix_q"), "left")
      .select(col("prefix_q"), col("upto_id"),
        coalesce(col("new_words"), lit(0L)).as("new_words"))
    // 4-row triangle-join cumulative (window-free; the frame is bounded
    // by the prefix count, never the corpus)
    val cum = base.as("a")
      .join(base.select(col("prefix_q").as("qb"), col("new_words").as("nb")),
        col("qb") <= col("prefix_q"))
      .groupBy(col("prefix_q"), col("upto_id"), col("new_words"))
      .agg(sum(col("nb")).as("cum_words"))
    cum.crossJoin(broadcast(toks))
      .withColumn("cum_tokens",
        (1 to VocabPrefixes).map(k =>
          when(col("prefix_q") === k, col(s"ct$k")).otherwise(lit(0L)))
          .reduce(_ + _))
      .select(col("prefix_q"), col("upto_id"), col("new_words"),
        col("cum_words"), col("cum_tokens"),
        when(col("cum_tokens") > 0,
          expr("cum_words * 1000000 DIV cum_tokens")).otherwise(lit(0L))
          .as("ttr_micros"))
      .orderBy(col("prefix_q"))
  }

  private val q138Sql = {
    val ctCols = (1 to VocabPrefixes).map { k =>
      s"""CAST(sum(CASE WHEN doc_id < b.mn + b.span * $k // $VocabPrefixes
             THEN n_tok ELSE 0 END) AS BIGINT) AS ct$k"""
    }.mkString(",\n                ")
    val ctPick = (1 to VocabPrefixes).map { k =>
      s"CASE WHEN c.prefix_q = $k THEN t.ct$k ELSE 0 END"
    }.mkString(" + ")
    s"""WITH b AS (
         SELECT CAST(min(doc_id) AS BIGINT) AS mn,
                CAST(max(doc_id) - min(doc_id) + 1 AS BIGINT) AS span
         FROM documents
       ), words AS (
         SELECT doc_id, lower(t) AS word
         FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
               FROM documents)
         WHERE regexp_matches(lower(t), '^[a-z]+$$')
       ), fs AS (
         SELECT word, min(doc_id) AS first_id FROM words GROUP BY word
       ), fb AS (
         SELECT CAST(CASE
                  ${(1 until VocabPrefixes).map(k =>
                    s"WHEN first_id < b.mn + b.span * $k // $VocabPrefixes THEN $k")
                    .mkString("\n                  ")}
                  ELSE $VocabPrefixes END AS INT) AS prefix_q
         FROM fs, b
       ), nw AS (
         SELECT prefix_q, count(*) AS new_words FROM fb GROUP BY prefix_q
       ), dt AS (
         SELECT doc_id, count(*) AS n_tok FROM words GROUP BY doc_id
       ), t AS (
         SELECT $ctCols
         FROM dt, b
       ), qs AS (
         SELECT unnest(range(1, $VocabPrefixes + 1)) AS prefix_q
       ), base AS (
         SELECT CAST(qs.prefix_q AS INT) AS prefix_q,
                b.mn + b.span * qs.prefix_q // $VocabPrefixes AS upto_id,
                CAST(coalesce(nw.new_words, 0) AS BIGINT) AS new_words
         FROM qs CROSS JOIN b LEFT JOIN nw ON nw.prefix_q = qs.prefix_q
       ), c AS (
         SELECT a.prefix_q, a.upto_id, a.new_words,
                CAST(sum(x.new_words) AS BIGINT) AS cum_words
         FROM base a JOIN base x ON x.prefix_q <= a.prefix_q
         GROUP BY a.prefix_q, a.upto_id, a.new_words
       )
       SELECT c.prefix_q, c.upto_id, c.new_words, c.cum_words,
              CAST($ctPick AS BIGINT) AS cum_tokens,
              CASE WHEN ($ctPick) > 0
                   THEN CAST(c.cum_words * 1000000 // ($ctPick) AS BIGINT)
                   ELSE 0 END AS ttr_micros
       FROM c CROSS JOIN t
       ORDER BY c.prefix_q"""
  }

  // -------------------------------------------------------------------------
  // q139: human-review queue — the eyeball-the-data manifest every
  // curation rollout starts with: the K most-confident KEEPs and the K
  // most-confident DROPs by the q67 classifier, with the 600-char
  // snippet truncation the reference's search path applies (search.py's
  // P6 contract). Reviewing the extremes first is how annotation teams
  // calibrate a new gate before trusting it corpus-wide. 100 TB shape:
  // both ends compile to TakeOrderedAndProject (bounded heaps, no global
  // sort materialization — the q71 top-k discipline); total order
  // (logit, doc_id) makes both cuts deterministic.
  // -------------------------------------------------------------------------

  private val ReviewK = 10

  val q139ReviewQueue: Q = (s, d) => {
    val docs = docsWide(s, d)
    val w = qcWeights(s, d)
    // late materialization: rank on the NARROW (doc_id, logit) frame —
    // both cuts are TakeOrderedAndProject heaps — and only then fetch
    // text for the 2K winners via a broadcast join; the snippet column
    // never rides a corpus-wide exchange
    val scored = QualityModel.features(docs)
      .select(col("doc_id"), rnd(QualityModel.zCol(w), 6).as("quality_logit"))
    val keeps = scored
      .orderBy(col("quality_logit").desc, col("doc_id")).limit(ReviewK)
      .withColumn("queue", lit("keep"))
    val drops = scored
      .orderBy(col("quality_logit").asc, col("doc_id")).limit(ReviewK)
      .withColumn("queue", lit("drop"))
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(keeps.unionAll(drops)), Seq("doc_id"))
      .select(col("queue"), col("doc_id"), col("quality_logit"),
        when(length(col("text")) > 600,
          concat(substring(col("text"), 1, 600), lit("…")))
          .otherwise(col("text")).as("snippet"))
      .orderBy(col("queue"), col("doc_id"))
  }

  /** Both queue ends replayed from the exported coefficient literals
    * (the q67/q132 coefficient-literal contract) + the P6 snippet truncation.
    */
  private def q139Sql(w: Array[Double]): String = {
    val wvals = w.zipWithIndex
      .map { case (v, b) => s"($b, CAST($v AS DOUBLE))" }.mkString(", ")
    s"""WITH d AS (
         SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),
                                    t -> t <> '') AS toks FROM documents
       ), tb AS (
         SELECT doc_id,
                CAST(CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) % $QcB AS INT) AS b
         FROM d, unnest(d.toks) AS u(tok)
       ), n AS (
         SELECT doc_id, count(*) AS n FROM tb GROUP BY doc_id
       ), xr AS (
         SELECT tf.doc_id, tf.b, CAST(tf.c AS DOUBLE) / n.n AS x
         FROM (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY doc_id, b) tf
         JOIN n USING (doc_id)
         UNION ALL
         SELECT doc_id, $QcB AS b, least(CAST(n AS DOUBLE) / 100.0, 1.0) AS x FROM n
         UNION ALL
         SELECT doc_id, ${QcB + 1} AS b, 1.0 AS x FROM n
       ), w(b, w) AS (
         VALUES $wvals
       ), z AS (
         SELECT xr.doc_id,
                floor(sum(w.w * xr.x ORDER BY xr.b) * 1000000 + 0.5)
                  / 1000000.0 AS quality_logit
         FROM xr JOIN w USING (b)
         GROUP BY xr.doc_id
       ), sc AS (
         SELECT z.doc_id, z.quality_logit,
                CASE WHEN length(d2.text) > 600
                     THEN substr(d2.text, 1, 600) || '…'
                     ELSE d2.text END AS snippet
         FROM z JOIN documents d2 USING (doc_id)
       ), keeps AS (
         SELECT 'keep' AS queue, doc_id, quality_logit, snippet
         FROM sc ORDER BY quality_logit DESC, doc_id LIMIT $ReviewK
       ), drops AS (
         SELECT 'drop' AS queue, doc_id, quality_logit, snippet
         FROM sc ORDER BY quality_logit ASC, doc_id LIMIT $ReviewK
       )
       SELECT queue, doc_id, quality_logit, snippet
       FROM (SELECT * FROM keeps UNION ALL SELECT * FROM drops)
       ORDER BY queue, doc_id"""
  }

  // -------------------------------------------------------------------------
  // q140: syndication detection — exact-duplicate groups that span
  // MULTIPLE sources (the news-wire/content-farm signature): unlike
  // within-source redelivery, cross-source byte-identical text means the
  // de-dup keeper policy is silently choosing between PUBLISHERS, which
  // licensing and attribution care about. One sha256 groupBy (q17's
  // basis) carrying a distinct-source count; only groups with copies
  // survive; the multi_source flag marks the syndicated ones.
  //
  // The generated corpus has no ORGANIC cross-source duplicates below
  // sf0.1, which made the driver's sf0.01 oracle row vacuous (both
  // engines returned 0 rows — rows/schema/hash "matched" on nothing; r14
  // verdict Wrong #2). Like q106's PII tails and q88's boilerplate,
  // deterministic syndication fixtures are synthesized IN-QUERY from
  // doc_id residues and the oracle replays the construction: every
  // doc_id % 97 document is re-published byte-identically under two
  // synthetic wire sources at id offsets past any real doc_id, so the
  // detector has cross-source mass at every scale while organic classes
  // (sf0.1's dup slots) keep flowing through the same groupBy untouched.
  // 100 TB shape: the fixture fan-out is a single Generate over the one
  // pruned (doc_id, source, text) scan (no self-union re-scan, no join);
  // the aggregate stays q140's original partial-aggregated groupBy(sig)
  // — q17's exact shuffle bound.
  // -------------------------------------------------------------------------

  private val SynFixtureMod = 97L
  private val SynFixtureOff = 1000000000L
  private val SynWireA = "wire_feed_a"
  private val SynWireB = "wire_feed_b"

  val q140Syndication: Q = (s, d) => {
    // the synthetic wire ids live at SynFixtureOff and 2·SynFixtureOff
    // past the real id space — enforce that, don't assume it (q142's
    // overflow-require discipline): a corpus with doc_id ≥ 1e9 would
    // silently collide fixture ids with real ones and corrupt keeper_id
    val (mn0, span0) = docIdBounds(s, d)
    require(mn0 + span0 - 1 < SynFixtureOff && mn0 >= 0,
      s"doc_id range [$mn0, ${mn0 + span0 - 1}] collides with the " +
        s"synthetic wire-id offset $SynFixtureOff — raise SynFixtureOff")
    val self = struct(col("doc_id"), col("source"))
    val copies = docsWide(s, d)
      .select(col("text"), explode(
        when(col("doc_id") % SynFixtureMod === 0, array(
          self,
          struct((col("doc_id") + SynFixtureOff).as("doc_id"),
            lit(SynWireA).as("source")),
          struct((col("doc_id") + 2 * SynFixtureOff).as("doc_id"),
            lit(SynWireB).as("source"))))
          .otherwise(array(self))).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.source").as("source"),
        col("text"))
    copies
      .groupBy(sha2(col("text"), 256).as("content_sig"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("keeper_id"))
      .filter(col("n_copies") > 1)
      .withColumn("multi_source", col("n_sources") > 1)
      .select(col("content_sig"), col("n_copies"), col("n_sources"),
        col("keeper_id"), col("multi_source"))
      .orderBy(col("content_sig"))
  }

  private val q140Sql =
    s"""WITH u AS (
         SELECT doc_id, source, text FROM documents
         UNION ALL
         SELECT doc_id + $SynFixtureOff, '$SynWireA', text
         FROM documents WHERE doc_id % $SynFixtureMod = 0
         UNION ALL
         SELECT doc_id + ${2 * SynFixtureOff}, '$SynWireB', text
         FROM documents WHERE doc_id % $SynFixtureMod = 0
       )
       SELECT sha256(text) AS content_sig,
              count(*) AS n_copies,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(min(doc_id) AS BIGINT) AS keeper_id,
              (count(DISTINCT source) > 1) AS multi_source
       FROM u
       GROUP BY sha256(text)
       HAVING count(*) > 1
       ORDER BY content_sig"""

  // -------------------------------------------------------------------------
  // q141: training-mixture SCHEDULE — the curriculum/annealing composition
  // over q113's static blend (r14 verdict Next #4): production
  // pretraining runs are step-PHASED (the FineWeb-Edu/Llama-style recipe:
  // a long warmup phase on the breadth blend, then a final anneal slice
  // re-weighted toward the highest-quality data). Two phases over the
  // same 2× token budget: phase 1 (warmup, 80%) uses q113's α-temperature
  // weights on per-source TOTAL tokens; phase 2 (anneal, the final 20%)
  // re-derives the same α-blend on per-source QUALITY-KEPT tokens only
  // (q22's rule at the 4dp grid, score ≥ 0.5) — a source with no
  // above-threshold mass gets weight 0 and drops out of the anneal
  // entirely (src19 at the test corpora — load-bearing, not cosmetic).
  //
  // Accounting is exact BIGINT end-to-end and CONSERVES the budget by
  // construction: per-source budgets are TOKENS (micro-token units would
  // wrap int64 at ~9.2e12 corpus tokens — inside the 100 TB framing this
  // schedule targets, the q137 lesson), allocated floor(phase_tok ·
  // w_micros / 10⁶) through the overflow-safe split multiply-divide, with
  // the rounding remainder assigned to the last source by name — so
  // Σ budgets ≡ 2·total_tok exactly, phase by phase (spec-pinned; the
  // remainder can be a few tokens negative if the rounded weights sum
  // past 10⁶ — absorbed by the same deterministic source). Implied
  // epochs ride the q137 microsDiv split (exact micros past peta-scale).
  // 100 TB shape: ONE pruned (source, text) corpus scan builds the
  // per-source stat table, localCheckpoint'ed at |sources| rows (the
  // q130 lesson — tot + two phase projections would otherwise re-run the
  // corpus agg 3×); everything downstream is arithmetic over ≤ 2·|S|
  // rows with broadcast 1-row/2-row joins; window-free.
  // -------------------------------------------------------------------------

  private val SchedPhase1Pct = 80L    // warmup share of the token budget
  private val SchedQualityMin = 0.5   // anneal basis: q22 score, 4dp grid

  /** floor(a·w/10⁶) without the a·w intermediate (a up to ~4.6e18 with
    * w ≤ ~10⁶ would wrap): split a = q·10⁶ + r, exact because q·w is an
    * integer — the multiply-side companion of [[microsDiv]].
    */
  private def mulDivMega(a: String, w: String): String =
    s"((($a DIV 1000000) * $w) + ((($a % 1000000) * $w) DIV 1000000))"

  /** The DuckDB form of [[mulDivMega]] — same split, `//` division. */
  private def mulDivMegaSql(a: String, w: String): String =
    s"((($a // 1000000) * $w) + ((($a % 1000000) * $w) // 1000000))"

  val q141MixtureSchedule: Q = (s, d) => {
    val toks = TextAnalytics.tokens(col("text"))
    val nTok = size(toks).cast("long")
    val avgLen =
      TextAnalytics.totalTokenChars(toks).cast("double") / size(toks)
    val stopRatio = TextAnalytics.wordListHits(toks,
      TextAnalytics.EnStopwords).cast("double") / size(toks)
    // q22's quality score on its shipped 4dp grid (grid-stable
    // cross-engine; the threshold compares ROUNDED values, like q113's
    // epochs flag)
    val q4 = rnd(
      lit(0.2) * least(size(toks).cast("double") / 100.0, lit(1.0)) +
        lit(0.5) * stopRatio +
        lit(0.3) * (lit(1.0) - least(abs(avgLen - 5.0) / 10.0, lit(1.0))), 4)
    val st = docsWide(s, d)
      .select(col("source"), nTok.as("n_tok"),
        when(nTok > 0 && q4 >= SchedQualityMin, nTok).otherwise(lit(0L))
          .as("kept_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("n_tok"), sum(col("kept_tok")).as("kept_tok"))
      .filter(col("n_tok") > 0)
      .localCheckpoint() // |sources| rows; 3 consumers, ONE corpus scan
    val tot = st.agg(sum(col("n_tok")).as("total_tok"),
      sum(pow(col("n_tok").cast("double"), MixAlpha)).as("z1"),
      sum(pow(col("kept_tok").cast("double"), MixAlpha)).as("z2"))
    val base = st.crossJoin(broadcast(tot))
      .withColumn("budget_tok", lit(2L) * col("total_tok")) // MixBudgetMult, exact
      .withColumn("p1_tok", expr(s"budget_tok * $SchedPhase1Pct DIV 100"))
    val ph1 = base.select(lit(1L).as("phase"), col("source"), col("n_tok"),
      col("n_tok").as("basis_tok"), col("z1").as("z"),
      col("p1_tok").as("phase_tok"))
    val ph2 = base.select(lit(2L).as("phase"), col("source"), col("n_tok"),
      col("kept_tok").as("basis_tok"), col("z2").as("z"),
      (col("budget_tok") - col("p1_tok")).as("phase_tok"))
    val wts = ph1.unionAll(ph2)
      .withColumn("weight_micros",
        when(col("z") > 0,
          floor(pow(col("basis_tok").cast("double"), MixAlpha) / col("z")
            * 1000000 + 0.5).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("floor_alloc", expr(mulDivMega("phase_tok", "weight_micros")))
    // The rounding remainder goes to the max source AMONG THOSE WITH
    // POSITIVE WEIGHT in that phase — a source that dropped out of the
    // anneal (weight_micros = 0, zero quality-kept mass) must stay at 0
    // tokens. Fallback to max(source) only when a phase has no positive
    // weight at all (then phase_tok itself is the remainder and every
    // floor_alloc is 0).
    val sums = wts.groupBy(col("phase"))
      .agg(sum(col("floor_alloc")).as("alloc_sum"),
        coalesce(max(when(col("weight_micros") > 0, col("source"))),
          max(col("source"))).as("rem_source"))
    wts.join(broadcast(sums), Seq("phase"))
      .withColumn("token_budget", col("floor_alloc") +
        when(col("source") === col("rem_source"),
          col("phase_tok") - col("alloc_sum")).otherwise(lit(0L)))
      .withColumn("epochs_micros", expr(microsDiv("token_budget", "n_tok")))
      .select(col("phase"), col("source"), col("n_tok"), col("basis_tok"),
        col("weight_micros"), col("token_budget"), col("epochs_micros"),
        (col("epochs_micros") > (MixEpochCap * 1000000).toLong).as("over_cap"))
      .orderBy(col("phase"), col("source"))
  }

  private val q141Sql = {
    val arr = TextAnalytics.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH w AS (
         SELECT source, list_filter(regexp_split_to_array(text, '\\s+'),
                                    t -> t <> '') AS toks
         FROM documents
       ), t AS (
         SELECT source, CAST(len(toks) AS BIGINT) AS n_tok,
                CASE WHEN len(toks) > 0 AND
                  floor((0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
                    + 0.5 * (CAST(len(list_filter(toks,
                        x -> list_contains($arr, x))) AS DOUBLE) / len(toks))
                    + 0.3 * (1.0 - least(abs(
                        CAST(list_aggregate(list_transform(toks,
                          x -> length(x)), 'sum') AS DOUBLE) / len(toks)
                        - 5.0) / 10.0, 1.0))) * 10000 + 0.5) / 10000.0
                    >= $SchedQualityMin
                  THEN CAST(len(toks) AS BIGINT) ELSE 0 END AS kept_tok
         FROM w
       ), s AS (
         SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok,
                CAST(sum(kept_tok) AS BIGINT) AS kept_tok
         FROM t GROUP BY source HAVING sum(n_tok) > 0
       ), tot AS (
         SELECT CAST(sum(n_tok) AS BIGINT) AS total_tok,
                sum(power(CAST(n_tok AS DOUBLE), $MixAlpha)) AS z1,
                sum(power(CAST(kept_tok AS DOUBLE), $MixAlpha)) AS z2
         FROM s
       ), ph AS (
         SELECT 1 AS phase, source, n_tok, n_tok AS basis_tok, z1 AS z,
                (2 * total_tok * $SchedPhase1Pct // 100) AS phase_tok
         FROM s CROSS JOIN tot
         UNION ALL
         SELECT 2, source, n_tok, kept_tok, z2,
                2 * total_tok - (2 * total_tok * $SchedPhase1Pct // 100)
         FROM s CROSS JOIN tot
       ), wts AS (
         SELECT phase, source, n_tok, basis_tok, phase_tok,
                CASE WHEN z > 0 THEN CAST(floor(
                    power(CAST(basis_tok AS DOUBLE), $MixAlpha) / z
                    * 1000000 + 0.5) AS BIGINT)
                  ELSE 0 END AS weight_micros
         FROM ph
       ), fl AS (
         SELECT *, ${mulDivMegaSql("phase_tok", "weight_micros")}
                  AS floor_alloc
         FROM wts
       ), sums AS (
         SELECT phase, CAST(sum(floor_alloc) AS BIGINT) AS alloc_sum,
                coalesce(max(CASE WHEN weight_micros > 0 THEN source END),
                  max(source)) AS rem_source
         FROM fl GROUP BY phase
       ), fin AS (
         SELECT fl.phase, fl.source, fl.n_tok, fl.basis_tok,
                fl.weight_micros,
                fl.floor_alloc + CASE WHEN fl.source = sums.rem_source
                  THEN fl.phase_tok - sums.alloc_sum ELSE 0 END
                  AS token_budget
         FROM fl JOIN sums USING (phase)
       )
       SELECT CAST(phase AS BIGINT) AS phase, source, n_tok, basis_tok,
              weight_micros,
              CAST(token_budget AS BIGINT) AS token_budget,
              CAST(${microsDivSql("token_budget", "n_tok")} AS BIGINT)
                AS epochs_micros,
              (${microsDivSql("token_budget", "n_tok")}
                 > ${(MixEpochCap * 1000000).toLong}) AS over_cap
       FROM fin ORDER BY phase, source"""
  }

  // -------------------------------------------------------------------------
  // q142: loader-handoff shard manifest — the artifact a training loader
  // actually MOUNTS, composing three proven stages end-to-end (r14
  // verdict Next #5): q119's deterministic per-epoch shuffle order ×
  // q112's packed-sequence composition × q86's shard-manifest idea. Per
  // epoch, documents are packed in SHUFFLED order (not doc_id order —
  // each epoch visits the corpus differently, reproducibly, with no RNG
  // state), the token stream is cut into PackSeqLen sequences, sequences
  // are round-robin'd across ShardCount shards (exact balance: every
  // shard holds ⌊S/N⌋ or ⌈S/N⌉ sequences), and each (epoch, shard)
  // carries an order-sensitive content signature — bit_xor over
  // hash60(seq_id:seq_tok_start:doc_id) terms, each term encoding its
  // POSITION, so any reordering or substitution of a doc changes the
  // signature while the fold itself stays commutative and
  // partition-order-proof (q86's writer-check, upgraded from
  // order-free to order-PINNING). This is the end-to-end proof of
  // deterministic data order: any engine, any retry, any worker
  // re-derives the same manifest byte-for-byte.
  //
  // 100 TB shape: ONE salted prefix sum over BOTH epochs — the epoch
  // packs into the high bits of the order key (epoch·K + q119's
  // bucket-packed shuffle key, K = the per-epoch key span, overflow
  // require'd), so the within-epoch offset falls out as
  // global_prefix − epoch·total_tok with total_tok a broadcast 1-row agg
  // over the narrow (doc_id, n_tok) lineage; then q112's bounded
  // sequence explode (Σ rows linear in input), codegen'd span
  // arithmetic, and a ≤ epochs·shards-row signature agg broadcast back.
  // The span frame is PERSISTED (ManifestStore, r16): written once at
  // shard-publish time, incrementally appendable, served as a store read
  // by both consumers — the q130 discipline (never re-run the salted
  // fold per consumer) promoted from a JVM-lifetime checkpoint memo to
  // the BandStore/GenStore artifact it was always documented to be.
  // -------------------------------------------------------------------------

  private[graft] def manifestParams = graft.sources.ManifestStore.Params(
    ShuffleEpochs, ShuffleBuckets, PackSeqLen, ShardCount.toLong)

  /** The persisted loader manifest ([[graft.sources.ManifestStore]], r16):
    * per (epoch, shard, seq_id) document spans in the per-epoch shuffled
    * packing order plus per-(epoch, shard) signature partials — written
    * ONCE at shard-publish time (the BandStore/GenStore discipline; the
    * pre-r16 shape recomputed the salted fold per JVM), incrementally
    * appendable at each epoch's tail, and served here as a pure store
    * read. The packing kernel itself (ONE salted prefix sum over both
    * epochs, q112's bounded explode) lives in ManifestStore.spanRows.
    */
  private def loaderManifest(s: SparkSession, d: String)
      : graft.sources.ManifestStore.Store =
    graft.sources.ManifestStore.ensure(
      s, docsWide(s, d), "doc_id", "text", d, manifestParams)

  /** Bench hook: hydrate the manifest store so suite timings measure
    * SERVE (the build is write-time work, itemized in index_build_sec).
    */
  private[graft] def ensureManifest(s: SparkSession, d: String): Unit =
    loaderManifest(s, d)

  /** The manifest serve shape shared by q142 and q149: spans joined to
    * the folded signatures. sigs is ≤ epochs×shards rows by construction
    * — a bounded frame, so the broadcast hint is legitimate (contrast
    * SCALING row 29).
    */
  private def serveManifest(st: graft.sources.ManifestStore.Store): DataFrame =
    st.spans.join(broadcast(st.sigs), Seq("epoch", "shard"))
      .select(col("epoch"), col("shard"), col("seq_id"), col("doc_id"),
        col("doc_tok_start"), col("seq_tok_start"), col("n_tok"),
        col("shard_sig"), col("shard_tok"))
      .orderBy(col("epoch"), col("seq_id"), col("seq_tok_start"))

  val q142LoaderManifest: Q = (s, d) => serveManifest(loaderManifest(s, d))

  /** The shared loader-span CTE chain (e → d → b → k → o → sp → spans),
    * interpolated by BOTH q142Sql and q146Sql — the ONE SQL copy of the
    * packing kernel (r15 advice: never substring-extract; r16 review:
    * never duplicate either): the full-build chain is the
    * pred=TRUE / base=0 instance of [[packSpansCtes]], the same
    * generator q149's two-phase replay parameterizes per batch. Ends
    * with the CLOSED `spans` CTE; interpolators append `, <next> AS (…)`.
    */
  private val loaderSpansCte =
    s"""WITH e AS (
         SELECT unnest(range(0, $ShuffleEpochs)) AS epoch
       ), ${packSpansCtes("", "TRUE", "0")}"""

  private val q142Sql =
    s"""$loaderSpansCte, sigs AS (
         SELECT epoch, shard,
                bit_xor(CAST('0x' || substr(sha256(
                  seq_id || ':' || seq_tok_start || ':' || doc_id),
                  1, 15) AS BIGINT)) AS shard_sig,
                CAST(sum(n_tok) AS BIGINT) AS shard_tok
         FROM spans GROUP BY epoch, shard
       )
       SELECT s.epoch, CAST(s.shard AS BIGINT) AS shard, s.seq_id, s.doc_id,
              s.doc_tok_start, s.seq_tok_start, s.n_tok,
              g.shard_sig, g.shard_tok
       FROM spans s JOIN sigs g USING (epoch, shard)
       ORDER BY s.epoch, s.seq_id, s.seq_tok_start"""

  // -------------------------------------------------------------------------
  // q143: NEAR-dup syndication — q140's cross-publisher detector extended
  // to the near-duplicate axis: wire copy often arrives lightly edited
  // (house style, added bylines), which the exact sha256 basis cannot
  // see. Per q85 near-dup cluster (the proven MinHash→verify→CC lineage):
  // member count, distinct-SOURCE spread, distinct exact-text count
  // (n_texts > 1 separates genuinely-edited syndication from pure exact
  // redelivery, which q140 already owns), and the multi_source flag.
  // The organic sf0.01 dup classes are cross-source by construction of
  // the corpus' doc_id % 20 source stripe (e.g. the (70, 447) pair
  // spans src10/src7), so the driver row is non-vacuous at every scale.
  // 100 TB shape: the banded-MinHash pair bound (never all-pairs), then
  // ONE corpus-pruned (doc_id, source, text) pass joined with the
  // cluster-label frame, and the rollup groups on cluster_id —
  // ≤ clustered-members rows into the shuffle. The cluster frame is NOT
  // broadcast-hinted: labels scale with duplicated mass (corpus-fraction
  // at crawl-scale dup rates), and a hint can't be demoted by AQE — left
  // unhinted, AQE broadcasts at bench bytes and shuffles at crawl bytes
  // (SCALING row 29).
  // -------------------------------------------------------------------------

  val q143NearSyndication: Q = (s, d) => {
    val clusters = storedClusterLabels(s, d)
      .select(col("doc_id"), col("cluster_id"))
    docsWide(s, d)
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("sig"))
      .join(clusters, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("sig")).as("n_texts"))
      .select(col("cluster_id"), col("n_members"), col("n_sources"),
        col("n_texts"), (col("n_sources") > 1).as("multi_source"),
        (col("n_texts") > 1).as("near_only"))
      .orderBy(col("cluster_id"))
  }

  private val q143Sql =
    s"""WITH RECURSIVE pairs AS (
         SELECT a_id, b_id FROM (${q19Sql.replace("\n", "\n  ")}) p
       ), edges AS (
         SELECT a_id AS x, b_id AS y FROM pairs
         UNION
         SELECT b_id, a_id FROM pairs
       ), nodes AS (
         SELECT DISTINCT x FROM edges
       ), reach(x, r) AS (
         SELECT x, x FROM nodes
         UNION
         SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.x
       ), cl AS (
         SELECT x AS doc_id, min(r) AS cluster_id FROM reach GROUP BY x
       )
       SELECT cl.cluster_id, count(*) AS n_members,
              CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
              CAST(count(DISTINCT sha256(d.text)) AS BIGINT) AS n_texts,
              (count(DISTINCT d.source) > 1) AS multi_source,
              (count(DISTINCT sha256(d.text)) > 1) AS near_only
       FROM cl JOIN documents d USING (doc_id)
       GROUP BY cl.cluster_id ORDER BY cl.cluster_id"""

  // -------------------------------------------------------------------------
  // q144: word-frequency spectrum — the Zipf-axis companion of q138's
  // Heaps report (the OTHER diagnostic read before trusting a corpus'
  // lexicon): per power-of-two frequency bucket (q134's bit-exact
  // binary-digit-count device — floor(log2 f) with no libm boundary
  // ulps), the number of distinct word TYPES in the bucket, their total
  // token mass, and the exact micros share of the corpus' token mass
  // (q137's microsDiv split). Natural language shows type counts rising
  // steeply as frequency falls (Zipf: the spectrum's low buckets hold
  // most of the vocabulary, the high buckets most of the mass); a flat
  // or inverted spectrum is OCR noise or generated junk. Everything is
  // INTEGER-exact — no float anywhere, the hash cannot drift.
  //
  // The generated corpus' lexicon is 31 words (all in 2 buckets), so —
  // the q88/q106/q140 fixture precedent — a deterministic LONG TAIL is
  // appended in-query and replayed by the oracle: per doc, one unique
  // singleton word (digit→letter mapping of doc_id → the freq-1 bucket,
  // ~n_docs types) and one of 16 mid-frequency words (doc_id % 16 → a
  // middle bucket at ~n/16), giving the spectrum three measured decades
  // while the organic words keep their own buckets untouched.
  // 100 TB shape: one token-explode pass partial-aggregated to the
  // Heaps-bounded word table (q56/q120's shuffle bound), a codegen'd
  // digit-count bucket, and a ≤64-row aggregate; window-free, the
  // presentation sort is the only order.
  // -------------------------------------------------------------------------

  val q144FreqSpectrum: Q = (s, d) => {
    val tail = concat(col("text"),
      lit(" zqu"), translate(col("doc_id").cast("string"),
        "0123456789", "abcdefghij"),
      lit(" zqm"), translate(pmod(col("doc_id"), lit(16)).cast("string"),
        "0123456789", "abcdefghij"))
    val words = docsWide(s, d)
      .select(explode(TextAnalytics.tokens(lower(tail))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // floor(log2 f) == number of binary digits − 1, exact at every
    // power-of-two boundary (q134's device)
    val bucketed = words
      .withColumn("log2_freq", (length(bin(col("freq"))) - 1).cast("long"))
    val tot = words.agg(sum(col("freq")).as("total_mass"))
    bucketed.groupBy(col("log2_freq"))
      .agg(count(lit(1)).as("n_types"), sum(col("freq")).as("mass"))
      .crossJoin(broadcast(tot))
      .select(col("log2_freq"), col("n_types"), col("mass"),
        expr(microsDiv("mass", "total_mass")).as("mass_share_micros"))
      .orderBy(col("log2_freq"))
  }

  private val q144Sql =
    s"""WITH body AS (
         SELECT text || ' zqu' ||
                translate(CAST(doc_id AS VARCHAR),
                          '0123456789', 'abcdefghij')
                || ' zqm' ||
                translate(CAST(doc_id % 16 AS VARCHAR),
                          '0123456789', 'abcdefghij') AS text
         FROM documents
       ), toks AS (
         SELECT lower(t) AS word
         FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t
               FROM body)
         WHERE regexp_matches(lower(t), '^[a-z]+$$')
       ), w AS (
         SELECT word, CAST(count(*) AS BIGINT) AS freq
         FROM toks GROUP BY word
       ), b AS (
         SELECT CAST(length(printf('%b', freq)) - 1 AS BIGINT) AS log2_freq,
                freq
         FROM w
       ), tot AS (
         SELECT CAST(sum(freq) AS BIGINT) AS total_mass FROM w
       )
       SELECT log2_freq, count(*) AS n_types,
              CAST(sum(freq) AS BIGINT) AS mass,
              CAST(${microsDivSql("sum(freq)", "total_mass")} AS BIGINT)
                AS mass_share_micros
       FROM b CROSS JOIN tot
       GROUP BY log2_freq, total_mass ORDER BY log2_freq"""

  // -------------------------------------------------------------------------
  // q145: compute-budget feasibility — the Chinchilla-style planning
  // report read BEFORE committing a training run to this corpus: per
  // candidate model size, the compute-optimal token need (Hoffmann et
  // al. 2022's ~20 tokens/parameter), the corpus' deduplicated unique
  // supply (exact-dedup keeper basis — q17's sha256 signature, one
  // n_tok per distinct text), the implied epochs if the need is met by
  // repetition, the EFFECTIVE tokens those epochs are worth under
  // Muennighoff's data-constrained decay (q131's E' = min(E,1) +
  // R*·(1−exp(−R/R*))), and the utility ratio effective/needed with the
  // 0.9-value flag — "data-constrained" made quantitative per model.
  // Exactness: needs are exact BIGINT (20 · params · 10⁶); the decay is
  // float but lands on the 6dp micros grid before any comparison
  // (q113/q131's convention), and utility rides the microsDiv split.
  // 100 TB shape: ONE pruned (text) corpus pass partial-aggregated to
  // the distinct-text supply (q17's shuffle bound, 1-row result), a
  // 9-row broadcast model ladder, per-row arithmetic; window-free.
  // -------------------------------------------------------------------------

  /** (model, raw parameter count) — research probes through the
    * published decoder ladder, so the sufficiency flag carries both
    * truth values at any corpus scale (a test-corpus supply that can
    * train nothing would otherwise pin the flag false everywhere — the
    * q140 vacuity lesson applied at design time).
    */
  private val ModelLadder = Seq(
    ("probe-1k", 1000L), ("probe-100k", 100000L), ("tiny-1m", 1000000L),
    ("125m", 125000000L), ("1b3", 1300000000L), ("6b7", 6700000000L),
    ("13b", 13000000000L), ("30b", 30000000000L), ("70b", 70000000000L))
  private val ChinchillaTokPerParam = 20L

  val q145ComputeBudget: Q = (s, d) => {
    import s.implicits._
    // unique supply: one n_tok per DISTINCT text (the dedup keeper's
    // tokens — all copies share the count, so min == the keeper's)
    val supply = docsWide(s, d)
      .select(sha2(col("text"), 256).as("sig"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("sig")).agg(min(col("n_tok")).as("n_tok"))
      .agg(sum(col("n_tok")).as("unique_tok"))
    val ladder = ModelLadder.toDF("model", "params")
    ladder.crossJoin(broadcast(supply))
      .withColumn("needed_tok", col("params") * ChinchillaTokPerParam)
      .withColumn("epochs_raw",
        col("needed_tok").cast("double") / col("unique_tok").cast("double"))
      .withColumn("reps", greatest(col("epochs_raw") - 1.0, lit(0.0)))
      .withColumn("eff_raw",
        least(col("epochs_raw"), lit(1.0)) + lit(RepHalfLife)
          * (lit(1.0) - exp(-col("reps") / lit(RepHalfLife))))
      .withColumn("eff_tok",
        floor(col("unique_tok") * col("eff_raw") + 0.5).cast("long"))
      .withColumn("utility_micros", expr(microsDiv("eff_tok", "needed_tok")))
      .select(col("model"), col("params"), col("needed_tok"),
        col("unique_tok"),
        floor(col("epochs_raw") * 1000000 + 0.5).cast("long")
          .as("epochs_micros"),
        col("eff_tok"), col("utility_micros"),
        (col("utility_micros") >= RepValueFloorMicros).as("sufficient"))
      .orderBy(col("params"))
  }

  private val q145Sql = {
    val ladder = ModelLadder
      .map { case (m, p) => s"('$m', CAST($p AS BIGINT))" }.mkString(", ")
    s"""WITH t AS (
         SELECT sha256(text) AS sig,
                CAST(min(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> ''))) AS BIGINT) AS n_tok
         FROM documents GROUP BY sha256(text)
       ), sup AS (
         SELECT CAST(sum(n_tok) AS BIGINT) AS unique_tok FROM t
       ), ladder(model, params) AS (
         VALUES $ladder
       ), e AS (
         SELECT model, params,
                params * $ChinchillaTokPerParam AS needed_tok,
                unique_tok,
                CAST(params * $ChinchillaTokPerParam AS DOUBLE)
                  / unique_tok AS epochs_raw
         FROM ladder CROSS JOIN sup
       ), v AS (
         SELECT model, params, needed_tok, unique_tok, epochs_raw,
                least(epochs_raw, 1.0) + $RepHalfLife
                  * (1.0 - exp(-greatest(epochs_raw - 1.0, 0.0)
                               / $RepHalfLife)) AS eff_raw
         FROM e
       ), f AS (
         SELECT model, params, needed_tok, unique_tok,
                CAST(floor(epochs_raw * 1000000 + 0.5) AS BIGINT)
                  AS epochs_micros,
                CAST(floor(unique_tok * eff_raw + 0.5) AS BIGINT) AS eff_tok
         FROM v
       )
       SELECT model, params, needed_tok, unique_tok, epochs_micros,
              eff_tok,
              CAST(${microsDivSql("eff_tok", "needed_tok")} AS BIGINT)
                AS utility_micros,
              (${microsDivSql("eff_tok", "needed_tok")}
                 >= $RepValueFloorMicros) AS sufficient
       FROM f ORDER BY params"""
  }

  // -------------------------------------------------------------------------
  // q146: shard composition datasheet — the data-card a loader publishes
  // NEXT TO q142's manifest: per (epoch, shard), the sequence/document/
  // token counts, the distinct-source spread, and the dominant source's
  // exact token share. Round-robin sharding over a hashed shuffle order
  // SHOULD mix composition uniformly — this is the report that proves it
  // (or localizes the shard where it broke): a shard dominated by one
  // source trains a biased step every time the loader mounts it.
  // 100 TB shape: the memoized span frame (ONE salted fold shared with
  // q142, checkpointed) joins doc meta on a doc_id-keyed SHUFFLE join —
  // both sides are corpus-scale at the design point, so neither
  // broadcasts (the q127 lesson; AQE may still broadcast at bench bytes,
  // which is runtime adaptivity, not plan shape); rollups land on
  // ≤ epochs·shards·sources rows, and the dominant source is the exact
  // (max tok, min source) fold over that tiny frame — window-free.
  // -------------------------------------------------------------------------

  val q146ShardDatasheet: Q = (s, d) => {
    val m = loaderManifest(s, d).spans
      .join(docsWide(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
    val g = m.groupBy(col("epoch"), col("shard"), col("source"))
      .agg(sum(col("n_tok")).as("tok"))
    val tops = g.groupBy(col("epoch"), col("shard"))
      .agg(max(col("tok")).as("top_tok"))
    val topSrc = g.join(broadcast(tops), Seq("epoch", "shard"))
      .filter(col("tok") === col("top_tok"))
      .groupBy(col("epoch"), col("shard"))
      .agg(min(col("source")).as("top_source"), max(col("top_tok")).as("top_tok"))
    val base = m.groupBy(col("epoch"), col("shard"))
      .agg(countDistinct(col("seq_id")).as("n_seqs"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tok")).as("n_tok"),
        countDistinct(col("source")).as("n_sources"))
    base.join(broadcast(topSrc), Seq("epoch", "shard"))
      .select(col("epoch"), col("shard"), col("n_seqs"), col("n_docs"),
        col("n_tok"), col("n_sources"), col("top_source"), col("top_tok"),
        expr(microsDiv("top_tok", "n_tok")).as("top_share_micros"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** q142's span replay joined to doc meta, rolled up per (epoch, shard)
    * with the (max tok, min source) dominant-source fold.
    */
  private val q146Sql = {
    s"""$loaderSpansCte, m AS (
         SELECT sp.epoch, sp.shard, sp.seq_id, sp.doc_id, sp.n_tok, d.source
         FROM spans sp JOIN documents d USING (doc_id)
       ), g AS (
         SELECT epoch, shard, source, CAST(sum(n_tok) AS BIGINT) AS tok
         FROM m GROUP BY epoch, shard, source
       ), tops AS (
         SELECT epoch, shard, CAST(max(tok) AS BIGINT) AS top_tok
         FROM g GROUP BY epoch, shard
       ), topsrc AS (
         SELECT g.epoch, g.shard, min(g.source) AS top_source,
                CAST(max(t.top_tok) AS BIGINT) AS top_tok
         FROM g JOIN tops t
           ON g.epoch = t.epoch AND g.shard = t.shard AND g.tok = t.top_tok
         GROUP BY g.epoch, g.shard
       ), base AS (
         SELECT epoch, shard,
                CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tok,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         FROM m GROUP BY epoch, shard
       )
       SELECT b.epoch, CAST(b.shard AS BIGINT) AS shard, b.n_seqs, b.n_docs,
              b.n_tok, b.n_sources, ts.top_source, ts.top_tok,
              CAST(${microsDivSql("ts.top_tok", "b.n_tok")} AS BIGINT)
                AS top_share_micros
       FROM base b JOIN topsrc ts
         ON b.epoch = ts.epoch AND b.shard = ts.shard
       ORDER BY b.epoch, b.shard"""
  }

  // -------------------------------------------------------------------------
  // q147: cluster-shape audit for the dedup family — the empirical basis
  // for every "pair-bounded" / "corpus-fraction" claim this engine makes
  // about duplication (SCALING row 29's measured companion). Per near-dup
  // cluster-size DECADE (q144's bit-exact binary-digit-count device:
  // floor(log2 n_members), no libm boundary ulps): how many clusters,
  // how many member documents they hold, their token mass, and the EXACT
  // micros share of corpus documents and corpus tokens (q137's microsDiv
  // split — overflow-safe to peta-scale). Read before trusting a
  // broadcast: a spectrum whose member/token shares are double-digit
  // percent says cluster-label frames are corpus-fraction on THIS dump
  // (FineWeb-class crawl), not pair-bounded. Lineage is q85's proven
  // MinHash→verify→CC clusters; the doc join carries NO broadcast hint
  // (row 29 — this very report is what decides whether one would be
  // safe); the rollup lands on ≤ log2(max cluster) rows.
  // -------------------------------------------------------------------------

  // Multi-decade fixture (r16 Next #5, q140's in-query convention): the
  // organic corpus gives the spectrum ONE decade at sf0.01, so two
  // residue classes are re-delivered byte-identically at wire-id offsets
  // — 5 copies per doc_id % 211 doc (decade 4–7), 11 copies per
  // doc_id % 223 doc (decade 8–15). Byte-identical copies have Jaccard 1
  // with their source (every band collides — deterministic), never
  // bridge clusters, and their ids exceed every real id, so the
  // augmented labels are EXACTLY the pipeline's: each copy inherits
  // coalesce(label(source), source), sources keep their canonical mins.
  // Both engines CONSTRUCT the augmentation (no re-mining), so the
  // oracle replays it bit-for-bit; organic classes flow through the same
  // rollup untouched.
  private val Q147FixModA = 211L
  private val Q147FixCopiesA = 5L
  private val Q147FixModB = 223L
  private val Q147FixCopiesB = 11L

  val q147ClusterShape: Q = (s, d) => {
    val (mn0, span0) = docIdBounds(s, d)
    require(mn0 + span0 - 1 < SynFixtureOff && mn0 >= 0,
      s"doc_id range [$mn0, ${mn0 + span0 - 1}] collides with the " +
        s"redelivery-fixture id offset $SynFixtureOff — raise SynFixtureOff")
    val clusters = storedClusterLabels(s, d)
      .select(col("doc_id"), col("cluster_id"))
    val toks = docsWide(s, d).select(col("doc_id"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
    // fixture sources (label inherited; unclustered sources anchor their
    // own copy-cluster) and their byte-identical wire copies
    val fix = toks
      .filter(col("doc_id") % Q147FixModA === 0 ||
        col("doc_id") % Q147FixModB === 0)
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("n_tok"))
    val copies = fix
      .withColumn("i", explode(sequence(lit(1L),
        when(col("doc_id") % Q147FixModA === 0, lit(Q147FixCopiesA))
          .otherwise(lit(Q147FixCopiesB)))))
      .select((col("doc_id") + col("i") * SynFixtureOff).as("doc_id"),
        col("cluster_id"), col("n_tok"))
    val members = toks.join(clusters, Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_tok"))
      .unionByName(fix.join(clusters, Seq("doc_id"), "left_anti"))
      .unionByName(copies)
    // corpus totals over the AUGMENTED corpus (real docs + wire copies)
    val tot = toks.select(col("n_tok"))
      .unionByName(copies.select(col("n_tok")))
      .agg(count(lit(1)).as("total_docs"), sum(col("n_tok")).as("total_tok"))
    val perCluster = members
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("ctok"))
    perCluster
      .withColumn("size_bucket", (length(bin(col("n"))) - 1).cast("long"))
      .groupBy(col("size_bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("n")).as("n_members"),
        sum(col("ctok")).as("n_tokens"))
      .crossJoin(broadcast(tot)) // 1-row corpus totals: a bounded frame
      .select(col("size_bucket"), col("n_clusters"), col("n_members"),
        col("n_tokens"),
        expr(microsDiv("n_members", "total_docs")).as("member_share_micros"),
        expr(microsDiv("n_tokens", "total_tok")).as("token_share_micros"))
      .orderBy(col("size_bucket"))
  }

  /** q85's recursive CC replay + the constructed redelivery fixture
    * (label-inherited wire copies) + per-cluster member/token rollup,
    * regrouped by the power-of-two size bucket with exact micros shares.
    */
  private val q147Sql =
    s"""WITH RECURSIVE pairs AS (
         SELECT a_id, b_id FROM (${q19Sql.replace("\n", "\n  ")}) p
       ), edges AS (
         SELECT a_id AS x, b_id AS y FROM pairs
         UNION
         SELECT b_id, a_id FROM pairs
       ), nodes AS (
         SELECT DISTINCT x FROM edges
       ), reach(x, r) AS (
         SELECT x, x FROM nodes
         UNION
         SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.x
       ), cl AS (
         SELECT x AS doc_id, min(r) AS cluster_id FROM reach GROUP BY x
       ), tok AS (
         SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents
       ), fix AS (
         SELECT t.doc_id, COALESCE(cl.cluster_id, t.doc_id) AS cluster_id,
                t.n_tok
         FROM tok t LEFT JOIN cl USING (doc_id)
         WHERE t.doc_id % $Q147FixModA = 0 OR t.doc_id % $Q147FixModB = 0
       ), copies AS (
         SELECT f.doc_id + i * $SynFixtureOff AS doc_id, f.cluster_id, f.n_tok
         FROM fix f, unnest(range(1,
           CASE WHEN f.doc_id % $Q147FixModA = 0
                THEN ${Q147FixCopiesA + 1} ELSE ${Q147FixCopiesB + 1} END))
           AS u(i)
       ), members AS (
         SELECT t.doc_id, cl.cluster_id, t.n_tok
         FROM tok t JOIN cl USING (doc_id)
         UNION ALL
         SELECT f.doc_id, f.cluster_id, f.n_tok FROM fix f
         WHERE f.doc_id NOT IN (SELECT doc_id FROM cl)
         UNION ALL
         SELECT doc_id, cluster_id, n_tok FROM copies
       ), tot AS (
         SELECT CAST(count(*) AS BIGINT) AS total_docs,
                CAST(sum(n_tok) AS BIGINT) AS total_tok
         FROM (SELECT n_tok FROM tok UNION ALL SELECT n_tok FROM copies)
       ), pc AS (
         SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(n_tok) AS BIGINT) AS ctok
         FROM members
         GROUP BY cluster_id
       ), agg AS (
         SELECT CAST(length(printf('%b', n)) - 1 AS BIGINT) AS size_bucket,
                CAST(count(*) AS BIGINT) AS n_clusters,
                CAST(sum(n) AS BIGINT) AS n_members,
                CAST(sum(ctok) AS BIGINT) AS n_tokens
         FROM pc GROUP BY 1
       )
       SELECT size_bucket, n_clusters, n_members, n_tokens,
              CAST(${microsDivSql("n_members", "total_docs")} AS BIGINT)
                AS member_share_micros,
              CAST(${microsDivSql("n_tokens", "total_tok")} AS BIGINT)
                AS token_share_micros
       FROM agg CROSS JOIN tot
       ORDER BY size_bucket"""

  // -------------------------------------------------------------------------
  // q148: corpus tokenization with the LEARNED vocabulary — the
  // tokenizer's SERVING path, end to end: what q107/q142's n_tok would
  // be in a production run (BPE tokens, not whitespace words). Per
  // document: [a-z]+ word count, their character mass, the BPE token
  // count at full merge depth, and the exact chars-per-token micros
  // (q137's split division). 100 TB shape: ONE narrow map over the
  // pruned (doc_id, text) scan — apply_bpe runs per word OCCURRENCE
  // inside whole-stage codegen (SCALING row 30's broadcast automaton,
  // µs/word and flat in K), then a partial-aggregated groupBy(doc_id);
  // no join, no corpus-scale shuffle beyond the doc-keyed agg. (The
  // word-table-JOIN alternative dedups apply work per distinct word —
  // the right trade only under extreme duplication, at the price of a
  // corpus-token shuffle; the map form is the streaming-tokenizer
  // shape.) Exhausted induction degrades to the empty frame, the
  // q124/q129/q136 contract.
  // -------------------------------------------------------------------------

  val q148BpeTokenize: Q = (s, d) => {
    val merges = bpeMerges(s, d)
    val words = docsWide(s, d)
      .select(col("doc_id"),
        explode(TextAnalytics.tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val applied = graft.functions.ApplyBpe.applyBpe(
      graft.functions.CharInterleave.charInterleave(col("word")), merges, s)
    val base = words
      .select(col("doc_id"), length(col("word")).cast("long").as("n_ch"),
        size(split(trim(applied), "  ")).cast("long").as("n_sym"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_ch")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        expr(microsDiv("n_chars", "n_bpe_tokens"))
          .as("chars_per_token_micros"))
      .orderBy(col("doc_id"))
    if (merges.size < BpeMerges) base.filter(lit(false)) else base
  }

  /** The q120 replay (which proves the merges) + a DISTINCT-word replay
    * chain joined back to per-doc word occurrences — value-identical to
    * the engine's per-occurrence apply because the kernel is pure.
    */
  private val q148Sql = {
    val applies = (1 to BpeMerges).map { i =>
      s"""u$i AS (
         SELECT u.word,
                replace(u.r, ' ' || b.lhs || '  ' || b.rhs || ' ',
                        ' ' || b.lhs || b.rhs || ' ') AS r
         FROM u${i - 1} u, b$i b
       )"""
    }.mkString(", ")
    s"""$q120CteChain, dw AS (
         SELECT doc_id, lower(t) AS word
         FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
               FROM documents)
         WHERE regexp_matches(lower(t), '^[a-z]+$$')
       ), u0 AS (
         SELECT DISTINCT word,
                regexp_replace(word, '(.)', ' \\1 ', 'g') AS r
         FROM dw
       ), $applies, sym AS (
         SELECT word, CAST(len(string_split(trim(r), '  ')) AS BIGINT) AS n_sym
         FROM u$BpeMerges
       ), agg AS (
         SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(length(dw.word)) AS BIGINT) AS n_chars,
                CAST(sum(sym.n_sym) AS BIGINT) AS n_bpe_tokens
         FROM dw JOIN sym USING (word)
         GROUP BY dw.doc_id
       )
       SELECT doc_id, n_words, n_chars, n_bpe_tokens,
              CAST(${microsDivSql("n_chars", "n_bpe_tokens")} AS BIGINT)
                AS chars_per_token_micros
       FROM agg ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q152/q153: the v2 (FULL-alphabet) tokenizer family — r16 Next #4's
  // migration off the v1 `^[a-z]+$` contract. Production tokenizes full
  // UTF-8 input; v2 trains and applies over EVERY whitespace token, case
  // and punctuation preserved, symbols = Unicode code points (the
  // char_interleave expression — one symbol per code point in Spark,
  // Java regex and DuckDB RE2 alike). The induction/application kernels
  // are the SAME machinery as v1 behind the word-table parameter —
  // trainBpeLocal's argmax tie-break is code-point order, which equals
  // the old order on [a-z] and equals both engines' binary collation on
  // the wider alphabet — so v1 rows (q120/q124/q129/q136/q148) are
  // byte-unchanged and their parity specs stand. Versioning rides the
  // same `tokenizer` field the store manifests carry ("v1-frozen"
  // today): an artifact rebuilt under v2 token accounting would stamp
  // "v2-full" and rebuild via the manifest mismatch, exactly like a
  // packing-parameter change.
  //
  // The corpus is deliberately lowercase-ASCII, so v2's wider-alphabet
  // mass is an IN-QUERY fixture (q140's convention, FIXTURES.md): docs
  // with ≥3 tokens append a deterministic suffix — upper(first word)
  // (case class), "Id<doc_id%100>!" (digits+punct), "<w2>-<w3>"
  // (compound), " café 🚀" (accented Latin + a supplementary-plane
  // emoji) — constructed identically by both engines, so induction sees
  // genuine uppercase/digit/punctuation/UTF-8 pair mass at every scale.
  // -------------------------------------------------------------------------

  private val V2Extra = " café 🚀"

  /** The augmented v2 text: base text + the deterministic wider-alphabet
    * suffix for docs with ≥3 tokens (short docs pass through unchanged —
    * the guard both engines replay).
    */
  private def v2TextCol: org.apache.spark.sql.Column = {
    val toks = TextAnalytics.tokens(col("text"))
    when(size(toks) >= 3,
      concat(col("text"), lit(" "), upper(element_at(toks, 1)),
        lit(" Id"), pmod(col("doc_id"), lit(100L)).cast("string"), lit("! "),
        element_at(toks, 2), lit("-"), element_at(toks, 3), lit(V2Extra)))
      .otherwise(col("text"))
  }

  /** Per-doc v2 token occurrences — ALL whitespace tokens of the
    * augmented text, case preserved, no alphabet filter.
    */
  private def v2DocTokens(s: SparkSession, d: String): DataFrame =
    docsWide(s, d).select(col("doc_id"),
      explode(TextAnalytics.tokens(v2TextCol)).as("word"))

  /** The v2 Heaps-bounded training table: distinct full-alphabet words
    * with corpus frequencies, code-point-interleaved symbolizations.
    */
  private[graft] def bpeWordTableV2(s: SparkSession, d: String): DataFrame =
    v2DocTokens(s, d)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        graft.functions.CharInterleave.charInterleave(col("word")).as("r"))
      .localCheckpoint()

  /** Bench hook — v2 training is write-time work like v1's. */
  private[graft] def ensureBpeV2(s: SparkSession, d: String): String =
    bpeChain(s, d, v2 = true).root

  val q152BpeMergesV2: Q = (s, d) => bpeListing(s, bpeChain(s, d, v2 = true))

  val q153BpeTokenizeV2: Q = (s, d) => {
    val merges = bpeChain(s, d, v2 = true).pairs
    val words = v2DocTokens(s, d)
    val applied = graft.functions.ApplyBpe.applyBpe(
      graft.functions.CharInterleave.charInterleave(col("word")), merges, s)
    val base = words
      .select(col("doc_id"), length(col("word")).cast("long").as("n_ch"),
        size(split(trim(applied), "  ")).cast("long").as("n_sym"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_ch")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        expr(microsDiv("n_chars", "n_bpe_tokens"))
          .as("chars_per_token_micros"))
      .orderBy(col("doc_id"))
    if (merges.size < BpeMerges) base.filter(lit(false)) else base
  }

  /** The v2 WITH-chain: augmented-text token basis (the fixture suffix
    * constructed in SQL), then the SAME per-round replay CTEs as v1.
    */
  private val v2CteChain =
    s"""WITH dv2 AS (
         SELECT doc_id,
                CASE WHEN len(w) >= 3
                     THEN text || ' ' || upper(w[1]) || ' Id' ||
                          CAST(doc_id % 100 AS VARCHAR) || '! ' ||
                          w[2] || '-' || w[3] || '$V2Extra'
                     ELSE text END AS text2
         FROM (SELECT doc_id, text,
                      list_filter(regexp_split_to_array(text, '\\s+'),
                        x -> x <> '') AS w
               FROM documents)
       ), toks AS (
         SELECT doc_id, t AS word
         FROM (SELECT doc_id, unnest(regexp_split_to_array(text2, '\\s+')) AS t
               FROM dv2)
         WHERE t <> ''
       ), w0 AS (
         SELECT CAST(count(*) AS BIGINT) AS freq,
                regexp_replace(word, '(.)', ' \\1 ', 'g') AS r
         FROM toks GROUP BY word
       ), $bpeRoundsCtes"""

  private val q152Sql = {
    val rows = (1 to BpeMerges).map { i =>
      s"""SELECT $i AS merge_rank, lhs, rhs, lhs || rhs AS merged,
                CAST(pair_count AS BIGINT) AS pair_count FROM b$i"""
    }.mkString("\n       UNION ALL\n       ")
    s"""$v2CteChain
       $rows
       ORDER BY merge_rank"""
  }

  private val q153Sql = {
    val applies = (1 to BpeMerges).map { i =>
      s"""u$i AS (
         SELECT u.word,
                replace(u.r, ' ' || b.lhs || '  ' || b.rhs || ' ',
                        ' ' || b.lhs || b.rhs || ' ') AS r
         FROM u${i - 1} u, b$i b
       )"""
    }.mkString(", ")
    s"""$v2CteChain, u0 AS (
         SELECT DISTINCT word,
                regexp_replace(word, '(.)', ' \\1 ', 'g') AS r
         FROM toks
       ), $applies, sym AS (
         SELECT word, CAST(len(string_split(trim(r), '  ')) AS BIGINT) AS n_sym
         FROM u$BpeMerges
       ), agg AS (
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(length(t.word)) AS BIGINT) AS n_chars,
                CAST(sum(sym.n_sym) AS BIGINT) AS n_bpe_tokens
         FROM toks t JOIN sym USING (word)
         GROUP BY t.doc_id
       )
       SELECT doc_id, n_words, n_chars, n_bpe_tokens,
              CAST(${microsDivSql("n_chars", "n_bpe_tokens")} AS BIGINT)
                AS chars_per_token_micros
       FROM agg ORDER BY doc_id"""
  }

  // -------------------------------------------------------------------------
  // q149: INCREMENTALLY maintained loader manifest — the q77/q78/q79
  // contract applied to ManifestStore, with the append path ORACLE-
  // checked (ManifestStoreSpec proves the lifecycle; this proves the
  // VALUES against an independent engine). Scenario: the base build
  // packs the EVEN documents; one append delivers the odds, which pack
  // into fresh sequences at each epoch's tail (published base spans
  // immutable, signature partials only for touched shards). Serving the
  // q142 manifest shape from the incremental store must equal DuckDB's
  // two-phase replay: evens packed at offset 0, odds at the evens' token
  // total, signatures over the union. 100 TB: this is the nightly-dump
  // path — the append's cost is O(delta + straddle), never a repack.
  // -------------------------------------------------------------------------

  private[graft] def q149EnsureIncremental(s: SparkSession, d: String): String =
    GenStore.ensureArtifact(d, "documents.parquet", "manifest-inc",
      s""""scenario":"manifest-base+append-v1.1","epochs":$ShuffleEpochs,"buckets":$ShuffleBuckets,"seq_len":$PackSeqLen,"shards":$ShardCount""") { path =>
      val docs = docsWide(s, d).select(col("doc_id"), col("text"))
      graft.sources.ManifestStore.write(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path,
        manifestParams)
      graft.sources.ManifestStore.append(s,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", path,
        manifestParams)
    }

  val q149IncManifest: Q = (s, d) => serveManifest(
    graft.sources.ManifestStore.read(s, q149EnsureIncremental(s, d)))

  /** One batch's packing CTE chain at a given tail offset — THE packing
    * kernel in SQL, parameterized by (tag, predicate, base offset):
    * [[loaderSpansCte]] is its pred=TRUE / base=0 instance (q142/q146),
    * and q149's oracle replays the base build and the append as two
    * instances. Requires an `e` epochs CTE in scope.
    */
  private def packSpansCtes(tag: String, pred: String, baseExpr: String): String =
    s"""d$tag AS (
         SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
         FROM documents WHERE $pred
       ), b$tag AS (
         SELECT CAST(min(doc_id) AS BIGINT) AS mn,
                CAST(max(doc_id) - min(doc_id) + 1 AS BIGINT) AS span
         FROM d$tag
       ), k$tag AS (
         SELECT e.epoch, d.doc_id, d.n_tok,
                CAST(CAST('0x' || substr(sha256(e.epoch || ':' || d.doc_id),
                  1, 15) AS BIGINT) % $ShuffleBuckets AS BIGINT)
                  * b.span + (d.doc_id - b.mn) AS shuf
         FROM d$tag d CROSS JOIN e CROSS JOIN b$tag b
       ), o$tag AS (
         SELECT epoch, doc_id, n_tok,
                $baseExpr + CAST(COALESCE(sum(n_tok) OVER (
                  PARTITION BY epoch ORDER BY shuf
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS off
         FROM k$tag
       ), sp$tag AS (
         SELECT epoch, doc_id, n_tok, off,
                unnest(generate_series(off // $PackSeqLen,
                  (off + n_tok - 1) // $PackSeqLen)) AS seq_id
         FROM o$tag WHERE n_tok > 0
       ), spans$tag AS (
         SELECT epoch, seq_id % $ShardCount AS shard, seq_id, doc_id,
                greatest(off, seq_id * $PackSeqLen) - off AS doc_tok_start,
                greatest(off, seq_id * $PackSeqLen) - seq_id * $PackSeqLen
                  AS seq_tok_start,
                least(off + n_tok, (seq_id + 1) * $PackSeqLen)
                  - greatest(off, seq_id * $PackSeqLen) AS n_tok
         FROM sp$tag
       )"""

  private val q149Sql =
    s"""WITH e AS (
         SELECT unnest(range(0, $ShuffleEpochs)) AS epoch
       ), ${packSpansCtes("ev", "doc_id % 2 = 0", "0")},
       basetok AS (
         SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS base_tok FROM dev
       ), ${packSpansCtes("od", "doc_id % 2 = 1",
        "(SELECT base_tok FROM basetok)")},
       spans AS (
         SELECT * FROM spansev UNION ALL SELECT * FROM spansod
       ), sigs AS (
         SELECT epoch, shard,
                bit_xor(CAST('0x' || substr(sha256(
                  seq_id || ':' || seq_tok_start || ':' || doc_id),
                  1, 15) AS BIGINT)) AS shard_sig,
                CAST(sum(n_tok) AS BIGINT) AS shard_tok
         FROM spans GROUP BY epoch, shard
       )
       SELECT s.epoch, CAST(s.shard AS BIGINT) AS shard, s.seq_id, s.doc_id,
              s.doc_tok_start, s.seq_tok_start, s.n_tok,
              g.shard_sig, g.shard_tok
       FROM spans s JOIN sigs g USING (epoch, shard)
       ORDER BY s.epoch, s.seq_id, s.seq_tok_start"""

  // -------------------------------------------------------------------------
  // q150: STREAM-maintained loader manifest — the q87/q89/q90/q97
  // micro-batch discipline applied to the last store family without a
  // streaming arm. The dropzone delivers the even documents as batch 0
  // (ManifestStore.write — the base packing), the odds as batch 1
  // (ManifestStore.append at the epochs' tails, wired into
  // Dropzone.processBatch beside the text/band/vector stores), then
  // RE-delivers batch 1 under the same batch id — the restart replay,
  // which the watermark must swallow. Serving the q142 manifest shape
  // from the stream-maintained store must equal q149's two-phase DuckDB
  // replay byte-for-byte: the stream path and the direct-call path are
  // the same packing, or one of them is wrong. The wiring's append-only
  // guard (a re-delivered DOC fails fast rather than corrupting
  // published spans) is spec-pinned in StreamingSpec.
  // -------------------------------------------------------------------------

  private val Q150Dropzone = "dzm"

  /** Drive the micro-batch scenario once per corpus version (q87's
    * contract); later calls serve from the maintained manifest.
    */
  private[graft] def q150EnsureStreaming(s: SparkSession, d: String): String =
    GenStore.ensureArtifact(d, "documents.parquet", "manifest-stream",
      s""""scenario":"manifest-stream-v1","epochs":$ShuffleEpochs,"buckets":$ShuffleBuckets,"seq_len":$PackSeqLen,"shards":$ShardCount""") { root =>
      val docs = docsWide(s, d).select(col("doc_id"), col("text"))
      def files(ds: DataFrame): DataFrame =
        ds.select(
            concat(lit(s"$Q150Dropzone/"), col("doc_id"), lit(".txt")).as("path"),
            encode(col("text"), "UTF-8").as("content"))
          .withColumn("length", octet_length(col("content")).cast("long"))
      def run(b: DataFrame, id: Long): Unit =
        graft.streaming.Dropzone.processBatch(
          s, files(b), Q150Dropzone, s"$root/chunks",
          chunkSize = 4000, chunkOverlap = 0, embedDim = 8,
          skipUnchangedFiles = true, media = None, batchId = id,
          manifestStore = Some((s"$root/manifest", manifestParams,
            regexp_extract(col("path"), "(\\d+)", 1))))
      run(docs.filter(col("doc_id") % 2 === 0), 0L) // base packing
      run(docs.filter(col("doc_id") % 2 === 1), 1L) // tail append
      run(docs.filter(col("doc_id") % 2 === 1), 1L) // restart replay: no-op
    } + "/manifest"

  val q150StreamManifest: Q = (s, d) => serveManifest(
    graft.sources.ManifestStore.read(s, q150EnsureStreaming(s, d)))

  // -------------------------------------------------------------------------
  // q154: INCREMENTALLY maintained cluster store — the q77/q78/q79/q149
  // contract applied to ClusterStore, with the append path ORACLE-checked
  // (ClusterStoreSpec proves the lifecycle on an engineered corpus; this
  // proves the VALUES against an independent engine on the real one).
  // Scenario: the base build clusters the corpus MINUS docs {8, 245, 45};
  // append 1 delivers {8, 245} — a delta-internal pair that forms a NEW
  // cluster; append 2 delivers {45} — which bridges INTO the published
  // {267, 413} cluster as its new minimum, so both members RELABEL
  // (tombstone + re-append, the union-find merge's interesting arm —
  // doc 45's organic cluster {45, 267, 413} at sf0.01 guarantees the
  // case). Serving the q75 label shape from the incremental store must
  // equal DuckDB's recursive CC replay over the FULL corpus — incremental
  // maintenance is indistinguishable from a from-scratch clustering, or
  // the store is wrong.
  // -------------------------------------------------------------------------

  private val Q154NewPair = Seq(8L, 245L)
  private val Q154Bridge = 45L

  /** The cluster store and the band store it probes share one artifact
    * root (q155's layout); returns the cluster store path.
    */
  private[graft] def q154EnsureIncremental(s: SparkSession, d: String): String =
    GenStore.ensureArtifact(d, "documents.parquet", "clusters-inc",
      s""""scenario":"clusters-base+append-v1","new_pair":[${Q154NewPair.mkString(",")}],"bridge":$Q154Bridge""") { root =>
      val (path, bandPath) = (s"$root/clusters", s"$root/bands")
      import s.implicits._
      val docs = docsWide(s, d).select(col("doc_id"), col("text"))
      val held = Q154NewPair :+ Q154Bridge
      val base = docs.filter(!col("doc_id").isin(held: _*))
      graft.sources.BandStore.write(base, "doc_id", "text", bandPath, 32, 8)
      graft.sources.ClusterStore.write(base,
        graft.sources.BandStore.read(s, bandPath, 32, 8),
        "doc_id", "text", path)
      var corpus = base
      def deliver(delta: DataFrame, batchId: Long): Unit = {
        corpus = corpus.unionByName(delta)
        graft.sources.BandStore.upsert(s, delta, "doc_id", "text",
          Seq.empty[Long].toDF("doc_id"), bandPath, 32, 8, batchId = batchId)
        graft.sources.ClusterStore.append(s, delta, corpus,
          graft.sources.BandStore.read(s, bandPath, 32, 8),
          "doc_id", "text", path, batchId = batchId)
      }
      deliver(docs.filter(col("doc_id").isin(Q154NewPair: _*)), 1L)
      deliver(docs.filter(col("doc_id") === Q154Bridge), 2L)
    } + "/clusters"

  val q154IncClusters: Q = (s, d) =>
    graft.sources.ClusterStore.read(s, q154EnsureIncremental(s, d))
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
      .orderBy(col("doc_id"))

  // -------------------------------------------------------------------------
  // q155: STREAM-maintained cluster store — the q87/q97/q150 micro-batch
  // discipline applied to the newest store family, in the SAME dropzone
  // delivery as q154's direct-call scenario: base batch (corpus minus
  // {8, 245, 45}), the {8, 245} delta-internal pair, then the doc-45
  // bridge that relabels the published {267, 413} cluster — each batch
  // flowing through Dropzone.processBatch beside the band store it
  // probes (band upsert FIRST; the ordering family 59 pins), plus a
  // same-batch-id replay that must be a watermark no-op. The dropzone's
  // stores are PATH-keyed, so labels come back keyed by file path with
  // lexicographic canonical mins; the serve remaps members to their
  // numeric ids and re-derives cluster_id = min(doc_id) per component —
  // membership is id-scheme-independent, so the result must equal
  // DuckDB's recursive-CC replay over the FULL corpus (q75's oracle
  // verbatim), exactly like q154.
  // -------------------------------------------------------------------------

  private val Q155Dropzone = "dzc"

  private[graft] def q155EnsureStreaming(s: SparkSession, d: String): String =
    GenStore.ensureArtifact(d, "documents.parquet", "cluster-stream",
      s""""scenario":"cluster-stream-v1","new_pair":[${Q154NewPair.mkString(",")}],"bridge":$Q154Bridge""") { root =>
      val docs = docsWide(s, d).select(col("doc_id"), col("text"))
      def files(ds: DataFrame): DataFrame =
        ds.select(
            concat(lit(s"$Q155Dropzone/"), col("doc_id"), lit(".txt")).as("path"),
            encode(col("text"), "UTF-8").as("content"))
          .withColumn("length", octet_length(col("content")).cast("long"))
      var delivered = docs.filter(lit(false))
      def run(b: DataFrame, id: Long): Unit = {
        delivered = delivered.unionByName(b).localCheckpoint()
        val corpusNow = delivered
        graft.streaming.Dropzone.processBatch(
          s, files(b), Q155Dropzone, s"$root/chunks",
          chunkSize = 4000, chunkOverlap = 0, embedDim = 8,
          skipUnchangedFiles = true, batchId = id,
          bandStorePath = Some(s"$root/bands"),
          clusterStore = Some((s"$root/clusters",
            // dropzone paths are RELATIVIZED by the scan ("45.txt") —
            // the corpus thunk must speak the store's keys
            () => corpusNow.select(
              concat(col("doc_id"), lit(".txt")).as("path"),
              col("text")))))
      }
      val held = Q154NewPair :+ Q154Bridge
      run(docs.filter(!col("doc_id").isin(held: _*)), 0L)
      run(docs.filter(col("doc_id").isin(Q154NewPair: _*)), 1L)
      run(docs.filter(col("doc_id") === Q154Bridge), 2L)
      // restart replay of the bridge batch: watermark + skip-unchanged
      run(docs.filter(col("doc_id") === Q154Bridge), 2L)
    } + "/clusters"

  val q155StreamClusters: Q = (s, d) => {
    val lab = graft.sources.ClusterStore.read(s, q155EnsureStreaming(s, d))
      .select(regexp_extract(col("doc_id"), "(\\d+)", 1).cast("long")
          .as("doc_id"),
        col("cluster_id").as("__cl"))
    val remap = lab.groupBy(col("__cl"))
      .agg(min(col("doc_id")).as("cluster_id"))
    lab.join(remap, Seq("__cl"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q151: the PRODUCTION hybrid serving shape (r16 Next #3) — q61's
  // dense+sparse RRF fusion with the dense arm served APPROXIMATELY from
  // the persisted IVF store (`IvfProbes` cell pruning, the q27 serving
  // path) and the sparse arm from the persisted TextIndex. q61 keeps the
  // exact-rank contract (its dense arm deliberately scans the corpus
  // vectors — correct for a rank-pinned oracle); THIS query is what a
  // 100 TB serving tier actually runs: both arms are store reads with
  // partition pruning, no corpus text scan, no full-vector scan. The
  // oracle replays the whole fused ranking from the trained centroid
  // LITERALS (q27's centroid-literal technique): assignment → probe
  // selection → in-probe cosine top-50 over document vectors → rank,
  // fused with the BM25 top-50 replay by 1/(60+rank) — rational
  // arithmetic over engine-exact integer ranks, so the fusion
  // hash-matches. Rank agreement vs exact q61 is MEASURED per probe
  // budget (tools/HybridAgree sweep; PROFILE_r18), the q121/q128
  // discipline: never trust a pruned index without its recall curve.
  // -------------------------------------------------------------------------

  /** The store-served fused ranking, parameterized by the dense arm's
    * probe budget — q151 is the `IvfProbes` instance; tools/HybridAgree
    * sweeps the budget to measure rank agreement vs exact q61.
    */
  private[graft] def hybridServed(s: SparkSession, d: String,
      nProbe: Int): DataFrame = {
    val docs = docsWide(s, d)
    val emb = tbl(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val store = ivfIndex(s, d)
    // dense arm: IVF-pruned scan over DOCUMENT vectors only (the serving
    // index a production tier would hold), then the bounded rank
    val denseTop = Similarity.ivfTopK(
        store.vectors.join(docs.select(col("doc_id")),
          col("vec_id") === col("doc_id")),
        "embedding", store.centroids, qv, 50, nProbe = nProbe)
      .select(col("vec_id").as("doc"), col("score"))
    val denseRank = graft.operators.SearchOps
      .boundedRank(denseTop, "rank")(col("score").desc, col("doc"))
      .select(col("doc"), col("rank"))
    // sparse arm: the persisted postings artifact (q68's store)
    val idx = graft.sources.TextIndex.ensure(s, docs, "doc_id", "text", d)
    val bmTop = graft.operators.SearchOps.bm25ScoresIndexed(
        idx, Bm25Terms, k1 = 1.5, b = 0.75)
      .orderBy(col("bm25").desc, col("doc")).limit(50)
    val bmRank = graft.operators.SearchOps
      .boundedRank(bmTop, "rank")(col("bm25").desc, col("doc"))
      .select(col("doc"), col("rank"))
    graft.operators.SearchOps.rrfFuse(Seq(bmRank, denseRank))
      .orderBy(col("rrf").desc, col("doc"))
      .limit(20)
      .select(col("doc").as("doc_id"), rnd(col("rrf"), 9).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  val q151HybridServed: Q = (s, d) => hybridServed(s, d, IvfProbes)

  /** The fused replay: q27's centroid-literal IVF chain restricted to
    * document vectors → in-probe cosine rank top-50, q60's BM25 CTE
    * top-50, q61's RRF tail.
    */
  private def q151Sql(cs: Array[Array[Double]]): String = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(cs)
    val dExprs = cs.indices.map { i =>
      val cl = cs(i).map(_.toString).mkString("[", ",", "]")
      s"(1.0 + ${cn2(i)} - 2.0*list_inner_product(nv, $cl::DOUBLE[]))"
    }.mkString("[", ", ", "]")
    s"""${bm25Ctes(50)}, bmr AS (
         SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS r
         FROM agg
       ), e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), nn AS (
         SELECT vec_id, v,
                list_transform(v, x -> x * (CASE WHEN list_inner_product(v, v) = 0
                  THEN 0.0 ELSE 1.0/sqrt(list_inner_product(v, v)) END)) AS nv
         FROM e
       ), dc AS (
         SELECT vec_id, v, $dExprs AS ds FROM nn
       ), a AS (
         SELECT dc.vec_id, dc.v, list_position(ds, list_min(ds)) - 1 AS cell
         FROM dc JOIN documents dd ON dc.vec_id = dd.doc_id
         WHERE dc.vec_id <> 0
       ), probes AS (
         SELECT i AS cell FROM (
           SELECT unnest(range(${cs.length})) AS i, unnest(ds) AS dd
           FROM dc WHERE vec_id = 0)
         ORDER BY dd, i LIMIT $IvfProbes
       ), q AS (
         SELECT v AS qv FROM e WHERE vec_id = 0
       ), dh AS (
         SELECT a.vec_id AS doc_id, list_cosine_similarity(a.v, q.qv) AS s
         FROM a JOIN probes USING (cell), q
         ORDER BY s DESC, a.vec_id LIMIT 50
       ), dnr AS (
         SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS r
         FROM dh
       ), u AS (
         SELECT doc_id, 0 AS src, CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r) AS c FROM bmr
         UNION ALL
         SELECT doc_id, 1 AS src, CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r) AS c FROM dnr
       ), f AS (
         SELECT doc_id, sum(c ORDER BY src) AS rrf FROM u GROUP BY doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20
       )
       SELECT doc_id, floor(rrf * 1000000000 + 0.5) / 1000000000.0 AS rrf
       FROM f ORDER BY rrf DESC, doc_id"""
  }

  // -------------------------------------------------------------------------

  val queries: ListMap[String, Q] = ListMap(
    "q13_chunks" -> q13Chunks,
    "q14_chunk_ids" -> q14ChunkIds,
    "q15_embed_dev" -> q15EmbedDev,
    "q16_knn_cosine" -> q16KnnCosine,
    "q17_dedup_exact" -> q17DedupExact,
    "q18_jaccard_pairs" -> q18JaccardPairs,
    "q19_minhash_lsh" -> q19MinhashLsh,
    "q20_simhash" -> q20Simhash,
    "q21_lang_id" -> q21LangId,
    "q22_quality" -> q22Quality,
    "q23_fingerprint" -> q23Fingerprint,
    "q24_sessionize" -> q24Sessionize,
    "q25_ann_lsh" -> q25AnnLsh,
    "q26_json_props" -> q26JsonProps,
    "q27_ann_ivf" -> q27AnnIvf,
    "q28_embedding_near_dup" -> q28EmbeddingNearDup,
    "q29_embedding_near_dup_lsh" -> q29EmbeddingNearDupLsh,
    "q30_simhash_near_dup" -> q30SimhashNearDup,
    "q31_asof_join" -> q31AsofJoin,
    "q32_range_join" -> q32RangeJoin,
    "q46_batch_search" -> q46BatchSearch,
    "q47_documents_listing" -> q47DocumentsListing,
    "q48_synth_gate" -> q48SynthGate,
    "q49_ingest_summary" -> q49IngestSummary,
    "q50_export_manifest" -> q50ExportManifest,
    "q51_token_budget" -> q51TokenBudget,
    "q53_ask_eval" -> q53AskEval,
    "q55_line_dedup" -> q55LineDedup,
    "q56_token_freq" -> q56TokenFreq,
    "q57_decontaminate" -> q57Decontaminate,
    "q58_quantize_embeddings" -> q58QuantizeEmbeddings,
    "q59_stratified_sample" -> q59StratifiedSample,
    "q60_bm25" -> q60Bm25,
    "q61_hybrid_rrf" -> q61HybridRrf,
    "q67_quality_classifier" -> q67QualityClassifier,
    "q68_bm25_indexed" -> q68Bm25Indexed,
    "q77_inc_text_index" -> q77IncTextIndex,
    "q78_inc_ivf" -> q78IncIvf,
    "q79_inc_pq" -> q79IncPq,
    "q62_batch_ann" -> q62BatchAnn,
    "q69_ann_pq" -> q69AnnPq,
    "q70_gopher_quality" -> q70GopherQuality,
    "q71_dsir_weights" -> q71DsirWeights,
    "q81_bigram_lm" -> q81BigramLm,
    "q82_sem_dedup" -> q82SemDedup,
    "q83_dup_spans" -> q83DupSpans,
    "q84_mixture_sample" -> q84MixtureSample,
    "q72_i8_search" -> q72I8Search,
    "q73_batch_pq" -> q73BatchPq,
    "q74_global_line_dedup" -> q74GlobalLineDedup,
    "q75_dup_clusters" -> q75DupClusters,
    "q85_dedup_apply" -> q85DedupApply,
    "q86_shard_plan" -> q86ShardPlan,
    "q76_ivf_pq" -> q76IvfPq,
    "q87_stream_bm25" -> q87StreamBm25,
    "q88_span_removal" -> q88SpanRemoval,
    "q89_stream_ivf" -> q89StreamIvf,
    "q90_stream_pq" -> q90StreamPq,
    "q92_datasheet" -> q92Datasheet,
    "q93_fuzzy_decontam" -> q93FuzzyDecontam,
    "q94_balanced_shards" -> q94BalancedShards,
    "q95_cluster_balance" -> q95ClusterBalance,
    "q96_inc_near_dup" -> q96IncNearDup,
    "q97_stream_near_dup" -> q97StreamNearDup,
    "q98_curation_pipeline" -> q98CurationPipeline,
    "q99_full_recipe" -> q99FullRecipe,
    "q100_media_decode" -> q100MediaDecode,
    "q102_domain_curation" -> q102DomainCuration,
    "q106_pii_redact" -> q106PiiRedact,
    "q107_sequence_packing" -> q107SequencePacking,
    "q108_leakage_split" -> q108LeakageSplit,
    "q109_budget_select" -> q109BudgetSelect,
    "q110_mixture_diag" -> q110MixtureDiag,
    "q111_dup_leakage" -> q111DupLeakage,
    "q112_packed_manifest" -> q112PackedManifest,
    "q113_mixture_weights" -> q113MixtureWeights,
    "q114_sft_mask" -> q114SftMask,
    "q115_packing_curve" -> q115PackingCurve,
    "q116_noise_spans" -> q116NoiseSpans,
    "q117_train_prep" -> q117TrainPrep,
    "q118_dedup_impact" -> q118DedupImpact,
    "q119_epoch_shuffle" -> q119EpochShuffle,
    "q120_bpe_merges" -> q120BpeMerges,
    "q121_ann_recall" -> q121AnnRecall,
    "q122_threshold_curve" -> q122ThresholdCurve,
    "q123_contam_attribution" -> q123ContamAttribution,
    "q124_fertility_curve" -> q124FertilityCurve,
    "q125_decontam_ablation" -> q125DecontamAblation,
    "q126_quality_keeper" -> q126QualityKeeper,
    "q127_crawl_yield" -> q127CrawlYield,
    "q128_pq_recall" -> q128PqRecall,
    "q129_fertility_by_source" -> q129FertilityBySource,
    "q130_lsh_tuning" -> q130LshTuning,
    "q131_repeat_value" -> q131RepeatValue,
    "q132_quality_calibration" -> q132QualityCalibration,
    "q133_embedding_drift" -> q133EmbeddingDrift,
    "q134_length_histogram" -> q134LengthHistogram,
    "q135_decontam_overlap" -> q135DecontamOverlap,
    "q136_tokenizer_drift" -> q136TokenizerDrift,
    "q137_gate_funnel" -> q137GateFunnel,
    "q138_vocab_growth" -> q138VocabGrowth,
    "q139_review_queue" -> q139ReviewQueue,
    "q140_syndication" -> q140Syndication,
    "q141_mixture_schedule" -> q141MixtureSchedule,
    "q142_loader_manifest" -> q142LoaderManifest,
    "q143_near_syndication" -> q143NearSyndication,
    "q144_freq_spectrum" -> q144FreqSpectrum,
    "q145_compute_budget" -> q145ComputeBudget,
    "q146_shard_datasheet" -> q146ShardDatasheet,
    "q147_cluster_shape" -> q147ClusterShape,
    "q148_bpe_tokenize" -> q148BpeTokenize,
    "q149_inc_manifest" -> q149IncManifest,
    "q150_stream_manifest" -> q150StreamManifest,
    "q151_hybrid_served" -> q151HybridServed,
    "q152_bpe_merges_v2" -> q152BpeMergesV2,
    "q154_inc_clusters" -> q154IncClusters,
    "q155_stream_clusters" -> q155StreamClusters,
    "q153_bpe_tokenize_v2" -> q153BpeTokenizeV2,
    "q103_video_search" -> q103VideoSearch,
    "q104_frame_ann" -> q104FrameAnn,
  )

  /** Oracles whose SQL embeds trained literals — IVF centroids, PQ
    * codebooks, quality-classifier weights — read through the same
    * accessor or store path the query serves, so they exist whatever ran
    * before. The incremental and streamed stores' final live state is the
    * corpus, so q78/q79 reuse the full q27/q69 replays.
    */
  private[graft] val artifactOracles: ListMap[String, Catalog.Oracle] = {
    def ivf(sql: Array[Array[Double]] => String): Catalog.Oracle =
      (s, d) => sql(ivfIndex(s, d).centroids)
    def pq(sql: Array[Array[Array[Double]]] => String): Catalog.Oracle =
      (s, d) => sql(pqIndex(s, d).codebooks)
    def qc(sql: Array[Double] => String): Catalog.Oracle =
      (s, d) => sql(qcWeights(s, d))
    ListMap(
      "q27_ann_ivf" -> ivf(q27Sql),
      "q62_batch_ann" -> ivf(q62Sql),
      "q82_sem_dedup" -> ivf(q82Sql),
      "q95_cluster_balance" -> ivf(q95Sql),
      "q121_ann_recall" -> ivf(q121Sql),
      "q151_hybrid_served" -> ivf(q151Sql),
      "q69_ann_pq" -> pq(q69Sql),
      "q73_batch_pq" -> pq(q73Sql),
      "q128_pq_recall" -> pq(q128Sql),
      "q67_quality_classifier" -> qc(q67Sql),
      "q132_quality_calibration" -> qc(q132Sql),
      "q139_review_queue" -> qc(q139Sql),
      ("q76_ivf_pq", (s, d) => q76Sql(ivfIndex(s, d).centroids, pqIndex(s, d).codebooks)),
      ("q78_inc_ivf", (s, d) =>
        q27Sql(VectorStore.readCentroids(q78EnsureIncremental(s, d)))),
      ("q79_inc_pq", (s, d) =>
        q69Sql(VectorStore.readPq(s, q79EnsureIncremental(s, d)).codebooks)),
      ("q89_stream_ivf", (s, d) =>
        q89Sql(VectorStore.readCentroids(s"${q87EnsureStreaming(s, d)}/vstore"))),
      ("q90_stream_pq", (s, d) => q90Sql(VectorStore.readPq(
        s, s"${q87EnsureStreaming(s, d)}/pq", idCol = "id").codebooks)),
      ("q104_frame_ann", (s, d) =>
        q104Sql(VectorStore.readCentroids(ensureFrameStore(s, d)))),
    )
  }

  private[queries] val fixedOracles: ListMap[String, String] = ListMap(
    "q13_chunks" -> q13Sql,
    "q14_chunk_ids" -> q14Sql,
    "q15_embed_dev" -> q15Sql,
    "q19_minhash_lsh" -> q19Sql,
    "q25_ann_lsh" -> q25Sql,
    "q16_knn_cosine" -> q16Sql,
    "q17_dedup_exact" -> q17Sql,
    "q18_jaccard_pairs" -> q18Sql,
    "q20_simhash" -> q20Sql,
    "q21_lang_id" -> q21Sql,
    "q22_quality" -> q22Sql,
    "q23_fingerprint" -> q23Sql,
    "q24_sessionize" -> q24Sql,
    "q26_json_props" -> q26Sql,
    "q28_embedding_near_dup" -> q28Sql,
    "q29_embedding_near_dup_lsh" -> q29Sql,
    "q30_simhash_near_dup" -> q30Sql,
    "q31_asof_join" -> q31Sql,
    "q32_range_join" -> q32Sql,
    "q46_batch_search" -> q46Sql,
    "q47_documents_listing" -> q47Sql,
    "q48_synth_gate" -> q48Sql,
    "q49_ingest_summary" -> q49Sql,
    "q50_export_manifest" -> q50Sql,
    "q51_token_budget" -> q51Sql,
    "q53_ask_eval" -> q53Sql,
    "q55_line_dedup" -> q55Sql,
    "q56_token_freq" -> q56Sql,
    "q57_decontaminate" -> q57Sql,
    "q58_quantize_embeddings" -> q58Sql,
    "q59_stratified_sample" -> q59Sql,
    "q60_bm25" -> q60Sql,
    "q61_hybrid_rrf" -> q61Sql,
    "q68_bm25_indexed" -> q60Sql,
    "q77_inc_text_index" -> q60Sql,
    // streamed corpus == true corpus: q60's inline recomputation applies
    "q87_stream_bm25" -> q60Sql,
    "q88_span_removal" -> q88Sql,
    "q70_gopher_quality" -> q70Sql,
    "q71_dsir_weights" -> q71Sql,
    "q81_bigram_lm" -> q81Sql,
    "q83_dup_spans" -> q83Sql,
    "q84_mixture_sample" -> q84Sql,
    "q72_i8_search" -> q72Sql,
    "q74_global_line_dedup" -> q74Sql,
    "q75_dup_clusters" -> q75Sql,
    "q85_dedup_apply" -> q85Sql,
    "q86_shard_plan" -> q86Sql,
    "q92_datasheet" -> q92Sql,
    "q93_fuzzy_decontam" -> q93Sql,
    "q94_balanced_shards" -> q94Sql,
    "q96_inc_near_dup" -> q96Sql,
    // streamed corpus == true corpus: q96's replay applies verbatim
    "q97_stream_near_dup" -> q96Sql,
    "q98_curation_pipeline" -> q98Sql,
    "q99_full_recipe" -> q99Sql,
    "q100_media_decode" -> q100Sql,
    "q102_domain_curation" -> q102Sql,
    "q106_pii_redact" -> q106Sql,
    "q107_sequence_packing" -> q107Sql,
    "q108_leakage_split" -> q108Sql,
    "q109_budget_select" -> q109Sql,
    "q110_mixture_diag" -> q110Sql,
    "q111_dup_leakage" -> q111Sql,
    "q112_packed_manifest" -> q112Sql,
    "q113_mixture_weights" -> q113Sql,
    "q114_sft_mask" -> q114Sql,
    "q115_packing_curve" -> q115Sql,
    "q116_noise_spans" -> q116Sql,
    "q117_train_prep" -> q117Sql,
    "q118_dedup_impact" -> q118Sql,
    "q119_epoch_shuffle" -> q119Sql,
    "q120_bpe_merges" -> q120Sql,
    "q122_threshold_curve" -> q122Sql,
    "q123_contam_attribution" -> q123Sql,
    "q124_fertility_curve" -> q124Sql,
    "q125_decontam_ablation" -> q125Sql,
    "q126_quality_keeper" -> q126Sql,
    "q127_crawl_yield" -> q127Sql,
    "q129_fertility_by_source" -> q129Sql,
    "q130_lsh_tuning" -> q130Sql,
    "q131_repeat_value" -> q131Sql,
    "q133_embedding_drift" -> q133Sql,
    "q134_length_histogram" -> q134Sql,
    "q135_decontam_overlap" -> q135Sql,
    "q136_tokenizer_drift" -> q136Sql,
    "q137_gate_funnel" -> q137Sql,
    "q138_vocab_growth" -> q138Sql,
    "q140_syndication" -> q140Sql,
    "q141_mixture_schedule" -> q141Sql,
    "q142_loader_manifest" -> q142Sql,
    "q143_near_syndication" -> q143Sql,
    "q144_freq_spectrum" -> q144Sql,
    "q145_compute_budget" -> q145Sql,
    "q146_shard_datasheet" -> q146Sql,
    "q147_cluster_shape" -> q147Sql,
    "q148_bpe_tokenize" -> q148Sql,
    "q149_inc_manifest" -> q149Sql,
    "q150_stream_manifest" -> q149Sql,
    "q152_bpe_merges_v2" -> q152Sql,
    "q153_bpe_tokenize_v2" -> q153Sql,
    "q154_inc_clusters" -> q75Sql,
    "q155_stream_clusters" -> q75Sql,
    "q103_video_search" -> q103Sql,
  )
}
