package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Convergence properties of the connected-components canonicalizer
  * (q75's engine). The pointer-jumping hop must make long chains — the
  * shape versioned/re-crawled documents produce — converge in
  * O(log diameter) rounds, and a genuine non-convergence must THROW
  * instead of silently returning split clusters.
  */
class DedupClusterSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("200-long chain converges within default maxIters (pointer jumping)") {
    import spark.implicits._
    // a single path 0-1-2-…-200: diameter 200 >> maxIters 20, so plain
    // neighbour propagation alone could NOT converge — label-of-label
    // halves the chains each round (~8 rounds for 200 nodes)
    val pairs = (0 until 200).map(i => (i.toLong, i + 1L)).toDF("a_id", "b_id")
    val out = Dedup.propagateClusters(pairs, "a_id", "b_id").collect()
    assert(out.length == 201)
    assert(out.forall(_.getLong(1) == 0L), "all nodes must label to min node 0")
    assert(out.count(_.getBoolean(2)) == 1, "exactly one canonical survivor")
  }

  test("disjoint components keep distinct min-labels") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("a_id", "b_id")
    val out = Dedup.duplicateClusters(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("non-convergence at maxIters throws instead of returning wrong labels") {
    import spark.implicits._
    val pairs = (0 until 40).map(i => (i.toLong, i + 1L)).toDF("a_id", "b_id")
    // maxIters=1 cannot settle a 40-chain even with jumping
    val err = intercept[IllegalStateException](
      Dedup.propagateClusters(pairs, "a_id", "b_id", maxIters = 1).collect())
    assert(err.getMessage.contains("not converged"), err.getMessage)
  }

  // --- driver union-find vs distributed propagation -----------------------

  /** Order-free rows plus the schema. */
  private def image(df: org.apache.spark.sql.DataFrame) =
    (df.schema, df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq)

  /** The entry's driver path, the distributed propagation, and the entry
    * with the broadcast threshold disabled (which must take the
    * distributed path) all give the same rows and schema.
    */
  private def assertPathsAgree(pairs: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val driver = image(Dedup.duplicateClusters(pairs, "a_id", "b_id"))
    assert(driver == image(Dedup.propagateClusters(pairs, "a_id", "b_id")), what)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try assert(driver == image(Dedup.duplicateClusters(pairs, "a_id", "b_id")),
      s"$what (threshold disabled)")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("union-find parity: random graphs, chain, star, disjoint components") {
    import spark.implicits._
    for (seed <- Seq(1L, 2L, 3L)) {
      val rng = new scala.util.Random(seed)
      // duplicate edges and self-loops included
      val edges = Seq.fill(90)((rng.nextInt(70).toLong, rng.nextInt(70).toLong))
      assertPathsAgree(edges.toDF("a_id", "b_id"), s"random graph seed=$seed")
    }
    assertPathsAgree((0 until 200).map(i => (i + 1L, i.toLong)).toDF("a_id", "b_id"), "chain")
    assertPathsAgree((1 until 50).map(i => (i.toLong * 3, 77L)).toDF("a_id", "b_id"), "star")
    assertPathsAgree(Seq((5, 4), (4, 3), (30, 31), (9, 9), (31, 12)).toDF("a_id", "b_id"),
      "disjoint int components")
  }

  test("union-find parity: string ids take the minimum by UTF-8 bytes") {
    import spark.implicits._
    // U+FF21 sorts below U+1F600 in UTF-8 (EF.. < F0..) but above it in
    // UTF-16 code units (FF21 > D83D): Spark's minimum is the fullwidth A
    val emoji = "\uD83D\uDE00"
    val fullA = "\uFF21"
    val pairs = Seq((emoji, fullA), (emoji + "x", emoji), ("b", "a"), ("c", "b"))
      .toDF("a_id", "b_id")
    assertPathsAgree(pairs, "string ids")
    val labels = Dedup.duplicateClusters(pairs, "a_id", "b_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels(emoji) == fullA && labels(emoji + "x") == fullA, labels)
    assert(labels("c") == "a")
  }

  test("a small graph's clusters cost at most two Spark jobs") {
    import spark.implicits._
    val pairs = (0 until 50).map(i => (i.toLong, (i / 3).toLong)).toDF("a_id", "b_id")
    val (rows, prof) = graft.core.Telemetry.profile(spark, "clusters")(
      Dedup.duplicateClusters(pairs, "a_id", "b_id").collect())
    assert(rows.length == 50)
    assert(prof.jobs.size <= 2, s"${prof.jobs.size} jobs: ${prof.json}")
  }

  // --- Bloom-pruned incremental dedup: the sketch must be invisible -------

  private def randomCorpusAndBatch(seed: Long) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val corpusRows = (0 until 80).map(i => (i.toLong, s"doc $i ${rng.nextInt(5)}"))
    val batchRows = (0 until 60).map { i =>
      val id = 1000L + i
      rng.nextInt(3) match {
        case 0 => (id, corpusRows(rng.nextInt(corpusRows.size))._2) // corpus dup
        case 1 => (id, s"batch shared ${rng.nextInt(8)}")           // batch dup pool
        case _ => (id, s"unique $seed $i")                          // new
      }
    }
    (corpusRows.toDF("doc_id", "text"), batchRows.toDF("doc_id", "text"))
  }

  private def classify(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "dup_of_corpus", "is_batch_dup")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet

  test("bloomIncrementalExact matches incrementalExact exactly") {
    for (seed <- Seq(7L, 42L)) {
      val (corpus, batch) = randomCorpusAndBatch(seed)
      val sketch = Dedup.corpusSignatureSketch(corpus, "text", 80L, 0.01)
      val plain = classify(Dedup.incrementalExact(batch, corpus, "doc_id", "text"))
      val bloom = classify(
        Dedup.bloomIncrementalExact(batch, corpus, "doc_id", "text", sketch))
      assert(bloom == plain, s"seed=$seed")
      assert(bloom.size == 60, "every batch row classified exactly once")
    }
  }

  test("a saturated sketch (undersized, high fpp) still verifies exactly") {
    // worst-case sketch: sized for 1 item at 50% fpp → nearly every probe
    // is a false positive — output must STILL equal the exact classifier,
    // only the pruning benefit degrades
    val (corpus, batch) = randomCorpusAndBatch(99L)
    val bad = Dedup.corpusSignatureSketch(corpus, "text", 1L, 0.5)
    val plain = classify(Dedup.incrementalExact(batch, corpus, "doc_id", "text"))
    val bloom = classify(
      Dedup.bloomIncrementalExact(batch, corpus, "doc_id", "text", bad))
    assert(bloom == plain)
  }

  test("bloom-negative rows are classified without any corpus join rows") {
    import spark.implicits._
    // disjoint batch: nothing shares a signature with the corpus, so with
    // a well-sized sketch (1% fpp over 60 probes) ~all rows take the
    // definitely-new path; assert none is ever marked a corpus dup and
    // null text still classifies (the empty-signature contract)
    val corpus = (0 until 50).map(i => (i.toLong, s"corpus only $i")).toDF("doc_id", "text")
    val batch = ((0 until 30).map(i => (2000L + i, s"brand new $i": String)) :+
      ((2030L, null: String))).toDF("doc_id", "text")
    val sketch = Dedup.corpusSignatureSketch(corpus, "text", 50L, 0.01)
    val out = classify(Dedup.bloomIncrementalExact(batch, corpus, "doc_id", "text", sketch))
    assert(out.size == 31)
    assert(out.forall(!_._2), "disjoint batch must have no corpus dups")
  }

  test("incremental near-dup equals the from-scratch pass on batch x corpus") {
    import spark.implicits._
    import graft.sources.BandStore
    val rng = new scala.util.Random(17)
    val vocab = (0 until 200).map(i => s"w$i")
    def text(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val corpusRows = (0 until 60).map(i => (i.toLong, text(30 + rng.nextInt(40))))
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = ((0 until 10).map(i =>
      (1000L + i, corpusRows(i * 6)._2 + " appended v2 tail")) ++
      (10 until 20).map(i => (1000L + i, text(40)))).toDF("doc_id", "text")

    val store = BandStore.Store(
      BandStore.bandRows(corpus, "doc_id", "text", 32, 8), 32, 8)
    val inc = Dedup.incrementalNearDuplicates(batch, corpus, store, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    // ground truth: the full-corpus operator over the union, restricted
    // to cross (batch, corpus) pairs — batch ids are all > corpus ids,
    // so a_id is the corpus doc and b_id the batch doc
    val full = Dedup.minhashNearDuplicates(corpus.unionByName(batch), "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter { case (a, b, _, _) => a < 1000L && b >= 1000L }
      .map { case (a, b, i, j) => (b, a, i, j) }.toSet

    assert(inc == full, s"inc-only=${inc -- full} full-only=${full -- inc}")
    assert(inc.size >= 10, "every edited batch row must match its source")
  }

  test("fuzzy decontamination catches a paraphrase exact 8-grams miss entirely") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.WordShingles
    // deterministic "documents": 120 words over a 20-word vocab
    val rng = new scala.util.Random(3)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julie", "kilo", "lima", "mike", "nova",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    def mkWords(n: Int) = Vector.fill(n)(vocab(rng.nextInt(vocab.size)))
    val base = mkWords(120)
    // paraphrase: every 8th word edited → EVERY word-8-gram of the leak
    // touches an edit (zero exact overlap), while ~5/8 of the 3-gram
    // shingles survive (Jaccard ≈ 0.45)
    val para = base.zipWithIndex.map { case (w, i) =>
      if (i % 8 == 0) s"edit$i" else w }
    val train = Seq((1L, base.mkString(" ")), (2L, mkWords(120).mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((100L, para.mkString(" "))).toDF("doc_id", "text")

    val t8 = train.filter($"doc_id" === 1)
      .select(explode(WordShingles.wordShingles($"text", 8)).as("s"))
    val b8 = bench.select(explode(WordShingles.wordShingles($"text", 8)).as("s"))
    assert(t8.join(b8, "s").count() == 0,
      "the paraphrase must defeat exact 8-gram matching")

    val out = Dedup.fuzzyDecontaminate(train, bench, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(1L),
      s"only the leak source must flag (got ${out.keySet})")
    assert(out(1L) >= 0.3 && out(1L) < 0.9, s"partial-overlap jaccard, got ${out(1L)}")
  }
}
