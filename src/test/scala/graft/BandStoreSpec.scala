package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.BandStore

/** Incremental lifecycle of the band store: upsert must be
  * indistinguishable from a rebuild at serving time, replays must be
  * no-ops, and churn must stay policy-bounded with serving state
  * unchanged across compactions.
  */
class BandStoreSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String =
    scratchDir("bandstore-spec").toString

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val rng = new scala.util.Random(23)
  private val vocab = (0 until 150).map(i => s"tok$i")
  private def text(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")

  private def probePairs(store: BandStore.Store, batch: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    Dedup.incrementalNearDuplicates(batch, corpus, store, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("upsert == rebuild: replaced and deleted docs serve identically") {
    import spark.implicits._
    val v1 = (0 until 40).map(i => (i.toLong, text(30)))
    val path = tmpDir()
    BandStore.write(docsDF(v1), "doc_id", "text", path, 32, 8)

    // replace docs 0-4 with new text, delete doc 5
    val newText = (0 until 5).map(i => (i.toLong, text(30)))
    val v2 = newText ++ v1.drop(6)
    BandStore.upsert(spark, docsDF(newText), "doc_id", "text",
      Seq(5L).toDF("doc_id"), path, 32, 8)

    // batch: a near-dup of NEW doc 0, a near-dup of OLD doc 0, one of
    // deleted doc 5, one of surviving doc 20
    val batch = docsDF(Seq(
      (900L, newText(0)._2 + " tail a"),
      (901L, v1(0)._2 + " tail b"),
      (902L, v1(5)._2 + " tail c"),
      (903L, v1(20)._2 + " tail d")))

    val inc = probePairs(BandStore.read(spark, path, 32, 8), batch, docsDF(v2))
    val rebuilt = tmpDir()
    BandStore.write(docsDF(v2), "doc_id", "text", rebuilt, 32, 8)
    val ref = probePairs(BandStore.read(spark, rebuilt, 32, 8), batch, docsDF(v2))
    assert(inc == ref, s"inc-only=${inc -- ref} rebuild-only=${ref -- inc}")
    val hit = inc.map(p => p._1 -> p._2)
    assert(hit.contains(900L -> 0L), "near-dup of the replacement text must hit")
    assert(!hit.contains(901L -> 0L), "near-dup of the REPLACED text must not hit")
    assert(!hit.exists(_._2 == 5L), "deleted doc must not serve")
    assert(hit.contains(903L -> 20L), "untouched corpus must keep serving")
  }

  test("same-batch-id replay is a no-op") {
    import spark.implicits._
    val v1 = (0 until 20).map(i => (i.toLong, text(25)))
    val path = tmpDir()
    BandStore.write(docsDF(v1), "doc_id", "text", path, 32, 8)
    val delta = docsDF(Seq((100L, text(25))))
    val none = spark.emptyDataFrame.withColumn("doc_id", lit(0L)).limit(0)
    BandStore.upsert(spark, delta, "doc_id", "text", none, path, 32, 8, batchId = 7L)
    val after1 = BandStore.read(spark, path, 32, 8).rows.count()
    BandStore.upsert(spark, delta, "doc_id", "text", none, path, 32, 8, batchId = 7L)
    val after2 = BandStore.read(spark, path, 32, 8).rows.count()
    assert(after1 == after2, "replayed batch must not duplicate band rows")
    assert(BandStore.readStats(path) == (0L, 7L) ||
      BandStore.readStats(path)._2 == 7L, "watermark must record the batch")
  }

  test("churn stays policy-bounded; serving state survives compaction byte-exact") {
    import spark.implicits._
    val v1 = (0 until 30).map(i => (i.toLong, text(25)))
    val path = tmpDir()
    BandStore.write(docsDF(v1), "doc_id", "text", path, 32, 8,
      BandStore.Policy(maxSegments = 4L))
    var expected = v1.toMap
    val none = spark.emptyDataFrame.withColumn("doc_id", lit(0L)).limit(0)
    for (cycle <- 1 to 12) {
      val id = (cycle % 30).toLong
      val t = text(25)
      expected += id -> t
      BandStore.upsert(spark, docsDF(Seq(id -> t)), "doc_id", "text",
        none, path, 32, 8)
      val (gen, _) = BandStore.readStats(path)
      assert(gen + 1 <= 4L, s"cycle $cycle: segments $gen exceed policy")
    }
    // live state must equal a fresh fingerprint of the logical corpus
    val live = BandStore.read(spark, path, 32, 8).rows
      .select("c_id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fresh = BandStore.bandRows(
        docsDF(expected.toSeq), "doc_id", "text", 32, 8, 1)
      .select("c_id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(live == fresh, "compacted live rows must equal a fresh fingerprint")
  }

  test("fuzzy decontamination flags the source doc on a STRING-keyed corpus") {
    // regression: the probe once namespaced benchmark ids with a numeric
    // offset — on string id columns the arithmetic went NULL and every
    // candidate silently vanished (an always-clean decontamination gate)
    import spark.implicits._
    val corpus = (0 until 20).map(i => (s"doc-$i.txt", text(40)))
    val corpusDF = corpus.toDF("doc", "text")
    val path = tmpDir()
    BandStore.write(corpusDF, "doc", "text", path, 32, 8)
    val store = BandStore.read(spark, path, 32, 8)
    // a benchmark extract FROM corpus doc 3, same id — the self-source
    // pair must flag, plus a paraphrase-shaped edit of doc 7
    val bench = Seq(
      ("doc-3.txt", corpus(3)._2),
      ("bench-x", corpus(7)._2 + " held out eval")).toDF("doc", "text")
    val dirty = Dedup.storedFuzzyDecontaminate(
        corpusDF, bench, store, "doc", "text", threshold = 0.3)
      .collect().map(_.getString(0)).toSet
    assert(dirty.contains("doc-3.txt"),
      "benchmark extract must flag its own source doc (string ids)")
    assert(dirty.contains("doc-7.txt"),
      "edited extract must flag its source doc (string ids)")
  }
}
