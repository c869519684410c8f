package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SearchOps
import graft.sources.TextIndex

/** The serving operators of an ask, called directly: the indexed BM25
  * must equal the inline BM25 bit for bit over any maintenance history,
  * and reciprocal-rank fusion must give the exact Σ 1/(60+rank).
  */
class ServeOpsSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docsDF(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def ids(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("doc_id")
  }

  private val vocab = (0 until 24).map(i => s"t$i")
  private def text(i: Int): String =
    (0 until 4 + i % 9).map(j => vocab((i * 5 + j * j) % vocab.size)).mkString(" ")

  private def scores(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Write → replace-upsert → delete-upsert → compact over one index,
    * checking indexed against inline BM25 after every step. `legacy`
    * starts from the 64-bucket layout with no count record
    * ([[LegacyTextIndex]]) instead of the sized one.
    */
  private def bm25Parity(legacy: Boolean): Unit = {
    var model: Map[Long, String] = (0 until 60).map(i => i.toLong -> text(i)).toMap
    val path = scratchDir("graft-serve-ops").resolve("idx").toString
    TextIndex.write(docsDF(model.toSeq), "doc_id", "text", path,
      policy = TextIndex.Policy(maxSegments = 100L, maxDeadFraction = 1.1))
    if (legacy) LegacyTextIndex.rewrite(spark, path)
    val index = TextIndex.read(spark, path)
    assert(index.buckets == (if (legacy) 64 else 1))

    val usedBuckets = vocab.map(index.bucketOf).toSet
    // a term absent from the corpus whose bucket directory exists, and one
    // whose bucket directory does not (only possible with several buckets)
    val absent = (0 until 1000).map(i => s"zz$i")
    val absentSharing = absent.find(t => usedBuckets.contains(index.bucketOf(t))).get
    val absentNoDir = absent.find(t => !usedBuckets.contains(index.bucketOf(t)))
    assert(absentNoDir.isDefined == legacy)
    val queries = Seq(
      Seq("t1", "t7", "t13"),
      Seq("t2", absentSharing, "t2"),
      vocab) ++ absentNoDir.toSeq.flatMap(t => Seq(Seq("t5", t), Seq(t)))

    def check(stage: String): Unit = queries.foreach { terms =>
      val indexed = scores(SearchOps.bm25ScoresIndexed(TextIndex.read(spark, path), terms))
      val inline = scores(SearchOps.bm25Scores(docsDF(model.toSeq), "doc_id", "text", terms))
      assert(indexed == inline, s"$stage, terms $terms")
      assert(inline.nonEmpty == terms.exists(vocab.contains), s"$stage, terms $terms")
    }
    check("write")

    val replaced = Seq(3L -> "t1 t1 t7 replaced", 8L -> text(40), 100L -> "t13 t2 new doc")
    model ++= replaced
    TextIndex.upsert(spark, docsDF(replaced), "doc_id", "text", ids(), path)
    check("replace-upsert")

    model --= Seq(4L, 5L, 100L)
    TextIndex.upsert(spark, docsDF(Nil), "doc_id", "text", ids(4L, 5L, 100L), path)
    check("delete")

    // compaction re-sizes the layout to the documents left
    TextIndex.compact(spark, path)
    check("compact")
    assert(TextIndex.read(spark, path).buckets == TextIndex.bucketsFor(model.size.toLong))
  }

  test("bm25ScoresIndexed equals bm25Scores exactly after write, replace, delete and compact") {
    bm25Parity(legacy = false)
  }

  test("bm25 parity holds on the 64-bucket layout with no count record") {
    bm25Parity(legacy = true)
  }

  private def rankings(rs: Seq[Seq[String]]): Seq[DataFrame] = {
    import spark.implicits._
    rs.map(r => r.zipWithIndex.map { case (d, i) => (d, i + 1) }.toDF("doc", "rank"))
  }

  /** Σ 1/(60 + rank), folded in ranking order, then sorted like a caller
    * sorts the fuse (rrf desc, doc asc).
    */
  private def expected(rs: Seq[Seq[String]]): Seq[(String, Double)] =
    rs.flatten.distinct.map { d =>
      d -> rs.foldLeft(0.0) { (acc, r) =>
        val i = r.indexOf(d)
        if (i < 0) acc else acc + 1.0 / (60.0 + (i + 1))
      }
    }.sortBy { case (d, s) => (-s, d) }

  private def fused(rs: Seq[Seq[String]]): Seq[(String, Double)] =
    SearchOps.rrfFuse(rankings(rs)).orderBy(col("rrf").desc, col("doc")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq

  test("rrfFuse gives the exact reciprocal-rank sum in ranking order") {
    // ties: a and b are each first in one ranking and absent from the other
    val ties = Seq(Seq("a", "c", "d"), Seq("b", "c", "e"))
    assert(fused(ties) == expected(ties))
    assert(fused(ties).take(3).map(_._1) == Seq("c", "a", "b"))

    // three rankings; x appears in one ranking only, at its tail
    val three = Seq(Seq("p", "q", "r", "s"), Seq("q", "p", "s"), Seq("s", "r", "q", "x"))
    val got = fused(three)
    assert(got == expected(three))
    assert(got.find(_._1 == "x").map(_._2).contains(1.0 / 64.0))
  }

  test("rrfFuse reduces its bounded rankings on one partition, without an exchange") {
    val plan = SearchOps.rrfFuse(rankings(Seq(Seq("a", "b"), Seq("b", "c"))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
