package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Session

/** Measurement (r16 verdict Next #6): q148's per-OCCURRENCE apply_bpe map
  * vs the distinct-word-JOIN rewrite, on a corpus with a chosen
  * redelivery rate (tools/HighDupDraw output). The scaladoc at q148
  * documents the trade qualitatively — the map form pays apply per
  * occurrence but stays join-free (the streaming-tokenizer shape); the
  * join form dedups apply work per DISTINCT word at the price of
  * shuffling every corpus token through a join — this tool turns it into
  * a number. Caveat recorded with the output: the generated corpus'
  * deliberately tiny lexicon (~31 distinct [a-z]+ words) is the join
  * form's best case (W ≪ T by construction); at a Heaps-law vocabulary
  * the join side ALSO pays a W-row apply, so the printed ratio is an
  * upper bound on the join form's advantage.
  *
  * Usage: runMain graft.tools.Q148Crossover [sfDir] [reps] [merges]
  * (merges > 6 re-trains the chain at that depth via trainBpeLocal — the
  * apply cost grows mildly with K, so the crossover, if any, appears at
  * production vocabulary depth, not at the shipped K=6.)
  */
object Q148Crossover {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 5
    val depth = if (args.length > 2) args(2).toInt else 6
    val spark = Session.local()
    val merges: IndexedSeq[(String, String)] =
      if (depth <= 6) graft.queries.PipelineCatalog.bpeMerges(spark, sfDir)
      else {
        val table = graft.queries.PipelineCatalog.bpeWordTable(spark, sfDir)
          .select(col("freq"), col("r")).collect()
          .map(r => (r.getLong(0), r.getString(1).trim.split("  ")))
        graft.queries.PipelineCatalog.trainBpeLocal(table, depth)
          .map(m => (m._1, m._2))
      }
    require(merges.nonEmpty, "induction exhausted — nothing to apply")

    def words: DataFrame = graft.core.Tables
      .fanOut(graft.core.Tables(spark, sfDir, "documents"))
      .select(col("doc_id"),
        explode(graft.operators.TextAnalytics.tokens(lower(col("text"))))
          .as("word"))
      .filter(col("word").rlike("^[a-z]+$"))

    def nSym(c: org.apache.spark.sql.Column) = size(split(trim(
      graft.functions.ApplyBpe.applyBpe(
        graft.functions.CharInterleave.charInterleave(c), merges, spark)),
      "  ")).cast("long")

    // the shipped shape: apply per occurrence, join-free
    def perOccurrence: DataFrame = words
      .select(col("doc_id"), length(col("word")).cast("long").as("n_ch"),
        nSym(col("word")).as("n_sym"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_ch")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))

    // the rewrite: apply once per distinct word, join back to occurrences
    def distinctJoin: DataFrame = {
      val sym = words.select(col("word")).distinct()
        .select(col("word"), nSym(col("word")).as("n_sym"))
      words.join(sym, Seq("word"))
        .select(col("doc_id"), length(col("word")).cast("long").as("n_ch"),
          col("n_sym"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_ch")).as("n_chars"),
          sum(col("n_sym")).as("n_bpe_tokens"))
    }

    def time(mk: => DataFrame): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Session.materialize(mk)
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }
    // equal-output check first (the A/B is meaningless otherwise)
    val a = perOccurrence.orderBy(col("doc_id")).collect().map(_.toString)
    val b = distinctJoin.orderBy(col("doc_id")).collect().map(_.toString)
    require(a.sameElements(b), "rewrite is not value-identical — A/B void")
    val stats = words.agg(count(lit(1)), countDistinct(col("word"))).head()
    val tOcc = time(perOccurrence)
    val tJoin = time(distinctJoin)
    println(s"""{"metric":"q148_crossover","sf":"$sfDir","occurrences":${stats.getLong(0)},"distinct_words":${stats.getLong(1)},"merges":${merges.size},"per_occurrence_sec":$tOcc,"distinct_join_sec":$tJoin,"ratio_occ_over_join":${tOcc / tJoin}}""")
    spark.stop()
  }
}
