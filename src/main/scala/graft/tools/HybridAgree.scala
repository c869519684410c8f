package graft.tools

import graft.core.Session

/** Measurement: rank agreement of the store-served approximate hybrid
  * (q151 — IVF dense arm × TextIndex sparse arm × RRF) against the exact
  * hybrid (q61 — brute-cosine dense arm) per probe budget, the q121/q128
  * "measure, don't guess" discipline applied to the fused ranking.
  *
  * Prints one JSON line per nProbe tier: overlap@20 (set agreement of the
  * fused top-20), exact-position matches@20, and overlap@10 of the heads
  * — the serving numbers PROFILE_r18's curve records.
  *
  * Usage: runMain graft.tools.HybridAgree [sfDir]
  */
object HybridAgree {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = Session.local()
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    val exact = ranked(graft.SparkEntry.queries("q61_hybrid_rrf")(spark, sfDir))
    for (p <- Seq(1, 2, 4, 8, 16)) {
      val approx = ranked(
        graft.queries.PipelineCatalog.hybridServed(spark, sfDir, p))
      val overlap20 = approx.toSet.intersect(exact.toSet).size
      val pos20 = approx.zip(exact).count { case (a, b) => a == b }
      val overlap10 =
        approx.take(10).toSet.intersect(exact.take(10).toSet).size
      println(s"""{"nprobe":$p,"overlap_at_20":$overlap20,"pos_match_at_20":$pos20,"overlap_at_10":$overlap10,"exact_n":${exact.size},"approx_n":${approx.size},"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
