package graft.tools

import graft.core.Session

/** Dev-loop tool for ONE catalog query under the bench's session config
  * ([[Session.local]]), without a full bench or Verify sweep.
  *
  *  - time (default): `reps` runs, each timed as construction plus
  *    [[Session.materialize]], matching Bench's definition: store-backed
  *    lineages do EAGER work at construction (manifest checks, candidate
  *    localCheckpoints) — r10 found q97 "0.5 s" under the old
  *    materialize-only timing vs its honest 3.4 s with construction
  *    included. The construction share is printed so the split stays
  *    visible. Between runs: Bench's clearCache + GC cooldown. `plan`
  *    also prints the executed (AQE-final) plan of one more run — for
  *    chasing per-query regressions (e.g. the round-2 q03 delta).
  *  - rows: prints up to `maxRows` result rows as JSON lines — for
  *    reading a REPORT query's values on an ad-hoc corpus (e.g. q147 on a
  *    high-dup synthetic draw, SCALING row 29).
  *
  * Usage: runMain graft.tools.QueryTime <name> [sfDir] [reps] [plan]
  *        runMain graft.tools.QueryTime <name> <sfDir> rows [maxRows]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error(
      "usage: QueryTime <name> [sfDir] [reps] [plan] | <name> <sfDir> rows [maxRows]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val query = graft.SparkEntry.queries(name)
    val spark = Session.local()
    if (args.lift(2).contains("rows")) {
      val maxRows = args.lift(3).map(_.toInt).getOrElse(1000)
      // take, not collect().take: the cap must bound DRIVER memory too
      query(spark, sfDir).toJSON.take(maxRows).foreach(println)
    } else {
      val reps = args.lift(2).map(_.toInt).getOrElse(5)
      val runs = (1 to reps).map { i =>
        if (i > 1) {
          spark.catalog.clearCache(); System.gc(); Thread.sleep(200); System.gc()
        }
        val t0 = System.nanoTime()
        val df = query(spark, sfDir)
        val tc = (System.nanoTime() - t0) / 1e9
        Session.materialize(df)
        ((System.nanoTime() - t0) / 1e9, tc)
      }
      println(f"$name: ${runs.map { case (t, c) => f"$t%.2f(c$c%.2f)" }.mkString(" ")} " +
        f"(min ${runs.map(_._1).min}%.2f)")
      if (args.contains("plan")) {
        val agg = Session.fold(query(spark, sfDir))
        agg.collect() // executes agg's own plan, so AQE finalizes it
        println(agg.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
