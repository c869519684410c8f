package graft.tools

import graft.core.{Session, Telemetry}

/** Dev-loop tool for ONE catalog query under the bench's session config
  * ([[Session.local]]), without a full bench or Verify sweep.
  *
  *  - time (default): `reps` runs, each timed as construction plus
  *    [[Session.materialize]], matching Bench's definition: store-backed
  *    lineages do EAGER work at construction (manifest checks, candidate
  *    localCheckpoints) — r10 found q97 "0.5 s" under the old
  *    materialize-only timing vs its honest 3.4 s with construction
  *    included. The construction share is printed so the split stays
  *    visible. Between runs: [[Session.cooldown]]. `plan`
  *    also prints the executed (AQE-final) plan of one more run — for
  *    chasing per-query regressions (e.g. the round-2 q03 delta).
  *  - profile: the same run vector, each run under [[Telemetry.profile]],
  *    then one JSON line with the runs and the last run's profile: every
  *    job, each stage's wall time, max/median task time and shuffle
  *    records, shuffle/spill bytes and GC, and the
  *    [[graft.sources.GenStore.Probe]] store round-trips. The last run is
  *    warm, so a store-backed query shows its serve cost, not its first
  *    build. A [[graft.core.ScaledCorpus]] directory as `sfDir` profiles
  *    the query at scale.
  *  - rows: prints up to `maxRows` result rows as JSON lines — for
  *    reading a REPORT query's values on an ad-hoc corpus (e.g. q147 on a
  *    high-dup synthetic draw, SCALING row 29).
  *
  * Usage: runMain graft.tools.QueryTime <name> [sfDir] [reps] [plan]
  *        runMain graft.tools.QueryTime <name> <sfDir> profile [reps]
  *        runMain graft.tools.QueryTime <name> <sfDir> rows [maxRows]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error(
      "usage: QueryTime <name> [sfDir] [reps] [plan] | <name> <sfDir> profile [reps]" +
        " | <name> <sfDir> rows [maxRows]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val query = graft.SparkEntry.queries(name)
    val spark = Session.local()
    if (args.lift(2).contains("rows")) {
      val maxRows = args.lift(3).map(_.toInt).getOrElse(1000)
      // take, not collect().take: the cap must bound DRIVER memory too
      query(spark, sfDir).toJSON.take(maxRows).foreach(println)
    } else {
      val profiled = args.lift(2).contains("profile")
      val reps = args.lift(if (profiled) 3 else 2).map(_.toInt).getOrElse(5)
      def run(): (Double, Double) = {
        val t0 = System.nanoTime()
        val df = query(spark, sfDir)
        val tc = (System.nanoTime() - t0) / 1e9
        Session.materialize(df)
        ((System.nanoTime() - t0) / 1e9, tc)
      }
      val timed = (1 to reps).map { i =>
        if (i > 1) Session.cooldown(spark)
        if (profiled) { val (r, p) = Telemetry.profile(spark, name)(run()); (r, Some(p)) }
        else (run(), None)
      }
      val runs = timed.map(_._1)
      println(f"$name: ${runs.map { case (t, c) => f"$t%.2f(c$c%.2f)" }.mkString(" ")} " +
        f"(min ${runs.map(_._1).min}%.2f)")
      timed.last._2.foreach { p =>
        println(s"""{"query":"$name","sf_dir":"$sfDir","cpus":${Session.cpus},""" +
          s""""runs_s":${runs.map(r => f"${r._1}%.3f").mkString("[", ",", "]")},""" +
          s""""profile":${p.json}}""")
      }
      if (args.contains("plan")) {
        val agg = Session.fold(query(spark, sfDir))
        agg.collect() // executes agg's own plan, so AQE finalizes it
        println(agg.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
