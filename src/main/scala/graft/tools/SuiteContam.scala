package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.Session

/** Diagnostic: is the late-suite inflation of heavy queries (q97 3.4 s
  * in-suite vs 0.5 s steady-state, r10) SparkContext state or JVM state?
  * Runs N queries to accumulate session debt, times the probe query, then
  * RESTARTS the context (same JVM — JIT and the static codegen cache
  * survive) and times it again. probe(after-restart) << probe(in-session)
  * ⇒ context-scoped debt; ≈ ⇒ JVM-scoped (JIT/code-cache/metaspace).
  *
  * Usage: runMain graft.tools.SuiteContam <probe> [sfDir] [nWarm]
  */
object SuiteContam {
  def main(args: Array[String]): Unit = {
    val probe = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val nWarm = if (args.length > 2) args(2).toInt else 40

    // construction inside the timer, matching Bench (see QueryTime note)
    def run(s: SparkSession, name: String): Double = {
      val t0 = System.nanoTime()
      Session.materialize(graft.SparkEntry.queries(name)(s, sfDir))
      (System.nanoTime() - t0) / 1e9
    }

    var spark = Session.local()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(Set(probe, "q18_jaccard_pairs", "q28_embedding_near_dup"))
      .take(nWarm)
    names.foreach { n =>
      try { run(spark, n); Session.cooldown(spark) }
      catch { case e: Throwable =>
        System.err.println(s"[contam] $n failed: ${e.getMessage}") }
    }
    val inSession = (1 to 2).map { _ => Session.cooldown(spark); run(spark, probe) }
    println(f"[contam] $probe after $nWarm queries, same context: " +
      inSession.map(t => f"$t%.2f").mkString(" "))

    spark.stop()
    spark = Session.local()
    val afterRestart = (1 to 2).map { _ => Session.cooldown(spark); run(spark, probe) }
    println(f"[contam] $probe after context RESTART (same JVM): " +
      afterRestart.map(t => f"$t%.2f").mkString(" "))
    spark.stop()
  }
}
