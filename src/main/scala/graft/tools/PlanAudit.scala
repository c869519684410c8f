package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Session

/** Plan inspection under the bench's session config ([[Session.local]]),
  * so the plan shapes are the benched ones.
  *
  *  - audit (default): the physical-plan properties that matter at
  *    100 TB for the headline queries — parquet PushedFilters / pruned
  *    ReadSchema, broadcast joins, TakeOrderedAndProject, codegen spans.
  *  - plan: one query's executed plan (the string PlanSpec asserts
  *    against), for eyeballing pushdown/codegen/broadcast shapes.
  *  - explain: `.explain("formatted")` of the named queries to
  *    `<outDir>/<query>_<suffix>.txt` — the round's plan-evidence
  *    artifacts (plans/rNN/).
  *  - codegen: one query's whole-stage generated code (per-stage sizes,
  *    largest stage's source to a file) — for chasing Janino "Code grows
  *    beyond 64 KB" fallbacks, which silently drop the ingest lineage to
  *    interpreted mode (the round-5 q33/q34/q54 regression).
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir]
  *        runMain graft.tools.PlanAudit plan <name> [sfDir]
  *        runMain graft.tools.PlanAudit explain <outDir> <suffix> <q1,q2,...> [sfDir]
  *        runMain graft.tools.PlanAudit codegen <name> [sfDir] [outFile]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    args.headOption match {
      case Some("plan") =>
        // untruncated scan metadata (PushedFilters, ReadSchema)
        spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
        println(graft.SparkEntry.queries(args(1))(spark,
          args.lift(2).getOrElse("/root/testdata/sf0.001"))
          .queryExecution.executedPlan.toString)
      case Some("explain") =>
        explain(spark, args(1), args(2), args(3).split(",").toSeq,
          args.lift(4).getOrElse("/root/testdata/sf0.1"))
      case Some("codegen") =>
        // AQE wraps the plan in AdaptiveSparkPlanExec, which hides the
        // codegen stages until execution — disable for static inspection
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        codegen(spark, args(1), args.lift(2).getOrElse("/root/testdata/sf0.001"),
          args.lift(3).getOrElse("/tmp/codegen.java"))
      case sf => audit(spark, sf.getOrElse("/root/testdata/sf0.001"))
    }
    spark.stop()
  }

  private def audit(spark: SparkSession, sf: String): Unit = {
    val interesting = Seq(
      "q02_filter_pushdown" -> Seq("PushedFilters", "ReadSchema"),
      "q03_regional_revenue" -> Seq("BroadcastHashJoin", "PushedFilters"),
      "q05_global_top_orders" -> Seq("TakeOrderedAndProject"),
      "q16_knn_cosine" -> Seq("cosine_similarity", "TakeOrderedAndProject", "Broadcast"),
      "q13_chunks" -> Seq("chunk_text", "Generate", "ReadSchema"))

    interesting.foreach { case (name, patterns) =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      println(s"==== $name")
      patterns.foreach { p =>
        val lines = plan.linesIterator.filter(_.contains(p)).take(3).toList
        if (lines.isEmpty) println(s"  MISSING: $p")
        else lines.foreach(l => println("  " + l.trim.take(160)))
      }
    }

    // salted skew join: hot key must spread across salt partitions
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), lit("hot").as("k"))
    val dim = spark.range(1).select(lit("hot").as("k"), lit("H").as("label"))
    val salted = graft.operators.SkewJoin.saltedJoin(events, dim, "k", 8)
    println("==== salted_skew_join")
    println(s"  rows: ${salted.count()} (== ${events.count()})")
    salted.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Join") || l.contains("Generate"))
      .take(3).foreach(l => println("  " + l.trim.take(140)))
  }

  private def explain(spark: SparkSession, outDir: String, suffix: String,
      names: Seq[String], sfDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
  }

  private def codegen(spark: SparkSession, name: String, sfDir: String,
      out: String): Unit = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val codes = org.apache.spark.sql.execution.debug.codegenStringSeq(
      df.queryExecution.executedPlan)
    codes.zipWithIndex.foreach { case ((subtree, code, _), i) =>
      println(s"== stage $i: ${code.length} chars, " +
        s"${code.count(_ == '\n')} lines — ${subtree.linesIterator.next()}")
    }
    val biggest = codes.maxBy(_._2.length)
    Files.writeString(Paths.get(out), biggest._2)
    println(s"largest stage written to $out")
  }
}
