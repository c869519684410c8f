package graft.tools

import graft.core.{ScaledCorpus, Session}

/** Task-granularity profile of q88's 30x scale curve (r13 prescription #5).
  *
  * The curve30 envelope for q88 ranged 4.3-9.2x across otherwise identical
  * runs; this main attributes the spread by measuring, for each of REPS
  * runs at base and 30x scale, every stage's task balance (max/median
  * duration and shuffle-read rows), spill (memory+disk bytes), and the
  * host load average at run start — the three signatures that separate an
  * AQE partition-count / spill cliff (within-run imbalance or nonzero
  * spill, reproducible) from ambient load (balanced tasks, spread tracks
  * loadavg, not reproducible).
  *
  * Usage: runMain graft.tools.Q88Profile [reps] [scaleDir]
  * (scaleDir defaults to the 30x [[ScaledCorpus]] of SPARK_GRAFT_SF_DIR,
  * built when absent.)
  * Output: one JSON line per run + a summary line.
  */
object Q88Profile {

  private case class StageStat(stageId: Int, nTasks: Int, maxMs: Long,
      medMs: Long, maxRows: Long, medRows: Long, spillMb: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val reps = if (args.length > 0) args(0).toInt else 5
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val scaleDir = args.lift(1).getOrElse(ScaledCorpus.ensure(spark, baseDir, 30))

    val tasks = scala.collection.mutable
      .ArrayBuffer.empty[(Int, Long, Long, Long, Long)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.synchronized {
          if (e.taskInfo != null && e.taskInfo.successful) {
            val m = Option(e.taskMetrics)
            tasks += ((e.stageId, e.taskInfo.duration,
              m.map(_.shuffleReadMetrics.recordsRead).getOrElse(0L),
              m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
              m.map(_.jvmGCTime).getOrElse(0L)))
          }
        }
    }

    def loadAvg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def cooldown(): Unit = {
      spark.catalog.clearCache(); System.gc(); Thread.sleep(200); System.gc()
    }

    def profile(tag: String, dir: String): Seq[Double] = (1 to reps).map { i =>
      cooldown()
      val la = loadAvg()
      tasks.synchronized(tasks.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      Session.materialize(graft.SparkEntry.queries("q88_span_removal")(spark, dir))
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      val byStage = tasks.synchronized(tasks.toVector).groupBy(_._1)
      val stages = byStage.toSeq.sortBy(_._1).map { case (sid, ts) =>
        val ds = ts.map(_._2).sorted
        val rs = ts.map(_._3).sorted
        StageStat(sid, ts.size, ds.last, math.max(ds(ds.size / 2), 1L),
          rs.last, math.max(rs(rs.size / 2), 1L),
          ts.map(_._4).sum / (1024 * 1024), ts.map(_._5).sum)
      }
      val worst = stages.filter(_.nTasks >= 4)
        .sortBy(s => -s.maxMs.toDouble / s.medMs).take(3)
      val sj = stages.map(s =>
        s"""{"stage":${s.stageId},"n":${s.nTasks},"max_ms":${s.maxMs},""" +
          s""""med_ms":${s.medMs},"max_rows":${s.maxRows},"med_rows":${s.medRows},""" +
          s""""spill_mb":${s.spillMb},"gc_ms":${s.gcMs}}""").mkString("[", ",", "]")
      val totSpill = stages.map(_.spillMb).sum
      val totGc = stages.map(_.gcMs).sum
      println(f"""{"run":"$tag-$i","sec":$sec%.2f,"load_avg":$la%.2f,""" +
        f""""n_stages":${stages.size},"total_spill_mb":$totSpill,""" +
        f""""total_gc_ms":$totGc,"worst_time_ratio":${
          worst.headOption.map(s => s.maxMs.toDouble / s.medMs).getOrElse(-1.0)}%.2f,""" +
        f""""stages":$sj}""")
      sec
    }

    // base first (warm + reference point), then 30x
    val base = profile("base", baseDir)
    val scaled = profile("x30", scaleDir)
    println(f"""{"summary":{"base_min":${base.min}%.2f,"base":[${
      base.map(x => f"$x%.2f").mkString(",")}],"x30":[${
      scaled.map(x => f"$x%.2f").mkString(",")}],"ratio_min":${
      scaled.min / base.min}%.2f,"ratio_spread":[${
      scaled.min / base.min}%.2f,${scaled.max / base.min}%.2f]}}""")
    spark.stop()
  }
}
