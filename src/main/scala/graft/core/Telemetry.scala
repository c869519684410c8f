package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftSql, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.GenStore

/** Pipeline telemetry (SURVEY §2.4 A4/A7): the reference keeps per-run
  * counters (files_scanned, chunks_parsed, per-kind maps —
  * ingest_dropzone.py:512-522; monotonically incremented totals —
  * telemetry.py:56-71). On Spark these become `df.observe` metrics —
  * computed inside the job with zero extra passes — collected by a
  * QueryExecutionListener.
  *
  * [[profile]] is the one answer to "where did the time go": the jobs,
  * per-stage task and shuffle costs and store round-trips of one block.
  */
object Telemetry {

  val MetricsName = "graft_metrics"

  private val lastMetrics = new ConcurrentHashMap[String, Row]()

  /** Attach ingest-summary metrics to a chunk-level DataFrame; they are
    * observed when the frame is executed (write/count/...).
    */
  def observeIngest(chunks: DataFrame, runId: String = "last"): DataFrame =
    chunks.observe(s"$MetricsName/$runId",
      count(lit(1)).as("chunks"),
      approx_count_distinct(col("document_id")).as("documents_approx"),
      sum(length(col("text"))).as("chars"),
      count(when(col("kind") === "text", 1)).as("kind_text"),
      count(when(col("kind") === "csv", 1)).as("kind_csv"),
      count(when(col("kind") === "json", 1)).as("kind_json"))

  /** Install the listener once per session; metrics land in [[metrics]]. */
  def install(spark: SparkSession): Unit =
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith(MetricsName)) {
            val runId = name.stripPrefix(s"$MetricsName/")
            lastMetrics.put(runId, row)
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })

  /** Last observed metrics row for a run id (reference's last-ingest
    * snapshot, status.py:51-91).
    */
  def metrics(runId: String = "last"): Option[Row] = Option(lastMetrics.get(runId))

  /** Block until every event posted so far has reached every listener. */
  def drain(spark: SparkSession): Unit = GraftSql.drainListenerBus(spark.sparkContext)

  /** The local property that tags the jobs a [[profile]] body submits: a
    * comma-separated chain of profile ids, so a nested profile's jobs
    * still count for the enclosing one.
    */
  val ProfileProperty = "graft.profile"

  private val profileIds = new java.util.concurrent.atomic.AtomicLong()

  /** A stage as its job announced it at submission. */
  final case class StageStart(id: Int, name: String, tasks: Int)

  /** One job the body submitted, with its stages as known at job start. */
  final case class Job(id: Int, ms: Long, stages: Seq[StageStart])

  /** One stage that ran: wall time, successful-task durations and shuffle
    * records (max and upper median over tasks), and totals over tasks.
    */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
      maxTaskMs: Long, medianTaskMs: Long,
      maxReadRecords: Long, medianReadRecords: Long,
      readRecords: Long, readBytes: Long, writeRecords: Long, writeBytes: Long,
      spillBytes: Long, gcMs: Long)

  /** What [[profile]] saw: the body's wall time, its jobs, its stages in
    * id order and the [[GenStore.Probe]] counts it added.
    */
  final case class Profile(name: String, wallMs: Double, jobs: Seq[Job],
      stages: Seq[Stage], probe: Map[String, Long]) {
    def json: String = {
      def str(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val js = jobs.map(j =>
        s"""{"id":${j.id},"ms":${j.ms},"stages":${j.stages.map(_.id).mkString("[", ",", "]")}}""")
      val ss = stages.map(s =>
        s"""{"id":${s.id},"name":${str(s.name)},"wall_ms":${s.wallMs},"tasks":${s.tasks},""" +
          s""""max_task_ms":${s.maxTaskMs},"median_task_ms":${s.medianTaskMs},""" +
          s""""max_read_records":${s.maxReadRecords},"median_read_records":${s.medianReadRecords},""" +
          s""""read_records":${s.readRecords},"read_bytes":${s.readBytes},""" +
          s""""write_records":${s.writeRecords},"write_bytes":${s.writeBytes},""" +
          s""""spill_bytes":${s.spillBytes},"gc_ms":${s.gcMs}}""")
      val ps = probe.toSeq.sorted.map { case (k, v) => s"${str(k)}:$v" }
      f"""{"name":${str(name)},"wall_ms":$wallMs%.1f,"jobs":${js.mkString("[", ",", "]")},""" +
        s""""stages":${ss.mkString("[", ",", "]")},"probe":${ps.mkString("{", ",", "}")}}"""
    }
  }

  /** Run `body` and report the Spark jobs it submitted — also those its
    * broadcasts and subqueries start on other threads, which inherit the
    * submitting thread's local properties — with their stages' costs,
    * plus the [[GenStore.Probe]] delta over the call (the probe counts
    * are process-wide). Jobs are matched by [[ProfileProperty]], not by
    * job group, so a caller's job group and description are untouched.
    * After `body` the listener bus is drained, so the profile is
    * complete when this returns.
    */
  def profile[T](spark: SparkSession, name: String)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    val id = profileIds.incrementAndGet().toString
    val rec = new Recorder(id)
    val prev = sc.getLocalProperty(ProfileProperty)
    sc.addSparkListener(rec)
    try {
      val probe0 = GenStore.Probe.snapshot()
      val t0 = System.nanoTime()
      sc.setLocalProperty(ProfileProperty, Option(prev).fold(id)(p => s"$p,$id"))
      val out = try body finally sc.setLocalProperty(ProfileProperty, prev)
      val wallMs = (System.nanoTime() - t0) / 1e6
      val probe = GenStore.Probe.snapshot().map { case (k, v) =>
        k -> (v - probe0.getOrElse(k, 0L)) }.filter(_._2 != 0L)
      drain(spark)
      (out, rec.result(name, wallMs, probe))
    } finally sc.removeSparkListener(rec)
  }

  private final case class TaskMetricsRow(ms: Long, readRecords: Long,
      readBytes: Long, writeRecords: Long, writeBytes: Long, spill: Long, gc: Long)

  private final class Recorder(id: String) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, (Long, Seq[StageStart])]
    private val jobMs = mutable.Map.empty[Int, Long]
    private val names = mutable.Map.empty[Int, String]
    private val wall = mutable.Map.empty[Int, Long]
    private val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskMetricsRow]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(ProfileProperty)))
      if (tag.exists(_.split(',').contains(id))) {
        val ss = e.stageInfos.map(s => StageStart(s.stageId, s.name, s.numTasks))
        jobs(e.jobId) = (e.time, ss)
        ss.foreach(s => names(s.id) = s.name)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (t0, _) => jobMs(e.jobId) = e.time - t0 }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      if (names.contains(s.stageId))
        wall(s.stageId) = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a)
          .getOrElse(-1L)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (names.contains(e.stageId) && e.taskInfo != null && e.taskInfo.successful) {
        val m = Option(e.taskMetrics)
        def of(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
        tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += TaskMetricsRow(
          e.taskInfo.duration,
          of(_.shuffleReadMetrics.recordsRead), of(_.shuffleReadMetrics.totalBytesRead),
          of(_.shuffleWriteMetrics.recordsWritten), of(_.shuffleWriteMetrics.bytesWritten),
          of(t => t.memoryBytesSpilled + t.diskBytesSpilled), of(_.jvmGCTime))
      }
    }

    def result(name: String, wallMs: Double, probe: Map[String, Long]): Profile = synchronized {
      def upperMedian(xs: Seq[Long]) = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
      val stages = (wall.keySet ++ tasks.keySet).toSeq.sorted.map { sid =>
        val ts = tasks.getOrElse(sid, mutable.ArrayBuffer.empty[TaskMetricsRow]).toSeq
        Stage(sid, names(sid), wall.getOrElse(sid, -1L), ts.size,
          ts.map(_.ms).maxOption.getOrElse(0L), upperMedian(ts.map(_.ms)),
          ts.map(_.readRecords).maxOption.getOrElse(0L), upperMedian(ts.map(_.readRecords)),
          ts.map(_.readRecords).sum, ts.map(_.readBytes).sum,
          ts.map(_.writeRecords).sum, ts.map(_.writeBytes).sum,
          ts.map(_.spill).sum, ts.map(_.gc).sum)
      }
      val js = jobs.toSeq.map { case (jid, (_, ss)) => Job(jid, jobMs.getOrElse(jid, -1L), ss) }
      Profile(name, wallMs, js, stages, probe)
    }
  }
}
