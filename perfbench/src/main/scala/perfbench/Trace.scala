package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** One timed call into a layer. `op` is the timed operation (ask, batch) the call
  * belongs to (-1 in set-up, -2 in a probe); `parent` is the enclosing span
  * (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span: jobs submitted while it was the
  * innermost open span, and the completed stages of those jobs.
  */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Span recorder for the benchmark's own calls into the engine's layers.
  *
  * While `on` is false, `span` is a plain call, so untraced operations
  * measure the program and nothing else. While it is true, each span is
  * kept in memory and written out once at the end; the innermost open
  * span id travels to Spark as a job-local property, and the [[Listener]]
  * attributes jobs, completed stages, shuffle-write and spill bytes to it.
  * Attribution therefore does not depend on when the asynchronous
  * listener bus delivers its events.
  */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var currentOp = -1
  val work = mutable.HashMap.empty[Int, SparkWork]
  /** Record spans; only a traced run (`enabled`) turns this on. */
  var on = false

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, currentOp, t0, t1)
      }
    }

  /** A timed operation: its root span carries the operation name, and its
    * self time is the part of the operation no layer span covers.
    */
  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    try span(name)(body) finally currentOp = -1
  }

  def recorded: Seq[Span] = spans.toSeq

  object Listener extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private def workOf(span: Int): SparkWork = work.synchronized {
      work.getOrElseUpdate(span, new SparkWork)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      workOf(span).jobs += 1
      stageSpan.synchronized(e.stageInfos.foreach(s => stageSpan(s.stageId) = span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val span = stageSpan.synchronized(stageSpan.getOrElse(info.stageId, -1))
      val w = workOf(span)
      w.stages += 1
      Option(info.taskMetrics).foreach { m =>
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  if (enabled) sc.addSparkListener(Listener)

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
}

/** Per-layer aggregates over the spans of the traced operations. */
object TraceReport {

  /** Self time of every span: its duration minus the part covered by its
    * direct children (children never overlap: the driver is one thread).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Span ids of `root` and everything below it. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).map(s => walk(s.id)).foldLeft(Set(id))(_ ++ _)
    walk(root)
  }

  def toJson(spans: Seq[Span], work: collection.Map[Int, SparkWork]): String = {
    val sb = new StringBuilder("{\"spans\":[")
    spans.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val w = work.getOrElse(s.id, new SparkWork)
      sb.append(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.jobs},"stages":${w.stages},""" +
        s""""shuffle_bytes":${w.shuffleBytes},"spill_bytes":${w.spillBytes}}""")
    }
    sb.append("]}\n").toString
  }
}
