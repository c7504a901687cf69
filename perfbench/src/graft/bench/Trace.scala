package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer's public function, as seen by the caller.
  * Times are `System.nanoTime`, with the wall clock in ms alongside to
  * line spans up with Spark's job events; `parent` is -1 for a root span. */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wraps calls in spans. The innermost open span's id rides the Spark
  * local property [[Tracer.SpanProp]], so every job the call submits
  * carries it; [[StageLog]] reads it back. `NoTrace` runs bodies bare. */
sealed trait Tracer {
  def apply[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def apply[T](name: String)(body: => T): T = body
}

final class SpanTracer(sc: SparkContext) extends Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def apply[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Duration minus the time covered by direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_s":${(s.startNs - spans.head.startNs) / 1e9},"end_s":${(s.endNs - spans.head.startNs) / 1e9},""" +
      s""""self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanProp = "graft.bench.span"
  val MarkerProp = "graft.bench.marker"
}

/** What one completed stage cost, attributed to the span that submitted
  * its first job. */
final case class StageRec(stageId: Int, span: Int, execution: String, details: String,
    scans: Seq[String], tasks: Int, cpuNs: Long, gcMs: Long, inputBytes: Long,
    outputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** One completed job: the span that submitted it, its SQL execution and
  * the call site of its result stage. */
final case class JobRec(jobId: Int, span: Int, stageIds: Seq[Int], startMs: Long, endMs: Long,
    execution: String, details: String)

/** Listener that records jobs and completed stages with the span id of
  * the submitting call. Everything it keeps is read after [[drain]]. */
final class StageLog extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markersSeen = new java.util.concurrent.atomic.AtomicInteger()
  /** SQL execution id -> the call site of the action that started it. */
  val executionSite = new java.util.concurrent.ConcurrentHashMap[String, String]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    prop(e.properties, Tracer.MarkerProp) match {
      case Some(_) =>
        markers.add(e.jobId)
        e.stageIds.foreach(markerStages.add)
      case None =>
        val span = prop(e.properties, Tracer.SpanProp).fold(-1)(_.toInt)
        // the SQL execution a job serves: AQE submits each query stage as
        // its own job, whose call site carries no engine frame
        val exec = prop(e.properties, "spark.sql.execution.root.id")
          .orElse(prop(e.properties, "spark.sql.execution.id")).getOrElse(s"job${e.jobId}")
        val details = e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.details)
        jobStart.put(e.jobId, JobRec(e.jobId, span, e.stageIds, e.time, -1L, exec, details))
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, (span, exec)))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markers.remove(e.jobId)) markersSeen.incrementAndGet()
    else Option(jobStart.remove(e.jobId)).foreach(j => jobs.add(j.copy(endMs = e.time)))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSite.put(x.executionId.toString, x.details)
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (i.failureReason.isEmpty && m != null && !markerStages.contains(i.stageId)) {
      val (span, exec) = stageSpan.getOrDefault(i.stageId, (-1, s"stage${i.stageId}"))
      stages.add(StageRec(i.stageId, span, exec, i.details, i.rddInfos.flatMap(StageLog.scanOf).toSeq, i.numTasks,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
  }

  /** Block until every event posted before this call has been delivered:
    * runs a one-task marker job and waits for its end event, which the
    * bus delivers after all earlier ones. */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(Tracer.MarkerProp, "1")
    val prevSpan = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, null)
    val before = markersSeen.get
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(Tracer.MarkerProp, null)
      sc.setLocalProperty(Tracer.SpanProp, prevSpan)
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (markersSeen.get <= before && System.nanoTime() < deadline) Thread.sleep(5)
    require(markersSeen.get > before, "listener bus did not deliver the marker job")
  }

  def clear(): Unit = { jobs.clear(); stages.clear(); stageSpan.clear(); executionSite.clear() }
  def jobList: Seq[JobRec] = jobs.asScala.toSeq
  def stageList: Seq[StageRec] = stages.asScala.toSeq
}

object StageLog {
  /** The operation-scope name of a scan RDD ("Scan csv", "Scan parquet
    * ..."). The scope type is internal to Spark, so it is read reflectively. */
  private[bench] def scanOf(r: org.apache.spark.storage.RDDInfo): Option[String] =
    try {
      r.getClass.getMethod("scope").invoke(r).asInstanceOf[Option[AnyRef]].map { s =>
        s.getClass.getMethod("name").invoke(s).toString
      }.filter(_.startsWith("Scan "))
    } catch { case _: ReflectiveOperationException => None }
}
