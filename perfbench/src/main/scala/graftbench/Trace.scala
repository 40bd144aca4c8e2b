package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` names the module the span's self time is
  * charged to; `parent` links pass → operation → Spark job → stage. */
final case class Span(id: String, parent: String, layer: String, name: String,
    startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

/** Spark-side counters summed over the tasks of one operation. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var planMs = 0L
  /** executor run time of the stages that write shuffle output */
  var mapStageMs = 0L
}

/** The benchmark's own SparkListener and QueryExecutionListener. Jobs
  * are attributed to the operation whose id the harness set as the job
  * group; stages and tasks follow their job. Query-planning phases
  * (QueryExecution.tracker) are attributed to the operation that was
  * running when the phase started. Nothing here is registered unless the
  * run is traced; spans stay in memory until the run writes them out. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  private val counters = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** (opId, startMs, endMs) of finished and running operations */
  private val opWindows = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, Long)]()

  def counter(op: String): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  def opStarted(op: String, startMs: Long): Unit = opWindows.add((op, startMs, Long.MaxValue))
  def opEnded(op: String, startMs: Long, endMs: Long): Unit = {
    opWindows.remove((op, startMs, Long.MaxValue))
    opWindows.add((op, startMs, endMs))
  }
  private def opAt(t: Long): Option[String] =
    opWindows.asScala.find { case (_, s, e) => t >= s && t < e }.map(_._1)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orElse(opAt(e.time))
    op.foreach { o =>
      counter(o).synchronized { counter(o).jobs += 1 }
      jobStart.put(e.jobId, (o, e.time))
      e.stageIds.foreach { s => stageOp.putIfAbsent(s, o); stageJob.putIfAbsent(s, e.jobId) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      spans.add(Span(s"job${e.jobId}", op, "spark.job", s"job ${e.jobId}", t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val si = e.stageInfo
    Option(stageOp.get(si.stageId)).foreach { op =>
      val c = counter(op)
      val m = Option(si.taskMetrics)
      c.synchronized {
        c.stages += 1
        m.filter(_.shuffleWriteMetrics.bytesWritten > 0).foreach(c.mapStageMs += _.executorRunTime)
      }
      for (s <- si.submissionTime; f <- si.completionTime)
        spans.add(Span(s"stage${si.stageId}.${si.attemptNumber()}",
          s"job${stageJob.get(si.stageId)}", "spark.stage", si.name, s, f))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    Option(stageOp.get(e.stageId)).foreach { op =>
      val c = counter(op)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (e.reason != org.apache.spark.Success) c.failedTasks += 1
        if (e.taskInfo != null) c.taskMs += e.taskInfo.duration
        if (m != null) {
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = if (enabled) {
    qe.tracker.phases.values.foreach { p =>
      opAt(p.startTimeMs).foreach { op =>
        val c = counter(op)
        c.synchronized { c.planMs += p.durationMs }
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object Trace {

  /** Length of the union of `ivs`, clipped to [lo, hi). */
  def covered(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    total + (curE - curS)
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).toSeq.map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
        (s.durMs - covered(cs, s.startMs, s.endMs)) / 1000.0
      }.sum
    }.sortBy(-_._2)
  }

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startMs).foreach { s =>
      sb ++= s"""{"id":${Json.str(s.id)},"parent":${Json.str(s.parent)},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Minimal JSON writer for the harness's one output document. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Some(x) => value(x)
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(fields: _*)
}
