package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Harness, SessionMemos}
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: builds one local session, runs one workload as a closed
  * loop with a single client (passes back to back, every pass starting
  * from evicted memos and drained caches) for a fixed time, and writes a
  * JSON record of set-up, every pass and every operation to `--out`.
  * perfbench/run.py builds, generates the inputs, launches this, checks
  * the outputs and reduces the record to metrics.
  *
  * A traced run (`--trace 1`) alternates traced and untraced passes: the
  * traced ones register the benchmark's listeners and record spans (pass
  * → operation → Spark job → stage), the untraced ones give the baseline
  * for the tracing overhead. */
object Main {

  private def now(): Long = System.currentTimeMillis()


  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = opt("cores").toInt
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val loadStart = loadavg()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (now() - jvmStart) / 1000.0

    val workload = Workload(opt("workload"), spark, opt("data"), work)

    val tracer = new Tracer
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val spans = mutable.ArrayBuffer.empty[Span]

    def pass(idx: Int, tracedPass: Boolean,
        outputs: Option[String] = None): mutable.LinkedHashMap[String, Any] = {
      SessionMemos.evictSince(0L)
      Harness.drain(spark, settleMs = 200L)
      val retainedMb = heapUsedMb()
      if (traced) org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext, 30000L)
      tracer.enabled = tracedPass
      val passId = s"p$idx"
      val passMark = SessionMemos.mark()
      val gc0 = gcMs()
      val cpu0 = os.getProcessCpuTime
      var storageMb = 0.0
      val opRecs = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
      val pStart = now()
      workload.ops.foreach { case (op, layer) =>
        val opId = s"$passId/$op"
        spark.sparkContext.setJobGroup(opId, op, interruptOnCancel = false)
        SessionMemos.beginWindow(SessionMemos.mark())
        val pre0 = SessionMemos.preHitCount
        val s = now()
        tracer.opStarted(opId, s)
        val err =
          try { workload.run(op, outputs); None }
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] $op failed: $e")
            Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        val e = now()
        tracer.opEnded(opId, s, e)
        if (tracedPass) {
          spans += Span(opId, passId, layer, op, s, e)
          storageMb = math.max(storageMb, spark.sparkContext.getRDDStorageInfo
            .map(r => r.memSize + r.diskSize).sum / 1048576.0)
        }
        opRecs += Json.obj("id" -> op, "layer" -> layer, "wall_s" -> (e - s) / 1000.0,
          "ok" -> err.isEmpty, "error" -> err, "memo_pre_hits" -> (SessionMemos.preHitCount - pre0))
      }
      val pEnd = now()
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      spark.sparkContext.clearJobGroup()
      val gcS = (gcMs() - gc0) / 1000.0
      val memoCold = SessionMemos.evictSince(passMark)
      val rec = Json.obj("idx" -> idx, "traced" -> tracedPass, "wall_s" -> (pEnd - pStart) / 1000.0,
        "gc_s" -> gcS, "cpu_s" -> cpuS, "retained_heap_mb" -> retainedMb,
        "memo_cold_builds" -> memoCold, "ops" -> opRecs)
      if (tracedPass) {
        org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext, 30000L)
        tracer.enabled = false
        spans += Span(passId, "", "bench.pass", passId, pStart, pEnd)
        val jobSpans = tracer.spans.asScala.filter(_.parent.startsWith(passId + "/")).toSeq
        val c = opRecs.map(r => tracer.counter(s"$passId/${r("id")}"))
        val wall = (pEnd - pStart) / 1000.0
        val taskS = c.map(_.taskMs).sum / 1000.0
        rec ++= Seq(
          "storage_mb" -> storageMb,
          "jobs" -> c.map(_.jobs).sum, "stages" -> c.map(_.stages).sum,
          "tasks" -> c.map(_.tasks).sum, "failed_tasks" -> c.map(_.failedTasks).sum,
          "task_s" -> taskS, "exec_util" -> taskS / (wall * cores),
          "plan_ms" -> c.map(_.planMs).sum,
          "driver_s" -> (wall - Trace.covered(jobSpans.map(j => (j.startMs, j.endMs)),
            pStart, pEnd) / 1000.0),
          "shuffle_read_mb" -> c.map(_.shuffleRead).sum / 1048576.0,
          "shuffle_write_mb" -> c.map(_.shuffleWrite).sum / 1048576.0,
          "spill_mb" -> c.map(_.spill).sum / 1048576.0)
        opRecs.zip(c).foreach { case (r, oc) =>
          r ++= Seq("task_s" -> oc.taskMs / 1000.0, "plan_ms" -> oc.planMs,
            "map_stage_s" -> oc.mapStageMs / 1000.0)
        }
      }
      rec += "obs" -> workload.afterPass(tracedPass)
      rec
    }

    // Set-up ends with one full untimed pass, so JIT compilation and
    // first-use costs stay out of the timed passes. For the query workload
    // it also writes every result for the oracle check.
    opt.get("outputs").foreach(d => Files.createDirectories(Paths.get(d)))
    val setupPasses = Seq(pass(0, tracedPass = false, opt.get("outputs")))
    val setupS = sessionS + setupPasses.map(_("wall_s").asInstanceOf[Double]).sum

    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val loopStart = now()
    var idx = setupPasses.size
    // at least two passes; a traced run alternates untraced and traced
    while (passes.size < 2 || (now() - loopStart) / 1000.0 < seconds) {
      passes += pass(idx, tracedPass = traced && passes.size % 2 == 1)
      idx += 1
    }
    val rss = peakRssMb()
    val loopS = (now() - loopStart) / 1000.0

    val record = Json.obj(
      "context" -> Json.obj(
        "workload" -> opt("workload"), "cores" -> cores,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg()),
      "setup" -> Json.obj("session_s" -> sessionS, "setup_s" -> setupS),
      "setup_passes" -> setupPasses,
      "loop_s" -> loopS,
      "peak_rss_mb" -> rss,
      "passes" -> passes,
      "query_ids" -> Workload.QueryIds)
    if (traced) {
      val all = spans.toSeq ++ tracer.spans.asScala.toSeq
      Trace.writeSpans(all, s"$work/spans.jsonl")
      record += "self_time_s" -> mutable.LinkedHashMap(Trace.selfTimes(all): _*)
      record += "spans" -> all.size
    }
    Files.writeString(Paths.get(opt("out")), Json.value(record))
    spark.stop()
  }
}
