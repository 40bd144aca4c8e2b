package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the driver tools (Bench, Verify, Plans,
  * tools.ProfileQuery) and the test session: the one session builder,
  * the one job listener, the JSON string escaper and the inter-query
  * state drain. One source of truth — these used to be per-file copies,
  * and a fix to any of them (e.g. the two-phase-GC rationale below) must
  * not have to land in several places to be real. */
object Harness {

  /** The core count every tool runs at: $SPARK_GRAFT_CPUS, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The one session shape: `local[cpus]` with as many shuffle
    * partitions, UTC, no UI. ContextCleaner frees shuffle files and
    * broadcast blocks only when driver GC collects their weak refs; with
    * a large heap a full GC may not happen for hundreds of query runs, so
    * a sweep's worth of shuffle state accumulates (the default
    * periodic-GC interval is 30 min — longer than the whole bench).
    * One-minute periodic GC plus [[drain]]'s explicit gc() keep the
    * cleaner draining, so late queries measure the query, not the
    * accumulated debt of the ones before it. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One Spark job: its action's call site, the owner marked when it was
    * submitted, start/end (ms; end -1 while running), the tasks of its
    * registered stages, and a failed job's class and message. */
  final case class JobRecord(jobId: Int, site: String, owner: String,
      start: Long, var end: Long = -1L, var tasks: Int = 0,
      var taskMs: Long = 0L, var failure: Option[String] = None)

  private val OwnerKey = "graft.owner"

  /** The one job listener: a [[JobRecord]] per job plus the all-tasks
    * task-time total. Events arrive on Spark's async listener bus, so
    * read after flushing it (GraftSparkBridge.waitListenerBusEmpty). The
    * owner is the submitting thread's local property (inherited by the
    * threads it starts), so a job is charged to the owner set when it
    * ran even if its events are delivered after the caller moved on. */
  final class JobListener extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, JobRecord]()
    private val stageToJob = new ConcurrentHashMap[Int, Int]()
    private val allTaskMs = new AtomicLong(0L)

    /** Charge the calling thread's jobs to `owner` until the next call. */
    def own(sc: org.apache.spark.SparkContext, owner: String): Unit =
      sc.setLocalProperty(OwnerKey, owner)

    /** Task time of every task end seen, registered stage or not. */
    def taskMs: Long = allTaskMs.get()

    /** The records since the last call, by job id; clears them. Call
      * with no job running. */
    def take(): Seq[JobRecord] = {
      val out = jobs.values.asScala.toSeq.sortBy(_.jobId)
      jobs.clear(); stageToJob.clear()
      out
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // without an explicit call site, the result stage's name is the action's
      val site = prop("callSite.short").orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      jobs.put(e.jobId, JobRecord(e.jobId, site.getOrElse("?"),
        prop(OwnerKey).getOrElse("?"), e.time))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time
        e.jobResult match {
          case JobFailed(ex) => j.failure =
            Some(s"${ex.getClass.getName}: ${String.valueOf(ex.getMessage).take(200)}")
          case _ => ()
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) {
        allTaskMs.addAndGet(e.taskInfo.duration)
        // a stage no JobStart registered (skipped/resubmitted) counts in
        // the total only; the containsKey guard keeps it from being
        // charged to job 0 through Scala's unboxToInt(null) == 0
        if (stageToJob.containsKey(e.stageId))
          Option(jobs.get(stageToJob.get(e.stageId))).foreach { j =>
            j.tasks += 1; j.taskMs += e.taskInfo.duration
          }
      }
  }

  /** A [[JobListener]] registered on `spark`'s context. */
  def listen(spark: SparkSession): JobListener = {
    val l = new JobListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Backing RDD ids of a (checkpointed) frame — the unit both the
    * drain's keep-set and Fixpoint.release operate on. */
  def frameRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL or an exception
    * message would otherwise make the driver's json.load fail. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Parse the per-query seconds out of a Bench stdout capture (the
    * fresh-probe child's output): finds the one `{"metric":…}` line and
    * extracts its `queries` object. Total-function contract — any
    * malformed/empty input yields Seq.empty, never a throw, because the
    * probe is advisory: a parse failure must read as "probe didn't run",
    * not kill the sweep that just spent 20 minutes measuring. */
  def parseBenchQueries(out: String): Seq[(String, Double)] =
    parseJsonDoubleMap(
      out.linesIterator.find(_.startsWith("{\"metric\"")).getOrElse(""),
      "queries")

  /** Extract a flat {"name": number, ...} object field from a one-line
    * JSON document (Bench's own output format — names are [a-z0-9_]).
    * Same total-function contract as [[parseBenchQueries]]: malformed or
    * missing input yields Seq.empty, never a throw. */
  def parseJsonDoubleMap(json: String, field: String): Seq[(String, Double)] =
    "\"([a-z0-9_]+)\":([0-9]+\\.[0-9]+)".r
      .findAllMatchIn(
        ("\"" + field + "\":\\{([^}]*)\\}").r
          .findFirstMatchIn(json).map(_.group(1)).getOrElse(""))
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq

  /** Overlap INDEPENDENT Spark actions (optimization guide §2.6): the
    * scheduler happily runs several jobs at once inside one application —
    * actions are only sequential because driver code calls them
    * sequentially. A sink-family builder is a chain of small write jobs
    * whose per-job tail (last task + commit + planning gap) leaves the
    * executor pool idle; submitting the independent ones from a small
    * thread pool lets the next job's tasks back-fill that tail. FIFO
    * scheduling (the default) gives exactly the back-fill behaviour.
    * At a LOWER core count the jobs simply share the pool — total CPU
    * work is unchanged, so the driver's scaling run is not penalized.
    * Every task is wrapped in Try and ALL completions are awaited before
    * the first failure (in argument order) is rethrown — so when the
    * exception reaches the caller no sibling write is still in flight
    * (a retrying caller's deleteRecursively/wipeLog cannot race a
    * half-dead batch; r15 ADVICE finding — the old Future.sequence
    * failed fast with siblings still running). The only path that can
    * leave tasks running is the 20-min timeout, which interrupts the
    * pool best-effort before propagating. */
  def inParallel[T](fs: Seq[() => T]): Seq[T] = {
    if (fs.sizeIs <= 1) fs.map(_())
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(fs.size, 8))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val done =
          try scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(
              fs.map(f => scala.concurrent.Future(scala.util.Try(f())))),
            scala.concurrent.duration.Duration(20, "min"))
          catch { case t: Throwable => pool.shutdownNow(); throw t }
        done.map(_.get) // all tasks COMPLETED; first failure rethrows
      } finally pool.shutdown()
    }
  }

  /** Full sweep-state drain. Caches pinned inside a query (l02
    * shingles, ODM explode levels) must not outlive its run — pinned
    * storage memory starves later sort-heavy runs of execution memory →
    * spills. clearCache() only empties the CacheManager; localCheckpoint
    * blocks (fixpoint iterates) bypass it and sit in storage memory
    * until driver GC collects the RDD reference, so they are unpersisted
    * explicitly. The GC is two-phase when `settleMs` > 0: the first
    * gc() queues the dead shuffle/broadcast weak refs, the
    * ContextCleaner thread then issues the removal RPCs, and the second
    * gc() collects what those released — one pass left later queries
    * paying 10+ s of organic GC for their predecessors' state. */
  def drain(spark: SparkSession, settleMs: Long): Unit = {
    // drain's caller asserts quiescence (nothing mid-consumption — every
    // RDD outside the live memo frames gets unpersisted, which would break
    // any plan still in flight), so this is also the safe point to free
    // frames the memos retired on capacity overflow (held until now so
    // handed-out frames were never invalidated underneath a reader)
    SessionMemos.releaseRetired()
    spark.catalog.clearCache()
    // session memos' live frames are deliberately cross-query state (the
    // point of the memo is surviving from l21's run to l53's); everything
    // else is per-query debt
    val sc = spark.sparkContext
    val keep = SessionMemos.liveFrames(sc).flatMap(frameRddIds).toSet
    sc.getPersistentRDDs.values.filterNot(r => keep(r.id))
      .foreach(_.unpersist(blocking = false))
    System.gc()
    if (settleMs > 0) {
      Thread.sleep(settleMs)
      System.gc()
    }
  }
}
