package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * $SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (a bare .count() would let Catalyst prune projections and
  * undercount the real work).
  *
  * Emits ONE compact JSON line: total seconds, the slowest 25 per-query
  * times (3 decimals), query/failure counts, and a `failed` array. A
  * query that throws is excluded from the total and listed in `failed` —
  * a near-zero elapsed for a broken query must not read as a fast
  * success. The line is kept well under 2 KB so a log-tail capture
  * always contains it whole; the full per-query map goes to
  * bench_full.json in the working directory, including per-query error
  * details (`errors`), internal-job-failure attribution (`job_failures`
  * — jobs that failed while a query ran even if the query itself
  * recovered), and memo accounting (`memo_pre`/`memo_cold` — which
  * queries rode cross-query memo reuse vs built memo state; see the
  * memo-discipline comment at the sweep loop).
  */
object Bench {
  /** First three fields of /proc/loadavg (1/5/15-min host load), or
    * "unavailable" off-Linux. Stamped into bench_full.json `context` and
    * around each fresh-probe child: r14's regressions were narratively
    * attributed to a loaded host that no artifact recorded, so the
    * exoneration could not be mechanical. Now every sweep carries its
    * own load evidence.
    */
  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    // comma-separated id filter for fresh-JVM single-query triage;
    // unset = the full inventory (the driver's mode)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Read-plan vs lifecycle-sink split: the lakehouse/sink family WRITES
    // real files as part of the measured query, so its numbers track the
    // sandbox's disk as much as the plans; pure-read queries track plans
    // only. Publishing both totals keeps the 2×-of-baseline budget
    // meaningful per class as the sink family grows. Membership is
    // declared PER MODULE (QueryModule.sinkQueries, next to the queries
    // themselves) and aggregated by SparkEntry — a new file-writing query
    // is classified at its definition site, so omission from a central
    // list can no longer silently skew the read-plan class.
    val sinkIds = SparkEntry.sinkQueries
    val spark = Harness.session(cpus)
    // Internal-job-failure attribution: a query can SUCCEED while one of
    // its Spark jobs failed and a fallback path recovered (Fixpoint's
    // observe-timeout fallback, adaptive replans). r07's sweep had one
    // such stack trace in the log with no owner — the JSON said 0 failed
    // and nothing else. The listener charges every failed job to the
    // query that was running, so a recovered failure is attributed, not
    // lost.
    // Executor task-time (r15 VERDICT item 5): at sf0.1 the scaling block
    // showed wall time under the per-job fixed-cost floor on nearly every
    // query, so wall deltas no longer evidence read-class plan work. The
    // per-query TASK-TIME SUM (both timed runs; the between-runs drain
    // schedules no jobs) is the SF-robust signal — plan improvements move
    // it even when wall is noise-bound. Published as `task_sec` in
    // bench_full.json, additions-only; the contract line is unchanged.
    val jobs = Harness.listen(spark)
    // failed jobs as (owner, failure), in job order; taken at each drain
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // Full state drain (graft.Harness.drain) — after the warmup, at the
    // between-queries point AND between a query's two timed runs. r07's
    // lesson: draining only between queries lets run 2 of a fixpoint
    // query re-materialize its localCheckpoints while run 1's blocks are
    // still resident (the sweep's `Block rdd_… already exists` churn),
    // inflating the iterative tail 2-3× over the same code in a fresh
    // JVM. The drain is NOT part of the measured time, and its forced GCs
    // are excluded from gc_sec (each run's GC is windowed separately
    // below). The listener-bus flush keeps job_failures honest: job
    // events are delivered asynchronously, and a job that ends after its
    // record was taken would lose its failure.
    def drain(): Unit = {
      org.apache.spark.GraftSparkBridge
        .waitListenerBusEmpty(spark.sparkContext, 10000L)
      failures ++= jobs.take().flatMap(j => j.failure.map(j.owner -> _))
      Harness.drain(spark, settleMs = 200L)
    }
    // Warm up EVERY query once at the smallest SF: whole-stage codegen
    // compiles per plan shape, so the compiled classes are reused at the
    // measured SF and per-query numbers measure the query, not javac.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.filter(q => only.forall(_(q._1))).foreach { case (name, fn) =>
        jobs.own(spark.sparkContext, s"warmup:$name")
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    // drop ALL warmup memo entries BEFORE the drain's unpersist: a
    // warm-dir CC labeling / pair graph / BPE merge table left registered
    // would either shadow the measured dir (if sfDir == warmDir) or sit
    // as kept dead weight; evictSince(0) hits every registered session
    // memo and (for frame memos) also releases, so the drain
    // stays a full reset (and drops the warmup runs' shuffle state
    // before timing)
    SessionMemos.evictSince(0L)
    drain()
    // best-of-2: a single pass is at the mercy of one ill-timed GC pause
    // (observed 20× spikes); min-of-two is the standard stable estimator.
    // A failure carries its class + message + first graft stack frame into
    // the JSON — r07's lesson: a message-only stderr line is not enough to
    // reconcile a mid-sweep stack trace after the fact.
    // Each run also returns the GC ms and the codegen compiles inside it.
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        name: String): (Either[String, Double], Long, Long) = {
      val (gc0, cg0, t0) = (gcMillis(), Harness.compiles(), System.nanoTime())
      val r = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        val frame = e.getStackTrace.find(_.getClassName.startsWith("graft"))
          .map(f => s"${f.getClassName}.${f.getMethodName}:${f.getLineNumber}")
          .getOrElse("no-graft-frame")
        val detail = s"${e.getClass.getName}: " +
          s"${String.valueOf(e.getMessage).take(300)} @ $frame"
        System.err.println(s"[bench] $name failed: $detail")
        Left(detail)
      }
      (r, gcMillis() - gc0, Harness.compiles() - cg0)
    }
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    // Memo discipline per query (SessionMemos): best-of-2 must stay a
    // COLD number, so memo entries a query's OWN run 1 creates are
    // evicted before run 2 — both runs then pay the same compute and the
    // min measures the plan, not a memo hit. Entries that PRE-DATE the
    // query (e.g. l53 consuming the CC labeling l21 built two queries
    // earlier) survive the evict and speed up both runs equally — that
    // is genuine cross-query reuse, the engine behavior a composed
    // pipeline would see, and it is TAGGED, not hidden: memo_pre counts
    // run 1's hits on pre-query state, memo_cold counts the entries run 1
    // had to build (and run 2 re-paid). Both go to bench_full.json so a
    // round-over-round comparison can separate plan speed from memo
    // assists mechanically.
    case class QueryResult(name: String, best: Either[String, Double],
      gcSec: Double, runs: Seq[Double],
      memoPre: Long, memoCold: Int, taskSec: Double, heapMb: Long,
      compiles: Long)
    val loadSweep = loadavg() // load right as the timed loop begins
    val results = SparkEntry.queries.filter(q => only.forall(_(q._1)))
      .toSeq.sortBy(_._1).map { case (name, fn) =>
      jobs.own(spark.sparkContext, name)
      val mark = SessionMemos.mark()
      SessionMemos.beginWindow(mark)
      val pre0 = SessionMemos.preHitCount
      val task0 = jobs.taskMs
      val (r1, gc1, cg1) = once(fn, name)
      val memoPre = SessionMemos.preHitCount - pre0
      val memoCold = SessionMemos.evictSince(mark) // run 2 re-pays run 1's builds
      drain() // run 2 must start from the same clean state run 1 did
      val (r2, gc2, cg2) = once(fn, name)
      // the first failure, in run order, else the faster run
      val best = for (a <- r1; b <- r2) yield math.min(a, b)
      // gc_sec = GC time during the two TIMED runs only — the drain's
      // forced full GCs are maintenance, not query-caused pressure, and
      // counting them would misread drain overhead as a regression
      val gcSec = (gc1 + gc2) / 1e3
      drain()
      // after the final drain: the listener bus is flushed (task events
      // for this query's jobs delivered — task window is exact) and the
      // two forced GCs make heap-used a live-set reading, not garbage —
      // `heap_mb` traces the in-sweep-inflation hypothesis (r15 VERDICT
      // item 3): a climbing post-drain live set marks driver state
      // accumulating across the sweep
      val taskSec = (jobs.taskMs - task0) / 1e3
      val heapMb = (Runtime.getRuntime.totalMemory()
        - Runtime.getRuntime.freeMemory()) >> 20
      QueryResult(name, best, gcSec, Seq(r1, r2).flatMap(_.toOption),
        memoPre, memoCold, taskSec, heapMb, cg1 + cg2)
    }
    val ok = results.flatMap(r => r.best.toOption.map(r.name -> _))
    val totalSink = ok.collect { case (n, t) if sinkIds(n) => t }.sum
    val totalRead = ok.collect { case (n, t) if !sinkIds(n) => t }.sum
    // Fresh-JVM re-probe targets (full sweeps only). Two triggers, both
    // recorded in bench_full.json so a verdict can see WHY each probe
    // ran: "tail" = the top-3 slowest of this sweep (r8's l53 measured
    // 38.7 s in-sweep but 6.6 s in a fresh JVM — ~4× was sweep-state/GC,
    // not the plan); "regression" = best-of-2 exceeds 2× the same
    // query's previous-round value (read from the newest bench_full_rNN
    // archive with a matching SF — r10's l56 run-2 spike would have gone
    // unprobed had it not also been in the tail). Recording in-sweep and
    // fresh numbers side by side separates plan regressions from harness
    // inflation mechanically instead of by hand-run triage.
    // baseline = the NEWEST archive that is actually comparable: same SF
    // (a local sweep at another SF must not read as a fleet-wide
    // regression) AND same best-of-2 semantics (the r9→r10 memo-cold
    // change made memo-tagged queries 2-10× slower with zero plan change
    // — exactly the cross-semantics misattribution bench_compare.py
    // refuses). Non-matching archives are skipped, not trigger-disabling.
    // only.isEmpty gate: a fresh-probe child / SPARK_GRAFT_ONLY triage run
    // never writes the full JSON, so scanning the archives there is dead
    // I/O on every probe
    val prevQueries: Map[String, Double] = if (only.nonEmpty) Map.empty else
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => "bench_full_r(\\d+)\\.json".r
          .findFirstMatchIn(f.getName).map(m => (m.group(1).toInt, f)))
        .sortBy(-_._1).iterator.map { case (_, f) =>
          try {
            val txt = Files.readString(f.toPath)
            if (txt.contains(s""""sf":"$sfDir"""") &&
                txt.contains(""""semantics":"memo-cold-best-of-2""""))
              Some(Harness.parseJsonDoubleMap(txt, "queries").toMap)
            else None
          } catch { case _: Throwable => None }
        }.collectFirst { case Some(m) => m }.getOrElse(Map.empty)
    val tailIds = ok.sortBy(-_._2).take(3).map(_._1)
    // regression = 2× the prior value AND at least +0.5 s absolute (on
    // ±40% box noise, sub-second queries routinely double without
    // meaning anything); capped at the 10 worst by ratio so a noisy
    // sweep can't inflate the child probe past its 20-min budget or the
    // one-line JSON's slowest-25 `queries` cap (3 tail + 10 ≤ 25, so
    // every probed query's fresh number survives into fresh_probe)
    val regressedIds = ok.collect {
      case (n, t) if prevQueries.get(n).exists(p => t > 2.0 * p && t - p >= 0.5) =>
        n -> (t / prevQueries(n))
    }.sortBy(-_._2).take(10).map(_._1)
    val probeTrigger: Seq[(String, String)] =
      (tailIds.map(_ -> "tail") ++
        regressedIds.map(_ -> "regression")).groupBy(_._1)
        .map { case (n, ts) => n -> ts.map(_._2).distinct.sorted.mkString("+") }
        .toSeq.sortBy(_._1)
    // loadavg around the fresh-probe child: a probe that reads HIGHER
    // than in-sweep (r14's h15) is only interpretable if the load under
    // which it ran is on record
    var probeLoad: Seq[(String, String)] = Seq.empty
    val freshProbe: Seq[(String, Double)] =
      if (only.nonEmpty || sys.env.get("SPARK_GRAFT_FRESH_PROBE").contains("0"))
        Seq.empty
      else probeTrigger.map(_._1) match {
        case tail if tail.isEmpty => Seq.empty
        case tail =>
          try {
            probeLoad = Seq("start" -> loadavg())
            import scala.jdk.CollectionConverters._
            val javaBin =
              Paths.get(System.getProperty("java.home"), "bin", "java").toString
            val heapArgs = java.lang.management.ManagementFactory
              .getRuntimeMXBean.getInputArguments.asScala
              .filter(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
            val cmd = (Seq(javaBin) ++ heapArgs ++ Seq("-cp",
              System.getProperty("java.class.path"), "graft.Bench")).asJava
            val pb = new ProcessBuilder(cmd)
            pb.environment().put("SPARK_GRAFT_ONLY", tail.mkString(","))
            pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
            pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
            pb.redirectErrorStream(false)
            pb.redirectError(ProcessBuilder.Redirect.DISCARD)
            // stdout goes to a file, NOT a pipe read before waitFor: a
            // blocking readAllBytes would make the 20-minute timeout
            // unreachable on a hung child (the read itself never returns)
            val outFile = Files.createTempFile("graft_fresh_probe", ".out")
            pb.redirectOutput(outFile.toFile)
            val p = pb.start()
            val done = p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
            if (!done) p.destroyForcibly()
            val out =
              if (done) new String(Files.readAllBytes(outFile), "UTF-8")
              else ""
            Files.deleteIfExists(outFile)
            probeLoad = probeLoad :+ ("end" -> loadavg())
            Harness.parseBenchQueries(out)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] fresh probe failed: ${e.getMessage}")
            Seq.empty
          }
      }
    val errors = results.flatMap(r => r.best.swap.toOption.map(r.name -> _))
    val failed = errors.map(_._1)
    val passed = results.filter(_.best.isRight)
    val gcByQuery = passed.map(r => r.name -> r.gcSec)
    // task_sec / heap_mb: the r16 SF-robustness + inflation-trace columns
    // (see the listener comment above) — additions-only
    val taskByQuery = passed.map(r => r.name -> r.taskSec)
    val heapByQuery = passed.map(r => r.name -> r.heapMb)
    // codegen_compiles: Janino compiles during the two timed runs
    val compilesByQuery = passed.map(r => r.name -> r.compiles)
    // both timed runs, in order — the between-runs evictSince makes them
    // equally cold wrt the query's OWN memo builds, so a large r1/r2 gap
    // now reads as noise/GC, not a hidden memo hit
    val runsByQuery = passed.map(r => r.name -> r.runs)
    // memo tags (nonzero only): memo_pre = run 1 lookup hits on state
    // built BEFORE this query (its time rides cross-query reuse);
    // memo_cold = entries run 1 built and run 2 re-paid (both runs cold)
    val memoPreByQuery = results.collect {
      case r if r.memoPre > 0 => r.name -> r.memoPre }
    val memoColdByQuery = results.collect {
      case r if r.memoCold > 0 => r.name -> r.memoCold.toLong }
    val total = ok.map(_._2).sum
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def f3(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // JSON string escape (class names / messages can carry quotes,
    // newlines, control chars) and a flat object with formatted values
    def jq(s: String): String = Harness.jsonEscape(s)
    def obj[V](entries: Seq[(String, V)])(fmt: V => String) = entries
      .map { case (k, v) => jq(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val slowest = ok.sortBy(-_._2).take(25).sortBy(_._1)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""total_read":${f3(totalRead)},"total_sink":${f3(totalSink)},""" +
      s""""n_sink":${ok.count(e => sinkIds(e._1))},""" +
      s""""queries":${obj(slowest)(f3)},"n_queries":${results.size},""" +
      s""""n_failed":${failed.size},"failed":$failedJson,""" +
      s""""semantics":"memo-cold-best-of-2","sf":"$sfDir"}"""
    // full per-query map for offline analysis (not size-constrained);
    // gc_sec = driver-JVM GC time attributed to each query's two runs —
    // a query that is slow here but fast in isolation with high gc_sec
    // is a memory-pressure victim, not a bad plan
    // provenance: an in-harness sweep (driver's sbt JVM, possibly a
    // different -Xmx) and a fresh standalone run produce different
    // numbers for the same code — the heap size + thread count recorded
    // here lets a reader tell which environment produced this file
    // instead of reconstructing it from timestamps
    // semantics version: r10 changed best-of-2 from memo-hit-min to
    // memo-cold (between-runs evictSince) — tooling comparing `total`
    // across rounds needs a mechanical flag, not a prose note
    val ctx = s""""context":{"xmx_mb":${Runtime.getRuntime.maxMemory() >> 20},""" +
      s""""cpus":$cpus,"java":"${System.getProperty("java.version")}",""" +
      s""""loadavg_start":"$loadStart","loadavg_sweep":"$loadSweep",""" +
      s""""loadavg_end":"${loadavg()}",""" +
      s""""semantics":"memo-cold-best-of-2"}"""
    // errors = queries whose timed run threw (also in `failed`);
    // job_failures = Spark jobs that FAILED while a query was running
    // even if the query itself recovered and succeeded — the r07
    // unattributed-stack-trace class, now pinned to its owner.
    val jobFailJson = obj(failures.groupMap(_._1)(_._2).toSeq.sortBy(_._1))(
      fs => jq(fs.mkString(" | ")))
    def num(v: Long) = v.toString
    val full = s"""{"total":${f3(total)},"total_read":${f3(totalRead)},""" +
      s""""total_sink":${f3(totalSink)},""" +
      s""""sink_ids":${sinkIds.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s"""$ctx,"queries":${obj(ok)(f3)},""" +
      s""""gc_sec":${obj(gcByQuery)(f3)},""" +
      s""""runs":${obj(runsByQuery)(_.map(f3).mkString("[", ",", "]"))},""" +
      s""""task_sec":${obj(taskByQuery)(f3)},"heap_mb":${obj(heapByQuery)(num)},""" +
      s""""codegen_compiles":${obj(compilesByQuery)(num)},""" +
      s""""memo_pre":${obj(memoPreByQuery)(num)},""" +
      s""""memo_cold":${obj(memoColdByQuery)(num)},""" +
      s""""fresh_probe":${obj(freshProbe.sortBy(_._1))(f3)},""" +
      s""""fresh_probe_trigger":${obj(probeTrigger)(jq)},""" +
      s""""fresh_probe_loadavg":${obj(probeLoad)(jq)},""" +
      s""""failed":$failedJson,"errors":${obj(errors)(jq)},""" +
      s""""job_failures":$jobFailJson,"sf":"$sfDir"}"""
    // a filtered triage run must not clobber the full sweep's record
    if (only.isEmpty) {
      Files.writeString(Paths.get("bench_full.json"), full)
      // per-round archive (bench_full.json alone is clobbered each sweep,
      // losing round-over-round per-query history): current round =
      // highest driver-written BENCH_rNN.json + 1
      val rounds = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(f.getName))
        .map(_.group(1).toInt)
      val round = if (rounds.isEmpty) 0 else rounds.max + 1
      Files.writeString(Paths.get(f"bench_full_r$round%02d.json"), full)
    }
    println(line)
    spark.stop()
  }
}
