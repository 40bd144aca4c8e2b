package graft.tools

import graft.{Harness, SessionMemos, SparkEntry}

/** Optimization-round triage (r15): run one or more registered queries
  * and print every Spark JOB of the profiled run with its call site
  * (file:line of the action), wall time, task count and task-time sum,
  * as recorded by the shared Harness.JobListener; the header adds the
  * run's Janino compiles (codegen-cache misses). A sink-family builder
  * is a CHAIN of small jobs — the bench's one number per query can't say
  * which write/scan/collect inside the chain is the expensive one; this
  * does. Not part of any query path.
  *
  *   sbt "runMain graft.tools.ProfileQuery /root/testdata/sf0.1 s23_compact_manifest"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <id,id,...>")
    val (sfDir, ids) = (args(0), args(1).split(",").map(_.trim).filter(_.nonEmpty))
    val spark = Harness.session(Harness.cpus)
    val jobs = Harness.listen(spark)
    // one run, then memos and caches reset and the listener bus flushed;
    // returns the run's wall seconds
    def run(id: String): Double = {
      val w0 = System.nanoTime()
      SparkEntry.queries(id)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - w0) / 1e9
      SessionMemos.evictSince(0L)
      Harness.drain(spark, settleMs = 200L)
      org.apache.spark.GraftSparkBridge
        .waitListenerBusEmpty(spark.sparkContext, 10000L)
      wall
    }
    ids.foreach { id =>
      // run 1 = codegen/scan warmup at the same SF (plan-shape identical);
      // run 2 is the profiled run, matching the bench's best-of-2 floor
      run(id)
      jobs.take()
      jobs.own(spark.sparkContext, id)
      val c0 = Harness.compiles()
      val wall = run(id)
      val compiled = Harness.compiles() - c0
      val rows = jobs.take()
      println(f"\n=== $id  wall=$wall%.3f s  jobs=${rows.size}  tasks=${rows.map(_.tasks).sum}" +
        f"  compiles=$compiled  taskSum=${rows.map(_.taskMs).sum / 1e3}%.3f s ===")
      println(f"${"job"}%4s ${"wall_s"}%8s ${"tasks"}%6s ${"taskSum_s"}%10s  site")
      val acct = rows.map { j =>
        val w = (j.end - j.start) / 1e3
        println(f"${j.jobId}%4d $w%8.3f ${j.tasks}%6d ${j.taskMs / 1e3}%10.3f  ${j.site}")
        w
      }.sum
      println(f"job-wall sum=$acct%.3f s (gaps to $wall%.3f = driver/metadata time)")
    }
    spark.stop()
  }
}
