package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** The shared driver tooling in Harness and Plans: the one job listener
  * (per-job task time adds up to its all-tasks total, failures are
  * charged to the owner marked when the job ran, a task of an
  * unregistered stage lands in no job) and the per-query plan dumper. */
class DriverToolsSpec extends SparkSuite {

  private def flush(): Unit =
    org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext, 30000L)

  /** Runs `body` with a fresh listener registered; removes it after. */
  private def listening[T](body: Harness.JobListener => T): T = {
    flush()
    val l = Harness.listen(spark)
    try body(l)
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("a multi-job action's per-job task time sums to the listener's total") {
    listening { l =>
      l.own(spark.sparkContext, "multi")
      spark.range(0, 20000, 1, 4).selectExpr("id % 97 AS k")
        .groupBy("k").count().orderBy("k").collect()
      flush()
      val jobs = l.take()
      assert(jobs.size >= 2, jobs)
      assert(jobs.forall(j => j.owner == "multi" && j.end >= j.start && j.failure.isEmpty))
      assert(jobs.map(_.tasks).sum > 0)
      assert(jobs.map(_.taskMs).sum === l.taskMs)
      assert(l.take().isEmpty)
    }
  }

  test("a failed job is charged to the owner set when it ran") {
    val sc = spark.sparkContext
    // holds back the shared listener queue at the failed job's start, so
    // its events reach the listener only after the caller re-owned
    val release = new CountDownLatch(1)
    val gate = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = release.await(60, TimeUnit.SECONDS)
    }
    flush()
    sc.addSparkListener(gate)
    try listening { l =>
      l.own(sc, "failing")
      intercept[SparkException] {
        sc.parallelize(1 to 4, 2)
          .map(i => if (i == 3) throw new IllegalStateException("planted failure") else i)
          .count()
      }
      l.own(sc, "after")
      release.countDown()
      sc.parallelize(1 to 4, 2).count()
      flush()
      val jobs = l.take()
      val failed = jobs.filter(_.failure.nonEmpty)
      assert(failed.map(_.owner) === Seq("failing"), jobs)
      assert(failed.head.failure.get.startsWith(
        "org.apache.spark.SparkException: Job aborted due to stage failure"), failed)
      assert(jobs.exists(j => j.owner == "after" && j.failure.isEmpty &&
        j.site.startsWith("count at DriverToolsSpec.scala")), jobs)
    } finally {
      release.countDown()
      sc.removeSparkListener(gate)
    }
  }

  test("a task of a stage no JobStart registered is not charged to job 0") {
    val ends = ArrayBuffer.empty[SparkListenerTaskEnd]
    val capture = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ends.synchronized { ends += e }
    }
    flush()
    spark.sparkContext.addSparkListener(capture)
    try { spark.sparkContext.parallelize(1 to 100, 4).map(_ * 2).count(); flush() }
    finally spark.sparkContext.removeSparkListener(capture)
    assert(ends.size === 4)
    // replayed into a listener whose only job (id 0) registered no stage
    val l = new Harness.JobListener
    l.onJobStart(SparkListenerJobStart(0, 0L, Seq.empty, new java.util.Properties))
    ends.foreach(l.onTaskEnd)
    val Seq(job0) = l.take()
    assert(job0.jobId === 0 && job0.tasks === 0 && job0.taskMs === 0L)
    assert(l.taskMs === ends.map(_.taskInfo.duration).sum)
  }

  test("Plans.dump writes <id>_<suffix>.txt for a SparkEntry id and a plan twin") {
    val out = Files.createTempDirectory("graft_plans_")
    val written = Plans.dump(spark, sf, out.toString, "t",
      Seq("a01_agg_hash", "l02_pair_spine"))
    assert(written.map(_.getFileName.toString) ===
      Seq("a01_agg_hash_t.txt", "l02_pair_spine_t.txt"))
    val Seq(a01, spine) = written.map(Files.readString)
    assert(a01.startsWith("== Physical Plan =="), a01)
    assert(a01.contains("HashAggregate"), a01)
    assert(spine.contains("minhash_sig("), spine)
  }

  test("Plans.dump rejects an unknown id by name and writes nothing") {
    val out = Files.createTempDirectory("graft_plans_").resolve("never")
    val e = intercept[IllegalArgumentException] {
      Plans.dump(spark, sf, out.toString, "t", Seq("a01_agg_hash", "no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
    assert(!Files.exists(out))
  }
}
