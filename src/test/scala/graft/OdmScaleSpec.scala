package graft

import java.nio.file.Files

import graft.odm.{CommandApply, OdmIo, OdmPipeline, OdmQueries}
import org.apache.spark.sql.functions._

/** Scale-shape proof for the ODM layer: one glob read over hundreds of
  * files drives the whole pipeline (explode → envelope → command log →
  * state apply) as a single distributed job — the unit the reference
  * processed one-file-at-a-time over AMQP round-trips.
  */
class OdmScaleSpec extends SparkSuite {

  test("300 files → 6000 commands → state apply, one job chain") {
    val dir = Files.createTempDirectory("graft_odm_scale")
    val template = new String(Files.readAllBytes(
      java.nio.file.Paths.get(OdmPipeline.fixturePath())), "UTF-8")
    (1 to 300).foreach { i =>
      Files.writeString(dir.resolve(f"f$i%04d.xml"),
        template.replace("FILE-1", s"FILE-$i").replace("\"S1\"", s""""S$i""""))
    }
    val t0 = System.nanoTime()
    val env = OdmPipeline.enveloped(spark, s"$dir/*.xml", OdmQueries.BatchCmdId, "s")
    val logDir = Files.createTempDirectory("graft_scale_cmdlog").toString
    OdmIo.writeCommandLog(env, logDir)
    val log = CommandApply.sequenced(OdmIo.readCommandLog(spark, logDir))
    val state = CommandApply.itemState(spark, log)
    val nCmds = OdmIo.readCommandLog(spark, logDir).count()
    val nState = state.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"300 files end-to-end in $secs%.1f s ($nCmds commands, $nState state rows)")
    assert(nCmds === 300L * 20)
    assert(nState === 300L * 7)
    // ids distinct across the whole corpus (id chain roots at study oid)
    assert(OdmIo.readCommandLog(spark, logDir).select("id").distinct().count() === 300L * 20)
    assert(secs < 300.0, f"ODM fan-out too slow: $secs%.1f s")
  }
}
