package graft

import java.nio.file.Files

import graft.odm.{CommandApply, OdmIo, OdmPipeline, OdmQueries}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

/** The ODM import reads one node frame: the six entity tables are views
  * of it with their own columns, `unpersist` releases everything the
  * explode pinned, the latest-wins apply orders by doc_pos so the
  * sequencing window is pruned, and a repeated import compiles no code
  * (its generated classes fit Spark's codegen cache). */
class OdmNodeFrameSpec extends SparkSuite {

  /** The fixture under `n` file and study OIDs, one file each. */
  private def corpus(n: Int): String = {
    val dir = Files.createTempDirectory("graft_odm_nodes")
    val template = new String(Files.readAllBytes(
      java.nio.file.Paths.get(OdmPipeline.fixturePath())), "UTF-8")
    (1 to n).foreach { i =>
      Files.writeString(dir.resolve(s"f$i.xml"),
        template.replace("FILE-1", s"FILE-$i").replace("\"S1\"", s""""S$i""""))
    }
    s"$dir/*.xml"
  }

  private def levels(lv: graft.odm.ExplodedLevels) = Seq(lv.studies, lv.subjects,
    lv.studyEvents, lv.forms, lv.itemGroups, lv.items)

  test("the six level views keep the entity tables' columns and order") {
    val lv = OdmPipeline.exploded(spark, OdmPipeline.fixturePath())
    assert(levels(lv).map(_.columns.mkString(",")) === Seq(
      "file_oid,doc_pos,study_oid,study_id",
      "file_oid,doc_pos,study_oid,study_id,subject_key,subject_id,tx",
      "file_oid,doc_pos,study_id,subject_key,subject_id,study_event_oid,study_event_id,tx",
      "file_oid,doc_pos,study_event_oid,study_event_id,form_oid,form_id,tx",
      "file_oid,doc_pos,form_oid,form_id,item_group_oid,item_group_id,tx",
      "file_oid,doc_pos,item_group_oid,item_group_id,item_oid,item_id,tx,data_type," +
        "value_raw,value_string,value_integer,value_float,value_datetime"))
    // one row per node: 1 study, 4 subjects (SK03 removed: no subtree)
    assert(levels(lv).map(_.count()) === Seq(1L, 4L, 4L, 4L, 4L, 8L))
    assert(lv.nodes.count() === 25L)
  }

  test("unpersist releases every RDD the explode pinned") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val lv = OdmPipeline.exploded(spark, corpus(2))
    levels(lv).foreach(_.write.format("noop").mode("overwrite").save())
    assert((sc.getPersistentRDDs.keySet.toSet -- before).nonEmpty,
      "a batch explode caches its node frame")
    lv.unpersist()
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"RDDs still persisted after unpersist: $left")
  }

  test("itemState orders by doc_pos, so sequenced's window is pruned") {
    // a fresh path: a state frame another suite cached would replace
    // the optimized plan
    val log = CommandApply.sequenced(OdmPipeline.enveloped(spark,
      corpus(1), OdmQueries.BatchCmdId, "s"))
    val state = CommandApply.itemState(spark, log)
    val windows = state.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(windows.size === 1, state.queryExecution.optimizedPlan.treeString)
    assert(state.count() === 7L)
    val ex = intercept[IllegalArgumentException] {
      CommandApply.itemState(spark, log.drop("doc_pos"))
    }
    assert(ex.getMessage.contains("doc_pos"), ex.getMessage)
  }

  test("a repeated import compiles no generated code") {
    // a running stream would compile its own micro-batches meanwhile
    spark.streams.active.foreach(_.stop())
    val path = corpus(3)
    val work = Files.createTempDirectory("graft_odm_codegen")
    val (evDir, logDir, stateDir) = (work.resolve("events").toString,
      work.resolve("log").toString, work.resolve("state").toString)
    // every command acknowledged except the SK01 subjects' inserts, so
    // the gate prunes their subtrees
    OdmPipeline.enveloped(spark, path, OdmQueries.BatchCmdId, "s")
      .filter(!col("params_json").contains("SK01"))
      .select(col("id").as("cid"), concat(regexp_replace(col("name"),
        "^odm-import/(insert-|upsert-|remove-)?", ""), lit("/created")).as("name"))
      .write.parquet(evDir)
    val events = spark.read.parquet(evDir)
    // explode → gate → command-log write → apply → state write, then
    // the between-passes drain; returns the classes compiled meanwhile
    def importOnce(): Long = {
      val c0 = Harness.compiles()
      OdmPipeline.exploded(spark, path).items.write.format("noop").mode("overwrite").save()
      OdmIo.writeCommandLog(OdmPipeline.gatedCommands(spark, path,
        OdmQueries.BatchCmdId, "s", events), logDir)
      CommandApply.itemState(spark, CommandApply.sequenced(OdmIo.readCommandLog(spark, logDir)))
        .write.mode("overwrite").parquet(stateDir)
      val n = Harness.compiles() - c0
      Harness.drain(spark, settleMs = 0L)
      n
    }
    val first = importOnce()
    val second = importOnce()
    info(s"compiled $first classes on the first import, $second on the second")
    assert(second === 0L, "the import's generated classes overflow the codegen cache")
    assert(OdmIo.readCommandLog(spark, logDir).count() === 3L * (20 - 7))
    assert(spark.read.parquet(stateDir).count() === 3L * (7 - 4))
  }
}
