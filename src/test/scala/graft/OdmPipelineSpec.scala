package graft

import graft.functions.Uuid5
import graft.odm.{OdmPipeline, OdmQueries}
import org.apache.spark.sql.Row

/** Transliteration of the reference's test matrix
  * (/root/reference/test/lens/import_clinical_data_test.clj:10-259) against
  * the fixture of FIXTURES.md §3: insert cascades, upsert inherits,
  * update emits only at the item leaf, remove emits and never cascades,
  * failed parents prune subtrees (gating), ids are the deterministic
  * UUIDv5 chain.
  */
class OdmPipelineSpec extends SparkSuite {
  import org.apache.spark.sql.functions._

  private lazy val fixture = OdmPipeline.fixturePath()
  private lazy val cmds =
    OdmPipeline.commands(spark, fixture).cache()

  private def names(filterEx: String): Seq[String] =
    cmds.filter(expr(filterEx)).select("name").collect().map(_.getString(0)).toSeq

  test("success-path command count and level distribution") {
    val byLevel = cmds.groupBy("level").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // SK01 snapshot insert: 1+1+1+1+4; SK02 upsert chain: 1+1+1+1+1;
    // SK03 remove: 1; SK04 update: SE04 insert subtree 1+1+1+1, I8 remove, I9 update
    assert(byLevel === Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L, 5 -> 8L))
    assert(cmds.count() === 20)
  }

  test("insert cascades: SK01 subtree emits insert commands at every level (test :24-38)") {
    assert(names("params_json LIKE '%SK01%'") === Seq("odm-import/insert-subject"))
    val igId = Uuid5.uuid5(Uuid5.uuid5(Uuid5.uuid5(Uuid5.uuid5(
      Uuid5.uuid5(Uuid5.NilUuid, "S1"), "SK01"), "SE01"), "FM1"), "IG1")
    val itemCmds = cmds.filter(col("params_json").contains(igId.toString)
      && col("level") === 5)
    assert(itemCmds.count() === 4)
    assert(itemCmds.select("name").distinct().collect().map(_.getString(0)).toSeq
      === Seq("odm-import/insert-item"))
  }

  test("upsert inherits and degrades below study-event (documented deviation)") {
    assert(names("params_json LIKE '%SK02%'") === Seq("odm-import/upsert-subject"))
    val subj2 = Uuid5.uuid5(Uuid5.uuid5(Uuid5.NilUuid, "S1"), "SK02")
    assert(names(s"params_json LIKE '%$subj2%'") === Seq("odm-import/upsert-study-event"))
    val se2 = Uuid5.uuid5(subj2, "SE02")
    // FM2 has explicit Insert; IG2/I5 inherit insert
    assert(names(s"params_json LIKE '%$se2%'") === Seq("odm-import/insert-form"))
  }

  test("remove emits one command and never cascades (test :208-219)") {
    assert(names("params_json LIKE '%SK03%'") === Seq("odm-import/remove-subject"))
    // nothing from SK03's subtree (SE03/FM3/IG3/I6 all absent)
    assert(cmds.filter(col("params_json").contains("SE03")).count() === 0)
    val subj3 = Uuid5.uuid5(Uuid5.uuid5(Uuid5.NilUuid, "S1"), "SK03")
    assert(cmds.filter(col("params_json").contains(subj3.toString)).count() === 0)
  }

  test("update cascades without emitting except at the item leaf (test :55-68, :236-247)") {
    assert(names("params_json LIKE '%SK04%'").isEmpty) // no subject command
    val subj4 = Uuid5.uuid5(Uuid5.uuid5(Uuid5.NilUuid, "S1"), "SK04")
    // SE04 explicit insert under updated subject
    assert(names(s"params_json LIKE '%$subj4%'") === Seq("odm-import/insert-study-event"))
    // SE05 inherited update: no command, but items emit
    val ig5 = Uuid5.uuid5(Uuid5.uuid5(Uuid5.uuid5(subj4, "SE05"), "FM5"), "IG5")
    val i9 = Uuid5.uuid5(ig5, "I9")
    assert(names(s"params_json LIKE '%$i9%'") === Seq("odm-import/update-item"))
    // remove-item params carry (item_group_id, item_oid); update-item carries
    // item_id only (reference :111-119) — so ig5 appears only in the remove
    assert(names(s"params_json LIKE '%$ig5%'") === Seq("odm-import/remove-item"))
  }

  test("typed item values land in the tagged union (§1.5, R10 coercion)") {
    val items = OdmPipeline.exploded(spark, fixture).items
    val i2 = items.filter(col("item_oid") === "I2").head()
    assert(i2.getAs[Long]("value_integer") === 42L)
    assert(i2.getAs[String]("value_string") === null)
    val i4 = items.filter(col("item_oid") === "I4").head()
    assert(i4.getAs[java.sql.Timestamp]("value_datetime") !== null)
    val i3 = items.filter(col("item_oid") === "I3").head()
    assert(i3.getAs[Double]("value_float") === 3.25)
  }

  test("explode reads a batch input through level caches and caches no streaming level") {
    val batch = OdmPipeline.exploded(spark, fixture)
    def levels(lv: graft.odm.ExplodedLevels) = Seq(lv.studies, lv.subjects,
      lv.studyEvents, lv.forms, lv.itemGroups, lv.items)
    def readsCache(lv: org.apache.spark.sql.DataFrame) = lv.queryExecution.withCachedData
      .collectFirst { case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }.isDefined
    assert(levels(batch).forall(readsCache))
    batch.unpersist()
    val dir = java.nio.file.Files.createTempDirectory("graft_odm_uncached")
    val parsed = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dir.toString)
      .select(from_xml(col("content").cast("string"), OdmPipeline.odmSchema).as("odm"))
      .select(col("odm.*"))
    val streamed = levels(OdmPipeline.explodedFrom(parsed))
    // (withCachedData refuses a streaming plan; the cache manager holds none)
    assert(streamed.forall(lv => lv.isStreaming && !lv.storageLevel.useMemory))
  }

  test("envelope: cmd ids are deterministic, distinct, and key-order free") {
    val env = OdmQueries.c01(spark, sf)
    val ids = env.select("id").collect().map(_.getString(0))
    assert(ids.length === 20 && ids.distinct.length === 20)
    val again = OdmQueries.c01(spark, sf).select("id").collect().map(_.getString(0))
    assert(ids.toSeq === again.toSeq) // idempotent replay
    assert(env.filter(col("sub") =!= "importer-1").count() === 0)
    assert(env.filter(col("file_oid") =!= "FILE-1").count() === 0)
  }

  test("gating: failed subject insert prunes its whole subtree (test :40-53)") {
    import spark.implicits._
    val genOk = (name: String, params: String) =>
      Uuid5.genCmdIdJson(OdmQueries.BatchCmdId, name, params, "FILE-1")
    // build the event log: every level-1..4 command succeeds EXCEPT SK01's
    val env = OdmPipeline.enveloped(spark, fixture, OdmQueries.BatchCmdId, "s")
    val evRows = env.collect().toSeq
      .filter(r => !r.getAs[String]("params_json").contains("SK01"))
      .map { r =>
        val nm = r.getAs[String]("name")
        val entity = nm.stripPrefix("odm-import/")
          .stripPrefix("insert-").stripPrefix("upsert-").stripPrefix("remove-")
        (r.getAs[String]("id"), s"$entity/created")
      }
    val events = evRows.toDF("cid", "name")
    val gated = OdmPipeline.gatedCommands(spark, fixture, OdmQueries.BatchCmdId, "s", events)
    val gatedNames = gated.select("params_json").collect().map(_.getString(0))
    // SK01's insert-subject is still SENT (it just failed) …
    assert(gated.filter(col("params_json").contains("SK01")).count() === 1)
    // … but nothing below it (SE01/FM1/IG1/items) is
    assert(gated.filter(col("params_json").contains("SE01")).count() === 0)
    val subj1 = Uuid5.uuid5(Uuid5.uuid5(Uuid5.NilUuid, "S1"), "SK01")
    assert(gated.filter(col("params_json").contains(subj1.toString)).count() === 0)
    // the other subtrees are unaffected
    assert(gated.filter(col("params_json").contains("SK02")).count() === 1)
    assert(gated.count() === 20 - 7) // SK01's 7 descendants pruned
    val _ = gatedNames
  }

  test("s06 query: exploded item table has the tagged-union schema") {
    val items = OdmQueries.s06(spark, sf)
    val cols = items.columns.toSet
    assert(Set("item_id", "item_group_id", "item_oid", "tx", "data_type",
      "value_string", "value_integer", "value_float", "value_datetime")
      .subsetOf(cols))
    assert(items.count() === 8)
    // exactly one non-null value column per row
    val bad = items.filter(
      (col("value_string").isNotNull.cast("int") +
        col("value_integer").isNotNull.cast("int") +
        col("value_float").isNotNull.cast("int") +
        col("value_datetime").isNotNull.cast("int")) =!= 1)
    assert(bad.count() === 0)
  }
}
