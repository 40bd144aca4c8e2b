package graft

import graft.odm.{CommandApply, OdmPipeline, OdmQueries}
import org.apache.spark.sql.functions._

/** Applying the command log reproduces the exploded item state: inserts
  * materialize, leaf updates overwrite, removes tombstone, replay is
  * idempotent. */
class CommandApplySpec extends SparkSuite {

  private lazy val log = CommandApply.sequenced(
    OdmPipeline.enveloped(spark, OdmPipeline.fixturePath(),
      OdmQueries.BatchCmdId, "s"))

  test("item state: inserts + updates materialize, removes drop out") {
    val state = CommandApply.itemState(spark, log).cache()
    // fixture: 6 inserted items (I1-I5, I7) + 1 updated (I9); I8 removed
    assert(state.count() === 7)
    // the removed item I8's id must be absent
    val subj4 = graft.functions.Uuid5.uuid5(
      graft.functions.Uuid5.uuid5(graft.functions.Uuid5.NilUuid, "S1"), "SK04")
    val ig5 = graft.functions.Uuid5.uuid5(
      graft.functions.Uuid5.uuid5(graft.functions.Uuid5.uuid5(subj4, "SE05"), "FM5"), "IG5")
    val i8 = graft.functions.Uuid5.uuid5(ig5, "I8").toString
    val i9 = graft.functions.Uuid5.uuid5(ig5, "I9").toString
    assert(state.filter(col("item_id") === i8).count() === 0)
    val i9row = state.filter(col("item_id") === i9).head()
    assert(i9row.getAs[String]("data_type") === "float")
    assert(i9row.getAs[Double]("value_float") === 1.5)
    // typed values survived the round trip through params_json
    assert(state.filter(col("value_integer") === 42L).count() === 1)
  }

  test("cross-file convergence: the same study imported via two files yields one state") {
    import java.nio.file.Files
    // two files with different FileOIDs but the SAME study content — the
    // uuid5 identity chain roots at the study oid, so state keys collide
    // and the latest-wins merge converges to a single copy (idempotent
    // replay across the file boundary, reference §1.3 rationale)
    val template = new String(Files.readAllBytes(
      java.nio.file.Paths.get(OdmPipeline.fixturePath())), "UTF-8")
    val dir = Files.createTempDirectory("graft_converge")
    Files.writeString(dir.resolve("a.xml"), template)
    Files.writeString(dir.resolve("b.xml"), template.replace("FILE-1", "FILE-2"))
    val log2 = CommandApply.sequenced(OdmPipeline.enveloped(
      spark, s"$dir/*.xml", OdmQueries.BatchCmdId, "s"))
    val state = CommandApply.itemState(spark, log2)
    assert(state.select("item_id").distinct().count() === 7)
    assert(state.count() === 7)
  }

  test("within-file document order: remove then re-insert of the same item resolves to inserted") {
    import java.nio.file.Files
    // same _ItemOID twice in one group: Remove first, Insert second — the
    // reference processes siblings in document order, so the item survives.
    // (Lexical (name, params) ordering would sort remove-item last and drop it.)
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<ODM FileOID="FILE-R">
        |  <ClinicalData StudyOID="S1">
        |    <SubjectData SubjectKey="SK10">
        |      <StudyEventData StudyEventOID="SE10">
        |        <FormData FormOID="FM10">
        |          <ItemGroupData ItemGroupOID="IG10">
        |            <ItemData ItemOID="IX" DataType="string" Value="old" TransactionType="Remove"/>
        |            <ItemData ItemOID="IX" DataType="string" Value="new"/>
        |          </ItemGroupData>
        |        </FormData>
        |      </StudyEventData>
        |    </SubjectData>
        |  </ClinicalData>
        |</ODM>""".stripMargin
    val f = Files.createTempFile("graft_reinsert", ".xml")
    Files.writeString(f, xml)
    val log2 = CommandApply.sequenced(OdmPipeline.enveloped(
      spark, f.toString, OdmQueries.BatchCmdId, "s"))
    val state = CommandApply.itemState(spark, log2)
    val rows = state.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("value_string") === "new")
  }

  test("cross-file conflicts resolve deterministically by file order") {
    import java.nio.file.Files
    // same study in two files with DIFFERENT values for item I1; the
    // resolution window orders by (file_oid desc, seq desc), so FILE-9
    // (lexically greatest) must win — on every run, regardless of task
    // scheduling.
    val template = new String(Files.readAllBytes(
      java.nio.file.Paths.get(OdmPipeline.fixturePath())), "UTF-8")
    val dir = Files.createTempDirectory("graft_conflict")
    Files.writeString(dir.resolve("a.xml"),
      template.replace("FILE-1", "FILE-0").replace("Value=\"x\"", "Value=\"from0\""))
    Files.writeString(dir.resolve("b.xml"),
      template.replace("FILE-1", "FILE-9").replace("Value=\"x\"", "Value=\"from9\""))
    val log2 = CommandApply.sequenced(OdmPipeline.enveloped(
      spark, s"$dir/*.xml", OdmQueries.BatchCmdId, "s"))
    val winners = (1 to 3).map { _ =>
      CommandApply.itemState(spark, log2)
        .filter(col("value_string").startsWith("from"))
        .head().getAs[String]("value_string")
    }
    assert(winners.forall(_ === "from9"), s"non-deterministic or wrong winner: $winners")
  }

  test("log compaction: state(snapshot ∪ newer tail) == state(full history)") {
    import java.nio.file.Files
    // history = fixture file; tail = a newer file of the same study with
    // changed values (FILE-9 > "" so it outranks the snapshot in the merge)
    val template = new String(Files.readAllBytes(
      java.nio.file.Paths.get(OdmPipeline.fixturePath())), "UTF-8")
    val dir = Files.createTempDirectory("graft_compact")
    Files.writeString(dir.resolve("tail.xml"),
      template.replace("FILE-1", "FILE-9").replace("Value=\"x\"", "Value=\"newer\""))
    val tail = CommandApply.sequenced(OdmPipeline.enveloped(
      spark, s"$dir/tail.xml", OdmQueries.BatchCmdId, "s"))
      .select("level", "name", "params_json", "file_oid", "doc_pos", "seq")
    val snapshot = CommandApply.sequenced(
      CommandApply.compacted(spark, log)).select(tail.columns.map(col): _*)
    val full = CommandApply.sequenced(
      log.drop("seq").select("level", "name", "params_json", "file_oid", "doc_pos")
        .union(tail.drop("seq")))
    val stateCols = Seq("item_id", "data_type", "value_string",
      "value_integer", "value_float", "value_datetime").map(col)
    val viaSnapshot = CommandApply.itemState(spark,
        CommandApply.sequenced(snapshot.drop("seq").union(tail.drop("seq"))))
      .select(stateCols: _*).orderBy("item_id").collect().toSeq
    val viaFull = CommandApply.itemState(spark, full)
      .select(stateCols: _*).orderBy("item_id").collect().toSeq
    assert(viaSnapshot === viaFull)
    assert(viaSnapshot.nonEmpty)
  }

  test("sequenced rejects a log without doc_pos, naming the column") {
    val ex = intercept[IllegalArgumentException] {
      CommandApply.sequenced(log.drop("seq", "doc_pos"))
    }
    assert(ex.getMessage.contains("doc_pos"), ex.getMessage)
  }

  test("replay idempotence: applying the log twice equals once") {
    val once = CommandApply.itemState(spark, log)
    val twice = CommandApply.itemState(spark,
      CommandApply.sequenced(log.drop("seq").union(log.drop("seq"))))
    assert(once.orderBy("item_id").collect().toSeq ===
      twice.orderBy("item_id").collect().toSeq)
  }
}
