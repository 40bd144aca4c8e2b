package graft

import java.nio.file.{Files, Paths}

import graft.odm.{OdmIo, OdmPipeline, OdmQueries}
import org.apache.spark.sql.functions._

/** Validation channel (R21), typed Dataset API, partitioned command log,
  * and the many-files scale path of the ODM layer. */
class OdmIoSpec extends SparkSuite {

  test("typed Dataset[OdmCommand] boundary") {
    val ds = OdmIo.envelopedDs(spark, OdmPipeline.fixturePath(),
      OdmQueries.BatchCmdId, "importer-1")
    val cmds = ds.collect()
    assert(cmds.length === 20)
    assert(cmds.forall(_.sub == "importer-1"))
    assert(cmds.map(_.id).distinct.length === 20)
  }

  test("R21 validation split: bad coercions become validation-failed events") {
    val in = getClass.getResourceAsStream("/odm/sample_invalid.xml")
    val tmp = Files.createTempFile("graft_odm_bad", ".xml")
    Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val items = OdmPipeline.exploded(spark, tmp.toString).items
    val (valid, rejects) = OdmIo.splitValidItems(items)
    assert(valid.count() === 1) // B3 float ok
    val rej = rejects.orderBy("item_oid").collect()
    assert(rej.map(_.getAs[String]("item_oid")).toSeq === Seq("B1", "B2", "B4"))
    assert(rej.forall(_.getAs[String]("name") == "clinical-data-import/validation-failed"))
    assert(rej.head.getAs[String]("value_raw") === "not-a-number")
    // requeue split (broker.clj:88-95): coercion = fatal, missing parent
    // = retryable; the fatal arm keeps its derivable uuid5 event id, the
    // retryable arm's id chain is broken so its event id is NULL
    val byOid = rej.map(r => r.getAs[String]("item_oid") -> r).toMap
    Seq("B1", "B2").foreach { oid =>
      assert(byOid(oid).getAs[Boolean]("requeue") === false)
      assert(byOid(oid).getAs[String]("reason") === "coercion")
      assert(byOid(oid).getAs[String]("id") != null)
    }
    assert(byOid("B4").getAs[Boolean]("requeue") === true)
    assert(byOid("B4").getAs[String]("reason") === "missing-parent")
    assert(byOid("B4").getAs[String]("id") == null)
    assert(rej.map(_.getAs[String]("id")).filter(_ != null).distinct.length === 2)
  }

  test("command log: partitioned write, pruned re-read, order-free level recovery") {
    val out = Files.createTempDirectory("graft_cmdlog").toString
    val cmds = OdmPipeline.enveloped(spark, OdmPipeline.fixturePath(),
      OdmQueries.BatchCmdId, "s")
    OdmIo.writeCommandLog(cmds, out)
    val back = OdmIo.readCommandLog(spark, out)
    assert(back.count() === 20)
    val pruned = back.filter(col("file_oid") === "FILE-1" && col("level") === 5)
    assert(pruned.count() === 8)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(file_oid"),
      s"expected partition pruning on the command log:\n$plan")
  }

  test("many-files source: one glob read fans out per-file trees in parallel") {
    val dir = Files.createTempDirectory("graft_odm_many")
    val template = new String(Files.readAllBytes(
      Paths.get(OdmPipeline.fixturePath())), "UTF-8")
    (1 to 12).foreach { i =>
      Files.writeString(dir.resolve(s"f$i.xml"),
        template.replace("FILE-1", s"FILE-$i").replace("\"S1\"", s""""S$i""""))
    }
    val cmds = OdmPipeline.commands(spark, s"$dir/*.xml")
    assert(cmds.count() === 20 * 12)
    assert(cmds.select("file_oid").distinct().count() === 12)
    // ids stay distinct across files: study oid differs => whole chain differs
    val env = cmds
      .withColumn("id", udf((n: String, p: String, f: String) =>
        graft.functions.Uuid5.genCmdIdJson(OdmQueries.BatchCmdId, n, p, f))
        .apply(col("name"), col("params_json"), col("file_oid")))
    assert(env.select("id").distinct().count() === 20 * 12)
  }
}
