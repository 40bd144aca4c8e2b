package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.odm.{CommandApply, ExplodedLevels, OdmIo, OdmPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: a fixed list of operations that make up one
  * pass, run back to back by a single client. `layer` names the module
  * an operation's self time is charged to. */
trait Workload {
  def ops: Seq[(String, String)]
  /** Run one operation; with `outputs` set, write its result under that
    * directory for the oracle check instead of discarding it. */
  def run(op: String, outputs: Option[String]): Unit
  /** Untimed, after every pass: observations that run.py checks. */
  def afterPass(traced: Boolean): Map[String, Any] = Map.empty
}

object Workload {
  /** query_mix: a TPC-H-shaped scan and aggregate, bound by driver
    * planning and per-job fixed cost, then the near-duplicate text query,
    * bound by executor expression CPU and built on a session memo. */
  val QueryIds: Seq[String] = Seq("q06_forecast_revenue", "l02_dedup_near")

  def apply(name: String, spark: SparkSession, data: String, work: String): Workload =
    name match {
      case "query_mix" => new Queries(spark, data, QueryIds)
      case "odm_import" => new OdmImport(spark, data, work)
      case other => sys.error(s"unknown workload $other")
    }
}

/** Registered queries, each result fully materialised through the noop
  * sink (or, in the first set-up pass, written for the oracle check). */
final class Queries(spark: SparkSession, data: String, ids: Seq[String]) extends Workload {
  def ops: Seq[(String, String)] = ids.map { id =>
    id -> (if (id.startsWith("q")) "graft.operators" else "graft.llm")
  }

  def run(op: String, outputs: Option[String]): Unit = {
    val df = SparkEntry.queries(op)(spark, data)
    outputs match {
      case None => df.write.format("noop").mode("overwrite").save()
      case Some(dir) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$op")
        if (op == ids.head) Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.value(
          SparkEntry.oracleSql.filter { case (k, _) => ids.contains(k) }))
    }
  }
}

/** The paper's import path over a generated corpus: explode → gate →
  * command log write → read, sequence, apply → state write. */
final class OdmImport(spark: SparkSession, data: String, work: String) extends Workload {
  import OdmImport._

  private val corpus = s"$data/corpus"
  private val logDir = s"$work/command_log"
  private val stateDir = s"$work/item_state"
  private var levels: ExplodedLevels = _
  private var gated: DataFrame = _

  /** The downstream event log, generated with the corpus (gen_odm.py). */
  private val events = spark.read.parquet(s"$data/events.parquet")

  def ops: Seq[(String, String)] =
    Seq("odm.explode", "odm.gate", "odm.log_write", "odm.apply").map(_ -> "graft.odm")

  def run(op: String, outputs: Option[String]): Unit = op match {
    case "odm.explode" =>
      levels = OdmPipeline.exploded(spark, corpus)
      levels.items.write.format("noop").mode("overwrite").save()
    case "odm.gate" =>
      gated = OdmPipeline.gatedCommands(spark, corpus, BatchCmdId, Sub, events)
    case "odm.log_write" =>
      OdmIo.writeCommandLog(gated, logDir)
    case "odm.apply" =>
      val log = CommandApply.sequenced(OdmIo.readCommandLog(spark, logDir))
      CommandApply.itemState(spark, log).write.mode("overwrite").parquet(stateDir)
  }

  override def afterPass(traced: Boolean): Map[String, Any] = {
    val cmds = OdmIo.readCommandLog(spark, logDir).groupBy("level", "name").count()
      .collect().map(r => s"${r.get(0)}|${r.getString(1)}" -> r.getLong(2)).toMap
    val st = spark.read.parquet(stateDir).agg(count(lit(1)),
      coalesce(bit_xor(conv(substring(regexp_replace(col("item_id"), "-", ""), 1, 15), 16, 10)
        .cast("long")), lit(0L))).head()
    val obs = Map[String, Any]("cmds" -> cmds, "state_rows" -> st.getLong(0),
      "state_xor" -> st.getLong(1).toString)
    if (!traced) obs
    else {
      val files = Files.walk(Paths.get(logDir)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).toSeq
      val rows = Seq("study" -> levels.studies, "subject" -> levels.subjects,
        "study_event" -> levels.studyEvents, "form" -> levels.forms,
        "item_group" -> levels.itemGroups, "item" -> levels.items)
        .map { case (k, df) => k -> df.count() }.toMap
      obs ++ Map("rows" -> rows, "log_files" -> files.size,
        "log_bytes" -> files.map(Files.size).sum,
        "uuid5_ns_per_row" -> uuid5NsPerRow(levels.items, rows("item")))
    }
  }

  /** uuid5_native projected over the cached item level, each row repeated
    * Repeat times so the expression's cost stands above job overhead,
    * minus the same projection without it; fastest of five each. */
  private def uuid5NsPerRow(items: DataFrame, n: Long): Double = {
    val rows = items.select(col("item_group_id"), col("item_oid"),
      explode(sequence(lit(1), lit(Repeat))).as("i"))
    def fastest(df: DataFrame): Long = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }.min
    val base = fastest(rows)
    val withUuid = fastest(rows.select(col("*"),
      graft.functions.Uuid5Expression.uuid5Native(col("item_group_id"), col("item_oid"))))
    (withUuid - base).toDouble / math.max(n * Repeat, 1L)
  }
}

object OdmImport {
  val BatchCmdId: String = graft.odm.OdmQueries.BatchCmdId
  val Sub = "importer-1"
  private val Repeat = 64
}
