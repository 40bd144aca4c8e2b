package graft

import java.nio.file.Files

import scala.collection.mutable

import graft.functions.Uuid5
import graft.odm.{OdmIo, OdmPipeline, OdmQueries}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Test => ScTest}
import org.scalacheck.Prop.forAll

/** The dependency gate (R15) against a plain-Scala model of the
  * level-by-level rule it closes: subjects are always sent; a level-k
  * row is sent iff its parent id (never null) is among the ids of the
  * SENT level-(k-1) rows that are acknowledged — an update
  * pass-through, or an insert/upsert whose command id carries an
  * `<entity>/created` event (or `<entity>/updated` for upsert).
  *
  * Random corpora span several files over small OID pools, so one entity
  * recurs across files: a parent that fails in one file and is revisited
  * by another file's update or insert, removes, upserts (including the
  * form-level degrade to insert and item-group upserts), unknown tx
  * strings, and missing OIDs (null ids: a missing-OID parent's children
  * stay pruned even under update pass-through). Each file has its own
  * FileOID; one may lack it. Plus the plan shape: one materialization,
  * and no global sort on the command-log write.
  */
class OdmGateSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import OdmGateSpec._

  private val Study = "PS"

  private val genTx = Gen.frequency(4 -> None, 2 -> Some("Insert"),
    2 -> Some("Update"), 1 -> Some("Remove"), 2 -> Some("Upsert"),
    1 -> Some("Bogus"))

  private def genNode(pool: String, depth: Int): Gen[Node] =
    for {
      oid <- Gen.frequency(9 -> Gen.choose(0, 2).map(i => Some(s"$pool$i")),
        1 -> Gen.const(None))
      tx <- genTx
      ack <- Gen.frequency(5 -> 0, 1 -> 1, 3 -> 2, 1 -> 3)
      nKids <- if (depth == 0) Gen.const(0) else Gen.choose(0, 2)
      kids <- Gen.listOfN(nKids, Gen.lzy(genNode(pool + "x", depth - 1)))
      intValue <- Gen.oneOf(false, true)
    } yield Node(oid, tx, ack, kids, intValue)

  private val genCorpus: Gen[Seq[OdmFile]] =
    for {
      nFiles <- Gen.choose(1, 3)
      noOid <- Gen.frequency(4 -> Gen.const(-1), 1 -> Gen.choose(0, nFiles - 1))
      files <- Gen.listOfN(nFiles, Gen.choose(1, 3).flatMap(n =>
        Gen.listOfN(n, genNode("K", 4))))
    } yield files.zipWithIndex.map { case (subs, i) =>
      OdmFile(if (i == noOid) None else Some(s"F$i"), subs)
    }

  private def xml(f: OdmFile): String = {
    def attrs(n: Node, oidAttr: String) =
      n.oid.map(o => s""" $oidAttr="$o"""").getOrElse("") +
        n.tx.map(t => s""" TransactionType="$t"""").getOrElse("")
    def value(n: Node) =
      if (n.intValue) """ DataType="integer" Value="7"""" else """ DataType="string" Value="v""""
    def el(n: Node, depth: Int): String = depth match {
      case 1 => s"<SubjectData${attrs(n, "SubjectKey")}>${n.kids.map(el(_, 2)).mkString}</SubjectData>"
      case 2 => s"<StudyEventData${attrs(n, "StudyEventOID")}>${n.kids.map(el(_, 3)).mkString}</StudyEventData>"
      case 3 => s"<FormData${attrs(n, "FormOID")}>${n.kids.map(el(_, 4)).mkString}</FormData>"
      case 4 => s"<ItemGroupData${attrs(n, "ItemGroupOID")}>${n.kids.map(el(_, 5)).mkString}</ItemGroupData>"
      case _ => s"<ItemData${attrs(n, "ItemOID")}${value(n)}/>"
    }
    val fileAttr = f.fileOid.map(o => s""" FileOID="$o"""").getOrElse("")
    s"""<?xml version="1.0"?><ODM$fileAttr><ClinicalData StudyOID="$Study">""" +
      f.subjects.map(el(_, 1)).mkString + "</ClinicalData></ODM>"
  }

  private val Entities = Map(1 -> "subject", 2 -> "study-event", 3 -> "form",
    4 -> "item-group", 5 -> "item")

  private def json(fields: (String, Option[String])*): String =
    fields.collect { case (k, Some(v)) => s""""$k":$v""" }.mkString("{", ",", "}")
  private def q(s: Option[String]): Option[String] = s.map(v => "\"" + v + "\"")

  /** The explode cascade and the per-level emission table. */
  private def rows(files: Seq[OdmFile]): Seq[Row] = {
    val out = mutable.ArrayBuffer.empty[Row]
    val studyId = Uuid5.uuid5(Uuid5.NilUuid, Study).toString
    def walk(n: Node, level: Int, file: Option[String], parentId: Option[String],
        parentTx: String): Unit = {
      val own = n.tx.map(_.toLowerCase)
      val eff = own.getOrElse(parentTx)
      val tx = if (level == 3 && eff == "upsert") "insert" else eff
      val id = for (p <- parentId; o <- n.oid) yield Uuid5.uuid5(p, o)
      val entity = Entities(level)
      val cmd: Option[(String, String)] =
        if (level < 5) {
          if (tx == "update") None
          else {
            val verb = tx match {
              case "remove" => "remove"
              case "upsert" if level <= 2 => "upsert"
              case _ => "insert"
            }
            val parentKey = Map(1 -> "study_id", 2 -> "subject_id",
              3 -> "study_event_id", 4 -> "form_id")(level)
            val oidKey = Map(1 -> "subject_key", 2 -> "study_event_oid",
              3 -> "form_oid", 4 -> "item_group_oid")(level)
            Some(s"odm-import/$verb-$entity" ->
              json(parentKey -> q(parentId), oidKey -> q(n.oid)))
          }
        } else {
          val value =
            if (n.intValue) Seq("data_type" -> q(Some("integer")), "value_integer" -> Some("7"))
            else Seq("data_type" -> q(Some("string")), "value_string" -> q(Some("v")))
          tx match {
            case "insert" | "upsert" => Some("odm-import/insert-item" ->
              json(Seq("item_group_id" -> q(parentId), "item_oid" -> q(n.oid)) ++ value: _*))
            case "update" => Some("odm-import/update-item" ->
              json(("item_id" -> q(id)) +: value: _*))
            case "remove" => Some("odm-import/remove-item" ->
              json("item_group_id" -> q(parentId), "item_oid" -> q(n.oid)))
            case _ => None
          }
        }
      out += Row(level, file, id, parentId, tx, cmd, n.ack)
      if (tx != "remove") n.kids.foreach(walk(_, level + 1, file, id, tx))
    }
    files.foreach(f => f.subjects.foreach(walk(_, 1, f.fileOid, Some(studyId), "insert")))
    out.toSeq
  }

  /** The downstream event log the acks in the corpus describe. */
  private def events(rs: Seq[Row]): Seq[(String, String)] =
    rs.filter(r => r.level < 5 && Set("insert", "upsert")(r.tx)).flatMap { r =>
      val entity = Entities(r.level)
      r.cmdId.flatMap(cid => r.ack match {
        case 0 => Some(cid -> s"$entity/created")
        case 1 => Some(cid -> s"$entity/updated")
        case 3 => Some(cid -> s"${Entities(r.level % 4 + 1)}/created")
        case _ => None
      })
    }.distinct

  /** The level-by-level gate rule, run on the model rows. */
  private def expected(rs: Seq[Row], evs: Seq[(String, String)]): Seq[(String, String, String)] = {
    val ev = evs.toSet
    def acked(r: Row): Boolean = r.tx == "update" || (Set("insert", "upsert")(r.tx) &&
      r.cmdId.exists(c => ev(c -> s"${Entities(r.level)}/created") ||
        (r.tx == "upsert" && ev(c -> s"${Entities(r.level)}/updated"))))
    var sent = rs.filter(_.level == 1)
    val all = mutable.ArrayBuffer.from(sent)
    (2 to 5).foreach { level =>
      val ok = sent.filter(acked).flatMap(_.id).toSet
      sent = rs.filter(r => r.level == level && r.parentId.exists(ok))
      all ++= sent
    }
    all.toSeq.flatMap(r => r.cmd.map { case (name, params) =>
      (r.file.map(f => Uuid5.genCmdIdJson(Batch, name, params, f)).orNull, name, params)
    })
  }

  private def gated(files: Seq[OdmFile], evs: Seq[(String, String)]): Seq[(String, String, String)] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gate")
    files.zipWithIndex.foreach { case (f, i) =>
      Files.writeString(dir.resolve(s"f$i.xml"), xml(f)) }
    val path = s"$dir/*.xml"
    try OdmPipeline.gatedCommands(spark, path, Batch, "s", evs.toDF("cid", "name"))
      .select("id", "name", "params_json").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    finally OdmPipeline.exploded(spark, path).unpersist()
  }

  private def key(t: (String, String, String)) = (String.valueOf(t._1), t._2, t._3)

  test("gate parity with the level-by-level rule (×40 random multi-file corpora)") {
    var pruned, rescued = 0
    val prop = forAll(genCorpus) { files =>
      val rs = rows(files)
      val evs = events(rs)
      val want = expected(rs, evs)
      val got = gated(files, evs)
      if (want.size < rs.count(_.cmd.nonEmpty)) pruned += 1
      // an entity with a failed row that another row of it acknowledges
      val byId = rs.filter(r => r.level < 5 && r.id.nonEmpty).groupBy(_.id)
      if (byId.values.exists(g => g.exists(_.tx == "update") &&
          g.exists(r => Set("insert", "upsert")(r.tx) && r.ack >= 2))) rescued += 1
      got.map(key).sorted == want.map(key).sorted
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
    info(s"$pruned corpora pruned commands, $rescued revisited a failed entity by update")
    assert(pruned > 0 && rescued > 0, "the generator stopped exercising the gate")
  }

  test("fixed corpus: update and missing-OID edge cases") {
    val failed = Node(Some("K0"), Some("Insert"), 2,
      Seq(Node(Some("E0"), None, 0, Seq(Node(Some("G0"), None, 0, Nil)))))
    val revisit = Node(Some("K0"), Some("Update"), 2,
      Seq(Node(Some("E1"), Some("Insert"), 0, Seq(Node(Some("G1"), None, 0, Nil)))))
    val noKey = Node(None, Some("Update"), 0,
      Seq(Node(Some("E2"), Some("Insert"), 0, Seq(Node(Some("G2"), None, 0, Nil)))))
    val files = Seq(OdmFile(Some("F0"), Seq(failed)), OdmFile(Some("F1"), Seq(revisit, noKey)))
    val rs = rows(files)
    val evs = events(rs)
    val want = expected(rs, evs)
    // the failed K0 is passed by F1's update: E0 (F0) and E1 (F1) are both
    // sent; the key-less subject's E2 is not, though that subject passes
    // through
    val se = want.filter(_._2.endsWith("study-event")).map(_._3)
    assert(se.exists(_.contains("\"E0\"")) && se.exists(_.contains("\"E1\"")))
    assert(!want.exists(_._3.contains("\"E2\"")))
    assert(gated(files, evs).map(key).sorted === want.map(key).sorted)
  }

  /** `f`'s result, and the queries run (with their QueryExecution) while it ran. */
  private def executions[A](f: => A): (A, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(funcName -> qe); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext, 10000L)
    spark.listenerManager.register(l)
    val out = try {
      val a = f
      org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext, 10000L)
      a
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    (out, seen.asScala.toSeq)
  }

  test("plan shape: gatedCommands materializes exactly once") {
    val (out, runs) = executions(OdmQueries.c02(spark, sf)) // events derive lazily
    assert(runs.map(_._1) === Seq("localCheckpoint"))
    val rdds = out.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.distinct
    assert(rdds.size === 1, out.queryExecution.analyzed.treeString)
    assert(out.count() === 20 - 7) // the c02 gate: SK01's subtree pruned
  }

  test("plan shape: the command-log write has no global sort or range exchange") {
    val dir = Files.createTempDirectory("graft_gate_log").toString
    val writes = executions(OdmIo.writeCommandLog(OdmQueries.c02(spark, sf), dir))._2.map(_._2)
      .filter(_.analyzed.nodeName.startsWith("InsertIntoHadoopFsRelation"))
    assert(writes.size === 1)
    val qe = writes.head
    def globalSorts(p: LogicalPlan) = p.collect { case s: Sort if s.global => s }
    // the write's input does sort globally before optimization
    assert(globalSorts(qe.analyzed).nonEmpty)
    assert(globalSorts(qe.optimizedPlan).isEmpty, qe.optimizedPlan.treeString)
    val exchanges = collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, qe.executedPlan.treeString)
    assert(!exchanges.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      qe.executedPlan.treeString)
    assert(OdmIo.readCommandLog(spark, dir).count() === 20 - 7)
  }
}

object OdmGateSpec {
  val Batch = OdmQueries.BatchCmdId

  /** A tree node. `ack` picks the event its command gets, if it sends
    * one: 0 `<entity>/created`, 1 `<entity>/updated`, 2 none, 3 another
    * entity's `/created`. */
  final case class Node(oid: Option[String], tx: Option[String], ack: Int,
      kids: Seq[Node], intValue: Boolean = false)
  final case class OdmFile(fileOid: Option[String], subjects: Seq[Node])

  /** One exploded row of the model, with the command it emits (if any). */
  final case class Row(level: Int, file: Option[String], id: Option[String],
      parentId: Option[String], tx: String, cmd: Option[(String, String)],
      ack: Int) {
    def cmdId: Option[String] = for (f <- file; (name, params) <- cmd)
      yield Uuid5.genCmdIdJson(Batch, name, params, f)
  }
}
