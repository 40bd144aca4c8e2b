package graft.odm

import java.nio.file.{Files, StandardCopyOption}

import scala.collection.immutable.ListMap

import graft.functions.Uuid5
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference-semantics ODM import pipeline (SURVEY.md §2.3), Spark-first.
  *
  * Reference behavior being reproduced
  * (/root/reference/src/lens/import_clinical_data.clj):
  *  - 6-level tree: file → clinical-data → subject → study-event → form →
  *    item-group → item (:275-286, :265-269, :222-263, :179-220, :150-177,
  *    :121-148, :102-119) — here one generate chain into one cached node
  *    frame: a row per tree node with its `level`, the six entity tables
  *    as views of it.
  *  - tx-type dispatch with parent inheritance, default :insert (:92-100) —
  *    here coalesce(own, parent, 'insert') carried down the explode chain.
  *  - UUIDv5 identity chain (:267,:229,:187,:157,:128,:113) — the
  *    codegen'd uuid5_native Expression (functions/Uuid5Expression.scala).
  *  - per-level command constructors (:24-69); update emits only at the
  *    item leaf (:111-114 vs :139-143,:168-172,:211-215,:254-258); remove
  *    emits and never cascades (:116-119,:145-148,:174-177,:217-220,
  *    :260-263, test :208-219).
  *  - file-oid stamped into every command's params (:271-273) and command
  *    envelope id = gen-cmd-id(batch-id, name, sorted params) (:288-297).
  *
  * Documented deviation: the reference has no :upsert method below the
  * study-event level (:150-177) — a node inheriting :upsert there would
  * throw. Here inherited/explicit upsert below study-event degrades to
  * insert (the relational latest-wins merge makes replays converge anyway,
  * because ids are deterministic).
  *
  * Scale posture: one row per ODM file at the top; every stage is a
  * narrow projection or explode (no shuffle until a sink partitions by
  * file_oid/level). The reference's per-node round-trip gating (R15)
  * becomes `gatedCommands` — one join of all parent rows with the
  * success-event table, closed over the tree into one materialized set
  * of blocked positions that the node frame anti-joins against — so a
  * 100 TB command log replays as joins, not sequential awaits.
  */
object OdmPipeline {

  /** Explicit schema: every level an array (inference would collapse
    * single-child containers into structs). */
  val odmSchema: StructType = {
    val item = StructType(Seq(
      StructField("_ItemOID", StringType),
      StructField("_DataType", StringType),
      StructField("_TransactionType", StringType),
      StructField("_Value", StringType)))
    val itemGroup = StructType(Seq(
      StructField("ItemData", ArrayType(item)),
      StructField("_ItemGroupOID", StringType),
      StructField("_TransactionType", StringType)))
    val form = StructType(Seq(
      StructField("ItemGroupData", ArrayType(itemGroup)),
      StructField("_FormOID", StringType),
      StructField("_TransactionType", StringType)))
    val studyEvent = StructType(Seq(
      StructField("FormData", ArrayType(form)),
      StructField("_StudyEventOID", StringType),
      StructField("_TransactionType", StringType)))
    val subject = StructType(Seq(
      StructField("StudyEventData", ArrayType(studyEvent)),
      StructField("_SubjectKey", StringType),
      StructField("_TransactionType", StringType)))
    val clinicalData = StructType(Seq(
      StructField("SubjectData", ArrayType(subject)),
      StructField("_StudyOID", StringType)))
    StructType(Seq(
      StructField("ClinicalData", ArrayType(clinicalData)),
      StructField("_FileOID", StringType)))
  }

  def readOdm(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml").option("rowTag", "ODM").schema(odmSchema).load(path)

  /** The shipped test fixture (FIXTURES.md §3), materialized from the jar.
    * Memoized: a fresh temp path per call would give every consumer a
    * distinct logical plan, defeating cache sharing across the repeated
    * exploded() calls (c02 explodes for its events and again for its
    * gate, and both must read one cached node frame). */
  lazy val fixturePath: () => String =
    resourceFile("/odm/sample_clinical_data.xml", "graft_odm")

  /** The invalid-values fixture (un-coercible item data), same memoization. */
  lazy val invalidFixturePath: () => String =
    resourceFile("/odm/sample_invalid.xml", "graft_odm_invalid")

  /** Copies a jar resource to a fresh temp file, once; the returned
    * function yields that file's path. */
  private def resourceFile(resource: String, prefix: String): () => String = {
    val tmp = Files.createTempFile(prefix, ".xml")
    Files.copy(getClass.getResourceAsStream(resource), tmp,
      StandardCopyOption.REPLACE_EXISTING)
    val p = tmp.toString
    () => p
  }

  /** Serialize a positional path (array<int>) into a zero-padded
    * dot-joined STRING whose lexicographic order equals the array's
    * lexicographic order (all commands at a level share one path depth,
    * and levels sort first anyway). Downstream consumers — the command
    * log, the driver harness, DuckDB — only ever see scalar columns;
    * the raw array<int> never leaves the exploded levels. 6 digits =
    * up to 1M children per node before padding order breaks. */
  def docPosStr(c: Column): Column =
    array_join(transform(c, i => lpad(i.cast("string"), 6, "0")), ".")

  private def txNorm(c: Column): Column = lower(c)

  /** eff_tx = coalesce(own, parent_eff); 'insert' is the snapshot default
    * at the subject level (reference :97-98). */
  private def effTx(own: Column, parent: Column): Column =
    coalesce(txNorm(own), parent)

  /** Entity-id derivation rides the codegen'd uuid5_native Expression
    * (functions/Uuid5Expression.scala), not a ScalaUDF — the chain runs
    * once per tree node, which at scale is once per item row. Every
    * entry point that builds a plan through here calls
    * `Uuid5Expression.register` on its session first (explodedFrom and
    * splitValidItems do it themselves). */
  private def u5(ns: Column, name: Column): Column =
    graft.functions.Uuid5Expression.uuid5Native(ns, name)

  /** One tree level below the study: its number, the `<entity>` of its
    * verbs and events (the `<entity>/created|updated` event prefix),
    * whether the verb has an upsert form (:139-143, :168-172 vs the
    * form/item-group levels), the parent's id column, its own oid and id
    * columns, the XML attribute of its oid and its children's array field
    * (none at the item leaf). A non-leaf level's command params are
    * (parent id, oid). One table drives the explode, [[commandsOf]] and
    * the gate, so the command a gate acknowledges is the command sent. */
  private final case class Level(level: Int, entity: String,
      withUpsert: Boolean, parentId: String, oid: String, id: String,
      xmlOid: String, kids: Option[String]) {
    def verb: Column = {
      val v = when(col("tx") === "remove", s"remove-$entity")
      val v2 = if (withUpsert) v.when(col("tx") === "upsert", s"upsert-$entity") else v
      concat(lit("odm-import/"), v2.otherwise(s"insert-$entity"))
    }
    def paramsStruct: Column = struct(col(parentId), col(oid))
  }

  private val levels = Seq(
    Level(1, "subject", withUpsert = true, "study_id", "subject_key",
      "subject_id", "_SubjectKey", Some("StudyEventData")),
    Level(2, "study-event", withUpsert = true, "subject_id", "study_event_oid",
      "study_event_id", "_StudyEventOID", Some("FormData")),
    Level(3, "form", withUpsert = false, "study_event_id", "form_oid",
      "form_id", "_FormOID", Some("ItemGroupData")),
    Level(4, "item-group", withUpsert = false, "form_id", "item_group_oid",
      "item_group_id", "_ItemGroupOID", Some("ItemData")),
    Level(5, "item", withUpsert = false, "item_group_id", "item_oid",
      "item_id", "_ItemOID", None))

  /** The four non-leaf levels: the ones whose commands gate children. */
  private val parentLevels = levels.init

  /** Explodes the tree into ONE node frame — the six normalized entity
    * tables of FIXTURES.md §2, stacked: one row per tree node with its
    * `level` (0 study … 5 item), its positional path `doc_pos`, its
    * eff_tx `tx` and every ancestor's oid/id. Children of removed nodes
    * are never descended (R17: remove never cascades). [[ExplodedLevels]]
    * serves each entity table as a view of that frame.
    *
    * A batch input caches the node frame, once: the consumers (the
    * command projection, the gate's scan) read it instead of re-running
    * the XML parse and the uuid5 chain. */
  def exploded(spark: SparkSession, path: String): ExplodedLevels =
    explodedFrom(readOdm(spark, path))

  /** Same explode over any (batch OR streaming) DataFrame with the odm
    * top-level schema — the streaming ingest (OdmStreamIngest) feeds
    * from_xml-parsed file contents through here unchanged. A streaming
    * input stays uncached — caching is illegal on streaming DFs and
    * micro-batches are single-pass anyway.
    *
    * One generate chain: the first step posexplodes the studies, and
    * each further step posexplodes `[self] ++ children` of the rows one
    * level up — a typed null at position 0 keeps every row's own node,
    * positions 1.. are the children. `doc_pos` accumulates the positional
    * path (array<int>, one index per ancestor) — the within-file
    * DOCUMENT order the reference processes nodes in. Array ordering is
    * lexicographic, so sorting by (level, doc_pos) reproduces the
    * reference's emission order even when two sibling commands would tie
    * on (name, params). */
  def explodedFrom(odmFiles: DataFrame): ExplodedLevels = {
    graft.functions.Uuid5Expression.register(odmFiles.sparkSession)
    val studies = odmFiles
      .select(col("_FileOID").as("file_oid"),
        posexplode(col("ClinicalData")).as(Seq("i", "cd")))
      .select(col("file_oid"), lit(0).as("level"), array(col("i")).as("doc_pos"),
        col("cd._StudyOID").as("study_oid"),
        u5(lit(Uuid5.NilUuid.toString), col("cd._StudyOID")).as("study_id"),
        // the snapshot default the subjects inherit (:97-98)
        lit("insert").as("tx"),
        col("cd.SubjectData").as("kids"))
    val nodes = levels.foldLeft(studies)(descend).drop("kids")
    ExplodedLevels(if (odmFiles.isStreaming) nodes else nodes.cache())
  }

  /** One explode step: every row keeps itself, and each row of the level
    * above `lv` that is not removed also yields its children as `lv`
    * rows. A child's own columns read the null struct on a kept row, so
    * they are null there. */
  private def descend(df: DataFrame, lv: Level): DataFrame = {
    val self = array(lit(null).cast(
      df.schema("kids").dataType.asInstanceOf[ArrayType].elementType))
    // a null children array would null the concat and lose the row itself
    val frontier = col("level") === lv.level - 1 && col("tx") =!= "remove" &&
      col("kids").isNotNull
    val child = col("i") > 0
    def c(field: String): Column = col(s"c.$field")
    val tx = effTx(c("_TransactionType"), col("tx"))
    val own = Seq(
      "level" -> when(child, lit(lv.level)).otherwise(col("level")),
      "doc_pos" -> when(child, array_append(col("doc_pos"), col("i") - 1))
        .otherwise(col("doc_pos")),
      lv.oid -> c(lv.xmlOid),
      lv.id -> u5(col(lv.parentId), c(lv.xmlOid)),
      // documented deviation: upsert degrades to insert below study-event
      "tx" -> when(child, if (lv.entity == "form")
        when(tx === "upsert", "insert").otherwise(tx) else tx).otherwise(col("tx"))
    ) ++ lv.kids.fold(itemValues(c))(k => Seq("kids" -> c(k)))
    df.select(col("*"), posexplode(when(frontier, concat(self, col("kids")))
        .otherwise(self)).as(Seq("i", "c")))
      .withColumns(ListMap(own: _*))
      .drop("i", "c")
  }

  /** The item leaf's raw and typed values, the tagged union (§1.5):
    * exactly one typed value column non-null. try_* variants: ANSI mode
    * would abort the whole file on one bad value; null here feeds the R21
    * validation-failed channel instead. */
  private def itemValues(it: String => Column): Seq[(String, Column)] = {
    val (dt, v) = (it("_DataType"), it("_Value"))
    Seq("data_type" -> dt, "value_raw" -> v,
      "value_string" -> when(dt === "string", v),
      "value_integer" -> when(dt === "integer", v.try_cast(LongType)),
      "value_float" -> when(dt === "float", v.try_cast(DoubleType)),
      "value_datetime" -> when(dt === "datetime", try_to_timestamp(v)))
  }

  /** The command each node emits (R11): its `name` and `params_json`,
    * both null where it emits none. One CASE over `level` for all five
    * command levels. Emission rules per eff_tx: update emits nothing
    * except at the item leaf; remove emits at its own level only (its
    * subtree was never exploded); the study level emits nothing.
    *
    * The leaf is the one level where update DOES emit (update-item,
    * :111-114). One branch for all three verbs: to_json drops null
    * fields, so nulling the fields a verb does not carry leaves each
    * verb's params byte-identical to its own struct — insert/upsert
    * (item_group_id, item_oid, value), update (item_id, value), remove
    * (item_group_id, item_oid). Unknown tx strings emit nothing there. */
  private def withCommand(nodes: DataFrame): DataFrame = {
    val update = col("tx") === "update"
    val remove = col("tx") === "remove"
    val itemValue = Seq("data_type", "value_string", "value_integer",
      "value_float", "value_datetime").map(c => when(!remove, col(c)).as(c))
    nodes
      .withColumn("name", byLevel(p => when(!update, p.verb),
        when(col("tx").isin("insert", "upsert", "update", "remove"),
          concat(lit("odm-import/"), when(remove, "remove-item")
            .when(update, "update-item").otherwise("insert-item")))))
      .withColumn("params_json", when(col("name").isNotNull,
        byLevel(p => to_json(p.paramsStruct), to_json(struct(Seq(
          when(!update, col("item_group_id")).as("item_group_id"),
          when(!update, col("item_oid")).as("item_oid"),
          when(update, col("item_id")).as("item_id")) ++ itemValue: _*)))))
  }

  /** CASE over a node's `level`: `parent` of its non-leaf level, `leaf`
    * at the item level, null at the study level. */
  private def byLevel(parent: Level => Column, leaf: Column = lit(null)): Column =
    parentLevels.foldLeft(when(col("level") === 5, leaf)) { (c, p) =>
      c.when(col("level") === p.level, parent(p))
    }

  /** The command stream (R11) of any (possibly gated) node frame, one row
    * per emitted command. */
  def commandsOf(lvls: ExplodedLevels): DataFrame =
    withCommand(lvls.nodes).filter(col("name").isNotNull)
      .select(col("level"), col("name"), col("params_json"), col("file_oid"),
        docPosStr(col("doc_pos")).as("doc_pos"))

  /** Success-path command stream for an ODM file (every parent accepted). */
  def commands(spark: SparkSession, path: String): DataFrame =
    commandsOf(exploded(spark, path))

  /** Envelope (R13): deterministic cmd_id = gen-cmd-id(batchCmdId, name,
    * params ∪ {file-oid}), sub inherited from the batch command —
    * idempotent across replays, key-order free. Ordered by level so the
    * downstream processor sees parents before children (the relational
    * image of the reference's depth-wise await). The id is the native
    * codegen'd gen_cmd_id expression (Uuid5Expression.scala), not a
    * ScalaUDF — the envelope runs once per command at scale. */
  def enveloped(spark: SparkSession, path: String, batchCmdId: String,
      sub: String): DataFrame =
    envelopedUnordered(spark, path, batchCmdId, sub)
      .orderBy("level", "name", "params_json")

  /** [[enveloped]] without the level order — for consumers that impose
    * their own order (or none: the wire producer, where order is the
    * broker's concern and the sort would be planned work for nothing). */
  def envelopedUnordered(spark: SparkSession, path: String, batchCmdId: String,
      sub: String): DataFrame =
    envelope(spark, commands(spark, path), batchCmdId, sub)

  /** The command envelope's columns: the gen-cmd-id `id`, the batch's
    * `sub`, and the 7-column select every envelope consumer reads. */
  private[graft] def envelope(spark: SparkSession, cmds: DataFrame,
      batchCmdId: String, sub: String): DataFrame =
    cmds
      .withColumn("id", graft.functions.Uuid5Expression.genCmdId(spark,
        lit(batchCmdId), col("name"), col("params_json"), col("file_oid")))
      .withColumn("sub", lit(sub))
      .select("id", "name", "sub", "file_oid", "params_json", "level", "doc_pos")

  /** Dependency gating (R15): given the downstream event log
    * (cid, name), reproduce exactly the set of commands the reference
    * would SEND — a child is reached iff its parent entity either emitted
    * no command (update pass-through, which cascades unconditionally) or
    * its command's correlated event is <entity>/created (insert path) or
    * additionally <entity>/updated (upsert path). Failed parents prune
    * whole subtrees (test :40-53); a parent with a null id (missing OID)
    * never passes, so its subtree is pruned even under update.
    *
    * The rule is batch-wide: a parent entity passes if ANY of its rows in
    * the batch does. Every entity id is v5(parent_id, oid), so all rows of
    * one entity share one parent, and the level-by-level rule closes to:
    * a row is sent iff every proper ancestor entity has at least one
    * acknowledged row in the batch. Computed in one pass, no sequential
    * awaits and no level-by-level chain:
    *  1. one scan of the node frame's levels 1–4, each row with its gate
    *     cmd_id — the hash of the command it sends (the shared command
    *     projection);
    *  2. one broadcast left-outer join with the events → `acked`;
    *  3. one max(acked) per entity id; the rows of entities that never
    *     pass become a small set of blocked (file_oid, doc_pos)
    *     positions, materialized once;
    *  4. the node frame drops the rows with a blocked ancestor prefix,
    *     one broadcast anti-join per ancestor depth k on
    *     slice(doc_pos, 1, k), and the command projection runs on what
    *     is left.
    * Positions stand for rows within one file, so this relies on
    * file_oid naming one file of the batch — as the command log's
    * per-file sequencing (CommandApply.sequenced) already does.
    */
  def gatedCommands(spark: SparkSession, path: String, batchCmdId: String,
      sub: String, events: DataFrame): DataFrame = {
    val lv = exploded(spark, path)
    val ev = broadcast(events.select(col("cid"), col("name").as("ev_name")))

    // remove rows are never acknowledged and have no children, so they
    // cannot change any entity's verdict
    val acked = withCommand(lv.nodes)
      .filter(col("level").between(1, 4) && col("tx") =!= "remove")
      .select(col("file_oid"), col("doc_pos"), byLevel(p => col(p.id)).as("eid"),
        col("tx"), byLevel(p => lit(p.entity)).as("entity"),
        when(col("tx").isin("insert", "upsert"),
          graft.functions.Uuid5Expression.genCmdId(spark, lit(batchCmdId),
            col("name"), col("params_json"), col("file_oid"))).as("cmd_id"))
      .join(ev, col("cmd_id") === col("cid") &&
        (col("ev_name") === concat(col("entity"), lit("/created")) ||
          (col("tx") === "upsert" && col("ev_name") === concat(col("entity"), lit("/updated")))),
        "left_outer")
      .select(col("file_oid"), col("doc_pos"), col("eid"),
        (col("tx") === "update" || col("cid").isNotNull).as("acked"))

    // The one materialization. Without it the closed form re-runs the
    // join and the uuid5 chain in every consumer, and pass_s more than
    // doubles (13.0 vs 5.8 s, seed 1, on level caches). It replaced an
    // 8-checkpoint semi-join chain: one perfbench odm_import pass went
    // 25 → 11 jobs and 154 → 51 tasks. Reading the one node frame
    // instead of six level caches then took a traced pass (seed 1,
    // local[4] on a 4-vCPU VM) to 10 jobs and 22 tasks, odm.gate_s
    // 1.35 → 0.76 s and odm.log_write_s 1.85 → 1.14 s.
    val blocked = acked
      .withColumn("ok", col("eid").isNotNull &&
        max(col("acked")).over(Window.partitionBy(col("eid"))))
      .filter(!col("ok"))
      .select(col("file_oid").as("b_file"), col("doc_pos").as("b_pos"))
      .localCheckpoint()

    // a node with doc_pos of length n has ancestor rows at the prefix
    // lengths 2..n-1 (level ≥ 1), never at its own; null file_oids
    // compare equal, like one file
    val sent = (2 to 5).foldLeft(lv.nodes) { (d, k) =>
      d.join(broadcast(blocked), col("file_oid") <=> col("b_file") &&
        size(col("doc_pos")) > k && slice(col("doc_pos"), 1, k) === col("b_pos"),
        "left_anti")
    }
    envelope(spark, commandsOf(ExplodedLevels(sent)), batchCmdId, sub)
      .orderBy("level", "name", "params_json")
  }
}

/** The exploded ODM tree (OdmPipeline.explodedFrom). `nodes` holds one
  * row per tree node; the six entity tables of FIXTURES.md §2 are its
  * per-level views, each with its own columns in a fixed order. */
final case class ExplodedLevels(nodes: DataFrame) {
  private def level(k: Int, cols: String*): DataFrame =
    nodes.filter(col("level") === k).select(cols.map(col): _*)

  lazy val studies: DataFrame = level(0, "file_oid", "doc_pos", "study_oid", "study_id")
  lazy val subjects: DataFrame = level(1, "file_oid", "doc_pos", "study_oid",
    "study_id", "subject_key", "subject_id", "tx")
  lazy val studyEvents: DataFrame = level(2, "file_oid", "doc_pos", "study_id",
    "subject_key", "subject_id", "study_event_oid", "study_event_id", "tx")
  lazy val forms: DataFrame = level(3, "file_oid", "doc_pos", "study_event_oid",
    "study_event_id", "form_oid", "form_id", "tx")
  lazy val itemGroups: DataFrame = level(4, "file_oid", "doc_pos", "form_oid",
    "form_id", "item_group_oid", "item_group_id", "tx")
  lazy val items: DataFrame = level(5, "file_oid", "doc_pos", "item_group_oid",
    "item_group_id", "item_oid", "item_id", "tx", "data_type", "value_raw",
    "value_string", "value_integer", "value_float", "value_datetime")

  /** Release the node cache a batch input pins (see explodedFrom) — the
    * import's only cache.
    * CALLERS OWN THE CACHE LIFECYCLE: the pipeline cannot know when the
    * last consuming action ran, and caches left pinned across many
    * paths accumulate storage memory for the whole session (the harness
    * mains instead sweep with spark.catalog.clearCache() between queries). */
  def unpersist(): Unit = { nodes.unpersist(); () }
}

/** Typed command envelope (FIXTURES.md §2) — the Dataset[T] API boundary. */
final case class OdmCommand(
    id: String, name: String, sub: String, file_oid: String,
    params_json: String, level: Int)

/** Validation + sink surfaces of the ODM layer. */
object OdmIo {
  import org.apache.spark.sql.Dataset
  import org.apache.spark.sql.functions._
  import graft.functions.Uuid5

  def envelopedDs(spark: SparkSession, path: String, batchCmdId: String,
      sub: String): Dataset[OdmCommand] = {
    import spark.implicits._
    OdmPipeline.enveloped(spark, path, batchCmdId, sub).as[OdmCommand]
  }

  /** R21: the validation-failed channel. Items whose typed coercion lost a
    * non-null raw value are rejected as `clinical-data-import/
    * validation-failed` events (id = v5(item_id, event-name), mirroring
    * validation_failed at import_clinical_data.clj:73-81); the reference
    * instead aborts the whole file on first parse error — a side-output
    * quarantine is the batch-native upgrade (R3's reject path).
    *
    * Each reject also carries a requeue flag modeled on the broker's
    * MECHANISM (broker.clj:88-95: a handler exception rejects the
    * delivery, with `:requeue` read from its ex-data — broker.clj:62-63
    * defaults it false). The reference provides that hook but never
    * exercises it — no reference handler throws with {:requeue true} —
    * so the CLASSIFICATION here is this repo's design choice, not
    * reference behavior: a COERCION failure is marked fatal
    * (requeue=false — redelivering unparseable data can never succeed;
    * it fails at command build, import_clinical_data.clj:60-62 `coerce`),
    * while a MISSING PARENT (the id chain broke — the XML lacked an
    * ancestor OID, so the command's dependency key is underivable) is
    * marked retryable (requeue=true — a later import may create the
    * parent). Coercion wins when both hold: it is detected first, at
    * build time, before any handler runs. A
    * missing-parent reject has no derivable entity id (the uuid5 chain is
    * null from the break downward), so its event id is NULL and the
    * dead-letter row carries the natural keys instead. */
  def splitValidItems(items: DataFrame): (DataFrame, DataFrame) = {
    val coerced = coalesce(col("value_string").cast("string"),
      col("value_integer").cast("string"),
      col("value_float").cast("string"),
      col("value_datetime").cast("string"))
    val badCoerce = col("value_raw").isNotNull && coerced.isNull
    val orphan = col("item_group_id").isNull
    val bad = badCoerce || orphan
    val evName = "clinical-data-import/validation-failed"
    graft.functions.Uuid5Expression.register(items.sparkSession)
    val rejects = items.filter(bad).select(
      graft.functions.Uuid5Expression.uuid5Native(
        col("item_id"), lit(evName)).as("id"),
      lit(evName).as("name"),
      col("item_oid"), col("data_type"), col("value_raw"), col("file_oid"),
      when(badCoerce, lit(false)).otherwise(lit(true)).as("requeue"),
      when(badCoerce, lit("coercion")).otherwise(lit("missing-parent"))
        .as("reason"))
    (items.filter(!bad), rejects)
  }

  /** Command-log sink: partitioned by (file_oid, level) so a downstream
    * replay of one file — the reference's unit of work — is a directory
    * prune, and level ordering is free at read time. The hash repartition
    * on the same columns writes one file per directory, and it lets the
    * optimizer drop an ordered input's global sort (and that sort's
    * range-sampling job): the log's order is recovered at read time by
    * CommandApply.sequenced, never taken from the file layout. */
  def writeCommandLog(cmds: DataFrame, path: String): Unit =
    cmds.repartition(col("file_oid"), col("level"))
      .write.mode("overwrite").partitionBy("file_oid", "level").parquet(path)

  def readCommandLog(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
