package graft.odm

import java.nio.file.{Files, StandardCopyOption}

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
  *    :121-148, :102-119) — here a 6-level explode cascade.
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
  * of blocked positions that every level anti-joins against — so a
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
    * exploded() traversals (c01/c02 each walk the cascade many times). */
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

  /** Explodes the tree into the six normalized entity tables
    * (FIXTURES.md §2) joined flat: one row per item plus carrying every
    * ancestor's id/oid/eff_tx. Children of removed nodes are pruned at each
    * level (R17: remove never cascades).
    *
    * A batch input caches every level: the consumers (commandsOf's 5
    * unioned projections, gatedCommands' gate union) each traverse the
    * whole cascade, so without the cache the XML parse + uuid5 chain
    * re-executes once per projection. */
  def exploded(spark: SparkSession, path: String): ExplodedLevels =
    explodedFrom(readOdm(spark, path))

  /** Same cascade over any (batch OR streaming) DataFrame with the odm
    * top-level schema — the streaming ingest (OdmStreamIngest) feeds
    * from_xml-parsed file contents through here unchanged. A streaming
    * input stays uncached — caching is illegal on streaming DFs and
    * micro-batches are single-pass anyway. */
  def explodedFrom(odmFiles: DataFrame): ExplodedLevels = {
    graft.functions.Uuid5Expression.register(odmFiles.sparkSession)
    // each level of a batch input builds on the CACHED parent, so a
    // consumer touching all six levels parses the XML once, not once
    // per downstream projection
    def c(df: DataFrame): DataFrame = if (odmFiles.isStreaming) df else df.cache()
    // posexplode at every level: `doc_pos` accumulates the positional path
    // (array<int>, one index per ancestor) — the within-file DOCUMENT order
    // the reference processes nodes in. Array ordering is lexicographic, so
    // sorting by (level, doc_pos) reproduces the reference's emission order
    // even when two sibling commands would tie on (name, params).
    val files = c(odmFiles
      .select(col("_FileOID").as("file_oid"),
        posexplode(col("ClinicalData")).as(Seq("cd_i", "cd"))))

    val studies = c(files.select(
      col("file_oid"),
      array(col("cd_i")).as("doc_pos"),
      col("cd._StudyOID").as("study_oid"),
      u5(lit(Uuid5.NilUuid.toString), col("cd._StudyOID")).as("study_id"),
      col("cd.SubjectData").as("subjects")))

    val subjects = c(studies
      .select(col("file_oid"), col("doc_pos"), col("study_oid"), col("study_id"),
        posexplode(col("subjects")).as(Seq("i", "s")))
      .select(
        col("file_oid"), array_append(col("doc_pos"), col("i")).as("doc_pos"),
        col("study_oid"), col("study_id"),
        col("s._SubjectKey").as("subject_key"),
        u5(col("study_id"), col("s._SubjectKey")).as("subject_id"),
        effTx(col("s._TransactionType"), lit("insert")).as("tx"),
        col("s.StudyEventData").as("study_events")))

    val studyEvents = c(subjects
      .filter(col("tx") =!= "remove")
      .select(col("file_oid"), col("doc_pos"), col("study_id"), col("subject_key"),
        col("subject_id"), col("tx").as("parent_tx"),
        posexplode(col("study_events")).as(Seq("i", "se")))
      .select(
        col("file_oid"), array_append(col("doc_pos"), col("i")).as("doc_pos"),
        col("study_id"), col("subject_key"), col("subject_id"),
        col("se._StudyEventOID").as("study_event_oid"),
        u5(col("subject_id"), col("se._StudyEventOID")).as("study_event_id"),
        effTx(col("se._TransactionType"), col("parent_tx")).as("tx"),
        col("se.FormData").as("forms")))

    val forms = c(studyEvents
      .filter(col("tx") =!= "remove")
      .select(col("file_oid"), col("doc_pos"), col("study_event_oid"), col("study_event_id"),
        col("tx").as("parent_tx"), posexplode(col("forms")).as(Seq("i", "f")))
      .select(
        col("file_oid"), array_append(col("doc_pos"), col("i")).as("doc_pos"),
        col("study_event_oid"), col("study_event_id"),
        col("f._FormOID").as("form_oid"),
        u5(col("study_event_id"), col("f._FormOID")).as("form_id"),
        // documented deviation: upsert degrades to insert below study-event
        when(effTx(col("f._TransactionType"), col("parent_tx")) === "upsert", "insert")
          .otherwise(effTx(col("f._TransactionType"), col("parent_tx"))).as("tx"),
        col("f.ItemGroupData").as("item_groups")))

    val itemGroups = c(forms
      .filter(col("tx") =!= "remove")
      .select(col("file_oid"), col("doc_pos"), col("form_oid"), col("form_id"),
        col("tx").as("parent_tx"), posexplode(col("item_groups")).as(Seq("i", "ig")))
      .select(
        col("file_oid"), array_append(col("doc_pos"), col("i")).as("doc_pos"),
        col("form_oid"), col("form_id"),
        col("ig._ItemGroupOID").as("item_group_oid"),
        u5(col("form_id"), col("ig._ItemGroupOID")).as("item_group_id"),
        effTx(col("ig._TransactionType"), col("parent_tx")).as("tx"),
        col("ig.ItemData").as("items")))

    val items = c(itemGroups
      .filter(col("tx") =!= "remove")
      .select(col("file_oid"), col("doc_pos"), col("item_group_oid"), col("item_group_id"),
        col("tx").as("parent_tx"), posexplode(col("items")).as(Seq("i", "it")))
      .select(
        col("file_oid"), array_append(col("doc_pos"), col("i")).as("doc_pos"),
        col("item_group_oid"), col("item_group_id"),
        col("it._ItemOID").as("item_oid"),
        u5(col("item_group_id"), col("it._ItemOID")).as("item_id"),
        effTx(col("it._TransactionType"), col("parent_tx")).as("tx"),
        col("it._DataType").as("data_type"),
        col("it._Value").as("value_raw"),
        // the tagged union (§1.5): exactly one typed value column non-null.
        // try_* variants: ANSI mode would abort the whole file on one bad
        // value; null here feeds the R21 validation-failed channel instead.
        when(col("it._DataType") === "string", col("it._Value")).as("value_string"),
        when(col("it._DataType") === "integer", expr("try_cast(it._Value AS BIGINT)")).as("value_integer"),
        when(col("it._DataType") === "float", expr("try_cast(it._Value AS DOUBLE)")).as("value_float"),
        when(col("it._DataType") === "datetime", try_to_timestamp(col("it._Value"))).as("value_datetime")))

    ExplodedLevels(studies.drop("subjects"), subjects.drop("study_events"),
      studyEvents.drop("forms"), forms.drop("item_groups"),
      itemGroups.drop("items"), items)
  }

  /** The four non-leaf levels' command shapes: level number, entity name
    * (the `<entity>/created|updated` event prefix), whether the verb has
    * an upsert form (:139-143, :168-172 vs the form/item-group levels),
    * the entity-id column and the params fields. Shared by [[commandsOf]]
    * and the gate, so the command a gate acknowledges is the command sent. */
  private final case class ParentLevel(level: Int, entity: String,
      withUpsert: Boolean, id: String, params: Seq[String],
      frame: ExplodedLevels => DataFrame) {
    def verb: Column = {
      val v = when(col("tx") === "remove", s"remove-$entity")
      val v2 = if (withUpsert) v.when(col("tx") === "upsert", s"upsert-$entity") else v
      concat(lit("odm-import/"), v2.otherwise(s"insert-$entity"))
    }
    def paramsStruct: Column = struct(params.map(col): _*)
  }

  private val parentLevels = Seq(
    ParentLevel(1, "subject", withUpsert = true, "subject_id",
      Seq("study_id", "subject_key"), _.subjects),
    ParentLevel(2, "study-event", withUpsert = true, "study_event_id",
      Seq("subject_id", "study_event_oid"), _.studyEvents),
    ParentLevel(3, "form", withUpsert = false, "form_id",
      Seq("study_event_id", "form_oid"), _.forms),
    ParentLevel(4, "item-group", withUpsert = false, "item_group_id",
      Seq("form_id", "item_group_oid"), _.itemGroups))

  /** Per-level command projections (R11). `lvls` is any (possibly gated)
    * subset of the exploded levels; emission rules per eff_tx:
    * update emits nothing except at the item leaf; remove emits at its own
    * level only (its subtree never reached the explode outputs). */
  def commandsOf(lvls: ExplodedLevels): DataFrame = {
    def cmd(level: Int, name: Column, params: Column)(df: DataFrame): DataFrame =
      df.select(lit(level).as("level"), name.as("name"),
        to_json(params).as("params_json"), col("file_oid"),
        docPosStr(col("doc_pos")).as("doc_pos"))

    val parentCmds = parentLevels.map(p =>
      p.frame(lvls).filter(col("tx") =!= "update")
        .transform(cmd(p.level, p.verb, p.paramsStruct)))

    // the leaf is the one level where update DOES emit (update-item,
    // :111-114). One branch for all three verbs: to_json drops null
    // fields, so nulling the fields a verb does not carry leaves each
    // verb's params byte-identical to its own struct — insert/upsert
    // (item_group_id, item_oid, value), update (item_id, value), remove
    // (item_group_id, item_oid). Unknown tx strings emit nothing here.
    val update = col("tx") === "update"
    val remove = col("tx") === "remove"
    val itemValue = Seq("data_type", "value_string", "value_integer",
      "value_float", "value_datetime").map(c => when(!remove, col(c)).as(c))
    val itemCmds = lvls.items.filter(col("tx").isin("insert", "upsert", "update", "remove"))
      .transform(cmd(5,
        concat(lit("odm-import/"), when(remove, "remove-item")
          .when(update, "update-item").otherwise("insert-item")),
        struct(Seq(when(!update, col("item_group_id")).as("item_group_id"),
          when(!update, col("item_oid")).as("item_oid"),
          when(update, col("item_id")).as("item_id")) ++ itemValue: _*)))

    (parentCmds :+ itemCmds).reduce(_ unionByName _)
  }

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
    *  1. one union of the levels 1–4 rows, each with its gate cmd_id;
    *  2. one broadcast left-outer join with the events → `acked`;
    *  3. one max(acked) per entity id; the rows of entities that never
    *     pass become a small set of blocked (file_oid, doc_pos)
    *     positions, materialized once;
    *  4. every level drops the rows with a blocked ancestor prefix,
    *     one broadcast anti-join per ancestor depth on
    *     slice(doc_pos, 1, k).
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
    val gateRows = parentLevels.map { p =>
      p.frame(lv).filter(col("tx") =!= "remove").select(
        col("file_oid"), col("doc_pos"), col(p.id).as("eid"), col("tx"),
        lit(p.entity).as("entity"),
        when(col("tx").isin("insert", "upsert"),
          graft.functions.Uuid5Expression.genCmdId(spark, lit(batchCmdId),
            p.verb, to_json(p.paramsStruct), col("file_oid"))).as("cmd_id"))
    }.reduce(_ unionByName _)
    val acked = gateRows
      .join(ev, col("cmd_id") === col("cid") &&
        (col("ev_name") === concat(col("entity"), lit("/created")) ||
          (col("tx") === "upsert" && col("ev_name") === concat(col("entity"), lit("/updated")))),
        "left_outer")
      .select(col("file_oid"), col("doc_pos"), col("eid"),
        (col("tx") === "update" || col("cid").isNotNull).as("acked"))

    // The one materialization. The 8-checkpoint chain it replaces (4 *Ok
    // + 4 *Sent levels, each an eager localCheckpoint plus a broadcast
    // job for its semi-join) was 16 of the 25 Spark jobs of one perfbench
    // odm_import pass; a lazy version of that chain re-ran its join+uuid5
    // levels in every consumer (odm.log_write 2.3 → 12.8–14.6 s), and the
    // closed form without this checkpoint more than doubles pass_s (13.0
    // vs 5.8 s, seed 1). Against the chain, one traced pass (seed 1,
    // local[4] on a 4-vCPU VM): 25 → 11 jobs, 154 → 51 tasks,
    // odm.gate_s 3.26 → 1.45 s, odm.log_write_s 2.91 → 1.96 s.
    val blocked = acked
      .withColumn("ok", col("eid").isNotNull &&
        max(col("acked")).over(Window.partitionBy(col("eid"))))
      .filter(!col("ok"))
      .select(col("file_oid").as("b_file"), col("doc_pos").as("b_pos"))
      .localCheckpoint()

    // a level-L row (doc_pos of length L + 1) has ancestor rows at the
    // prefix lengths 2..L; null file_oids compare equal, like one file
    def sent(df: DataFrame, level: Int): DataFrame =
      (2 to level).foldLeft(df) { (d, k) =>
        d.join(broadcast(blocked), col("file_oid") <=> col("b_file") &&
          slice(col("doc_pos"), 1, k) === col("b_pos"), "left_anti")
      }

    envelope(spark, commandsOf(lv.copy(studyEvents = sent(lv.studyEvents, 2),
      forms = sent(lv.forms, 3), itemGroups = sent(lv.itemGroups, 4),
      items = sent(lv.items, 5))), batchCmdId, sub)
      .orderBy("level", "name", "params_json")
  }
}

final case class ExplodedLevels(
    studies: DataFrame,
    subjects: DataFrame,
    studyEvents: DataFrame,
    forms: DataFrame,
    itemGroups: DataFrame,
    items: DataFrame) {

  /** Release the level caches a batch input pins (see explodedFrom).
    * CALLERS OWN THE CACHE LIFECYCLE: the pipeline cannot know when the
    * last consuming action ran, and cached levels left pinned across many
    * paths accumulate storage memory for the whole session (the harness
    * mains instead sweep with spark.catalog.clearCache() between queries). */
  def unpersist(): Unit =
    Seq(studies, subjects, studyEvents, forms, itemGroups, items)
      .foreach(df => df.unpersist())
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
