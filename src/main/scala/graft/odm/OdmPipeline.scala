package graft.odm

import java.nio.file.{Files, StandardCopyOption}

import graft.functions.Uuid5
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * becomes `gate()` — a left_semi join chain against a success-event table,
  * level by level — so a 100 TB command log replays as joins, not
  * sequential awaits.
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
  lazy val fixturePath: () => String = {
    val in = getClass.getResourceAsStream("/odm/sample_clinical_data.xml")
    val tmp = Files.createTempFile("graft_odm", ".xml")
    Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
    val p = tmp.toString
    () => p
  }

  /** The invalid-values fixture (un-coercible item data), same memoization. */
  lazy val invalidFixturePath: () => String = {
    val in = getClass.getResourceAsStream("/odm/sample_invalid.xml")
    val tmp = Files.createTempFile("graft_odm_invalid", ".xml")
    Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
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
    * Batch path caches every level: the consumers (commandsOf's 7 unioned
    * projections, gatedCommands' join chain) each traverse the whole
    * cascade, so without the cache the XML parse + uuid5 chain re-executes
    * once per projection (~13× for c02). The streaming path
    * (explodedFrom) stays uncached — caching is illegal on streaming DFs
    * and micro-batches are single-pass anyway. */
  def exploded(spark: SparkSession, path: String): ExplodedLevels =
    explodedFrom(readOdm(spark, path), cacheLevels = true)

  /** Same cascade over any (batch OR streaming) DataFrame with the odm
    * top-level schema — the streaming ingest (OdmStreamIngest) feeds
    * from_xml-parsed file contents through here unchanged. */
  def explodedFrom(odmFiles: DataFrame): ExplodedLevels =
    explodedFrom(odmFiles, cacheLevels = false)

  def explodedFrom(odmFiles: DataFrame, cacheLevels: Boolean): ExplodedLevels = {
    graft.functions.Uuid5Expression.register(odmFiles.sparkSession)
    // each level builds on the CACHED parent when cacheLevels is set, so
    // a consumer touching all six levels parses the XML once, not once
    // per downstream projection
    def c(df: DataFrame): DataFrame = if (cacheLevels) df.cache() else df
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

  /** Per-level command projections (R11). `lvls` is any (possibly gated)
    * subset of the exploded levels; emission rules per eff_tx:
    * update emits nothing except at the item leaf; remove emits at its own
    * level only (its subtree never reached the explode outputs). */
  def commandsOf(lvls: ExplodedLevels): DataFrame = {
    def cmd(level: Int, name: Column, params: Column)(df: DataFrame): DataFrame =
      df.select(lit(level).as("level"), name.as("name"),
        to_json(params).as("params_json"), col("file_oid"),
        docPosStr(col("doc_pos")).as("doc_pos"))

    def verb(base: String, withUpsert: Boolean): Column = {
      val v = when(col("tx") === "remove", s"remove-$base")
      val v2 = if (withUpsert) v.when(col("tx") === "upsert", s"upsert-$base") else v
      concat(lit("odm-import/"), v2.otherwise(s"insert-$base"))
    }

    val subjectCmds = lvls.subjects.filter(col("tx") =!= "update")
      .transform(cmd(1, verb("subject", withUpsert = true),
        struct(col("study_id"), col("subject_key"))))
    val studyEventCmds = lvls.studyEvents.filter(col("tx") =!= "update")
      .transform(cmd(2, verb("study-event", withUpsert = true),
        struct(col("subject_id"), col("study_event_oid"))))
    val formCmds = lvls.forms.filter(col("tx") =!= "update")
      .transform(cmd(3, verb("form", withUpsert = false),
        struct(col("study_event_id"), col("form_oid"))))
    val itemGroupCmds = lvls.itemGroups.filter(col("tx") =!= "update")
      .transform(cmd(4, verb("item-group", withUpsert = false),
        struct(col("form_id"), col("item_group_oid"))))

    // the leaf is the one level where update DOES emit (update-item, :111-114)
    val itemValue = Seq(col("data_type"), col("value_string"),
      col("value_integer"), col("value_float"), col("value_datetime"))
    val itemInserts = lvls.items.filter(col("tx").isin("insert", "upsert"))
      .transform(cmd(5, lit("odm-import/insert-item"),
        struct(col("item_group_id") +: col("item_oid") +: itemValue: _*)))
    val itemUpdates = lvls.items.filter(col("tx") === "update")
      .transform(cmd(5, lit("odm-import/update-item"),
        struct(col("item_id") +: itemValue: _*)))
    val itemRemoves = lvls.items.filter(col("tx") === "remove")
      .transform(cmd(5, lit("odm-import/remove-item"),
        struct(col("item_group_id"), col("item_oid"))))

    subjectCmds
      .unionByName(studyEventCmds)
      .unionByName(formCmds)
      .unionByName(itemGroupCmds)
      .unionByName(itemInserts)
      .unionByName(itemUpdates)
      .unionByName(itemRemoves)
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
    commands(spark, path)
      .withColumn("id", graft.functions.Uuid5Expression.genCmdId(spark,
        lit(batchCmdId), col("name"), col("params_json"), col("file_oid")))
      .withColumn("sub", lit(sub))
      .select("id", "name", "sub", "file_oid", "params_json", "level", "doc_pos")

  /** Dependency gating (R15): given the downstream event log
    * (cid, name), reproduce exactly the set of commands the reference
    * would SEND — a child level is reached iff its parent entity either
    * emitted no command (update pass-through, which cascades
    * unconditionally) or its command's correlated event is
    * <level>/created (insert path) or additionally <level>/updated
    * (upsert path). Failed parents prune whole subtrees (test :40-53).
    * Pure left_semi join chain — no sequential awaits.
    */
  def gatedCommands(spark: SparkSession, path: String, batchCmdId: String,
      sub: String, events: DataFrame): DataFrame = {
    val lv = exploded(spark, path)
    val ev = events.select(col("cid"), col("name").as("ev_name"))

    // entities at a level that allow descent into their children
    def descendants(df: DataFrame, entity: String, cmdName: Column, params: Column): DataFrame = {
      val withId = df.withColumn("cmd_id",
        graft.functions.Uuid5Expression.genCmdId(spark,
          lit(batchCmdId), cmdName, to_json(params), col("file_oid")))
      val passThrough = withId.filter(col("tx") === "update")
      val gated = withId.filter(col("tx").isin("insert", "upsert"))
        .join(ev,
          col("cmd_id") === col("cid") &&
            (col("ev_name") === s"$entity/created" ||
              (col("tx") === "upsert" && col("ev_name") === s"$entity/updated")),
          "left_semi")
      passThrough.unionByName(gated)
    }

    // every *Sent level feeds BOTH the next gate and a command projection
    // in commandsOf, and itemsSent's lineage would stack four join+UDF
    // levels — deep enough that Catalyst re-analysis per consumer costs
    // more than the data. localCheckpoint (eager) truncates the lineage at
    // each gate: downstream plans see a flat LogicalRDD, and each gate
    // level executes exactly once. (At scale this trades executor-local
    // storage for not re-running a 5-level join chain 7×.)
    //
    // The chain is 8 eager checkpoints (4 *Ok + 4 *Sent). Each is one
    // Spark job plus one broadcast job for its semi-join's build side:
    // 16 of the 25 jobs of one perfbench odm_import pass (~6 k gated
    // commands, local[4] on a 4-vCPU VM). Two alternatives were measured
    // there, both passing the generator's expectations:
    // - no checkpoints (a lazy chain): odm.log_write 2.3 s → 12.8–14.6 s,
    //   every consumer re-running the join+uuid5 levels;
    // - a flat gate (ancestor ids carried on each level, one checkpointed
    //   ok-id set): pass_s 7.57 s vs 7.61 s, one run each — no gain
    //   for the rewrite.
    // So the chain stays.
    def gate(df: DataFrame): DataFrame = df.localCheckpoint()
    val subjOk = gate(descendants(lv.subjects, "subject",
      concat(lit("odm-import/"), when(col("tx") === "upsert", "upsert-subject")
        .otherwise("insert-subject")),
      struct(col("study_id"), col("subject_key"))))
    val seSent = gate(lv.studyEvents.join(
      subjOk.select(col("subject_id").as("p")), col("subject_id") === col("p"), "left_semi"))
    val seOk = gate(descendants(seSent, "study-event",
      concat(lit("odm-import/"), when(col("tx") === "upsert", "upsert-study-event")
        .otherwise("insert-study-event")),
      struct(col("subject_id"), col("study_event_oid"))))
    val formsSent = gate(lv.forms.join(
      seOk.select(col("study_event_id").as("p")), col("study_event_id") === col("p"), "left_semi"))
    val formsOk = gate(descendants(formsSent, "form", lit("odm-import/insert-form"),
      struct(col("study_event_id"), col("form_oid"))))
    val igSent = gate(lv.itemGroups.join(
      formsOk.select(col("form_id").as("p")), col("form_id") === col("p"), "left_semi"))
    val igOk = gate(descendants(igSent, "item-group", lit("odm-import/insert-item-group"),
      struct(col("form_id"), col("item_group_oid"))))
    val itemsSent = gate(lv.items.join(
      igOk.select(col("item_group_id").as("p")), col("item_group_id") === col("p"), "left_semi"))

    commandsOf(lv.copy(studyEvents = seSent, forms = formsSent,
      itemGroups = igSent, items = itemsSent))
      .withColumn("id", graft.functions.Uuid5Expression.genCmdId(spark,
        lit(batchCmdId), col("name"), col("params_json"), col("file_oid")))
      .withColumn("sub", lit(sub))
      .select("id", "name", "sub", "file_oid", "params_json", "level", "doc_pos")
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

  /** Release the level caches pinned by exploded(cacheLevels = true).
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
    * prune, and level ordering is free at read time. */
  def writeCommandLog(cmds: DataFrame, path: String): Unit =
    cmds.write.mode("overwrite").partitionBy("file_oid", "level").parquet(path)

  def readCommandLog(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
