package graft.odm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Command application: the downstream half of the reference system (its
  * Transaction Processor) expressed relationally — given an ordered
  * command log, materialize the current item state table.
  *
  * Semantics (per entity key = the command's natural key):
  *   insert  → row exists with the inserted value
  *   update  → value replaced (latest wins)
  *   upsert  → insert-or-replace
  *   remove  → row gone
  * Resolution is one latest-wins window over (key) ordered by the log's
  * (file, document position) — O(n log n) per key group, no iterative
  * apply loop. This is the S40 merge that makes the reference's upsert
  * semantics well-defined (SURVEY.md §2.1 quirks), and it is idempotent:
  * replaying the same log yields the same state (cmd ids are
  * deterministic).
  *
  * Scale: the log shuffles once on the entity key; with the command log
  * partitioned by file_oid (OdmIo.writeCommandLog) per-file state rebuilds
  * prune to one directory.
  */
object CommandApply {

  /** Item-level state from a command log (columns: name, params_json,
    * level, file_oid, doc_pos).
    *
    * Each key's commands resolve by (file_oid desc, doc_pos desc). Within
    * a file this is the order of [[sequenced]]'s `seq` on the item level:
    * `seq` numbers a file's rows by (level, doc_pos), and every item's
    * doc_pos has the same depth, so the padded strings compare as the
    * positional paths do. Reading doc_pos, not `seq`, leaves `seq` unread,
    * so the optimizer prunes sequenced's shuffle and window when the state
    * is all that is read.
    *
    * Cross-file determinism: the uuid5 identity chain roots at the study
    * OID, so the same item key CAN span files. doc_pos is per-file, so the
    * resolution window orders by file_oid first — deterministic, and
    * "latest file wins" is lexical by file OID. */
  def itemState(spark: SparkSession, log: DataFrame): DataFrame = {
    requireDocPos(log, "itemState")
    graft.functions.Uuid5Expression.register(spark)
    val items = log.filter(col("level") === 5)
      .withColumn("p", from_json(col("params_json"),
        org.apache.spark.sql.types.StructType.fromDDL(
          """item_group_id STRING, item_oid STRING, item_id STRING,
            |data_type STRING, value_string STRING, value_integer BIGINT,
            |value_float DOUBLE, value_datetime TIMESTAMP""".stripMargin)))
      // update-item params carry item_id only; insert/remove carry the
      // (group, oid) pair from which item_id is derivable — normalize key
      .withColumn("key", coalesce(col("p.item_id"),
        graft.functions.Uuid5Expression.uuid5Native(
          col("p.item_group_id"), col("p.item_oid"))))
    val w = Window.partitionBy("key").orderBy(col("file_oid").desc, col("doc_pos").desc)
    items
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // latest command per item wins
      .filter(!col("name").endsWith("remove-item")) // tombstones drop out
      .select(
        col("key").as("item_id"),
        col("file_oid"),
        col("p.data_type").as("data_type"),
        col("p.value_string").as("value_string"),
        col("p.value_integer").as("value_integer"),
        col("p.value_float").as("value_float"),
        col("p.value_datetime").as("value_datetime"))
  }

  /** Log compaction: the materialized item state re-expressed as a
    * minimal command log (one update-item per live item) that the SAME
    * latest-wins merge accepts. state(compact(log) ∪ tail) == state(log ∪
    * tail) for any strictly-newer tail: the snapshot's file_oid is the
    * empty string, which sorts below every real file in the (file desc,
    * doc_pos desc) resolution, so genuine commands always win over it.
    *
    * This is the checkpoint story for a 100 TB command log: replays
    * against snapshot + tail instead of the full history, and the
    * snapshot is one row per live item (tombstoned items vanish —
    * correct as long as the tail is newer than the compaction point). */
  def compacted(spark: SparkSession, log: DataFrame): DataFrame =
    itemState(spark, log).select(
      lit(5).as("level"),
      lit("odm-import/update-item").as("name"),
      // field names match itemState's from_json schema, so the snapshot
      // round-trips through the identical parse path as real commands
      to_json(struct(col("item_id"), col("data_type"), col("value_string"),
        col("value_integer"), col("value_float"), col("value_datetime"))).as("params_json"),
      lit("").as("file_oid"),
      lit("000000").as("doc_pos"))

  /** Sequence-stamp a level-ordered command stream. Sequenced PER FILE —
    * an unpartitioned window would funnel the whole log through one task;
    * the file is the reference's unit of work, and itemState adds the
    * cross-file ordering component (item keys CAN span files because the
    * uuid5 chain roots at the study OID).
    *
    * Within a file the order is (level, doc_pos): parents before children,
    * then DOCUMENT order (the posexplode position path from OdmPipeline,
    * serialized as a zero-padded string whose lexicographic order equals
    * the positional array's — see OdmPipeline.docPosStr).
    * A (level, name, params_json) lexical order would deviate from the
    * reference for same-item sibling commands — remove-item sorts after
    * insert-item, so a remove followed by a re-insert of the same item
    * would resolve to removed — so a log without doc_pos is rejected. */
  def sequenced(cmds: DataFrame): DataFrame = {
    requireDocPos(cmds, "sequenced")
    cmds.withColumn("seq",
      row_number().over(Window.partitionBy(col("file_oid"))
        .orderBy(col("level"), col("doc_pos"))))
  }

  private def requireDocPos(log: DataFrame, caller: String): Unit =
    require(log.columns.contains("doc_pos"),
      s"CommandApply.$caller needs the doc_pos column (the within-file " +
        s"document order); got columns ${log.columns.mkString(", ")}")
}
