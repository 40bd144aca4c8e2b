package graft.streaming

import graft.odm.OdmPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ODM ingest: the reference's AMQP-driven one-file-at-a-time
  * loop (R1/R5/R6) as a Structured Streaming file source — new ODM files
  * landing in a directory become command-stream micro-batches through
  * exactly the batch pipeline (OdmPipeline.explodedFrom is source-
  * agnostic; every stage is stateless, so the stream needs no watermark
  * and restarts exactly-once from the file-source checkpoint).
  *
  * At scale this replaces the reference's qos=1 single-consumer queue
  * with parallel file discovery: maxFilesPerTrigger bounds a micro-batch,
  * and each file's subtree is independent work.
  */
object OdmStreamIngest {

  /** Commands from every *.xml that lands under `dir` (streaming DF). */
  def commandStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.xml")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .load(dir)
    val parsed = raw.select(
      from_xml(col("content").cast("string"), OdmPipeline.odmSchema).as("odm"))
      .select(col("odm.*"))
    OdmPipeline.commandsOf(OdmPipeline.explodedFrom(parsed))
  }

  /** The BUS-SHAPED command topic (R13 envelope + R19 topic routing) on
    * the stream: what the reference publishes to the `lens-sds.commands`
    * exchange, as a Structured Streaming frame. Each micro-batch carries
    * the enveloped commands of newly-landed files — id is the same
    * deterministic gen-cmd-id as the batch path (replay-idempotent), and
    * `routing_key` is the reference's `ns.name` key (broker.clj:183
    * event-routing-key / :121-131 topic exchange): the keyword
    * `:odm-import/insert-subject` routes as "odm-import.insert-subject".
    * At scale the writeStream target is a Kafka topic keyed by
    * routing_key; OdmStreamIngestSpec proves the accumulated emission
    * equals the c01 golden stream exactly. No orderBy here — global sort
    * is not append-stream-legal; consumers order by (level, doc_pos) at
    * read, as the command log sink does. */
  def commandTopicStream(spark: SparkSession, dir: String, batchCmdId: String,
      sub: String): DataFrame =
    commandStream(spark, dir)
      .withColumn("id", graft.functions.Uuid5Expression.genCmdId(spark,
        lit(batchCmdId), col("name"), col("params_json"), col("file_oid")))
      .withColumn("sub", lit(sub))
      .withColumn("routing_key", regexp_replace(col("name"), "/", "."))
      .select("id", "name", "sub", "file_oid", "params_json", "level",
        "doc_pos", "routing_key")

  // ---- streaming dependency gate (R15, stream-native) -------------------

  final case class GateEvent(parent_id: String, kind: String, child_id: String)
  final case class GatedChild(parent_id: String, child_id: String, status: String)

  /** The reference's parent→child dependency gate as STATEFUL streaming:
    * in the batch pipeline R15 is one join against the event log closed
    * over the tree (OdmPipeline.gatedCommands: children kept only when
    * every ancestor's command succeeded), which works because batch
    * sees the whole level before gating. On a live command stream a child
    * can arrive BEFORE its parent's success event, so the gate needs an
    * ORPHAN BUFFER: children of an unresolved parent wait in keyed state;
    * the parent's `parent_ok` releases them, `parent_fail` prunes them
    * (surfaced with status="pruned", the c03 quarantine posture, never
    * silently dropped mid-stream). Arrival order within a micro-batch is
    * applied as delivered, matching the reference's sequential consumer.
    *
    * Scale shape: state is one Int + the pending child ids per PARENT key,
    * sharded by the state store across executors; a parent that never
    * resolves holds only its own subtree (bounded by fan-out, evictable
    * via a state TTL when the command stream has a staleness contract).
    * Statuses: direct (parent already ok), released (waited in the
    * buffer), pruned (parent failed). */
  class OrphanGateProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, GateEvent, GatedChild] {
    import org.apache.spark.sql.{Encoders, streaming}
    import streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var parentStatus: ValueState[Int] = _ // 1 ok, 2 fail
    @transient private var pending: ListState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      parentStatus = getHandle.getValueState[Int]("status",
        Encoders.scalaInt, TTLConfig.NONE)
      pending = getHandle.getListState[String]("pending",
        Encoders.STRING, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[GateEvent],
        timers: TimerValues): Iterator[GatedChild] = {
      val out = Seq.newBuilder[GatedChild]
      var status = if (parentStatus.exists()) parentStatus.get() else 0
      rows.foreach { ev =>
        ev.kind match {
          case "parent_ok" | "parent_fail" =>
            // a parent resolves exactly once upstream; a duplicate
            // delivery re-resolves to the same state, releasing nothing
            // (the buffer is already empty)
            status = if (ev.kind == "parent_ok") 1 else 2
            val verdict = if (status == 1) "released" else "pruned"
            pending.get().foreach(c => out += GatedChild(key, c, verdict))
            pending.clear()
          case _ =>
            status match {
              case 1 => out += GatedChild(key, ev.child_id, "direct")
              case 2 => out += GatedChild(key, ev.child_id, "pruned")
              case _ => pending.appendValue(ev.child_id)
            }
        }
      }
      parentStatus.update(status)
      out.result().iterator
    }
  }

  /** transformWithState wiring for [[OrphanGateProcessor]] — feed it the
    * merged (parent-resolution ∪ child-command) stream. */
  def gatedChildren(events: org.apache.spark.sql.Dataset[GateEvent])
      : org.apache.spark.sql.Dataset[GatedChild] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.parent_id)
      .transformWithState(new OrphanGateProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
