package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.udf

/** RFC 4122 §4.3 name-based UUIDs (version 5, SHA-1).
  *
  * Reproduces the reference's identity scheme
  * (/root/reference/src/lens/import_clinical_data.clj:267,229,187,157,128,113
  * and /root/reference/src/lens/util.clj:32-43): every node id is
  * v5(parentId, businessKey); command ids hash a *sequence* of parts by
  * concatenating each part's UTF-8 bytes (keywords keep their leading colon,
  * e.g. ":odm-import/insert-subject"). Golden vector:
  * gen-cmd-id test (/root/reference/test/lens/import_clinical_data_test.clj:261-267).
  *
  * Pure + deterministic, so the Spark UDF stays deterministic (safe for
  * partial aggregation pushes and re-execution on task retry).
  */
object Uuid5 {
  val NilUuid: UUID = new UUID(0L, 0L)

  private def bytes(u: UUID): Array[Byte] =
    ByteBuffer.allocate(16)
      .putLong(u.getMostSignificantBits)
      .putLong(u.getLeastSignificantBits)
      .array()

  /** A SHA-1 digest already fed the namespace's 16 bytes. */
  private def digestOf(namespace: UUID): MessageDigest = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update(bytes(namespace))
    md
  }

  /** The v5 UUID of everything fed to `md`: its first 16 digest bytes
    * with the version and variant bits set. */
  private def finish(md: MessageDigest): UUID = {
    val h = md.digest()
    h(6) = ((h(6) & 0x0f) | 0x50).toByte // version 5
    h(8) = ((h(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    val bb = ByteBuffer.wrap(h, 0, 16)
    new UUID(bb.getLong, bb.getLong)
  }

  /** v5 over raw name bytes. */
  def uuid5(namespace: UUID, name: Array[Byte]): UUID = {
    val md = digestOf(namespace)
    md.update(name)
    finish(md)
  }

  def uuid5(namespace: UUID, name: String): UUID = uuid5(namespace, name.getBytes(UTF_8))

  def uuid5(namespace: String, name: String): String =
    uuid5(UUID.fromString(namespace), name).toString

  /** Sequence hashing: concatenated UTF-8 byte arrays of each part
    * (reference util.clj:38-43 Seqable extension). */
  def uuid5Seq(namespace: UUID, parts: Seq[String]): UUID = {
    val md = digestOf(namespace)
    parts.foreach(p => md.update(p.getBytes(UTF_8)))
    finish(md)
  }

  /** Sequence hashing over pre-encoded parts (UUIDs contribute their 16
    * raw bytes, exactly like clj-uuid's UUIDNameBytes). */
  def uuid5Parts(namespace: UUID, parts: Seq[Array[Byte]]): UUID = {
    val md = digestOf(namespace)
    parts.foreach(md.update)
    finish(md)
  }

  /** The params that carry uuid5 node ids in the command pipeline
    * (kebab keyword form). ONLY these hash as 16 raw UUID bytes — the
    * reference's params are typed (a java.util.UUID hashes via
    * UUIDNameBytes, a string via its UTF-8 bytes), so the decision must
    * be by key, not value shape: a value_string whose content happens to
    * be UUID-shaped is still a plain string to the reference. */
  private val UuidKeys = Set(
    "study-id", "subject-id", "study-event-id", "form-id",
    "item-group-id", "item-id")

  private val UuidRe =
    "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$".r

  /** Command-envelope id over a flat JSON params object (the Spark-side
    * image of gen-cmd-id): keys go snake→kebab keyword form (":study-id"),
    * the typed value_* union collapses to ":value", the known id params
    * (UuidKeys) hash as 16 raw bytes, the data-type value hashes as a
    * keyword (":string"). Sorted by keyword key, name first —
    * byte-identical to the reference for string/uuid params
    * (golden: test :261-267).
    */
  // shared, thread-safe for reads — building one per row would dominate
  // the envelope stage at scale
  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def genCmdIdJson(batchCmdId: String, name: String, paramsJson: String,
      fileOid: String): String = {
    val node = mapper.readTree(paramsJson)
    val kvs = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      if (!e.getValue.isNull) {
        val rawKey = e.getKey
        val key = if (rawKey.startsWith("value_")) "value"
          else rawKey.replace('_', '-')
        val v = e.getValue.asText()
        val vb =
          if (key == "data-type") (":" + v).getBytes(UTF_8)
          else if (UuidKeys.contains(key) && UuidRe.matches(v)) bytes(UUID.fromString(v))
          else v.getBytes(UTF_8)
        kvs += ((":" + key) -> vb)
      }
    }
    kvs += (":file-oid" -> fileOid.getBytes(UTF_8))
    val parts = (":" + name).getBytes(UTF_8) +:
      kvs.sortBy(_._1).flatMap { case (k, vb) => Seq(k.getBytes(UTF_8), vb) }.toSeq
    uuid5Parts(UUID.fromString(batchCmdId), parts).toString
  }

  /** Reference gen-cmd-id (import_clinical_data.clj:288-289):
    * v5(batchCmdId, name :: flatten(sortBy(key, params))) — key-order
    * independent because params are sorted by key before hashing.
    * Keys/name are keyword-shaped strings WITH the leading colon.
    */
  def genCmdId(batchCmdId: UUID, name: String, params: Seq[(String, String)]): UUID =
    uuid5Seq(batchCmdId, name +: params.sortBy(_._1).flatMap { case (k, v) => Seq(k, v) })

  /** Column API: uuid5(namespaceUuidString, name) → canonical lowercase string. */
  val uuid5Udf = udf((ns: String, name: String) =>
    if (ns == null || name == null) null else uuid5(ns, name))

  def register(spark: SparkSession): Unit = RegisterOnce(spark, "uuid5") {
    spark.udf.register("uuid5", (ns: String, name: String) =>
      if (ns == null || name == null) null else uuid5(ns, name))
  }
}
