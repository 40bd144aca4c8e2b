package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** md5_hi60(x): the top 60 bits of MD5(x) as a non-negative BIGINT, i.e.
  * the first 15 hex digits of md5(x) read as a number — by definition the
  * value of Spark's built-in chain md5 → substr(.., 1, 15) → conv(.., 16,
  * 10) → CAST AS BIGINT (Md5Hi60Spec pins the equality). It is the
  * portable hash every seeded sampler, MinHash and Count-Min cell in the
  * repo uses; DuckDB's side of the oracle keeps
  * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`.
  *
  * The built-in chain formats a 32-char hex string, cuts 15 chars,
  * re-formats them as a decimal string and parses that back to a long —
  * several string allocations per row on the hottest text paths (8 hashes
  * per shingle in l02's MinHash). This reads the digest bytes directly:
  * bytes 0–6 plus the high nibble of byte 7, no hex string at all.
  * Every Spark-side use goes through this expression (Md5Hi60Spec's
  * source guard keeps it that way).
  *
  * Input typing mirrors `md5`: BINARY, with strings implicitly cast to
  * their UTF-8 bytes; null in → null out.
  */
case class Md5Hi60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  // unannotated: Spark 4 keeps AbstractDataType out of reach of user code
  override def inputTypes = Seq(BinaryType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_hi60"

  override protected def nullSafeEval(input: Any): Any =
    Md5Hi60Gen.eval(input.asInstanceOf[Array[Byte]])

  // Static evaluator on a standalone object: see the Janino note in
  // Uuid5Expression.doGenCode.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.Md5Hi60Gen.eval($b)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hi60 =
    copy(child = newChild)
}

/** Static evaluator shared by the interpreted and generated paths. */
object Md5Hi60Gen {
  // MessageDigest is stateful and not thread-safe; one per task thread.
  private val md = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  def eval(bytes: Array[Byte]): Long = hi60(md.get().digest(bytes))

  /** The top 60 bits of a 16-byte MD5 digest as a non-negative long. */
  def hi60(d: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xff) >>> 4)
  }
}

object Md5Hi60 {
  /** SQL-registry entry point: SELECT md5_hi60(x). Query builders call it
    * before constructing plans that use the function. */
  def register(spark: SparkSession): Unit = RegisterOnce(spark, "md5_hi60") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_hi60", exprs => Md5Hi60(exprs.head), "built-in")
  }
}
