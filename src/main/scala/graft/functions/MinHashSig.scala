package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** minhash_sig(shs, k): the k-hash MinHash signature of a string set, as
  * ARRAY<BIGINT>. Element h is the minimum over s ∈ shs of
  * md5_hi60(h || '|' || s) — by definition the value of
  * `array_min(transform(shs, s -> md5_hi60(concat('h|', s))))` for each h
  * (MinHashSigSpec pins the equality on both execution paths). Null
  * elements are skipped and a set with no non-null element gives null,
  * like array_min; null in → null out.
  *
  * The higher-order form evaluates k interpreted lambdas per element,
  * each formatting a concat'd string before hashing. This hashes every
  * element's UTF-8 bytes in place: one copy into a per-thread buffer
  * behind a right-aligned "h|" prefix, one MessageDigest update and one
  * digest into a reused 16-byte buffer per hash, folded to 60 bits by
  * [[Md5Hi60Gen.hi60]] — the same fold md5_hi60 uses.
  *
  * `k` must be a constant (the signature width is part of the plan).
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // unannotated: Spark 4 keeps AbstractDataType out of reach of user code
  override def inputTypes = Seq(ArrayType(StringType), IntegerType)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = {
    val typed = super.checkInputDataTypes()
    if (typed.isFailure || right.foldable) typed
    else TypeCheckResult.TypeCheckFailure("minhash_sig's k must be a constant")
  }

  override protected def nullSafeEval(shs: Any, k: Any): Any =
    MinHashSigGen.eval(shs.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  // Static evaluator on a standalone object: see the Janino note in
  // Uuid5Expression.doGenCode. An all-null set yields null, so the
  // generated code reads nullness back from the result.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (shs, k) =>
      s"""${ev.value} = graft.functions.MinHashSigGen.eval($shs, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

/** Static evaluator shared by the interpreted and generated paths. */
object MinHashSigGen {
  /** Bytes reserved in front of each element for its "h|" prefix: an Int
    * has at most 10 digits, plus the bar. */
  private val PrefixRoom = 11

  /** Per task thread: MessageDigest is stateful and not thread-safe. */
  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var buf = new Array[Byte](PrefixRoom + 256)
    /** UTF-8 "h|" for h < prefixes.length, grown to the widest k seen. */
    var prefixes: Array[Array[Byte]] = Array.empty
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  def eval(shs: ArrayData, k: Int): ArrayData = {
    val sc = scratch.get()
    if (sc.prefixes.length < k)
      sc.prefixes = Array.tabulate(k)(h => s"$h|".getBytes("UTF-8"))
    val prefixes = sc.prefixes
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < shs.numElements()) {
      if (!shs.isNullAt(i)) {
        any = true
        val s = shs.getUTF8String(i)
        val n = s.numBytes()
        if (sc.buf.length < PrefixRoom + n) sc.buf = new Array[Byte](2 * (PrefixRoom + n))
        val buf = sc.buf
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + PrefixRoom)
        var h = 0
        while (h < k) {
          val p = prefixes(h)
          val from = PrefixRoom - p.length
          System.arraycopy(p, 0, buf, from, p.length)
          sc.md.update(buf, from, p.length + n)
          sc.md.digest(sc.digest, 0, 16)
          val v = Md5Hi60Gen.hi60(sc.digest)
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }
}

object MinHashSig {
  /** SQL-registry entry point: SELECT minhash_sig(shs, k). Query builders
    * call it before constructing plans that use the function. */
  def register(spark: SparkSession): Unit = RegisterOnce(spark, "minhash_sig") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinHashSig(exprs.head, exprs(1)), "built-in")
  }
}
