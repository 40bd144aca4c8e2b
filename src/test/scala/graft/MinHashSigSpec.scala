package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
import graft.functions.{Md5Hi60, MinHashSig}

/** minhash_sig against the higher-order form it replaces —
  * per h, array_min(transform(shs, s -> md5_hi60(concat('h|', s)))),
  * null when the set has no non-null element — on the generated and the
  * interpreted path, plus a real compile of the generated code. */
class MinHashSigSpec extends SparkSuite {

  /** 12 hashes: the prefixes run from "0|" to "11|", so both the one- and
    * the two-digit prefix widths are covered. */
  private val K = 12

  private val reference =
    s"CASE WHEN shs IS NULL OR size(filter(shs, x -> x IS NOT NULL)) = 0 THEN NULL " +
      s"ELSE transform(sequence(0, ${K - 1}), " +
      "h -> array_min(transform(shs, s -> md5_hi60(concat(CAST(h AS STRING), '|', s))))) END"

  /** The edge cases the contract names, then ≥2 k seeded random sets
    * (ASCII and BMP code points of 2- and 3-byte UTF-8, some with null
    * elements, some long enough to outgrow the evaluator's first buffer),
    * in 4 RDD partitions so the projection runs in the executor plan. */
  private def inputs: DataFrame = {
    val rnd = new scala.util.Random(20261020L)
    def randStr(): String = {
      val n = rnd.nextInt(if (rnd.nextInt(50) == 0) 400 else 30)
      rnd.nextInt(3) match {
        case 0 => rnd.alphanumeric.take(n).mkString
        case 1 => Seq.fill(n)((0x20 + rnd.nextInt(0x7e0)).toChar).mkString
        case _ => Seq.fill(n)((0x3040 + rnd.nextInt(0x6000)).toChar).mkString
      }
    }
    val edge: Seq[(Int, Seq[String])] = Seq(
      1 -> Seq("the quick fox", "quick fox jumps", "fox jumps over"),
      2 -> Seq("日本語", "ü ö ä", "😀 emoji"),
      3 -> Seq("one"),
      4 -> Seq(null, "a b c", null),
      5 -> Seq(null),
      6 -> Seq.empty[String],
      7 -> null)
    val random = (8 until 2008).map { id =>
      id -> Seq.fill(rnd.nextInt(20))(if (rnd.nextInt(25) == 0) null else randStr())
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize((edge ++ random).map { case (id, s) => Row(id, s) }, 4),
      StructType(Seq(StructField("id", IntegerType),
        StructField("shs", ArrayType(StringType)))))
  }

  private def compared(df: DataFrame): DataFrame =
    df.select(col("id"), expr(s"minhash_sig(shs, $K)").as("n"), expr(reference).as("r"))

  private def mismatches(df: DataFrame): Long =
    compared(df).filter(!(col("n") <=> col("r").cast("array<bigint>"))).count()

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkEdges(df: DataFrame): Unit = {
    val got = compared(df).filter(col("id") <= 7).collect()
      .map(r => r.getInt(0) -> Option(r.getSeq[Long](1))).toMap
    // ASCII, non-ASCII, one element, nulls skipped: a full signature
    for (id <- 1 to 4) assert(got(id).exists(_.size == K), s"id $id: ${got(id)}")
    // all-null and empty sets, and a null input: null, like array_min
    for (id <- 5 to 7) assert(got(id).isEmpty, s"id $id: ${got(id)}")
    // one element: each hash is that element's own md5_hi60
    val one = got(3).get
    for (h <- 0 until K) assert(one(h) ===
      java.lang.Long.parseLong(md5Hex(s"$h|one").take(15), 16), s"h=$h")
  }

  test("minhash_sig equals the array_min(transform(..)) form on the edge cases and 2 k random sets (codegen)") {
    Md5Hi60.register(spark)
    MinHashSig.register(spark)
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = inputs
      val plan = df.select(expr(s"minhash_sig(shs, $K)")).queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.exists(_.toString.contains("minhash_sig")),
        s"minhash_sig is not inside a whole-stage codegen stage:\n$plan")
      assert(mismatches(df) === 0)
      checkEdges(df)
    }
  }

  test("minhash_sig equals the array_min(transform(..)) form on the interpreted path") {
    Md5Hi60.register(spark)
    MinHashSig.register(spark)
    withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false") {
      val df = inputs
      assert(mismatches(df) === 0)
      checkEdges(df)
    }
  }

  test("minhash_sig generated code compiles and evaluates; k must be a constant") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val proj = GenerateUnsafeProjection.generate(Seq(Alias(MinHashSig(
      BoundReference(0, ArrayType(StringType), nullable = true), Literal(3)), "sig")()))
    val row = proj(InternalRow(new GenericArrayData(
      Array[Any](UTF8String.fromString("日本語"), null, UTF8String.fromString("b")))))
    val sig = row.getArray(0).toLongArray()
    assert(sig.toSeq === (0 until 3).map(h => Seq("日本語", "b")
      .map(s => java.lang.Long.parseLong(md5Hex(s"$h|$s").take(15), 16)).min))
    assert(proj(InternalRow(new GenericArrayData(Array[Any]()))).isNullAt(0))
    assert(proj(InternalRow(null)).isNullAt(0))
    MinHashSig.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT minhash_sig(array('a'), CAST(id AS INT)) FROM range(1)").collect())
    assert(e.getMessage.contains("constant"), e.getMessage)
  }
}
