package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.Md5Hi60

/** md5_hi60 against the md5 → substr(1, 15) → conv(16, 10) → BIGINT
  * chain it replaces: value parity on both execution paths, a real
  * compile of the generated code, l02's plan free of the chain, and a
  * source guard that keeps the chain out of src/main. */
class Md5Hi60Spec extends SparkSuite {

  private val chain = "CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)"

  /** ≥10 k seeded random strings (ASCII, and BMP code points that
    * encode to 2- and 3-byte UTF-8) plus the edge cases, in 4 RDD
    * partitions — an RDD source, so the projection runs in the executor
    * plan rather than being folded into a driver-side LocalRelation. */
  private def inputs: DataFrame = {
    val rnd = new scala.util.Random(20261017L)
    def randStr(): String = {
      val n = rnd.nextInt(40)
      rnd.nextInt(3) match {
        case 0 => rnd.alphanumeric.take(n).mkString
        case 1 => Seq.fill(n)((0x20 + rnd.nextInt(0x7e0)).toChar).mkString
        case _ => Seq.fill(n)((0x3040 + rnd.nextInt(0x6000)).toChar).mkString
      }
    }
    val edge = Seq("", "a", "ü", "日本語", "😀 emoji", "0|the quick fox", null)
    val rows = (edge ++ Seq.fill(10000)(randStr())).map(Row(_))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("s", StringType))))
  }

  private def mismatches(df: DataFrame): Long =
    df.select(expr("md5_hi60(s)").as("n"), expr(chain).as("c"),
        expr(s"md5_hi60(CAST(s AS BINARY)) <=> $chain").as("bin_ok"))
      .filter(!(col("n") <=> col("c")) || !col("bin_ok"))
      .count()

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("md5_hi60 equals the chain on 10 k random strings, empty, multi-byte UTF-8 and null (codegen)") {
    Md5Hi60.register(spark)
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = inputs
      val plan = df.select(expr("md5_hi60(s)")).queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.exists(_.toString.contains("md5_hi60")),
        s"md5_hi60 is not inside a whole-stage codegen stage:\n$plan")
      assert(mismatches(df) === 0)
    }
    val r = spark.sql("SELECT md5_hi60(CAST(NULL AS STRING)), md5_hi60('')").head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) === java.lang.Long.parseLong(md5Hex("").take(15), 16))
  }

  test("md5_hi60 equals the chain on the interpreted path, including inside transform lambdas") {
    Md5Hi60.register(spark)
    withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false") {
      val df = inputs
      assert(mismatches(df) === 0)
      // higher-order lambdas evaluate interpreted whatever the factory mode
      val arr = df.filter(col("s").isNotNull)
        .select(expr("transform(array(s, concat('1|', s)), x -> md5_hi60(x))").as("n"),
          expr("transform(array(s, concat('1|', s)), " +
            "x -> CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT))").as("c"))
      assert(arr.filter(col("n") =!= col("c")).count() === 0)
    }
  }

  test("md5_hi60 generated code compiles and evaluates") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.BinaryType
    val proj = GenerateUnsafeProjection.generate(Seq(
      Alias(Md5Hi60(BoundReference(0, BinaryType, nullable = true)), "h")()))
    for (s <- Seq("", "hello", "日本語")) {
      val row = proj(InternalRow(s.getBytes("UTF-8")))
      assert(row.getLong(0) === java.lang.Long.parseLong(md5Hex(s).take(15), 16), s)
    }
    assert(proj(InternalRow(null)).isNullAt(0))
  }

  test("l02's physical plan carries no conv( or md5( — the MinHash runs md5_hi60") {
    // the MinHash is minhash_sig, which folds each digest with
    // md5_hi60's own fold (MinHashSigSpec pins the values)
    val plan = llm.Llm.pairSpineForPlan(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("minhash_sig("), plan)
    assert(!plan.contains("conv("), plan)
    assert(!plan.contains("md5("), plan)
  }

  test("src/main/scala holds no copy of the 15-hex-digit md5 chain") {
    val chainRe = ("""substr\s*\(\s*md5\s*\([\s\S]{0,200}?""" +
      """1\s*,\s*15\s*\)\s*,\s*16\s*,\s*10\s*\)""").r
    // the guard itself must fire on the chain and spare the forms that stay
    assert(chainRe.findFirstIn(chain).nonEmpty)
    assert(chainRe.findFirstIn("CAST(conv(substr(md5(t), 1, 6), 16, 10) AS BIGINT)").isEmpty)
    assert(chainRe.findFirstIn("CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)").isEmpty)
    val root = Iterator.iterate(new java.io.File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .map(d => new java.io.File(d, "src/main/scala"))
      .find(_.isDirectory)
      .getOrElse(fail("src/main/scala not found above the working directory"))
    val sources = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val hits = sources.flatMap { p =>
      chainRe.findFirstIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(m => s"$p: $m")
    }
    // the walk reached the tree: the files that hash with md5 are in it
    assert(sources.size > 40)
    assert(Seq("Md5Hi60.scala", "Llm.scala", "Dedup.scala")
      .forall(n => sources.exists(_.getFileName.toString == n)), sources.mkString("\n"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
