package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the lakehouse family's one reader: every read of
  * committed data in Lakehouse, Features (l66/l67) and StreamCommit
  * (t30/t31) goes through `Lakehouse.scan`, which plans under the schema
  * the writer recorded in the footer instead of running Spark's
  * footer-inference job. So no DataFrameReader (`.read`) may appear in
  * those files outside the body of `scan`. */
class OneReaderSpec extends AnyFunSuite {

  private val readRe = """\.read\b""".r

  private val guarded = Seq("Lakehouse.scala", "Features.scala", "StreamCommit.scala")

  /** The text of the reader's body (`def scan(` up to the first line
    * that closes a member at the object's indentation). */
  private def readerBody(lakehouse: String): (Int, Int) = {
    val start = lakehouse.indexOf("private[graft] def scan(")
    require(start >= 0, "Lakehouse.scan not found")
    (start, lakehouse.indexOf("\n  }\n", start))
  }

  /** The DataFrameReader uses in `text` outside [start, end). */
  private def strayReads(text: String, start: Int = 0, end: Int = 0): Int =
    readRe.findAllMatchIn(text).count(m => m.start < start || m.start >= end)

  test("no DataFrameReader outside Lakehouse.scan in the lakehouse family") {
    val files = SourceTree.files("main")
      .filter(p => guarded.contains(p.getFileName.toString))
      .map(p => p.getFileName.toString -> SourceTree.text(p)).toMap
    assert(files.keySet === guarded.toSet)
    val lake = files("Lakehouse.scala")
    val (start, end) = readerBody(lake)
    assert(end > start)
    // the reader itself reads: data files under the footer schema, DV
    // sidecars under their constant schema
    assert(readRe.findAllMatchIn(lake.substring(start, end)).size === 2)

    // the guard fires on a planted read, also split over lines and with
    // an explicit schema, in the reader's own file and in a consumer
    val planted = "\n    spark.read\n      .schema(s).parquet(dir)\n"
    assert(strayReads(lake.substring(0, start) + planted + lake.substring(start),
      start + planted.length, end + planted.length) === 1)
    assert(strayReads(files("Features.scala") + planted) === 1)
    assert(strayReads("spark.readStream.schema(s).parquet(dir)") === 0)

    val stray = guarded.map { f =>
      f -> (if (f == "Lakehouse.scala") strayReads(lake, start, end)
            else strayReads(files(f)))
    }.filter(_._2 > 0)
    assert(stray.isEmpty, s"reads outside Lakehouse.scan: $stray")
  }
}
