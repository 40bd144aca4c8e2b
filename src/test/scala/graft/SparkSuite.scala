package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; Spark reuses it across suites in the same fork). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"

  /** Shared oracle-replay helper: hex md5 of a UTF-8 string (the image
    * of Spark's md5() / DuckDB's md5()). */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object SparkSuite {
  /** The tools' session shape at a fixed 4 cores: specs keep `local[4]`
    * whatever $SPARK_GRAFT_CPUS the run exports. */
  lazy val session: SparkSession = Harness.session(4)
}
