package graft

import org.apache.spark.sql.types.DecimalType

/** Every registered query runs on sf0.001 and returns rows; schemas carry
  * no generated default names (every computed column must be aliased, or
  * the driver's column-name-sorted hash compare would diverge).
  */
class QueriesSmokeSpec extends SparkSuite {

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs, returns rows, and has clean column names") {
      val df = fn(spark, sf)
      val cols = df.columns
      assert(cols.distinct.length == cols.length, s"duplicate columns: ${cols.mkString(",")}")
      cols.foreach { c =>
        assert(!c.contains("("), s"unaliased computed column: $c")
      }
      // Surface-dtype pin: the repo convention is DECIMAL accumulation,
      // DOUBLE surface. A DecimalType output column means a SQL-string
      // literal (e.g. expr(".../1000000.0") — DECIMAL(8,1)) leaked into a
      // ratio surface; the DuckDB oracle emits DOUBLE and the driver's
      // hash compare goes red even when every value matches (l62, r8).
      df.schema.fields.foreach { f =>
        assert(!f.dataType.isInstanceOf[DecimalType],
          s"$name.${f.name} surfaces ${f.dataType}; accumulate DECIMAL, surface DOUBLE")
      }
      assert(df.count() > 0, s"$name returned no rows on $sf")
    }
  }

  test("every oracleSql key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("exactly the six engine-specific queries have no oracle") {
    // sketches, sampling, an ML pipeline, a recurrence DuckDB windows
    // cannot state, and a UDF: no DuckDB equivalent by design; any other
    // query must carry its oracle SQL
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet === Set(
      "a03_agg_approx_distinct", "a13_agg_sketch_merge", "l02b_dedup_near_ml",
      "o04_sample", "t20_ewma", "x01_udf_uuid5"))
  }

  test("entry() (driver smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
