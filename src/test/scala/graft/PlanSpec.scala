package graft

import org.apache.spark.sql.functions.{col, max}

/** Plan-shape assertions (SURVEY.md §5.2): the physical properties that make
  * these operators survive 100 TB, pinned as tests so a regression in query
  * construction (or a Spark upgrade) fails loudly.
  */
class PlanSpec extends SparkSuite {

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("j22: tolerance as-of is one union+window — no join operator at all") {
    // j10, the other backward as-of binding, is held to the same shape
    for ((name, df) <- Seq(
        "j22" -> operators.Joins.j22(spark, sf),
        "j10" -> operators.Joins.j10(spark, sf))) {
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.contains("Join"), s"$name: as-of must stay window-shaped:\n$opt")
      val plan = planString(df)
      assert(plan.contains("Window"), s"$name: expected the key window:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges === 1, s"$name: expected one key exchange, found $exchanges:\n$plan")
    }
  }

  test("l59/l62: source matrices never self-join a corpus-sized frame") {
    // l59 pairs explode inside the per-gram source SET; l62 pairs join the
    // sources×dims centroid frame — a SortMergeJoin anywhere means a
    // corpus-sized side slipped in (catalog-sized frames always broadcast
    // or hash at this SF)
    val p59 = planString(llm.Pipeline.l59(spark, sf))
    assert(!p59.contains("SortMergeJoin"), s"l59 grew a big-side join:\n$p59")
    val p62 = planString(llm.Semantic.l62(spark, sf))
    assert(!p62.contains("SortMergeJoin"), s"l62 grew a big-side join:\n$p62")
  }

  test("w09: the cumulative window's input is the collapsed days×types frame") {
    // the window must sit above BOTH aggregates (first-seen rollup), never
    // directly over events — a window whose child is a scan would be the
    // quadratic COUNT(DISTINCT)-over-frame shape this operator replaces
    val plan = operators.Windows.w09(spark, sf).queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, s"no window in the plan:\n$plan")
    windows.foreach { w =>
      val aggsBelow = w.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggsBelow.size >= 2, s"window not over the collapsed frame:\n$plan")
    }
  }

  test("l60: calibration histogram broadcasts back onto the doc frame") {
    val plan = planString(llm.Llm.l60(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join-back:\n$plan")
  }

  test("s02: parquet scan prunes to referenced columns only") {
    val plan = planString(operators.Scans.s02(spark, sf))
    val readSchema = "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"
    assert(plan.contains(readSchema), s"expected pruned ReadSchema, got:\n$plan")
  }

  test("s03: shipdate predicate pushed into parquet scan") {
    val plan = planString(operators.Scans.s03(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"expected pushed filter, got:\n$plan")
  }

  test("j01: dim join is a BroadcastHashJoin") {
    val plan = planString(operators.Joins.j01(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join, got:\n$plan")
  }

  test("a16: no map-buffer percentile aggregate anywhere in the plan") {
    // the built-in exact `percentile` is a TypedImperativeAggregate whose
    // buffer is a value→count map of every distinct input — the known
    // 100×-scale pathology a14 was rewritten away from; a16 must stay on
    // the rank-window shape (ObjectHashAggregate is the executor for
    // TypedImperativeAggregate buffers)
    val plan = planString(operators.Aggregates.a16(spark, sf))
    assert(!plan.contains("percentile"), s"built-in percentile crept back:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"map-buffer aggregate crept back:\n$plan")
  }

  test("c01: command envelope id is the native gen_cmd_id, not a ScalaUDF") {
    val plan = planString(odm.OdmQueries.c01(spark, sf))
    assert(!plan.contains("UDF"), s"ScalaUDF in the envelope plan:\n$plan")
    assert(plan.contains("gen_cmd_id"), s"expected native gen_cmd_id:\n$plan")
  }

  test("c02: gated stream has no ScalaUDF and no driver-side fixture") {
    val plan = planString(odm.OdmQueries.c02(spark, sf))
    assert(!plan.contains("UDF"), s"ScalaUDF in the gated plan:\n$plan")
    // the acked-event side must be a relational derivation (a scan/
    // checkpoint-backed subtree), not a LocalTableScan of collected rows
    assert(!plan.contains("LocalTableScan"),
      s"driver-materialized fixture crept back:\n$plan")
  }

  test("j17: runtime bloom filter injects under the scale conf profile") {
    val plan = operators.Joins.j17Plan(spark, sf)
    assert(plan.contains("bloom_filter_agg"),
      s"expected a BloomFilterAggregate over the creation side, got:\n$plan")
    assert(plan.contains("might_contain"),
      s"expected might_contain applied to the fact side, got:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a shuffle join (broadcast disabled), got:\n$plan")
  }

  test("q06: all three range predicates reach the parquet scan") {
    // toString truncates the PushedFilters list mid-token, so assert each
    // column's presence independently rather than one exact prefix
    val plan = planString(operators.Flagship.q06(spark, sf))
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters:")).mkString
    Seq("IsNotNull(l_shipdate)", "IsNotNull(l_discount)", "IsNotNull(l_quantity)",
      "GreaterThanOrEqual(l_shipda").foreach(frag =>
      assert(pushed.contains(frag), s"expected $frag in pushed filters, got:\n$plan"))
  }

  test("l30: random projection is map-only — no data shuffle") {
    // the only exchange allowed is the final presentation sort's range
    // partitioning; the projection itself must never hash-shuffle
    val plan = planString(llm.Semantic.l30(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"projection should be map-only, got:\n$plan")
  }

  test("j02: fact-fact join is a shuffle join when broadcast is disabled") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = planString(operators.Joins.j02(spark, sf))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected shuffle join, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("j07/j08: semi/anti joins stay semi/anti (no distinct-after-join)") {
    assert(planString(operators.Joins.j07(spark, sf)).contains("LeftSemi"))
    assert(planString(operators.Joins.j08(spark, sf)).contains("LeftAnti"))
  }

  test("t16: interval union runs on ONE user-key exchange (window + agg fused)") {
    val plan = planString(operators.EventTime.t16(spark, sf))
    val exchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected the aggregate to ride the window exchange:\n$plan")
  }

  test("l46: distribution joins broadcast (the 64-row llr never shuffles the token stream)") {
    // inspect the scoring plan pre-checkpoint (l46 itself returns the
    // materialized checkpoint, whose plan is an opaque RDD scan)
    val plan = planString(
      llm.Semantic.l46Score(llm.Semantic.l46DocBuckets(spark, sf)))
    assert(plan.contains("BroadcastHashJoin"), s"llr join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join on the tiny side:\n$plan")
  }

  test("j20: fact scan carries a dynamic partition pruning filter") {
    val plan = planString(operators.Joins.j20(spark, sf))
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning expression in PartitionFilters:\n$plan")
  }

  test("j21: blocked fuzzy join hashes on the blocking key (no nested-loop product)") {
    val plan = planString(operators.Joins.j21(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"),
      s"blocking must make the dictionary self-join an equi hash join:\n$plan")
  }

  test("p10: correlated LATERAL decorrelates to a rank, not per-row re-execution") {
    val df = operators.Pivots.p10(spark, sf)
    val plan = planString(df)
    // Catalyst must rewrite the correlated ORDER BY … LIMIT into a
    // partitioned window group-limit + equi join — the o03 shape
    assert(!plan.contains("Cartesian"), s"lateral must not stay a product:\n$plan")
    assert(plan.contains("Window"), s"expected a window rank rewrite:\n$plan")
    // and it must agree with the direct window-rank formulation
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val direct = Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(
        W.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 2)
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select("c_custkey", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    assert(df.collect().map(_.toString).toSeq ===
      direct.collect().map(_.toString).toSeq)
  }

  test("o02: global limit after sort becomes TakeOrderedAndProject") {
    val plan = planString(operators.Windows.o02(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"got:\n$plan")
  }

  test("s07: year filter becomes a partition filter (pruned directories)") {
    val plan = planString(operators.Extras.s07(spark, sf))
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"),
      s"expected partition pruning on o_year, got:\n$plan")
  }

  test("x01: uuid5_native participates in whole-stage codegen") {
    val df = operators.Extras.x01(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*("), s"expected codegen span:\n$executed")
    assert(df.filter(!col("paths_agree")).count() === 0,
      "UDF and native expression disagree")
  }

  test("uuid5_native generated code actually COMPILES (not just plans)") {
    // Plan-string checks can't catch Janino resolution failures — Spark
    // falls back to interpreted silently. GenerateUnsafeProjection.generate
    // throws on a compile error, pinning the static-forwarder fix
    // (companion `eval` gets no forwarder when the class inherits `eval`).
    import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val expr = graft.functions.Uuid5Expression(
      BoundReference(0, StringType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(Alias(expr, "u")()))
    val row = proj(InternalRow(
      UTF8String.fromString("00000000-0000-0000-0000-000000000000"),
      UTF8String.fromString("name")))
    assert(row.getUTF8String(0).toString ===
      graft.functions.Uuid5.uuid5(
        java.util.UUID.fromString("00000000-0000-0000-0000-000000000000"),
        "name".getBytes).toString)
  }

  test("flagship: aggregation is partial+final hash aggregate with codegen") {
    val df = operators.Flagship.q00(spark, sf)
    val plan = planString(df)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "expected partial+final pair")
    df.collect() // materialize so AQE finalizes the plan, then check codegen
    val executed = df.queryExecution.executedPlan.toString
    // codegen spans render as "*(n) HashAggregate" in the final plan
    assert(executed.contains("*(") && executed.contains(") HashAggregate"),
      s"aggregate path fell out of codegen:\n$executed")
  }

  test("q18: agg-derived IN subquery decorrelates to a left-semi join") {
    val df = operators.Flagship.q18(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join LeftSemi"),
      s"IN subquery must rewrite to a semi join:\n$opt")
    assert(!opt.toLowerCase.contains("insubquery") && !opt.contains("ListQuery"),
      s"unrewritten subquery survived optimization:\n$opt")
    assert(df.collect().nonEmpty, "q18 returned no rows at test SF")
  }

  test("q21: EXISTS + NOT EXISTS chain decorrelates to semi + anti joins") {
    val df = operators.Flagship.q21(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join LeftSemi"), s"EXISTS must become a semi join:\n$opt")
    assert(opt.contains("Join LeftAnti"), s"NOT EXISTS must become an anti join:\n$opt")
    assert(!opt.toLowerCase.contains("exists#") || !opt.contains("Filter exists"),
      s"per-row exists predicate survived:\n$opt")
    assert(df.collect().nonEmpty, "q21 returned no rows at test SF")
  }

  test("q02/q17: correlated scalar MIN/AVG subqueries decorrelate to aggregate joins") {
    for ((name, df) <- Seq("q02" -> operators.Flagship.q02(spark, sf),
                           "q17" -> operators.Flagship.q17(spark, sf))) {
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.contains("scalar-subquery"),
        s"$name: correlated scalar subquery survived optimization (per-row rescan):\n$opt")
      assert(opt.contains("Join"), s"$name: expected decorrelated join:\n$opt")
      assert(df.collect().nonEmpty, s"$name returned no rows at test SF")
    }
  }

  test("q04: EXISTS decorrelates to one left-semi join") {
    val df = operators.Flagship.q04(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join LeftSemi"), s"EXISTS must become a semi join:\n$opt")
    assert(!opt.toLowerCase.contains("exists#") || !opt.contains("Filter exists"),
      s"per-row exists predicate survived:\n$opt")
    assert(df.collect().nonEmpty, "q04 returned no rows at test SF")
  }

  test("q20: nested IN chain flattens to two left-semi joins, no ListQuery") {
    val df = operators.Flagship.q20(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    val semis = "Join LeftSemi".r.findAllIn(opt).size
    assert(semis >= 2, s"expected both INs as semi joins, found $semis:\n$opt")
    assert(!opt.contains("ListQuery"), s"unrewritten IN survived:\n$opt")
    assert(df.collect().nonEmpty, "q20 returned no rows at test SF")
  }

  test("q22: NOT EXISTS becomes a left-anti join; the uncorrelated scalars execute once") {
    val df = operators.Flagship.q22(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join LeftAnti"), s"NOT EXISTS must become an anti join:\n$opt")
    // the two uncorrelated scalar subqueries SHOULD survive: each runs once
    // and broadcasts into the pushed filter — that is the right 100 TB plan
    assert("scalar-subquery".r.findAllIn(opt).size >= 2,
      s"expected the once-executed scalar subqueries in the plan:\n$opt")
    assert(df.collect().nonEmpty, "q22 returned no rows at test SF")
  }

  test("q16: NOT IN plans as a null-aware left-anti join, no ListQuery") {
    val df = operators.Flagship.q16(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join LeftAnti"), s"NOT IN must become an anti join:\n$opt")
    // null-aware form: the anti condition is `(k = k2) OR isnull(k = k2)` —
    // plain anti (without the isnull arm) would silently change NOT IN's
    // three-valued semantics
    assert("Join LeftAnti.*isnull".r.findFirstIn(opt).isDefined,
      s"anti join lost the null-aware arm:\n$opt")
    assert(!opt.contains("ListQuery"), s"unrewritten IN survived:\n$opt")
    assert(df.collect().nonEmpty, "q16 returned no rows at test SF")
  }

  test("q19: disjunctive predicate keeps the equi hash join and pushes per-side unions to the scans") {
    val df = operators.Flagship.q19(spark, sf)
    val plan = planString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"OR-of-ANDs degraded the join to a product:\n$plan")
    assert(plan.contains("HashJoin"), s"expected a hash equi-join on partkey:\n$plan")
    // each branch constrains l_quantity and (p_brand,p_size) separately, so
    // the per-side unions of the disjunction must reach BOTH parquet scans
    assert("PushedFilters: \\[[^\\]]*Or\\(Or\\(And\\(GreaterThanOrEqual\\(l_quantity".r
      .findFirstIn(plan).isDefined,
      s"lineitem scan lost the pushed quantity disjunction:\n$plan")
    assert("Or\\(And\\(EqualTo\\(p_brand".r.findFirstIn(plan).isDefined,
      s"part scan lost the pushed brand/size disjunction:\n$plan")
    assert(df.collect().nonEmpty, "q19 returned no rows at test SF")
  }

  test("q11/q15: uncorrelated scalar thresholds survive as once-executed subqueries") {
    for ((name, df) <- Seq("q11" -> operators.Flagship.q11(spark, sf),
                           "q15" -> operators.Flagship.q15(spark, sf))) {
      val opt = df.queryExecution.optimizedPlan.toString
      // the group-total / max threshold runs ONCE and broadcasts into the
      // filter — decorrelating it per-row would rescan the fact table
      assert(opt.contains("scalar-subquery"),
        s"$name: expected the once-executed scalar threshold subquery:\n$opt")
      assert(df.collect().nonEmpty, s"$name returned no rows at test SF")
    }
  }

  test("q13: join-side-only predicate stays ON the left outer join") {
    val df = operators.Flagship.q13(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join LeftOuter"),
      s"customer->orders must stay a left outer join:\n$opt")
    // the priority predicate belongs to the join condition (or the orders
    // side beneath it) — NEVER a post-join filter, which would drop
    // customers whose only orders are excluded instead of counting 0.
    // Tree lines are prefixed '+- '/':- ', so match the operator name
    // anywhere after the indentation, only in the region ABOVE the join.
    val postJoinFilter = opt.linesIterator.takeWhile(!_.contains("Join LeftOuter"))
      .exists(l => "^[\\s:+-]*Filter\\b".r.findFirstIn(l).isDefined
        && l.contains("o_orderpriority"))
    assert(!postJoinFilter, s"priority predicate migrated above the outer join:\n$opt")
    assert(df.collect().nonEmpty, "q13 returned no rows at test SF")
  }

  test("q07/q08: bilateral nation constraints keep equi joins, dims broadcast") {
    for ((name, df) <- Seq("q07" -> operators.Flagship.q07(spark, sf),
                           "q08" -> operators.Flagship.q08(spark, sf))) {
      val plan = planString(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name: nation pairing degraded to a product:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: expected broadcast nation/region dims:\n$plan")
      assert(df.collect().nonEmpty, s"$name returned no rows at test SF")
    }
  }

  test("j18: forward as-of is a single-shuffle window plan, no join") {
    val df = operators.Joins.j18(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Join"),
      s"forward as-of must be the union+window shape, not a join:\n$opt")
    val plan = planString(df)
    assert(plan.contains("Window"), s"expected the ordered-window pass:\n$plan")
  }

  test("j19: nearest as-of stays the union+window shape — no join, both frames on one sort") {
    val df = operators.Joins.j19(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Join"),
      s"nearest as-of must be union+window, not a join:\n$opt")
    val plan = planString(df)
    // both candidate frames share partitioning+ordering → exactly one
    // window sort (one Exchange on uid), not one per direction
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected one uid exchange, found $exchanges:\n$plan")
  }

  test("t13: stream-static enrichment broadcasts the dim side") {
    val plan = planString(operators.EventTime.t13(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"dim join must broadcast (the stream side never shuffles):\n$plan")
  }

  test("l36: representative via window min — one documents scan, no self-join") {
    val df = llm.Llm.l36(spark, sf)
    val plan = planString(df)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 1, s"expected a single documents scan, found $scans:\n$plan")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Join"), s"cluster-rep derivation must not self-join:\n$opt")
  }

  test("l34: boilerplate removal is a left-anti join on the segment key, no product") {
    val df = llm.Dedup.l34(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join LeftAnti"), s"expected anti-join removal:\n$opt")
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"segment removal degraded to a product:\n$plan")
  }

  test("l37: diversity tables join back broadcast (corpus never reshuffles for them)") {
    val df = llm.Pipeline.l37(spark, sf)
    val plan = planString(df)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"n_hist/n_follow must broadcast onto the count table:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected product:\n$plan")
  }

  test("l14: contamination probe is a broadcast join (corpus side never shuffles for the probe)") {
    val plan = planString(llm.Pipeline.l14(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"expected broadcast left-outer probe, got:\n$plan")
  }

  test("l15: the corpus-bearing window is partitioned by bucket (no global single-partition pass over documents)") {
    val plan = planString(llm.Pipeline.l15(spark, sf))
    // two windows exist: the tiny bucket-offset prefix (unpartitioned, one
    // row per 1024 docs) and the per-doc cumulative sum, which MUST carry
    // the bucket partition spec
    assert(plan.contains("windowspecdefinition(bucket#"),
      s"expected bucket-partitioned window over documents, got:\n$plan")
  }

  test("s11: bucketed tables merge-join with no shuffle and no sort below the join") {
    val df = operators.Scans.s11(spark, sf)
    df.collect() // materialize so AQE finalizes the plan
    // string-walk the final plan: AQE wraps finished stages as leaves, so
    // a node-collect can't descend below them
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin, got:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans, got:\n$plan")
    // the ONLY exchanges/sorts allowed are the post-join aggregate's
    // (o_orderstatus) and the final orderBy — never on the join key
    for (key <- Seq("o_orderkey", "l_orderkey")) {
      assert(!plan.contains(s"Exchange hashpartitioning($key"),
        s"bucketed join must not shuffle its inputs on $key:\n$plan")
      assert(!plan.contains(s"Sort [$key"),
        s"bucket-sorted tables must not re-sort on $key below the join:\n$plan")
    }
  }

  test("j14: binned range join is a shuffle join, never a nested-loop product") {
    val plan = planString(operators.Joins.j14(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degraded to a product:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), s"expected an equi join on bin, got:\n$plan")
  }

  test("j14: binned range join result equals the naive theta join") {
    import org.apache.spark.sql.functions._
    val binned = operators.Joins.j14(spark, sf).collect().toSeq
    val ev = Tables.events(spark, sf).select(col("event_id"), col("ts_ms"))
    val naive = ev.filter(col("event_id") % 101 === 0)
      .select(col("event_id").as("anchor_id"), col("ts_ms").as("t0"))
      .join(ev, col("ts_ms") >= col("t0") && col("ts_ms") < col("t0") + lit(3600L * 1000)
        && col("event_id") =!= col("anchor_id"))
      .groupBy("anchor_id").agg(count(lit(1)).as("n_follow"))
      .orderBy("anchor_id").collect().toSeq
    assert(binned == naive, s"binned=${binned.take(5)} naive=${naive.take(5)}")
  }

  test("j16: interval-overlap join stays an equi join on bin and equals the naive OVERLAPS theta join") {
    import org.apache.spark.sql.functions._
    val plan = planString(operators.Joins.j16(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join degraded to a product:\n$plan")
    val binned = operators.Joins.j16(spark, sf).collect().toSeq
    val weekMs = 7L * 86400000L
    val oms = Tables.orders(spark, sf)
      .select(col("o_orderkey"), Tables.epochMs(col("o_orderdate")).as("t0"))
      .withColumn("t1", col("t0") + weekMs)
    val naive = oms.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("a_key"), col("t0").as("a0"), col("t1").as("a1"))
      .join(oms, col("a0") < col("t1") && col("t0") < col("a1")
        && col("a_key") =!= col("o_orderkey"))
      .select(col("a_key"), col("o_orderkey").as("b_key"),
        (least(col("a1"), col("t1")) - greatest(col("a0"), col("t0"))).as("overlap_ms"))
      .orderBy("a_key", "b_key").collect().toSeq
    // the naive theta join visits each pair once; the binned plan visits
    // shared-bin pairs up to twice and MUST collapse them — equality here
    // is exactly the proof that the distinct is doing its job
    assert(binned == naive, s"binned=${binned.take(3)} naive=${naive.take(3)}")
  }

  test("l19: curation pipeline fuses gate predicates into one filter over the scan") {
    val plan = planString(llm.Pipeline.l19(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "contamination anti join should broadcast")
    // the %97 gate reaches the parquet scan as a pushed-down-able filter
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id)")
      || plan.contains("(doc_id#"), s"gate did not reach the scan:\n$plan")
  }

  test("h09: the optimizer swaps the raw-events scan for the materialized view") {
    val df = operators.History.h09(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    val physical = df.queryExecution.executedPlan.toString
    val mvPath = Tables.scratchPath("h09_mv", sf)
    // the FileScan's Location names the MV directory, and the raw table
    // is gone from the plan entirely
    assert(physical.contains(mvPath.split('/').last),
      s"physical plan must read the MV files:\n$physical")
    assert(!physical.contains("events.parquet"),
      s"physical plan must NOT scan the raw events table:\n$physical")
    // the rewrite is RE-aggregation over the summary's partial columns,
    // not a verbatim MV read
    assert(optimized.contains("sum(cnt") && optimized.contains("sum(sum_value_p"),
      s"re-aggregation over partials missing:\n$optimized")
    // and an aggregate the MV CANNOT answer is left untouched: max is
    // not a registered rewrite, so the raw scan stays
    val unmatched = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type").agg(max("value").as("mx"))
    assert(unmatched.queryExecution.executedPlan.toString.contains("events.parquet"),
      "non-rewritable aggregate must keep the raw scan")
  }

  test("s16→CBO: cost-based join REORDER moves the big fact last in a 3-table " +
      "chain written fact-first; values unchanged") {
    import org.apache.spark.sql.functions._
    // syntactically the query joins (fact ⋈ mid) ⋈ tiny-filtered-dim; with
    // rowCount + column stats and spark.sql.cbo.joinReorder.enabled the
    // DP reorderer should start from the small (mid ⋈ dim) pair instead —
    // at 100 TB the difference between shuffling the fact table once into
    // a tiny build side and shuffling it into an unreduced mid table
    val base = Tables.scratchPath("cbo_reorder", sf)
    val tag = base.split('/').last
    val (fact, mid, dim) = (s"${tag}_li", s"${tag}_ord", s"${tag}_cust")
    Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").option("path", s"$base/f").saveAsTable(fact)
    Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      .write.mode("overwrite").option("path", s"$base/m").saveAsTable(mid)
    Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
      .write.mode("overwrite").option("path", s"$base/d").saveAsTable(dim)
    spark.sql(s"ANALYZE TABLE $fact COMPUTE STATISTICS FOR COLUMNS l_orderkey")
    spark.sql(s"ANALYZE TABLE $mid COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_custkey")
    spark.sql(s"ANALYZE TABLE $dim COMPUTE STATISTICS FOR COLUMNS c_custkey, c_acctbal")
    val Array(lo, hi) = spark.table(dim)
      .agg(min("c_custkey"), max("c_custkey")).collect()
      .flatMap(r => Array(r.getLong(0), r.getLong(1)))
    def query = spark.table(fact)
      .join(spark.table(mid), col("l_orderkey") === col("o_orderkey"))
      .join(spark.table(dim).filter(col("c_custkey") <= lit(lo + (hi - lo) / 20)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(lit(1).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec(col("l_extendedprice"))).cast("double").as("rev"))
    def leafOrder: Seq[String] =
      query.queryExecution.optimizedPlan.collectLeaves().map {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.catalogTable.map(_.identifier.table).getOrElse(r.nodeName)
        case other => other.nodeName
      }
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val orderOff = leafOrder
      val rowsOff = query.collect().toSeq
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val orderOn = leafOrder
      val rowsOn = query.collect().toSeq
      assert(orderOff.head === fact,
        s"without CBO the join order is syntactic (fact first): $orderOff")
      assert(orderOn !== orderOff,
        s"stats + joinReorder must change the join order: $orderOn")
      assert(orderOn.head !== fact,
        s"the reordered plan must not start from the big fact: $orderOn")
      assert(rowsOn === rowsOff, "the reorder must not change a single value")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  test("s16→CBO: ANALYZE column stats provably flip the physical join from " +
      "shuffle to broadcast; results hash-identical both ways") {
    import org.apache.spark.sql.functions._
    // catalog tables + ANALYZE — the s16 surface, now closing the loop to
    // an actual optimizer DECISION: without CBO the filtered dim keeps its
    // full file-size estimate (size-only visitor), with CBO the column
    // stats' ndv shrinks it by the equality selectivity; a broadcast
    // threshold placed between the two estimates makes the join choice
    // flip on stats alone. At 100 TB this is the difference between
    // shuffling a fact table and broadcasting a filtered dim.
    val base = Tables.scratchPath("cbo_flip", sf)
    val tag = base.split('/').last
    val fact = s"${tag}_lineitem"
    val dim = s"${tag}_orders"
    Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").option("path", s"$base/fact").saveAsTable(fact)
    Tables.orders(spark, sf).select("o_orderkey", "o_orderpriority")
      .write.mode("overwrite").option("path", s"$base/dim").saveAsTable(dim)
    spark.sql(s"ANALYZE TABLE $fact COMPUTE STATISTICS FOR COLUMNS l_orderkey")
    spark.sql(s"ANALYZE TABLE $dim COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_orderpriority")
    // a ~2% key-range slice of one priority class: the equality uses the
    // ndv stat (1/5), the range uses min/max interpolation (~1/50) —
    // compound selectivity only COLUMN STATS can see (file size cannot)
    val Array(lo, hi) = spark.table(dim)
      .agg(min("o_orderkey"), max("o_orderkey")).collect()
      .flatMap(r => Array(r.getLong(0), r.getLong(1)))
    def filteredDim = spark.table(dim)
      .filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderkey") <= lit(lo + (hi - lo) / 50))
    def query = spark.table(fact)
      .join(filteredDim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec(col("l_extendedprice"))).cast("double").as("rev"))
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      // pin the ESTIMATE-driven choice (AQE would re-decide from runtime
      // sizes, which is exactly not what this test is about)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val sizeOff = filteredDim.queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val sizeOn = filteredDim.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(sizeOn < sizeOff,
        s"CBO filter estimation must shrink the dim: on=$sizeOn off=$sizeOff")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((sizeOn + sizeOff) / 2).toString)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val planOff = query.queryExecution.executedPlan.toString
      val rowsOff = query.orderBy("o_orderpriority").collect().toSeq
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val planOn = query.queryExecution.executedPlan.toString
      val rowsOn = query.orderBy("o_orderpriority").collect().toSeq
      assert(!planOff.contains("BroadcastHashJoin"),
        s"without CBO the dim estimate exceeds the threshold — expected a shuffle join:\n$planOff")
      assert(planOn.contains("BroadcastHashJoin"),
        s"with CBO the filtered dim fits the threshold — expected a broadcast join:\n$planOn")
      assert(rowsOn === rowsOff, "the flip must not change a single value")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
