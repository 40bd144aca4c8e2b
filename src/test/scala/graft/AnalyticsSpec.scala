package graft

import org.apache.spark.sql.functions._

/** t07 funnel chain and l26 k-means update step. */
class AnalyticsSpec extends SparkSuite {

  test("t29: PSI drift matches an exact per-term replay; the gate is live but not saturated") {
    val rows = Tables.events(spark, sf)
      .select("event_type", "ts_ms", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400000L,
        math.min(math.floor(r.getDouble(2) * 1000.0 + 0.5).toLong / 10000L, 63L)))
    val counts = rows.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val days = rows.map(r => (r._1, r._2)).distinct
    val totals = days.map { case (t, d) =>
      (t, d) -> counts.collect { case ((`t`, `d`, _), n) => n }.sum
    }.toMap
    val expected = days.flatMap { case (t, d) =>
      totals.get((t, d - 1)).map { totPrev =>
        val tot = totals((t, d))
        // the whole 64-bucket universe: with unequal day volumes even a
        // both-days-empty bucket has p != q
        val psi = (0L until 64L).map { b =>
          val p = (counts.getOrElse((t, d, b), 0L) + 1).toDouble / (tot + 64).toDouble
          val q = (counts.getOrElse((t, d - 1, b), 0L) + 1).toDouble / (totPrev + 64).toDouble
          math.floor((p - q) * math.log(p / q) * 1e9 + 0.5).toLong
        }.sum
        (t, d) -> ((tot, totPrev, psi, if (psi > 200000000L) 1 else 0))
      }
    }.toMap
    val got = operators.EventTime.t29(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))
    }.toMap
    assert(got === expected)
    val fired = got.values.count(_._4 == 1)
    assert(fired > 0, "drift gate never fires")
    assert(fired < got.size, "drift gate saturated — the threshold is vacuous")
  }

  test("w09: cumulative distinct equals a full per-day distinct recount; growth is monotone") {
    val events = Tables.events(spark, sf)
      .select("event_type", "user_id", "ts_ms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2) / 86400000L))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (t, es) =>
      val days = es.map(_._3).distinct.sorted
      days.map { d =>
        // the brute-force recount the scalable plan must equal: distinct
        // users over the full prefix, per day
        val active = es.filter(_._3 == d).map(_._2).distinct.length.toLong
        val cum = es.filter(_._3 <= d).map(_._2).distinct.length.toLong
        val prev = es.filter(_._3 < d).map(_._2).distinct.length.toLong
        (t, d) -> ((active, cum - prev, cum))
      }
    }.toMap
    val got = operators.Windows.w09(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))
    }.toMap
    assert(got === expected)
    // growth accounting: cumulative monotone, new ⊆ active, and the last
    // day's cumulative equals the type's total distinct population
    got.groupBy(_._1._1).foreach { case (t, rows) =>
      val ord = rows.toSeq.sortBy(_._1._2).map(_._2)
      assert(ord.map(_._3) === ord.map(_._3).sorted, s"$t cum not monotone")
      ord.foreach { case (active, nNew, _) => assert(nNew <= active) }
      val total = events.filter(_._1 == t).map(_._2).distinct.length.toLong
      assert(ord.last._3 === total, s"$t final cum != population")
    }
  }

  test("j22: tolerance as-of matches a per-event driver replay; all three freshness paths fire") {
    val TolMs = 2L * 86400000L
    val events = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts_ms", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val states = events.filter(_._4 == "purchase")
      .groupBy(e => (e._2, e._3)).map { case ((uid, t), es) => (uid, t, es.map(_._1).max) }
      .groupBy(_._1)
    val expect = events.filter(_._4 == "click").map { case (eid, uid, ts, _) =>
      val back = states.getOrElse(uid, Iterable.empty)
        .filter(_._2 <= ts).map(s => (s._2, s._3)).toSeq.sorted.lastOption
      eid -> (back match {
        case Some((st, sid)) =>
          val stale = ts - st
          (if (stale <= TolMs) Some(sid) else None, Some(stale),
            if (stale <= TolMs) 1 else 0)
        case None => (None, None, 0)
      })
    }.toMap
    val got = operators.Joins.j22(spark, sf).collect().map { r =>
      def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      r.getLong(0) -> ((optL(3), optL(4), r.getInt(5)))
    }.toMap
    assert(got === expect)
    // the fixture must exercise fresh, stale-candidate, and no-candidate
    assert(got.values.exists(v => v._3 == 1), "no fresh binding")
    assert(got.values.exists(v => v._3 == 0 && v._2.isDefined),
      "no stale candidate — the tolerance gate never fires")
    assert(got.values.exists(v => v._2.isEmpty), "no probe without prior state")
    // a withheld binding still surfaces its staleness, and it exceeds the SLA
    got.values.filter(v => v._3 == 0 && v._2.isDefined)
      .foreach(v => assert(v._1.isEmpty && v._2.get > TolMs))
  }

  test("j10: backward as-of matches a per-event driver replay (equal dates → max orderkey)") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey").cast("long"), Tables.epochMs(col("o_orderdate")),
        col("o_orderkey").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).groupBy(_._1)
    val expect = Tables.events(spark, sf).select("event_id", "user_id", "ts_ms")
      .collect().map { r =>
        val (eid, uid, ts) = (r.getLong(0), r.getLong(1), r.getLong(2))
        eid -> orders.getOrElse(uid, Array.empty[(Long, Long, Long)])
          .filter(_._2 <= ts).map(o => (o._2, o._3)).sorted.lastOption.map(_._2)
      }.toMap
    val got = operators.Joins.j10(spark, sf).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toMap
    assert(got === expect)
    // every test-SF event postdates every order, so each binds its
    // customer's latest order; AsOfSpec covers probes before any reference
    assert(got.values.forall(_.isDefined), "an event lost its customer's order")
  }

  test("j18: forward as-of matches a per-event driver replay (strictly later; equal ms → min id)") {
    val events = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts_ms", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val hv = events.filter(_._4 > 90.0).groupBy(_._2)
    val expect = events.map { case (eid, uid, ts, _) =>
      eid -> hv.getOrElse(uid, Array.empty[(Long, Long, Long, Double)])
        .filter(_._3 > ts).map(h => (h._3, h._1)).sorted.headOption.map(_._2)
    }.toMap
    val got = operators.Joins.j18(spark, sf).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toMap
    assert(got === expect)
    assert(got.values.exists(_.isDefined), "no event has a later high-value event")
    assert(got.values.exists(_.isEmpty), "every event has a later high-value event")
  }

  test("j19: nearest as-of matches a per-event driver replay (ties go backward)") {
    val events = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts_ms", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val refs = events.filter(_._4 == "purchase").groupBy(_._2)
    val expect = events.filter(_._4 == "click").map { case (eid, uid, ts, _) =>
      val rs = refs.getOrElse(uid, Array.empty[(Long, Long, Long, String)])
      // backward tie → max id at the winning ts; forward tie → min id
      val back = rs.filter(_._3 <= ts).map(r => (r._3, r._1)).sorted.lastOption
      val fwd = rs.filter(_._3 > ts).map(r => (r._3, r._1)).sorted.headOption
      val pick = (back, fwd) match {
        case (Some(b), Some(f)) =>
          if (ts - b._1 <= f._1 - ts) Some((b._2, ts - b._1, "back"))
          else Some((f._2, f._1 - ts, "fwd"))
        case (Some(b), None) => Some((b._2, ts - b._1, "back"))
        case (None, Some(f)) => Some((f._2, f._1 - ts, "fwd"))
        case _ => None
      }
      eid -> pick
    }.toMap
    val got = operators.Joins.j19(spark, sf).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getLong(4), r.getString(5))))
    }.toMap
    assert(got === expect)
    // fixture must exercise both directions
    val dirs = got.values.flatten.map(_._3).toSet
    assert(dirs === Set("back", "fwd"))
  }

  test("t15: interior gaps interpolate linearly; edges stay null") {
    val hourly = Tables.events(spark, sf)
      .withColumn("hour", expr("ts_ms div 3600000"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec(col("value"))).cast("double").as("sum_value"))
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val hours = hourly.keys.map(_._2)
    val (h0, h1) = (hours.min, hours.max)
    val types = hourly.keys.map(_._1).toSeq.distinct
    val expect = (for {
      et <- types
      h <- h0 to h1
    } yield {
      val obs = hourly.get((et, h))
      val interp = obs.map(_._2).orElse {
        val prev = (h0 until h).reverse.iterator
          .map(p => hourly.get((et, p)).map(o => (p, o._2))).flatten.nextOption()
        val next = ((h + 1) to h1).iterator
          .map(nx => hourly.get((et, nx)).map(o => (nx, o._2))).flatten.nextOption()
        (prev, next) match {
          case (Some((ph, pv)), Some((nh, nv))) =>
            Some(pv + (nv - pv) * (h - ph).toDouble / (nh - ph).toDouble)
          case _ => None
        }
      }
      (et, h * 3600000L) -> ((obs.map(_._1).getOrElse(0L), obs.isDefined, interp))
    }).toMap
    val got = operators.EventTime.t15(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getBoolean(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    assert(got === expect)
    // fixture must exercise an actual interpolated gap
    assert(got.exists { case (_, (_, observed, v)) => !observed && v.isDefined })
  }

  test("t07: stage times form a strictly increasing chain per user") {
    val rows = operators.EventTime.t07(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tView = r.getLong(1)
      val tClick = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val tPurchase = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val reached = r.getInt(4)
      tClick.foreach(t => assert(t > tView))
      tPurchase.foreach { t =>
        assert(tClick.isDefined, "purchase stage requires click stage")
        assert(t > tClick.get)
      }
      assert(reached === 1 + tClick.size + tPurchase.size)
    }
  }

  test("t07: matches a brute-force local funnel replay") {
    val events = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts_ms")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = events.groupBy(_._1).flatMap { case (uid, es) =>
      val v = es.filter(_._2 == "view").map(_._3)
      if (v.isEmpty) None
      else {
        val t1 = v.min
        val t2 = es.filter(e => e._2 == "click" && e._3 > t1).map(_._3)
          .reduceOption(_ min _)
        val t3 = t2.flatMap(t =>
          es.filter(e => e._2 == "purchase" && e._3 > t).map(_._3)
            .reduceOption(_ min _))
        Some(uid -> ((t1, t2, t3)))
      }
    }
    val got = operators.EventTime.t07(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    }.toMap
    assert(got === expected.toMap)
  }

  test("t14: dynamic-gap sessions match a driver-side interval-merge replay") {
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "value", "ts_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))
    def gapOf(t: String): Long = if (t == "click") 600000L else 1800000L
    val expected = events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._5, e._2))
      val sessions = scala.collection.mutable.ArrayBuffer[
        scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]]()
      var maxEnd = Long.MinValue
      sorted.foreach { case (_, _, t, v, ts) =>
        if (sessions.isEmpty || ts >= maxEnd)
          sessions += scala.collection.mutable.ArrayBuffer()
        sessions.last += ((ts, ts + gapOf(t), v))
        maxEnd = math.max(maxEnd, ts + gapOf(t))
      }
      sessions.map { s =>
        val sum = s.map(x => BigDecimal(x._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
        (u, s.map(_._1).min, s.map(_._2).max, s.size.toLong, sum)
      }
    }.sortBy(x => (x._1, x._2))
    val got = operators.EventTime.t14(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === expected.toSeq)
    // the dynamic gap must actually bite: clicks close sessions sooner
    // than a uniform 30-minute gap would
    val fixedSessions = operators.EventTime.t03(spark, sf).count()
    assert(got.length > fixedSessions,
      "10-minute click gap must split more sessions than the fixed 30-minute gap")
  }

  test("t16: interval-union coverage matches a driver-side sweep-line replay") {
    val lenMs = 600000L
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "ts_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = events.groupBy(_._1).toSeq.map { case (u, es) =>
      val iv = es.map(e => (e._3, e._3 + lenMs)).sortBy(identity)
      // classic merge-then-measure union length (independent of the
      // running-max recurrence under test)
      var covered = 0L
      var (cs, ce) = iv.head
      iv.tail.foreach { case (s2, e2) =>
        if (s2 > ce) { covered += ce - cs; cs = s2; ce = e2 }
        else ce = math.max(ce, e2)
      }
      covered += ce - cs
      (u, es.size.toLong, covered, iv.map(_._2).max - iv.map(_._1).min)
    }.sortBy(_._1)
    val got = operators.EventTime.t16(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected)
    // coverage ratio bounds + overlap must actually occur in the fixture
    val cov = operators.EventTime.t16(spark, sf).collect()
      .map(r => r.getDouble(4))
    assert(cov.forall(c => c > 0.0 && c <= 1.0))
    assert(got.exists { case (_, n, covered, _) => covered < n * lenMs },
      "fixture must contain overlapping intervals or the union is trivial")
  }

  test("t20: EWMA matches an exact sequential replay per series") {
    val alpha = 0.9
    val events = Tables.events(spark, sf)
      .select("event_type", "event_id", "ts_ms", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ord = es.sortBy(e => (e._3, e._2))
      var ewma = 0.0
      ord.zipWithIndex.map { case ((et, id, ts, v), i) =>
        ewma = if (i == 0) v else alpha * ewma + (1 - alpha) * v
        (et, id) -> math.floor(ewma * 1e6 + 0.5) / 1e6
      }
    }.toMap
    val got = operators.EventTime.t20(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(got === expected)
    // smoothing must actually smooth: the EWMA stream varies less than raw
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val raw = events.map(_._4).toSeq
    val sm = operators.EventTime.t20(spark, sf).collect().map(_.getDouble(4)).toSeq
    assert(variance(sm) < variance(raw))
  }

  test("t22: Holt level/trend/forecast match an exact sequential replay") {
    val (a, b) = (0.5, 0.3)
    val hourly = Tables.events(spark, sf)
      .selectExpr("event_type", "(ts_ms div 3600000) * 3600000 AS hour_ms",
        "CAST(value AS DECIMAL(38,4)) AS v")
      .groupBy("event_type", "hour_ms")
      .agg(sum("v").cast("double").as("x")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val expected = hourly.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ord = es.sortBy(_._2)
      var level = 0.0; var trend = 0.0
      ord.zipWithIndex.map { case ((et, h, x), i) =>
        if (i == 0) { level = x; trend = 0.0 }
        else {
          val prev = level
          level = a * x + (1 - a) * (level + trend)
          trend = b * (level - prev) + (1 - b) * trend
        }
        (et, h) -> (math.floor(level * 1e6 + 0.5) / 1e6,
          math.floor(trend * 1e6 + 0.5) / 1e6,
          math.floor((level + trend) * 1e6 + 0.5) / 1e6)
      }
    }.toMap
    val got = operators.EventTime.t22(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got === expected)
    // the trend state must activate on this fixture
    assert(got.values.exists(v => math.abs(v._2) > 0.0))
  }

  test("t21: peak concurrency matches a driver-side sweep-line") {
    val lenMs = 600000L
    val events = Tables.events(spark, sf)
      .select("event_type", "event_id", "ts_ms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = events.groupBy(_._1).map { case (et, es) =>
      val boundary = es.flatMap(e =>
        Seq((e._3, 1, e._2), (e._3 + lenMs, -1, e._2)))
        .sortBy(b => (b._1, b._2, b._3))
      var conc = 0L; var peak = 0L; var peakT = 0L
      boundary.foreach { case (t, d, _) =>
        conc += d
        if (conc > peak) { peak = conc; peakT = t }
      }
      et -> (peak, peakT, boundary.length.toLong)
    }
    val got = operators.EventTime.t21(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    // overlap must exist or the sweep is trivial
    assert(got.values.exists(_._1 > 1))
  }

  test("t19: gap report matches a driver-side inter-arrival scan") {
    val events = Tables.events(spark, sf)
      .select("event_type", "event_id", "ts_ms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (et, es) =>
      val ord = es.sortBy(e => (e._3, e._2)).map(_._3)
      val mean = (ord.max - ord.min).toDouble / (ord.length - 1)
      ord.zip(ord.tail).collect {
        case (a, b) if (b - a).toDouble > mean * 4 =>
          (et, a, b, b - a, math.floor((b - a) / mean * 1e6 + 0.5) / 1e6)
      }
    }.sortBy(x => (x._1, x._2))
    val got = operators.EventTime.t19(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq === expected)
    assert(got.nonEmpty, "fixture must contain flagged gaps")
  }

  test("t18: rolling z-scores match a driver-side trailing-window replay") {
    val events = Tables.events(spark, sf)
      .select("event_type", "event_id", "ts_ms", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ord = es.sortBy(e => (e._3, e._2))
      ord.zipWithIndex.map { case (e, i) =>
        val frame = ord.slice(math.max(0, i - 100), i).map(_._4)
        val z =
          if (frame.length < 20) None
          else {
            val mu = frame.sum / frame.length
            val sd = math.sqrt(
              frame.map(x => (x - mu) * (x - mu)).sum / (frame.length - 1))
            if (sd > 0) Some(math.floor((e._4 - mu) / sd * 1e6 + 0.5) / 1e6)
            else None
          }
        (e._1, e._2) -> (frame.length.toLong, z, z.exists(v => math.abs(v) > 3.0))
      }
    }.toMap
    val got = operators.EventTime.t18(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          r.getBoolean(6))).toMap
    // float summation order differs driver-vs-engine; allow 1e-6 slack on
    // z while pinning window sizes and flags exactly
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, (n, z, flag)) =>
      val (gn, gz, gflag) = got(k)
      assert(gn === n, s"$k window size")
      assert(z.isDefined === gz.isDefined, s"$k z nullability")
      z.zip(gz).foreach { case (a, b) => assert(math.abs(a - b) <= 2e-6, s"$k z") }
      assert(gflag === flag, s"$k anomaly flag")
    }
    // the fixture must actually contain anomalies
    assert(got.values.exists(_._3), "no anomaly flagged — fixture too tame")
  }

  test("t17: OHLC bars match a per-bar driver replay; no window in the plan") {
    val events = Tables.events(spark, sf)
      .select("event_type", "event_id", "ts_ms", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = events.groupBy(e => (e._1, e._3 / 3600000L * 3600000L))
      .map { case ((et, h), es) =>
        val ord = es.sortBy(e => (e._3, e._2))
        val vol = es.map(e => BigDecimal(e._4).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
        (et, h) -> (es.size.toLong, ord.head._4, ord.last._4,
          es.map(_._4).max, es.map(_._4).min, vol)
      }
    val got = operators.EventTime.t17(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    assert(got === expected)
    val plan = operators.EventTime.t17(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"open/close must fold in the aggregate, not a window sort:\n$plan")
  }

  test("l26: every vector is assigned and counts are dim-consistent") {
    val out = llm.Dedup.l26(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val total = Tables.embeddings(spark, sf).count()
    // 64 rows per occupied cluster; per-cluster n identical across dims
    val byCid = out.groupBy(_._1)
    byCid.foreach { case (cid, rows) =>
      assert(rows.length === 64, s"cluster $cid should have 64 dim rows")
      assert(rows.map(_._3).distinct.length === 1, s"cluster $cid: inconsistent n")
    }
    // assignment is a partition: cluster sizes sum to the corpus
    assert(byCid.map(_._2.head._3).sum === total)
    // centroid means live inside the data's value range
    out.foreach { case (_, _, _, m) => assert(m > -10.0 && m < 10.0) }
  }

  test("t23: milli-unit median/MAD match a driver-side exact replay") {
    val events = Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 1000.0 + 0.5).toLong))
    def medLow(xs: Seq[Long]): Long = {
      // first value whose cumulative count crosses half the total —
      // exactly the operator's first-crossing pick
      val sorted = xs.sorted
      sorted((xs.size - 1) / 2)
    }
    val expected = events.groupBy(_._1).map { case (t, es) =>
      val vs = es.map(_._2).toSeq
      val med = medLow(vs)
      val devs = vs.map(v => math.abs(v - med))
      val mad = medLow(devs)
      t -> ((vs.size.toLong, med / 1000.0, mad / 1000.0,
        devs.count(_ > 3 * mad).toLong, devs.max / 1000.0))
    }
    val got = operators.EventTime.t23(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    }.toMap
    assert(got === expected)
    // robustness must bite: some type flags outliers, none flags all
    assert(got.values.exists(_._4 > 0), "no outliers flagged anywhere")
    got.foreach { case (t, (n, _, _, k, _)) =>
      assert(k < n, s"$t flags every event as an outlier")
    }
  }

  test("t24: seasonal profile matches a driver-side replay; hot-hour gate fires") {
    val events = Tables.events(spark, sf)
      .select("event_type", "ts_ms").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val hourly = events.groupBy { case (t, ts) => (t, ts / 3600000L) }
      .map { case ((t, hr), es) => (t, hr, es.length.toLong) }.toSeq
    val expected = hourly.groupBy { case (t, hr, _) => (t, hr % 24) }
      .map { case ((t, hod), hs) =>
        val ns = hs.map(_._3)
        val (nHours, total) = (ns.length.toLong, ns.sum)
        val hot = ns.count(n => n * nHours * 2 > total * 3).toLong
        (t, hod) -> ((nHours, total,
          math.floor(total.toDouble / nHours * 1e6 + 0.5) / 1e6, ns.max, hot))
      }
    val got = operators.EventTime.t24(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5), r.getLong(6)))
    }.toMap
    assert(got === expected)
    // the gate must be live: some slot has hot hours, no slot is all-hot
    assert(got.values.exists(_._5 > 0), "no hot hours anywhere")
    got.foreach { case (k, (nHours, _, _, _, hot)) =>
      assert(hot < nHours, s"$k flags every hour as hot")
    }
  }

  test("t26: first/last-touch attribution matches a driver-side lookback scan") {
    val weekMs = 604800000L
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "ts_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byUser = events.groupBy(_._1)
    val expected = events.filter(_._3 == "purchase").map { case (u, cid, _, cts) =>
      val touches = byUser(u)
        .filter(e => (e._3 == "view" || e._3 == "click")
          && e._4 < cts && e._4 >= cts - weekMs)
        .sortBy(e => (e._4, e._2))
      val ft = touches.headOption
      val lt = touches.lastOption
      (u, cid) -> ((cts, touches.length.toLong,
        ft.map(_._4), ft.map(_._3), lt.map(_._4), lt.map(_._3)))
    }.toMap
    val got = operators.EventTime.t26(spark, sf).collect().map { r =>
      def ol(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      def os(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
      (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), ol(4), os(5), ol(6), os(7)))
    }.toMap
    assert(got === expected)
    // the fixture must exercise all three shapes: attributed conversions
    // where first != last, a single-touch conversion, and a zero-touch one
    assert(got.values.exists(v => v._2 >= 2 && v._3 != v._5), "no multi-touch path")
    assert(got.values.exists(_._2 == 1L), "no single-touch conversion")
    assert(got.values.exists(_._2 == 0L), "no zero-touch conversion")
  }

  test("t27: session pattern classes match a driver-side sessionize+regex replay") {
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "ts_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val classes = events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val ordered = es.sortBy(e => (e._4, e._2))
      // split on ≥30-min gaps, then one char per event (first letter)
      val sessions = ordered.tail.foldLeft(Vector(Vector(ordered.head))) {
        case (acc, e) =>
          if (e._4 - acc.last.last._4 >= 1800000L) acc :+ Vector(e)
          else acc.init :+ (acc.last :+ e)
      }
      sessions.map { s =>
        val seq = s.map(_._3.head).mkString
        val cls =
          if (java.util.regex.Pattern.compile("v[^e]*p").matcher(seq).find()) "clean_conversion"
          else if (java.util.regex.Pattern.compile("v.*p").matcher(seq).find()) "error_conversion"
          else if (seq.length == 1) "bounce"
          else "engaged"
        (u, cls)
      }
    }
    val expected = classes.groupBy(_._2).map { case (c, ss) =>
      c -> ((ss.size.toLong, ss.map(_._1).distinct.size.toLong)) }
    val got = operators.EventTime.t27(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    // fixture must exercise conversions AND non-conversions
    assert(got.contains("clean_conversion"), s"classes: ${got.keySet}")
    assert(got.size >= 3, s"classes: ${got.keySet}")
  }

  test("t28: deseasonalized residual anomalies match an exact driver replay") {
    val hourly = Tables.events(spark, sf)
      .selectExpr("event_type", "ts_ms div 3600000 AS hr").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case ((t, hr), xs) => (t, hr, xs.size.toLong) }
      .toSeq
    def medLow(vs: Seq[Long]): Long = {
      // first value whose cumulative weight crosses half (t23's rule)
      val sorted = vs.sorted
      sorted((vs.size - 1) / 2)
    }
    val expected = hourly.groupBy(_._1).map { case (t, rows) =>
      val byHod = rows.groupBy(_._2 % 24)
      val rm = rows.map { case (_, hr, n) =>
        val hod = byHod(hr % 24)
        n * 1000L - (hod.map(_._3).sum * 1000L) / hod.size
      }
      val med = medLow(rm)
      val devs = rm.map(v => math.abs(v - med))
      val mad = medLow(devs)
      t -> ((rows.size.toLong, med / 1000.0, mad / 1000.0,
        devs.count(_ > mad * 3).toLong, rm.map(math.abs).max / 1000.0))
    }
    val got = operators.EventTime.t28(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got === expected)
    // the gate must be live but not saturated on this fixture
    assert(got.values.exists(_._4 > 0), "no anomalies flagged")
    assert(got.values.forall(v => v._4 < v._1 / 2), "gate saturated")
  }

  test("t25: CUSUM matches an exact sequential replay; gate is live, not saturated") {
    val hourly = Tables.events(spark, sf)
      .selectExpr("event_type", "(ts_ms div 3600000) * 3600000 AS hour_ms",
        "CAST(value AS DECIMAL(38,4)) AS v")
      .groupBy("event_type", "hour_ms")
      .agg(org.apache.spark.sql.functions.sum("v").as("xd")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val expected = hourly.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ord = es.sortBy(_._2)
      // μ from the exact DECIMAL total — one double division at the end,
      // the same arithmetic the operator and the oracle perform
      val mu = ord.map(e => BigDecimal(e._3)).sum.toDouble / ord.length
      val thr = mu * 1.1
      var s = 0.0
      ord.zipWithIndex.map { case ((et, h, xd), i) =>
        val x = xd.doubleValue
        if (i == 0) s = math.max(0.0, x - thr)
        else s = math.max(0.0, s + x - thr)
        (et, h) -> ((x, math.floor(s * 1e6 + 0.5) / 1e6,
          if (s > mu * 3.0) 1L else 0L))
      }
    }.toMap
    val got = operators.EventTime.t25(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got === expected)
    // the accumulator must actually move, and the decision gate must be
    // discriminating on this fixture (never all-alarm for a series)
    assert(got.values.exists(_._2 > 0.0), "cusum never left zero")
    got.toSeq.groupBy(_._1._1).foreach { case (et, rs) =>
      assert(rs.exists(_._2._3 == 0L), s"$et alarms on every hour")
    }
  }

  test("w08: month-over-month growth matches an exact driver replay") {
    val monthly = Tables.orders(spark, sf)
      .selectExpr("o_orderpriority", "date_format(o_orderdate, 'yyyy-MM') AS m",
        "CAST(o_totalprice AS DECIMAL(38,4)) AS p").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDecimal(2)))
      .groupBy(_._1).map { case (k, xs) =>
        k -> xs.map(x => BigDecimal(x._2)).sum.toDouble
      }
    val expected = monthly.groupBy(_._1._1).flatMap { case (_, ms) =>
      val ord = ms.toSeq.sortBy(_._1._2)
      ord.indices.map { i =>
        val prev = if (i == 0) None else Some(ord(i - 1)._2)
        val growth = prev.map(p => math.floor((ord(i)._2 - p) / p * 1e6 + 0.5) / 1e6)
        ord(i)._1 -> ((ord(i)._2, prev, growth))
      }
    }
    val got = operators.Windows.w08(spark, sf).collect().map { r =>
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (r.getString(0), r.getString(1)) -> ((r.getDouble(2), opt(3), opt(4)))
    }.toMap
    assert(got === expected)
    // exactly one no-predecessor row per priority, and the fixture must
    // exercise both directions of the growth sign
    assert(got.count(_._2._2.isEmpty) === got.keys.map(_._1).toSet.size)
    assert(got.values.flatMap(_._3).exists(_ > 0) &&
      got.values.flatMap(_._3).exists(_ < 0), "growth never changed sign")
  }

  test("w07: ignore-nulls fill matches a driver-side scan in both directions") {
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "ts_ms", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ord = es.sortBy(e => (e._3, e._2))
      val sparse = ord.map(e => if (e._2 % 5 == 0) Some(e._4) else None)
      val ff = sparse.scanLeft(Option.empty[Double])((acc, v) => v.orElse(acc)).tail
      val bf = sparse.scanRight(Option.empty[Double])((v, acc) => v.orElse(acc)).init
      ord.indices.map(i => (ord(i)._1, ord(i)._2) -> ((sparse(i), ff(i), bf(i))))
    }.toMap
    val got = operators.Windows.w07(spark, sf).collect().map { r =>
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (r.getLong(0), r.getLong(1)) -> ((opt(3), opt(4), opt(5)))
    }.toMap
    assert(got === expected)
    // the fixture must exercise real gaps: some rows fill from a
    // non-adjacent observation and leading rows stay null
    assert(got.values.exists { case (s, f, _) => s.isEmpty && f.nonEmpty }, "no forward fill happened")
    assert(got.values.exists(_._2.isEmpty), "no leading-null rows")
  }
}
