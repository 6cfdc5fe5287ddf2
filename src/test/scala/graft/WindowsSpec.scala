package graft

import org.apache.spark.sql.functions._

import graft.operators.Windows

/** Behavior tests for the window/analytics operator batch — semantic
  * guarantees the DuckDB hash-compare can't express (monotonicity,
  * completeness, frame correctness).
  */
class WindowsSpec extends SparkSuite {
  import spark.implicits._

  test("percentiles: p25 <= p50 <= p75, n matches group size") {
    val rows = Windows.percentilesQuery(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p25, p50, p75) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(p25 <= p50 && p50 <= p75)
    }
  }

  test("rollup: has grand-total row equal to the sum of leaf rows") {
    val rows = Windows.rollupQuery(spark, sf0001).collect()
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length === 1)
    val leaves = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) != "ALL")
    assert(leaves.map(_.getLong(2)).sum === grand.head.getLong(2))
  }

  test("pivot: per-bucket type counts sum to total event count") {
    val rows = Windows.pivotQuery(spark, sf0001).collect()
    val total = rows.map(r => (1 to 5).map(r.getLong).sum).sum
    assert(total === Tables.eventsRaw(spark, sf0001).count())
  }

  test("sessionize: session counts >= 1 and avg_events >= 1") {
    val rows = Windows.sessionizeQuery(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L)
      assert(r.getDouble(2) >= 1.0)
    }
  }

  test("as-of join: every purchase matches the latest click at-or-before it") {
    val gaps = Windows.asofJoinQuery(spark, sf0001).collect()
    assert(gaps.nonEmpty)
    gaps.foreach(r => assert(r.getLong(1) >= 0L, "as-of match must not be in the future"))
    // cross-check one row against a brute-force lookup
    val ev = Tables.eventsRaw(spark, sf0001) // ts already epoch-µs
    val purchases = ev.filter($"event_type" === "purchase").select($"event_id", $"user_id", $"ts").collect()
    val clicks = ev.filter($"event_type" === "click").select($"user_id", $"ts").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    val byId = gaps.map(r => r.getLong(0) -> r.getLong(1)).toMap
    purchases.take(50).foreach { p =>
      val prior = clicks.getOrElse(p.getLong(1), Array.empty[Long]).filter(_ <= p.getLong(2))
      if (prior.nonEmpty) assert(byId(p.getLong(0)) === p.getLong(2) - prior.max)
      else assert(!byId.contains(p.getLong(0)))
    }
  }

  test("gapfill: dense spine (hours x types), zero-filled rows preserved") {
    val rows = Windows.gapfillQuery(spark, sf0001).collect()
    val hours = rows.map(_.getString(0)).distinct.length
    val types = rows.map(_.getString(1)).distinct.length
    assert(rows.length === hours * types, "spine must be dense")
    assert(rows.map(_.getLong(2)).sum === Tables.eventsRaw(spark, sf0001).count())
  }

  test("histogram: bucket counts rebuild the total; buckets are value/25") {
    val rows = Windows.histogramQuery(spark, sf0001).collect()
    assert(rows.map(_.getLong(1)).sum === Tables.eventsRaw(spark, sf0001).count())
    rows.foreach { r =>
      val (bucket, avg) = (r.getLong(0), r.getDouble(2))
      assert(avg >= bucket * 25.0 && avg < (bucket + 1) * 25.0)
    }
  }

  test("cumsum: peak equals per-user value sum for positive values") {
    // events.value >= 0, so the running max IS the total sum per user
    val peaks = Windows.cumsumQuery(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sums = Tables.eventsRaw(spark, sf0001)
      .groupBy($"user_id").agg(round(sum($"value"), 2).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(peaks === sums)
  }

  test("lag delta: global deltas count = events - users") {
    val rows = Windows.lagDeltaQuery(spark, sf0001).collect()
    val nDeltas = rows.map(_.getLong(2)).sum
    val ev = Tables.eventsRaw(spark, sf0001)
    val users = ev.select($"user_id").distinct().count()
    assert(nDeltas === ev.count() - users)
  }

  test("anomaly: planted spike detected, spike excluded from its own baseline") {
    import org.apache.spark.sql.functions._
    // user 1: 60 near-constant values then one spike; user 2: pure
    // noise-free constant (sd = 0 -> never flagged, no div-by-zero)
    val base = (0 until 60).map(i => (1L, i.toLong, i.toLong * 1000L, 100.0 + (i % 3) * 0.1)) :+
      (1L, 60L, 60000L, 500.0)
    val flat = (0 until 30).map(i => (2L, 100L + i, i.toLong * 1000L, 7.0))
    val df = spark
      .createDataFrame(base ++ flat)
      .toDF("user_id", "event_id", "ts", "value")
    // same pipeline as anomalyQuery, against the local frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-49, -1)
    val out = df
      .select(
        col("user_id"),
        col("event_id"),
        col("value"),
        avg(col("value")).over(w).as("m"),
        stddev(col("value")).over(w).as("sd"),
        count(lit(1)).over(w).as("n")
      )
      .filter(col("n") >= 20 && col("sd") > 0 && abs((col("value") - col("m")) / col("sd")) > 3.0)
      .collect()
    assert(out.map(_.getLong(1)).toSet === Set(60L), s"exactly the spike flags, got ${out.mkString(",")}")
  }

  test("scd2: planted timeline versions correctly, snapshot lands mid-interval") {
    // user 1: A(10) A(20) B(30) B(40) A(50) -> versions A[10,30) B[30,50) A[50,∞)
    // user 2: single C(5) -> one open version
    val ev = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "B"), (1L, 50L, 5L, "A"),
      (2L, 5L, 6L, "C")
    ).toDF("user_id", "tus", "event_id", "event_type")
    val out = Windows.scd2(ev, tUs = 35L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, "A", "B")), s"got ${out(1L)}")
    assert(out(2L) === ((1L, "C", "C")))
    // snapshot before a user's first version -> null state
    val early = Windows.scd2(ev, tUs = 1L).collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(early(1L).isEmpty && early(2L).isEmpty)
  }

  test("retention: planted cohorts produce the expected matrix") {
    // cohort week 100: users 1,2 (u1 returns weeks 101 and 103; u2 never)
    // cohort week 101: user 3 (returns week 102)
    val act = Seq(
      (1L, 100L), (1L, 100L), (1L, 101L), (1L, 103L),
      (2L, 100L),
      (3L, 101L), (3L, 102L)
    ).toDF("user_id", "wk")
    val out = Windows.retention(act).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out((100L, 0L)) === ((2L, 1.0)), "whole cohort active at age 0")
    assert(out((100L, 1L)) === ((1L, 0.5)))
    assert(out((100L, 3L)) === ((1L, 0.5)))
    assert(out((101L, 0L)) === ((1L, 1.0)))
    assert(out((101L, 1L)) === ((1L, 1.0)))
    assert(!out.contains((100L, 2L)), "no activity, no row")
    assert(out.size === 5)
  }
}
