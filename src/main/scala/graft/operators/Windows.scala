package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Window / analytic operators (SURVEY §2.8 + the training-pipeline
  * surface): ordered per-key state (lag deltas, running totals,
  * sessionization, as-of joins), grouping sets, pivots, discrete
  * percentiles, gap-filled time series, histograms.
  *
  * Scale design: every window partitions by a high-cardinality key
  * (user_id) so state is distributed; ordering keys are the raw
  * epoch-MICROSECOND longs (exact integer compare, no timestamp
  * conversion in the sort). No driver-side loops: as-of is
  * the union+last_value trick (one shuffle, one sort per partition),
  * not a per-row lookup.
  */
object Windows {

  /** user-ordered window over the raw µs timeline; event_id breaks
    * (theoretical) ties deterministically. */
  private def userTime = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)

  /** ◆ ROLLUP grouping sets — subtotal + grand-total rows in one pass
    * (Spark plans a single shuffle with grouping-id). */
  def rollupQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("suppliers"), round(sum($"s_acctbal"), 2).as("sum_acctbal"))
      .select(
        coalesce($"r_name", lit("ALL")).as("region"),
        coalesce($"n_name", lit("ALL")).as("nation"),
        $"suppliers",
        $"sum_acctbal"
      )
  }

  /** ◆ CUBE grouping sets — all four groupings (both dims, each dim,
    * grand total) in one shuffle with grouping-id. */
  def cubeQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .cube($"r_name", $"n_name")
      .agg(count(lit(1)).as("suppliers"))
      .select(
        coalesce($"r_name", lit("ALL")).as("region"),
        coalesce($"n_name", lit("ALL")).as("nation"),
        $"suppliers"
      )
  }

  /** ◆ Pivot (types → columns) — map-side CASE aggregation, one
    * shuffle on the grouping key only. */
  def pivotQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val piv = Tables
      .eventsRaw(s, dir)
      .withColumn("bucket", $"user_id" % 10)
      .groupBy($"bucket")
      .pivot("event_type", types)
      .count()
    piv.select($"bucket" +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** ◆ Discrete percentiles (p25/p50/p75) — the exact sorted-element
    * quantile (DuckDB `quantile_disc` picks element ceil(q·n), 1-based)
    * via DISTINCT-VALUE COUNTING (the `Raster.areaStats` shape): the
    * raw scan reduces on the partial-agg path to one row per
    * (flag, price) — bounded by the price DOMAIN, not the row count, at
    * any scale — and only those aggregated rows enter the cumulative
    * window. The element at 1-based position k = ceil(q·n) is the first
    * price whose cumulative count reaches k. A raw-row window
    * partitioned by the 3-value flag would funnel the whole fact table
    * through 3 sort tasks; this never sorts raw rows at all. */
  def percentilesQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counted = Tables
      .lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("c"))
    val wCum = Window
      .partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"l_returnflag")
    def pick(q: Double) =
      round(min(when($"cum" >= greatest(lit(1L), ceil(lit(q) * $"cnt")), $"l_extendedprice")), 2)
    counted
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("cnt", sum($"c").over(wAll))
      .groupBy($"l_returnflag")
      .agg(pick(0.25).as("p25"), pick(0.5).as("p50"), pick(0.75).as("p75"), sum($"c").as("n"))
  }

  /** ◆ LAG delta — per-user consecutive-event value difference (the
    * reference's mtime-compare `checkUpdate` generalized to ordered
    * per-key state, `dbops.cpp:441-472`). */
  def lagDeltaQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .eventsRaw(s, dir)
      .withColumn("delta", $"value" - lag($"value", 1).over(userTime))
      .groupBy($"event_type")
      .agg(round(avg($"delta"), 6).as("avg_delta"), count($"delta").as("n_deltas"))
  }

  /** ◆ Running total + peak per user — cumulative frame
    * (rowsBetween unboundedPreceding→current), §2.8's profile
    * accumulation shape. */
  def cumsumQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cum = sum($"value").over(userTime.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    Tables
      .eventsRaw(s, dir)
      .withColumn("cum", cum)
      .groupBy($"user_id")
      .agg(round(max($"cum"), 2).as("peak_total"), count(lit(1)).as("n"))
  }

  /** Per-session table under the gap rule (gaps-and-islands): a
    * silence longer than `gapUs` starts a new session; session id =
    * running count of session starts in event-time order, 1-based per
    * user. Shared by the batch q_sessionize rollup and (as the
    * equivalence oracle) the event-time streaming twin
    * (`streaming/EventsStream.sessionizeEventTime`). Input needs
    * `(user_id, ts)` with ts in µs. */
  def sessionTable(events: DataFrame, gapUs: Long): DataFrame = {
    val uw = Window.partitionBy("user_id").orderBy(col("ts").asc)
    val prev = lag(col("ts"), 1).over(uw)
    events
      .withColumn("new_s", when(prev.isNull || (col("ts") - prev) > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("start_us"), max(col("ts")).as("end_us"))
  }

  /** ◆ Sessionization (gaps-and-islands): a >2h silence starts a new
    * session; session id = running count of session starts. All integer
    * µs math — exact across engines (DuckDB computes the same domain
    * via `epoch_us(ts)`). */
  def sessionizeQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapUs = 2L * 3600 * 1000000L
    val events = Tables.eventsRaw(s, dir)
    sessionTable(events, gapUs)
      .groupBy($"user_id")
      .agg(
        max($"sid").as("n_sessions"),
        round(avg($"n_events"), 4).as("avg_events"),
        round(avg(($"end_us" - $"start_us") / 1e6), 4).as("avg_dur_s")
      )
  }

  /** ◆ As-of join — each purchase matched to the latest click at-or-
    * before it (per user). Expressed as the union + last_value(ignore
    * nulls) trick: ONE shuffle on user_id + one partition-local sort —
    * never a per-row range probe, never a join blowup; this is the
    * shape that survives a 100 TB event log. Output is all-integer
    * (microsecond gap), so the oracle compare is exact. */
  def asofJoinQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsRaw(s, dir) // ts already the µs domain (oracle parity)
    val clicks = ev
      .filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(0).as("kind"), $"event_id", $"ts".as("click_ts"))
    val purchases = ev
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(1).as("kind"), $"event_id", lit(null).cast("long").as("click_ts"))
    // clicks sort before purchases at equal ts → "at or before" semantics
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts").asc, col("kind").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks
      .unionByName(purchases)
      .withColumn("last_click", last($"click_ts", ignoreNulls = true).over(w))
      .filter($"kind" === 1 && $"last_click".isNotNull)
      .select($"event_id", ($"ts" - $"last_click").as("gap_us"))
  }

  /** ◆ Trailing time-RANGE frame — per event, the count/sum of the
    * user's events in the preceding hour (range frame over the µs
    * timeline, not a row frame), rolled up by type. The range frame is
    * evaluated per partition with a sliding pointer — no self-join
    * against the time axis. */
  def trailingWindowQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts").asc)
      .rangeBetween(-3600000000L, 0L) // 1 hour in µs
    Tables
      .eventsRaw(s, dir)
      .withColumn("trail_n", count(lit(1)).over(w))
      .withColumn("trail_sum", sum($"value").over(w))
      .groupBy($"event_type")
      .agg(
        round(avg($"trail_n"), 4).as("avg_trail_n"),
        round(avg($"trail_sum"), 4).as("avg_trail_sum"),
        max($"trail_n").as("max_trail_n")
      )
  }

  /** ◆ q_anomaly — trailing-window z-score outlier detection: each
    * event scored against the PRECEDING 49 events of its own user
    * (frame excludes the current row, so a spike cannot suppress its
    * own baseline), flagged when |value − μ| > 3σ after a 20-event
    * warm-up. The per-key ordered frame is the streaming-compatible
    * shape — the same rule runs under `flatMapGroupsWithState` with a
    * 49-deep ring buffer; here the batch form is one partitioned
    * window, state distributed across users. */
  def anomalyQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = userTime.rowsBetween(-49, -1)
    Tables
      .eventsRaw(s, dir)
      .select(
        $"user_id",
        $"event_id",
        $"value",
        avg($"value").over(w).as("m"),
        stddev($"value").over(w).as("sd"),
        count(lit(1)).over(w).as("n")
      )
      .filter($"n" >= 20 && $"sd" > 0 && abs(($"value" - $"m") / $"sd") > 3.0)
      .select($"user_id", $"event_id", round(($"value" - $"m") / $"sd", 4).as("z"))
  }

  /** ◆ q_transitions — first-order Markov transition matrix of user
    * behavior: per-user event sequences (lag over the user-partitioned
    * timeline) → (prev, next) pair counts → row-normalized transition
    * probabilities. The estimation pass behind session simulation and
    * next-event prediction features. Counts are exact integers and the
    * probability is one division of identical integers in either
    * engine, so the oracle matches bit-for-bit. */
  def transitionsQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seq = Tables
      .eventsRaw(s, dir)
      .select($"user_id", $"event_type", lag($"event_type", 1).over(userTime).as("prev"))
      .filter($"prev".isNotNull)
    val cnt = seq.groupBy($"prev", $"event_type".as("next")).agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy($"prev").agg(sum($"n").as("t"))
    cnt
      .join(tot, Seq("prev"))
      .select($"prev", $"next", $"n", round($"n".cast("double") / $"t", 6).as("p"))
  }

  /** ◆ q_funnel — ordered conversion funnel (view → click → purchase)
    * with a 24 h conversion window per step: step k is each user's
    * FIRST qualifying event strictly after their step-(k−1) time and
    * within the window, so out-of-order events cannot fake a
    * conversion and stale ones do not count. Each step is one
    * type-filtered scan (predicate pushed to parquet) keyed-joined to
    * the previous step's user-sized frame — the chain stays
    * partitioned on user_id throughout, no windows over raw rows.
    * Output: users reaching each depth. */
  def funnelQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val windowMicros = 24L * 3600L * 1000000L
    val ev = Tables.eventsRaw(s, dir)
    def firstAfter(eventType: String, prev: DataFrame, prevTs: String, outTs: String): DataFrame =
      ev.filter($"event_type" === eventType)
        .join(prev, Seq("user_id"))
        .filter($"ts" > col(prevTs) && $"ts" <= col(prevTs) + lit(windowMicros))
        .groupBy($"user_id")
        .agg(min($"ts").as(outTs))
    val v = ev.filter($"event_type" === "view").groupBy($"user_id").agg(min($"ts").as("s1"))
    val c = firstAfter("click", v, "s1", "s2")
    val p = firstAfter("purchase", c.select($"user_id", $"s2"), "s2", "s3")
    val lvl = v
      .select($"user_id")
      .join(c.select($"user_id", lit(1L).as("l2")), Seq("user_id"), "left")
      .join(p.select($"user_id", lit(1L).as("l3")), Seq("user_id"), "left")
      .select($"user_id", (lit(1L) + coalesce($"l2", lit(0L)) + coalesce($"l3", lit(0L))).as("depth"))
    lvl.groupBy($"depth").agg(count(lit(1)).as("n_users"))
  }

  /** ◆ Gap-filled hourly series — dense time spine (sequence/explode) ×
    * dimension values, left join the sparse counts, zero-fill. The spine
    * is generated, never collected. */
  def gapfillQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val bounds = ev.agg(
      date_trunc("hour", min($"ts")).as("h0"),
      date_trunc("hour", max($"ts")).as("h1")
    )
    val spine = bounds
      .select(explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("h"))
      .crossJoin(ev.select($"event_type").distinct())
    val counts = ev
      .groupBy(date_trunc("hour", $"ts").as("h"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
    spine
      .join(counts, Seq("h", "event_type"), "left_outer")
      .select(
        date_format($"h", "yyyy-MM-dd HH:mm:ss").as("hour"),
        $"event_type",
        coalesce($"cnt", lit(0L)).as("n")
      )
  }

  /** ◆ Fixed-width histogram — bucket = floor(value/width); one
    * partial-agg pass. */
  def histogramQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .eventsRaw(s, dir)
      .withColumn("bucket", floor($"value" / 25.0).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), round(avg($"value"), 4).as("avg_value"))
  }

  /** Cohort retention matrix — the product-analytics staple: users
    * cohorted by first-seen week, each later active week counted as
    * (cohort, week_age) distinct users, with the rate normalized by
    * cohort size. Shapes: the first-seen pass and the activity join
    * both key on user_id (the join reuses the aggregation's
    * partitioning), the final matrix is cohort×age-sized, and the
    * cohort-size dimension broadcasts. Week boundaries are integer
    * epoch-microsecond division — no calendar/timezone functions, so
    * both engines bucket identically.
    *
    * activity(user_id, wk: long) → (cohort_wk, week_age, n_users,
    * retention). */
  def retention(activity: DataFrame): DataFrame = {
    val first = activity.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val counts = activity
      .join(first, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_age"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val sizes = first.groupBy(col("cohort_wk")).agg(count(lit(1)).as("cohort_n"))
    counts
      .join(broadcast(sizes), Seq("cohort_wk"))
      .select(
        col("cohort_wk"),
        col("week_age"),
        col("n_users"),
        round(col("n_users") / col("cohort_n"), 6).as("retention")
      )
  }

  /** ◆ q_retention — weekly cohort retention over the events table. */
  def retentionQuery(s: SparkSession, dir: String): DataFrame =
    retention(
      Tables
        .eventsRaw(s, dir)
        .select(col("user_id"), expr("ts div 604800000000").as("wk"))
    )

  /** Slowly-changing-dimension type 2 (Kimball): compress each user's
    * event-type timeline into versioned validity intervals — a new
    * version opens exactly when the attribute CHANGES (lag filter),
    * valid_to is the next version's valid_from (lead), the open
    * version is current — then answer a point-in-time snapshot from
    * the interval table. Both windows partition on user_id and order
    * on the raw integer microseconds with event_id as the total
    * tie-break, so version boundaries are a pure function of the
    * data. One user-keyed shuffle serves every step.
    *
    * events(user_id, tus, event_id, event_type) → one row per user:
    * (user_id, n_versions, current_state, state_at_t). */
  def scd2(ev: DataFrame, tUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus").asc, col("event_id").asc)
    val versions = ev
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("tus"), 1).over(w))
    versions
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_versions"),
        max(when(col("valid_to").isNull, col("event_type"))).as("current_state"),
        max(
          when(
            col("tus") <= tUs && (col("valid_to").isNull || lit(tUs) < col("valid_to")),
            col("event_type")
          )
        ).as("state_at_t")
      )
  }

  /** ◆ q_scd2 — the user event-type dimension versioned SCD2-style,
    * snapshotted at 2024-01-15T00:00:00Z. */
  def scd2Query(s: SparkSession, dir: String): DataFrame =
    scd2(
      Tables
        .eventsRaw(s, dir)
        .select(
          col("user_id"),
          col("ts").as("tus"),
          col("event_id"),
          col("event_type")
        ),
      tUs = 1705276800000000L
    )
}
