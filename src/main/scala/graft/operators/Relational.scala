package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational operator inventory (SURVEY.md §2.2–§2.6, §2.8) expressed
  * Spark-first over the driver's TPC-H-ish tables. Every ◆ operator
  * family from the reference appears here as a DuckDB-checkable query.
  *
  * Scale design notes (local[32] tests, 1000-executor target):
  *  - Dimension-side joins (`nation`, `region`) are `broadcast()` —
  *    they stay tiny at any SF, so no shuffle on the fact side.
  *  - Fact⋈fact joins (orders⋈lineitem) shuffle on the join key; AQE
  *    handles skew. No `collect()` anywhere in a plan.
  *  - Aggregations rely on Spark's partial/final hash agg (map-side
  *    combine) — the reference's SQLite has no equivalent (§4.2).
  *  - `round(sum(x), 2)` on money columns keeps double summation-order
  *    noise out of the oracle hash-compare.
  */
object Relational {

  private def money(c: Column): Column = round(c, 2)

  /** ◆ GROUP BY + SUM/COUNT — reference: dataset size rollup
    * (`entry.cpp:961-980`) + count aggregates (`database.cpp:227-235`).
    * TPC-H Q1 shape: partial agg combines map-side before one shuffle. */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        money(sum($"l_quantity")).as("sum_qty"),
        money(sum($"l_extendedprice")).as("sum_base_price"),
        money(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )
  }

  /** ◆ Wildcard LIKE filter — reference: path wildcard search
    * (`dbops.cpp:760-771`, `916-987`). Filter is pushed into the
    * parquet scan (StringContains in PushedFilters). */
  def likeScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .part(s, dir)
      .filter($"p_name".like("%wid%"))
      .select($"p_partkey", $"p_name", $"p_brand")
  }

  /** ◆ Left outer join + per-key aggregation — reference: entries LEFT
    * JOIN entries_meta with correlated JSON agg (`dbops.cpp:941-964`).
    * The meta side is pre-aggregated before the join (one shuffle each
    * side, co-partitioned on the key). */
  def metaJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ordAgg = Tables
      .orders(s, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("order_count"), money(sum($"o_totalprice")).as("total_spent"))
    Tables
      .customer(s, dir)
      .join(ordAgg, $"c_custkey" === $"o_custkey", "left_outer")
      .select(
        $"c_custkey",
        $"c_name",
        coalesce($"order_count", lit(0L)).as("order_count"),
        coalesce($"total_spent", lit(0.0)).as("total_spent")
      )
  }

  /** ◆ Left-anti join — reference: delta adds (`delta.cpp:131-149`):
    * rows on one side with no (key) match on the other. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
    Tables
      .customer(s, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
  }

  /** ◆ Left-semi join (EXISTS) — reference: pathExists / conflict
    * detection (`dbops.cpp:1316-1322`, `registry.cpp:358-508`). */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigOrders = Tables.orders(s, dir).filter($"o_totalprice" > 150000.0)
    Tables
      .customer(s, dir)
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_mktsegment")
  }

  /** ◆ Set difference — reference: meta-id diff via EXCEPT semantics
    * (`delta.cpp:177-197`). */
  def exceptIds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = Tables.supplier(s, dir).select($"s_suppkey".as("suppkey"))
    val used = Tables
      .lineitem(s, dir)
      .filter($"l_quantity" >= 48.0)
      .select($"l_suppkey".as("suppkey"))
    all.except(used)
  }

  /** ◆ Union + dedup — reference: multi-pattern list merge
    * (`dbops.cpp:514-536`). */
  def unionDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Tables.customer(s, dir).select($"c_nationkey".as("nationkey"))
    val b = Tables.supplier(s, dir).select($"s_nationkey".as("nationkey"))
    a.unionByName(b).dropDuplicates("nationkey")
  }

  /** ◆ MIN/MAX temporal extent — reference: dataset extent
    * (`database.cpp:395-458`), formatted as ISO dates. */
  def minMaxExtent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .orders(s, dir)
      .agg(
        date_format(min($"o_orderdate"), "yyyy-MM-dd").as("min_date"),
        date_format(max($"o_orderdate"), "yyyy-MM-dd").as("max_date"),
        count(lit(1)).as("n")
      )
  }

  /** ◆ GROUP BY + COUNT — reference: meta listing
    * (`metamanager.cpp:198-218`). */
  def countGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).groupBy($"event_type").agg(count(lit(1)).as("n"))
  }

  /** ◆ ORDER BY + LIMIT/OFFSET paging — reference: STAC paging
    * (`stac.cpp:666-680`). Spark plans a global TakeOrderedAndProject —
    * no full sort materialization. Tie-broken on the key so the page is
    * deterministic. */
  def paging(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .orders(s, dir)
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .select(
        $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
        money($"o_totalprice").as("total_price")
      )
      .offset(5)
      .limit(10)
  }

  /** ◆ Top-k by measure — `orderBy(...).limit(k)` →
    * TakeOrderedAndProject (per-partition heap + driver merge, no global
    * sort shuffle). */
  def topK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .customer(s, dir)
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
      .select($"c_custkey", money($"c_acctbal").as("acctbal"))
      .limit(10)
  }

  /** ◆ JSON extraction — reference: `json_extract` over `properties`
    * (`database.cpp:397-400`, `dbops.cpp:943`). Kept as a JSON string
    * column + `get_json_object`, exactly like the reference keeps
    * schemaless JSON in a TEXT column. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .events(s, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
  }

  /** ◆ Temporal range filter — reference: STAC datetime predicate
    * (`stac.cpp:643-651`). The bounds are compared against the RAW
    * TIMESTAMP_NTZ column with foldable timestamp literals so they
    * push into the parquet scan and prune row groups via min/max
    * stats; a predicate on a derived `unix_micros(ts)` column would
    * not push down (verified via `.explain("formatted")`:
    * `PushedFilters: [GreaterThanOrEqual(ts,...), LessThan(ts,...)]`). */
  def temporalFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def ntz(isoLocal: String) = lit(java.time.LocalDateTime.parse(isoLocal))
    Tables
      .eventsNtz(s, dir)
      .filter($"ts" >= ntz("2024-01-10T00:00:00") && $"ts" < ntz("2024-01-20T00:00:00"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), money(sum($"value")).as("sum_value"))
  }

  /** ◆ CASE expression — reference: polygon-else-point geometry choice
    * (`stac.cpp:505-511`). */
  def caseWhen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .orders(s, dir)
      .withColumn(
        "bucket",
        when($"o_totalprice" > 200000.0, lit("large"))
          .when($"o_totalprice" > 50000.0, lit("medium"))
          .otherwise(lit("small"))
      )
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"))
  }

  /** ◆ Window row_number paging — reference: OFFSET paging re-expressed
    * as a window (§2.8); partitioned so state stays distributed. */
  def windowTopPerKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables
      .orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey".as("top_orderkey"), money($"o_totalprice").as("top_price"))
  }

  /** ◆ Full-outer conflict join — reference: applyDelta merge
    * (`registry.cpp:358-508`): rows may exist on either side only. */
  def fullOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cn = Tables.customer(s, dir).groupBy($"c_nationkey".as("nationkey")).agg(count(lit(1)).as("customers"))
    val sn = Tables.supplier(s, dir).groupBy($"s_nationkey".as("nationkey")).agg(count(lit(1)).as("suppliers"))
    cn.join(sn, Seq("nationkey"), "full_outer")
      .select(
        $"nationkey",
        coalesce($"customers", lit(0L)).as("customers"),
        coalesce($"suppliers", lit(0L)).as("suppliers")
      )
  }

  /** ◆ Multi-way join — customer⋈orders⋈lineitem revenue (TPC-H Q3
    * shape). The two fact tables sort-merge/shuffle-hash join on
    * `o_orderkey`; the `nation` dim is broadcast. Headline bench query. */
  def q3Revenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables
      .customer(s, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val ord = Tables
      .orders(s, dir)
      .filter($"o_orderdate" < lit("1995-03-15"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val li = Tables
      .lineitem(s, dir)
      .filter($"l_shipdate" > lit("1995-03-15"))
      .select($"l_orderkey", ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    ord
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg(money(sum($"rev")).as("revenue"))
      .orderBy($"revenue".desc, $"o_orderkey".asc)
      .select($"o_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"), $"revenue")
      .limit(10)
  }

  /** ◆ Broadcast dim join — region⋈nation⋈supplier rollup. Both dims
    * are explicitly `broadcast()`: at 100 TB the fact side never
    * shuffles for a dimension lookup. */
  def dimRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("suppliers"), money(avg($"s_acctbal")).as("avg_acctbal"))
  }

  /** ◆/◇ Stats aggregate — reference: raster area stats min/max/mean/
    * stddev/median/count (`raster_analysis.cpp:318-507`), here over a
    * numeric fact column. Median is the exact *discrete* median (sorted
    * middle element, mirroring the reference's sort+middle in
    * `raster_analysis.cpp:396-417`) — interpolating medians differ
    * across engines in the last ulp, a discrete one is bit-exact. */
  def statsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // two partial-agg passes, zero raw-row sorts: min/max/avg/stddev/n
    // ride the plain agg path (all partial-aggregatable), and the exact
    // discrete median comes from DISTINCT-VALUE COUNTING (the
    // `Raster.areaStats` shape) — the cumulative window runs over one
    // row per (flag, price), bounded by the price DOMAIN at any scale.
    // The old shape (row_number over a 3-value partition key) funneled
    // the whole fact table through 3 sort tasks.
    val basic = Tables
      .lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        money(min($"l_extendedprice")).as("min_price"),
        money(max($"l_extendedprice")).as("max_price"),
        money(avg($"l_extendedprice")).as("avg_price"),
        money(stddev_pop($"l_extendedprice")).as("std_price"),
        count(lit(1)).as("n")
      )
    val counted = Tables
      .lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("c"))
    val wCum = Window
      .partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val median = counted
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("cnt", sum($"c").over(Window.partitionBy($"l_returnflag")))
      .groupBy($"l_returnflag")
      // k = (n+1) div 2, the 1-based discrete-median position; the
      // median is the first price whose cumulative count reaches k
      .agg(money(min(when($"cum" >= floor(($"cnt" + 1) / 2), $"l_extendedprice"))).as("median_price"))
    basic
      .join(median, Seq("l_returnflag")) // two 3-row aggregates: AQE broadcasts
      .select($"l_returnflag", $"min_price", $"max_price", $"avg_price", $"std_price", $"median_price", $"n")
  }

  /** ◆ Distinct — reference: path dedup (`dbops.cpp:531-536`). */
  def distinctSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir).select($"c_mktsegment").distinct()
  }

  /** ◆ Delta adds through `Sync.deltaAdds` itself — two snapshots of
    * the events table (dest drops every 7th row and modifies every
    * 11th) diffed on the (path, hash) composite key, exactly the
    * reference's push/pull delta (`delta.cpp:131-149`). */
  def deltaAddsQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val source = Tables
      .eventsRaw(s, dir)
      .select($"event_id".cast("string").as("path"), $"value".cast("string").as("hash"))
    val dest = Tables
      .eventsRaw(s, dir)
      .filter($"event_id" % 7 =!= 0)
      .select(
        $"event_id".cast("string").as("path"),
        when($"event_id" % 11 === 0, ($"value" + 1.0)).otherwise($"value").cast("string").as("hash")
      )
    graft.core.Sync.deltaAdds(source, dest).orderBy($"path")
  }

  /** ◆ Ordered stamp digest through `Sync.stampChecksum` — the
    * order-sensitive SHA256 fold (`database.cpp:288-331`) computed over
    * an events-derived entries snapshot, checked against DuckDB's
    * `sha256(string_agg(... ORDER BY path))`. */
  def stampChecksumQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val entries = Tables
      .eventsRaw(s, dir)
      .select($"event_id".cast("string").as("path"), $"value".cast("string").as("hash"))
    val meta = Seq.empty[(String, String)].toDF("id", "x").select($"id")
    val checksum = graft.core.Sync.stampChecksum(entries, meta)
    Seq(checksum).toDF("checksum")
  }

  /** ◆ Per-path meta JSON through `Meta.perPathJson` — the plural→array
    * / singular→object aggregation (`dbops.cpp:944-958`, SURVEY hard
    * part §7.4.2) over meta rows synthesized from events: every
    * event_type+"s" key is plural (many rows per user), one singular
    * "profile" key per user. */
  def metaJsonQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsRaw(s, dir)
    val plural = ev.select(
      concat(lit("e"), $"event_id").as("id"),
      concat(lit("u"), $"user_id").as("path"),
      concat($"event_type", lit("s")).as("key"),
      $"value".cast("string").as("data"),
      $"event_id".as("mtime")
    )
    val singular = ev
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"))
      .select(
        concat(lit("p"), $"user_id").as("id"),
        concat(lit("u"), $"user_id").as("path"),
        lit("profile").as("key"),
        $"n".cast("string").as("data"),
        lit(0L).as("mtime")
      )
    graft.core.Meta.perPathJson(plural.unionByName(singular)).orderBy("path")
  }

  /** ◆ Delta removes through `Sync.deltaRemoves` — dest entries with no
    * source row sharing (path, directory-ness), ref `delta.cpp:151-162`;
    * every 13th path is a "directory" (hash=""), source drops every 7th
    * row. */
  def deltaRemovesQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def snap(df: DataFrame) = df.select(
      $"event_id".cast("string").as("path"),
      when($"event_id" % 13 === 0, lit("")).otherwise($"value".cast("string")).as("hash")
    )
    val dest = snap(Tables.eventsRaw(s, dir))
    val source = snap(Tables.eventsRaw(s, dir).filter($"event_id" % 7 =!= 0))
    graft.core.Sync.deltaRemoves(source, dest)
  }

  /** ◆ Status classification through `Sync.status` — full-outer
    * index↔fs join with the mtime-before-hash short-circuit cascade
    * (`dbops.cpp:441-472`, `status.cpp:16-77`), rolled up to counts.
    * fs drops every 17th row (deleted), bumps mtime on every 5th
    * (forces the hash consult), changes hash on every 10th (modified);
    * index lacks every 19th row (not_indexed). */
  def statusQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsRaw(s, dir)
    val index = ev
      .filter($"event_id" % 19 =!= 0)
      .select(
        $"event_id".cast("string").as("path"),
        ($"event_id" % 1000).as("mtime"),
        $"value".cast("string").as("hash")
      )
    val fs = ev
      .filter($"event_id" % 17 =!= 0)
      .select(
        $"event_id".cast("string").as("path"),
        when($"event_id" % 5 === 0, $"event_id" % 1000 + 1).otherwise($"event_id" % 1000).as("mtime"),
        when($"event_id" % 10 === 0, ($"value" + 1.0)).otherwise($"value").cast("string").as("hash")
      )
    graft.core.Sync.status(index, fs).groupBy($"status").agg(count(lit(1)).as("n"))
  }

  /** ◆ Folder-consistency repair through `Index.missingFolders` —
    * explode path prefixes, anti-join against directory rows
    * (`dbops.cpp:1284-1314`); synthetic paths have no directory rows,
    * so every parent prefix is missing. */
  def folderRepairQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val entries = Tables
      .documents(s, dir)
      .select(
        concat($"source", lit("/"), $"lang", lit("/doc_"), $"doc_id", lit(".txt")).as("path"),
        lit(graft.model.EntryType.Generic).as("entryType")
      )
    graft.core.Index.missingFolders(entries)
  }

  /** ◆ Upsert through `Ingest.upsert` — the reference's add/update
    * transaction (`dbops.cpp:629-715`) as union + newest-mtime-wins
    * (incoming breaks ties) row_number dedup. Incoming modifies every
    * 4th row (newer mtime), re-sends every 6th unchanged (same mtime —
    * incoming wins the tie), and adds fresh paths. */
  def upsertQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsRaw(s, dir)
    val index = ev.select(
      $"event_id".cast("string").as("path"),
      $"value".cast("string").as("hash"),
      ($"event_id" % 1000).as("mtime")
    )
    val modified = ev
      .filter($"event_id" % 4 === 0)
      .select(
        $"event_id".cast("string").as("path"),
        ($"value" + 7.0).cast("string").as("hash"),
        ($"event_id" % 1000 + 5).as("mtime")
      )
    val resent = ev // same mtime, different hash — the tie incoming wins
      .filter($"event_id" % 6 === 0 && $"event_id" % 4 =!= 0)
      .select(
        $"event_id".cast("string").as("path"),
        ($"value" + 3.0).cast("string").as("hash"),
        ($"event_id" % 1000).as("mtime")
      )
    val fresh = ev
      .filter($"event_id" % 9 === 0)
      .select(
        concat(lit("new/"), $"event_id").as("path"),
        $"value".cast("string").as("hash"),
        ($"event_id" % 1000).as("mtime")
      )
    graft.sources.Ingest.upsert(index, modified.unionByName(resent).unionByName(fresh))
  }

  /** ◆ applyDelta with KeepTheirs through `Sync.applyDelta` — full
    * outer local↔adds merge (`registry.cpp:358-508`), then the removes
    * anti-join. Adds modify every 11th hash; removes drop every 23rd
    * path. */
  def applyDeltaQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsRaw(s, dir)
    val local = ev.select($"event_id".cast("string").as("path"), $"value".cast("string").as("hash"))
    val adds = ev
      .filter($"event_id" % 11 === 0)
      .select($"event_id".cast("string").as("path"), ($"value" + 1.0).cast("string").as("hash"))
    val removes = ev.filter($"event_id" % 23 === 0).select($"event_id".cast("string").as("path"))
    graft.core.Sync.applyDelta(local, adds, removes, graft.core.Sync.KeepTheirs)
  }

  /** ◆ Meta key listing through `Meta.listKeys` — GROUP BY path, key
    * with counts (`metamanager.cpp:198-218`) over meta rows synthesized
    * from events. */
  def metaListQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val meta = Tables
      .eventsRaw(s, dir)
      .select(
        concat(lit("u"), $"user_id" % 50).as("path"),
        concat($"event_type", lit("s")).as("key")
      )
    graft.core.Meta.listKeys(meta)
  }

  /** ◆ STAC ItemCollection shape (`stac.cpp:597-713`): geometry
    * presence + bbox + temporal filter, numberMatched as a separate
    * count aggregate broadcast onto the ORDER BY path LIMIT/OFFSET
    * page — the reference itself runs two queries
    * (`stac.cpp:654-664` count + `666-680` page), and the two-scan
    * shape avoids the single-partition global-window funnel at scale.
    * Paths are zero-padded so lexicographic order is the numeric
    * order. */
  def stacPageQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val entries = Tables
      .eventsRaw(s, dir)
      .select(
        lpad($"event_id".cast("string"), 8, "0").as("path"),
        (($"event_id" * 7919) % 36000 / 100.0 - 180.0 + 0.005).as("lon"),
        (($"event_id" * 104729) % 18000 / 100.0 - 90.0 + 0.005).as("lat"),
        expr("ts div 1000000").as("instant")
      )
    val filtered = entries
      .filter($"lon" >= -90.0 && $"lon" <= 90.0 && $"lat" >= -45.0 && $"lat" <= 45.0)
      .filter($"instant" >= 1704844800L) // 2024-01-10T00:00:00Z
    val matched = filtered.agg(count(lit(1)).as("matched"))
    filtered
      .orderBy($"path")
      .offset(3)
      .limit(10)
      .crossJoin(broadcast(matched))
      .select($"path", $"lon", $"lat", $"instant", $"matched")
  }

  /** ◆ Hourly tumbling rollup — batch shape of the streaming windowed
    * agg (§2.9); `date_trunc` keeps it DuckDB-checkable. */
  def hourlyRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .events(s, dir)
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Dataset profiler (the Deequ/Great-Expectations analyzer shape):
    * per-column row count, null count, exact distinct cardinality,
    * completeness, min/max (stringified so one schema serves every
    * type), and mean string length — the data-quality summary a
    * curation pipeline gates ingest on. ONE scan computes every
    * statistic: all aggregates ride a single `agg` (the multi-DISTINCT
    * plan is Catalyst's Expand — a constant ×columns row blow-up that
    * partial-aggregates map-side; nothing collects), then the 1-row
    * result unpivots via `stack` into one row per column. Completeness
    * divides two integers — bit-identical across engines. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val isStr = cols
      .map(c => c -> (df.schema(c).dataType == org.apache.spark.sql.types.StringType))
      .toMap
    val aggs = count(lit(1)).as("_n") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_dist"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"),
        (if (isStr(c)) round(avg(length(col(c))), 4) else lit(null).cast("double"))
          .as(s"${c}_len")
      )
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols
      .map(c =>
        s"'$c', _n, ${c}_nulls, ${c}_dist, round((_n - ${c}_nulls) / _n, 6), ${c}_min, ${c}_max, ${c}_len"
      )
      .mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, n_rows, n_nulls, n_distinct, completeness, min_value, max_value, avg_len)"
    )
  }

  /** ◆ q_col_profile — every column of the documents table profiled
    * in one pass. */
  def colProfileQuery(s: SparkSession, dir: String): DataFrame =
    profileColumns(
      Tables.documents(s, dir),
      Seq("doc_id", "text", "lang", "source", "n_chars")
    )
}
