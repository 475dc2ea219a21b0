package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Salting
import graft.tables.Tables
import graft.timeseries.{Attribution, Currency, Infer, Merge, Resample}

/** Driver contract (SURVEY.md §2.1 query inventory).
  *
  * Every entry in `queries` has a matching DuckDB oracle in `oracleSql`;
  * output column NAMES and TYPES are pinned on both sides (explicit casts)
  * because the driver hash-compares values after sorting columns by name.
  * Every query ends in a total ORDER BY.
  */
object SparkEntry {

  private def hourly(t: DataFrame): DataFrame =
    t.withColumn("bucket_ts", col("secs") - pmod(col("secs"), lit(3600L)))

  /** M1 first-wins winner per (symbol, hour) — shared by qi_m1 and qi_h6. */
  private def mergedHourly(t: DataFrame): DataFrame =
    Merge.firstWins(hourly(t), Seq("symbol", "bucket_ts"), "priority", Seq("arrival"))

  private val mergedHourlySql: String =
    """tb AS (SELECT *, secs - secs % 3600 AS bucket_ts FROM ticks),
      |w AS (SELECT *, row_number() OVER (PARTITION BY symbol, bucket_ts ORDER BY priority, arrival) AS rn FROM tb),
      |m AS (SELECT * FROM w WHERE rn = 1)""".stripMargin

  private def withTicks(body: String): String =
    s"WITH ticks AS (${Tables.ticksSql}),\n$body"

  /** Oracle-facing rename for OHLC aggregated over `price_micros`: the unit
    * change is part of the column name so the BIGINT cutover (VERDICT r2
    * "Next round" #1) is explicit on both sides of the hash compare.
    */
  private def microsOhlc(df: DataFrame): DataFrame =
    df.withColumnsRenamed(Map(
      "open" -> "open_micros", "high" -> "high_micros",
      "low" -> "low_micros", "close" -> "close_micros"))

  // ---------------------------------------------------------------- flagship

  /** Flagship §3.1 history pipeline on sf0.001: per-provider daily resample →
    * priority merge → attribution join. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables.ticks(spark, "/root/testdata/sf0.001")
    val byProv = Seq("prov_a", "prov_b").map { p =>
      Resample.toDaily(t.filter(col("provider") === p))
        .withColumn("provider", lit(p))
    }
    val tagged = byProv.zipWithIndex.map { case (df, i) => df.withColumn("priority", lit(i.toLong)) }
    val merged = Merge.firstWins(tagged.reduce(_ unionByName _), Seq("symbol", "bucket_ts"), "priority")
    val attribution = Attribution.spans(merged, Seq("symbol"), "bucket_ts")
    merged.join(attribution,
        merged("symbol") === attribution("symbol") &&
        merged("bucket_ts").between(attribution("span_start"), attribution("span_end")),
        "left_semi")
      .orderBy("symbol", "bucket_ts")
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++
    graft.pipeline.PipelineQueries.queries

  /** Query names picked by an optional comma-separated filter, the way
    * `Bench` and `Verify` take it on the command line (all queries when
    * absent). An unknown name fails instead of silently narrowing the run.
    */
  def selectQueries(filter: Option[String]): Vector[String] = {
    val all = queries.keys.toVector
    filter.fold(all) { f =>
      val wanted = f.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = wanted.filterNot(all.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      all.filter(wanted)
    }
  }

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // QI-TPCH sanity (TPC-H Q1 shape) — integer fixed-point outputs: the
    // decimal→int scaling is the single rounding step (decimal(18,2)*100 is
    // integral by construction), so sums are exact BIGINTs on both sides.
    // qty ×100; revenue in cent·percent (×10⁴ of dollars).
    "q1_tpch_agg" -> ((s, dir) => {
      val cents = (c: Column) => (c.cast(DecimalType(18, 2)) * 100).cast(LongType)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_x100"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("sum_revenue_x10k"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // QI-R2 daily OHLCV resample (R1+R2) — integer micro-unit outputs
    "qi_r2_daily" -> ((s, dir) => {
      microsOhlc(Resample.toDaily(Tables.ticks(s, dir), priceCol = "price_micros"))
        .orderBy("symbol", "bucket_ts")
    }),

    // QI-R3 Monday-anchored weekly resample (R3)
    "qi_r3_weekly" -> ((s, dir) => {
      microsOhlc(Resample.toWeekly(Tables.ticks(s, dir), priceCol = "price_micros"))
        .orderBy("symbol", "bucket_ts")
    }),

    // QI-R5 5-minute resample (R5)
    "qi_r5_minutes" -> ((s, dir) => {
      microsOhlc(Resample.toMinutes(Tables.ticks(s, dir), 5, priceCol = "price_micros"))
        .orderBy("symbol", "bucket_ts")
    }),

    // QI-M1 priority merge, first-wins on (symbol, hour) (M1/M2)
    "qi_m1_merge" -> ((s, dir) => {
      mergedHourly(Tables.ticks(s, dir))
        .select("symbol", "bucket_ts", "price_micros", "volume", "provider", "arrival")
        .orderBy("symbol", "bucket_ts")
    }),

    // QI-M3 action dedup with canonical (ts, kind-rank, payload) order (M3)
    "qi_m3_actions" -> ((s, dir) => {
      val acts = Tables.ticks(s, dir)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(
          (col("secs") - pmod(col("secs"), lit(86400L))).as("ts"),
          when(col("event_type") === "click", "dividend")
            .when(col("event_type") === "view", "split")
            .otherwise("capital_gain").as("kind"),
          (col("volume") % 10).as("amount"),
          col("currency"))
      Merge.dedupActions(acts)
    }),

    // QI-I1 step inference: unique mode else lower median (I1)
    "qi_i1_step" -> ((s, dir) => {
      Infer.estimateStepSeconds(Tables.ticks(s, dir))
        .select(col("symbol"), col("step_seconds").cast(LongType).as("step_seconds"))
        .orderBy("symbol")
    }),

    // QI-I2 subdaily flag (I2)
    "qi_i2_subdaily" -> ((s, dir) => {
      Infer.isSubdaily(Tables.ticks(s, dir)).orderBy("symbol")
    }),

    // QI-H6 provider attribution spans over the merged series (H6)
    "qi_h6_attribution" -> ((s, dir) => {
      Attribution.spans(mergedHourly(Tables.ticks(s, dir)), Seq("symbol"), "bucket_ts")
    }),

    // QI-H9 keepna-vs-dropna (request flags): 'error' events become NA
    // prices; the dropna path (keepna=false, Flags.dropNa) feeds the daily
    // OHLC while n_na counts the rows only keepna=true would retain
    "qi_h9_keepna" -> ((s, dir) => {
      val t = Tables.ticks(s, dir).withColumn("pm",
        when(col("event_type") === "error", lit(null).cast(LongType))
          .otherwise(col("price_micros")))
      val kept = graft.timeseries.Flags.dropNa(t, Seq("pm"))
      val ohlc = microsOhlc(
        Resample.resampleTicks(kept, Resample.dailyBucket(col("secs")),
          Seq("symbol"), priceCol = "pm"))
      val na = t.groupBy(col("symbol"),
          Resample.dailyBucket(col("secs")).as("bucket_ts"))
        .agg(sum(when(col("pm").isNull, 1L).otherwise(0L)).as("n_na"))
      ohlc.join(na, Seq("symbol", "bucket_ts"))
        .orderBy("symbol", "bucket_ts")
    }),

    // QI-S2 dedup-by-exchange-preference (S2): prov_b preferred
    "qi_s2_dedup_pref" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val rank = when(col("provider") === "prov_b", 0).otherwise(1)
      val wSym = Window.partitionBy("symbol")
      val w = wSym.orderBy(rank, col("arrival"))
      t.withColumn("rn", row_number().over(w))
        .withColumn("first_seen", min(col("arrival")).over(wSym))
        .filter(col("rn") === 1)
        .select("symbol", "provider", "price_micros", "arrival", "first_seen")
        .orderBy("first_seen", "symbol")
    }),

    // QI-H4/F5 adjusted-flag algebra: bool_and + first-by-priority (H4, M1 flags)
    "qi_h4_flags" -> ((s, dir) => {
      Tables.ticks(s, dir)
        .groupBy("symbol")
        .agg(
          bool_and(col("adjusted")).as("all_adjusted"),
          min_by(col("provider"), col("priority") * 10000000000L + col("arrival")).as("first_provider"),
          sum(when(col("adjusted"), 1L).otherwise(0L)).as("n_adjusted"))
        .orderBy("symbol")
    }),

    // QI-C2 currency-uniformity diagnostic (C2/H5)
    "qi_c2_currency" -> ((s, dir) => {
      Currency.violations(Tables.ticks(s, dir), Seq("symbol"))
    }),

    // QI-ST8 monotonic timestamp gate, batch replay (ST8)
    "qi_st8_gate" -> ((s, dir) => {
      val w = Window.partitionBy("symbol").orderBy("arrival")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.ticks(s, dir)
        .withColumn("prev_max", max(col("secs")).over(w))
        .filter(col("prev_max").isNull || col("secs") >= col("prev_max"))
        .select("symbol", "arrival", "secs")
        .orderBy("symbol", "arrival")
    }),

    // QI-Q2 info composition: multi-source left joins + COALESCE precedence (Q2)
    "qi_q2_info_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val o = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("order_cnt"),
          sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType))
            .as("total_spent_cents"))
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
        .join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("n_name"), lit("UNKNOWN")).as("nation_name"),
          coalesce(col("order_cnt"), lit(0L)).as("order_cnt"),
          coalesce(col("total_spent_cents"), lit(0L)).as("total_spent_cents"))
        .orderBy("c_custkey")
    }),

    // QI-H8 bulk download summary: whole-range candle per symbol (H8)
    "qi_h8_bulk" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      t.groupBy("symbol")
        .agg(
          min_by(col("price_micros"), col("ts")).as("open_micros"),
          max(col("price_micros")).as("high_micros"),
          min(col("price_micros")).as("low_micros"),
          max_by(col("price_micros"), col("ts")).as("close_micros"),
          sum(col("volume")).as("volume"),
          count(lit(1)).as("n_ticks"))
        .orderBy("symbol")
    }),

    // QI-R4 fixed-offset daily resample (R4, offset form): local midnight at
    // UTC-5 emitted back as UTC epoch
    "qi_r4_offset_daily" -> ((s, dir) => {
      microsOhlc(Resample.toDailyOffset(Tables.ticks(s, dir), -18000L, priceCol = "price_micros"))
        .orderBy("symbol", "bucket_ts")
    }),

    // QI-Q5 join-heavy revenue rollup: lineitem ⋈ orders ⋈ customer ⋈
    // broadcast(nation), decimal-exact, ordered by revenue
    // QI-SKEW salted two-phase aggregation: the ticks feed has 15 symbols
    // over the whole corpus — exactly the hot-key shape where one reducer
    // would own ~1/15th of 100 TB. The salted plan spreads each symbol over
    // 16 sub-partitions; the result must equal the plain groupBy (the
    // oracle IS the unsalted form).
    "qi_skew_salted" -> ((s, dir) => {
      Salting.saltedAggSum(
          Tables.ticks(s, dir).select("symbol", "volume"),
          Seq("symbol"), "volume", buckets = 16)
        .orderBy("symbol")
    }),

    // QI-OVERLAP interval-overlap join: signup sessions × error windows of
    // the same symbol that intersect in time. The banded emit-once rewrite
    // (operators.RangeJoin.intervalOverlap) — each overlapping pair meets
    // in exactly one bucket, so no post-join dedup shuffle exists
    "qi_interval_overlap" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val sessions = t.where(col("event_type") === "signup")
        .select(col("symbol"), col("secs").as("s"),
          (col("secs") + 7200L).as("e"), col("event_id").as("id"))
      val errors = t.where(col("event_type") === "error")
        .select(col("symbol"), col("secs").as("s"),
          (col("secs") + 3600L).as("e"), col("event_id").as("id"))
      graft.operators.RangeJoin.intervalOverlap(
          sessions, errors, Seq("symbol"), "s", "e", "s", "e", bucketWidth = 3600L)
        .orderBy("symbol", "id", "r_id")
    }),

    // QI-ANTI churn detection: customers with no orders since a date —
    // left_anti join (Catalyst plans a hash anti-join; the probe side is
    // the filtered orders, never a NOT IN subquery rescan)
    "qi_anti_churn" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val recent = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // QI-ROLLUP hierarchical aggregation: (nation, priority) -> nation ->
    // grand total in ONE pass (the Expand operator), subtotal level tagged
    // by grouping flags; NULL group keys are replaced by a sentinel so the
    // total ORDER BY is null-free (ASC null placement differs per engine)
    "qi_rollup_orders" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"), col("o_orderpriority"))
        .agg(
          (grouping(col("n_name")) + grouping(col("o_orderpriority")) * 2)
            .cast(LongType).as("gid"),
          count(lit(1)).as("n_orders"),
          sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType))
            .as("total_cents"))
        .select(
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("gid"), col("n_orders"), col("total_cents"))
        .orderBy("gid", "nation", "priority")
    }),

    // QI-Q3 TPC-H Q3 shape: selective 3-way join, group, top-N. Filters on
    // segment/dates push into all three scans; the top-10 prunes map-side
    // (TopK via the sort+limit) — the classic "shipping priority" plan.
    "qi_q3_shipping" -> ((s, dir) => {
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
        .where(col("l_shipdate") > lit("2000-06-01").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1) - col("l_discount").cast(DecimalType(18, 2)))) * 1000000)
          .cast(LongType).as("revenue_micros"))
        .orderBy(col("revenue_micros").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue_micros", "o_orderdate", "o_orderpriority")
    }),

    // QI-Q18 TPC-H Q18 shape: aggregate-then-join (the HAVING subquery
    // reduces lineitem to big orders BEFORE touching orders/customer).
    // Oracle-facing quantities project as integral hundredths (the repo's
    // price_micros convention, Tables.scala) — never DECIMAL outputs.
    "qi_q18_bigorders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty_sum"))
        .where(col("qty_sum") > 300)
        .select(col("l_orderkey"),
          (col("qty_sum") * 100).cast(LongType).as("total_qty_hundredths"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      // broadcast the PROVABLY-small side (r22, guide §3.1): `big` is the
      // qty>300 survivors of the lineitem aggregation — a few hundred
      // rows at any SF — while the planner's size estimate broadcasts
      // orders AND customer instead (fine at toy scale, impossible at
      // 100 TB where both are corpus-sized and the plan would fall back
      // to shuffling them). Forcing the build side keeps orders/customer
      // scan-only at every scale; the one exchange left is the inherent
      // lineitem groupBy. Values unchanged (hint only).
      broadcast(broadcast(big).join(o, big("l_orderkey") === o("o_orderkey")))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType)
            .as("total_price_cents"),
          col("total_qty_hundredths"))
        .orderBy(col("total_price_cents").desc, col("o_orderkey"))
        .limit(20)
    }),

    "qi_q5_revenue" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          (sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1) - col("l_discount").cast(DecimalType(18, 2)))) * 1000000)
            .cast(LongType).as("revenue_micros"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_micros").desc, col("n_name"))
    }),

    // QI-JSON semi-structured extraction from the props column
    "qi_json_props" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // QI-FUNNEL signup -> purchase conversion per user (event analytics)
    "qi_funnel" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val u = t.groupBy("symbol")
        .agg(min(when(col("event_type") === "signup", col("secs"))).as("first_signup"))
        .where(col("first_signup").isNotNull)
      val p = t.filter(col("event_type") === "purchase")
        .join(u, "symbol")
        .where(col("secs") >= col("first_signup"))
        .groupBy("symbol")
        .agg(min(col("secs")).as("first_purchase_after"))
      u.join(p, Seq("symbol"), "left")
        .select(col("symbol"), col("first_signup"), col("first_purchase_after"),
          col("first_purchase_after").isNotNull.as("converted"))
        .orderBy("symbol")
    }),

    // QI-SESSIONIZE 30-min-gap user sessions (gaps-and-islands over time,
    // the time-gap twin of H6's run-length sessionization)
    "qi_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("symbol").orderBy("secs", "arrival")
      val sessions = Tables.ticks(s, dir)
        .withColumn("prev", lag(col("secs"), 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull || col("secs") - col("prev") > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessions.groupBy("symbol", "session_id")
        .agg(min(col("secs")).as("session_start"),
          max(col("secs")).as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy("symbol", "session_start")
    }),

    // QI-RUNNING cumulative daily volume per symbol (running window agg)
    "qi_running" -> ((s, dir) => {
      val daily = Resample.toDaily(Tables.ticks(s, dir))
      val w = Window.partitionBy("symbol").orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_volume", sum(col("volume")).over(w))
        .select("symbol", "bucket_ts", "volume", "cum_volume")
        .orderBy("symbol", "bucket_ts")
    }),

    // QI-TOPK per-symbol top-3 by volume (S1 limit / generic top-k)
    "qi_topk" -> ((s, dir) => {
      val w = Window.partitionBy("symbol").orderBy(col("volume").desc, col("arrival"))
      Tables.ticks(s, dir)
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select("symbol", "rank", "price_micros", "volume", "arrival")
        .orderBy("symbol", "rank")
    }),

    // QI-ADJUST split back-adjustment: synthetic splits (first 3 'view'
    // days per symbol, small ratios from volume) applied to prov_a prices
    // — exact integer rational fold, scan-side behind one broadcast join
    "qi_adjust_splits" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val sp0 = t.filter(col("event_type") === "view")
        .groupBy(col("symbol"), (col("secs") - pmod(col("secs"), lit(86400L))).as("ts"))
        .agg(((min(col("volume")) % 3) + 2).as("num"), ((min(col("volume")) % 2) + 1).as("den"))
      val w = Window.partitionBy("symbol").orderBy("ts")
      val splits = sp0.withColumn("rn", row_number().over(w)).where(col("rn") <= 3).drop("rn")
      val prices = t.filter(col("provider") === "prov_a")
        .select("symbol", "secs", "event_id", "price_micros")
      graft.timeseries.Adjust.backAdjustSplits(prices, splits,
          keyCol = "symbol", priceTsCol = "secs", splitTsCol = "ts",
          valueCol = "price_micros")
        .orderBy("symbol", "event_id")
    }),

    // QI-ADJUST-DIVS dividend/capital-gain back-adjustment (total-return):
    // synthetic dividends from click-event days (amount <= 997 micros, far
    // under the 10,000-micro price floor), anchored strictly after each
    // symbol's first price so every ex-date has a reference close. Exact
    // ppb fixed-point cumulative factors — see Adjust.backAdjustDividends.
    "qi_adjust_divs" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val prices = t.filter(col("provider") === "prov_a")
        .select("symbol", "secs", "event_id", "price_micros")
      val d0 = t.filter(col("event_type") === "click")
        .groupBy(col("symbol"), (col("secs") - pmod(col("secs"), lit(86400L))).as("dts"))
        .agg((lit(1L) + min(col("volume")) % 997L).as("amount"))
      val pmin = prices.groupBy("symbol").agg(min(col("secs")).as("first_secs"))
      val w = Window.partitionBy("symbol").orderBy("dts")
      val divs = d0.join(pmin, Seq("symbol"))
        .where(col("dts") > col("first_secs")).drop("first_secs")
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 4).drop("rn")
      graft.timeseries.Adjust.backAdjustDividends(prices, divs,
          keyCol = "symbol", priceTsCol = "secs", divTsCol = "dts",
          valueCol = "price_micros", amountCol = "amount")
        .orderBy("symbol", "event_id")
    }),

    // QI-QUANTILES exact group-wise quantiles by explicit rank selection
    // (lower-value convention, the repo's I1 lower-median precedent) —
    // percentile_approx/approxQuantile cannot be oracle-hashed, and most
    // engines disagree on interpolation; rank selection is engine-exact.
    // One exchange on the group key serves both window passes.
    "qi_quantiles" -> ((s, dir) => {
      val byLang = Window.partitionBy("lang")
      val w = byLang.orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, dir)
        .select("lang", "doc_id", "n_chars")
        .withColumn("cnt", count(lit(1)).over(byLang))
        .withColumn("rn", row_number().over(w))
        .groupBy("lang")
        .agg(max(col("cnt")).as("n_docs"),
          max(when(expr("rn = (cnt + 1) DIV 2"), col("n_chars"))).as("median_chars"),
          max(when(expr("rn = (9 * cnt + 9) DIV 10"), col("n_chars"))).as("p90_chars"))
        .orderBy("lang")
    }),

    // QI-ASOF backward as-of join with 1h tolerance: each purchase gets the
    // prevailing prov_a price at-or-before its timestamp (trade → quote).
    // Oracle is DuckDB's native ASOF LEFT JOIN; the Spark side is the
    // single-shuffle union-carry operator.
    "qi_asof_price" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val trades = t.filter(col("event_type") === "purchase")
        .select("symbol", "secs", "event_id", "price_micros")
      val refs = t.filter(col("provider") === "prov_a")
        .groupBy("symbol", "secs")
        .agg(max_by(col("price_micros"), col("arrival")).as("ref_micros"))
      graft.operators.AsOfJoin.backward(trades, refs, Seq("symbol"), "secs", "secs",
          Seq("ref_micros"), tolerance = Some(3600L), matchedTs = "ref_secs")
        .orderBy("symbol", "event_id")
    }),

    // QI-ASOF-SALTED the skew-safe variant of qi_asof_price: identical
    // semantics (same oracle), but the carry range-buckets each symbol's
    // timeline into day-wide buckets with a boundary handoff, so one hot
    // symbol splits across partitions instead of serializing into one.
    "qi_asof_salted" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val trades = t.filter(col("event_type") === "purchase")
        .select("symbol", "secs", "event_id", "price_micros")
      val refs = t.filter(col("provider") === "prov_a")
        .groupBy("symbol", "secs")
        .agg(max_by(col("price_micros"), col("arrival")).as("ref_micros"))
      graft.operators.AsOfJoin.backwardSalted(trades, refs, Seq("symbol"), "secs", "secs",
          Seq("ref_micros"), span = 86400L, tolerance = Some(3600L), matchedTs = "ref_secs")
        .orderBy("symbol", "event_id")
    }),

    // QI-ASOF-AUTO the auto-dispatched variant of qi_asof_price (same
    // oracle): the detector sees 15 symbols each holding ~6.7% >= the 5%
    // default threshold, so dispatch picks the salted carry and sizes the
    // span from the worst symbol's timeline — no hand-chosen span.
    "qi_asof_auto" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val trades = t.filter(col("event_type") === "purchase")
        .select("symbol", "secs", "event_id", "price_micros")
      val refs = t.filter(col("provider") === "prov_a")
        .groupBy("symbol", "secs")
        .agg(max_by(col("price_micros"), col("arrival")).as("ref_micros"))
      graft.operators.AsOfJoin.auto(trades, refs, Seq("symbol"), "secs", "secs",
          Seq("ref_micros"), tolerance = Some(3600L), matchedTs = "ref_secs")
        .orderBy("symbol", "event_id")
    }),

    // QI-ASOF-FWD forward as-of: for each error event, the NEXT reference
    // price at or after it (time-reversal of the backward carry — one
    // shuffle, no join node). DuckDB's native ASOF is backward-only, so
    // the oracle is the naive window form.
    "qi_asof_fwd" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val errors = t.filter(col("event_type") === "error")
        .select("symbol", "secs", "event_id")
      val refs = t.filter(col("provider") === "prov_b")
        .groupBy("symbol", "secs")
        .agg(max_by(col("price_micros"), col("arrival")).as("next_micros"))
      graft.operators.AsOfJoin.forward(errors, refs, Seq("symbol"), "secs", "secs",
          Seq("next_micros"), tolerance = Some(1800L), matchedTs = "next_secs")
        .orderBy("symbol", "event_id")
    }),

    // the skew-safe bucketed variant of qi_asof_fwd — identical semantics,
    // identical oracle; the carry partitions on (symbol, day bucket)
    "qi_asof_fwd_salted" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val errors = t.filter(col("event_type") === "error")
        .select("symbol", "secs", "event_id")
      val refs = t.filter(col("provider") === "prov_b")
        .groupBy("symbol", "secs")
        .agg(max_by(col("price_micros"), col("arrival")).as("next_micros"))
      graft.operators.AsOfJoin.forwardSalted(errors, refs, Seq("symbol"), "secs", "secs",
          Seq("next_micros"), span = 86400L, tolerance = Some(1800L), matchedTs = "next_secs")
        .orderBy("symbol", "event_id")
    }),

    // QI-ASOF-NEAREST: for each click event, the reference price nearest
    // in time (either direction, ties backward) within 30 minutes — BOTH
    // carries evaluate in one Window over one exchange (plan-asserted)
    "qi_asof_nearest" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val clicks = t.filter(col("event_type") === "click")
        .select("symbol", "secs", "event_id")
      val refs = t.filter(col("provider") === "prov_a")
        .groupBy("symbol", "secs")
        .agg(max_by(col("price_micros"), col("arrival")).as("near_micros"))
      graft.operators.AsOfJoin.nearest(clicks, refs, Seq("symbol"), "secs", "secs",
          Seq("near_micros"), tolerance = Some(1800L), matchedTs = "near_secs")
        .orderBy("symbol", "event_id")
    }),

    // QI-RANGE point-in-interval range join (banded equi-join rewrite):
    // prov_b ticks matched into per-(symbol, week) prov_a activity spans,
    // aggregated per span. Oracle is the plain inequality join DuckDB
    // evaluates with its IEJoin.
    "qi_range_join" -> ((s, dir) => {
      val t = Tables.ticks(s, dir)
      val spans = t.filter(col("provider") === "prov_a")
        .groupBy(col("symbol"), Resample.weeklyBucket(col("secs")).as("wk"))
        .agg(min("secs").as("span_start"), max("secs").as("span_end"))
        .drop("wk")
      val points = t.filter(col("provider") === "prov_b").select("symbol", "secs", "volume")
      graft.operators.RangeJoin
        .pointInInterval(points, spans, Seq("symbol"), "secs", "span_start", "span_end", 86400L)
        .groupBy("symbol", "span_start", "span_end")
        .agg(count(lit(1)).as("n_points"), sum(col("volume")).as("sum_volume"))
        .orderBy("symbol", "span_start")
    })
  )

  // ---------------------------------------------------------------- oracles

  def oracleSql: Map[String, String] = coreOracleSql ++
    graft.pipeline.PipelineQueries.oracleSql

  private def coreOracleSql: Map[String, String] = Map(
    "q1_tpch_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_x100,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) AS sum_revenue_x10k,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "qi_r2_daily" -> withTicks(
      """r AS (SELECT symbol, secs - secs % 86400 AS bucket_ts,
        |  min_by(price_micros, ts) AS open_micros, max(price_micros) AS high_micros,
        |  min(price_micros) AS low_micros, max_by(price_micros, ts) AS close_micros,
        |  CAST(sum(volume) AS BIGINT) AS volume
        |FROM ticks GROUP BY 1,2)
        |SELECT * FROM r ORDER BY symbol, bucket_ts""".stripMargin),

    "qi_r3_weekly" -> withTicks(
      """r AS (SELECT symbol,
        |  ((secs // 86400) - ((secs // 86400 + 3) % 7)) * 86400 AS bucket_ts,
        |  min_by(price_micros, ts) AS open_micros, max(price_micros) AS high_micros,
        |  min(price_micros) AS low_micros, max_by(price_micros, ts) AS close_micros,
        |  CAST(sum(volume) AS BIGINT) AS volume
        |FROM ticks GROUP BY 1,2)
        |SELECT * FROM r ORDER BY symbol, bucket_ts""".stripMargin),

    "qi_r5_minutes" -> withTicks(
      """r AS (SELECT symbol, secs - secs % 300 AS bucket_ts,
        |  min_by(price_micros, ts) AS open_micros, max(price_micros) AS high_micros,
        |  min(price_micros) AS low_micros, max_by(price_micros, ts) AS close_micros,
        |  CAST(sum(volume) AS BIGINT) AS volume
        |FROM ticks GROUP BY 1,2)
        |SELECT * FROM r ORDER BY symbol, bucket_ts""".stripMargin),

    "qi_m1_merge" -> withTicks(
      mergedHourlySql +
      """
        |SELECT symbol, bucket_ts, price_micros, volume, provider, arrival
        |FROM m ORDER BY symbol, bucket_ts""".stripMargin),

    "qi_m3_actions" -> withTicks(
      """acts AS (SELECT secs - secs % 86400 AS ts,
        |  CASE event_type WHEN 'click' THEN 'dividend' WHEN 'view' THEN 'split' ELSE 'capital_gain' END AS kind,
        |  volume % 10 AS amount, currency
        |FROM ticks WHERE event_type IN ('click','view','purchase'))
        |SELECT DISTINCT ts, kind, amount, currency FROM acts
        |ORDER BY ts, CASE kind WHEN 'dividend' THEN 0 WHEN 'split' THEN 1 ELSE 2 END, amount, currency""".stripMargin),

    "qi_i1_step" -> withTicks(
      """d AS (SELECT symbol, secs - lag(secs) OVER (PARTITION BY symbol ORDER BY secs, arrival) AS delta FROM ticks),
        |p AS (SELECT symbol, delta FROM d WHERE delta > 0),
        |c AS (SELECT symbol, delta, count(*) AS n FROM p GROUP BY 1,2),
        |cm AS (SELECT symbol, delta, n, max(n) OVER (PARTITION BY symbol) AS mx FROM c),
        |m AS (SELECT symbol, min(CASE WHEN n = mx THEN delta END) AS mode_delta,
        |             sum(CASE WHEN n = mx THEN 1 ELSE 0 END) AS n_modes
        |      FROM cm GROUP BY symbol),
        |pm AS (SELECT symbol, delta, row_number() OVER (PARTITION BY symbol ORDER BY delta) AS rn,
        |              count(*) OVER (PARTITION BY symbol) AS cnt FROM p),
        |med AS (SELECT symbol, delta AS median_delta FROM pm WHERE rn = (cnt + 1) // 2)
        |SELECT m.symbol, CAST(CASE WHEN n_modes = 1 THEN mode_delta ELSE median_delta END AS BIGINT) AS step_seconds
        |FROM m LEFT JOIN med ON m.symbol = med.symbol
        |ORDER BY m.symbol""".stripMargin),

    // delta > 0 (not just non-null): the reference skips duplicate
    // timestamps (infer.rs:129-140), so zero deltas join neither side of
    // the 60% ratio
    "qi_i2_subdaily" -> withTicks(
      """d AS (SELECT symbol, secs - lag(secs) OVER (PARTITION BY symbol ORDER BY secs, arrival) AS delta FROM ticks)
        |SELECT symbol,
        |  (sum(CASE WHEN delta < 86400 THEN 1 ELSE 0 END) >= 3
        |   AND sum(CASE WHEN delta < 86400 THEN 1 ELSE 0 END) * 5 >= count(*) * 3) AS subdaily
        |FROM d WHERE delta > 0 GROUP BY symbol ORDER BY symbol""".stripMargin),

    "qi_h6_attribution" -> withTicks(
      mergedHourlySql +
      """,
        |f AS (SELECT symbol, bucket_ts, provider,
        |  CASE WHEN lag(provider) OVER (PARTITION BY symbol ORDER BY bucket_ts) IS DISTINCT FROM provider THEN 1 ELSE 0 END AS chg FROM m),
        |s AS (SELECT *, sum(chg) OVER (PARTITION BY symbol ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS session FROM f)
        |SELECT symbol, provider, min(bucket_ts) AS span_start, max(bucket_ts) AS span_end, count(*) AS n_points
        |FROM s GROUP BY symbol, session, provider ORDER BY symbol, span_start""".stripMargin),

    "qi_h9_keepna" -> withTicks(
      """t AS (SELECT symbol, ts, secs, volume,
        |  CASE WHEN event_type = 'error' THEN NULL ELSE price_micros END AS pm FROM ticks),
        |k AS (SELECT symbol, secs - secs % 86400 AS bucket_ts,
        |  min_by(pm, ts) AS open_micros, max(pm) AS high_micros,
        |  min(pm) AS low_micros, max_by(pm, ts) AS close_micros,
        |  CAST(sum(volume) AS BIGINT) AS volume
        |FROM t WHERE pm IS NOT NULL GROUP BY 1,2),
        |na AS (SELECT symbol, secs - secs % 86400 AS bucket_ts,
        |  CAST(sum(CASE WHEN pm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_na
        |FROM t GROUP BY 1,2)
        |SELECT k.symbol, k.bucket_ts, open_micros, high_micros, low_micros, close_micros, volume, n_na
        |FROM k JOIN na ON k.symbol = na.symbol AND k.bucket_ts = na.bucket_ts
        |ORDER BY k.symbol, k.bucket_ts""".stripMargin),

    "qi_s2_dedup_pref" -> withTicks(
      """w AS (SELECT symbol, provider, price_micros, arrival,
        |  row_number() OVER (PARTITION BY symbol ORDER BY (CASE provider WHEN 'prov_b' THEN 0 ELSE 1 END), arrival) AS rn,
        |  min(arrival) OVER (PARTITION BY symbol) AS first_seen
        |FROM ticks)
        |SELECT symbol, provider, price_micros, arrival, first_seen FROM w WHERE rn = 1
        |ORDER BY first_seen, symbol""".stripMargin),

    "qi_h4_flags" -> withTicks(
      """r AS (SELECT symbol, bool_and(adjusted) AS all_adjusted,
        |  min_by(provider, priority * 10000000000 + arrival) AS first_provider,
        |  CAST(sum(CASE WHEN adjusted THEN 1 ELSE 0 END) AS BIGINT) AS n_adjusted
        |FROM ticks GROUP BY symbol)
        |SELECT * FROM r ORDER BY symbol""".stripMargin),

    "qi_c2_currency" -> withTicks(
      """r AS (SELECT symbol, CAST(count(DISTINCT currency) AS BIGINT) AS n_currencies
        |FROM ticks GROUP BY symbol HAVING count(DISTINCT currency) > 1)
        |SELECT * FROM r ORDER BY symbol""".stripMargin),

    "qi_st8_gate" -> withTicks(
      """g AS (SELECT symbol, arrival, secs,
        |  max(secs) OVER (PARTITION BY symbol ORDER BY arrival ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |FROM ticks)
        |SELECT symbol, arrival, secs FROM g WHERE prev_max IS NULL OR secs >= prev_max
        |ORDER BY symbol, arrival""".stripMargin),

    "qi_q2_info_join" ->
      """WITH o AS (SELECT o_custkey, COUNT(*) AS order_cnt,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_spent_cents
        |FROM orders GROUP BY 1)
        |SELECT c_custkey,
        |  COALESCE(n_name, 'UNKNOWN') AS nation_name,
        |  COALESCE(o.order_cnt, 0) AS order_cnt,
        |  COALESCE(o.total_spent_cents, 0) AS total_spent_cents
        |FROM customer c
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN o ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "qi_h8_bulk" -> withTicks(
      """r AS (SELECT symbol,
        |  min_by(price_micros, ts) AS open_micros, max(price_micros) AS high_micros,
        |  min(price_micros) AS low_micros, max_by(price_micros, ts) AS close_micros,
        |  CAST(sum(volume) AS BIGINT) AS volume, count(*) AS n_ticks
        |FROM ticks GROUP BY symbol)
        |SELECT * FROM r ORDER BY symbol""".stripMargin),

    "qi_r4_offset_daily" -> withTicks(
      """r AS (SELECT symbol,
        |  (secs - 18000) - (secs - 18000) % 86400 + 18000 AS bucket_ts,
        |  min_by(price_micros, ts) AS open_micros, max(price_micros) AS high_micros,
        |  min(price_micros) AS low_micros, max_by(price_micros, ts) AS close_micros,
        |  CAST(sum(volume) AS BIGINT) AS volume
        |FROM ticks GROUP BY 1,2)
        |SELECT * FROM r ORDER BY symbol, bucket_ts""".stripMargin),

    "qi_skew_salted" -> withTicks(
      """t AS (SELECT symbol, volume FROM ticks)
        |SELECT symbol, CAST(SUM(volume) AS BIGINT) AS sum_volume
        |FROM t GROUP BY 1 ORDER BY symbol""".stripMargin),

    "qi_interval_overlap" -> withTicks(
      """a AS (SELECT symbol, secs AS s, secs + 7200 AS e, event_id AS id
        |      FROM ticks WHERE event_type = 'signup'),
        |b AS (SELECT symbol, secs AS s, secs + 3600 AS e, event_id AS id
        |      FROM ticks WHERE event_type = 'error')
        |SELECT a.symbol, a.s, a.e, a.id, b.s AS r_s, b.e AS r_e, b.id AS r_id
        |FROM a JOIN b ON a.symbol = b.symbol AND a.s <= b.e AND b.s <= a.e
        |ORDER BY a.symbol, a.id, r_id""".stripMargin),

    "qi_anti_churn" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2000-06-01')
        |ORDER BY c_custkey""".stripMargin,

    "qi_rollup_orders" ->
      """SELECT COALESCE(n_name, 'ALL') AS nation,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  CAST(grouping(n_name) + 2 * grouping(o_orderpriority) AS BIGINT) AS gid,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, o_orderpriority)
        |ORDER BY gid, nation, priority""".stripMargin,

    "qi_q3_shipping" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 1000000 AS BIGINT) AS revenue_micros,
        |  o_orderdate, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '2000-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_micros DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,

    "qi_q18_bigorders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum
        |  FROM lineitem GROUP BY 1 HAVING qty_sum > 300)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_price_cents,
        |  CAST(qty_sum * 100 AS BIGINT) AS total_qty_hundredths
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_price_cents DESC, o_orderkey LIMIT 20""".stripMargin,

    "qi_q5_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 1000000 AS BIGINT) AS revenue_micros,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue_micros DESC, n_name""".stripMargin,

    "qi_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "qi_funnel" -> withTicks(
      """u AS (SELECT symbol, min(CASE WHEN event_type = 'signup' THEN secs END) AS first_signup
        |      FROM ticks GROUP BY 1 HAVING first_signup IS NOT NULL),
        |p AS (SELECT t.symbol, min(t.secs) AS first_purchase_after
        |      FROM ticks t JOIN u ON t.symbol = u.symbol
        |      WHERE t.event_type = 'purchase' AND t.secs >= u.first_signup GROUP BY 1)
        |SELECT u.symbol, u.first_signup, p.first_purchase_after,
        |       p.first_purchase_after IS NOT NULL AS converted
        |FROM u LEFT JOIN p ON u.symbol = p.symbol
        |ORDER BY u.symbol""".stripMargin),

    "qi_sessionize" -> withTicks(
      """g AS (SELECT symbol, secs, arrival,
        |  CASE WHEN lag(secs) OVER (PARTITION BY symbol ORDER BY secs, arrival) IS NULL
        |         OR secs - lag(secs) OVER (PARTITION BY symbol ORDER BY secs, arrival) > 1800
        |       THEN 1 ELSE 0 END AS new_session
        |FROM ticks),
        |sid AS (SELECT symbol, secs,
        |  sum(new_session) OVER (PARTITION BY symbol ORDER BY secs, arrival ROWS UNBOUNDED PRECEDING) AS session_id
        |FROM g)
        |SELECT symbol, CAST(session_id AS BIGINT) AS session_id,
        |  min(secs) AS session_start, max(secs) AS session_end, count(*) AS n_events
        |FROM sid GROUP BY 1, 2 ORDER BY symbol, session_start""".stripMargin),

    "qi_running" -> withTicks(
      """d AS (SELECT symbol, secs - secs % 86400 AS bucket_ts, CAST(sum(volume) AS BIGINT) AS volume
        |FROM ticks GROUP BY 1, 2)
        |SELECT symbol, bucket_ts, volume,
        |  CAST(sum(volume) OVER (PARTITION BY symbol ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_volume
        |FROM d ORDER BY symbol, bucket_ts""".stripMargin),

    "qi_topk" -> withTicks(
      """w AS (SELECT symbol, price_micros, volume, arrival,
        |  row_number() OVER (PARTITION BY symbol ORDER BY volume DESC, arrival) AS rank
        |FROM ticks)
        |SELECT symbol, rank, price_micros, volume, arrival FROM w WHERE rank <= 3
        |ORDER BY symbol, rank""".stripMargin),

    // native ASOF LEFT JOIN is the oracle for the union-carry operator;
    // the 1h tolerance is applied as a post-projection on both sides
    "qi_asof_price" -> withTicks(
      """l AS (SELECT symbol, secs, event_id, price_micros FROM ticks WHERE event_type = 'purchase'),
        |r AS (SELECT symbol, secs, max_by(price_micros, arrival) AS ref_micros
        |      FROM ticks WHERE provider = 'prov_a' GROUP BY 1, 2),
        |j AS (SELECT l.symbol, l.secs, l.event_id, l.price_micros,
        |             r.secs AS m_secs, r.ref_micros AS m_micros
        |      FROM l ASOF LEFT JOIN r ON l.symbol = r.symbol AND l.secs >= r.secs)
        |SELECT symbol, secs, event_id, price_micros,
        |  CASE WHEN secs - m_secs <= 3600 THEN m_secs END AS ref_secs,
        |  CASE WHEN secs - m_secs <= 3600 THEN m_micros END AS ref_micros
        |FROM j ORDER BY symbol, event_id""".stripMargin),

    "qi_adjust_splits" -> withTicks(
      """sp0 AS (SELECT symbol, secs - secs % 86400 AS sts,
        |        (min(volume) % 3) + 2 AS num, (min(volume) % 2) + 1 AS den
        |        FROM ticks WHERE event_type = 'view' GROUP BY 1, 2),
        |sp AS (SELECT symbol, sts, num, den FROM (
        |        SELECT sp0.*, row_number() OVER (PARTITION BY symbol ORDER BY sts) AS rn FROM sp0)
        |       WHERE rn <= 3),
        |a AS (SELECT symbol, list(struct_pack(sts := sts, num := num, den := den)) AS acts
        |      FROM sp GROUP BY 1),
        |p AS (SELECT symbol, secs, event_id, price_micros FROM ticks WHERE provider = 'prov_a'),
        |j AS (SELECT p.*, a.acts FROM p LEFT JOIN a ON a.symbol = p.symbol),
        |f AS (SELECT symbol, secs, event_id, price_micros, acts,
        |        list_reduce(
        |          list_prepend(struct_pack(n := 1::BIGINT, d := 1::BIGINT),
        |            list_transform(list_filter(acts, x -> x.sts > secs),
        |              x -> struct_pack(n := x.num, d := x.den))),
        |          (acc, x) -> struct_pack(n := acc.n * x.n, d := acc.d * x.d)) AS fr
        |      FROM j)
        |SELECT symbol, secs, event_id, price_micros,
        |  CASE WHEN acts IS NULL THEN price_micros
        |       ELSE price_micros * fr.d // fr.n END AS adj_price_micros
        |FROM f ORDER BY symbol, event_id""".stripMargin),

    "qi_adjust_divs" -> withTicks(
      """p AS (SELECT symbol, secs, event_id, price_micros FROM ticks WHERE provider = 'prov_a'),
        |d0 AS (SELECT symbol, secs - secs % 86400 AS dts, 1 + min(volume) % 997 AS amount
        |       FROM ticks WHERE event_type = 'click' GROUP BY 1, 2),
        |pmin AS (SELECT symbol, min(secs) AS first_secs FROM p GROUP BY 1),
        |d1 AS (SELECT d0.symbol, dts, amount,
        |         row_number() OVER (PARTITION BY d0.symbol ORDER BY dts) AS rn
        |       FROM d0 JOIN pmin ON pmin.symbol = d0.symbol AND d0.dts > pmin.first_secs),
        |divs AS (SELECT symbol, dts, amount FROM d1 WHERE rn <= 4),
        |rc AS (SELECT symbol, secs, max(price_micros) AS ref FROM p GROUP BY 1, 2),
        |f AS (SELECT d.symbol, d.dts,
        |        (SELECT arg_max(ref, secs) FROM rc
        |          WHERE rc.symbol = d.symbol AND rc.secs < d.dts) AS ref, d.amount
        |      FROM divs d),
        |ff AS (SELECT symbol, dts, (ref - amount) * 1000000000 // ref AS fppb FROM f),
        |a AS (SELECT symbol, list(struct_pack(nts := -dts, f := fppb) ORDER BY dts DESC) AS divl
        |      FROM ff GROUP BY 1),
        |j AS (SELECT p.*, a.divl FROM p LEFT JOIN a ON a.symbol = p.symbol),
        |c AS (SELECT symbol, secs, event_id, price_micros, divl,
        |        list_reduce(list_prepend(1000000000::BIGINT,
        |            list_transform(list_filter(divl, x -> x.nts < -secs), x -> x.f)),
        |          (acc, x) -> acc * x // 1000000000) AS cum
        |      FROM j)
        |SELECT symbol, secs, event_id, price_micros,
        |  CASE WHEN divl IS NULL OR cum = 1000000000 THEN price_micros
        |       ELSE price_micros * cum // 1000000000 END AS adj_price_micros
        |FROM c ORDER BY symbol, event_id""".stripMargin),

    "qi_quantiles" ->
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS cnt FROM documents)
        |SELECT lang, CAST(max(cnt) AS BIGINT) AS n_docs,
        |  CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN n_chars END) AS BIGINT) AS median_chars,
        |  CAST(max(CASE WHEN rn = (9 * cnt + 9) // 10 THEN n_chars END) AS BIGINT) AS p90_chars
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical semantics to qi_asof_price — the salted operator must be
    // indistinguishable from the plain carry at the output level
    "qi_asof_salted" -> withTicks(
      """l AS (SELECT symbol, secs, event_id, price_micros FROM ticks WHERE event_type = 'purchase'),
        |r AS (SELECT symbol, secs, max_by(price_micros, arrival) AS ref_micros
        |      FROM ticks WHERE provider = 'prov_a' GROUP BY 1, 2),
        |j AS (SELECT l.symbol, l.secs, l.event_id, l.price_micros,
        |             r.secs AS m_secs, r.ref_micros AS m_micros
        |      FROM l ASOF LEFT JOIN r ON l.symbol = r.symbol AND l.secs >= r.secs)
        |SELECT symbol, secs, event_id, price_micros,
        |  CASE WHEN secs - m_secs <= 3600 THEN m_secs END AS ref_secs,
        |  CASE WHEN secs - m_secs <= 3600 THEN m_micros END AS ref_micros
        |FROM j ORDER BY symbol, event_id""".stripMargin),

    // identical semantics to qi_asof_price — auto-dispatch (which picks the
    // salted carry on this all-hot-symbols fixture and sizes the span
    // itself) must be output-indistinguishable from the plain carry
    "qi_asof_auto" -> withTicks(
      """l AS (SELECT symbol, secs, event_id, price_micros FROM ticks WHERE event_type = 'purchase'),
        |r AS (SELECT symbol, secs, max_by(price_micros, arrival) AS ref_micros
        |      FROM ticks WHERE provider = 'prov_a' GROUP BY 1, 2),
        |j AS (SELECT l.symbol, l.secs, l.event_id, l.price_micros,
        |             r.secs AS m_secs, r.ref_micros AS m_micros
        |      FROM l ASOF LEFT JOIN r ON l.symbol = r.symbol AND l.secs >= r.secs)
        |SELECT symbol, secs, event_id, price_micros,
        |  CASE WHEN secs - m_secs <= 3600 THEN m_secs END AS ref_secs,
        |  CASE WHEN secs - m_secs <= 3600 THEN m_micros END AS ref_micros
        |FROM j ORDER BY symbol, event_id""".stripMargin),

    // DuckDB ASOF is backward-only: the forward oracle is the naive
    // window form (smallest right secs at/after, tolerance post-hoc)
    "qi_asof_fwd" -> withTicks(
      """l AS (SELECT symbol, secs, event_id FROM ticks WHERE event_type = 'error'),
        |r AS (SELECT symbol, secs, max_by(price_micros, arrival) AS next_micros
        |      FROM ticks WHERE provider = 'prov_b' GROUP BY 1, 2),
        |j AS (SELECT l.symbol, l.secs, l.event_id, r.secs AS m_secs, r.next_micros AS m_micros,
        |        row_number() OVER (PARTITION BY l.symbol, l.event_id ORDER BY r.secs) AS rn
        |      FROM l LEFT JOIN r ON l.symbol = r.symbol AND r.secs >= l.secs)
        |SELECT symbol, secs, event_id,
        |  CASE WHEN m_secs - secs <= 1800 THEN m_secs END AS next_secs,
        |  CASE WHEN m_secs - secs <= 1800 THEN m_micros END AS next_micros
        |FROM j WHERE rn = 1 ORDER BY symbol, event_id""".stripMargin),

    // identical semantics to qi_asof_fwd — the salted operator must be
    // output-indistinguishable from the plain time-reversed carry
    "qi_asof_fwd_salted" -> withTicks(
      """l AS (SELECT symbol, secs, event_id FROM ticks WHERE event_type = 'error'),
        |r AS (SELECT symbol, secs, max_by(price_micros, arrival) AS next_micros
        |      FROM ticks WHERE provider = 'prov_b' GROUP BY 1, 2),
        |j AS (SELECT l.symbol, l.secs, l.event_id, r.secs AS m_secs, r.next_micros AS m_micros,
        |        row_number() OVER (PARTITION BY l.symbol, l.event_id ORDER BY r.secs) AS rn
        |      FROM l LEFT JOIN r ON l.symbol = r.symbol AND r.secs >= l.secs)
        |SELECT symbol, secs, event_id,
        |  CASE WHEN m_secs - secs <= 1800 THEN m_secs END AS next_secs,
        |  CASE WHEN m_secs - secs <= 1800 THEN m_micros END AS next_micros
        |FROM j WHERE rn = 1 ORDER BY symbol, event_id""".stripMargin),

    // nearest = min |distance| within tolerance, ties backward (smaller
    // m_secs); the oracle is the naive window form
    "qi_asof_nearest" -> withTicks(
      """l AS (SELECT symbol, secs, event_id FROM ticks WHERE event_type = 'click'),
        |r AS (SELECT symbol, secs, max_by(price_micros, arrival) AS near_micros
        |      FROM ticks WHERE provider = 'prov_a' GROUP BY 1, 2),
        |j AS (SELECT l.symbol, l.secs, l.event_id, r.secs AS m_secs, r.near_micros AS m_micros,
        |        row_number() OVER (PARTITION BY l.symbol, l.event_id
        |                           ORDER BY abs(r.secs - l.secs), r.secs) AS rn
        |      FROM l LEFT JOIN r ON l.symbol = r.symbol AND abs(r.secs - l.secs) <= 1800)
        |SELECT symbol, secs, event_id, m_secs AS near_secs, m_micros AS near_micros
        |FROM j WHERE rn = 1 ORDER BY symbol, event_id""".stripMargin),

    // the oracle states the range predicate directly (DuckDB IEJoin); the
    // Spark side must produce identical pairs through the banded rewrite
    "qi_range_join" -> withTicks(
      """i AS (SELECT symbol, min(secs) AS span_start, max(secs) AS span_end
        |      FROM ticks WHERE provider = 'prov_a'
        |      GROUP BY symbol, ((secs // 86400) - ((secs // 86400 + 3) % 7)) * 86400),
        |p AS (SELECT symbol, secs, volume FROM ticks WHERE provider = 'prov_b')
        |SELECT i.symbol, span_start, span_end, count(*) AS n_points,
        |  CAST(sum(p.volume) AS BIGINT) AS sum_volume
        |FROM i JOIN p ON p.symbol = i.symbol AND p.secs >= i.span_start AND p.secs <= i.span_end
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin)
  )
}
