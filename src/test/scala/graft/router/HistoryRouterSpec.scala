package graft.router

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.Model.{Candle, Interval}
import graft.core.Model.Interval._
import graft.router.HistoryRouter._

class HistoryRouterSpec extends SparkSpec {

  // ------------------------------------------------------------- R6 tables
  // mirrors router_history_interval_{largest_divisor,passthrough,reject}.rs

  test("R6 exact support passes through") {
    assert(chooseEffectiveInterval(Seq(I1m, I5m), I5m) == Right((I5m, None)))
  }

  test("R6 intraday: largest supported divisor + minute re-aggregation") {
    // 15m from {1m,5m}: 5 divides 15 and is the largest divisor
    assert(chooseEffectiveInterval(Seq(I1m, I5m), I15m)
      == Right((I5m, Some(ResamplePlan.Minutes(15)))))
    // 90m from {1m,30m}: 30 divides 90
    assert(chooseEffectiveInterval(Seq(I1m, I30m), I90m)
      == Right((I30m, Some(ResamplePlan.Minutes(90)))))
    // 15m from {2m}: no divisor -> unsupported
    assert(chooseEffectiveInterval(Seq(I2m), I15m).isLeft)
  }

  test("R6 daily: native else coarsest intraday + daily plan") {
    assert(chooseEffectiveInterval(Seq(I1m, D1), D1) == Right((D1, None)))
    assert(chooseEffectiveInterval(Seq(I1m, I1h), D1)
      == Right((I1h, Some(ResamplePlan.Daily))))
    assert(chooseEffectiveInterval(Seq(W1), D1).isLeft)
  }

  test("R6 weekly: native, else daily, else coarsest intraday + weekly plan") {
    assert(chooseEffectiveInterval(Seq(W1, D1), W1) == Right((W1, None)))
    assert(chooseEffectiveInterval(Seq(D1, I1m), W1)
      == Right((D1, Some(ResamplePlan.Weekly))))
    assert(chooseEffectiveInterval(Seq(I5m), W1)
      == Right((I5m, Some(ResamplePlan.Weekly))))
  }

  test("R6 other calendar intervals pass through unemulated") {
    assert(chooseEffectiveInterval(Seq(D1), M1) == Right((M1, None)))
  }

  // --------------------------------------------------------------- H4

  private def ph(p: String, prio: Int, adjusted: Boolean) =
    ProviderHistory(p, prio, adjusted, None, None, candles(p))

  private val schema = StructType(Seq(
    StructField("symbol", StringType), StructField("ts", LongType),
    StructField("open", DecimalType(18, 6)), StructField("high", DecimalType(18, 6)),
    StructField("low", DecimalType(18, 6)), StructField("close", DecimalType(18, 6)),
    StructField("volume", LongType), StructField("currency", StringType)))

  private def candlesDf(p: String, currency: String = "USD", n: Int = 3) = {
    val rows = (0 until n).map { i =>
      val v = BigDecimal(100 + i + p.hashCode.abs % 10)
      Row("S", 1704067200L + i * 86400L, v.bigDecimal, (v + 1).bigDecimal,
        (v - 1).bigDecimal, v.bigDecimal, 100L, currency)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def candles(p: String, currency: String = "USD", n: Int = 3): Seq[Candle] =
    (0 until n).map { i =>
      val v = BigDecimal(100 + i + p.hashCode.abs % 10)
      Candle("S", 1704067200L + i * 86400L, v, v + 1, v - 1, v, None, Some(100L), currency)
    }

  test("H4 prefer-adjusted keeps only adjusted when any exists (history.rs:578-586)") {
    val res = orderAndFilter(Seq(ph("a", 0, false), ph("b", 1, true)), preferAdjusted = true)
    assert(res.map(_.provider) == Seq("b"))
    // none adjusted -> all kept in (!adjusted, priority) order
    val res2 = orderAndFilter(Seq(ph("a", 1, false), ph("b", 0, false)), preferAdjusted = true)
    assert(res2.map(_.provider) == Seq("b", "a"))
  }

  test("H4 non-preferring keeps only matches of the top result's flag") {
    val res = orderAndFilter(Seq(ph("a", 0, false), ph("b", 1, true), ph("c", 2, false)),
      preferAdjusted = false)
    assert(res.map(_.provider) == Seq("a", "c"))
  }

  // --------------------------------------------------------------- merge

  test("merge: first-wins by priority, attribution spans, flags (M1+H6)") {
    val a = ProviderHistory("pa", 0, adjusted = true, None, None, candles("pa", n = 2))
    val b = ProviderHistory("pb", 1, adjusted = true, None, None, candles("pb", n = 3))
    val m = mergeGrouped(spark, Seq(Seq(a, b)))
    val rows = m.candles.orderBy("ts").collect()
    assert(rows.length == 3)
    // ts 0,1 from pa (priority 0), ts 2 only in pb
    val attr = graft.timeseries.Attribution.spans(m.attributed, Seq("symbol"), "ts").collect()
    assert(attr.map(r => (r.getAs[String]("provider"), r.getAs[Long]("n_points"))).toSeq
      == Seq(("pa", 2L), ("pb", 1L)))
    assert(m.adjusted)
  }

  test("H5 mixed currency: the record check names the deviating provider") {
    val a = ProviderHistory("pa", 0, adjusted = true, None, None, candles("pa"))
    val b = ProviderHistory("pb", 1, adjusted = true, None, None, candles("pb", currency = "EUR"))
    // the check reads the fetched records: no plan, no action
    currencyViolations(Seq(a, b)) match {
      case Seq(("S", graft.core.Errors.BorsaError.Connector("pb",
        graft.core.Errors.BorsaError.InconsistentCurrencyData))) => ()
      case other => fail(s"expected pb diagnosed, got $other")
    }
    // provider-INTERNAL violation blames that provider directly, even when
    // another (clean) provider also contributes
    val mixed = Seq(
      Candle("S", 1704067200L, 1, 2, 0, 1, None, Some(1L), "USD"),
      Candle("S", 1704153600L, 1, 2, 0, 1, None, Some(1L), "EUR"))
    val c = ProviderHistory("pc", 0, adjusted = true, None, None, mixed)
    val d = ProviderHistory("pd", 1, adjusted = true, None, None, candles("pd"))
    currencyViolations(Seq(c, d)) match {
      case Seq(("S", graft.core.Errors.BorsaError.Connector("pc",
        graft.core.Errors.BorsaError.InconsistentCurrencyData))) => ()
      case other => fail(s"expected pc diagnosed, got $other")
    }
  }

  test("H5 clean path: merge construction + collection run no extra jobs beyond the action itself") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = ProviderHistory("pa", 0, adjusted = true, None, None, candles("pa", n = 2))
      val b = ProviderHistory("pb", 1, adjusted = true, None, None, candles("pb", n = 3))
      assert(currencyViolations(Seq(a, b)).isEmpty)
      val m = mergeGrouped(spark, Seq(Seq(a, b)))
      Thread.sleep(300) // let any eagerly-submitted job reach the listener bus
      assert(jobs.get() == 0, "the check and the merge must build no Spark job")
      val before = jobs.get()
      assert(m.candles.collect().length == 3)
      Thread.sleep(300)
      // the first-wins window and the projection run in the request
      // relation's single partition: no Exchange, so no second
      // (shuffle-map) job
      assert(jobs.get() - before == 1, s"collect ran ${jobs.get() - before} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("H7 auto-daily resamples subdaily series only") {
    val subdailyRows = (0 until 48).map { i =>
      Row("S", 1704067200L + i * 3600L, BigDecimal(1).bigDecimal, BigDecimal(2).bigDecimal,
        BigDecimal(0).bigDecimal, BigDecimal(1).bigDecimal, 1L, "USD")
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(subdailyRows, 1), schema)
    val out = applyFinalResample(df, FinalResample.AutoDaily)
    assert(out.count() == 2)
    val daily = candlesDf("pa") // daily spacing: no resample
    assert(applyFinalResample(daily, FinalResample.AutoDaily).count() == daily.count())
  }

  test("H7 mixed auto-daily routes per-row via broadcast join — no symbol IN-list in the plan") {
    val subdailyRows = (0 until 48).map { i =>
      Row("S", 1704067200L + i * 3600L, BigDecimal(1).bigDecimal, BigDecimal(2).bigDecimal,
        BigDecimal(0).bigDecimal, BigDecimal(1).bigDecimal, 1L, "USD")
    }
    val sub = spark.createDataFrame(spark.sparkContext.parallelize(subdailyRows, 1), schema)
    val dailyRows = (0 until 3).map { i =>
      val v = BigDecimal(100 + i)
      Row("D", 1704067200L + i * 86400L, v.bigDecimal, (v + 1).bigDecimal,
        (v - 1).bigDecimal, v.bigDecimal, 100L, "USD")
    }
    val daily = spark.createDataFrame(spark.sparkContext.parallelize(dailyRows, 1), schema)
    val out = applyFinalResample(sub.unionByName(daily), FinalResample.AutoDaily)
    // behavior: subdaily symbol collapses 48 hourly → 2 daily buckets,
    // daily symbol passes through byte-identical
    assert(out.where(org.apache.spark.sql.functions.col("symbol") === "S").count() == 2)
    assert(out.where(org.apache.spark.sql.functions.col("symbol") === "D").count() == 3)
    // scale guard: the routing must be a broadcast join on the flag frame,
    // never a collected symbol list baked into the plan as an IN-list
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains(" IN ("), s"plan must not contain a symbol IN-list:\n$plan")
    val physical = out.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"expected a broadcast join routing the flags:\n$physical")
  }

  test("currencyViolations: a null-currency top provider cannot mask a lower-priority mix (bulk/history guard parity)") {
    import graft.core.Errors.BorsaError
    def records(cur: String) = Seq(
      Candle("A", 0L, BigDecimal(1), BigDecimal(2), BigDecimal(1), BigDecimal(1), None, Some(1L), cur))
    def ph(name: String, prio: Int, cur: String) =
      ProviderHistory(name, prio, adjusted = true, None, None, records(cur))
    def violations(results: Seq[ProviderHistory]) =
      HistoryRouter.currencyViolations(results)
    val results = Seq(ph("p0", 0, null), ph("p1", 1, "USD"), ph("p2", 2, "EUR"))
    // null currencies are ignored, as SQL min/max and collect_set ignore
    // them: reference currency = the first provider that reported one
    // (p1/USD), deviation blamed on p2; history and download share this
    // one check
    violations(results) match {
      case Seq(("A", BorsaError.Connector("p2", BorsaError.InconsistentCurrencyData))) => ()
      case other => fail(s"expected p2 blamed for symbol A, got $other")
    }
    // clean null-mixed-with-one-currency stays clean
    assert(violations(Seq(ph("p0", 0, null), ph("p1", 1, "USD"))).isEmpty)
  }
}
