package graft.router

import scala.concurrent.duration._

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}

import graft.SparkSpec
import graft.connector.MockConnector
import graft.core.Errors.BorsaError
import graft.core.Model._
import graft.router.HistoryOrchestrator._
import graft.routing.Policy

/** End-to-end §3.1 pipeline over mock connectors (reference scenarios:
  * borsa/tests/router/history — merge strategies, empty-skipped,
  * interval negotiation, all-fail collapse).
  */
class HistoryOrchestratorSpec extends SparkSpec {

  private val inst = Instrument(Symbol("AAPL"), None, AssetKind.Equity)
  private val req = HistoryRequest(Interval.D1, Some(1704067200L), Some(1704067200L + 10 * 86400), None)

  test("Deep merge: two providers, priority merge with attribution") {
    val a = new MockConnector("prov_a")
    val b = new MockConnector("prov_b")
    val Right(res) = history(spark, inst, req, Seq(a, b),
      Policy.ProviderPolicy().withGlobal(Seq("prov_a", "prov_b")))
    assert(res.candles.count() == 10)
    // both providers return the same ts range; first-wins -> all from prov_a
    val attr = res.attribution.collect()
    assert(attr.length == 1 && attr(0).getAs[String]("provider") == "prov_a")
    assert(res.adjusted)
  }

  test("Fallback: first non-empty wins, failing provider is skipped with warning") {
    val failing = new MockConnector("bad",
      MockConnector.Script(behaviors = Map("history" -> MockConnector.Fail(BorsaError.Data("boom")))))
    val good = new MockConnector("good")
    val Right(res) = history(spark, inst, req, Seq(failing, good),
      Policy.ProviderPolicy().withGlobal(Seq("bad", "good")),
      Config(strategy = MergeStrategy.Fallback))
    assert(res.candles.count() == 10)
    assert(res.warnings.nonEmpty) // bad's error surfaced as warning
    val attr = res.attribution.collect()
    assert(attr.forall(_.getAs[String]("provider") == "good"))
  }

  test("R6 negotiation inside the pipeline: 15m request over a 5m provider resamples") {
    val fiveMin = new MockConnector("p5",
      MockConnector.Script(supportedIntervals = Seq(Interval.I5m)))
    val r = HistoryRequest(Interval.I15m, Some(1704067200L), Some(1704067200L + 3600), None)
    val Right(res) = history(spark, inst, r, Seq(fiveMin))
    // 1h of 5m candles re-aggregated to 15m buckets -> 4 rows
    assert(res.candles.count() == 4)
  }

  test("providers on different resample plans merge in one relation without an exchange") {
    // `daily` serves D1 natively but only its first 5 days; `hourly` serves
    // 1h, resampled to daily, and fills the other 5
    val daily = new MockConnector("daily", MockConnector.Script(
      supportedIntervals = Seq(Interval.D1), maxCandles = 5))
    val hourly = new MockConnector("hourly", MockConnector.Script(
      supportedIntervals = Seq(Interval.I1h)))
    val Right(res) = history(spark, inst, req, Seq(daily, hourly),
      Policy.ProviderPolicy().withGlobal(Seq("daily", "hourly")))
    val ts = res.candles.select("ts").collect().map(_.getLong(0)).sorted.toSeq
    assert(ts == (0 until 10).map(1704067200L + _ * 86400L))
    val attr = res.attribution.collect()
      .map(r => (r.getAs[String]("provider"), r.getAs[Long]("n_points"))).toSeq
    assert(attr == Seq(("daily", 5L), ("hourly", 5L)))
    val plan = res.candles.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"the two resample groups shuffled:\n$plan")
  }

  test("all providers NotFound or OK-but-empty → NotFound, not Unsupported (router_history_not_found.rs)") {
    val nf = new MockConnector("nf_hist",
      MockConnector.Script(behaviors = Map("history" ->
        MockConnector.Fail(BorsaError.NotFound("history for AAPL")))))
    history(spark, inst, req, Seq(nf)) match {
      case Left(BorsaError.NotFound(what)) => assert(what.contains("AAPL"))
      case other => fail(s"expected NotFound, got $other")
    }
    val emptyOk = new MockConnector("empty_ok", MockConnector.Script(maxCandles = 0))
    history(spark, inst, req, Seq(emptyOk)) match {
      case Left(BorsaError.NotFound(what)) => assert(what.contains("AAPL"))
      case other => fail(s"expected NotFound, got $other")
    }
  }

  test("all providers failing collapses via F5") {
    val f1 = new MockConnector("f1",
      MockConnector.Script(behaviors = Map("history" -> MockConnector.Fail(BorsaError.Data("x")))))
    val f2 = new MockConnector("f2",
      MockConnector.Script(behaviors = Map("history" -> MockConnector.Fail(BorsaError.Data("y")))))
    history(spark, inst, req, Seq(f1, f2)) match {
      case Left(BorsaError.AllProvidersFailed(errs)) => assert(errs.size == 2)
      case other => fail(s"expected collapse, got $other")
    }
  }

  test("policy strict exclusion removes providers from the plan") {
    val a = new MockConnector("a")
    val b = new MockConnector("b")
    val strictPolicy = Policy.ProviderPolicy()
      .withRule(Policy.Selector(symbol = Some(Symbol("AAPL"))), Seq("b"), strict = true)
    val Right(res) = history(spark, inst, req, Seq(a, b), strictPolicy)
    assert(res.attribution.collect().forall(_.getAs[String]("provider") == "b"))
  }

  test("H8 download: multi-symbol union, duplicate keys rejected, partial failures warn") {
    val conn = new MockConnector("m")
    val insts = Seq(inst, Instrument(Symbol("MSFT"), None, AssetKind.Equity),
      Instrument(Symbol("FAIL"), None, AssetKind.Equity))
    val Right(res) = download(spark, insts, req, Seq(conn))
    assert(res.candles.select("symbol").distinct().count() == 2)
    assert(res.warnings.exists {
      case BorsaError.Connector("FAIL", _) => true
      case _ => false
    })
    intercept[IllegalArgumentException] {
      download(spark, Seq(inst, inst), req, Seq(conn))
    }
  }

  test("H8 download is ONE merge plan (one relation, one first-wins window, no exchange) and propagates merged actions") {
    import graft.core.Model.Action
    val div = Action("", 1704067200L, "dividend", Some(BigDecimal(1)), Some("USD"), None, None)
    val a = new MockConnector("pa", MockConnector.Script(actions = Seq(div)))
    val b = new MockConnector("pb")
    val insts = Seq(inst,
      Instrument(Symbol("MSFT"), None, AssetKind.Equity),
      Instrument(Symbol("GOOG"), None, AssetKind.Equity))
    val Right(res) = download(spark, insts, req, Seq(a, b),
      Policy.ProviderPolicy().withGlobal(Seq("pa", "pb")))
    assert(res.candles.select("symbol").distinct().count() == 3)
    // one data plane: the 3-instrument × 2-provider request is ONE
    // single-partition relation (one resample group, so one leaf) merged
    // by ONE first-wins window with no exchange. A per-instrument loop
    // would show 3 independent merge plans instead.
    val optimized = res.candles.queryExecution.optimizedPlan
    val leaves = optimized.collectLeaves()
    assert(leaves.size == 1 && leaves.forall(_.isInstanceOf[LocalRelation]),
      s"expected one LocalRelation leaf, plan:\n$optimized")
    val plan = res.candles.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"the merge shuffled:\n$plan")
    assert("Window \\[row_number\\(\\)".r.findAllIn(plan).size == 1,
      s"expected one first-wins window, plan:\n$plan")
    // merged actions present in the bulk result (previously dropped)
    assert(res.actions.isDefined && res.actions.get.count() == 3)
  }

  test("merged actions: concatenated across providers, canonically deduped (M1+M3)") {
    import graft.core.Model.Action
    val div = Action("", 1704067200L, "dividend", Some(BigDecimal(1)), Some("USD"), None, None)
    val split = Action("", 1704153600L, "split", None, None, Some(2L), Some(1L))
    val a = new MockConnector("pa", MockConnector.Script(actions = Seq(div, split)))
    val b = new MockConnector("pb", MockConnector.Script(actions = Seq(div))) // duplicate dividend
    val Right(res) = history(spark, inst, req, Seq(a, b))
    val acts = res.actions.get.collect()
    assert(acts.length == 2) // duplicate dividend deduped
    // the mid-plan actions frame is UNSORTED (dedup kernel only) — the
    // canonical order is a terminal presentation concern, so the merge
    // plan must not carry a global Sort node for the actions branch
    assert(acts.sortBy(_.getAs[Long]("ts")).map(_.getAs[String]("kind")).toSeq ==
      Seq("dividend", "split"))
    val actionsPlan = res.actions.get.queryExecution.executedPlan.toString
    assert(!actionsPlan.contains("Sort "), s"actions branch carries a Sort:\n$actionsPlan")
    // terminal presentation: the canonical order is one orderBy away
    val presented = graft.timeseries.Merge.canonicalActionOrder(res.actions.get).collect()
    assert(presented.map(_.getAs[String]("kind")).toSeq == Seq("dividend", "split"))
    // actions=false suppresses them
    val Right(noActs) = history(spark, inst, req.copy(actions = false), Seq(a, b))
    assert(noActs.actions.isEmpty)
  }

  test("H4 prefer-adjusted matrix through the pipeline (router_history_prefer_adjusted.rs)") {
    val unadj = new MockConnector("unadj", MockConnector.Script(adjusted = false))
    val adj = new MockConnector("adj", MockConnector.Script(adjusted = true))
    val policy = Policy.ProviderPolicy().withGlobal(Seq("unadj", "adj"))
    // preferAdjusted=true (default): the higher-priority UNADJUSTED series
    // is dropped entirely; every surviving row comes from `adj`
    val Right(pref) = history(spark, inst, req, Seq(unadj, adj), policy)
    assert(pref.attribution.collect().forall(_.getAs[String]("provider") == "adj"))
    assert(pref.adjusted)
    // preferAdjusted=false: priority order wins regardless of the flag, and
    // only series matching the top result's adjustedness survive
    val Right(prio) = history(spark, inst, req, Seq(unadj, adj), policy,
      Config(preferAdjusted = false))
    assert(prio.attribution.collect().forall(_.getAs[String]("provider") == "unadj"))
    assert(!prio.adjusted)
  }

  test("H7 auto-resample through the pipeline (router_history_auto_resample.rs)") {
    val hourly = new MockConnector("h",
      MockConnector.Script(supportedIntervals = Seq(Interval.I1h)))
    val subdailyReq = HistoryRequest(Interval.I1h, Some(0L), Some(2L * 86400), None)
    // 48 hourly candles, AutoDaily → 2 daily rows at day starts
    val Right(auto) = history(spark, inst, subdailyReq, Seq(hourly), config =
      Config(finalResample = HistoryRouter.FinalResample.AutoDaily))
    val ts = auto.candles.select("ts").collect().map(_.getLong(0)).sorted
    assert(ts.toSeq == Seq(0L, 86400L))
    // a daily-cadence series does NOT trigger auto resample
    val daily = new MockConnector("d",
      MockConnector.Script(supportedIntervals = Seq(Interval.D1)))
    val dailyReq = HistoryRequest(Interval.D1, Some(0L), Some(3L * 86400), None)
    val Right(noAuto) = history(spark, inst, dailyReq, Seq(daily), config =
      Config(finalResample = HistoryRouter.FinalResample.AutoDaily))
    assert(noAuto.candles.count() == 3)
    // explicit Weekly overrides auto on the same subdaily series
    val Right(weekly) = history(spark, inst, subdailyReq, Seq(hourly), config =
      Config(finalResample = HistoryRouter.FinalResample.Weekly))
    assert(weekly.candles.count() == 1, "2 days collapse into one Monday-anchored week")
  }

  test("wire payload end-to-end: fixture connector → R6 negotiation → tz-aware daily resample") {
    import graft.connector.FixtureConnector
    import graft.connector.FixtureConnector._
    // 48 hourly candles from 2024-01-01 00:00 UTC, provider reports
    // America/New_York — the Daily plan must bucket at NY local midnight
    val start = 1704067200L
    val candlesJson = (0 until 48).map { i =>
      val ts = start + i * 3600L
      s"""{"ts":$ts,"open":"10.0","high":"11.0","low":"9.0","close":"10.5","volume":5,"currency":"USD"}"""
    }.mkString("[", ",", "]")
    val body =
      s"""{"adjusted":true,"meta":{"timezone":"America/New_York"},"candles":$candlesJson}"""
    val fx = new FixtureConnector("fx",
      new RecordedTransport(Map(("history", "AAPL") -> Right(body))),
      supportedIntervals = Seq(Interval.I1h))
    val r = HistoryRequest(Interval.D1, Some(start), Some(start + 2 * 86400), None)
    val Right(res) = history(spark, inst, r, Seq(fx))
    val ny = java.time.ZoneId.of("America/New_York")
    val buckets = res.candles.select("ts").collect().map(_.getLong(0))
    assert(buckets.nonEmpty)
    buckets.foreach { ts =>
      val l = java.time.Instant.ofEpochSecond(ts).atZone(ny)
      assert(l.getHour == 0 && l.getMinute == 0, s"bucket $ts not NY-local midnight: $l")
    }
    assert(res.adjusted && res.meta.exists(_.timezone.contains("America/New_York")))
  }

  test("H5 typed diagnosis reaches the public result: mixed-currency merge maps to the deviating provider") {
    import graft.connector.FixtureConnector
    import graft.connector.FixtureConnector._
    def fix(n: String, currency: String) = {
      val candles = (0 until 3).map { i =>
        s"""{"ts":${1704067200L + i * 86400L},"open":"1","high":"2","low":"0.5","close":"1.5","volume":1,"currency":"$currency"}"""
      }.mkString("[", ",", "]")
      new FixtureConnector(n, new RecordedTransport(Map(
        ("history", "AAPL") -> Right(s"""{"adjusted":true,"candles":$candles}"""))))
    }
    val usd = fix("usd_prov", "USD")
    val eur = fix("eur_prov", "EUR")
    // the check runs on the fetched records: the call itself returns the
    // blamed error, and no Spark job runs
    val (mixed, jobs) = jobsDuring(history(spark, inst, req, Seq(usd, eur),
      Policy.ProviderPolicy().withGlobal(Seq("usd_prov", "eur_prov"))))
    mixed match {
      case Left(BorsaError.Connector("eur_prov", BorsaError.InconsistentCurrencyData)) => ()
      case other => fail(s"expected eur_prov diagnosed, got $other")
    }
    assert(jobs == 0, s"a mixed-currency history ran $jobs jobs")
    // clean results pass actions through unchanged
    val Right(clean) = history(spark, inst, req, Seq(usd))
    assert(clean.collect(clean.candles.count()) == Right(3L))
  }

  /** Hourly AAPL from a provider reporting a New York meta and hourly MSFT
    * from one reporting none, downloaded together under AutoDaily: two
    * distinct metas, so one final-resample branch per meta.
    */
  private def twoMetaAutoDailyDownload() = {
    val nyProv = new MockConnector("ny", MockConnector.Script(
      supportedIntervals = Seq(Interval.I1h),
      meta = Some(HistoryMeta(Some("America/New_York"), None))))
    val utcProv = new MockConnector("plain", MockConnector.Script(
      supportedIntervals = Seq(Interval.I1h)))
    // route each instrument to a different provider → two distinct metas
    val policy = Policy.ProviderPolicy()
      .withRule(Policy.Selector(symbol = Some(Symbol("AAPL"))), Seq("ny"), strict = true)
      .withRule(Policy.Selector(symbol = Some(Symbol("MSFT"))), Seq("plain"), strict = true)
    val r = HistoryRequest(Interval.I1h, Some(1704067200L), Some(1704067200L + 2 * 86400), None)
    val insts = Seq(inst, Instrument(Symbol("MSFT"), None, AssetKind.Equity))
    download(spark, insts, r, Seq(nyProv, utcProv), policy,
      Config(finalResample = HistoryRouter.FinalResample.AutoDaily))
  }

  test("H8 multi-meta download under AutoDaily: per-meta branches stay union-compatible") {
    val Right(res) = twoMetaAutoDailyDownload()
    val bySymbol = res.candles.select("symbol", "ts").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    // subdaily hourly series collapse to daily on BOTH branches, each on
    // its own meta alignment: MSFT at UTC midnights, AAPL at NY midnights
    assert(bySymbol("MSFT") == Seq(1704067200L, 1704067200L + 86400L))
    val ny = java.time.ZoneId.of("America/New_York")
    bySymbol("AAPL").foreach { ts =>
      val l = java.time.Instant.ofEpochSecond(ts).atZone(ny)
      assert(l.getHour == 0 && l.getMinute == 0, s"AAPL bucket $ts not NY midnight: $l")
    }
    // each branch selects its instruments by their meta-group id, a data
    // column: no symbol IN-list (nor its one-element form, symbol = 'X')
    val optimized = res.candles.queryExecution.optimizedPlan
    assert(!optimized.toString.contains(" IN ("), s"symbol IN-list in the plan:\n$optimized")
    val symbolFilters = optimized.collect {
      case f: Filter if f.condition.references.exists(_.name == "symbol") => f
    }
    assert(symbolFilters.isEmpty, s"per-meta branches filter on symbol:\n$optimized")
  }

  /** Jobs started while `body` runs (the listener bus is drained by a
    * short wait, as in HistoryRouterSpec's H5 test).
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(300)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("H8 a 50-instrument × 3-provider download is one candle leaf, built with no job and collected in one") {
    val provs = Seq("pa", "pb", "pc").map(new MockConnector(_))
    val insts = (1 to 50).map(i => Instrument(Symbol(f"S$i%02d"), None, AssetKind.Equity))
    val (Right(res), callJobs) = jobsDuring(download(spark, insts, req, provs,
      Policy.ProviderPolicy().withGlobal(Seq("pa", "pb", "pc"))))
    val (rows, collectJobs) = jobsDuring(res.collect(res.candles.collect()))
    assert(rows.map(_.length) == Right(50 * 10))
    val optimized = res.candles.queryExecution.optimizedPlan
    assert(optimized.collectLeaves().size == 1,
      s"expected one candle relation, got ${optimized.collectLeaves().size} leaves")
    // the currency check reads the fetched records, so the call runs no
    // job; the collect is the one job
    assert(callJobs == 0, s"download ran $callJobs jobs")
    assert(collectJobs == 1, s"collect ran $collectJobs jobs")
  }

  test("history(inst) equals download(Seq(inst)): candles, actions, attribution, adjusted, meta, warnings") {
    import graft.core.Model.Action
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def same(label: String, connectors: Seq[MockConnector], r: HistoryRequest = req,
        config: Config = Config()): Unit = {
      val policy = Policy.ProviderPolicy().withGlobal(connectors.map(_.name))
      val Right(h) = history(spark, inst, r, connectors, policy, config)
      val Right(d) = download(spark, Seq(inst), r, connectors, policy, config)
      assert(rows(h.candles) == rows(d.candles), label)
      assert(h.actions.map(rows) == d.actions.map(rows), label)
      assert(rows(h.attribution) == rows(d.attribution), label)
      assert((h.adjusted, h.meta, h.warnings) == (d.adjusted, d.meta, d.warnings), label)
    }
    same("one provider with close_unadj", Seq(new MockConnector("solo",
      MockConnector.Script(closeUnadjDelta = Some(BigDecimal("0.25"))))))
    same("two overlapping providers", Seq(
      new MockConnector("short", MockConnector.Script(maxCandles = 6)),
      new MockConnector("full"),
      new MockConnector("down", MockConnector.Script(
        behaviors = Map("history" -> MockConnector.Fail(BorsaError.Data("boom")))))))
    same("two providers on different resample plans", Seq(
      new MockConnector("daily", MockConnector.Script(
        supportedIntervals = Seq(Interval.D1), maxCandles = 5)),
      new MockConnector("hourly", MockConnector.Script(supportedIntervals = Seq(Interval.I1h)))))
    val div = Action("", 1704067200L, "dividend", Some(BigDecimal(1)), Some("USD"), None, None)
    same("one provider reporting the same dividend twice", Seq(new MockConnector("dup",
      MockConnector.Script(actions = Seq(div, div)))))
    same("an AutoDaily intraday series", Seq(new MockConnector("h",
      MockConnector.Script(supportedIntervals = Seq(Interval.I1h)))),
      HistoryRequest(Interval.I1h, Some(0L), Some(2L * 86400), None),
      Config(finalResample = HistoryRouter.FinalResample.AutoDaily))
  }

  test("same-shape histories with different symbols and provider counts compile no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // a provider that fails for one symbol only, so the surviving provider
    // count differs between requests of the same shape
    class FailsOn(n: String, syms: Set[String]) extends MockConnector(n) {
      override def history(i: Instrument, r: HistoryRequest): Either[BorsaError, HistoryResponse] =
        if (syms(i.symbol.value)) Left(BorsaError.Data("down")) else super.history(i, r)
    }
    val names = (1 to 6).map(i => s"cg$i")
    val provs = names.map {
      case "cg5" => new FailsOn("cg5", Set("CG2", "CG3"))
      case "cg2" => new FailsOn("cg2", Set("CG3"))
      case n     => new MockConnector(n)
    }
    val policy = Policy.ProviderPolicy().withGlobal(names)
    def run(sym: String): Long = {
      val Right(res) = history(spark, Instrument(Symbol(sym), None, AssetKind.Equity),
        req, provs, policy)
      val Right(rows) = res.collect(res.candles.collect())
      assert(rows.length == 10)
      res.attribution.count()
    }
    run("CG0") // warm-up: 6 providers
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Seq("CG1", "CG2", "CG3").foreach(run) // 6, 5 and 4 providers
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0,
      "a repeated request shape missed the codegen cache")
  }

  test("AutoDaily histories and a multi-meta final resample leave the session's cache empty") {
    spark.catalog.clearCache()
    val hourly = new MockConnector("h",
      MockConnector.Script(supportedIntervals = Seq(Interval.I1h)))
    val subdailyReq = HistoryRequest(Interval.I1h, Some(0L), Some(2L * 86400), None)
    (1 to 3).foreach { _ =>
      val Right(auto) = history(spark, inst, subdailyReq, Seq(hourly), config =
        Config(finalResample = HistoryRouter.FinalResample.AutoDaily))
      assert(auto.candles.count() == 2)
    }
    val Right(res) = twoMetaAutoDailyDownload()
    assert(res.candles.count() > 0)
    // a persisted frame stays in CacheManager until it is unpersisted, and
    // nothing unpersists a plan a request returned
    assert(spark.sharedState.cacheManager.isEmpty,
      "a history request must not leave a cache entry behind")
  }

  test("per-symbol AutoDaily in bulk: only the subdaily symbol is resampled; the daily symbol passes through byte-identical") {
    import graft.connector.FixtureConnector
    import graft.connector.FixtureConnector._
    val start = 1704067200L
    // MSFT: daily-cadence candles deliberately OFF midnight (12:00) — a
    // global AutoDaily decision would snap them to midnight buckets
    val msftTs = (0 until 3).map(i => start + i * 86400L + 43200L)
    val msftCandles = msftTs.map(ts =>
      s"""{"ts":$ts,"open":"1","high":"2","low":"0.5","close":"1.5","volume":7,"currency":"USD"}"""
    ).mkString("[", ",", "]")
    val daily = new FixtureConnector("daily_fx",
      new RecordedTransport(Map(("history", "MSFT") ->
        Right(s"""{"adjusted":true,"candles":$msftCandles}"""))),
      supportedIntervals = Seq(Interval.I1h))
    val hourly = new MockConnector("hourly", MockConnector.Script(
      supportedIntervals = Seq(Interval.I1h)))
    val policy = Policy.ProviderPolicy()
      .withRule(Policy.Selector(symbol = Some(Symbol("AAPL"))), Seq("hourly"), strict = true)
      .withRule(Policy.Selector(symbol = Some(Symbol("MSFT"))), Seq("daily_fx"), strict = true)
    val r = HistoryRequest(Interval.I1h, Some(start), Some(start + 2 * 86400), None)
    val insts = Seq(inst, Instrument(Symbol("MSFT"), None, AssetKind.Equity))
    val Right(res) = download(spark, insts, r, Seq(daily, hourly), policy,
      Config(finalResample = HistoryRouter.FinalResample.AutoDaily))
    val bySymbol = res.candles.collect().groupBy(_.getAs[String]("symbol"))
    // AAPL: 48 hourly candles collapsed to 2 daily buckets at UTC midnight
    assert(bySymbol("AAPL").map(_.getAs[Long]("ts")).sorted.toSeq ==
      Seq(start, start + 86400L))
    // MSFT: rows byte-identical — same off-midnight ts, same values
    val msftRows = bySymbol("MSFT").sortBy(_.getAs[Long]("ts"))
    assert(msftRows.map(_.getAs[Long]("ts")).toSeq == msftTs)
    assert(msftRows.forall(_.getAs[java.math.BigDecimal]("close")
      .compareTo(new java.math.BigDecimal("1.5")) == 0))
    assert(msftRows.forall(_.getAs[Long]("volume") == 7L))
  }

  test("download isolates a currency violation: violating symbol dropped with a blamed warning, batch succeeds") {
    import graft.connector.FixtureConnector
    import graft.connector.FixtureConnector._
    def candlesJson(currency: String) = (0 until 3).map { i =>
      s"""{"ts":${1704067200L + i * 86400L},"open":"1","high":"2","low":"0.5","close":"1.5","volume":1,"currency":"$currency"}"""
    }.mkString("[", ",", "]")
    // AAPL (the violator-to-be) reports unadjusted data + a Paris tz meta;
    // MSFT is adjusted with no meta — the dropped instrument must not leak
    // its flags into the result
    def fix(n: String, aaplCur: String) = new FixtureConnector(n,
      new RecordedTransport(Map(
        ("history", "AAPL") -> Right(
          s"""{"adjusted":false,"meta":{"timezone":"Europe/Paris"},"candles":${candlesJson(aaplCur)}}"""),
        ("history", "MSFT") -> Right(s"""{"adjusted":true,"candles":${candlesJson("USD")}}"""))))
    val usd = fix("usd_prov", "USD")
    val eur = fix("eur_prov", "EUR") // deviates on AAPL only
    val insts = Seq(inst, Instrument(Symbol("MSFT"), None, AssetKind.Equity))
    val Right(res) = download(spark, insts, req, Seq(usd, eur),
      Policy.ProviderPolicy().withGlobal(Seq("usd_prov", "eur_prov")))
    // the clean symbol survives; the violating one is dropped, not fatal
    val syms = res.candles.select("symbol").distinct().collect().map(_.getString(0)).toSeq
    assert(syms == Seq("MSFT"))
    assert(res.warnings.exists {
      case BorsaError.Connector("AAPL",
        BorsaError.Connector("eur_prov", BorsaError.InconsistentCurrencyData)) => true
      case _ => false
    }, s"expected AAPL/eur_prov blame in ${res.warnings}")
    // the dropped instrument contributes NOTHING: adjusted/meta reflect
    // only the surviving instruments
    assert(res.adjusted, "dropped instrument leaked its unadjusted flag")
    assert(res.meta.isEmpty, s"dropped instrument leaked its meta: ${res.meta}")
  }

  test("request deadline with a partially-complete fan-out still collapses to RequestTimeout (no partial-success race)") {
    class PerSymbolSlow extends MockConnector("ps") {
      override def history(i: Instrument, r: HistoryRequest): Either[BorsaError, HistoryResponse] = {
        if (i.symbol.value == "SLOW") Thread.sleep(2000)
        super.history(i, r)
      }
    }
    val insts = Seq(inst, Instrument(Symbol("SLOW"), None, AssetKind.Equity))
    download(spark, insts, req, Seq(new PerSymbolSlow),
      config = Config(requestTimeout = Some(300.millis))) match {
      case Left(BorsaError.RequestTimeout("download")) => ()
      case other => fail(s"deadline elapse must not yield partial success, got $other")
    }
  }

  test("download single-source short-circuit per instrument: close_unadj preserved like history() (raw_close.rs)") {
    val a = new MockConnector("solo", MockConnector.Script(
      closeUnadjDelta = Some(BigDecimal("0.25"))))
    val insts = Seq(inst, Instrument(Symbol("MSFT"), None, AssetKind.Equity))
    val Right(res) = download(spark, insts, req, Seq(a))
    val rows = res.candles.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[java.math.BigDecimal]("close_unadj") != null),
      "single-provider instruments must keep raw-close provenance in bulk")
    // all-single downloads bypass the first-wins window entirely: no
    // exchange anywhere in the candles plan
    val plan = res.candles.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"single-source branch shuffled:\n$plan")
    // and history() on the same instrument agrees
    val Right(solo) = history(spark, inst, req, Seq(a))
    assert(solo.candles.collect().forall(_.getAs[java.math.BigDecimal]("close_unadj") != null))
    // a multi-provider instrument in the SAME download still clears it
    val b = new MockConnector("second", MockConnector.Script(
      closeUnadjDelta = Some(BigDecimal("0.10"))))
    val Right(mixed) = download(spark, insts, req, Seq(a, b),
      Policy.ProviderPolicy()
        .withRule(Policy.Selector(symbol = Some(Symbol("MSFT"))), Seq("solo", "second"), strict = true)
        .withRule(Policy.Selector(symbol = Some(Symbol("AAPL"))), Seq("solo"), strict = true))
    val bysym = mixed.candles.collect().groupBy(_.getAs[String]("symbol"))
    assert(bysym("AAPL").forall(_.getAs[java.math.BigDecimal]("close_unadj") != null))
    assert(bysym("MSFT").forall(_.getAs[java.math.BigDecimal]("close_unadj") == null))
    // the single-source and first-wins branches read one single-partition
    // relation, and their union stays one partition
    val mixedPlan = mixed.candles.queryExecution.executedPlan.toString
    assert(!mixedPlan.contains("Exchange"), s"mixed download shuffled:\n$mixedPlan")
  }

  test("download fans out instruments concurrently: N × slow provider ≈ one delay of wall-clock") {
    val slow = new MockConnector("slow",
      MockConnector.Script(behaviors = Map("history" -> MockConnector.Delay(600))))
    val insts = Seq("A1", "A2", "A3", "A4").map(s => Instrument(Symbol(s), None, AssetKind.Equity))
    val t0 = System.nanoTime()
    val Right(res) = download(spark, insts, req, Seq(slow))
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(res.candles.select("symbol").distinct().count() == 4)
    // sequential would cost 4 × 600 ms of provider IO before the plan even
    // exists; concurrent ≈ one delay + fetch overhead
    assert(elapsedMs < 1800, s"download control plane looks sequential: $elapsedMs ms")
  }

  test("shared request deadline: download collapses to RequestTimeout, bounded wall-clock") {
    val slow = new MockConnector("slow",
      MockConnector.Script(behaviors = Map("history" -> MockConnector.Delay(2000))))
    val insts = Seq("B1", "B2", "B3").map(s => Instrument(Symbol(s), None, AssetKind.Equity))
    val t0 = System.nanoTime()
    val res = download(spark, insts, req, Seq(slow),
      config = Config(requestTimeout = Some(300.millis)))
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(BorsaError.RequestTimeout("download")) => ()
      case other => fail(s"expected RequestTimeout, got $other")
    }
    assert(elapsedMs < 1500, s"deadline did not bound the fan-out: $elapsedMs ms")
  }

  test("request deadline bounds a single-instrument Deep fan-out (history.rs:126-153)") {
    val slow = new MockConnector("slow",
      MockConnector.Script(behaviors = Map("history" -> MockConnector.Delay(2000))))
    history(spark, inst, req, Seq(slow),
      config = Config(requestTimeout = Some(250.millis))) match {
      case Left(BorsaError.RequestTimeout("history")) => ()
      case other => fail(s"expected RequestTimeout, got $other")
    }
  }

  test("Fallback chain stops at the deadline, not after N provider timeouts") {
    // three slow-and-EMPTY providers: the chain would walk all of them
    def slowEmpty(n: String) = new MockConnector(n, MockConnector.Script(
      behaviors = Map("history" -> MockConnector.Delay(400)), maxCandles = 0))
    val provs = Seq(slowEmpty("se1"), slowEmpty("se2"), slowEmpty("se3"))
    val t0 = System.nanoTime()
    val res = history(spark, inst, req, provs,
      Policy.ProviderPolicy().withGlobal(Seq("se1", "se2", "se3")),
      Config(strategy = MergeStrategy.Fallback, requestTimeout = Some(600.millis)))
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(BorsaError.RequestTimeout("history")) => ()
      case other => fail(s"expected RequestTimeout, got $other")
    }
    assert(elapsedMs < 1200, s"chain ran past the deadline: $elapsedMs ms")
  }

  test("MW6: pooled fan-out threads do not leak an inherited internal scope across requests") {
    import graft.connector.{CallOrigin, Middleware}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[CallOrigin]()
    class Recording(n: String) extends MockConnector(n) {
      override def history(i: Instrument, r: HistoryRequest): Either[BorsaError, HistoryResponse] = {
        seen.add(Middleware.currentOrigin.value)
        super.history(i, r)
      }
    }
    val rec = new Recording("rec")
    val insts = Seq("C1", "C2").map(s => Instrument(Symbol(s), None, AssetKind.Equity))
    // warm-up under an INTERNAL scope: cached-pool threads created here
    // inherit Internal as their permanent thread-local default
    Middleware.internal("warmup", "history") {
      assert(download(spark, insts, req, Seq(rec)).isRight)
    }
    seen.clear()
    // an EXTERNAL request reusing those pooled threads must still observe
    // External at the connector boundary (quota/blacklist consult this)
    assert(download(spark, insts, req, Seq(rec)).isRight)
    assert(!seen.isEmpty)
    seen.forEach(o => assert(o == CallOrigin.External, s"leaked internal scope: $o"))
  }

  test("request validation: period xor range, start < end (download.rs:10-27)") {
    val conn = new MockConnector("m")
    assert(history(spark, inst,
      HistoryRequest(Interval.D1, Some(1L), Some(2L), Some("1mo")), Seq(conn)).isLeft)
    assert(history(spark, inst,
      HistoryRequest(Interval.D1, None, None, None), Seq(conn)).isLeft)
    assert(history(spark, inst,
      HistoryRequest(Interval.D1, Some(5L), Some(5L), None), Seq(conn)).isLeft)
    assert(history(spark, inst,
      HistoryRequest(Interval.D1, None, None, Some("1mo")), Seq(conn)).isRight)
  }
}
