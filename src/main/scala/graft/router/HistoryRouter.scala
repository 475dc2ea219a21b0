package graft.router

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Errors.BorsaError
import graft.core.Model._
import graft.timeseries.{Attribution, Currency, Merge, Resample}

/** History orchestration (SURVEY §3.1, operators R6 + H1–H8).
  *
  * Control plane (interval negotiation, strategy dispatch, adjusted
  * preference) is pure Scala; the data plane (per-provider resample →
  * priority merge → attribution → final resample) is ONE Catalyst plan:
  * union → row_number dedup → aggregation. Candles per provider arrive as
  * DataFrames with columns (symbol, ts, open, high, low, close,
  * close_unadj, volume, currency) — ts in epoch seconds.
  */
object HistoryRouter {

  /** R6 resample plan (history.rs:23-27). */
  sealed trait ResamplePlan
  object ResamplePlan {
    final case class Minutes(m: Long) extends ResamplePlan
    case object Daily extends ResamplePlan
    case object Weekly extends ResamplePlan
  }

  /** R6 `choose_effective_interval` (history.rs:38-123): exact support →
    * passthrough; intraday → largest supported divisor + minute
    * re-aggregation; D1 → native else coarsest intraday + daily resample;
    * W1 → native else daily else intraday + weekly resample; other
    * calendar intervals pass through.
    */
  def chooseEffectiveInterval(
      supported: Seq[Interval],
      requested: Interval): Either[BorsaError, (Interval, Option[ResamplePlan])] = {
    if (supported.contains(requested)) return Right((requested, None))
    requested.minutes match {
      case Some(reqMin) =>
        val best = supported
          .flatMap(s => s.minutes.map(m => (s, m)))
          .filter { case (_, m) => m <= reqMin && reqMin % m == 0 }
          .sortBy(-_._2)
          .headOption
        best match {
          case Some((eff, _)) => Right((eff, Some(ResamplePlan.Minutes(reqMin))))
          case None => Left(BorsaError.Unsupported("history interval (intraday too fine for provider)"))
        }
      case None => requested match {
        case Interval.D1 =>
          coarsestIntraday(supported) match {
            case Some(eff) => Right((eff, Some(ResamplePlan.Daily)))
            case None => Left(BorsaError.Unsupported("history interval (daily requires daily or intraday)"))
          }
        case Interval.W1 =>
          if (supported.contains(Interval.D1)) Right((Interval.D1, Some(ResamplePlan.Weekly)))
          else coarsestIntraday(supported) match {
            case Some(eff) => Right((eff, Some(ResamplePlan.Weekly)))
            case None => Left(BorsaError.Unsupported("history interval (weekly requires weekly/daily/intraday)"))
          }
        case other => Right((other, None))
      }
    }
  }

  private def coarsestIntraday(supported: Seq[Interval]): Option[Interval] =
    supported.flatMap(s => s.minutes.map(m => (s, m))).sortBy(-_._2).headOption.map(_._1)

  /** One provider's (already fetched) contribution. */
  final case class ProviderHistory(
      provider: String,
      priority: Int,
      adjusted: Boolean,
      meta: Option[HistoryMeta],
      plan: Option[ResamplePlan],
      candles: DataFrame,
      actions: Option[DataFrame] = None)

  /** Meta-aware bucket column — the reference's `choose_bucket_{day,week,
    * minutes}` (resample.rs:279-320): IANA timezone preferred (DST-exact via
    * the native [[graft.functions.TzBucket]] expression), fixed UTC offset
    * fallback, plain UTC otherwise. Applies to ALL three plan shapes — a
    * provider reporting a timezone gets local trading-day/Monday/minute
    * alignment, not UTC midnight splits.
    */
  def bucketFor(plan: ResamplePlan, meta: Option[HistoryMeta], secs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val tz  = meta.flatMap(_.timezone)
    val off = meta.flatMap(_.utcOffsetSeconds)
    plan match {
      case ResamplePlan.Minutes(m) =>
        tz.map(z => graft.functions.TzBucket.localMinutes(secs, z, m.toInt))
          .orElse(off.map(o => Resample.minuteBucket(secs + o, m.toInt) - o))
          .getOrElse(Resample.minuteBucket(secs, m.toInt))
      case ResamplePlan.Daily =>
        tz.map(z => graft.functions.TzBucket.localDay(secs, z))
          .orElse(off.map(o => Resample.dailyBucket(secs + o) - o))
          .getOrElse(Resample.dailyBucket(secs))
      case ResamplePlan.Weekly =>
        tz.map(z => graft.functions.TzBucket.localWeek(secs, z))
          .orElse(off.map(o => Resample.weeklyBucket(secs + o) - o))
          .getOrElse(Resample.weeklyBucket(secs))
    }
  }

  /** H3 — apply each provider's resample plan with its own meta
    * (history.rs:521-576). NOTE: candle-shaped resample (open of earliest,
    * close of latest) — not the tick kernel.
    */
  def applyPlan(ph: ProviderHistory): DataFrame = {
    ph.plan match {
      case None => ph.candles
      case Some(plan) =>
        val bucket = bucketFor(plan, ph.meta, col("ts"))
        // currency rides along as a group key: post-C2 it is functionally
        // dependent on symbol, so this adds no groups and no extra shuffle
        val keys =
          if (ph.candles.columns.contains("currency")) Seq("symbol", "currency")
          else Seq("symbol")
        Resample.resampleCandles(ph.candles, bucket, keys)
          .withColumnRenamed("bucket_ts", "ts")
    }
  }

  /** H4 `order_results` / `filter_adjustedness` (history.rs:578-586,188-203):
    * prefer-adjusted → only adjusted results when any exist, ordered by
    * (!adjusted, original priority); else keep only results matching the
    * top result's adjusted flag.
    */
  def orderAndFilter(results: Seq[ProviderHistory], preferAdjusted: Boolean): Seq[ProviderHistory] =
    if (results.isEmpty) results
    else if (preferAdjusted) {
      val ordered = results.sortBy(r => (!r.adjusted, r.priority))
      if (ordered.exists(_.adjusted)) ordered.filter(_.adjusted) else ordered
    } else {
      val top = results.minBy(_.priority)
      results.sortBy(_.priority).filter(_.adjusted == top.adjusted)
    }

  /** Merged adjusted-flag algebra (merge.rs:32-37,76-102): first
    * contributor AND all contributors — which reduces to all-adjusted over
    * a non-empty contributor set. Shared by merge() and bulk download so
    * the two paths cannot drift.
    */
  def mergedAdjusted(results: Seq[ProviderHistory]): Boolean =
    results.nonEmpty && results.forall(_.adjusted)

  /** Merged meta: first non-None by priority (merge.rs:37,96-101). */
  def mergedMeta(results: Seq[ProviderHistory]): Option[HistoryMeta] =
    results.sortBy(_.priority).flatMap(_.meta).headOption

  /** Merged result: candles + deduped actions + flags + attribution. */
  final case class MergedHistory(
      candles: DataFrame,
      attribution: DataFrame,
      adjusted: Boolean,
      meta: Option[HistoryMeta],
      actions: Option[DataFrame] = None)

  /** Marker text of the in-plan currency guard; [[diagnosed]] keys on it. */
  private val CurrencyGuardMsg = "currency invariant violated"

  /** H5+M1+H6 — the one-logical-plan merge: union with priority →
    * currency guard → first-wins on (symbol, ts) → close_unadj cleared;
    * attribution spans from the winning rows.
    *
    * The currency invariant (history.rs:205-274: no symbol may mix
    * currencies across contributing providers, checked BEFORE the merge
    * hides rows) is enforced LAZILY, in-plan: a window min/max over
    * `symbol` feeds a `raise_error` guard consumed by a filter. The guard
    * window needs only hash-distribution by `symbol`, which the first-wins
    * window (partitioned by (symbol, ts)) can reuse — so the clean path
    * costs ZERO extra Spark jobs and zero extra exchanges, where the
    * previous eager form ran 2 full driver-blocking scans per merge. On
    * violation the consuming action throws; callers run actions through
    * [[diagnosed]] to map the failure to the reference's typed error with
    * the deviating provider named.
    */
  def merge(results: Seq[ProviderHistory]): Either[BorsaError, MergedHistory] = {
    require(results.nonEmpty, "merge of zero histories")
    // Single source passes through UNMERGED (history.rs:207-210
    // merge_history_or_tag_connector_error short-circuits len==1): no
    // first-wins, no currency guard, and crucially close_unadj raw-close
    // provenance is PRESERVED when the provider's plan ran no resample
    // (borsa/tests/router/history/router_history_raw_close.rs).
    if (results.sizeIs == 1) {
      val r = results.head
      val withProv = applyPlan(r).withColumn("provider", lit(r.provider))
      val attribution = Attribution.spans(withProv, Seq("symbol"), "ts")
      return Right(MergedHistory(
        withProv.drop("provider"), attribution, r.adjusted, r.meta, r.actions))
    }
    val unioned = taggedUnion(results)

    val guarded =
      if (!unioned.columns.contains("currency")) unioned
      else {
        val wSym = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
        unioned
          .withColumn("__cur_guard",
            when(min(col("currency")).over(wSym) =!= max(col("currency")).over(wSym),
              raise_error(concat(lit(s"$CurrencyGuardMsg for symbol "), col("symbol")))))
          .where(col("__cur_guard").isNull)
          .drop("__cur_guard")
      }

    val merged = Merge.firstWins(guarded, Seq("symbol", "ts"), "__prio")
      .withColumn("close_unadj", lit(null).cast("decimal(38,9)")) // merge.rs:93-95
    val attribution = Attribution.spans(merged, Seq("symbol"), "ts")
    val candles = merged.drop("__prio")

    // adjusted flag + meta algebra (merge.rs:32-37,76-102)
    val adjusted = mergedAdjusted(results)
    val meta = mergedMeta(results)

    // M1 action handling (merge.rs:104-109): concatenate all contributors'
    // actions, then M3 canonical dedup
    val actionFrames = results.sortBy(_.priority).flatMap(_.actions)
    val mergedActions =
      if (actionFrames.isEmpty) None
      else Some(graft.timeseries.Merge.dedupActionsUnsorted(actionFrames.reduce(_ unionByName _)))

    Right(MergedHistory(candles.drop("provider"), attribution, adjusted, meta, mergedActions))
  }

  /** H8 bulk data plane with PER-INSTRUMENT merge semantics (download.rs:
    * 130-213 isolation) over one set of union branches — `groups` carries
    * one entry per instrument (its ordered surviving providers):
    *
    *  - instruments with a SINGLE contributing provider take the
    *    single-source short-circuit (history.rs:207-210): no first-wins,
    *    no currency check, close_unadj raw-close provenance preserved
    *    unless their resample plan ran — exactly what `history` on the
    *    same instrument would produce;
    *  - instruments with several providers share ONE first-wins merge
    *    (priorities only compete within their own symbol);
    *  - a currency violation inside one instrument becomes a WARNING and
    *    drops that symbol, instead of aborting the whole batch the way
    *    `merge`'s strict in-plan guard must for single-instrument history.
    *
    * The violation check is one EAGER aggregation (≤ providers × symbols
    * rows) over the multi-provider branch only — the per-instrument
    * isolation contract requires knowing the violating symbols while the
    * result (warnings) is being built. The reference pays full
    * per-instrument materialization here; we pay one tiny stats job, and
    * the data plane itself stays one lazy plan.
    *
    * Returns the merged history plus per-symbol currency warnings.
    */
  def mergeGrouped(groups: Seq[Seq[ProviderHistory]]): Either[BorsaError, (MergedHistory, Seq[BorsaError])] = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "mergeGrouped of zero histories")
    val singles = groups.collect { case Seq(one) => one }
    val multiProviders = groups.filter(_.sizeIs > 1).flatten

    val singleFrames = singles.map(r => applyPlan(r).withColumn("provider", lit(r.provider)))

    val (multiFrame, violations) =
      if (multiProviders.isEmpty) (None, Seq.empty[(String, BorsaError)])
      else {
        val unioned = taggedUnion(multiProviders)
        val viol = currencyViolations(multiProviders)
        val clean =
          if (viol.isEmpty) unioned
          else unioned.filter(!col("symbol").isin(viol.map(_._1): _*))
        val merged = Merge.firstWins(clean, Seq("symbol", "ts"), "__prio")
          .withColumn("close_unadj", lit(null).cast("decimal(38,9)")) // merge.rs:93-95
          .drop("__prio")
        (Some(merged), viol)
      }

    val combined = (singleFrames ++ multiFrame).reduce(_ unionByName _)
    val attribution = Attribution.spans(combined, Seq("symbol"), "ts")
    val candles = combined.drop("provider")

    val all = groups.flatten
    val violSyms = violations.map(_._1)
    val actionFrames = all.sortBy(_.priority).flatMap(_.actions)
    val mergedActions =
      if (actionFrames.isEmpty) None
      else {
        val deduped = graft.timeseries.Merge.dedupActionsUnsorted(actionFrames.reduce(_ unionByName _))
        // a violating instrument contributes nothing — not even actions
        // (reference: the whole instrument errored into warnings)
        Some(if (violSyms.isEmpty) deduped
             else deduped.filter(!col("symbol").isin(violSyms: _*)))
      }

    val warnings = violations.map { case (sym, e) => BorsaError.Connector(sym, e) }
    Right((MergedHistory(candles, attribution, mergedAdjusted(all), mergedMeta(all),
      mergedActions), warnings))
  }

  /** The shared provider-frame tagging: each contribution resampled by its
    * own plan, carrying its priority and provider name. merge(),
    * mergeGrouped() and currencyStats() all consume this ONE construction
    * so the stats job and the data plane cannot diverge.
    */
  private def taggedUnion(results: Seq[ProviderHistory]): DataFrame =
    results.map { r =>
      applyPlan(r)
        .withColumn("__prio", lit(r.priority))
        .withColumn("provider", lit(r.provider))
    }.reduce(_ unionByName _)

  /** ONE combined aggregation keyed by (provider, priority, symbol) — its
    * output is tiny (≤ providers × symbols rows), so the blame logic runs
    * driver-side. Shared by [[diagnoseCurrency]] (history failure path) and
    * [[currencyViolations]] (download isolation path).
    */
  private def currencyStats(results: Seq[ProviderHistory]): Array[(String, Int, String, Seq[String])] = {
    val unioned = taggedUnion(results)
    if (!unioned.columns.contains("currency")) return Array.empty
    unioned
      .groupBy("provider", "__prio", "symbol")
      .agg(collect_set(col("currency")).as("curs"))
      .collect()
      .map(r => (r.getAs[String]("provider"), r.getAs[Int]("__prio"),
        r.getAs[String]("symbol"), r.getSeq[String](3).sorted))
  }

  /** Reference currency for a symbol's blame pass: the highest-priority
    * provider that REPORTED one. `collect_set` skips nulls, so a
    * top-priority provider with all-null currencies must not mask a
    * lower-priority USD-vs-EUR mix (the in-plan guard's min/max ignores
    * nulls the same way).
    */
  private def refCurrencyOf(rows: Seq[(String, Int, String, Seq[String])]): Option[String] =
    rows.sortBy(_._2).flatMap(_._4.headOption).headOption

  /** H5 failure-path diagnosis (history.rs:205-274): run only AFTER the
    * in-plan guard aborted an action. The blame logic:
    * a provider mixing currencies within its own (symbol) is blamed first;
    * otherwise the lowest-priority provider whose currency deviates from
    * the top-priority provider's reference currency.
    */
  def diagnoseCurrency(results: Seq[ProviderHistory]): Option[BorsaError] = {
    val stats = currencyStats(results)

    // (a) provider-internal violation
    stats.filter(_._4.length > 1).sortBy(s => (s._2, s._3)).headOption match {
      case Some((p, _, _, _)) =>
        return Some(BorsaError.Connector(p, BorsaError.InconsistentCurrencyData))
      case None => ()
    }
    // (b) cross-provider deviation from the reference currency (the
    // highest-priority provider that reported one)
    val bySymbol = stats.groupBy(_._3)
    bySymbol.toSeq.sortBy(_._1).flatMap { case (_, rows) =>
      val ref = refCurrencyOf(rows.toSeq)
      rows.sortBy(_._2).find(r => ref.exists(c => r._4.exists(_ != c)))
    }.sortBy(_._2).headOption.map { case (p, _, _, _) =>
      BorsaError.Connector(p, BorsaError.InconsistentCurrencyData)
    }
  }

  /** Per-SYMBOL currency diagnosis for the bulk path: every violating
    * symbol mapped to its blamed typed error (same blame order as
    * [[diagnoseCurrency]], scoped within the symbol: provider-internal
    * mix first, else the lowest-priority provider deviating from the
    * top-priority provider's reference currency).
    */
  def currencyViolations(results: Seq[ProviderHistory]): Seq[(String, BorsaError)] = {
    val stats = currencyStats(results)
    stats.groupBy(_._3).toSeq.sortBy(_._1).flatMap { case (sym, rows) =>
      val internal = rows.filter(_._4.length > 1).sortBy(_._2).headOption
      val blamed = internal.orElse {
        val ref = refCurrencyOf(rows.toSeq)
        rows.sortBy(_._2).find(r => ref.exists(c => r._4.exists(_ != c)))
      }
      blamed.map { case (p, _, _, _) =>
        sym -> BorsaError.Connector(p, BorsaError.InconsistentCurrencyData)
      }
    }
  }

  /** Run a Spark action over a merged plan, mapping an in-plan currency
    * guard failure to the reference's typed error (with the deviating
    * provider identified by the one-pass [[diagnoseCurrency]]).
    */
  def diagnosed[T](results: Seq[ProviderHistory])(action: => T): Either[BorsaError, T] =
    try Right(action) catch {
      case t: Throwable if causeChain(t).exists(e =>
          Option(e.getMessage).exists(_.contains(CurrencyGuardMsg))) =>
        Left(diagnoseCurrency(results)
          .getOrElse(BorsaError.Data(CurrencyGuardMsg)))
    }

  private def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).toSeq

  /** H7 `apply_final_resample` (history.rs:636-664): forced daily/weekly, or
    * auto-daily when the series is subdaily; clears close_unadj whenever a
    * resample ran.
    */
  sealed trait FinalResample
  object FinalResample {
    case object None extends FinalResample
    case object Daily extends FinalResample
    case object Weekly extends FinalResample
    case object AutoDaily extends FinalResample
  }

  /** Final resample honors the MERGED meta (history.rs:642-658 routes
    * through `resample_to_*_with_meta`): tz-local or offset-local buckets
    * when the surviving provider reported them.
    */
  def applyFinalResample(
      merged: DataFrame,
      mode: FinalResample,
      meta: Option[HistoryMeta] = scala.None): DataFrame = {
    // currency rides along as a group key exactly like applyPlan: post-C2
    // it is functionally dependent on symbol (no extra groups/shuffle), and
    // keeping the column makes resampled and passthrough branches
    // union-compatible (AutoDaily can resample one symbol group and pass
    // another through)
    def keysOf(df: DataFrame) =
      if (df.columns.contains("currency")) Seq("symbol", "currency") else Seq("symbol")
    def run(df: DataFrame, plan: ResamplePlan) =
      Resample.resampleCandles(df, bucketFor(plan, meta, col("ts")), keysOf(df))
        .withColumnRenamed("bucket_ts", "ts")
    mode match {
      case FinalResample.None   => merged
      case FinalResample.Daily  => run(merged, ResamplePlan.Daily)
      case FinalResample.Weekly => run(merged, ResamplePlan.Weekly)
      case FinalResample.AutoDaily =>
        // I2 on the merged series, decided PER SYMBOL (history.rs:636-664
        // applies auto-resample per response, which is inherently
        // per-instrument): a daily-cadence symbol sharing a bulk frame
        // with an intraday symbol passes through byte-identical, only the
        // subdaily partition is resampled. Nothing is cached: the returned
        // plan would keep reading a persisted frame, so no caller could
        // unpersist it, and CacheManager holds a persisted plan until it
        // is unpersisted — a per-request cache entry would never go away.
        // The decision pass and the returned plan each read the upstream.
        val flags = graft.timeseries.Infer.isSubdaily(
          merged.withColumn("secs", col("ts")), tiebreak = Seq("ts"))
          .select(col("symbol"), col("subdaily"))
        // Only TWO scalars cross the driver (any-subdaily / all-subdaily):
        // they pick the plan SHAPE. The mixed branch routes per-row via a
        // broadcast join on the one-row-per-symbol flag frame — never a
        // collected symbol list baked into the plan as an IN-list, which
        // at a large universe becomes a giant literal and a driver
        // round-trip proportional to the universe.
        val counts = merged.select("symbol").distinct()
          .join(flags, Seq("symbol"), "left")
          .agg(count(lit(1)).as("n"),
            coalesce(sum(when(col("subdaily"), 1L).otherwise(0L)), lit(0L)).as("n_sub"))
          .head()
        val (n, nSub) = (counts.getLong(0), counts.getLong(1))
        if (nSub == 0L) merged
        else if (nSub == n) run(merged, ResamplePlan.Daily) // branch-free common case
        else {
          val flagged = merged.join(broadcast(flags), Seq("symbol"), "left")
            .withColumn("__sub", coalesce(col("subdaily"), lit(false)))
            .drop("subdaily")
          // allowMissingColumns: the resampled side always carries a cleared
          // close_unadj (Resample.scala:96); a passthrough input without the
          // column gets it as null rather than failing the union
          run(flagged.where(col("__sub")).drop("__sub"), ResamplePlan.Daily)
            .unionByName(flagged.where(!col("__sub")).drop("__sub"),
              allowMissingColumns = true)
        }
    }
  }

}
