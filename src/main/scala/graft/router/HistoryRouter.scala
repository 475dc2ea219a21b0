package graft.router

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Errors.BorsaError
import graft.core.Model._
import graft.timeseries.{Attribution, Merge, Resample}

/** History orchestration (SURVEY §3.1, operators R6 + H1–H8).
  *
  * Control plane (interval negotiation, strategy dispatch, adjusted
  * preference) is pure Scala; the data plane (per-provider resample →
  * priority merge → attribution → final resample) is ONE Catalyst plan
  * over ONE relation per request: every provider's fetched candles
  * (symbol, ts, open, high, low, close, close_unadj, volume, currency —
  * ts in epoch seconds) in a single partition, with provider and priority
  * as data columns → row_number dedup → aggregation.
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

  /** One provider's fetched contribution: its records and control-plane
    * fields. The records reach Spark only through [[requestFrame]].
    */
  final case class ProviderHistory(
      provider: String,
      priority: Int,
      adjusted: Boolean,
      meta: Option[HistoryMeta],
      plan: Option[ResamplePlan],
      candles: Seq[Candle],
      actions: Seq[Action] = Seq.empty)

  val candleSchema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("ts", LongType),
    StructField("open", DecimalType(38, 9)), StructField("high", DecimalType(38, 9)),
    StructField("low", DecimalType(38, 9)), StructField("close", DecimalType(38, 9)),
    StructField("close_unadj", DecimalType(38, 9)), StructField("volume", LongType),
    StructField("currency", StringType)))

  def candleRow(c: Candle): Row =
    Row(c.symbol, c.ts, c.open.bigDecimal, c.high.bigDecimal, c.low.bigDecimal,
      c.close.bigDecimal, c.closeUnadj.map(_.bigDecimal).orNull,
      c.volume.map(Long.box).orNull, c.currency)

  val actionSchema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("ts", LongType),
    StructField("kind", StringType), StructField("amount", DecimalType(38, 9)),
    StructField("currency", StringType), StructField("numerator", LongType),
    StructField("denominator", LongType)))

  private def actionRow(a: Action): Row =
    Row(a.symbol, a.ts, a.kind, a.amount.map(_.bigDecimal).orNull,
      a.currency.orNull, a.numerator.map(Long.box).orNull,
      a.denominator.map(Long.box).orNull)

  /** Request-relation tag columns: each provider's rank and name, whether
    * its instrument has several providers, the index of the instrument's
    * merged meta in [[metaGroups]], and (until resampled) the index of the
    * provider's (plan, meta) resample group.
    */
  private val Prio = "__prio"
  private val MultiCol = "__multi"
  private[router] val MetaGroupCol = "__meta_grp"
  private val PlanGroupCol = "__plan_grp"

  private val requestSchema: StructType = StructType(candleSchema.fields ++ Seq(
    StructField(Prio, IntegerType), StructField("provider", StringType),
    StructField(MultiCol, BooleanType), StructField(MetaGroupCol, IntegerType),
    StructField(PlanGroupCol, IntegerType)))

  private val candleValueCols =
    Set("ts", "open", "high", "low", "close", "close_unadj", "volume")

  /** The distinct merged metas of a request's instruments, in instrument
    * order; an instrument's `__meta_grp` is its meta's index here.
    */
  def metaGroups(groups: Seq[Seq[ProviderHistory]]): Seq[Option[HistoryMeta]] =
    groups.map(mergedMeta).distinct

  /** H3 — one request's candles as ONE driver-built relation, one entry of
    * `groups` per instrument (its ordered surviving providers). Provider and
    * priority are data columns, so the plan's shape does not depend on how
    * many providers or instruments answered, and `coalesce(1)` leaves every
    * window and aggregate above it in one task with no Exchange. The
    * request flags (`flags`, [[graft.timeseries.Flags.applyRequestFlags]])
    * apply once, on the provider cadence before any resample. Each
    * distinct (plan, meta) group is resampled once (history.rs:521-576),
    * its tag columns riding along as group keys; there is one group in the
    * common case.
    */
  def requestFrame(
      spark: SparkSession,
      groups: Seq[Seq[ProviderHistory]],
      flags: DataFrame => DataFrame = identity): DataFrame = {
    val metaIds = metaGroups(groups).zipWithIndex.toMap
    val planGroups = groups.flatten.map(ph => (ph.plan, ph.meta)).distinct
    val planIds = planGroups.zipWithIndex.toMap
    val rows = new java.util.ArrayList[Row]()
    for (g <- groups; ph <- g) {
      val tags = Seq(ph.priority, ph.provider, g.sizeIs > 1, metaIds(mergedMeta(g)),
        planIds((ph.plan, ph.meta)))
      ph.candles.foreach(c => rows.add(Row.fromSeq(candleRow(c).toSeq ++ tags)))
    }
    val rel = flags(spark.createDataFrame(rows, requestSchema)).coalesce(1)
    // a union of single-partition branches is itself one partition (Spark
    // unions them partition-wise), so several groups add no Exchange
    planGroups.zipWithIndex.map { case ((plan, meta), i) =>
      val part = if (planGroups.sizeIs == 1) rel else rel.where(col(PlanGroupCol) === i)
      applyPlan(part.drop(PlanGroupCol), plan, meta)
    }.reduce(_ unionByName _)
  }

  /** One provider group's resample plan with its own meta (history.rs:
    * 521-576). NOTE: candle-shaped resample (open of earliest, close of
    * latest) — not the tick kernel. Every column but the candle values is
    * a group key: symbol, currency (post-C2 functionally dependent on
    * symbol) and the tags are constant per provider and symbol, so they
    * add no groups.
    */
  private def applyPlan(df: DataFrame, plan: Option[ResamplePlan], meta: Option[HistoryMeta]): DataFrame =
    plan match {
      case None => df
      case Some(p) =>
        Resample.resampleCandles(df, bucketFor(p, meta, col("ts")),
          df.columns.filterNot(candleValueCols).toSeq)
          .withColumnRenamed("bucket_ts", "ts")
    }

  /** The request's corporate actions as one relation, in priority order;
    * None when no provider reported any.
    */
  private def actionsFrame(spark: SparkSession, results: Seq[ProviderHistory]): Option[DataFrame] = {
    val rows = results.sortBy(_.priority).flatMap(_.actions).map(actionRow)
    if (rows.isEmpty) None
    else Some(spark.createDataFrame(rows.asJava, actionSchema).coalesce(1))
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

  /** Merged result: candles + deduped actions + flags + attribution, and
    * the request relation they were built from (the currency diagnosis
    * reads it again, see [[diagnosed]]).
    */
  final case class MergedHistory(
      candles: DataFrame,
      attribution: DataFrame,
      adjusted: Boolean,
      meta: Option[HistoryMeta],
      actions: Option[DataFrame],
      relation: DataFrame)

  /** Marker text of the in-plan currency guard; [[diagnosed]] keys on it. */
  private val CurrencyGuardMsg = "currency invariant violated"

  /** H5+M1+H6 — the one-logical-plan merge over the request relation:
    * currency guard → first-wins on (symbol, ts) → close_unadj cleared;
    * attribution spans from the winning rows.
    *
    * The currency invariant (history.rs:205-274: no symbol may mix
    * currencies across contributing providers, checked BEFORE the merge
    * hides rows) is enforced LAZILY, in-plan: a window min/max over
    * `symbol` feeds a `raise_error` guard consumed by a filter. Both
    * windows and the attribution sort run in the relation's single
    * partition, so building the merge runs no job and collecting it runs
    * one. On violation the consuming action throws; callers run actions
    * through [[diagnosed]] to map the failure to the reference's typed
    * error with the deviating provider named.
    */
  def merge(
      spark: SparkSession,
      results: Seq[ProviderHistory],
      flags: DataFrame => DataFrame = identity): Either[BorsaError, MergedHistory] = {
    require(results.nonEmpty, "merge of zero histories")
    val relation = requestFrame(spark, Seq(results), flags).drop(MultiCol, MetaGroupCol)
    val actions = actionsFrame(spark, results)
    // Single source passes through UNMERGED (history.rs:207-210
    // merge_history_or_tag_connector_error short-circuits len==1): no
    // first-wins, no currency guard, and crucially close_unadj raw-close
    // provenance is PRESERVED when the provider's plan ran no resample
    // (borsa/tests/router/history/router_history_raw_close.rs).
    if (results.sizeIs == 1) {
      val r = results.head
      val attribution = Attribution.spans(relation, Seq("symbol"), "ts")
      return Right(MergedHistory(
        relation.drop(Prio, "provider"), attribution, r.adjusted, r.meta, actions, relation))
    }

    val wSym = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
    val guarded = relation
      .withColumn("__cur_guard",
        when(min(col("currency")).over(wSym) =!= max(col("currency")).over(wSym),
          raise_error(concat(lit(s"$CurrencyGuardMsg for symbol "), col("symbol")))))
      .where(col("__cur_guard").isNull)
      .drop("__cur_guard")

    val merged = Merge.firstWins(guarded, Seq("symbol", "ts"), Prio)
      .withColumn("close_unadj", lit(null).cast("decimal(38,9)")) // merge.rs:93-95
    val attribution = Attribution.spans(merged, Seq("symbol"), "ts")

    // M1 action handling (merge.rs:104-109): concatenate all contributors'
    // actions, then M3 canonical dedup; adjusted flag + meta algebra
    // (merge.rs:32-37,76-102)
    Right(MergedHistory(merged.drop(Prio, "provider"), attribution,
      mergedAdjusted(results), mergedMeta(results),
      actions.map(Merge.dedupActionsUnsorted(_)), relation))
  }

  /** H8 bulk data plane with PER-INSTRUMENT merge semantics (download.rs:
    * 130-213 isolation) over one request relation — `groups` carries one
    * entry per instrument (its ordered surviving providers):
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
    * The per-instrument isolation contract needs the violating symbols
    * while the warnings are built, so the violation check is one eager
    * aggregate (≤ providers × symbols rows) over the multi-provider rows of
    * the relation: one job with one task. The reference materializes every
    * instrument here; the data plane itself stays one lazy single-partition
    * plan.
    *
    * Returns the merged history plus per-symbol currency warnings. Its
    * candles keep `__meta_grp`, the instrument's index in
    * [[metaGroups]]`(groups)`, for the caller's per-meta final resample.
    */
  def mergeGrouped(
      spark: SparkSession,
      groups: Seq[Seq[ProviderHistory]],
      flags: DataFrame => DataFrame = identity): Either[BorsaError, (MergedHistory, Seq[BorsaError])] = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "mergeGrouped of zero histories")
    val relation = requestFrame(spark, groups, flags)
    val hasSingles = groups.exists(_.sizeIs == 1)
    val hasMulti = groups.exists(_.sizeIs > 1)

    val (multiFrame, violations) =
      if (!hasMulti) (None, Seq.empty[(String, BorsaError)])
      else {
        val multi = if (hasSingles) relation.where(col(MultiCol)) else relation
        val viol = currencyViolations(multi)
        val clean =
          if (viol.isEmpty) multi
          else multi.filter(!col("symbol").isin(viol.map(_._1): _*))
        val merged = Merge.firstWins(clean, Seq("symbol", "ts"), Prio)
          .withColumn("close_unadj", lit(null).cast("decimal(38,9)")) // merge.rs:93-95
        (Some(merged), viol)
      }
    val singleFrame =
      if (!hasSingles) None
      else Some(if (hasMulti) relation.where(!col(MultiCol)) else relation)

    val combined = (singleFrame ++ multiFrame).reduce(_ unionByName _)
    val attribution = Attribution.spans(combined, Seq("symbol"), "ts")
    val candles = combined.drop(Prio, "provider", MultiCol)

    val all = groups.flatten
    val violSyms = violations.map(_._1)
    val mergedActions = actionsFrame(spark, all).map { acts =>
      val deduped = Merge.dedupActionsUnsorted(acts)
      // a violating instrument contributes nothing — not even actions
      // (reference: the whole instrument errored into warnings)
      if (violSyms.isEmpty) deduped else deduped.filter(!col("symbol").isin(violSyms: _*))
    }

    val warnings = violations.map { case (sym, e) => BorsaError.Connector(sym, e) }
    Right((MergedHistory(candles, attribution, mergedAdjusted(all), mergedMeta(all),
      mergedActions, relation), warnings))
  }

  /** ONE combined aggregation over a request relation keyed by (provider,
    * priority, symbol) — its output is tiny (≤ providers × symbols rows),
    * so the blame logic runs driver-side. Shared by [[diagnoseCurrency]]
    * (history failure path) and [[currencyViolations]] (download isolation
    * path), each over the relation its merge read.
    */
  private def currencyStats(relation: DataFrame): Array[(String, Int, String, Seq[String])] =
    relation
      .groupBy("provider", Prio, "symbol")
      .agg(collect_set(col("currency")).as("curs"))
      .collect()
      .map(r => (r.getAs[String]("provider"), r.getAs[Int](Prio),
        r.getAs[String]("symbol"), r.getSeq[String](3).sorted))

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
  def diagnoseCurrency(relation: DataFrame): Option[BorsaError] = {
    val stats = currencyStats(relation)

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
  def currencyViolations(relation: DataFrame): Seq[(String, BorsaError)] = {
    val stats = currencyStats(relation)
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
    * provider identified by the one-pass [[diagnoseCurrency]] over the
    * merge's request relation).
    */
  def diagnosed[T](relation: DataFrame)(action: => T): Either[BorsaError, T] =
    try Right(action) catch {
      case t: Throwable if causeChain(t).exists(e =>
          Option(e.getMessage).exists(_.contains(CurrencyGuardMsg))) =>
        Left(diagnoseCurrency(relation)
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
