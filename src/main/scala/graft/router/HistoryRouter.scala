package graft.router

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Errors.BorsaError
import graft.core.Model._
import graft.timeseries.{Merge, Resample}

/** History orchestration (SURVEY §3.1, operators R6 + H1–H8).
  *
  * Control plane (interval negotiation, strategy dispatch, adjusted
  * preference, the H5 currency check) is pure Scala over the fetched
  * records; the data plane (per-provider resample → priority merge →
  * final resample, attribution on demand) is ONE Catalyst plan over ONE
  * relation per request: every provider's fetched candles (symbol, ts,
  * open, high, low, close, close_unadj, volume, currency — ts in epoch
  * seconds) in a single partition, with provider and priority as data
  * columns → row_number dedup → aggregation. One instrument's history and
  * a many-instrument download take the same [[mergeGrouped]].
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

  /** The request's corporate actions as one relation, each instrument's in
    * priority order and tagged, like its candles, with whether the
    * instrument has several providers; None when no provider reported any.
    */
  private def actionsFrame(spark: SparkSession, groups: Seq[Seq[ProviderHistory]]): Option[DataFrame] = {
    val rows = for (g <- groups; ph <- g.sortBy(_.priority); a <- ph.actions)
      yield Row.fromSeq(actionRow(a).toSeq :+ (g.sizeIs > 1))
    if (rows.isEmpty) None
    else Some(spark.createDataFrame(rows.asJava, actionSchema.add(MultiCol, BooleanType)).coalesce(1))
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
    * a non-empty contributor set.
    */
  def mergedAdjusted(results: Seq[ProviderHistory]): Boolean =
    results.nonEmpty && results.forall(_.adjusted)

  /** Merged meta: first non-None by priority (merge.rs:37,96-101). */
  def mergedMeta(results: Seq[ProviderHistory]): Option[HistoryMeta] =
    results.sortBy(_.priority).flatMap(_.meta).headOption

  /** H5 currency invariant (history.rs:205-274) over one instrument's
    * fetched records, checked before they reach the request relation: no
    * symbol may mix currencies across its providers. A single provider is
    * exempt, as the reference's single-source short-circuit
    * (history.rs:207-210) skips the check, and null currencies are
    * ignored. Each violating symbol is mapped to its blamed typed error:
    * the first provider, by priority, that mixes currencies itself; else
    * the first that deviates from the reference currency, the one reported
    * by the highest-priority provider that reported any.
    */
  def currencyViolations(results: Seq[ProviderHistory]): Seq[(String, BorsaError)] =
    if (results.sizeIs < 2) Seq.empty
    else {
      val reported = for {
        ph <- results.sortBy(_.priority)
        (sym, cs) <- ph.candles.groupBy(_.symbol)
      } yield (sym, ph.provider, cs.flatMap(c => Option(c.currency)).distinct)
      reported.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (sym, rows) =>
        val ref = rows.flatMap(_._3.headOption).headOption
        rows.find(_._3.sizeIs > 1)
          .orElse(rows.find(r => ref.exists(c => r._3.exists(_ != c))))
          .map(r => sym -> BorsaError.Connector(r._2, BorsaError.InconsistentCurrencyData))
      }
    }

  /** A request's merged data plane: the candles, still carrying
    * `__meta_grp` (the instrument's index in [[metaGroups]]) for the
    * caller's per-meta final resample; the adjusted flag and meta, each
    * instrument's merged algebra AND-ed and first-defined across
    * instruments; the deduped actions; and the merged rows with their
    * `provider`, from which attribution spans are built.
    */
  final case class MergedHistory(
      candles: DataFrame,
      adjusted: Boolean,
      meta: Option[HistoryMeta],
      actions: Option[DataFrame],
      attributed: DataFrame)

  /** M1 over one request relation, with per-instrument semantics
    * (download.rs:130-213 isolation); `groups` carries one entry per
    * instrument, its ordered providers, already past [[currencyViolations]]:
    *
    *  - an instrument with a SINGLE provider passes through unmerged
    *    (history.rs:207-210 short-circuits len==1): no first-wins, actions
    *    as reported, and close_unadj raw-close provenance preserved unless
    *    its resample plan ran (router_history_raw_close.rs);
    *  - instruments with several providers share ONE first-wins window on
    *    (symbol, ts), so priorities only compete within their own symbol;
    *    close_unadj is cleared (merge.rs:93-95) and their actions are
    *    concatenated and deduped (merge.rs:104-109, M3).
    *
    * Every window runs in the relation's single partition, so building the
    * merge runs no Spark job and collecting it runs one.
    */
  def mergeGrouped(
      spark: SparkSession,
      groups: Seq[Seq[ProviderHistory]],
      flags: DataFrame => DataFrame = identity): MergedHistory = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "mergeGrouped of zero histories")
    val hasSingles = groups.exists(_.sizeIs == 1)
    val hasMulti = groups.exists(_.sizeIs > 1)
    // single-provider rows as they are, unioned with `merge` of the
    // multi-provider rows
    def perInstrument(df: DataFrame)(merge: DataFrame => DataFrame): DataFrame = {
      val singles = Option.when(hasSingles)(if (hasMulti) df.where(!col(MultiCol)) else df)
      val multi = Option.when(hasMulti)(merge(if (hasSingles) df.where(col(MultiCol)) else df))
      (singles ++ multi).reduce(_ unionByName _).drop(MultiCol)
    }
    val merged = perInstrument(requestFrame(spark, groups, flags)) { multi =>
      Merge.firstWins(multi, Seq("symbol", "ts"), Prio)
        .withColumn("close_unadj", lit(null).cast("decimal(38,9)")) // merge.rs:93-95
    }.drop(Prio)
    val actions = actionsFrame(spark, groups).map(perInstrument(_)(Merge.dedupActionsUnsorted(_)))
    MergedHistory(merged.drop("provider"), groups.forall(mergedAdjusted),
      groups.flatMap(mergedMeta).headOption, actions, merged)
  }

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
