package graft.router

import java.util.concurrent.TimeoutException
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.Connector
import graft.core.Errors
import graft.core.Errors.BorsaError
import graft.core.Model._
import graft.routing.Policy
import graft.timeseries.Attribution

/** The flagship §3.1 history pipeline end-to-end (H1–H8 over the connector
  * layer): eligibility → per-provider interval negotiation (R6) → Deep
  * parallel / Fallback sequential fan-out (H1/H2) → per-provider resample
  * plan (H3) → adjusted ordering/filter (H4) → currency check on the
  * fetched records (H5) → first-wins merge (M1) → final resample (H7),
  * attribution (H6) on demand; error collapse (history.rs:155-176).
  *
  * Connector results stay records until the merge: each request's
  * surviving records become ONE driver-built relation
  * ([[HistoryRouter.requestFrame]]) whose merge runs as one small
  * single-partition job. [[history]] is a one-instrument [[download]]:
  * both verbs share the post-fetch path ([[assemble]]) and differ only in
  * how they fetch (one instrument inline, or many concurrently) and in how
  * a failed instrument is reported (`Left`, or a warning).
  */
object HistoryOrchestrator {

  sealed trait MergeStrategy
  object MergeStrategy {
    /** H1 Deep: fan out to ALL eligible providers concurrently (config.rs:24-32). */
    case object Deep extends MergeStrategy
    /** H2 Fallback: first NON-EMPTY result wins; empty-but-OK continues. */
    case object Fallback extends MergeStrategy
  }

  final case class Config(
      strategy: MergeStrategy = MergeStrategy.Deep,
      preferAdjusted: Boolean = true,
      providerTimeout: FiniteDuration = 5.seconds,
      finalResample: HistoryRouter.FinalResample = HistoryRouter.FinalResample.None,
      /** Optional request-level deadline bounding the WHOLE provider
        * fan-out — per-instrument for [[history]], across the concurrent
        * per-instrument fan-out for [[download]] (config.rs:140-142,162;
        * applied at history.rs:126-153 / download.rs:171-186). `None`
        * leaves the request bounded only by per-call provider timeouts.
        */
      requestTimeout: Option[FiniteDuration] = None)

  private lazy val ec = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-history"); t.setDaemon(true); t
    }))

  /** Time budget for one blocking await under an optional shared deadline:
    * the sooner of the stage's own bound and what the deadline has left.
    */
  private def budget(deadline: Option[Deadline], stageBound: FiniteDuration): FiniteDuration =
    deadline match {
      case None    => stageBound
      case Some(d) =>
        val left = d.timeLeft
        if (left <= Duration.Zero) Duration.Zero
        else if (left < stageBound) left else stageBound
    }

  /** Range XOR period validation (download.rs:10-27,130-213). */
  def validateRequest(req: HistoryRequest): Either[BorsaError, HistoryRequest] = {
    val hasRange = req.startEpoch.isDefined || req.endEpoch.isDefined
    (req.period, hasRange) match {
      case (Some(_), true)  => Left(BorsaError.InvalidArg("period and start/end are mutually exclusive"))
      case (None, false)    => Left(BorsaError.InvalidArg("history request needs a period or a [start,end) range"))
      case _ =>
        (req.startEpoch, req.endEpoch) match {
          case (Some(s), Some(e)) if s >= e => Left(BorsaError.InvalidArg("start must precede end"))
          case _ => Right(req)
        }
    }
  }

  /** Plan stage: eligible connectors (policy order ∩ kind ∩ capability) with
    * their negotiated effective request + resample plan
    * (history.rs:388-443).
    */
  def planProviders(
      inst: Instrument,
      req: HistoryRequest,
      connectors: Seq[Connector],
      policy: Policy.ProviderPolicy): Seq[(Connector, HistoryRequest, Option[HistoryRouter.ResamplePlan])] = {
    val ctx = Policy.Context(Some(inst.symbol), Some(inst.kind), inst.exchange)
    val ordered = policy.orderedForContext(ctx, connectors.map(_.name))
      .flatMap(n => connectors.find(_.name == n))
      .filter(c => c.supportsKind(inst.kind) && c.capabilities.contains("history"))
    ordered.flatMap { c =>
      HistoryRouter.chooseEffectiveInterval(c.supportedIntervals, req.interval) match {
        case Right((eff, plan)) => Some((c, req.copy(interval = eff), plan))
        case Left(_)            => None // provider can't serve this cadence at all
      }
    }
  }

  final case class HistoryResult(
      candles: DataFrame,
      adjusted: Boolean,
      meta: Option[HistoryMeta],
      warnings: Seq[BorsaError],
      /** Merged, deduped corporate actions. Like every DataFrame in this
        * result the row order is UNSPECIFIED (frames compose into further
        * plans; a baked-in global sort would be wasted work mid-plan) —
        * apply [[graft.timeseries.Merge.canonicalActionOrder]] when
        * presenting in the reference's canonical (ts, kind, payload) order.
        */
      actions: Option[DataFrame],
      /** The merged rows, still carrying `provider`. */
      private val attributed: DataFrame) {

    /** H6 provider spans (history.rs:588-634), planned on first access:
      * two windows, an aggregate and a sort that most callers never read.
      */
    lazy val attribution: DataFrame = Attribution.spans(attributed, Seq("symbol"), "ts")

    /** Run a Spark action over this result; a pass-through, as every
      * failure the pipeline reports (the currency check included) is
      * returned by the verb itself, before any action runs.
      */
    def collect[T](action: => T): Either[BorsaError, T] = Right(action)
  }

  /** Per-instrument CONTROL plane (driver-side, record-level): plan → H1/H2
    * fan-out → H3 collect successes → H4 order/filter → H5 currency check.
    * No Spark plan is built here; the returned ProviderHistory values hold
    * records. A currency violation fails the instrument with its blamed
    * provider (history.rs:205-274), so the violating records never enter
    * the request relation. Shared by [[history]] (one instrument) and
    * [[download]] (one data plane over all instruments).
    */
  private def fetchOrdered(
      inst: Instrument,
      req: HistoryRequest,
      connectors: Seq[Connector],
      policy: Policy.ProviderPolicy,
      config: Config,
      deadline: Option[Deadline]): Either[BorsaError, (Seq[HistoryRouter.ProviderHistory], Seq[BorsaError])] = {
    val planned = planProviders(inst, req, connectors, policy)
    if (planned.isEmpty) return Left(BorsaError.Unsupported("history"))

    // H1/H2 fan-out, bounded by the shared request deadline when one is set
    // (history.rs:126-153: deadline elapse → RequestTimeout for the whole
    // request, not a per-provider warning)
    type Fetched = (Int, Connector, Option[HistoryRouter.ResamplePlan], Either[BorsaError, HistoryResponse])
    val fetched: Seq[Fetched] = config.strategy match {
      case MergeStrategy.Deep =>
        // MW6: this fan-out may itself run on a pooled thread (download's
        // per-instrument futures) whose InheritableThreadLocal default can
        // be stale — capture the CALLER's scope and re-establish it inside
        // each future, exactly like Fetch.latencyRace
        val origin = graft.connector.Middleware.currentOrigin.value
        val futures = planned.zipWithIndex.map { case ((c, r, plan), i) =>
          Future(graft.connector.Middleware.currentOrigin.withValue(origin)(
            (i, c, plan, Fetch.withTimeout(c.name, "history", config.providerTimeout)(
              c.history(inst, r)))))(ec)
        }
        try Await.result(Future.sequence(futures)(implicitly, ec),
          budget(deadline, config.providerTimeout + 2.second))
        catch {
          case _: TimeoutException => return Left(BorsaError.RequestTimeout("history"))
        }
      case MergeStrategy.Fallback =>
        var acc = List.empty[Fetched]
        var done = false
        planned.zipWithIndex.foreach { case ((c, r, plan), i) =>
          if (!done) {
            if (deadline.exists(_.isOverdue()))
              return Left(BorsaError.RequestTimeout("history"))
            val res = Fetch.withTimeout(c.name, "history",
              budget(deadline, config.providerTimeout))(c.history(inst, r))
            acc ::= ((i, c, plan, res))
            if (res.exists(_.candles.nonEmpty)) done = true // first NON-EMPTY wins
          }
        }
        acc.reverse
    }

    // H3 collect successes: non-empty OKs; NotFound/empty dropped silently,
    // other errors tagged with the connector (history.rs:521-576)
    val successes = fetched.collect {
      case (i, c, plan, Right(resp)) if resp.candles.nonEmpty =>
        HistoryRouter.ProviderHistory(c.name, i, resp.adjusted, resp.meta, plan,
          resp.candles, if (req.actions) resp.actions else Seq.empty)
    }
    val errors = fetched.collect {
      case (_, c, _, Left(e)) if !e.isInstanceOf[BorsaError.NotFound] =>
        e match {
          case t: BorsaError.ProviderTimeout => t
          case tagged: BorsaError.Connector  => tagged
          case other                         => BorsaError.Connector(c.name, other)
        }
    }

    if (successes.isEmpty) {
      // all providers NotFound or OK-but-empty → NotFound, not Unsupported
      // (history.rs:526-535 finalize: empty results with no recorded errors)
      if (errors.isEmpty)
        return Left(BorsaError.NotFound(s"history for ${inst.symbol.value}"))
      return Left(Errors.collapse(errors, "history",
        Some(s"history for ${inst.symbol.value}")))
    }

    val ordered = HistoryRouter.orderAndFilter(successes, config.preferAdjusted)
    HistoryRouter.currencyViolations(ordered).headOption.map(_._2).toLeft((ordered, errors))
  }

  /** Request flags (keepna/autoAdjust/prepost) interpret the provider
    * candles BEFORE any resample plan — raw-vs-adjusted selection must
    * happen on the provider cadence.
    */
  private def flagsOf(req: HistoryRequest): DataFrame => DataFrame =
    graft.timeseries.Flags.applyRequestFlags(_, req)

  /** The post-fetch path of both verbs: ONE grouped merge over every
    * surviving instrument ([[HistoryRouter.mergeGrouped]]), the H7 final
    * resample, and the result. The final resample follows each
    * instrument's merged meta (its bucket alignment follows its own
    * providers' timezone): one resample branch per distinct meta,
    * selected by the relation's meta-group column — never a symbol
    * IN-list, which grows with the universe — and one branch in the common
    * case.
    */
  private def assemble(
      spark: SparkSession,
      req: HistoryRequest,
      config: Config,
      oks: Seq[(Seq[HistoryRouter.ProviderHistory], Seq[BorsaError])],
      failWarnings: Seq[BorsaError]): HistoryResult = {
    val groups = oks.map(_._1)
    val m = HistoryRouter.mergeGrouped(spark, groups, flagsOf(req))
    val metaGroup = col(HistoryRouter.MetaGroupCol)
    val candles = (config.finalResample, HistoryRouter.metaGroups(groups)) match {
      case (HistoryRouter.FinalResample.None, _) => m.candles.drop(metaGroup)
      case (mode, Seq(onlyMeta)) =>
        HistoryRouter.applyFinalResample(m.candles.drop(metaGroup), mode, onlyMeta)
      case (mode, metas) =>
        metas.zipWithIndex.map { case (meta, i) =>
          HistoryRouter.applyFinalResample(
            m.candles.where(metaGroup === i).drop(metaGroup), mode, meta)
        }.reduce(_ unionByName _)
    }
    HistoryResult(candles, m.adjusted, m.meta,
      oks.flatMap(_._2.filter(_.isActionable)) ++ failWarnings, m.actions, m.attributed)
  }

  /** Execute the full pipeline for one instrument: a one-instrument
    * [[download]] whose failure is the result.
    */
  def history(
      spark: SparkSession,
      inst: Instrument,
      req: HistoryRequest,
      connectors: Seq[Connector],
      policy: Policy.ProviderPolicy = Policy.ProviderPolicy(),
      config: Config = Config()): Either[BorsaError, HistoryResult] =
    validateRequest(req).flatMap { _ =>
      val deadline = config.requestTimeout.map(Deadline.now + _)
      fetchOrdered(inst, req, connectors, policy, config, deadline)
        .map(ok => assemble(spark, req, config, Seq(ok), Seq.empty))
    }

  /** H8 bulk download across instruments as ONE data plane: the control
    * plane (plan/fetch/order/currency check) stays per-instrument — H4
    * adjusted filtering, provider ranking and H5 blame are
    * instrument-local decisions — but every surviving provider's records
    * carry their symbol already, so ALL of them form one request relation
    * feeding the shared post-fetch path ([[assemble]]). Priorities are
    * per-instrument ranks; the merge key (symbol, ts) means ranks only
    * ever compete within their own instrument. Per-instrument failures —
    * fetch errors AND currency violations — become warnings, partial
    * success succeeds (download.rs:130-213); merged actions ARE
    * propagated.
    */
  def download(
      spark: SparkSession,
      instruments: Seq[Instrument],
      req: HistoryRequest,
      connectors: Seq[Connector],
      policy: Policy.ProviderPolicy = Policy.ProviderPolicy(),
      config: Config = Config()): Either[BorsaError, HistoryResult] = {
    val distinctSyms = instruments.map(_.symbol.value)
    require(distinctSyms.distinct.size == distinctSyms.size,
      "duplicate instrument keys in download request") // download.rs:10-27
    validateRequest(req) match {
      case Left(e) => return Left(e)
      case Right(_) => ()
    }
    // Concurrent per-instrument fan-out under ONE shared deadline
    // (download.rs:130-213): each instrument's control-plane fetch runs as
    // its own task on the history executor, so N instruments × a slow
    // provider cost ~one provider timeout of wall-clock, not N×. Deadline
    // elapse fails the WHOLE download with RequestTimeout (download.rs
    // "Returns an error only if ... an overall request-level timeout
    // elapses"); per-instrument failures stay warnings.
    val deadline = config.requestTimeout.map(Deadline.now + _)
    val origin = graft.connector.Middleware.currentOrigin.value // MW6 scope capture
    val futures = instruments.map { i =>
      i -> Future(graft.connector.Middleware.currentOrigin.withValue(origin)(
        fetchOrdered(i, req, connectors, policy, config, deadline)))(ec)
    }
    // without a deadline each fetch is already bounded by per-call provider
    // timeouts (Deep await ≤ providerTimeout+2s; Fallback ≤ N providers ×
    // providerTimeout), so the await bound is that worst case plus slack
    val fetchBound =
      (config.providerTimeout + 2.seconds) * math.max(1L, connectors.size.toLong)
    val per = futures.map { case (i, f) =>
      try i -> Await.result(f, budget(deadline, fetchBound))
      catch {
        case _: TimeoutException =>
          return Left(BorsaError.RequestTimeout("download"))
      }
    }
    // an INNER RequestTimeout can only come from the shared deadline (it
    // is the sole source of a deadline in fetchOrdered), and it races the
    // outer await for the same instant — normalize both outcomes to the
    // documented whole-request RequestTimeout instead of letting the race
    // pick between a warning, AllProvidersFailed, and RequestTimeout
    if (per.exists {
      case (_, Left(_: BorsaError.RequestTimeout)) => true
      case _                                       => false
    }) return Left(BorsaError.RequestTimeout("download"))
    val oks = per.collect { case (_, Right(ok)) => ok }
    val failWarnings = per.collect { case (i, Left(e)) =>
      BorsaError.Connector(i.symbol.value, e) }
    if (oks.isEmpty) return Left(Errors.collapse(failWarnings, "download", None))
    Right(assemble(spark, req, config, oks, failWarnings))
  }
}
