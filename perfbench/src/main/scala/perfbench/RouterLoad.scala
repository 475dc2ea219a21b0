package perfbench

import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.Graft
import graft.connector.{Connector, ManualClock, Middleware, MockConnector, WrappedConnector}
import graft.core.Errors.BorsaError
import graft.core.Model._

/** The control-plane workload: `quotes`, `history` and `download` routed
  * across three `MockConnector` providers behind the default middleware
  * stack (cache → blacklist → quota).
  *
  * Each provider has a seed-drawn `history` delay; `gamma` also answers
  * `history` with a rate-limit error in seed-drawn time windows, so the
  * failover and blacklist paths run. Middleware time is a virtual clock
  * advanced by a seed-drawn gap per request, so cache expiry, quota windows
  * and blacklist windows depend only on the seed, never on host speed.
  * Requests form blocks of fixed composition (60% quotes of 10 symbols, 35%
  * history of one instrument, 5% download of 20), symbols drawn from a Zipf
  * law over 200 names with about 5% FAIL/NOTFOUND sentinels.
  */
final class RouterLoad(spark: SparkSession, cpus: Int, tracer: Tracer, a: Main.Args, result: Result) {
  import RouterLoad._

  private val clock = new ManualClock(Epoch)
  @volatile private var request = 0L
  private val providerCalls = new LongAdder
  private val providerNs = new LongAdder
  private val stackCalls = new LongAdder
  private val refusals = new LongAdder
  /** Failures the router saw from a provider stack during the current request. */
  private val stackFailures = mutable.ArrayBuffer.empty[Failure]

  private val rng = new Random(a.seed)
  private val delays = Seq.fill(3)(2L + rng.nextInt(9))

  /** A provider attempt, counted and timed outside the raw connector. */
  private final class ProviderProbe(val inner: Connector, flaky: Boolean, clock: ManualClock)
      extends WrappedConnector {
    protected def wrap[V](cap: String, key: Any)(load: => Either[BorsaError, V]): Either[BorsaError, V] =
      tracer.span(s"provider.$name.$cap", request) {
        providerCalls.increment()
        val t0 = System.nanoTime()
        val r = key match {
          case (inst: Instrument, _) if flaky && cap == "history" && outage(inst.symbol.value, clock) =>
            Left(BorsaError.Connector(name, BorsaError.RateLimitExceeded(0, OutageMs)))
          case _ => load
        }
        providerNs.add(System.nanoTime() - t0)
        r
      }
  }

  /** Scripted outage windows of the flaky provider. */
  private def outage(symbol: String, clock: ManualClock): Boolean =
    mix(a.seed, symbol.hashCode.toLong, clock.nowMs / OutageMs) % 5 == 0

  /** A whole middleware stack as the router sees it. */
  private final class StackProbe(val inner: Connector) extends WrappedConnector {
    protected def wrap[V](cap: String, key: Any)(load: => Either[BorsaError, V]): Either[BorsaError, V] =
      tracer.span(s"middleware.$name.$cap", request) {
        stackCalls.increment()
        val r = load
        r.left.foreach { e =>
          e match {
            case _: BorsaError.TemporarilyBlacklisted | _: BorsaError.QuotaExceeded => refusals.increment()
            case _ => ()
          }
          val sym = key match {
            case (i: Instrument, _) => i.symbol.value
            case i: Instrument      => i.symbol.value
            case other              => other.toString
          }
          stackFailures.synchronized(stackFailures += ((name, sym, e)))
        }
        r
      }
  }

  private def engine(clock: ManualClock): Graft = {
    val providers = Seq("alpha", "beta", "gamma").zip(delays).map { case (n, d) =>
      val mock = new MockConnector(n, MockConnector.Script(
        behaviors = Map("history" -> MockConnector.Delay(d))))
      val stack = Middleware.buildStack(new ProviderProbe(mock, n == "gamma", clock), clock = clock)
        .fold(e => throw new IllegalStateException(e.toString), identity)
      new StackProbe(stack)
    }
    new Graft(spark, providers, middleware = false)
  }

  def run(): Unit = {
    Main.log("warm-up")
    warmUp()
    resetCounters()
    result.ready()
    Main.log("measure")

    val g = engine(clock)
    val calls = mutable.ArrayBuffer.empty[Call]
    val blocks = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, block wall)
    val gen = new Random(a.seed)
    val start = System.nanoTime()
    var block = 0
    var ops = 0L
    tracer.codegenMark()
    while (block < MinBlocks || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val traced = a.trace && Trace.tracedTurn(block)
      tracer.setTracing(traced)
      val b0 = System.nanoTime()
      requests(gen, 1).foreach { case (op, gap) =>
        ops += 1
        calls += execute(g, op, gap, ops, block, traced)
      }
      tracer.setTracing(false)
      val wall = (System.nanoTime() - b0) / 1e9
      blocks += ((traced, wall))
      Main.log(f"block $block: $wall%.3f s")
      block += 1
    }
    val elapsed = (System.nanoTime() - start) / 1e9

    // Untimed: check every output, then keep the times of the calls and
    // blocks that passed (a failed request never yields a time).
    Main.log("check")
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val failedBlocks = mutable.Set.empty[Int]
    calls.foreach { c =>
      c.check() match {
        case Right(()) =>
          val tag = if (c.traced) "traced." else ""
          sample(tag + c.verb, c.ms)
          c.parts.foreach { case (k, v) => sample(tag + k, v) }
        case Left(msg) =>
          result.failed += 1
          result.mismatch(msg)
          failedBlocks += c.block
      }
    }
    calls.clear()
    result.checked = true
    Main.log("done")
    def all(k: String) = samples.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq
    def med(k: String) = Stats.median(all(k))
    val passed = blocks.zipWithIndex.collect { case (b, i) if !failedBlocks(i) => b }
    val untraced = passed.collect { case (false, w) => w }.toSeq
    val traced = passed.collect { case (true, w) => w }.toSeq
    result.metric("pass_s", Stats.median(untraced))
    // After the check, which releases the outputs it held.
    result.metric("heap_retained_mb", Main.heapRetainedMb())
    if (!a.trace) return

    tracer.reportSparkLayers(result, traced.size, passed.size, traced.sum, cpus)
    result.metric("trace.overhead_pass_s", Stats.median(traced) - Stats.median(untraced))
    result.metric("trace.overhead_history_ms", med("traced.history") - med("history"))
    result.metric("router.history_p50_ms", med("history"))
    result.metric("router.history_tail_ms", Stats.tail(all("history") ++ all("traced.history")))
    result.metric("router.download_p50_ms", med("download"))
    result.metric("router.quotes_p50_ms", med("quotes"))
    result.metric("router.calls_per_s", ops / elapsed)
    result.metric("router.history_call_ms", med("traced.history_call"))
    result.metric("router.history_collect_ms", med("traced.history_collect"))
    result.metric("router.download_call_ms", med("traced.download_call"))
    result.metric("router.download_collect_ms", med("traced.download_collect"))
    result.metric("router.download_jobs", med("traced.download_jobs"))
    result.metric("connector.provider_calls", providerCalls.sum.toDouble / ops)
    result.metric("connector.provider_ms", providerNs.sum / 1e6 / ops)
    result.metric("middleware.hit_ratio", 1.0 - providerCalls.sum.toDouble / stackCalls.sum.max(1L))
    result.metric("middleware.refusals", refusals.sum.toDouble / ops)
  }

  private def resetCounters(): Unit = {
    providerCalls.reset(); providerNs.reset(); stackCalls.reset(); refusals.reset()
    stackFailures.synchronized(stackFailures.clear())
  }

  /** JIT and first-use costs, untimed: `WarmThreads` clients, each with its
    * own engine and request stream, run one block concurrently. Outputs are
    * not checked here; the timed requests are.
    */
  private def warmUp(): Unit = {
    def client(t: Int): Unit = {
      val clk = new ManualClock(Epoch)
      val g = engine(clk)
      requests(new Random(a.seed + 1000003L * t), 1).foreach { case (op, gap) =>
        clk.advance(gap)
        op match {
          case Quotes(syms) => g.quotes(syms.map(inst))
          case History(sym) =>
            g.history(inst(sym), historyReq).foreach(r => r.collect(r.candles.collect()))
          case Download(syms) =>
            g.download(syms.map(inst), historyReq).foreach(r => r.collect(r.candles.collect()))
        }
      }
    }
    val clients = (1 to WarmThreads).map(t => new Thread(() => client(t)))
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  private def inst(s: String) = Instrument(Symbol(s), None, AssetKind.Equity)

  private val historyReq = HistoryRequest(Interval.D1,
    Some(RangeStart), Some(RangeStart + Days * 86400L), None)

  /** Run one request, timed up to the return of the verb and the collect of
    * its candles. Its check against what the script predicts is kept, with
    * what the verb returned and the provider stack failures seen meanwhile,
    * to run after the timed region.
    */
  private def execute(g: Graft, op: Op, gapMs: Long, id: Long, block: Int, traced: Boolean): Call = {
    request = id
    clock.advance(gapMs)
    stackFailures.synchronized(stackFailures.clear())
    result.attempted += 1
    val t0 = System.nanoTime()
    def ms(from: Long) = (System.nanoTime() - from) / 1e6
    val res: Either[String, (Vector[Failure] => Either[String, Unit], Seq[(String, Double)])] =
      try tracer.span(s"verb.${op.verb}", id) {
        op match {
          case Quotes(syms) =>
            val (qs, errs) = g.quotes(syms.map(inst))
            Right((_ => checkQuotes(syms, qs, errs), Seq.empty))
          case History(sym) =>
            val c0 = System.nanoTime()
            val res = g.history(inst(sym), historyReq)
            val call = ms(c0)
            res match {
              case Left(e) =>
                Right((_ => if (Sentinels(sym)) Right(()) else Left(s"history $sym failed: $e"),
                  Seq("history_call" -> call)))
              case Right(r) =>
                val c1 = System.nanoTime()
                val rows = tracer.span("collect.history", id)(r.collect(r.candles.collect()))
                val collect = ms(c1)
                rows.left.map(e => s"history $sym collect failed: $e").map { rs =>
                  val check = (failures: Vector[Failure]) =>
                    if (Sentinels(sym)) Left(s"history $sym: sentinel succeeded")
                    else checkCandles(Seq(sym), rs).flatMap(_ => checkWarnings(Set(sym), r.warnings, failures))
                  (check, Seq("history_call" -> call, "history_collect" -> collect))
                }
            }
          case Download(syms) =>
            val c0 = System.nanoTime()
            val res = g.download(syms.map(inst), historyReq)
            val call = ms(c0)
            res.left.map(e => s"download failed: $e").flatMap { r =>
              val c1 = System.nanoTime()
              val j0 = tracer.sched.jobs.get
              val rows = tracer.action(s"download-$id") {
                tracer.span("collect.download", id)(r.collect(r.candles.collect()))
              }
              val collect = ms(c1)
              val jobs = (tracer.sched.jobs.get - j0).toDouble
              rows.left.map(e => s"download collect failed: $e").map { rs =>
                val check = (failures: Vector[Failure]) =>
                  checkCandles(syms.filterNot(Sentinels), rs)
                    .flatMap(_ => checkDownloadWarnings(syms, r.warnings, failures))
                (check, Seq("download_call" -> call, "download_collect" -> collect, "download_jobs" -> jobs))
              }
            }
        }
      } catch { case t: Throwable => Left(s"${op.verb} threw $t") }
    val total = ms(t0)
    val failures = stackFailures.synchronized(stackFailures.toVector)
    Call(op.verb, block, traced, total, res.map(_._2).getOrElse(Seq.empty),
      () => res.flatMap(_._1(failures)))
  }

  private def checkQuotes(syms: Seq[String], qs: Seq[Quote],
      errs: Map[String, BorsaError]): Either[String, Unit] = {
    val bySym = qs.map(q => q.symbol -> q).toMap
    syms.collectFirst {
      case s if Sentinels(s) && !errs.contains(s) => s"quote $s: sentinel did not fail"
      case s if !Sentinels(s) && !bySym.get(s).exists(_.price.contains(BigDecimal(100 + (mockSeed(s) % 400).abs)))
        => s"quote $s: got ${bySym.get(s)} / ${errs.get(s)}"
    }.toLeft(())
  }

  /** Candles as the mock script defines them: `Days` daily bars from the
    * range start, close = 101 + (seed(symbol) + i) % 50.
    */
  private def checkCandles(syms: Seq[String],
      rows: Array[Row]): Either[String, Unit] = {
    val got = rows.map(r => (r.getAs[String]("symbol"), r.getAs[Long]("ts"),
      BigDecimal(r.getAs[java.math.BigDecimal]("close")))).sorted
    val want = (for {
      s <- syms
      i <- 0 until Days
    } yield (s, RangeStart + i * 86400L,
      BigDecimal(100) + BigDecimal((mockSeed(s) + i) % 50) + 1)).sorted.toArray
    if (got.length != want.length) Left(s"candles for ${syms.mkString(",")}: ${got.length} rows, expected ${want.length}")
    else got.zip(want).collectFirst { case (g, w) if g._1 != w._1 || g._2 != w._2 || g._3.compare(w._3) != 0 =>
      s"candle $g, expected $w"
    }.toLeft(())
  }

  /** Scripted failures the router may see: the flaky provider's rate limit,
    * the blacklist refusal it triggers, and quota refusals.
    */
  private def scripted(provider: String, e: BorsaError): Boolean = e match {
    case BorsaError.Connector("gamma", _: BorsaError.RateLimitExceeded) => provider == "gamma"
    case _: BorsaError.RateLimitExceeded | _: BorsaError.TemporarilyBlacklisted => provider == "gamma"
    case _: BorsaError.QuotaExceeded => true
    case _ => false
  }

  private def providerOf(w: BorsaError): String = w match {
    case BorsaError.Connector(n, _) => n
    case other                      => other.toString
  }

  /** Each warning names a provider whose stack failed this request, and
    * every such failure is a scripted one and shows up as a warning.
    */
  private def checkWarnings(syms: Set[String], warnings: Seq[BorsaError],
      seen: Vector[Failure]): Either[String, Unit] = {
    val failures = seen.filter(f => syms(f._2))
    failures.find(f => !scripted(f._1, f._3)) match {
      case Some(f) => Left(s"unscripted provider failure $f")
      case None =>
        val want = failures.map(_._1).groupBy(identity).view.mapValues(_.size).toMap
        val got = warnings.map(providerOf).groupBy(identity).view.mapValues(_.size).toMap
        if (want == got) Right(()) else Left(s"warnings $warnings, provider failures $failures")
    }
  }

  private def checkDownloadWarnings(syms: Seq[String], warnings: Seq[BorsaError],
      failures: Vector[Failure]): Either[String, Unit] = {
    val (perInstrument, perProvider) = warnings.partition(w => syms.contains(providerOf(w)))
    val failed = perInstrument.map(providerOf).toSet
    val sentinels = syms.filter(Sentinels).toSet
    if (failed != sentinels) Left(s"download failed instruments $failed, expected $sentinels")
    else checkWarnings(syms.filterNot(Sentinels).toSet, perProvider, failures)
  }
}

object RouterLoad {
  val RangeStart = 1704067200L
  val Epoch: Long = RangeStart * 1000L
  val WarmThreads = 2
  val OutageMs = 10000L
  /** Daily bars per history/download request. */
  val Days = 250
  val Universe: Vector[String] = Vector.tabulate(200)(i => f"S$i%03d")
  val Sentinels: Set[String] = Set("FAIL", "NOTFOUND")
  /** Blocks per run at least: block walls vary by a fifth within a run, so
    * the median needs several, and a traced run needs T U U T.
    */
  val MinBlocks = 4

  /** A provider stack failure: (provider, symbol, error). */
  type Failure = (String, String, BorsaError)

  /** One timed request: its latency and timed parts, and the check of its
    * output (Left when the call itself failed or the output is wrong).
    */
  final case class Call(verb: String, block: Int, traced: Boolean, ms: Double,
      parts: Seq[(String, Double)], check: () => Either[String, Unit])

  sealed trait Op { def verb: String }
  final case class Quotes(syms: Seq[String]) extends Op { val verb = "quotes" }
  final case class History(sym: String) extends Op { val verb = "history" }
  final case class Download(syms: Seq[String]) extends Op { val verb = "download" }

  /** The mock connector's per-symbol seed (its fixtures derive from it). */
  def mockSeed(s: String): Long = s.foldLeft(7L)((a, c) => a * 31 + c)

  def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L ^ b
    h = (h ^ (h >>> 29)) * 0xBF58476D1CE4E5B9L ^ c
    h = (h ^ (h >>> 32)) * 0x94D049BB133111EBL
    (h ^ (h >>> 29)) & Long.MaxValue
  }

  private val zipfCdf: Array[Double] = {
    val w = Universe.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def symbol(rng: Random): String =
    if (rng.nextDouble() < 0.05) (if (rng.nextBoolean()) "FAIL" else "NOTFOUND")
    else {
      val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
      Universe(math.min(if (i >= 0) i else -i - 1, Universe.size - 1))
    }

  private def distinct(rng: Random, n: Int): Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += symbol(rng)
    out.toSeq
  }

  /** `n` blocks of 20 requests (12 quotes, 7 history, 1 download, shuffled),
    * each with the virtual time gap before it in ms.
    */
  def requests(rng: Random, n: Int): Seq[(Op, Long)] = (0 until n).flatMap { _ =>
    val ops: Seq[Op] =
      Seq.fill(12)(Quotes(distinct(rng, 10))) ++
      Seq.fill(7)(History(symbol(rng))) ++
      Seq(Download(distinct(rng, 20)))
    rng.shuffle(ops).map(op => op -> (-math.log(1 - rng.nextDouble()) * 250).toLong)
  }
}
