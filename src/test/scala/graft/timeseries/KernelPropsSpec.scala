package graft.timeseries

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Errors.BorsaError
import graft.core.Model._
import graft.router.HistoryRouter
import graft.router.HistoryRouter.ProviderHistory

/** Property ports of the reference kernel invariants that were still
  * missing from the suite (SURVEY §5.1):
  *  - `dedup_associative_commutative` (borsa-core/tests/dedup_props.rs:81)
  *  - `meta_selection_first_non_none_wins` (merge_props.rs:143)
  *  - `merge_currency_invariant` (currency_invariants.rs:43)
  *  - `resample_currency_invariant_all` (currency_invariants.rs:73)
  *
  * Style follows MonotonicGateSpec: deterministic seeded generators with a
  * bounded case count (each case runs Spark jobs; proptest's 256-case
  * default would be pure overhead here). Value pools are kept tiny so
  * identity collisions, permutations, and currency mixes actually occur.
  */
class KernelPropsSpec extends SparkSpec {

  // ------------------------------------------------------------ actions

  private def genActions(r: scala.util.Random, n: Int): Seq[Row] =
    (0 until n).map { _ =>
      val kind = Seq("dividend", "split", "capital_gain")(r.nextInt(3))
      if (kind == "split")
        Row("AAPL", 86400L * r.nextInt(4), kind, null, null,
          Long.box(r.nextInt(3) + 1L), Long.box(1L))
      else
        Row("AAPL", 86400L * r.nextInt(4), kind,
          new java.math.BigDecimal(r.nextInt(3) + 1), "USD", null, null)
    }

  private def actionsDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), HistoryRouter.actionSchema)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("dedup_actions is associative and commutative (dedup_props.rs:81)") {
    (1 to 10).foreach { seed =>
      val r = new scala.util.Random(seed)
      val a = genActions(r, r.nextInt(12))
      val b = genActions(r, r.nextInt(12))
      val ab = Merge.dedupActions(actionsDf(a ++ b))
      // associativity: dedup(a ++ b) == dedup(dedup(a) ++ dedup(b))
      val nested = Merge.dedupActions(
        Merge.dedupActions(actionsDf(a)).unionByName(Merge.dedupActions(actionsDf(b))))
      assert(canon(ab) == canon(nested), s"associativity broke at seed=$seed")
      // commutativity: dedup(a ++ b) == dedup(b ++ a)
      val ba = Merge.dedupActions(actionsDf(b ++ a))
      assert(canon(ab) == canon(ba), s"commutativity broke at seed=$seed")
    }
  }

  // ------------------------------------------------------------ meta

  test("meta selection: first non-None by priority wins under every permutation (merge_props.rs:143)") {
    def ph(priority: Int, meta: Option[HistoryMeta]) = // mergedMeta never reads the records
      ProviderHistory(s"p$priority", priority, adjusted = true, meta, None, Seq.empty)
    val rome = HistoryMeta(Some("Europe/Rome"), None)

    // exactly one carrier, all 3 positions × all 6 permutations
    val perms = Seq(0, 1, 2).permutations.toSeq
    for (which <- 0 until 3; perm <- perms) {
      val metas = Seq.tabulate(3)(i => if (i == which) Some(rome) else None)
      val ordered = perm.map(i => ph(priority = i, meta = metas(i)))
      assert(HistoryRouter.mergedMeta(ordered).contains(rome),
        s"which=$which perm=$perm missed the only Some meta")
    }

    // several carriers: the lowest-priority Some wins, independent of
    // sequence order
    val berlin = HistoryMeta(Some("Europe/Berlin"), None)
    (1 to 20).foreach { seed =>
      val r = new scala.util.Random(seed)
      val metas = Seq.tabulate(4)(_ =>
        r.nextInt(3) match {
          case 0 => None
          case 1 => Some(rome)
          case 2 => Some(berlin)
        })
      val shuffled = r.shuffle(metas.zipWithIndex.map { case (m, i) => ph(i, m) })
      val expected = shuffled.filter(_.meta.isDefined).sortBy(_.priority)
        .headOption.flatMap(_.meta)
      assert(HistoryRouter.mergedMeta(shuffled) == expected, s"seed=$seed")
    }
  }

  // ------------------------------------------------------------ currency

  private def candlesDf(rows: Seq[Candle]): DataFrame =
    spark.createDataFrame(rows.map(HistoryRouter.candleRow).asJava, HistoryRouter.candleSchema)

  private def candles(r: scala.util.Random, n: Int, currency: String): Seq[Candle] =
    (0 until n).map { _ =>
      val ts = 86400L * r.nextInt(8)
      val p = BigDecimal(1 + r.nextInt(100))
      Candle("AAPL", ts, p, p + 1, p - 1, p, None, Some(10L), currency)
    }

  test("merge currency invariant: same currency (or an empty side) merges; a mix aborts with the deviating provider (currency_invariants.rs:43)") {
    (1 to 8).foreach { seed =>
      val r = new scala.util.Random(seed)
      val usd1 = r.nextBoolean(); val usd2 = r.nextBoolean()
      val s1 = candles(r, r.nextInt(6), if (usd1) "USD" else "EUR")
      val s2 = candles(r, r.nextInt(6), if (usd2) "USD" else "EUR")
      val sameCurrency = usd1 == usd2 || s1.isEmpty || s2.isEmpty
      val results = Seq(
        ProviderHistory("p0", 0, adjusted = true, None, None, s1),
        ProviderHistory("p1", 1, adjusted = true, None, None, s2))
      HistoryRouter.currencyViolations(results) match {
        case Seq() => assert(sameCurrency, s"seed=$seed: mixed currencies merged silently")
        case Seq((_, BorsaError.Connector(p, BorsaError.InconsistentCurrencyData))) =>
          assert(!sameCurrency, s"seed=$seed: clean merge aborted")
          // the lower-priority provider deviates from p0's reference currency
          assert(p == "p1", s"seed=$seed: blamed $p")
        case other => fail(s"seed=$seed: unexpected result $other")
      }
      // the kernel-level analog (reference merge_candles_by_priority
      // checks inline; our C2 invariant composes around the kernel)
      val kernelMerged = Currency.ensureUniform(Merge.mergeCandlesByPriority(Seq(
        candlesDf(s1), candlesDf(s2))))
      assert(Try(kernelMerged.count()).isSuccess == sameCurrency, s"seed=$seed (kernel form)")
    }
  }

  test("resample currency invariant: any currency mix in a series aborts; uniform input resamples to one currency (currency_invariants.rs:73)") {
    val buckets: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "daily" -> Resample.dailyBucket(col("ts")),
      "weekly" -> Resample.weeklyBucket(col("ts")),
      "m5" -> Resample.minuteBucket(col("ts"), 5))
    (1 to 6).foreach { seed =>
      val r = new scala.util.Random(seed)
      val rows = (0 until 1 + r.nextInt(12)).map { _ =>
        val ts = 3600L * r.nextInt(72)
        val p = BigDecimal(1 + r.nextInt(50))
        Candle("AAPL", ts, p, p + 1, p - 1, p, None, Some(5L),
          if (r.nextInt(4) == 0) "EUR" else "USD")
      }
      val mixed = rows.map(_.currency).distinct.size > 1
      val (mode, bucket) = buckets(seed % buckets.size)
      val out = Resample.resampleCandles(
        Currency.ensureUniform(candlesDf(rows)),
        bucket, keys = Seq("symbol", "currency"))
      Try(out.select("currency").distinct().collect()) match {
        case scala.util.Success(cur) =>
          assert(!mixed, s"seed=$seed mode=$mode: mixed series resampled")
          assert(cur.length == 1, s"seed=$seed mode=$mode: output not single-currency")
        case scala.util.Failure(_) =>
          assert(mixed, s"seed=$seed mode=$mode: uniform series aborted")
      }
    }
  }
}
