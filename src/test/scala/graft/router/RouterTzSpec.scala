package graft.router

import java.time.{Instant, ZoneId}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.Model.{Candle, HistoryMeta}
import graft.functions.TzBucketKernel
import graft.router.HistoryRouter._

/** Ports of the reference's with_meta resampling properties through the
  * ROUTER path (not just the TzBucket kernel):
  * /root/reference/borsa-core/tests/resample_props.rs:173
  * (`with_meta_dst_alignment`) and :282
  * (`utc_equivalence_between_with_meta_and_plain`), exercising
  * `requestFrame`/`applyFinalResample` meta routing
  * (borsa-core/src/timeseries/resample.rs:279-320 choose_bucket_*).
  */
class RouterTzSpec extends SparkSpec {

  private val rome = ZoneId.of("Europe/Rome")

  private val schema = StructType(Seq(
    StructField("symbol", StringType), StructField("ts", LongType),
    StructField("open", DecimalType(18, 6)), StructField("high", DecimalType(18, 6)),
    StructField("low", DecimalType(18, 6)), StructField("close", DecimalType(18, 6)),
    StructField("volume", LongType), StructField("currency", StringType)))

  /** Hourly timestamps spanning the Rome 2022 spring-forward
    * (2022-03-27 02:00→03:00) and fall-back (2022-10-30 03:00→02:00)
    * windows, ±12 h around each — the windows the reference property maps
    * its candles into.
    */
  private val dstTss: Seq[Long] = {
    val springUtc = 1648339200L // 2022-03-27 00:00 UTC
    val fallUtc   = 1667088000L // 2022-10-30 00:00 UTC
    (-12 to 12).map(h => springUtc + h * 3600L) ++
      (-12 to 12).map(h => fallUtc + h * 3600L)
  }

  private def candles(tss: Seq[Long]): DataFrame = {
    val rows = tss.zipWithIndex.map { case (ts, i) =>
      val v = BigDecimal(100 + i)
      Row("S", ts, v.bigDecimal, (v + 1).bigDecimal, (v - 1).bigDecimal,
        v.bigDecimal, 10L, "USD")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def records(tss: Seq[Long]): Seq[Candle] =
    tss.zipWithIndex.map { case (ts, i) =>
      val v = BigDecimal(100 + i)
      Candle("S", ts, v, v + 1, v - 1, v, None, Some(10L), "USD")
    }

  private def bucketTss(ph: ProviderHistory): Seq[Long] =
    requestFrame(spark, Seq(Seq(ph))).select("ts").collect().map(_.getLong(0)).toSeq.sorted

  test("with_meta DST alignment: Daily plan through the router lands on Rome local midnight") {
    val meta = Some(HistoryMeta(Some("Europe/Rome"), None))
    val ph = ProviderHistory("pa", 0, adjusted = true, meta,
      Some(ResamplePlan.Daily), records(dstTss))
    val buckets = bucketTss(ph)
    assert(buckets.nonEmpty)
    buckets.foreach { ts =>
      val l = Instant.ofEpochSecond(ts).atZone(rome)
      assert(l.getHour == 0 && l.getMinute == 0 && l.getSecond == 0,
        s"bucket $ts is not Rome-local midnight: $l")
    }
  }

  test("with_meta DST alignment: Weekly plan lands on Rome local Monday midnight") {
    val meta = Some(HistoryMeta(Some("Europe/Rome"), None))
    val ph = ProviderHistory("pa", 0, adjusted = true, meta,
      Some(ResamplePlan.Weekly), records(dstTss))
    bucketTss(ph).foreach { ts =>
      val l = Instant.ofEpochSecond(ts).atZone(rome)
      assert(l.getDayOfWeek == java.time.DayOfWeek.MONDAY &&
        l.getHour == 0 && l.getMinute == 0 && l.getSecond == 0,
        s"bucket $ts is not Rome-local Monday midnight: $l")
    }
  }

  test("with_meta DST alignment: Minutes plan matches the DST-exact kernel per input ts") {
    for (minutes <- Seq(5, 60)) {
      val meta = Some(HistoryMeta(Some("Europe/Rome"), None))
      val ph = ProviderHistory("pa", 0, adjusted = true, meta,
        Some(ResamplePlan.Minutes(minutes.toLong)), records(dstTss))
      val expected = dstTss.map(ts =>
        TzBucketKernel.bucket(ts, rome, minutes.toLong * 60L)).distinct.sorted
      assert(bucketTss(ph) == expected, s"minutes=$minutes")
    }
  }

  test("utc equivalence: meta (UTC tz, offset 0) ≡ no meta for Daily/Weekly/Minutes") {
    val metaUtc = Some(HistoryMeta(Some("UTC"), Some(0L)))
    for (plan <- Seq[ResamplePlan](ResamplePlan.Daily, ResamplePlan.Weekly,
        ResamplePlan.Minutes(15L))) {
      val withMeta = bucketTss(ProviderHistory("pa", 0, adjusted = true, metaUtc,
        Some(plan), records(dstTss)))
      val plain = bucketTss(ProviderHistory("pa", 0, adjusted = true, None,
        Some(plan), records(dstTss)))
      assert(withMeta == plain, s"plan=$plan")
    }
  }

  test("offset fallback: Weekly and Minutes honor utc_offset_seconds when no tz is set") {
    val off = -18000L // UTC-5
    val meta = Some(HistoryMeta(None, Some(off)))
    val weekly = bucketTss(ProviderHistory("pa", 0, adjusted = true, meta,
      Some(ResamplePlan.Weekly), records(dstTss)))
    val expectedWeekly = dstTss.map { s =>
      val day = Math.floorDiv(s + off, 86400L)
      val monday = day - Math.floorMod(day + 3, 7L)
      monday * 86400L - off
    }.distinct.sorted
    assert(weekly == expectedWeekly)

    val mins = bucketTss(ProviderHistory("pa", 0, adjusted = true, meta,
      Some(ResamplePlan.Minutes(90L)), records(dstTss)))
    val step = 90L * 60L
    val expectedMins = dstTss.map(s => (s + off) - Math.floorMod(s + off, step) - off)
      .distinct.sorted
    assert(mins == expectedMins)
  }

  test("final resample honors merged meta (H7 with_meta): daily buckets follow Rome midnight") {
    val meta = Some(HistoryMeta(Some("Europe/Rome"), None))
    val out = applyFinalResample(candles(dstTss), FinalResample.Daily, meta)
    out.select("ts").collect().map(_.getLong(0)).foreach { ts =>
      val l = Instant.ofEpochSecond(ts).atZone(rome)
      assert(l.getHour == 0 && l.getMinute == 0 && l.getSecond == 0)
    }
  }
}
