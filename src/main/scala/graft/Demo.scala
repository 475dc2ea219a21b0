package graft

import graft.connector.MockConnector
import graft.core.Model._
import graft.routing.Policy
import graft.tables.Tables

/** Runnable tour of the API surface (the reference ships 24 runnable
  * examples against its mock; this is the equivalent quick-start —
  * everything below runs offline against the deterministic mock +
  * the driver test tables).
  *
  *   sbt "runMain graft.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)

    val g = new Graft(spark,
      Seq(new MockConnector("alpha"), new MockConnector("beta")),
      Policy.ProviderPolicy().withGlobal(Seq("alpha", "beta")))
    val aapl = Instrument(Symbol("AAPL"), None, AssetKind.Equity)

    println("== quote ==")
    println(g.quote(aapl))

    println("== fast info ==")
    println(g.fastInfo(aapl))

    println("== info (composed with warnings) ==")
    println(g.info(aapl).map(_.payload))

    println("== search (deduped, limited) ==")
    println(g.search("ZZ", limit = Some(3)).map(_.payload))

    println("== history: priority merge + attribution ==")
    val req = HistoryRequest(Interval.D1, Some(1704067200L), Some(1704067200L + 5 * 86400), None)
    g.history(aapl, req).foreach { h =>
      h.candles.orderBy("ts").show(5, truncate = false)
      h.attribution.show(truncate = false)
    }

    println("== download: two symbols, one plan ==")
    g.download(Seq(aapl, Instrument(Symbol("MSFT"), None, AssetKind.Equity)), req)
      .foreach(_.candles.groupBy("symbol").count().show())

    println("== download under a request deadline: concurrent fan-out, bounded wall-clock ==")
    val slowProv = new MockConnector("slow",
      MockConnector.Script(behaviors = Map("history" -> MockConnector.Delay(2000))))
    val deadlined = new Graft(spark, Seq(slowProv),
      historyConfig = router.HistoryOrchestrator.Config(
        requestTimeout = Some(scala.concurrent.duration.DurationInt(300).millis)))
    val t0 = System.nanoTime()
    val res = deadlined.download(Seq(aapl), req)
    println(f"  -> $res%.60s after ${(System.nanoTime() - t0) / 1e6}%.0f ms")

    println("== download isolation: one bad instrument warns, the batch succeeds ==")
    g.download(Seq(aapl, Instrument(Symbol("FAIL"), None, AssetKind.Equity)), req).foreach { d =>
      println(s"  symbols: ${d.candles.select("symbol").distinct().count()}, warnings: ${d.warnings.size}")
    }

    println("== history request flags: raw closes + keepna ==")
    val rawProv = new MockConnector("raw",
      MockConnector.Script(closeUnadjDelta = Some(BigDecimal(3))))
    new Graft(spark, Seq(rawProv))
      .history(aapl, req.copy(autoAdjust = false))
      .foreach(_.candles.select("ts", "close", "close_unadj").orderBy("ts").show(3))

    println("== timezone-aware resample (provider reports America/New_York) ==")
    val nyProv = new MockConnector("ny", MockConnector.Script(
      supportedIntervals = Seq(Interval.I1h),
      meta = Some(HistoryMeta(Some("America/New_York"), None))))
    new Graft(spark, Seq(nyProv))
      .history(aapl, HistoryRequest(Interval.D1, Some(1704067200L), Some(1704067200L + 2 * 86400), None))
      .foreach(_.candles.orderBy("ts").show(3)) // ts = NY-local midnights

    println("== stream candles: per-chain supervision over a scripted runner ==")
    val streamer = new Graft(spark, Seq(
      new MockConnector("alpha", MockConnector.Script(extraCapabilities = Set("stream-candles"))),
      new MockConnector("beta", MockConnector.Script(extraCapabilities = Set("stream-candles")))))
    val runner = new streaming.StreamController.SessionRunner {
      def start(id: Int, symbols: Seq[String]) = { println(s"  session start: provider $id -> $symbols"); Right(()) }
      def stop(id: Int): Unit = println(s"  session stop: provider $id")
    }
    streamer.streamCandles(Seq(aapl), runner).foreach(_.stop())

    println("== config serde round-trip ==")
    val cfgJson = routing.PolicySerde.toJson(routing.PolicySerde.GraftConfig(
      routing = Policy.ProviderPolicy().withGlobal(Seq("alpha", "beta"))))
    println(cfgJson.linesIterator.take(8).mkString("\n"))
    println(s"  parses back: ${routing.PolicySerde.fromJson(cfgJson).isRight}")

    println("== training-data ops over the documents table ==")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    pipeline.TextAnalysis.tokenStats(docs).show(3)
    pipeline.Dedup.simhash(docs).show(3)
    val nearDups = pipeline.Dedup.minhashNearDupsOf(pipeline.Dedup.shingleHashes(docs))
    println(s"minhash near-dups on clean corpus: ${nearDups.count()}")

    println("== embedding similarity (native vec_dot expression) ==")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    pipeline.Similarity.bruteForceKnn(emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 2), 3)
      .show(6)

    println("== trained IVF: k-means centroids through the same scan-side plan ==")
    val centroids = pipeline.KMeans.train(emb, nCells = 8)
    pipeline.Similarity.ivfKnnWith(
        emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 2), 3, centroids)
      .show(6)

    println("== total-return adjustment: splits then split-adjusted dividends ==")
    locally {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val prices = Seq(("S", 10L, 1L, 9000000L), ("S", 20L, 2L, 9600000L),
          ("S", 30L, 3L, 5000000L), ("S", 40L, 4L, 5200000L))
        .toDF("symbol", "secs", "event_id", "price_micros")
      val splits = Seq(("S", 25L, 2L, 1L)).toDF("symbol", "ts", "num", "den")
      val divs = Seq(("S", 40L, 200000L)).toDF("symbol", "dts", "amount")
      val splitAdj = timeseries.Adjust.backAdjustSplits(prices, splits,
          priceTsCol = "secs", valueCol = "price_micros")
        .withColumnRenamed("adj_price_micros", "sadj_micros")
      val divsAdj = timeseries.Adjust.backAdjustSplits(divs, splits,
          priceTsCol = "dts", valueCol = "amount")
        .select(col("symbol"), col("dts"), col("adj_amount").as("amount"))
      timeseries.Adjust.backAdjustDividends(
          splitAdj.select(col("symbol"), col("secs"), col("event_id"), col("sadj_micros")),
          divsAdj, priceTsCol = "secs", divTsCol = "dts", valueCol = "sadj_micros")
        .orderBy("event_id").show()
    }

    println("== sequence packing: 64-token contexts over 8 shards ==")
    locally {
      import org.apache.spark.sql.functions._
      val withToks = docs.select(col("doc_id"),
        expr(s"size(${pipeline.TextOps.toksS("text")})").cast("long").as("n_tokens"))
      pipeline.Packing.chunkSpans(withToks, ctxTokens = 64L, nShards = 8)
        .orderBy("shard", "chunk_id").show(5)
    }

    spark.stop()
  }
}
