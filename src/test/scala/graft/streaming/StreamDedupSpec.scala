package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.streaming.MonotonicGate.Update
import graft.tables.Tables

/** Streaming ingestion dedup: the sf0.01 feed delivered TWICE (every update
  * re-pushed immediately, the reconnect re-delivery shape) through the DSv2
  * source must come out of `dropDuplicatesWithinWatermark` as exactly the
  * distinct feed — byte-equal to the batch distinct over the same rows —
  * while keeping bounded per-key state.
  */
class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  test("doubled sf0.01 feed dedups to the batch distinct (bounded state)") {
    assume(new java.io.File(s"$sfDir/events.parquet").exists(), s"$sfDir not present")
    val ticks = Tables.ticks(spark, sfDir)
      .select(col("symbol"), col("arrival"), col("secs").as("ts"))
    // arrival-ordered so the watermark (event time = arrival) is monotone;
    // each update immediately re-delivered — the duplicate is always within
    // the watermark delay of its twin
    val feed = ticks.as[Update].collect().sortBy(_.arrival).flatMap(u => Seq(u, u))

    val buf = StreamBuffer.register("dedup-scale", capacity = 8192)
    val out = new ConcurrentLinkedQueue[Update]()
    val q = StreamDedup.dedupWithinWatermark(
        ConnectorStreamSource.readStream(spark, "dedup-scale"))
      .as[Update]
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Update], _: Long) =>
        batch.collect().foreach(out.add)
      }
      .start()
    try {
      feed.grouped(4096).foreach { rows =>
        rows.foreach(u => assert(buf.push(u), "buffer full despite headroom"))
        q.processAllAvailable()
      }
      q.processAllAvailable()
      val streamed = out.toArray(Array.empty[Update]).sortBy(u => (u.symbol, u.arrival)).toSeq
      val want = ticks.distinct().as[Update].collect().sortBy(u => (u.symbol, u.arrival)).toSeq
      val missing = want.toSet -- streamed.toSet
      val extra = streamed.toSet -- want.toSet
      val dups = streamed.groupBy(identity).collect { case (u, g) if g.size > 1 => u }.toSeq
      assert(missing.isEmpty && extra.isEmpty && dups.isEmpty && streamed.size == want.size,
        s"streamed ${streamed.size} vs ${want.size}; missing=${missing.take(3)} " +
          s"extra=${extra.take(3)} dups=${dups.take(3)}")
    } finally {
      q.stop()
      StreamBuffer.unregister("dedup-scale")
    }
  }

  test("dedupedGate: duplicates AND ts regressions die in one enforced composition") {
    // feed: every update delivered twice (reconnect shape) PLUS stale
    // out-of-order regressions (ts below the symbol's running max) —
    // dedup alone passes the regressions, the gate alone passes the
    // duplicates; the composition must emit the reference model of the
    // distinct feed
    val base = Seq(
      Update("A", 1L, 100L), Update("A", 2L, 105L),
      Update("A", 3L, 90L), // regression: below A's max
      Update("A", 4L, 105L), // equal ts: allowed by the gate contract
      Update("B", 5L, 50L), Update("B", 6L, 40L), // regression on B
      Update("B", 7L, 60L))
    val feed = base.flatMap(u => Seq(u, u))

    val buf = StreamBuffer.register("dedup-gate", capacity = 1024)
    val out = new ConcurrentLinkedQueue[Update]()
    val q = StreamDedup.dedupedGate(
        ConnectorStreamSource.readStream(spark, "dedup-gate").as[Update],
        stateTtlMs = 0L)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Update], _: Long) =>
        batch.collect().foreach(out.add)
      }
      .start()
    try {
      feed.foreach(u => assert(buf.push(u)))
      q.processAllAvailable()
      val streamed = out.toArray(Array.empty[Update]).sortBy(_.arrival).toSeq
      val want = MonotonicGate.referenceModel(base)
      assert(streamed == want,
        s"composition must equal referenceModel(distinct feed):\ngot  $streamed\nwant $want")
    } finally {
      q.stop()
      StreamBuffer.unregister("dedup-gate")
    }
  }

  test("dedupAgainstStore: stream-static anti probe drops stored texts, passes fresh ones with their hash") {
    implicit val sqlCtx = spark.sqlContext
    val store = Seq("seen text").toDF("text")
      .select(org.apache.spark.sql.functions.md5(col("text")).as("h"))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamDedup.dedupAgainstStore(input.toDF().toDF("doc_id", "text"), store)
      .writeStream.format("memory").queryName("store_dedup_out").outputMode("append").start()
    try {
      input.addData(Seq((1L, "seen text"), (2L, "fresh one"), (3L, "fresh one")))
      q.processAllAvailable()
      val out = spark.table("store_dedup_out")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("h"))).toSeq.sortBy(_._1)
      // stateless by contract: BOTH in-batch copies of "fresh one" pass
      // (in-flight dedup is dedupWithinWatermark's job, composed upstream)
      assert(out.map(_._1) == Seq(2L, 3L))
      // the emitted hash is the store fingerprint format (the append loop)
      val freshHash = Seq("fresh one").toDF("text")
        .select(org.apache.spark.sql.functions.md5(col("text"))).head.getString(0)
      assert(out.forall(_._2 == freshHash))
    } finally q.stop()
  }

  test("rowSigS == batch minhashSignature component-for-component; <3-token rows are NULL") {
    import graft.pipeline.{Dedup, TextOps}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "alpha beta gamma"), // exactly 3 tokens: 1 shingle
      (4L, "two tokens"),       // <3 tokens: NULL signature
      (5L, ""))                 // empty: NULL signature
      .toDF("doc_id", "text")
    val rowSigs = docs
      .select(col("doc_id"), org.apache.spark.sql.functions.expr(TextOps.rowSigS("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    val batchSigs = Dedup.minhashSignature(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // scan-side signature is byte-identical to the batch aggregate wherever
    // the batch aggregate emits a row...
    batchSigs.foreach { case (id, sig) =>
      assert(rowSigs(id).contains(sig), s"doc $id: rowSigS != minhashSignature")
    }
    // ...and NULL exactly where the batch aggregate emits none (<3 tokens)
    assert(rowSigs.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(rowSigs(4L).isEmpty && rowSigs(5L).isEmpty,
      "<3-token rows must produce NULL, not a sentinel that matches other tiny docs")
    assert(batchSigs.keySet == Set(1L, 2L, 3L))
  }

  // near-dup store-probe fixture: a three-doc signature store, each doc
  // its own cluster, and a batch of five shapes — a near-copy (first token
  // dropped, the corpus duplicate convention), exact copies (which agree
  // on all 8 bands), a novel doc, and a <3-token doc that must be
  // filtered (its NULL signature may never match anything)
  private def nearDupStore = graft.pipeline.Dedup.minhashSignature(Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (20L, "pack my box with five dozen liquor jugs"),
      (30L, "sphinx of black quartz judge my vow right now")).toDF("doc_id", "text"))
    .withColumn("cluster_id", col("doc_id"))
  private val nearDupBatchRows = Seq(
    (101L, "quick brown fox jumps over the lazy dog"),
    (102L, "the quick brown fox jumps over the lazy dog"),
    (103L, "pack my box with five dozen liquor jugs"),
    (104L, "completely unrelated novel document text goes right here"),
    (105L, "too short"))

  test("minhashStoreMatches: one row per matched (doc, store doc), exact copies included") {
    import graft.pipeline.Dedup
    val got = Dedup.minhashStoreMatches(
        Dedup.minhashSignature(nearDupBatchRows.toDF("doc_id", "text")), nearDupStore)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the exact copies agree on every band, yet each pair is one row
    assert(got.count(_._1 == 102L) == 1 && got.count(_._1 == 103L) == 1, got.toSeq)
    assert(got.contains((102L, 10L, 10L, 1000000L)) && got.contains((103L, 20L, 20L, 1000000L)),
      got.toSeq)
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length,
      s"duplicate rows for one (doc, store doc) pair: ${got.toSeq}")
    assert(!got.exists(r => r._1 == 104L || r._1 == 105L), got.toSeq)
  }

  test("nearDupAgainstStore: MemoryStream probe == batch minhashStoreMatches row-for-row") {
    import graft.pipeline.Dedup
    implicit val sqlCtx = spark.sqlContext
    val store = nearDupStore
    val batchRows = nearDupBatchRows
    val batchDf = batchRows.toDF("doc_id", "text")
    val want = Dedup.minhashStoreMatches(Dedup.minhashSignature(batchDf), store)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "fixture must produce store matches (exact copies at minimum)")

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamDedup.nearDupAgainstStore(input.toDF().toDF("doc_id", "text"), store)
      .writeStream.format("memory").queryName("neardup_probe_out").outputMode("append").start()
    try {
      // adversarial micro-batch boundaries: 1 row, then 2, then the rest —
      // the stateless contract means the split points must not matter
      input.addData(batchRows.take(1)); q.processAllAvailable()
      input.addData(batchRows.slice(1, 3)); q.processAllAvailable()
      input.addData(batchRows.drop(3)); q.processAllAvailable()
      val got = spark.table("neardup_probe_out").collect().map(_.toSeq)
      assert(got.toSet == want,
        s"stream probe != batch minhashStoreMatches:\ngot  ${got.toSet}\nwant $want")
      // the row-local first-common-band rule must emit EXACTLY one survivor
      // per matched (doc, store doc) pair — no duplicates from multi-band
      // agreement (exact copies agree on all 8 bands)
      assert(got.map(r => (r(0), r(1))).distinct.length == got.length,
        "multi-band match emitted duplicate rows for one (doc, store doc) pair")
      assert(!got.exists(_.head == 105L), "<3-token doc must not match anything")
    } finally q.stop()
  }

  test("ivfPqStoreMatches: MemoryStream probe == batch row-for-row") {
    import graft.pipeline.Similarity
    implicit val sqlCtx = spark.sqlContext
    // exact-reconstruction fixture (the DedupStageSpec discipline):
    // prototypes are one-hot at dim 8k, codebooks carry exactly those
    // subvectors — copies score cos_ppm 1e6, different prototypes 0
    def proto(k: Int): Array[Double] = {
      val v = Array.fill(64)(0.0); v(8 * k) = 1.0; v
    }
    val cbs: Seq[Seq[Seq[Long]]] = (0 until Similarity.PQ_M).map { _ =>
      Seq(Seq.fill(8)(0L), 1000000L +: Seq.fill(7)(0L)) ++
        (2 until Similarity.PQ_KSUB).map(_ => Seq.fill(8)(900000L))
    }
    val cents = Similarity.defaultCentroids(64, 8)
    val store = Similarity.vecStoreEncode(
        Seq((10L, proto(0)), (20L, proto(1)), (30L, proto(2))).toDF("vec_id", "embedding"),
        cents, cbs)
      .withColumn("cluster_id", col("vec_id"))
    val batchRows = Seq(
      (101L, proto(0)), // copy of stored content
      (102L, proto(1)),
      (103L, proto(5))) // novel: no store match
    val batchDf = batchRows.toDF("vec_id", "embedding")
    val want = Similarity.ivfPqStoreMatches(batchDf, store, cents, cbs, tauPpm = 500000L)
      .collect().map(_.toSeq).toSet
    assert(want.map(_.head).toSet == Set(101L, 102L), s"fixture sanity: $want")

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = Similarity.ivfPqStoreMatches(
        input.toDF().toDF("vec_id", "embedding"), store, cents, cbs,
        tauPpm = 500000L, idCol = "vec_id", vecCol = "embedding")
      .writeStream.format("memory").queryName("sem_probe_out").outputMode("append").start()
    try {
      input.addData(batchRows.take(1)); q.processAllAvailable()
      input.addData(batchRows.drop(1)); q.processAllAvailable()
      val got = spark.table("sem_probe_out").collect().map(_.toSeq).toSet
      assert(got == want, s"stream probe != batch ivfPqStoreMatches:\ngot  $got\nwant $want")
    } finally q.stop()
  }

  test("calibratedKeepWith is streaming-legal: batch-derived cutoffs apply stream-static") {
    import graft.pipeline.Sampling
    implicit val sqlCtx = spark.sqlContext
    val history = (1L to 20L).map(i => (i, s"s${i % 2}", i * 10L))
      .toDF("doc_id", "stratum", "score")
    val cutoffs = Sampling.calibratedCutoffs(history, "stratum", "score", keepPpm = 500000L)
    val live = Seq((100L, "s0", 5L), (101L, "s0", 195L), (102L, "s1", 200L), (103L, "sX", 999L))
    val want = Sampling.calibratedKeepWith(
        live.toDF("doc_id", "stratum", "score"), cutoffs, "stratum", "score")
      .collect().map(_.toSeq).toSet
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val q = Sampling.calibratedKeepWith(
        input.toDF().toDF("doc_id", "stratum", "score"), cutoffs, "stratum", "score")
      .writeStream.format("memory").queryName("calib_out").outputMode("append").start()
    try {
      input.addData(live.take(2)); q.processAllAvailable()
      input.addData(live.drop(2)); q.processAllAvailable()
      val got = spark.table("calib_out").collect().map(_.toSeq).toSet
      assert(got == want, s"stream calibration != batch:\ngot  $got\nwant $want")
      // the unknown stratum must land kept=false, not vanish or pass
      assert(got.exists(r => r.head == 103L && r.last == false))
    } finally q.stop()
  }

  test("dedupUnbounded: duplicates drop across micro-batches with no watermark bound") {
    import graft.streaming.StreamDedup.IngestDoc
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      IngestDoc(1L, "alpha doc", 10L),
      IngestDoc(2L, "alpha doc", 5L),  // same batch, EARLIER arrival: this one wins
      IngestDoc(3L, "beta doc", 20L),
      IngestDoc(4L, "alpha doc", 99L), // later batch: far beyond any bounded window
      IngestDoc(5L, "gamma doc", 30L),
      IngestDoc(6L, "beta doc", 40L),  // later batch dup
      IngestDoc(7L, "gamma doc", 31L)) // same-batch dup of 5
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[IngestDoc]
    val q = StreamDedup.dedupUnbounded(input.toDS())
      .writeStream.format("memory").queryName("unbounded_out").outputMode("append").start()
    try {
      input.addData(rows.take(3)); q.processAllAvailable()
      input.addData(rows.drop(3)); q.processAllAvailable()
      val got = spark.table("unbounded_out").as[IngestDoc].collect().sortBy(_.doc_id).toSeq
      // batch twin: exactDedup keepers over the same rows, first = min
      // (arrival, doc_id) per hash — docs 2 (beats 1 on arrival), 3, 5
      assert(got == Seq(rows(1), rows(2), rows(4)),
        s"got $got")
    } finally q.stop()
  }

  test("contaminationBloomInline: MemoryStream probe == batch bloom probe, same at-rest filter") {
    import graft.pipeline.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq(
      (100L, "alpha beta gamma delta"),
      (101L, "epsilon zeta eta theta iota")).toDF("doc_id", "text")
    // the filter is built ONCE (the at-rest artifact) and feeds BOTH faces
    val bf = TextAnalysis.evalShingleBloom(evalDocs, expectedShingles = 1000L)
    val rows = Seq(
      (1L, "alpha beta gamma delta trailing"), // leading eval shingles hit
      (2L, "totally unrelated clean words right here"),
      (3L, "xy"),                              // too short to shingle: zeros
      (4L, "epsilon zeta eta theta iota"))     // fully contaminated
    val want = TextAnalysis.contaminationBloomWith(rows.toDF("doc_id", "text"), bf)
      .collect().map(_.toSeq).toSet
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = TextAnalysis.contaminationBloomInline(input.toDF().toDF("doc_id", "text"), bf)
      .writeStream.format("memory").queryName("bloom_out").outputMode("append").start()
    try {
      input.addData(rows.take(2)); q.processAllAvailable()
      input.addData(rows.drop(2)); q.processAllAvailable()
      val got = spark.table("bloom_out").collect().map(_.toSeq).toSet
      assert(got == want, s"stream bloom probe != batch:\ngot  $got\nwant $want")
      // the one-sided contract on the stream face: truly contaminated
      // docs MUST hit fully (no false negatives); the short doc is zeros
      val byId = got.map(s => s.head -> s).toMap
      assert(byId(4L)(3) == 1000000L, "fully contaminated doc must read 1e6 ppm")
      assert(byId(3L) == Seq(3L, 0L, 0L, 0L))
    } finally q.stop()
  }

  test("chunkWithOverlap is streaming-legal: stateless splitter over a MemoryStream == batch") {
    import graft.pipeline.Packing
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, (1 to 10).map(i => s"tok$i").mkString(" ")),
      (2L, "short doc"),
      (3L, ""))
    val want = Packing.chunkWithOverlap(rows.toDF("doc_id", "text"), 4, 1)
      .collect().map(_.toSeq).toSet
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Packing.chunkWithOverlap(input.toDF().toDF("doc_id", "text"), 4, 1)
      .writeStream.format("memory").queryName("chunk_out").outputMode("append").start()
    try {
      input.addData(rows.take(1)); q.processAllAvailable()
      input.addData(rows.drop(1)); q.processAllAvailable()
      val got = spark.table("chunk_out").collect().map(_.toSeq).toSet
      assert(got == want, s"stream chunks != batch chunks:\ngot  $got\nwant $want")
    } finally q.stop()
  }

  test("sampledIngest: stream == batch classifier -> stratifiedByRate -> store-probe on the same feed") {
    import org.apache.spark.sql.functions.md5
    implicit val sqlCtx = spark.sqlContext
    val store = Seq("stored doc text").toDF("text").select(md5(col("text")).as("h"))
    val rates = Seq(("en", 700000L)).toDF("lang", "rate_ppm")
    val weights = Map("good" -> 500L, "bad" -> -900L)
    // rows spanning all four fates: classifier-rejected, sampled out
    // (de falls to the 100000 ppm default), store-dropped, emitted
    val rows = (1L to 60L).map { i =>
      val lang = if (i % 3 == 0) "de" else "en"
      val text =
        if (i % 5 == 0) "bad bad doc"
        else if (i % 7 == 0) "stored doc text"
        else s"good doc $i"
      (i, lang, text)
    }
    def pipeline(docs: org.apache.spark.sql.DataFrame) =
      StreamDedup.sampledIngest(docs, store, weights, rates, "lang", defaultPpm = 100000L)
    val want = pipeline(rows.toDF("doc_id", "lang", "text")).collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "fixture must emit rows")
    // the sample stage genuinely dropped classifier-kept fresh rows
    val keptFresh = rows.count { case (i, _, t) => !t.startsWith("bad") && !t.startsWith("stored") }
    assert(want.size < keptFresh, "sampling must drop some kept rows")

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = pipeline(input.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("sampled_ingest_out").outputMode("append").start()
    try {
      // adversarial micro-batch boundaries: deterministic hash sampling
      // must make the splits invisible (rand() sampling would not be)
      rows.grouped(7).foreach { g => input.addData(g); q.processAllAvailable() }
      val got = spark.table("sampled_ingest_out").collect().map(_.toSeq).toSet
      assert(got == want,
        s"stream != batch composition:\nonly-stream ${(got -- want).take(3)}\nonly-batch ${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("scoredIngest: classifier keep then store probe, enforced in one stateless composition") {
    implicit val sqlCtx = spark.sqlContext
    val store = Seq("good stored doc").toDF("text")
      .select(org.apache.spark.sql.functions.md5(col("text")).as("h"))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamDedup.scoredIngest(input.toDF().toDF("doc_id", "text"), store,
        Map("good" -> 300L, "bad" -> -500L), biasMilli = 10L)
      .writeStream.format("memory").queryName("ingest_out").outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, "good stored doc"),  // keeps the score bar but already in store
        (2L, "good fresh doc"),   // keeps and fresh -> emitted
        (3L, "bad bad bad")))     // classifier rejects before the probe
      q.processAllAvailable()
      val out = spark.table("ingest_out")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).toSeq
      assert(out.map(_._1) == Seq(2L))
      assert(out.head._2 == 110L) // 10 bias + 300 div 3
    } finally q.stop()
  }

  test("contaminationInline runs as a stateless streaming projection, equal to the batch probe") {
    import graft.pipeline.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val evalSet = TextAnalysis.evalShingleSet(eval)
    val rows = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "novel text entirely here"),
      (3L, "too short"))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = TextAnalysis.contaminationInline(input.toDF().toDF("doc_id", "text"), evalSet)
      .writeStream.format("memory").queryName("contam_out").outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("contam_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
      val batch = TextAnalysis.contamination(rows.toDF("doc_id", "text"), eval)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("tokenBudgetAdmit: MemoryStream == reference across adversarial micro-batch splits; state persists") {
    import StreamDedup.{AdmitDoc, AdmittedDoc}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    // feed: two budgeted strata + one unlisted; sizes that force both a
    // mid-batch exhaustion and an overflow-then-smaller-doc-fits admission
    val feed = (0L until 60L).map { i =>
      AdmitDoc(i, s"s${(i % 3).toInt}", rnd.nextInt(30).toLong, arrival = i)
    }
    val budgets = Map("s0" -> 120L, "s1" -> 45L) // s2 unlisted -> dropped
    val want = StreamDedup.admitReference(feed, budgets)
    assert(want.nonEmpty && want.size < feed.size, "fixture must exercise rejections")
    // the overflow-skip arm must actually occur in the fixture: some doc
    // rejected while a LATER doc of the same stratum is admitted
    val rejected = feed.filter(d => budgets.contains(d.stratum))
      .filterNot(d => want.exists(_.doc_id == d.doc_id))
    assert(rejected.exists(r => want.exists(a =>
        a.stratum == r.stratum && a.arrival > r.arrival)),
      "fixture must exercise reject-then-admit-smaller")

    // three adversarial chunkings, including one-row batches over the
    // exhaustion boundary
    Seq(Seq(60), Seq(7, 1, 1, 1, 20, 30), Seq(1) ++ Seq.fill(59)(1)).zipWithIndex
      .foreach { case (split, si) =>
        val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AdmitDoc]
        val name = s"admit_out_$si"
        val q = StreamDedup.tokenBudgetAdmit(input.toDS(), budgets)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          var rest = feed
          split.foreach { n =>
            val (chunk, tail) = rest.splitAt(n)
            rest = tail
            if (chunk.nonEmpty) { input.addData(chunk); q.processAllAvailable() }
          }
          if (rest.nonEmpty) { input.addData(rest); q.processAllAvailable() }
          val got = spark.table(name).as[AdmittedDoc].collect().sortBy(_.arrival).toSeq
          assert(got == want.sortBy(_.arrival),
            s"split $si: stream admission diverged from the reference")
        } finally q.stop()
      }
  }

  test("dedupUnbounded: state survives a query RESTART from its checkpoint — the exactly-once claim, exercised") {
    // the scaladoc claims state is "checkpointed with the query,
    // exactly-once across restarts"; this runs the actual restart: stop
    // the query, start a NEW query from the SAME checkpoint (same source
    // instance, Spark's own StreamTest restart discipline), and assert a
    // duplicate of PRE-restart content still drops — i.e. the keyed state
    // was reloaded from the checkpoint, not rebuilt empty
    import graft.streaming.StreamDedup.IngestDoc
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dedup_ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[IngestDoc]
    // foreachBatch sink: the memory sink refuses checkpoint recovery
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = StreamDedup.dedupUnbounded(input.toDS())
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[IngestDoc], _: Long) =>
        b.collect().foreach(d => emitted.add(d.doc_id)); ()
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(IngestDoc(1L, "alpha doc", 1L), IngestDoc(2L, "beta doc", 2L))
      q1.processAllAvailable()
      assert(emitted.size == 2)
    } finally q1.stop()
    emitted.clear()
    val q2 = start()
    try {
      input.addData(
        IngestDoc(3L, "alpha doc", 3L),  // dup of PRE-restart content
        IngestDoc(4L, "gamma doc", 4L))  // novel
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = emitted.asScala.toSeq.sorted
      assert(got == Seq(4L),
        s"restored state must still drop pre-restart duplicates, got $got")
    } finally q2.stop()
  }

  test("domainCapAdmit: first-cap arrivals kept per domain across batches; null domains uncapped; == reference across splits") {
    import graft.streaming.StreamDedup.{UrlDoc, CappedDoc, CappedDocKey}
    implicit val sqlCtx = spark.sqlContext
    // two real domains interleaved + unparseable provenance; arrival is
    // the ingest order
    val feed = Seq(
      UrlDoc(1L, "https://a.example.com/1", 1L),
      UrlDoc(2L, "https://b.example.org/1", 2L),
      UrlDoc(3L, "https://x.a.example.com/2", 3L),   // same registrable domain as 1
      UrlDoc(4L, "garbage", 4L),                     // null domain: uncapped
      UrlDoc(5L, "https://a.example.com/3", 5L),     // 3rd for example.com -> over cap 2
      UrlDoc(6L, "https://b.example.org/2", 6L),
      UrlDoc(7L, "https://b.example.org/3", 7L),     // over cap
      UrlDoc(8L, "not a url", 8L))
    val keyed = feed.map(d => CappedDocKey(d.doc_id,
      Seq(Tuple1(d.url)).toDF("url")
        .select(graft.pipeline.UrlOps.registrableDomain(col("url"))).head.getString(0),
      d.arrival))
    val want = StreamDedup.domainCapReference(keyed, cap = 2L).sortBy(_.arrival)
    // sanity on the fixture: docs 5 and 7 rejected, null domains kept
    assert(want.map(_.doc_id) == Seq(1L, 2L, 3L, 4L, 6L, 8L))
    Seq(Seq(3, 5), Seq(1, 1, 1, 1, 1, 1, 1, 1), Seq(8)).zipWithIndex.foreach { case (split, si) =>
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UrlDoc]
      val name = s"domcap_out_$si"
      val q = StreamDedup.domainCapAdmit(input.toDS(), cap = 2L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var rest = feed
        split.foreach { n =>
          val (chunk, tail) = rest.splitAt(n)
          rest = tail
          if (chunk.nonEmpty) { input.addData(chunk); q.processAllAvailable() }
        }
        val got = spark.table(name).as[CappedDoc].collect().sortBy(_.arrival).toSeq
        assert(got == want, s"split $si: streaming cap diverged from the reference\n$got\n$want")
      } finally q.stop()
    }
  }

  test("crawlAdmitStream: robots -> opt-out -> cap chained online == the axis-by-axis reference across splits") {
    import graft.streaming.StreamDedup.{UrlDoc, CappedDoc}
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(
      ("a.com", "/private", false), ("a.com", "/private/pub", true),
      ("c.com", "/", false)).toDF("host", "prefix", "allow")
    val optOut = Seq(Tuple1("b.com"), Tuple1("never-seen.org")).toDF("domain")
    val feed = Seq(
      UrlDoc(1L, "https://a.com/open/1", 1L),         // allowed, counted
      UrlDoc(2L, "https://a.com/private/x", 2L),      // robots-blocked
      UrlDoc(3L, "https://b.com/1", 3L),              // opted out
      UrlDoc(4L, "https://a.com/private/pub/y", 4L),  // allow exception, counted
      UrlDoc(5L, "https://c.com/anything", 5L),       // robots-blocked (disallow /)
      UrlDoc(6L, "https://a.com/open/2", 6L),         // 3rd a.com: over cap 2
      UrlDoc(7L, "garbage", 7L),                      // null domain: allowed, uncapped
      UrlDoc(8L, "https://a.com/open/3", 8L))         // over cap
    // axis-by-axis reference: robots decision (batch operator), opt-out
    // set, then first-cap-arrivals fold — a doc rejected earlier never
    // claims a domain slot
    val batchDecisions = graft.pipeline.Robots.robotsAllowed(
        feed.toDF("doc_id", "url", "arrival"), rules)
      .collect().map(r => (r.getLong(0), (Option(r.getString(1)), r.getBoolean(2)))).toMap
    val oo = Set("b.com", "never-seen.org")
    val cnt = scala.collection.mutable.Map.empty[String, Long]
    val want = feed.flatMap { d =>
      val (dom, ok) = batchDecisions(d.doc_id)
      if (!ok || dom.exists(oo.contains)) None
      else dom match {
        case None => Some(CappedDoc(d.doc_id, null, d.arrival, 0L))
        case Some(dm) =>
          val c = cnt.getOrElse(dm, 0L)
          if (c < 2L) { cnt(dm) = c + 1; Some(CappedDoc(d.doc_id, dm, d.arrival, c + 1)) }
          else None
      }
    }
    assert(want.map(_.doc_id) == Seq(1L, 4L, 7L), s"fixture sanity: $want")
    Seq(Seq(4, 4), Seq(1, 1, 1, 1, 1, 1, 1, 1), Seq(8)).zipWithIndex.foreach { case (split, si) =>
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UrlDoc]
      val name = s"crawladmit_out_$si"
      val q = StreamDedup.crawlAdmitStream(input.toDS(), rules, optOut, cap = 2L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var rest = feed
        split.foreach { n =>
          val (chunk, tail) = rest.splitAt(n)
          rest = tail
          if (chunk.nonEmpty) { input.addData(chunk); q.processAllAvailable() }
        }
        val got = spark.table(name).as[CappedDoc].collect().sortBy(_.arrival).toSeq
        assert(got == want, s"split $si: streaming crawl admission diverged\n$got\n$want")
      } finally q.stop()
    }
  }

  test("unbounded state kernels run under the RocksDB state-store provider (the cluster backend)") {
    // dedupUnbounded's scaladoc claims corpus-lifetime state is viable
    // because the store is disk-backed on a cluster; this spec RUNS both
    // NoTimeout kernels under RocksDBStateStoreProvider instead of the
    // default in-memory/HDFS provider and asserts identical semantics —
    // the claim is exercised, not just documented
    import graft.streaming.StreamDedup.{IngestDoc, AdmitDoc, AdmittedDoc}
    implicit val sqlCtx = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // dedupUnbounded: cross-batch duplicate drops, first occurrence wins
      val rows = Seq(
        IngestDoc(1L, "alpha doc", 10L),
        IngestDoc(2L, "alpha doc", 5L),
        IngestDoc(3L, "beta doc", 20L),
        IngestDoc(4L, "alpha doc", 99L),
        IngestDoc(5L, "beta doc", 40L))
      val in1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[IngestDoc]
      val q1 = StreamDedup.dedupUnbounded(in1.toDS())
        .writeStream.format("memory").queryName("rocks_dedup_out").outputMode("append").start()
      try {
        in1.addData(rows.take(3)); q1.processAllAvailable()
        in1.addData(rows.drop(3)); q1.processAllAvailable()
        val got = spark.table("rocks_dedup_out").as[IngestDoc].collect().sortBy(_.doc_id).toSeq
        assert(got == Seq(rows(1), rows(2)),
          s"RocksDB-backed dedup diverged from the default provider's semantics: $got")
        // the query's state store is actually RocksDB, not silently the
        // default: the provider registers rocksdb* custom metrics
        val pp = q1.lastProgress
        assert(pp != null && pp.stateOperators.nonEmpty, "state operator progress missing")
        import scala.jdk.CollectionConverters._
        assert(pp.stateOperators.head.customMetrics.keySet.asScala
            .exists(_.toLowerCase.contains("rocksdb")),
          s"expected rocksdb custom metrics, got ${pp.stateOperators.head.customMetrics.keySet}")
      } finally q1.stop()

      // tokenBudgetAdmit: cumulative per-stratum budget persists across batches
      val feed = Seq(
        AdmitDoc(1L, "en", 40L, 1L), AdmitDoc(2L, "en", 50L, 2L),
        AdmitDoc(3L, "en", 20L, 3L), AdmitDoc(4L, "zh", 70L, 4L),
        AdmitDoc(5L, "zh", 40L, 5L), AdmitDoc(6L, "xx", 10L, 6L))
      val budgets = Map("en" -> 100L, "zh" -> 100L)
      val want = StreamDedup.admitReference(feed, budgets)
      val in2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AdmitDoc]
      val q2 = StreamDedup.tokenBudgetAdmit(in2.toDS(), budgets)
        .writeStream.format("memory").queryName("rocks_admit_out").outputMode("append").start()
      try {
        in2.addData(feed.take(2)); q2.processAllAvailable()
        in2.addData(feed.drop(2)); q2.processAllAvailable()
        val got = spark.table("rocks_admit_out").as[AdmittedDoc].collect().sortBy(_.arrival).toSeq
        assert(got == want.sortBy(_.arrival),
          "RocksDB-backed admission diverged from the reference model")
      } finally q2.stop()

      // domainCapAdmit: the unbounded-key cap counter under the same provider
      import graft.streaming.StreamDedup.{UrlDoc, CappedDoc}
      val urls = Seq(
        UrlDoc(1L, "https://a.example.com/1", 1L),
        UrlDoc(2L, "https://a.example.com/2", 2L),
        UrlDoc(3L, "https://a.example.com/3", 3L))
      val in3 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UrlDoc]
      val q3 = StreamDedup.domainCapAdmit(in3.toDS(), cap = 2L)
        .writeStream.format("memory").queryName("rocks_domcap_out").outputMode("append").start()
      try {
        in3.addData(urls.take(2)); q3.processAllAvailable()
        in3.addData(urls.drop(2)); q3.processAllAvailable()
        val got = spark.table("rocks_domcap_out").as[CappedDoc].collect().map(_.doc_id).sorted.toSeq
        assert(got == Seq(1L, 2L), "RocksDB-backed domain cap must shut the door across batches")
      } finally q3.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("webIngestStream: composed extract -> URL dedup -> domain cap -> content dedup == reference across splits, under RocksDB") {
    import graft.streaming.StreamDedup.{WebDoc, WebIngestRow}
    implicit val sqlCtx = spark.sqlContext
    def page(t: String) = s"<html><body><nav><a href='/'>Home</a></nav><p>$t</p></body></html>"
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "a completely different body of content for the second page here"
    val tHot = (i: Int) => s"hot domain page number $i with enough characters to classify as content"
    val feed = Seq(
      WebDoc(1L, "https://a.com/page?b=2&a=1", page(t1), 1L),
      // byte-variant URL of doc 1's page: dies in the URL election
      WebDoc(2L, "HTTPS://A.com:443/page/?a=1&b=2#x", page(t2), 2L),
      // same CONTENT as doc 1 under a new URL (entity-escaped variant
      // extracts+normalizes to identical text): dies in the content election
      WebDoc(3L, "https://a.com/other", page(t1.replace("&", "&amp;")), 3L),
      // unparseable provenance: no URL key, no domain cap, unique text -> kept
      WebDoc(4L, "mailto:x@y.com", page(t2 + " mailed"), 4L),
      // hot domain, cap 2: docs 5,6 admitted, 7,8 capped out
      WebDoc(5L, "https://hot.com/1", page(tHot(1)), 5L),
      WebDoc(6L, "https://hot.com/2", page(tHot(2)), 6L),
      WebDoc(7L, "https://hot.com/3", page(tHot(3)), 7L),
      WebDoc(8L, "https://hot.com/4", page(tHot(4)), 8L),
      WebDoc(9L, "not a url", page("junk provenance but perfectly good unique content right here"), 9L),
      // doc 7 was REJECTED at the cap, so its content hash was never
      // consumed: the same content on a fresh domain must be KEPT - the
      // survivor-chaining contract (each election sees prior survivors)
      WebDoc(10L, "https://fresh.org/p", page(tHot(3)), 10L),
      // same canonical URL as capped-out doc 7: still a URL-dup (the URL
      // election is independent of later-stage rejections)
      WebDoc(11L, "https://hot.com/3?utm_source=feed", page("yet another distinct body of text long enough to keep"), 11L))

    // reference rows = the SAME stage-0 projection, computed batch-side
    val stage0 = graft.pipeline.MarkupExtract.extract(
        feed.toDF("doc_id", "url", "html", "arrival"), keep = Seq("url", "arrival"))
      .select(col("doc_id"),
        graft.pipeline.UrlOps.canonicalUrl(col("url")).as("canon_url"),
        graft.pipeline.UrlOps.registrableDomain(col("url")).as("domain"),
        col("arrival"),
        org.apache.spark.sql.functions.md5(
          graft.pipeline.TextAnalysis.normalizeExpr(col("text"))).as("content_md5"))
      .as[WebIngestRow].collect().toSeq
    val want = StreamDedup.webIngestReference(stage0, cap = 2L).sortBy(_.doc_id)
    // fixture sanity: the intended dispositions, stated explicitly
    assert(want.map(_.doc_id) == Seq(1L, 4L, 5L, 6L, 9L, 10L), s"fixture drifted: $want")
    // batch-linkage: arrival order == doc_id order here, so the stream's
    // URL election agrees with batch urlDedup's min-doc_id keepers
    val batchUrlKeepers = graft.pipeline.UrlOps.urlDedup(
        feed.toDF("doc_id", "url", "html", "arrival").select("doc_id", "url"))
      .where(col("is_keeper")).select("doc_id").as[Long].collect().toSet
    assert(want.map(_.doc_id).toSet.subsetOf(batchUrlKeepers),
      "every streaming survivor must be a batch URL-election keeper on this feed")

    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      Seq(Seq(3, 5, 3), Seq.fill(11)(1), Seq(11)).zipWithIndex.foreach { case (split, si) =>
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
        val name = s"web_ingest_out_$si"
        val q = StreamDedup.webIngestStream(in.toDS(), cap = 2L)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          var rest = feed
          split.foreach { n =>
            val (chunk, tail) = rest.splitAt(n)
            rest = tail
            if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
          }
          val got = spark.table(name).as[WebIngestRow].collect().sortBy(_.doc_id).toSeq
          assert(got == want,
            s"split $si: streaming ingest diverged from the reference\n$got\n$want")
        } finally q.stop()
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("webIngestStream with aliases: canonical/redirect collapse merges keys across micro-batches == reference") {
    import graft.streaming.StreamDedup.{WebDoc, WebIngestRow}
    implicit val sqlCtx = spark.sqlContext
    def page(t: String) = s"<html><body><p>$t</p></body></html>"
    val feed = Seq(
      // the canonical target itself, first
      WebDoc(1L, "https://origin.com/story", page("the original story body with plenty of characters here"), 1L),
      // a syndicated copy whose key ALIASES to the target (different
      // content bytes -> only the alias merges them), later batch
      WebDoc(2L, "https://mirror.net/story-copy", page("the mirrored story body re-rendered with different chrome"), 2L),
      // alias exists but terminal NULL (redirect cycle): keeps own key
      WebDoc(3L, "https://loop.example/p", page("cycle member content long enough to classify as real text"), 3L),
      // unlisted key: untouched by the remap
      WebDoc(4L, "https://other.io/q", page("unrelated page content that is long enough to pass extraction"), 4L))
    val aliases = Seq(
      ("https://mirror.net/story-copy", Some("https://origin.com/story")),
      ("https://loop.example/p", None)).toDF("src", "terminal")
    val stage0 = graft.pipeline.MarkupExtract.extract(
        feed.toDF("doc_id", "url", "html", "arrival"), keep = Seq("url", "arrival"))
      .select(col("doc_id"),
        graft.pipeline.UrlOps.canonicalUrl(col("url")).as("canon_url"),
        graft.pipeline.UrlOps.registrableDomain(col("url")).as("domain"),
        col("arrival"),
        org.apache.spark.sql.functions.md5(
          graft.pipeline.TextAnalysis.normalizeExpr(col("text"))).as("content_md5"))
      .as[WebIngestRow].collect().toSeq
    val want = StreamDedup.webIngestReference(stage0, cap = 10L,
      aliases = Map("https://mirror.net/story-copy" -> "https://origin.com/story")).sortBy(_.doc_id)
    // the alias is the ONLY thing deduping docs 1/2 (content differs)
    assert(want.map(_.doc_id) == Seq(1L, 3L, 4L), s"fixture drifted: $want")
    assert(want.find(_.doc_id == 1L).get.canon_url == "https://origin.com/story")
    for ((split, si) <- Seq(Seq(4), Seq(1, 1, 1, 1), Seq(2, 2)).zipWithIndex) {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
      val name = s"web_ingest_alias_out_$si"
      val q = StreamDedup.webIngestStream(in.toDS(), cap = 10L, aliases = Some(aliases))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var rest = feed
        split.foreach { n =>
          val (chunk, tail) = rest.splitAt(n)
          rest = tail
          if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
        }
        val got = spark.table(name).as[WebIngestRow].collect().sortBy(_.doc_id).toSeq
        assert(got == want, s"split $si: aliased ingest diverged\n$got\n$want")
      } finally q.stop()
    }
  }

  test("politeDispatchStream: per-host spacing == reference; idle hosts dispatch immediately; no credit accumulation") {
    import graft.streaming.StreamDedup.{DispatchReq, Dispatch}
    implicit val sqlCtx = spark.sqlContext
    val feed = Seq(
      // burst of 3 on slow.com (delay 1000): 100, 1100, 2100
      DispatchReq(1L, "https://slow.com/a", "slow.com", 100L, 1000L),
      DispatchReq(2L, "https://slow.com/b", "slow.com", 150L, 1000L),
      DispatchReq(3L, "https://slow.com/c", "slow.com", 160L, 1000L),
      // other host interleaves independently
      DispatchReq(4L, "https://fast.org/x", "fast.org", 200L, 10L),
      DispatchReq(5L, "https://fast.org/y", "fast.org", 201L, 10L),
      // NULL host: dispatches at arrival, no state
      DispatchReq(6L, "weird://q", null, 250L, 1000L),
      // after a LONG idle gap the host dispatches at arrival (no
      // accumulated credit), and the next request spaces from there
      DispatchReq(7L, "https://slow.com/d", "slow.com", 99999L, 1000L),
      DispatchReq(8L, "https://slow.com/e", "slow.com", 100000L, 1000L))
    val want = StreamDedup.politeDispatchReference(feed).sortBy(_.doc_id)
    assert(want.map(d => d.doc_id -> d.dispatch_ms).toMap == Map(
      1L -> 100L, 2L -> 1100L, 3L -> 2100L, 4L -> 200L, 5L -> 210L,
      6L -> 250L, 7L -> 99999L, 8L -> 100999L), s"reference drifted: $want")
    for ((split, si) <- Seq(Seq(8), Seq(3, 3, 2), Seq(1, 1, 1, 1, 1, 1, 1, 1)).zipWithIndex) {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DispatchReq]
      val name = s"dispatch_out_$si"
      // stateTtlMs = 0 (NoTimeout) lets processAllAvailable quiesce —
      // the MonotonicGateSpec convention; the TTL arm has its own test
      val q = StreamDedup.politeDispatchStream(in.toDS(), stateTtlMs = 0L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var rest = feed
        split.foreach { n =>
          val (chunk, tail) = rest.splitAt(n)
          rest = tail
          if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
        }
        val got = spark.table(name).as[Dispatch].collect().sortBy(_.doc_id).toSeq
        assert(got == want, s"split $si: dispatcher diverged\n$got\n$want")
      } finally q.stop()
    }
  }

  test("priorityDispatchStream: one window == batch fetchScheduleByPriority; across windows arrival wins (pinned divergence)") {
    import graft.streaming.StreamDedup.{PrioDispatchReq, Dispatch}
    implicit val sqlCtx = spark.sqlContext
    // one arrival instant per host — the batch-equivalence precondition
    val feed = Seq(
      PrioDispatchReq(1L, "https://a.com/x", "a.com", 500L, 100L, Some(100000L)),
      PrioDispatchReq(2L, "https://a.com/y", "a.com", 500L, 100L, Some(900000L)),
      PrioDispatchReq(3L, "https://a.com/z", "a.com", 500L, 100L, Some(1900000L)),
      PrioDispatchReq(4L, "https://a.com/q", "a.com", 500L, 100L, None), // NULL sorts last
      PrioDispatchReq(5L, "https://b.org/w", "b.org", 500L, 250L, Some(150000L)),
      PrioDispatchReq(6L, "weird", null, 500L, 100L, Some(5L))) // NULL host: at arrival
    // the batch twin's plan on the same candidates: url -> not_before_ms
    val batchNb = graft.pipeline.Frontier.fetchScheduleByPriority(
        feed.map(r => (Option(r.host), r.url, r.priority)).toDF("host", "url", "priority"),
        Seq(("a.com", 100L), ("b.org", 250L)).toDF("host", "delay_ms"),
        maxPerHost = 10)
      .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    def run(split: Seq[Int], si: Int): Map[String, Long] = {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[PrioDispatchReq]
      val name = s"prio_dispatch_out_$si"
      val q = StreamDedup.priorityDispatchStream(in.toDS(), stateTtlMs = 0L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var rest = feed
        split.foreach { n =>
          val (chunk, tail) = rest.splitAt(n)
          rest = tail
          if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
        }
        spark.table(name).as[Dispatch].collect().map(d => d.url -> d.dispatch_ms).toMap
      } finally q.stop()
    }
    // ONE window: the stream schedule IS the batch plan — dispatch at
    // arrival + not_before_ms, per-host order = slot order
    val one = run(Seq(6), 0)
    assert(one == batchNb.map { case (u, nb) => u -> (500L + nb) },
      s"single-window stream diverged from the batch plan\n$one\n$batchNb")
    assert(one == Map(
      "https://a.com/z" -> 500L, "https://a.com/y" -> 600L,
      "https://a.com/x" -> 700L, "https://a.com/q" -> 800L,
      "https://b.org/w" -> 500L, "weird" -> 500L), one.toString)
    // ACROSS windows arrival wins — the pinned divergence contract: the
    // dispatcher cannot un-dispatch an earlier window, so low-priority
    // x (window 1) now precedes high-priority z (window 2)
    val split = run(Seq(2, 4), 1)
    assert(split == Map(
      "https://a.com/y" -> 500L, "https://a.com/x" -> 600L, // window 1: y beats x
      "https://a.com/z" -> 700L, "https://a.com/q" -> 800L, // window 2 spaces after
      "https://b.org/w" -> 500L, "weird" -> 500L), split.toString)
    // politeness spacing survives any split: consecutive a.com
    // dispatches stay >= delay apart
    val aDispatches = split.collect { case (u, d) if u.contains("a.com") => d }.toSeq.sorted
    assert(aDispatches.zip(aDispatches.tail).forall { case (p, n) => n - p >= 100L })
    // FULL tie (same url, same priority in one window — a recrawl and a
    // discovery scored by the same table) orders by (arrival, doc_id),
    // never by partition-dependent iterator order
    val tie = Seq(
      PrioDispatchReq(10L, "https://c.io/same", "c.io", 500L, 100L, Some(7L)),
      PrioDispatchReq(9L, "https://c.io/same", "c.io", 500L, 100L, Some(7L)))
    val in2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[PrioDispatchReq]
    val q2 = StreamDedup.priorityDispatchStream(in2.toDS(), stateTtlMs = 0L)
      .writeStream.format("memory").queryName("prio_tie_out").outputMode("append").start()
    try {
      in2.addData(tie); q2.processAllAvailable()
      val got = spark.table("prio_tie_out").as[Dispatch].collect()
        .map(d => d.doc_id -> d.dispatch_ms).toMap
      assert(got == Map(9L -> 500L, 10L -> 600L), got.toString)
    } finally q2.stop()
  }

  test("frontierDispatchStream with priorities: the batch frontier score drives online slot order; absent urls sort last") {
    import graft.streaming.StreamDedup.{WebDoc, Dispatch}
    implicit val sqlCtx = spark.sqlContext
    def page(links: String*) =
      s"""<html><body>${links.map(l => s"""<a href="$l">x</a>""").mkString}</body></html>"""
    // ONE page discovers three slow.com targets in ONE window: the
    // priorities table must invert the plain form's url-order tiebreak
    val feed = Seq(WebDoc(1L, "https://slow.com/p1", page("/a1", "/a2", "/a3"), 100L))
    val crawled = Seq(Tuple1("https://slow.com/old")).toDF("url")
    val budgets = Seq(("slow.com", 5000L)).toDF("host", "delay_ms")
    val pr = Seq( // duplicate /a2 rows fold to max at the boundary
      ("https://slow.com/a1", 10L),
      ("https://slow.com/a2", 999L),
      ("https://slow.com/a2", 5L)).toDF("url", "priority") // /a3 absent -> NULL, last
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
    val q = StreamDedup.frontierDispatchStream(in.toDS(), crawled, budgets,
        stateTtlMs = 0L, priorities = Some(pr))
      .writeStream.format("memory").queryName("frontier_prio_out").outputMode("append").start()
    try {
      in.addData(feed); q.processAllAvailable()
      val got = spark.table("frontier_prio_out").as[Dispatch].collect()
        .map(d => d.url -> d.dispatch_ms).toMap
      assert(got == Map(
        "https://slow.com/a2" -> 100L,   // 999 wins the window
        "https://slow.com/a1" -> 5100L,
        "https://slow.com/a3" -> 10100L  // unscored: last
      ), got.toString)
    } finally q.stop()
  }

  test("templateCapAdmit: per-(host, template) admission caps across batches; other templates/hosts and null hosts unaffected (RocksDB)") {
    import graft.streaming.StreamDedup.FrontierCand
    implicit val sqlCtx = spark.sqlContext
    val feed = Seq(
      FrontierCand("https://a.com/cal/1", "a.com", 1L, 10L),
      FrontierCand("https://a.com/cal/2", "a.com", 1L, 11L),
      FrontierCand("https://a.com/cal/3", "a.com", 2L, 12L), // over the /cal/N cap
      FrontierCand("https://a.com/about", "a.com", 2L, 13L), // its own template
      FrontierCand("https://b.org/cal/7", "b.org", 3L, 14L), // other host's own budget
      FrontierCand("weird", null, 4L, 15L),                  // null host: uncapped
      FrontierCand("https://a.com/cal/9", "a.com", 5L, 16L)) // still over cap
    val want = Set("https://a.com/cal/1", "https://a.com/cal/2",
      "https://a.com/about", "https://b.org/cal/7", "weird")
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      Seq(Seq(7), Seq.fill(7)(1), Seq(3, 2, 2)).zipWithIndex.foreach { case (split, si) =>
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[FrontierCand]
        val name = s"tpl_cap_out_$si"
        val q = StreamDedup.templateCapAdmit(in.toDS(), cap = 2L)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          var rest = feed
          split.foreach { n =>
            val (chunk, tail) = rest.splitAt(n)
            rest = tail
            if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
          }
          val got = spark.table(name).as[FrontierCand].collect().map(_.url).toSet
          assert(got == want, s"split $si: $got")
        } finally q.stop()
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("templateCapAdmit checkpoint: admissions identical across the compaction boundary; saturated keys reject scan-side, partial keys rehydrate (RocksDB)") {
    import graft.streaming.StreamDedup.FrontierCand
    implicit val sqlCtx = spark.sqlContext
    // first half: /cal/N SATURATES at cap 2 (row 3 already rejected),
    // /p/N admits 1 of 2; second half: more /cal/N (must reject via the
    // broadcast checkpoint with NO state), one /p/N (rehydrated count 1
    // -> admitted, reaching the cap), one more /p/N (over), a fresh
    // template, and a null host (uncapped)
    val half1 = Seq(
      FrontierCand("https://a.com/cal/1", "a.com", 1L, 10L),
      FrontierCand("https://a.com/cal/2", "a.com", 1L, 11L),
      FrontierCand("https://a.com/cal/3", "a.com", 2L, 12L),
      FrontierCand("https://a.com/p/1", "a.com", 2L, 13L))
    val half2 = Seq(
      FrontierCand("https://a.com/cal/4", "a.com", 3L, 14L),
      FrontierCand("https://a.com/p/2", "a.com", 3L, 15L),
      FrontierCand("https://a.com/p/3", "a.com", 4L, 16L),
      FrontierCand("https://b.org/cal/7", "b.org", 4L, 17L),
      FrontierCand("weird", null, 5L, 18L))
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(name: String, feed: Seq[FrontierCand],
              ckpt: Option[org.apache.spark.sql.DataFrame]): Set[String] = {
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[FrontierCand]
        val q = StreamDedup.templateCapAdmit(in.toDS(), cap = 2L, checkpoint = ckpt)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          in.addData(feed); q.processAllAvailable()
          spark.table(name).as[FrontierCand].collect().map(_.url).toSet
        } finally q.stop()
      }
      // the uninterrupted truth
      val continuous = run("tpl_ck_cont", half1 ++ half2, None)
      // the compacted restart: fold half 1's admission log, start a
      // FRESH query (fresh engine state) over half 2 with the fold
      val a1 = run("tpl_ck_h1", half1, None)
      val hostByUrl = half1.map(c => c.url -> c.host).toMap
      val ckpt = StreamDedup.templateAdmitCheckpoint(
        a1.toSeq.map(u => (u, hostByUrl(u))).toDF("url", "host"))
      val a2 = run("tpl_ck_h2", half2, Some(ckpt))
      assert(a1 ++ a2 == continuous,
        s"compaction boundary diverged:\ncontinuous=$continuous\nsplit=${a1 ++ a2}")
      // the boundary's specific claims: the saturated /cal/N template
      // admitted nothing in half 2 (rejected scan-side); /p/N admitted
      // exactly its remaining budget of 1
      assert(a2 == Set("https://a.com/p/2", "https://b.org/cal/7", "weird"),
        s"half-2 admissions: $a2")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("politeDispatchStream TTL: eviction after busy window + TTL is decision-identical on a monotone feed; the reaper provably fires (RocksDB)") {
    import graft.streaming.StreamDedup.{DispatchReq, Dispatch}
    implicit val sqlCtx = spark.sqlContext
    // slow.com's burst pushes next_free to 400 (busy window 240 ms past
    // its last arrival); the fast.org batch runs after that window + TTL
    // of PROCESSING time, so it fires slow.com's reaper
    val b1 = Seq(
      DispatchReq(1L, "https://slow.com/a", "slow.com", 100L, 100L),
      DispatchReq(2L, "https://slow.com/b", "slow.com", 150L, 100L),
      DispatchReq(3L, "https://slow.com/c", "slow.com", 160L, 100L))
    val b2 = Seq(DispatchReq(4L, "https://fast.org/x", "fast.org", 5000L, 10L))
    // b3 replays a STALE arrival (150, inside the old busy window) plus
    // two fresh ones: the stale row is the eviction witness — a kept
    // slot gates it to 400, an evicted slot lets it go at arrival
    val b3 = Seq(
      DispatchReq(7L, "https://slow.com/old", "slow.com", 150L, 100L),
      DispatchReq(5L, "https://slow.com/d", "slow.com", 99999L, 100L),
      DispatchReq(6L, "https://slow.com/e", "slow.com", 100000L, 100L))
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      for ((ttl, doc7) <- Seq((1L, 150L), (0L, 400L))) {
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DispatchReq]
        val name = s"dispatch_ttl_$ttl"
        val q = StreamDedup.politeDispatchStream(in.toDS(), stateTtlMs = ttl)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        // with the reaper on, micro-batches run continuously to evaluate
        // timeouts and processAllAvailable never quiesces — poll the sink
        def await(n: Int): Unit =
          if (ttl > 0) {
            val deadline = System.currentTimeMillis + 120000L
            while (spark.table(name).count() < n &&
              System.currentTimeMillis < deadline) Thread.sleep(50L)
            assert(spark.table(name).count() >= n, s"sink stuck below $n rows")
          } else q.processAllAvailable()
        try {
          in.addData(b1); await(3)
          if (ttl > 0) Thread.sleep(800L) // > busy window (240 ms) + TTL
          in.addData(b2); await(4)
          in.addData(b3); await(7)
          val got = spark.table(name).as[Dispatch].collect()
            .map(d => d.doc_id -> d.dispatch_ms).toMap
          // the monotone rows decide identically with and without the
          // reaper; only the stale replay distinguishes the two
          assert(got == Map(1L -> 100L, 2L -> 200L, 3L -> 300L, 4L -> 5000L,
            7L -> doc7, 5L -> 99999L, 6L -> 100099L),
            s"ttl=$ttl: diverged, got $got")
        } finally q.stop()
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("discoverFrontierStream: online link discovery — crawled targets drop, re-discoveries emit once, first discoverer wins") {
    import graft.streaming.StreamDedup.{WebDoc, FrontierCand}
    implicit val sqlCtx = spark.sqlContext
    def page(links: String*) =
      s"""<html><body>${links.map(l => s"""<a href="$l">x</a>""").mkString}</body></html>"""
    val feed = Seq(
      // doc 1 discovers two targets, one of which is ALREADY CRAWLED
      WebDoc(1L, "https://a.com/p1", page("/new1", "https://a.com/crawled"), 1L),
      // doc 2 re-discovers /new1 (cross-batch duplicate) + a relative link
      WebDoc(2L, "https://b.org/p2", page("https://a.com/new1", "sub/x"), 2L),
      // doc 3: unresolvable base -> relative drops, absolute survives
      WebDoc(3L, "mailto:x@y.com", page("/lost", "https://c.net/found"), 3L))
    val crawled = Seq(Tuple1("https://a.com/crawled")).toDF("url")
    val want = StreamDedup.discoverFrontierReference(
      Seq(
        FrontierCand("https://a.com/new1", "a.com", 1L, 1L),
        FrontierCand("https://a.com/crawled", "a.com", 1L, 1L),
        FrontierCand("https://a.com/new1", "a.com", 2L, 2L),
        FrontierCand("https://b.org/sub/x", "b.org", 2L, 2L),
        FrontierCand("https://c.net/found", "c.net", 3L, 3L)),
      Set("https://a.com/crawled")).sortBy(_.url)
    assert(want.map(_.url) ==
      Seq("https://a.com/new1", "https://b.org/sub/x", "https://c.net/found"))
    assert(want.find(_.url == "https://a.com/new1").get.doc_id == 1L, "first discoverer wins")
    for ((split, si) <- Seq(Seq(3), Seq(1, 1, 1), Seq(2, 1)).zipWithIndex) {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
      val name = s"frontier_out_$si"
      val q = StreamDedup.discoverFrontierStream(in.toDS(), crawled)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var rest = feed
        split.foreach { n =>
          val (chunk, tail) = rest.splitAt(n)
          rest = tail
          if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
        }
        val got = spark.table(name).as[FrontierCand].collect().sortBy(_.url).toSeq
        assert(got == want, s"split $si: online discovery diverged\n$got\n$want")
      } finally q.stop()
    }
  }

  test("discoverFrontierStream discoveredStore: restart emissions == uninterrupted; prior discoveries neither re-emit nor re-mint state (RocksDB)") {
    import graft.streaming.StreamDedup.{WebDoc, FrontierCand}
    implicit val sqlCtx = spark.sqlContext
    def page(links: String*) =
      s"""<html><body>${links.map(l => s"""<a href="$l">x</a>""").mkString}</body></html>"""
    val half1 = Seq(
      WebDoc(1L, "https://a.com/p1", page("/new1", "/new2"), 1L))
    val half2 = Seq(
      // re-discovers BOTH half-1 targets (must not re-emit after the
      // restart — the store, not engine state, suppresses them) plus a
      // fresh one, re-discovered again within the run (engine state)
      WebDoc(2L, "https://b.org/p2", page("https://a.com/new1", "/fresh"), 2L),
      WebDoc(3L, "https://c.net/p3", page("https://a.com/new2", "https://b.org/fresh"), 3L))
    val crawled = Seq(Tuple1("https://x.test/none")).toDF("url")
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(name: String, feed: Seq[WebDoc],
              store: Option[org.apache.spark.sql.DataFrame]): Seq[FrontierCand] = {
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
        val q = StreamDedup.discoverFrontierStream(in.toDS(), crawled, store)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          in.addData(feed); q.processAllAvailable()
          spark.table(name).as[FrontierCand].collect().toSeq
        } finally q.stop()
      }
      val continuous = run("disc_store_cont", half1 ++ half2, None)
      val e1 = run("disc_store_h1", half1, None)
      val store = e1.map(c => Tuple1(c.url)).toDF("url")
      val e2 = run("disc_store_h2", half2, Some(store))
      assert((e1 ++ e2).sortBy(_.url) == continuous.sortBy(_.url),
        s"restart boundary diverged:\ncontinuous=$continuous\nsplit=${e1 ++ e2}")
      assert(e2.map(u => (u.url, u.doc_id)) == Seq(("https://b.org/fresh", 2L)),
        s"half-2 emissions (one fresh target, first discoverer): $e2")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("frontierDispatchStream: discovery chained into polite dispatch == composed reference across splits") {
    import graft.streaming.StreamDedup.{WebDoc, DispatchReq, Dispatch, FrontierCand}
    implicit val sqlCtx = spark.sqlContext
    def page(links: String*) =
      s"""<html><body>${links.map(l => s"""<a href="$l">x</a>""").mkString}</body></html>"""
    val feed = Seq(
      // doc 1 discovers TWO slow.com targets at once: the dispatcher
      // must space them delay apart (url tiebreak orders /a1 first)
      WebDoc(1L, "https://slow.com/p1", page("/a1", "/a2", "https://slow.com/crawled"), 100L),
      // doc 2 re-discovers /a1 (no new slot consumed) + a fresh host
      WebDoc(2L, "https://hub.net/p2", page("https://slow.com/a1", "https://fast.org/z"), 200L))
    val crawled = Seq(Tuple1("https://slow.com/crawled")).toDF("url")
    val budgets = Seq(("slow.com", 5000L)).toDF("host", "delay_ms")
    val cands = StreamDedup.discoverFrontierReference(
      Seq(
        FrontierCand("https://slow.com/a1", "slow.com", 1L, 100L),
        FrontierCand("https://slow.com/a2", "slow.com", 1L, 100L),
        FrontierCand("https://slow.com/crawled", "slow.com", 1L, 100L),
        FrontierCand("https://slow.com/a1", "slow.com", 2L, 200L),
        FrontierCand("https://fast.org/z", "fast.org", 2L, 200L)),
      Set("https://slow.com/crawled"))
    val want = StreamDedup.politeDispatchReference(cands.map(c =>
        DispatchReq(c.doc_id, c.url, c.host, c.arrival,
          if (c.host == "slow.com") 5000L else 1000L)))
      .sortBy(_.url)
    assert(want.map(d => d.url -> d.dispatch_ms).toMap == Map(
      "https://slow.com/a1" -> 100L, "https://slow.com/a2" -> 5100L,
      "https://fast.org/z" -> 200L), s"reference drifted: $want")
    for ((split, si) <- Seq(Seq(2), Seq(1, 1)).zipWithIndex) {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
      val name = s"frontier_dispatch_out_$si"
      val q = StreamDedup.frontierDispatchStream(in.toDS(), crawled, budgets,
          stateTtlMs = 0L) // NoTimeout: lets processAllAvailable quiesce
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var rest = feed
        split.foreach { n =>
          val (chunk, tail) = rest.splitAt(n)
          rest = tail
          if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
        }
        val got = spark.table(name).as[Dispatch].collect().sortBy(_.url).toSeq
        assert(got == want, s"split $si: composed loop diverged\n$got\n$want")
      } finally q.stop()
    }
  }

  test("crawlIngestStream: governance -> ingest chained online; rejected docs consume nothing downstream") {
    import graft.streaming.StreamDedup.{WebDoc, WebIngestRow}
    implicit val sqlCtx = spark.sqlContext
    def page(t: String) = s"<html><body><p>$t</p></body></html>"
    val rules = Seq(("a.com", "/private", false), ("a.com", "/private/pub", true))
      .toDF("host", "prefix", "allow")
    val optOut = Seq(Tuple1("banned.org")).toDF("domain")
    val tShared = "this body of content is long enough to classify as real page text"
    val tOther = "a different body of content also long enough to classify as text"
    val feed = Seq(
      // robots-blocked fetch of /private/x: must claim NO url slot and
      // NO content hash...
      WebDoc(1L, "https://a.com/private/x", page(tShared), 1L),
      // ...so the LAWFUL fetch of the byte-variant URL with the SAME
      // content survives both elections
      WebDoc(2L, "https://a.com/open?utm_source=f", page(tShared), 2L),
      // a URL-duplicate of doc 1's blocked target, also blocked (robots
      // applies per fetch, not per first-seen URL)
      WebDoc(3L, "https://a.com/private/x?b=1", page(tOther), 3L),
      // allow-exception path under the disallowed prefix: admitted
      WebDoc(4L, "https://a.com/private/pub/y", page(tOther), 4L),
      // opted-out domain: claims no domain slot, no content hash
      WebDoc(5L, "https://banned.org/1", page(tOther + " banned"), 5L),
      // same content as the opted-out doc on a lawful domain: kept
      WebDoc(6L, "https://c.com/1", page(tOther + " banned"), 6L),
      // cap 2 on c.com: 6 and 7 admitted, 8 capped out
      WebDoc(7L, "https://c.com/2", page("more unique content for the second c page here"), 7L),
      WebDoc(8L, "https://c.com/3", page("and a third unique body that the cap must reject"), 8L))

    // axis-by-axis reference: batch robots + opt-out gate, then the
    // webIngestReference fold over the gate's survivors
    val allowedIds = graft.pipeline.Robots.robotsAllowed(
        feed.toDF("doc_id", "url", "html", "arrival"), rules)
      .where(col("allowed")).select("doc_id").as[Long].collect().toSet
    val ooIds = graft.pipeline.UrlOps.domainOptOut(
        feed.toDF("doc_id", "url", "html", "arrival"), optOut)
      .select("doc_id").as[Long].collect().toSet
    val gated = feed.filter(d => allowedIds(d.doc_id) && !ooIds(d.doc_id))
    val stage0 = graft.pipeline.MarkupExtract.extract(
        gated.toDF("doc_id", "url", "html", "arrival"), keep = Seq("url", "arrival"))
      .select(col("doc_id"),
        graft.pipeline.UrlOps.canonicalUrl(col("url")).as("canon_url"),
        graft.pipeline.UrlOps.registrableDomain(col("url")).as("domain"),
        col("arrival"),
        org.apache.spark.sql.functions.md5(
          graft.pipeline.TextAnalysis.normalizeExpr(col("text"))).as("content_md5"))
      .as[WebIngestRow].collect().toSeq
    val want = StreamDedup.webIngestReference(stage0, cap = 2L).sortBy(_.doc_id)
    // the dispositions, stated: blocked 1 and 3 shadow nothing (2 keeps
    // tShared, 4 keeps its URL), opted-out 5 shadows nothing (6 keeps
    // the content), cap drops 8
    assert(want.map(_.doc_id) == Seq(2L, 4L, 6L, 7L), s"fixture drifted: $want")

    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      Seq(Seq(2, 4, 2), Seq.fill(8)(1), Seq(8)).zipWithIndex.foreach { case (split, si) =>
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
        val name = s"crawl_ingest_out_$si"
        val q = StreamDedup.crawlIngestStream(in.toDS(), rules, optOut, cap = 2L)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          var rest = feed
          split.foreach { n =>
            val (chunk, tail) = rest.splitAt(n)
            rest = tail
            if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
          }
          val got = spark.table(name).as[WebIngestRow].collect().sortBy(_.doc_id).toSeq
          assert(got == want,
            s"split $si: composed governance+ingest diverged\n$got\n$want")
        } finally q.stop()
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("crawlIngestStream with budgets: per-host politeness admission == crawlBudgetKept; day windows reset; rejections consume nothing") {
    import graft.streaming.StreamDedup.{WebDoc, WebIngestRow}
    implicit val sqlCtx = spark.sqlContext
    def page(t: String) = s"<html><body><p>$t</p></body></html>"
    val rules = Seq(("polite.com", "/private", false)).toDF("host", "prefix", "allow")
    val optOut = Seq(Tuple1("banned.org")).toDF("domain")
    val budgets = Seq(("polite.com", 2L)).toDF("host", "daily_budget")
    def body(k: Char) = s"unique page body $k$k$k long enough to classify as real content"
    val day1 = 86400000L
    val feed = Seq(
      WebDoc(1L, "https://polite.com/a", page(body('a')), 10L),   // budget 1/2
      // robots-blocked: must consume NO budget (doc 3 still fits)
      WebDoc(2L, "https://polite.com/private/x", page(body('b')), 20L),
      WebDoc(3L, "https://polite.com/b", page(body('c')), 30L),   // budget 2/2
      // over budget: rejected, and its CONTENT must stay unconsumed...
      WebDoc(4L, "https://polite.com/c", page(body('d')), 40L),
      // ...so the same content on a budget-less host is kept
      WebDoc(5L, "https://free.com/1", page(body('d')), 50L),
      WebDoc(6L, "not a url", page(body('f')), 60L),              // NULL host: uncapped
      WebDoc(7L, "https://banned.org/x", page(body('g')), 70L),   // opted out pre-budget
      // day 1: the window resets and polite.com admits again
      WebDoc(8L, "https://polite.com/d", page(body('h')), day1 + 10L))

    // reference, axis by axis: batch robots + opt-out gate, then the
    // BATCH budget twin over the gate's survivors, then the ingest fold
    val allowedIds = graft.pipeline.Robots.robotsAllowed(
        feed.toDF("doc_id", "url", "html", "arrival"), rules)
      .where(col("allowed")).select("doc_id").as[Long].collect().toSet
    val ooIds = graft.pipeline.UrlOps.domainOptOut(
        feed.toDF("doc_id", "url", "html", "arrival"), optOut)
      .select("doc_id").as[Long].collect().toSet
    val gated = feed.filter(d => allowedIds(d.doc_id) && !ooIds(d.doc_id))
    val budgetKeptIds = graft.pipeline.Robots.crawlBudgetKept(
        gated.toDF("doc_id", "url", "html", "arrival"), budgets, tsCol = "arrival")
      .where(col("kept")).select("doc_id").as[Long].collect().toSet
    assert(budgetKeptIds == Set(1L, 3L, 5L, 6L, 8L), s"batch twin drifted: $budgetKeptIds")
    val surv = gated.filter(d => budgetKeptIds(d.doc_id))
    val stage0 = graft.pipeline.MarkupExtract.extract(
        surv.toDF("doc_id", "url", "html", "arrival"), keep = Seq("url", "arrival"))
      .select(col("doc_id"),
        graft.pipeline.UrlOps.canonicalUrl(col("url")).as("canon_url"),
        graft.pipeline.UrlOps.registrableDomain(col("url")).as("domain"),
        col("arrival"),
        org.apache.spark.sql.functions.md5(
          graft.pipeline.TextAnalysis.normalizeExpr(col("text"))).as("content_md5"))
      .as[WebIngestRow].collect().toSeq
    val want = StreamDedup.webIngestReference(stage0, cap = 3L).sortBy(_.doc_id)
    assert(want.map(_.doc_id) == Seq(1L, 3L, 5L, 6L, 8L), s"fixture drifted: $want")

    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      Seq(Seq(2, 4, 2), Seq.fill(8)(1), Seq(8)).zipWithIndex.foreach { case (split, si) =>
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
        val name = s"crawl_budget_out_$si"
        val q = StreamDedup.crawlIngestStream(in.toDS(), rules, optOut, cap = 3L,
            budgets = Some(budgets))
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          var rest = feed
          split.foreach { n =>
            val (chunk, tail) = rest.splitAt(n)
            rest = tail
            if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
          }
          val got = spark.table(name).as[WebIngestRow].collect().sortBy(_.doc_id).toSeq
          assert(got == want,
            s"split $si: budget-composed chain diverged\n$got\n$want")
        } finally q.stop()
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("phashStoreMatches is streaming-legal: MemoryStream probe == batch on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val h1 = 0x0123456789ABCDEFL
    val store = Seq((10L, 100L, h1), (11L, 200L, 0x5555AAAA5555AAAAL))
      .toDF("store_id", "cluster_id", "dhash").persist()
    val probes = Seq((1L, h1 ^ 3L), (2L, ~h1), (3L, 0x5555AAAA5555AAABL))
    val want = graft.pipeline.ImageHash.phashStoreMatches(
        probes.toDF("media_id", "dhash"), store, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(want == Set((1L, 10L, 100L, 2L), (3L, 11L, 200L, 1L)), s"batch fixture drifted: $want")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = graft.pipeline.ImageHash.phashStoreMatches(
        in.toDF().toDF("media_id", "dhash"), store, maxDist = 3)
      .writeStream.format("memory").queryName("phash_probe_out").outputMode("append").start()
    try {
      in.addData(probes.take(1)); q.processAllAvailable()
      in.addData(probes.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("phash_probe_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"stream diverged from batch: $got vs $want")
    store.unpersist()
  }
}
