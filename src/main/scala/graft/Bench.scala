package graft
/** Driver bench: best-of-4 round-robin wall time per declared query, full
  * output through the noop sink, after staging every at-rest artifact
  * outside the timed region.
  *
  * Usage: runMain graft.Bench [q1,q2,...]   (default: all queries)
  * Data dir: $SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.selectQueries(args.headOption)
    val cpus = LocalSession.envCpus
    val spark = LocalSession(cpus)
    // the timed action: write the full output to the noop sink. count()
    // lets Catalyst prune every projected column, and with it the compute
    // under test; this is the action perfbench's Trace.runFull times too.
    def run(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    // Warm-up: run every query once at the smallest SF so JIT/codegen and
    // expression-interpreter compilation aren't charged to the timed run
    // (first execution of the md5/minhash HOF plans is ~10x slower until C2
    // kicks in). Timed queries then measure steady-state throughput.
    val warmDir = "/root/testdata/sf0.001"
    names.foreach(n => try run(n, warmDir) catch { case _: Throwable => () })
    // Stage the shingle substrate for the benched corpus OUTSIDE the timed
    // region, reporting its one-time cost as its own metric: it is paid once
    // per corpus in production, so charging it to the first consumer's first
    // rep would misattribute a full corpus scan+write to that query.
    val tStage = System.nanoTime()
    // per-artifact attribution (staging_detail in the detail line): the
    // aggregate alone is ~half the bench wall and lets cost park there
    // invisibly; the map names which at-rest artifact moved
    val (stagingSec, stagingDetail) =
      try {
        val detail = graft.pipeline.PipelineQueries.stageAllDetail(spark, sfDir)
        ((System.nanoTime() - tStage) / 1e9, detail)
      } catch { case _: Throwable => (-1.0, Seq.empty[(String, Double)]) }
    // best-of-N with ROUND-ROBIN reps (rep 1 of every query, then rep 2,
    // ...): the host shows bursty contention lasting tens of seconds, long
    // enough to poison all back-to-back reps of one query (r4 recorded a
    // 16 s minimum for a query that measures 1.4 s on a quiet host).
    // Spreading each query's reps across the whole bench window means a
    // burst inflates at most one rep per query, and the min stays faithful.
    val reps = 4
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    (1 to reps).foreach { _ =>
      // one GC per rep ROUND (not per rep — 4 pauses total, not 600):
      // ContextCleaner unloads broadcast/cache blocks only after their
      // driver refs are COLLECTED, so without this the hundreds of dead
      // broadcasts from earlier queries accumulate across the round and
      // late-iterating queries run against a heavier heap than early ones
      System.gc()
      names.foreach { name =>
        // drop every cached plan first: queries that persist intermediate
        // tables (the shared shingle table feeds minhash AND ngram) must
        // each pay their own build — otherwise the one-time materialization
        // bills to whichever query the map iteration happens to run first,
        // and per-query timings swap ~5s when the query set reorders
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // a failed rep records MaxValue, NOT elapsed-to-failure: a query
        // that throws fast must never win min() with a fake "fast" time
        val dt =
          try { run(name, sfDir); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => Double.MaxValue }
        times.updateWith(name)(v => Some(v.getOrElse(Vector.empty) :+ dt))
      }
    }
    val results = names.map(n => n -> times(n).min)
    val failed = results.collect { case (n, v) if v == Double.MaxValue => n }
    // 3-decimal floats: the driver captures only the tail of stdout, and r7's
    // full-precision line (with per-rep arrays inline) overflowed that capture,
    // leaving BENCH_r07.json unparsed. The stdout line must stay compact.
    // Locale.ROOT: f"" uses the JVM default locale — a comma-decimal locale
    // would emit "1,234" and break the driver's JSON parse.
    def fmt(v: Double) =
      if (v == Double.MaxValue) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v != Double.MaxValue => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-rep arrays (round-robin order) go to a SIBLING FILE, not stdout:
    // they let a reader separate host contention (one inflated rep, quiet
    // siblings) from a real regression (every rep slow), but inlining them
    // is what broke the driver's tail capture in round 7.
    val repsJson = names.map { n =>
      s"\"" + n + "\":" + times(n).map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query MINS as their own key (r21 verdict "what's wrong" #1): the
    // stdout detail line outgrew the driver's ~2 KB tail capture at 193
    // queries, so this file is the durable carrier of the per-query
    // numbers a round-over-round comparison needs — mins first (the
    // number that matters), reps/triage after (the provenance).
    val minsJson = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val stagingJson = stagingDetail
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // per-query triage: a query whose reps spread >1.3x saw host contention
    // (its min is still faithful — that is why reps run round-robin); tight
    // reps mean a quiet host. Cross-round comparison (regressed/improved)
    // lives in scripts/benchtriage.py, which needs a prior round's file.
    val triageJson = names.map { n =>
      val v = times(n)
      val cls =
        if (v.contains(Double.MaxValue)) "failed"
        else if (v.max / v.min > 1.3) "contended"
        else "quiet"
      s"\"" + n + "\":\"" + cls + "\""
    }.mkString("{", ",", "}")
    try {
      val repsPath = java.nio.file.Paths.get("target", "bench_reps.json")
      java.nio.file.Files.createDirectories(repsPath.getParent)
      java.nio.file.Files.write(repsPath,
        (s"""{"mins":$minsJson,"staging_sec":${fmt(stagingSec)},""" +
          s""""staging_detail":$stagingJson,"cpus":$cpus,"action":"noop",""" +
          s""""reps":$repsJson,"triage":$triageJson,"sf":"$sfDir"}""").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // Two lines: a long per-query detail line, then a short summary line
    // LAST (the detail line outgrew the driver's ~2 KB stdout tail capture
    // at 105 queries — BENCH_r12 recorded parsed:null). Only the summary
    // line carries "metric":"total" so a consumer keying or summing by
    // metric name sees exactly one total; the detail line is named
    // "total_detail" and the full per-query map also lands in
    // target/bench_reps.json.
    println(s"""{"metric":"total_detail","value":${fmt(total)},"unit":"sec","queries":$qs,"staging_sec":${fmt(stagingSec)},"staging_detail":$stagingJson,"failed":$failedJson,"action":"noop","sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","staging_sec":${fmt(stagingSec)},"n_queries":${names.size},"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
