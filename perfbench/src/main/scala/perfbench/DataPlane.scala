package perfbench

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.pipeline.{PipelineQueries, ShingleStage}

/** The data-plane workload `corpus_pipeline`: a rep drops every staged
  * store, rebuilds all of them with `stageAllDetail`, then runs one
  * full-output pass over the frozen query list in a seed-shuffled order.
  * Staging and its consumers share a rep, so cost moved between the two
  * shows as a trade.
  */
final class DataPlane(
    spark: SparkSession,
    cpus: Int,
    tracer: Tracer,
    a: Main.Args,
    spec: JsonNode,
    result: Result) {

  private val wl = spec.get(a.workload)
  private val stagedReaders: Vector[String] = Main.names(wl.get("staged_readers"))
  val queries: Vector[String] = stagedReaders ++ Main.names(wl.get("text_kernels"))
  private val registry = SparkEntry.queries
  queries.filterNot(registry.contains).foreach(q =>
    throw new IllegalStateException(s"query $q is not in SparkEntry.queries"))

  private def build(name: String, dir: String): DataFrame = registry(name)(spark, dir)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def stage(dir: String): Seq[(String, Double)] = {
    ShingleStage.reset(spark)
    tracer.span("staging")(PipelineQueries.stageAllDetail(spark, dir))
  }

  /** One query to completion; None when it fails (a failure never yields a time). */
  private def timeQuery(name: String, dir: String): Option[Double] = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    try {
      tracer.action(s"query-$name") {
        tracer.span(s"query.$name") {
          val df = tracer.span("build")(build(name, dir))
          tracer.span("execute")(Trace.runFull(df))
        }
      }
      Some(secs(t0))
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] $name failed: $t")
        None
    }
  }

  def run(): Unit = {
    if (a.record) return record()
    Main.log("warm-up")
    warmUp()
    result.ready()
    Main.log("measure")
    measure()
    result.metric("heap_retained_mb", Main.heapRetainedMb())
    Main.log("check")
    check()
    Main.log("done")
  }

  /** Run `f` over `qs` on `cpus` driver threads (untimed phases only:
    * concurrent queries share the executors). `first`, when given, starts
    * before them, and the queries `after` selects wait for it to finish.
    */
  private def parallel[T](qs: Seq[String], first: Option[() => Any] = None,
      after: String => Boolean = _ => false)(f: String => T): Seq[(String, Either[Throwable, T])] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try {
      val before = first.map(g => pool.submit(() => g()))
      qs.map(q => q -> pool.submit(() => { if (after(q)) before.foreach(_.get()); f(q) }))
        .map { case (q, fu) =>
          q -> (try Right(fu.get()) catch {
            case e: java.util.concurrent.ExecutionException => Left(e.getCause)
          })
        }
    } finally pool.shutdownNow()
  }

  /** JIT, codegen and first-use costs, untimed, on the measured tables:
    * adaptive execution plans differently on smaller inputs, so a warm-up on
    * smaller tables would leave codegen of the measured plans to the first
    * timed rep. Staging runs on one thread while the queries that read no
    * staged store warm up on the others; the staged readers, submitted
    * last, wait for it. After this one rep the first timed rep is still
    * slower than the next ones; a second warm-up rep would fix that but
    * does not fit the time budget of the runs.
    */
  private def warmUp(): Unit = {
    val order = queries.filterNot(stagedReaders.contains) ++ stagedReaders
    parallel(order, Some(() => stage(a.data)), stagedReaders.contains)(q => Trace.runFull(build(q, a.data))).collect {
      case (q, Left(t)) => System.err.println(s"[perfbench] warm-up $q failed: $t")
    }
  }

  private def measure(): Unit = {
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, pass wall)
    val suites = mutable.ArrayBuffer.empty[Double]
    val stagings = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[(Boolean, String), mutable.ArrayBuffer[Double]] // (traced, query)
    val perArtifact = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val stagedMb = mutable.ArrayBuffer.empty[Double]
    var tracedWall = 0.0
    val minPasses = if (a.trace) 2 else 1
    val start = System.nanoTime()
    var pass = 0
    tracer.codegenMark()
    while (pass < minPasses || secs(start) < a.seconds) {
      val traced = a.trace && Trace.tracedTurn(pass)
      tracer.setTracing(traced)
      val p0 = System.nanoTime()
      var ok = true
      result.attempted += 1
      val times = mutable.ArrayBuffer.empty[(String, Double)] // this rep's, for the log
      try {
        val s0 = System.nanoTime()
        val detail = stage(a.data)
        stagings += secs(s0)
        times ++= detail
        detail.foreach { case (k, v) => perArtifact.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
        stagedMb += warehouseMb()
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] staging failed: $t")
          result.failed += 1; ok = false
      }
      val q0 = System.nanoTime()
      new Random(a.seed * 7919L + pass).shuffle(queries).foreach { q =>
        result.attempted += 1
        timeQuery(q, a.data) match {
          case Some(t) =>
            perQuery.getOrElseUpdate((traced, q), mutable.ArrayBuffer.empty) += t
            times += q -> t
          case None    => result.failed += 1; ok = false
        }
      }
      val suite = secs(q0)
      val wall = secs(p0)
      tracer.setTracing(false)
      Main.log(f"rep $pass: $wall%.3f s (queries $suite%.3f s): " +
        times.map { case (k, v) => f"$k $v%.3f" }.mkString(", "))
      if (ok) {
        passes += ((traced, wall))
        suites += suite
        if (traced) tracedWall += wall
      }
      pass += 1
    }
    val untraced = passes.collect { case (false, w) => w }.toSeq
    val traced = passes.collect { case (true, w) => w }.toSeq
    result.metric("pass_s", Stats.median(untraced))
    if (!a.trace) return

    tracer.reportSparkLayers(result, traced.size, passes.size, tracedWall, cpus)
    // Tracing overhead of a pass, from the queries' own traced and untraced
    // times: the whole-rep walls of a traced run are too few for their
    // difference to rise above the rep-to-rep spread, most of it staging's.
    // The traced rep comes first, so this also holds what is left of warm-up.
    def med(traced: Boolean, q: String) = Stats.median(perQuery.getOrElse((traced, q), Nil).toSeq)
    result.metric("trace.overhead_pass_s", queries.map(q => med(true, q) - med(false, q)).sum)
    result.metric("suite.queries_s", Stats.median(suites.toSeq))
    result.metric("staging.total_s", Stats.median(stagings.toSeq))
    result.metric("staging.write_mb", Stats.median(stagedMb.toSeq))
    perArtifact.foreach { case (k, v) => result.metric(s"staging.${k}_s", Stats.median(v.toSeq)) }
    queries.foreach { q =>
      val all = perQuery.getOrElse((true, q), Nil) ++ perQuery.getOrElse((false, q), Nil)
      result.metric(s"query.${q}_s", Stats.median(all.toSeq))
    }
  }

  /** Bytes the staged stores occupy in the run's warehouse. */
  private def warehouseMb(): Double = {
    val dir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    size(dir) / 1048576.0
  }

  // ------------------------------------------------------------- output check

  /** Row count and an order-insensitive hash of a query's full output: the
    * exact sum of a 64-bit hash of each row's JSON form.
    */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val row = struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(xxhash64(to_json(row)).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def fingerprintAll(): Seq[(String, Either[Throwable, (Long, String)])] = {
    spark.catalog.clearCache()
    parallel(queries)(q => fingerprint(build(q, a.data)))
  }

  /** Untimed, after the timed region: every query's full output against the
    * fingerprints stored with the benchmark.
    */
  private def check(): Unit = {
    val expected = Main.readJson(a.fingerprints)
    fingerprintAll().foreach {
      case (q, Left(t)) => result.mismatch(s"$q: failed in the output check: $t")
      case (q, Right((rows, hash))) =>
        Option(expected.get(q)) match {
          case None => result.mismatch(s"$q: no stored fingerprint")
          case Some(e) =>
            if (e.get("rows").asLong != rows || e.get("hash").asText != hash)
              result.mismatch(s"$q: rows=$rows hash=$hash, expected rows=${e.get("rows").asLong} hash=${e.get("hash").asText}")
        }
    }
    result.checked = true
  }

  /** Write the fingerprints of this workload's queries (merged into the
    * existing file, so the workloads can be recorded one at a time). With
    * `--verified DIR`, each fingerprint must also match the one of the
    * query's output dump in DIR, as written by `graft.Verify` and checked
    * against the DuckDB oracle by `scripts/selfcheck.py`.
    */
  private def record(): Unit = {
    stage(a.data)
    val file = new java.io.File(a.fingerprints)
    val root =
      if (file.exists) Main.readJson(a.fingerprints).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else Main.mapper.createObjectNode()
    val prints = fingerprintAll().map {
      case (q, Left(t))   => throw new IllegalStateException(s"$q failed", t)
      case (q, Right(fp)) => q -> fp
    }
    a.verified.foreach { dir =>
      prints.foreach { case (q, fp) =>
        val dumped = fingerprint(spark.read.parquet(s"$dir/$q"))
        if (dumped != fp) throw new IllegalStateException(s"$q: output $fp differs from the verified dump $dumped")
      }
    }
    prints.toSeq.sortBy(_._1).foreach { case (q, (rows, hash)) =>
      root.putObject(q).put("rows", rows).put("hash", hash)
    }
    Main.mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
    result.checked = true
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile that still has at least `beyond` samples above
    * it, as nearest-rank; NaN when there are too few samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Double = {
    val s = xs.sorted
    val idx = s.size - 1 - beyond
    if (idx < 0) Double.NaN else s(idx)
  }
}
