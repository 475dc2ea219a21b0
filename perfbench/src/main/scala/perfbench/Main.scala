package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `run.py` builds the classpath and the
  * input tables, then launches one JVM per run:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --spec workloads.json
  *     --fingerprints fingerprints.json --out result.json
  *     [--record [--verified DUMP_DIR]]
  *
  * The JVM writes one JSON result file (metrics, counts, check outcome);
  * with `--record` it writes the data-plane output fingerprints instead.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      work: String,
      spec: String,
      fingerprints: String,
      out: String,
      record: Boolean,
      verified: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("spec"),
      need("fingerprints"), need("out"), argv.contains("--record"), kv.get("verified"))
  }

  val mapper = new ObjectMapper()

  /** The one session of a run: `local[n]` for n = SPARK_GRAFT_CPUS (parsed
    * once, default 4), Bench's pinned codegen cache, and a private warehouse
    * and local dir under the run's work directory.
    */
  def session(work: String): (SparkSession, Int) = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)
    require(cpus >= 1, s"SPARK_GRAFT_CPUS must be >= 1, got $cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.codegen.cache.maxEntries", 8192L)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, cpus)
  }

  private val t0 = System.nanoTime()

  /** Progress on stderr, with seconds since JVM start of this harness. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $msg")

  def readJson(path: String): JsonNode = mapper.readTree(new File(path))

  def names(node: JsonNode): Vector[String] = node.elements().asScala.map(_.asText).toVector

  /** Driver heap still in use after a full GC, in MiB: the least of a few
    * GC-and-settle rounds, since Spark's context cleaner frees broadcast and
    * cached blocks only after a GC has collected their handles.
    */
  def heapRetainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = new Result(a.out)
    var spark: SparkSession = null
    try {
      val (s, cpus) = session(a.work)
      spark = s
      val tracer = new Tracer(spark)
      val spec = readJson(a.spec)
      a.workload match {
        case "corpus_pipeline" =>
          new DataPlane(spark, cpus, tracer, a, spec, result).run()
        case "router_download" =>
          new RouterLoad(spark, cpus, tracer, a, result).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (a.trace) writeSpans(tracer.allSpans, new File(a.work, "spans.json"))
    } catch {
      case t: Throwable =>
        result.fatal(t)
        t.printStackTrace()
    } finally {
      result.write()
      if (spark != null) spark.stop()
    }
  }

  private def writeSpans(spans: Seq[Span], f: File): Unit = {
    val arr = mapper.createArrayNode()
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id).put("parent", s.parent).put("request", s.request)
        .put("name", s.name).put("start_ns", s.startNs).put("end_ns", s.endNs)
      val c = o.putObject("counters")
      s.counters.foreach { case (k, v) => c.put(k, v) }
    }
    mapper.writeValue(f, arr)
  }
}

/** The run's result, written with a JSON encoder even when the workload dies
  * part-way: what was measured before the failure is kept, and the failure
  * is recorded so the run is reported as failed, never as fast.
  */
final class Result(path: String) {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var checked = false
  private var fatalError: Option[String] = None
  var readyEpochMs = 0L

  def metric(name: String, value: Double): Unit = metrics(name) = value
  def mismatch(msg: String): Unit = mismatches += msg
  def fatal(t: Throwable): Unit = fatalError = Some(s"${t.getClass.getName}: ${t.getMessage}")
  def ready(): Unit = readyEpochMs = System.currentTimeMillis()

  def write(): Unit = {
    val m = Main.mapper
    val o = m.createObjectNode()
    o.put("ready_epoch_ms", readyEpochMs)
    o.put("attempted", attempted).put("failed", failed)
    o.put("correct", checked && mismatches.isEmpty && fatalError.isEmpty)
    fatalError.foreach(o.put("fatal", _))
    val mm = o.putArray("mismatches")
    mismatches.take(50).foreach(mm.add)
    val mo = o.putObject("metrics")
    metrics.foreach { case (k, v) => if (!v.isNaN && !v.isInfinite) mo.put(k, v) }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    m.writeValue(new File(path), o)
  }
}
