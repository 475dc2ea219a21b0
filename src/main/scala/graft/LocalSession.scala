package graft

import org.apache.spark.sql.SparkSession

/** The one place this project builds a `SparkSession`: every main, the
  * examples and the test suites take their session from here, so the
  * settings a measurement or a plan-shape assertion depends on cannot
  * drift between entry points.
  *
  *   - `local[cpus]` with `cpus` shuffle partitions
  *   - the driver-side codegen compile cache pinned at [[codegenCacheEntries]]
  *   - UTC session time zone, UI off, WARN log level
  *
  * `Bench` and `Verify` size the session with [[envCpus]]; the demo, the
  * smoke entry, the examples and the specs use 4 (the plan-shape specs
  * assume 4 shuffle partitions); the offline trainers use 8 so the
  * literals they print stay reproducible.
  */
object LocalSession {

  /** Whole-stage-codegen compile cache size (a static conf; Spark's default
    * is 100). The 193-query suite carries thousands of distinct codegen
    * units, so at the default every rep re-compiles every stage it runs —
    * measured at 76.0 → 41.0 s sum-of-mins over a 40-query round-robin when
    * raised (OPTIMIZATION_r21.md). It caches compiled classes keyed by
    * generated source, never data or results.
    */
  val codegenCacheEntries = 8192

  def apply(cpus: Int): SparkSession = {
    require(cpus >= 1, s"cpus must be >= 1, got $cpus")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `SPARK_GRAFT_CPUS`, parsed once (default 4 when unset). */
  lazy val envCpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A positive integer, or 4 when unset; anything else fails naming the
    * variable rather than reaching `local[...]` or a JSON file unchecked.
    */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => 4
    case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }
}
