package graft.examples

import org.apache.spark.sql.SparkSession

/** Runnable example corpus — the Spark-native analog of the reference's 24
  * CI-safe examples (/root/reference/borsa/README.md:156-176;
  * borsa/examples/). Every example runs OFFLINE against the deterministic
  * [[graft.connector.MockConnector]], exactly like the reference examples
  * run against borsa-mock under BORSA_EXAMPLES_USE_MOCK=1.
  *
  * Each example is both
  *  - a `main`: `sbt "runMain graft.examples.Ex02HistoryMerge"`, and
  *  - a pure `run(spark): Seq[String]` returning its output lines, so
  *    [[graft.examples.ExamplesSpec]] executes the whole corpus green in CI
  *    and asserts on the content (the reference gates its examples in CI
  *    the same way, .github/workflows: `cargo run --example`).
  *
  * Run everything: `sbt "runMain graft.examples.RunAll"`.
  */
trait Example {
  def name: String

  /** Execute against an active session; returns the lines to print. */
  def run(spark: SparkSession): Seq[String]

  def main(args: Array[String]): Unit = {
    val spark = Examples.localSession()
    try {
      println(s"== $name ==")
      run(spark).foreach(println)
    } finally spark.stop()
  }
}

object Examples {
  /** Small local session for examples — examples are control-plane-heavy
    * and tiny-data, so 4 threads / 4 shuffle partitions keeps them snappy.
    */
  def localSession(): SparkSession = graft.LocalSession(4)

  /** The corpus, in reference numbering order. */
  val all: Seq[Example] = Seq(
    Ex00Tracing,
    Ex01SimpleQuote,
    Ex02HistoryMerge,
    Ex03Search,
    Ex04PriceTarget,
    Ex05OptionsChain,
    Ex06FundamentalsDeepDive,
    Ex07FinancialSnapshot,
    Ex08HistoryResampling,
    Ex09StockComparison,
    Ex10Recommendations,
    Ex11UpcomingEvents,
    Ex12PerSymbolPriority,
    Ex13FetchStrategies,
    Ex14MergeStrategies,
    Ex15RoutingPolicy,
    Ex16RateLimited,
    Ex17StreamingFailover,
    Ex18Holders,
    Ex19News,
    Ex20Esg,
    Ex21Download,
    Ex22MultiQuotes,
    Ex24QuotaMiddleware)
}

/** `sbt "runMain graft.examples.RunAll"` — the whole corpus in one JVM. */
object RunAll {
  def main(args: Array[String]): Unit = {
    val spark = Examples.localSession()
    try Examples.all.foreach { ex =>
      println(s"\n== ${ex.name} ==")
      ex.run(spark).foreach(println)
    } finally spark.stop()
  }
}
