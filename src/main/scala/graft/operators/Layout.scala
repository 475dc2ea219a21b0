package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage-layout strategy for the 100 TB deployment.
  *
  * The engine keys everything by `symbol` (or doc/vec id); persisting tables
  * bucketed on that key makes every downstream merge/join/aggregation
  * co-located — the exchange disappears from the plan entirely (verified in
  * LayoutSpec by asserting the joined physical plan contains no shuffle).
  *
  * Layout rules:
  *  - partitionBy(date-ish column): prunes whole directories for time-range
  *    queries (partition pruning happens before IO).
  *  - bucketBy(symbol, N): rows with equal keys land in the same bucket
  *    file. The caller states N; the staged stores use the session's
  *    shuffle partitions (`ShingleStage.sessionBuckets`), so a bucketed
  *    scan runs one task per core and joins at the session's width.
  *  - sortBy(ts) within buckets: merges/as-of scans read presorted runs.
  */
object Layout {

  /** Persist a candle/tick frame bucketed by key for co-located joins.
    * (bucketBy requires a managed table — `saveAsTable`.)
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String = "symbol",
      buckets: Int,
      sortCol: Option[String] = Some("ts")): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCol)
    sortCol.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }

  /** True if the executed plan of `df` contains any shuffle exchange. */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")
}
