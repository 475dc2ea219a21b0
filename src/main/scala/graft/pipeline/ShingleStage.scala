package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Layout

/** One-time staging of the shingle-hash table, the way a 100 TB pipeline
  * runs dedup: the tokenize→shingle→hash derivation (the expensive scan-side
  * pass over all text) is executed ONCE per corpus and written as a managed
  * parquet table bucketed by doc id; every dedup consumer (MinHash
  * signatures, n-gram Jaccard, size counts, candidate verification) then
  * reads the staged rows back instead of re-deriving them per query, and
  * the doc-id-keyed aggregations read the buckets co-located — no exchange
  * (asserted in DedupStageSpec).
  *
  * Staging is keyed by corpus name: the first caller pays the build, later
  * callers (across queries in the same JVM) get `spark.table` reads. A new
  * JVM re-stages with SaveMode.Overwrite — idempotent.
  *
  * Bucket count: every bucketed store has the session's shuffle partition
  * count (`spark.sql.shuffle.partitions`, which `LocalSession` sets to its
  * cores). A staged store lives one JVM and only that session's plans read
  * it, so its buckets match the width the scans and joins run at: a
  * bucketed scan runs one task per bucket, and a join that inherits the
  * bucketing needs no exchange when the other side shuffles to the same
  * count.
  */
object ShingleStage {

  /** One staged table. `built` is a lazy val, so its initializer runs at
    * most once and concurrent callers block until it returns: two threads
    * staging one key never drop and write the same table at once. A build
    * that throws leaves it unset, and the next caller retries.
    */
  private final class Staged(spark: SparkSession, val name: String, write: String => Unit) {
    lazy val built: Unit = {
      // idempotent across JVMs: a fresh in-memory metastore doesn't know
      // the table, but its warehouse directory may survive from a prior
      // run — SaveMode.Overwrite then fails with LOCATION_ALREADY_EXISTS.
      // Drop the catalog entry AND the orphan location before writing.
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      write(name)
    }
  }

  private val staged = scala.collection.concurrent.TrieMap.empty[String, Staged]

  /** The table staged under `key` (named `prefix` + the key), written by
    * `write(tableName)` on first use; later callers, across queries and
    * threads in the same JVM, read it back. A new JVM re-stages.
    */
  private def stage(spark: SparkSession, key: String, prefix: String)(write: String => Unit): DataFrame = {
    val name = prefix + key.replaceAll("[^A-Za-z0-9]", "_")
    // a losing concurrent insert's Staged is discarded unbuilt
    staged.getOrElseUpdate(key, new Staged(spark, name, write)).built
    spark.table(name)
  }

  /** The staged (doc_id, sh, h) table for `corpusKey`, building it on first
    * use from `docs` (evaluated lazily, only when staging happens).
    */
  def shingleHashes(spark: SparkSession, corpusKey: String, docs: => DataFrame): DataFrame =
    stage(spark, corpusKey, "graft_shingles_") { name =>
      Layout.writeBucketed(Dedup.shingleHashes(docs), name,
        bucketCol = "doc_id", buckets = sessionBuckets(spark), sortCol = None)
    }

  /** Generic one-time staged table for other materialized substrates (the
    * incremental near-dup SIGNATURE STORE is the main client: in
    * production the store is a stored table the `sigStoreAppend` loop
    * maintains — rebuilding its signature pipeline per consumer would
    * misrepresent the steady-state probe cost). Same contract as
    * [[shingleHashes]]: first caller pays the build, later callers read
    * parquet; idempotent across JVMs.
    */
  def stagedTable(spark: SparkSession, key: String, build: => DataFrame): DataFrame =
    stagedWrite(spark, key)(name => build.write.format("parquet").saveAsTable(name))

  /** [[stagedTable]] for a caller that writes the table itself, given its
    * name — for a build that must release resources once written.
    */
  def stagedWrite(spark: SparkSession, key: String)(write: String => Unit): DataFrame =
    stage(spark, key, "graft_staged_")(write)

  /** [[stagedTable]] laid out BUCKETED on `bucketCol` — for at-rest
    * artifacts whose steady-state consumer is an equi-join on that
    * column (the band stores of the probe family: the probe join is
    * keyed on the band hash, so a band-bucketed store joins with NO
    * store-side exchange even when the probe batch is too large to
    * broadcast — plan-asserted in DedupStageSpec). Pass `sortCol`
    * (usually the bucket key) when the consumer is a SORT-merge join:
    * sorted single-file buckets let the scan expose their ordering, so
    * the store side drops its per-probe sort as well as its exchange —
    * without it, every probe re-sorts the corpus-sized store.
    */
  def stagedBucketed(
      spark: SparkSession,
      key: String,
      bucketCol: String,
      sortCol: Option[String] = None)(build: => DataFrame): DataFrame =
    stagedWrite(spark, key) { name =>
      Layout.writeBucketed(build, name, bucketCol = bucketCol,
        buckets = sessionBuckets(spark), sortCol = sortCol)
    }

  /** The bucket count of every staged store: the session's shuffle
    * partitions (see the header).
    */
  def sessionBuckets(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** Drop all staged tables (tests). */
  def reset(spark: SparkSession): Unit = {
    staged.values.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    staged.clear()
  }
}
