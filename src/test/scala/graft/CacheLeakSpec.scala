package graft

/** The cache ratchet: every declared query, built and written to the noop
  * sink after `clearCache()` at sf0.001, either leaves the session's
  * `CacheManager` empty or is named below. Shrinking the list is a win;
  * growing it is a declared change.
  */
class CacheLeakSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose builders persist a frame they never release: the
    * self-join substrates (Hamming bands, simhash halves, batch MinHash
    * signatures), the corpus build's token seam, the frontier-bloom
    * sizing count and the link-graph rounds.
    */
  private val leaving = Set(
    "ext_audio_neardup", "ext_corpus_build", "ext_dedup_minhash_incr", "ext_dedup_simhash_pairs",
    "ext_frontier_bloom", "ext_frontier_bloom_shard", "ext_harmonic", "ext_harmonic_cap",
    "ext_harmonic_kmv", "ext_image_clusters", "ext_image_neardup", "ext_pagerank",
    "ext_video_neardup")

  test("the queries that leave a CacheManager entry are exactly the pinned list") {
    val left = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, build) =>
      spark.catalog.clearCache()
      build(spark, dir).write.format("noop").mode("overwrite").save()
      if (spark.sharedState.cacheManager.isEmpty) None else Some(name)
    }.toSet
    spark.catalog.clearCache()
    assert(left == leaving,
      s"newly leaving: ${(left -- leaving).mkString(", ")}; " +
        s"no longer leaving: ${(leaving -- left).mkString(", ")}")
  }
}
