package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design notes (the point of each algorithm at 100 TB):
  *  - exact: one shuffle on a 128-bit content hash — never on the text
  *    itself (hash keys are fixed-width → cheap sort/exchange).
  *  - MinHash+LSH: signature is computed scan-side (narrow, codegen'd
  *    higher-order functions, no UDF); only (band, bandHash) pairs shuffle.
  *    Candidate generation is a self-equi-join on the band hash — the
  *    classic shingle→minhash→band→bucket-join plan; no O(n²) stage.
  *  - SimHash: 64 docs/sec/core scan-side fingerprint; near-dup = hamming
  *    ball lookup (joins on rotated prefixes at scale).
  *  - n-gram Jaccard: exact verification joins only within LSH buckets or
  *    shingle-sharing pairs (the relational form below), never all-pairs.
  */
object Dedup {
  import TextOps._

  /** Exact dedup: keep the lowest doc_id per md5(text); emit a keep/drop map.
    * (hash-groupBy — the only shuffle key is the 32-char hash)
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col(idCol))
    docs
      .withColumn("h", md5(col(textCol)))
      .withColumn("keep_id", first(col(idCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(idCol), col("h"), col("keep_id"), (col(idCol) === col("keep_id")).as("is_keeper"))
  }

  /** PRIORITY-aware exact dedup across datasets: when the same text
    * appears in several sources, keep the copy from the most trusted one
    * — the standard multi-dataset merge rule (a curated dump beats a web
    * crawl for the identical document; plain [[exactDedup]]'s min-id
    * election would keep whichever dataset happened to get lower ids).
    * Keeper per md5(text) = lowest (priority, id); sources absent from
    * `priorities` rank WORST at `defaultPriority` (they only win when no
    * listed source holds the text), mirroring the search router's
    * exchange-preference dedup (S2) at corpus scale.
    *
    * Same plan as [[exactDedup]]: scan-side hash + priority lookup
    * (literal map — no join), one window over the 32-char hash. Only
    * (id, hash, priority) ever shuffles, never text.
    */
  def exactDedupByPriority(
      docs: DataFrame,
      priorities: Map[String, Long],
      sourceCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text",
      defaultPriority: Long = Long.MaxValue): DataFrame = {
    require(priorities.nonEmpty, "exactDedupByPriority: priorities must be non-empty")
    val reserved = Seq("h", "prio", "keep_id", "is_keeper").filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"docs columns collide with output names (rename them): ${reserved.mkString(", ")}")
    val w = Window.partitionBy(col("h")).orderBy(col("prio"), col(idCol))
    docs
      .withColumn("h", md5(col(textCol)))
      .withColumn("prio",
        coalesce(element_at(typedLit(priorities), col(sourceCol)), lit(defaultPriority)))
      .withColumn("keep_id", first(col(idCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(idCol), col(sourceCol), col("h"), col("prio"), col("keep_id"),
        (col(idCol) === col("keep_id")).as("is_keeper"))
  }

  /** INCREMENTAL exact dedup — the production ingest shape: a corpus is
    * not re-deduped end to end on every snapshot; new batches check
    * against the historical fingerprint STORE (the `h` column of prior
    * [[exactDedup]] output) and against themselves. Keeps each new batch
    * row that is (a) absent from the store and (b) the first holder of
    * its hash within the batch.
    *
    * Scale shape: hashing is scan-side; the store probe is a LEFT ANTI
    * join on the fixed-width hash — both sides shuffle by `h` but only
    * (id, hash) rows ever cross the wire, never text, and a store laid
    * out hash-bucketed ([[graft.operators.Layout]]) makes the probe
    * co-located scan-to-scan. The within-batch keep-first runs on the
    * store survivors only.
    */
  def exactDedupIncremental(
      docs: DataFrame,
      seenHashes: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(seenHashes.columns.contains("h"),
      s"seenHashes must carry the fingerprint column 'h', got ${seenHashes.columns.mkString(", ")}")
    val fresh = docs.select(col(idCol), md5(col(textCol)).as("h"))
      .join(seenHashes.select("h"), Seq("h"), "left_anti")
    val w = Window.partitionBy("h").orderBy(col(idCol))
    fresh
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col("h"))
  }

  /** Per-doc exploded distinct shingles with their 32-bit hash, computed
    * ONCE per shingle (explode → hash; never re-evaluated inside nested
    * higher-order functions — chained HOF columns get inlined by
    * CollapseProject and re-evaluate their inputs combinatorially).
    */
  def shingleHashes(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingleRows(docs, idCol, textCol).withColumn("h", expr(hashS("sh")))

  /** MinHash signature as 32 aggregate columns over the exploded shingle
    * hashes — one narrow shuffle keyed by doc id, partial-aggregated
    * map-side (each aggregate is a min of an affine transform of `h`).
    * Output: (id, sig array<long>). Empty-shingle docs are absent (they
    * cannot be near-dups of anything).
    */
  def minhashSignature(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minhashSignatureOf(shingleHashes(docs, idCol, textCol), idCol)

  /** Signature from a precomputed (id, sh, h) shingle-hash table. */
  def minhashSignatureOf(shHashes: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val aggs = seeds.zipWithIndex.map { case ((a, b), i) =>
      min(expr(s"($a * h + $b) % $P")).as(s"m$i")
    }
    shHashes
      .groupBy(idCol)
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until K).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH candidate pairs: docs sharing at least one band bucket (the band
    * index is baked into the hash). Output (id1, id2), id1 < id2, distinct.
    */
  def minhashCandidatesOf(signatures: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val bands = signatures.select(col(idCol), explode(expr(bandHashesS)).as("bh"))
    bands.as("x")
      .join(bands.as("y"), "bh")
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"))
      .distinct()
  }

  /** Per-doc exploded distinct 3-token shingles, relational form: posexplode
    * tokens once, adjacent tokens via window lead() (fully codegen'd).
    * The array-HOF form (transform over sequence with element_at) is a trap:
    * after projection collapsing every element_at re-evaluates the whole
    * tokenizer — O(tokens²) per document (measured 12x slower at sf0.1).
    */
  def shingleRows(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), posexplode(expr(toksS(textCol))).as(Seq("pos", "t")))
    val w = Window.partitionBy(idCol).orderBy("pos")
    toks
      .withColumn("t2", lead("t", 1).over(w))
      .withColumn("t3", lead("t", 2).over(w))
      .where(col("t3").isNotNull)
      .select(col(idCol), concat_ws(" ", col("t"), col("t2"), col("t3")).as("sh"))
      .distinct()
  }

  /** Stop-shingle blocking: the (id, sh) rows whose shingle has document
    * frequency <= dfCap; dfCap <= 0 disables blocking. Ultra-common
    * shingles cause quadratic join blowup and never certify near-dups on
    * their own, so every blocked-quadratic consumer drops them BEFORE
    * pairing.
    */
  def dfCapped(sh: DataFrame, dfCap: Long): DataFrame =
    if (dfCap <= 0) sh
    else sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("df")).where(col("df") <= dfCap).select("sh"), "sh")

  /** All-pairs n-gram Jaccard over the df-capped shingle sets of a
    * pre-staged (id, sh) shingle table ([[dfCapped]]): both the
    * intersection and the set sizes are computed over the surviving
    * shingles, so the metric is exactly "Jaccard of the rare-shingle sets";
    * dfCap <= 0 gives exact full-set Jaccard. One self-join + one
    * aggregation — no pair-materialize-then-rejoin. At 100 TB the
    * tokenize→shingle derivation is written ONCE (bucketed by doc id, see
    * ShingleStage) and every consumer reads the staged rows; pass
    * [[shingleRows]] to derive them per call.
    */
  def ngramJaccardPairsOf(
      sh: DataFrame,
      idCol: String = "doc_id",
      dfCap: Long = 0L): DataFrame = {
    val blocked = dfCapped(sh, dfCap)
    val sizes = blocked.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val inter = blocked.as("x").join(blocked.as("y"), "sh")
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(sizes.withColumnRenamed(idCol, "id2").withColumnRenamed("n_sh", "n2"), "id2")
      .select(col("id1"), col("id2"),
        expr("n_inter * 1000000 DIV (n1 + n2 - n_inter)").as("jaccard_ppm"))
  }

  /** FULL-set exact Jaccard for an EXPLICIT candidate pair list, from a
    * pre-staged (id, sh) table: the O(n²) work is bounded by the candidate
    * set, never a corpus self-join. Output (id1, id2, jaccard_ppm) for every
    * input pair (pairs sharing no shingle score 0).
    */
  def jaccardForPairsOf(
      sh: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val inter = pairs.select("id1", "id2")
      .join(sh.select(col(idCol).as("id1"), col("sh")), "id1")
      .join(sh.select(col(idCol).as("id2"), col("sh")), Seq("id2", "sh"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_inter"))
    pairs.select("id1", "id2")
      .join(inter, Seq("id1", "id2"), "left")
      .join(sizes.withColumnRenamed(idCol, "id1").withColumnRenamed("n_sh", "n1"),
        Seq("id1"), "left")
      .join(sizes.withColumnRenamed(idCol, "id2").withColumnRenamed("n_sh", "n2"),
        Seq("id2"), "left")
      .select(col("id1"), col("id2"),
        // An endpoint absent from sh (doc under the shingle length) has zero
        // shingles, not "no row": coalesce sizes to 0 so every input pair
        // appears in the output, and score the degenerate both-empty pair 0
        // (no shared shingle) rather than dividing by zero.
        expr("""CASE WHEN coalesce(n1, 0L) + coalesce(n2, 0L) = 0L THEN 0L
                ELSE coalesce(n_inter, 0L) * 1000000
                     DIV (coalesce(n1, 0L) + coalesce(n2, 0L) - coalesce(n_inter, 0L))
                END""").as("jaccard_ppm"))
  }

  /** Distinct co-shingling candidate pairs over the df-capped sets — the
    * candidate generator [[ngramJaccardPairsOf]] runs internally, exposed
    * so audits can verify those candidates with FULL-set Jaccard.
    */
  def coShinglingPairs(
      sh: DataFrame,
      dfCap: Long = 64L,
      idCol: String = "doc_id"): DataFrame = {
    val blocked = dfCapped(sh, dfCap)
    blocked.as("x").join(blocked.as("y"), "sh")
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"))
      .distinct()
  }

  /** Asymmetric shingle CONTAINMENT pairs — the inclusion detector Jaccard
    * resemblance structurally misses: a short document fully quoted inside
    * a long one has containment(sub in super) = |A∩B|/|A| ≈ 1 while its
    * Jaccard ≈ |A|/|B| ≈ 0, so a resemblance threshold never fires
    * (Broder's containment; the LSH-Ensemble problem, Zhu et al.
    * VLDB'16). Training pipelines need this direction: a crawl page
    * embedding a benchmark document, a doc quoting another wholesale.
    *
    * Output: one row per ORDERED (id_sub, id_super) pair over the
    * df-capped shingle sets with containment_ppm >= thresholdPpm — both
    * directions of every co-shingling pair are scored, because
    * containment is directional by definition.
    *
    * Scale shape: identical to [[ngramJaccardPairsOf]] — the stop-shingle
    * df-cap blocks the quadratic join, sizes come from one doc-keyed
    * count over the bucketed staged table, and the threshold applies
    * before anything leaves the aggregation. Not a new substrate: reads
    * the SAME staged (doc_id, sh) table every other shingle consumer
    * reads.
    */
  def shingleContainmentOf(
      sh: DataFrame,
      thresholdPpm: Long = 500000L,
      dfCap: Long = 64L,
      idCol: String = "doc_id"): DataFrame = {
    val blocked = dfCapped(sh, dfCap)
    val sizes = blocked.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val inter = blocked.as("x").join(blocked.as("y"), "sh")
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed(idCol, "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(sizes.withColumnRenamed(idCol, "id2").withColumnRenamed("n_sh", "n2"), "id2")
    inter
      .select(col("id1").as("id_sub"), col("id2").as("id_super"),
        expr("n_inter * 1000000 DIV n1").as("containment_ppm"))
      .unionByName(inter
        .select(col("id2").as("id_sub"), col("id1").as("id_super"),
          expr("n_inter * 1000000 DIV n2").as("containment_ppm")))
      .where(col("containment_ppm") >= thresholdPpm)
  }

  /** Dedup AUDIT: cluster-size histogram over a (id, cluster_id) labeling
    * — the statistic every production dedup pass reports to its data
    * card: how much of the corpus is duplicated, at what multiplicity,
    * and what survives election (one keeper per cluster). Output one row
    * per distinct cluster size: (cluster_size, n_clusters, n_docs,
    * docs_ppm) — docs_ppm is the integer share of the corpus living at
    * that multiplicity, so singletons' docs_ppm is the unduplicated
    * share and sum(n_clusters) is the post-dedup corpus size.
    *
    * Scale shape: two aggregations (cluster-keyed count, then size-keyed
    * count) over fixed-width label rows; the corpus total rides a
    * broadcast single-row cross join — nothing corpus-sized shuffles
    * twice and no window runs over the corpus.
    */
  def clusterStats(labeled: DataFrame, idCol: String = "doc_id"): DataFrame = {
    require(labeled.columns.contains("cluster_id"),
      s"labeled must carry 'cluster_id', got ${labeled.columns.mkString(", ")}")
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val total = labeled.agg(count(lit(1)).as("__t"))
    sizes.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        expr("n_docs * 1000000 DIV __t").as("docs_ppm"))
  }

  /** MinHash near-dup verification: exact Jaccard is computed ONLY for LSH
    * candidate pairs, then thresholded. Reads a pre-staged (id, sh, h)
    * shingle-hash table (see ShingleStage): when the table is bucketed by
    * doc id, the signature and size aggregations read it co-located — no
    * exchange. Pass [[shingleHashes]] to derive it per call.
    */
  def minhashNearDupsOf(
      sh: DataFrame,
      thresholdPpm: Long = 200000L,
      idCol: String = "doc_id"): DataFrame = {
    val candidates = minhashCandidatesOf(minhashSignatureOf(sh, idCol), idCol)
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(sh.as("x"), col("id1") === col(s"x.$idCol"))
      .join(sh.as("y"), col("id2") === col(s"y.$idCol") && col("x.sh") === col("y.sh"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(sizes.withColumnRenamed(idCol, "id2").withColumnRenamed("n_sh", "n2"), "id2")
      .select(col("id1"), col("id2"),
        expr("n_inter * 1000000 DIV (n1 + n2 - n_inter)").as("jaccard_ppm"))
      .where(col("jaccard_ppm") >= thresholdPpm)
  }

  /** The at-rest BAND artifact of a signature store: (bh, store_id,
    * cluster_id) — the store's banding exploded ONCE at append/stage
    * time instead of per probe batch. Lay it out bucketed on `bh`
    * ([[graft.pipeline.ShingleStage.stagedBucketed]] /
    * [[graft.operators.Layout.writeBucketed]]): the probe join is keyed
    * on bh, so a band-bucketed store joins with NO store-side exchange
    * even when the probe batch is too large to broadcast — the layout
    * the probe scaladocs recommended, now pinned (plan-asserted in
    * DedupStageSpec with broadcast disabled).
    */
  def minhashStoreBands(sigStore: DataFrame, idCol: String = "doc_id"): DataFrame =
    sigStore.select(col(idCol).as("store_id"), col("cluster_id"), col("sig"))
      .select(col("store_id"), col("cluster_id"), explode(expr(bandHashesS)).as("bh"))

  // first band index (1-based) on which the signatures `sig` and `__ssig`
  // agree slice for slice — band hashes are md5 of the slice, so slice
  // equality is the band join's condition restated row-locally
  private val firstCommonBandS: String =
    s"""element_at(filter(sequence(1, $BANDS), bj ->
       |  forall(sequence(0, ${ROWS - 1}), o ->
       |    element_at(sig, (bj-1)*$ROWS + 1 + o) = element_at(__ssig, (bj-1)*$ROWS + 1 + o))), 1)"""
      .stripMargin.replace("\n", " ")

  /** Probe a batch's signatures against a signature STORE — the one
    * MinHash band-join body. The store carries (idCol, sig, cluster_id):
    * one row per retained historical document with its near-dup cluster
    * label (for a store that was itself deduped, cluster_id == the
    * keeper's own id). Returns one row per (batch doc, matched store doc)
    * whose signature agreement clears the threshold:
    * (idCol, store_id, cluster_id, sim_ppm), where `sim_ppm` is the exact
    * integer share of agreeing components.
    *
    * A pair that shares several bands is made unique ROW-LOCALLY, with no
    * `distinct()`: both signatures ride in the band-joined row, and a row
    * keeps itself iff ITS band is the first band on which the two
    * signatures agree — exactly one survivor per matched pair, no state.
    * The batch side carries its signature through the band explode; so
    * does the store side when its bands are derived from `sigStore`. The
    * staged [[minhashStoreBands]] artifact passed as `storeBands` holds
    * no signature, so there the store's signature joins once, by
    * store_id, onto the band-matched rows. (Joining it on the derived
    * path too costs [[minhashDedupIncremental]]'s self-probe one more read
    * of the batch signatures: 2 more jobs in `ext_dedup_minhash_incr`.)
    * The same body serves every face:
    *  - batch → store, the lookup step of incremental near-dup dedup;
    *  - batch → itself, [[minhashDedupIncremental]]'s within-batch edges
    *    (the batch signatures are their own store, cut to id < store_id);
    *  - stream → store, [[graft.streaming.StreamDedup.nearDupAgainstStore]]
    *    (every join is a stream-static equi-join).
    *
    * Scale shape — the reason this operator exists: the historical CORPUS
    * is never rescanned. Only the store's fixed-width signatures are read
    * (no text column exists on that side), and the band join moves (id,
    * bandHash) rows. A store band artifact laid out bucketed by band hash
    * makes the probe co-located.
    */
  def minhashStoreMatches(
      batchSigs: DataFrame,
      sigStore: DataFrame,
      thresholdPpm: Long = 500000L,
      idCol: String = "doc_id",
      storeBands: Option[DataFrame] = None): DataFrame = {
    require(sigStore.columns.contains("sig") && sigStore.columns.contains("cluster_id"),
      s"sigStore must carry 'sig' and 'cluster_id', got ${sigStore.columns.mkString(", ")}")
    storeBands.foreach { sb =>
      val missing = Seq("bh", "store_id", "cluster_id").filterNot(sb.columns.contains)
      require(missing.isEmpty,
        s"storeBands must carry (bh, store_id, cluster_id); missing ${missing.mkString(", ")}")
    }
    val bBands = batchSigs.select(col(idCol), col("sig"),
      posexplode(expr(bandHashesS)).as(Seq("__b", "bh")))
    // derived store bands carry the store signature through the explode;
    // the staged artifact has none, so it joins once, by store_id, onto
    // the band-matched rows only
    val joined = storeBands match {
      case Some(sb) => bBands.join(sb.select("store_id", "cluster_id", "bh"), "bh")
        .join(sigStore.select(col(idCol).as("store_id"), col("sig").as("__ssig")), "store_id")
      case None => bBands.join(sigStore
        .select(col(idCol).as("store_id"), col("cluster_id"), col("sig"),
          explode(expr(bandHashesS)).as("bh"))
        .withColumnRenamed("sig", "__ssig"), "bh")
    }
    joined
      .where(col("__b") + 1 === expr(firstCommonBandS))
      .withColumn("sim_ppm", expr(sigSimS("sig", "__ssig")))
      .where(col("sim_ppm") >= thresholdPpm)
      .select(col(idCol), col("store_id"), col("cluster_id"), col("sim_ppm"))
  }

  /** INCREMENTAL MinHash near-dup dedup — the production ingest loop that
    * [[exactDedupIncremental]] runs at exact granularity, at NEAR-dup
    * granularity: a growing corpus must not re-pay full-corpus near-dup
    * cost per ingest round, so new batches probe a persistent signature
    * store ([[minhashStoreMatches]]), pair up among themselves through
    * the same probe with the batch as its own store, and the union graph
    * — batch↔batch edges plus batch↔existing-cluster edges — collapses
    * through connected components exactly like the full-corpus election
    * (chained duplicates spanning the batch boundary land in ONE cluster).
    *
    * Output, one row per batch document:
    *  - cluster_id: the minimum EXISTING cluster id in the document's
    *    component when the component touches the store (new near-dups of
    *    old content join the old cluster — also merging old clusters a
    *    new document bridges); otherwise the component's minimum batch id
    *    (a brand-new cluster); otherwise the document's own id (novel
    *    singleton).
    *  - is_novel: true iff the component touches no existing cluster.
    *
    * The caller closes the loop by appending the batch signatures (with
    * their assigned cluster_id) back to the store — the same append
    * contract as [[exactDedupIncremental]]'s fingerprint store and the
    * stream-side [[graft.streaming.StreamDedup.dedupAgainstStore]].
    *
    * ID-DISJOINTNESS CONTRACT: batch document ids and store cluster ids
    * are nodes of ONE component graph, so they must live in disjoint id
    * spaces; `checkIdDisjointness = true` verifies it before the election
    * (see [[incrementalClusterLabels]]).
    *
    * Scale: batch text is scanned once (signature aggregation); the store
    * side reads signatures only — the historical corpus never rescans.
    * Deriving the batch signatures from the staged SHINGLE table instead
    * measured 1.4x slower at sf0.1 (hundreds of exploded substrate rows
    * per doc vs one text row). CC runs on the near-dup pair graph
    * (batch-sized, not corpus-sized). The persisted batch-signature
    * intermediate stays in the session's `CacheManager` until it is
    * unpersisted (the session-scoped cache convention); long-lived drivers
    * looping over many corpora should bound peak cache with
    * `spark.catalog.clearCache()` between rounds — the same lifecycle as
    * [[simhashNearDups]].
    */
  def minhashDedupIncremental(
      batch: DataFrame,
      sigStore: DataFrame,
      thresholdPpm: Long = 500000L,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkIdDisjointness: Boolean = false,
      storeBands: Option[DataFrame] = None): DataFrame = {
    // feeds both probes — the batch side of each and the self-probe's
    // store side — so it is persisted and the signatures derive once
    // (measured: without the persist the query runs 2 fewer jobs, but
    // slower). The explode+aggregate form also beats the scan-side rowSigS
    // expression here — the exploded hash is codegen'd and the 64 mins
    // combine map-side, while the row expression is one large interpreted
    // HOF; rowSigS earns its keep only where a shuffle is illegal, i.e. the
    // stateless streaming projection.
    val bsig = minhashSignature(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val matches = minhashStoreMatches(bsig, sigStore, thresholdPpm, idCol, storeBands)
    val edges = minhashStoreMatches(bsig, bsig.withColumn("cluster_id", col(idCol)),
        thresholdPpm, idCol)
      .where(col(idCol) < col("store_id"))
      .select(col(idCol).as("id1"), col("store_id").as("id2"))
      .unionByName(
        matches.select(col(idCol).as("id1"), col("cluster_id").as("id2")).distinct())
    incrementalClusterLabels(batch.select(col(idCol)), edges, sigStore, idCol, checkIdDisjointness)
  }

  /** The APPEND step that closes the incremental near-dup loop: the new
    * store rows for a batch just labeled by [[minhashDedupIncremental]] —
    * (idCol, sig, cluster_id) for every batch document that produced a
    * signature (>= 3 tokens; shorter docs cannot near-dup and have
    * nothing to store). `sigStore.unionByName(sigStoreAppend(...))` is
    * the next round's store, so cluster identities persist across ingest
    * rounds (spec-asserted: a round-2 near-copy of round-1 content
    * attaches to the cluster id round 1 assigned).
    *
    * Signatures are recomputed from the batch text (one scan — the same
    * cost shape as the labeling pass; callers holding the labeled batch
    * in cache pay only the scan). Store-side dedup of merged clusters is
    * NOT required: a store row whose cluster_id was merged away still
    * routes probes into the merged component via the store-min election.
    */
  def sigStoreAppend(
      batch: DataFrame,
      assignments: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(assignments.columns.contains("cluster_id"),
      s"assignments must carry 'cluster_id' (a minhashDedupIncremental result), " +
        s"got ${assignments.columns.mkString(", ")}")
    minhashSignature(batch, idCol, textCol)
      .join(assignments.select(col(idCol), col("cluster_id")), idCol)
      .select(col(idCol), col("sig"), col("cluster_id"))
  }

  /** CROSS-SOURCE OVERLAP MATRIX — the data-card statistic a multi-source
    * corpus build reports before choosing mixture weights: for every
    * unordered source pair (a, b), how many near-dup pairs straddle the
    * two sources and how similar they are on average. Feed it the pair
    * list any detector produced ([[minhashNearDupsOf]] jaccard_ppm,
    * [[simhashNearDups]] via a renamed dist)
    * plus a (id, source) lookup; rows with a == b count within-source
    * duplication, a != b cross-source contamination (e.g. "how much of
    * the web crawl is already in the curated dump").
    *
    * Scale shape: `pairs` is the post-threshold near-dup list — tiny next
    * to the corpus — so both source lookups are joins of a small frame
    * against the fixed-width (id, source) projection of the corpus
    * (broadcast `pairs` or bucket the corpus by id to co-locate; the text
    * never loads). The matrix itself is one groupBy over at most
    * |sources|² rows of output.
    */
  def overlapMatrix(
      pairs: DataFrame,
      sources: DataFrame,
      idCol: String = "doc_id",
      srcCol: String = "source",
      simCol: String = "jaccard_ppm"): DataFrame = {
    require(pairs.columns.contains(simCol),
      s"pairs must carry the similarity column '$simCol', got ${pairs.columns.mkString(", ")}")
    // LEFT joins + in-plan raise, not inner joins: a pair id missing from
    // `sources` under an inner join would silently drop the pair and skew
    // n_pairs/mean_sim_ppm — the statistic that drives mixture policy —
    // whereas a stale or incomplete lookup should surface loudly (the
    // repo's loud-guard convention, cf. the simCol require above)
    def srcOrRaise(side: String) = coalesce(col(s"__s$side"),
      expr(s"cast(raise_error(concat('overlapMatrix: pair id$side=', " +
        s"cast(id$side as string), ' has no source row - the (id, source) " +
        s"lookup is stale or incomplete')) as string)"))
    pairs
      .join(sources.select(col(idCol).as("id1"), col(srcCol).as("__s1")), Seq("id1"), "left")
      .join(sources.select(col(idCol).as("id2"), col(srcCol).as("__s2")), Seq("id2"), "left")
      .withColumn("__s1", srcOrRaise("1"))
      .withColumn("__s2", srcOrRaise("2"))
      .groupBy(
        least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr(s"sum($simCol) DIV count(1)").as("mean_sim_ppm"))
  }

  /** QUALITY-AWARE keeper election over a clustered corpus — the
    * production refinement of the min-id convention: when a near-dup
    * cluster holds a clean curated copy and a mangled crawl copy, the
    * pipeline should keep the BEST copy, not the one that happened to get
    * the lowest id. Keeper per cluster = highest `scoreCol`, ties to the
    * lower id (total order — identical corpora elect identical keepers).
    * Input is any (idCol, cluster_id) labeling ([[clusterLabels]]
    * output, [[minhashDedupIncremental]], semanticDedup) joined with a
    * per-doc score; output adds `keeper_id` and `is_keeper`.
    *
    * Scale shape: one window over the cluster id carrying only (id,
    * cluster, score) — fixed width; singletons elect themselves. The
    * max-score election rides the same exchange a min-id election would.
    */
  def electKeepersByScore(
      labeled: DataFrame,
      scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    require(labeled.columns.contains("cluster_id") && labeled.columns.contains(scoreCol),
      s"labeled must carry 'cluster_id' and '$scoreCol', got ${labeled.columns.mkString(", ")}")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    labeled
      .withColumn("keeper_id", first(col(idCol)).over(w))
      .withColumn("is_keeper", col(idCol) === col("keeper_id"))
  }

  /** SOFT dedup weights — the downweight-instead-of-drop election: hard
    * dedup keeps one copy per cluster and deletes the signal that the
    * content occurred N times, which skews the training distribution
    * for content whose frequency is MEANINGFUL. Soft dedup keeps the
    * cluster keeper and assigns it sampling weight 1e6 / cluster_size
    * (duplicated content trains at its deduplicated rate, not its
    * duplicated one); non-keepers weight 0. Singletons weight 1e6. The
    * weight column feeds the rate-driven samplers
    * ([[graft.pipeline.Sampling.stratifiedByRate]] / temperature
    * mixtures) directly.
    *
    * Input: any (idCol, cluster_id) labeling; output adds keeper_id
    * (min id), is_keeper, cluster_size, weight_ppm. One window per
    * cluster over fixed-width rows — the [[electKeepersByScore]] shape.
    */
  def softDedupWeights(labeled: DataFrame, idCol: String = "doc_id"): DataFrame = {
    require(labeled.columns.contains("cluster_id"),
      s"labeled must carry 'cluster_id', got ${labeled.columns.mkString(", ")}")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    labeled
      .withColumn("keeper_id", first(col(idCol)).over(w))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("long"))
      .withColumn("is_keeper", col(idCol) === col("keeper_id"))
      .withColumn("weight_ppm",
        when(col("is_keeper"), expr("1000000 DIV cluster_size")).otherwise(lit(0L)))
  }

  /** Cross-document LINE-level dedup (CCNet-style boilerplate removal):
    * every distinct line keeps exactly ONE occurrence corpus-wide — the one
    * with the smallest (doc_id, line position) — and every other occurrence
    * (shared headers / footers / nav chrome, and repeats within a doc) is
    * dropped. Output per doc: original line count, surviving line count,
    * and the md5 of the cleaned text (kept lines re-joined in original
    * order; NULL when nothing survives).
    *
    * Scale: lines shuffle as md5 hashes (fixed width, never the text); the
    * keeper election is one min-aggregate over a PACKED (doc_id, pos) long
    * key — no struct comparator in the agg hot path — and the re-join is a
    * hash-equi-join on the same fixed-width key. Exactly the exact-dedup
    * plan shape, at line granularity.
    */
  def lineDedupKeepFirst(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    // packed key bounds: 2^20 lines/doc, |doc_id| < 2^43 — a doc over the
    // line cap fails FAST with the offending id instead of silently packing
    // into a colliding key (the RangeJoin guard pattern: the error feeds
    // the key column itself, so no optimizer rule can prune it)
    val PosBits = 20
    // Spark's split takes a REGEX; quote so `sep` is literal like the
    // rejoin below (and like every other engine's string_split) — a "."
    // separator must not silently split on any-char
    val lines = docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .withColumn("h", md5(col("line")))
      .withColumn("k",
        when(col("pos") >= (1L << PosBits),
          raise_error(format_string(
            s"lineDedupKeepFirst: document %s exceeds ${1L << PosBits} lines " +
              "(packed dedup key would collide) — split the document or raise PosBits",
            col(idCol))).cast("long"))
          .when(abs(col(idCol)) >= (1L << (63 - PosBits)),
            raise_error(format_string(
              s"lineDedupKeepFirst: |doc_id| %s >= 2^${63 - PosBits} overflows " +
                "the packed dedup key — remap ids into the bound first",
              col(idCol))).cast("long"))
          .otherwise(col(idCol) * (1L << PosBits) + col("pos")))
    val keepers = lines.groupBy("h").agg(min(col("k")).as("kmin"))
    val kept = lines.join(keepers, "h").where(col("k") === col("kmin"))
    val total = lines.groupBy(idCol).agg(count(lit(1)).as("n_lines"))
    val keptAgg = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_kept"),
      md5(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")))).as("kept_md5"))
    total.join(keptAgg, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("kept_md5"))
  }

  /** Duplicate-span detection — the distributed analog of exact-substring
    * dedup (suffix-array dedup in the training-data literature): every run
    * of >= `w` consecutive tokens that occurs more than once ANYWHERE in
    * the corpus (across documents or repeated within one) is reported as a
    * merged per-document token span `[span_start, span_end]` (0-based,
    * inclusive), ready for excision. Complements [[exactDedup]] (whole-doc)
    * and [[lineDedupKeepFirst]] (line-aligned): duplicated prose that
    * crosses line boundaries or sits inside otherwise-unique documents is
    * only visible at this granularity.
    *
    * Shape at 100 TB (a suffix array does not distribute; rolling windows
    * do):
    *  1. scan-side tokenize + ONE per-doc window pass builds every w-token
    *     gram hash with its position (lead-chain like [[shingleRows]] —
    *     the array-HOF form re-evaluates the tokenizer combinatorially
    *     after projection collapse);
    *  2. one corpus-wide exchange on the fixed-width full-md5 gram hash
    *     (16 raw bytes via unhex — the FULL 128 bits, NOT a truncated
    *     prefix: past ~77k distinct grams
    *     a 32-bit key collides by birthday bound, and a collision here
    *     falsely excises unique text; whole-doc [[exactDedup]] set the
    *     full-md5 convention and this operator keeps it) —
    *     scores each window with its global occurrence count via a
    *     PARTITION-count window — text never crosses the wire, and the
    *     gram stream is derived ONCE (the groupBy-then-join-back form
    *     re-derives the whole expensive gram build under the aggregate —
    *     Spark shares no subplans);
    *  3. surviving windows merge into islands per document (per-doc
    *     windows, partition-local after one exchange).
    * A degenerate boilerplate gram concentrates its occurrences in one
    * window partition (spill-safe, but slow); corpora with pathological
    * boilerplate should cap gram document frequency upstream, the
    * [[ngramJaccardPairsOf]] df-cap pattern.
    *
    * Windows that overlap or abut merge into one span; `n_windows` counts
    * the duplicated windows inside the span (== span_end - span_start - w
    * + 2 iff every window in the span is duplicated).
    */
  def duplicateSpans(
      docs: DataFrame,
      w: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(w >= 2, s"duplicateSpans: window must be >= 2 tokens, got $w")
    val perDoc = Window.partitionBy(idCol).orderBy("pos")
    var toks = docs.select(col(idCol), posexplode(expr(toksS(textCol))).as(Seq("pos", "t")))
    for (i <- 1 until w) toks = toks.withColumn(s"__t$i", lead("t", i).over(perDoc))
    val grams = toks
      .where(col(s"__t${w - 1}").isNotNull) // full w-token windows only
      .select(col(idCol), col("pos"),
        concat_ws(" ", col("t") +: (1 until w).map(i => col(s"__t$i")): _*).as("__gram"))
      // unhex: the SAME 128-bit hash as 16 raw bytes instead of 32 hex
      // chars — gh never leaves this operator, and halving the key is
      // half the corpus-wide exchange's bytes + cheaper sort compares
      // (guide §2.3 narrow types; r21 optimization)
      .select(col(idCol), col("pos"), unhex(md5(col("__gram"))).as("gh"))
    val hits = grams
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("gh")))
      .where(col("__c") > 1)
      .select(col(idCol), col("pos"))
    hits
      .withColumn("__pe", max(col("pos") + lit(w - 1)).over(
        perDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__pe").isNull || col("pos") > col("__pe") + 1, lit(1)).otherwise(lit(0)))
      .withColumn("__isl", sum("__brk").over(perDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(
        min("pos").cast("long").as("span_start"),
        (max("pos") + lit(w - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Span EXCISION — the apply step that turns [[duplicateSpans]] output
    * into a cleaned corpus: every token whose position falls inside one of
    * the document's spans is removed, and the survivors rejoin on single
    * spaces (whitespace normalizes — the tokenizer's view, matching every
    * other operator in this file). Emits `n_removed` so pipelines can
    * dashboard excision rates.
    *
    * Scale shape: spans aggregate to ONE array per affected document
    * (bounded — spans are merged islands, not raw windows) and join on the
    * doc key; the token filter is then a scan-side HOF over the row's own
    * tokens. Documents with no spans pass through the left join untouched.
    * At 100 TB co-locate the join with a doc_id-bucketed layout
    * ([[graft.operators.Layout]]) — both sides derive from the same
    * corpus, so the shuffle is avoidable, not inherent.
    */
  def exciseSpans(
      docs: DataFrame,
      spans: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sp = spans.groupBy(idCol)
      .agg(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e"))).as("__spans"))
    docs.join(sp, Seq(idCol), "left")
      .withColumn("__toks", expr(toksS(textCol)))
      .withColumn("__kept", expr(
        "filter(__toks, (t, i) -> __spans is null or not exists(__spans, sp -> i >= sp.s and i <= sp.e))"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Per-doc 32-bit SimHash. Relational form: explode tokens, hash each
    * ONCE, aggregate 32 signed bit-sums per doc (one narrow shuffle,
    * map-side partials), then assemble the fingerprint scan-side.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tokenHashes = docs
      .withColumn("toks", expr(toksS(textCol)))
      .select(col(idCol), explode(col("toks")).as("t"))
      .withColumn("h", expr(hashS("t")))
    val bitSums = (0 until 32).map { b =>
      sum(expr(s"CASE WHEN (shiftright(h, $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"w$b")
    }
    tokenHashes
      .groupBy(idCol)
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 32).map(b => when(col(s"w$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs within hamming distance <= maxDist, blocked by
    * 16-bit halves: candidates must agree on at least one half (guarantees
    * full recall for distance <= 1 by pigeonhole; standard
    * approximate-recall blocking beyond that — never an all-pairs join).
    */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3, idCol: String = "doc_id"): DataFrame = {
    // persisted fingerprint substrate feeding both self-join sides; the
    // session's CacheManager holds it until it is unpersisted (the returned
    // frame cannot know its last consumer), so long-lived drivers bound
    // peak cache with spark.catalog.clearCache()
    val sh = simhash(docs, idCol)
      .withColumn("lo", col("simhash") % 65536L)
      .withColumn("hi", expr("simhash DIV 65536"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hamming filter runs per half-join branch BEFORE the distinct so the
    // dedup shuffle only carries surviving near-dup pairs (word-overlap
    // corpora cluster simhashes → hot half-buckets → most raw pairs fail
    // the distance cut anyway)
    def pairsOn(key: String) = sh.as("x").join(sh.as("y"), key)
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"),
        expr("cast(bit_count(x.simhash ^ y.simhash) as bigint)").as("dist"))
      .where(col("dist") <= maxDist)
    pairsOn("lo").unionByName(pairsOn("hi")).distinct()
      .select("id1", "id2", "dist")
  }

  /** Lineage truncation for iterative CC state: reliable `checkpoint()`
    * when `spark.graft.reliableCheckpoint=true` (requires a
    * `setCheckpointDir` — fail-fast with the remedy if absent, because
    * Spark's own error at materialization time names neither the conf nor
    * the caller), else `localCheckpoint`. Always lazy: the round's
    * convergence probe stays the single job that both materializes the
    * state and measures progress.
    */
  private def ccCheckpoint(df: DataFrame): DataFrame =
    Checkpoints.iterCheckpoint(df, "connected components")

  /** Connected components over a near-dup pair list — the cluster-election
    * step every production dedup pipeline runs AFTER pair generation:
    * near-dup similarity is not transitive, so (A,B) and (B,C) pairs must
    * collapse into one {A,B,C} cluster with a single elected keeper before
    * dropping documents, or chained duplicates survive pairwise dedup.
    *
    * Two arms, chosen by the graph's size, with identical output:
    *
    *  - SMALL GRAPHS of long ids take a bounded driver union-find: the
    *    post-threshold near-dup pair graph is tiny relative to the corpus
    *    (pairs are what dedup REMOVES), and at that size every distributed
    *    round is pure fixed overhead — a join, an aggregation, a
    *    checkpoint, and a driver barrier per round just to relabel a few
    *    thousand nodes (measured: 1.75 s of ext_dedup_minhash_incr's
    *    4.1 s was distributed CC over 1,308 edges). The probe is
    *    `take(limit + 1)` on the edge projection — it stops scanning as
    *    soon as the graph proves big, and `driverEdgeLimit` edges of two
    *    longs bound driver memory the way the k-centroid collects do.
    *  - LARGER graphs, or non-long ids, run [[starContract]] distributed:
    *    it converges in O(log n) rounds on every input, long chains
    *    included.
    *
    * `driverEdgeLimit = 0` forces the distributed arm (the specs compare
    * the two arms through it).
    *
    * NOTE the probe gives this call EAGER-action semantics: the
    * `take(limit + 1)` runs a Spark job at CALL time (unlike the lazy
    * operators around it). The (idA, idB) projection is persisted around
    * the probe so a big graph's partially-computed probe scan is REUSED
    * by the distributed arm instead of thrown away and recomputed (the
    * pairs plan upstream is often an expensive band-join); there the
    * session's `CacheManager` holds it until it is unpersisted (the
    * session-scoped cache convention), and the small-graph arm
    * unpersists it at once since its labels are driver-built.
    *
    * Returns (id, comp): every node of `pairs` labeled with the minimum id
    * reachable from it. Nodes absent from `pairs` are not returned —
    * [[clusterLabels]] labels them as singletons.
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id1",
      idB: String = "id2",
      driverEdgeLimit: Int = 500000): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val longIds = pairs.schema(idA).dataType == LongType &&
      pairs.schema(idB).dataType == LongType
    if (!longIds || driverEdgeLimit <= 0) return starContract(pairs, idA, idB)._1
    val proj = pairs.select(col(idA), col(idB))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = proj.take(driverEdgeLimit + 1)
    // big graph: the distributed arm reads THROUGH the persisted
    // projection, so whatever the probe materialized is not re-paid
    if (rows.length > driverEdgeLimit) return starContract(proj, idA, idB)._1
    proj.unpersist()
    // path-compressing union-find with min-id roots
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    parent.keysIterator.map(id => (id, find(id))).toSeq.toDF("id", "comp")
  }

  /** Cluster election over an id universe: every `idCol` row of
    * `universe` labeled with the minimum id of its [[connectedComponents]]
    * component over `pairs` (id1, id2). Rows with no pair — a document too
    * short to shingle, a vector no neighbour came near — label
    * themselves, so nothing silently drops out of the election.
    *
    * Output (idCol, cluster_id, is_keeper), is_keeper marking the row
    * whose id names its cluster. A caller that needs no keeper flag drops
    * it, and Catalyst prunes its expression.
    */
  def clusterLabels(universe: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comps = connectedComponents(pairs)
    val cluster = coalesce(col("comp"), col(idCol))
    universe.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), cluster.as("cluster_id"), (cluster === col(idCol)).as("is_keeper"))
  }

  /** The store-min election that closes every incremental near-dup pass
    * ([[minhashDedupIncremental]], `Similarity.semanticDedupIncremental`):
    * `edges` (id1, id2) hold the batch's pairs among itself plus its
    * matches into `store`'s clusters, as (batch id, cluster_id). Each id
    * of `universe` (the batch) labels with the minimum store cluster id in
    * its component — a batch document bridging two store clusters merges
    * them — else its component's minimum id, else itself. `is_novel`
    * marks a component no store cluster touches. Output (idCol,
    * cluster_id, is_novel).
    *
    * ID-DISJOINTNESS CONTRACT: batch ids and store cluster ids are nodes
    * of ONE component graph, so they must live in disjoint id spaces — a
    * batch id numerically equal to an existing cluster_id would be
    * silently conflated into that cluster. Any monotone id allocator
    * satisfies this for free (new ids are always above every historical
    * id, and cluster ids are elected minima of historical ids);
    * `checkIdDisjointness = true` verifies it with one semi-join before
    * the election (a debug-path guard: one extra driver barrier, so the
    * callers leave it off by default).
    */
  def incrementalClusterLabels(
      universe: DataFrame,
      edges: DataFrame,
      store: DataFrame,
      idCol: String,
      checkIdDisjointness: Boolean): DataFrame = {
    val storeClusters = store.select("cluster_id").distinct()
    if (checkIdDisjointness) {
      val clashes = universe.select(col(idCol).as("cluster_id"))
        .join(storeClusters, Seq("cluster_id"), "left_semi")
      val sample = clashes.limit(3).collect().map(_.get(0))
      require(sample.isEmpty,
        s"incrementalClusterLabels: batch ids collide with store cluster ids " +
          s"(e.g. ${sample.mkString(", ")}) — the component graph would conflate " +
          "them into one cluster; remap one id space first")
    }
    val comps = connectedComponents(edges)
    val storeMin = comps.join(storeClusters, comps("id") === storeClusters("cluster_id"))
      .groupBy("comp").agg(min(col("cluster_id")).as("__store_min"))
    universe.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(storeMin, Seq("comp"), "left")
      .select(col(idCol),
        coalesce(col("__store_min"), col("comp"), col(idCol)).as("cluster_id"),
        col("__store_min").isNull.as("is_novel"))
  }

  /** Star-contraction connected components, the distributed arm of
    * [[connectedComponents]]: alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14):
    *
    *  - large-star: every node connects its STRICTLY LARGER neighbors to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    *
    * Each half-round is one aggregation (per-node neighborhood min) plus
    * one equi-join, and components contract geometrically, so the
    * fixpoint arrives in O(log n) rounds even on adversarial LONG CHAINS
    * (a diameter-d path would need d rounds of min-label propagation). At
    * the fixpoint the edge set IS the component forest (stars rooted at
    * component minima) and labels fall out of one final per-node min.
    *
    * FAULT TOLERANCE: per-round state truncates lineage via
    * [[ccCheckpoint]] — `localCheckpoint` by default (blocks pinned to
    * executor storage; fastest, but an executor loss mid-loop fails the
    * job), or a RELIABLE `checkpoint()` to the cluster's checkpoint
    * directory when `spark.graft.reliableCheckpoint=true` and
    * `spark.sparkContext.setCheckpointDir` has been called — the mode a
    * 1000-executor run should use, since losing one executor during a
    * multi-round CC over a 100 TB corpus' pair graph must not restart
    * the whole election. Both modes keep the lazy (`eager = false`)
    * fused-barrier contract: each round's convergence probe is the single
    * job that both materializes the checkpoint and measures progress.
    *
    * Returns the [[connectedComponents]] labels plus the round count
    * (spec-visible, so the O(log n) convergence claim is asserted, not
    * asserted-in-prose).
    */
  private[pipeline] def starContract(
      pairs: DataFrame,
      idA: String = "id1",
      idB: String = "id2",
      maxIters: Int = 50): (DataFrame, Int) = {
    // symmetric view of a canonical (lo, hi) edge set
    def sym(e: DataFrame): DataFrame =
      e.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(e.select(col("hi").as("u"), col("lo").as("v")))
    // per-node minimum of the closed neighborhood, m(u) = min(Γ(u) ∪ {u})
    def closedMins(s: DataFrame): DataFrame =
      s.groupBy("u").agg(min(col("v")).as("nm"))
        .select(col("u"), least(col("u"), col("nm")).as("m"))
    def canonical(e: DataFrame): DataFrame =
      e.select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
        .where(col("lo") =!= col("hi")).distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      canonical(s.join(closedMins(s), "u").where(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = closedMins(s)
      val smaller = s.join(mins, "u").where(col("v") < col("u"))
        .select(col("m").as("a"), col("v").as("b"))
      val self = mins.select(col("m").as("a"), col("u").as("b"))
      canonical(smaller.unionByName(self))
    }

    // lazy checkpoints: the round's first fixpoint probe materializes the
    // marked RDD — no dedicated materialization job, one fewer driver
    // barrier per round
    val nodes = ccCheckpoint(
      pairs.select(col(idA).as("id"))
        .unionByName(pairs.select(col(idB).as("id")))
        .distinct())
    var cur = ccCheckpoint(pairs
      .select(least(col(idA), col(idB)).as("lo"), greatest(col(idA), col(idB)).as("hi"))
      .where(col("lo") =!= col("hi")).distinct())
    var iter = 0
    var done = cur.isEmpty // edgeless input: all singletons
    while (!done) {
      require(iter < maxIters,
        s"connectedComponents did not converge in $maxIters star rounds — " +
          "this exceeds the O(log n) bound; the input is likely not a static graph")
      val next = ccCheckpoint(smallStar(largeStar(cur)))
      // edge-set fixpoint (label stability alone is not a sound stop for
      // star contraction), probed as ONE symmetric-difference job: both
      // sides are canonical DISTINCT (lo, hi) sets, so an edge appearing
      // exactly once in their union lies in exactly one set, and this
      // count both materializes `next`'s lazy checkpoint and decides
      // convergence in a single driver sync (the former two `except`
      // probes paid two full passes per round)
      done = next.unionByName(cur).groupBy("lo", "hi")
        .agg(count(lit(1)).as("__n")).where(col("__n") === 1).isEmpty
      cur = next
      iter += 1
    }
    // fixpoint edges are stars rooted at component minima; every node's
    // self-edge carries the nodes no surviving edge touches (self-loops)
    val labels = closedMins(sym(cur)
        .unionByName(nodes.select(col("id").as("u"), col("id").as("v"))))
      .select(col("u").as("id"), col("m").as("comp"))
    (labels, iter)
  }
}

