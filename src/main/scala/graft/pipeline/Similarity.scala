package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Scale design:
  *  - Brute force: broadcast the (small) query set against the (huge)
  *    corpus — one scan, no shuffle of the corpus; per-partition top-k via
  *    window. This is the correctness baseline.
  *  - LSH (random hyperplanes): bucket assignment is scan-side integer
  *    arithmetic; the join is bucket-equi, so the corpus never crosses the
  *    network except for matching buckets. At 1000 executors the bucket id
  *    doubles as the shuffle/partition key.
  *  All dot products run in double via fold-left (deterministic order —
  *  no FP-reassociation nondeterminism across partitions).
  */
object Similarity {
  import graft.functions.VecDot

  /** dot(a, b) in double via the native codegen'd [[VecDot]] expression —
    * strict left-to-right accumulation (deterministic; bit-identical to
    * the interpreted fold it replaced).
    */
  def dot(a: Column, b: Column): Column = VecDot.of(a, b)

  /** ||a|| in double. */
  def norm(a: Column): Column = sqrt(VecDot.of(a, a))

  /** cosine(a, b) in double (per-pair form; prefer precomputed norms in
    * joins — see bruteForceKnn).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` should be small (broadcast); ties broken by neighbor id.
    * Norms are computed ONCE PER ROW before the join — the per-pair work is
    * a single dot fold (3× fewer interpreted folds than naive cosine; the
    * resulting double is bit-identical since each factor is unchanged).
    */
  def bruteForceKnn(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", norm(col("qv"))))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nnorm", norm(col("nv")))
      .crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** HARD-NEGATIVE MINING — the contrastive-training data operator: for
    * each query vector, the top-k most cosine-similar corpus vectors
    * with a DIFFERENT label. "Hard" = high similarity yet wrong class —
    * the negatives that actually move a contrastive loss, where random
    * negatives are trivially separable (the mining step retrieval/
    * embedding training pipelines à la DPR run between epochs). The
    * label filter runs BEFORE the top-k window, so every query gets k
    * negatives whenever the corpus holds k off-label vectors; rows with
    * a NULL label on either side drop (a null can't certify "different
    * class"), visibly reducing that query's negative pool rather than
    * silently matching.
    *
    * Output (query_id, rank, neighbor_id, neg_label) with the
    * [[bruteForceKnn]] tie-break (sim desc, neighbor id) — deterministic
    * and oracle-hashable. Scale shape: mining batches are epoch-sized,
    * so the query side broadcasts and the corpus never shuffles; for a
    * web-scale corpus use [[hardNegativesIvf]] — the celled probe with
    * the same post-join label predicate.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"hardNegatives: k must be >= 1, got $k")
    val missing = Seq(idCol, vecCol, labelCol).filterNot(c =>
      corpus.columns.contains(c) && queries.columns.contains(c))
    require(missing.isEmpty,
      s"hardNegatives: corpus and queries must both carry ${missing.mkString(", ")}")
    val q = broadcast(queries.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col(labelCol).as("ql"))
      .withColumn("qnorm", norm(col("qv"))))
    val scored = corpus.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        col(labelCol).as("neg_label"))
      .withColumn("nnorm", norm(col("nv")))
      .crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id") && col("neg_label") =!= col("ql"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "neg_label")
  }

  /** IVF-CELLED hard-negative mining — [[hardNegatives]] for the
    * web-scale corpus its scaladoc names (the swap it promised, now
    * composed — the [[marginMinedPairsIvf]] discipline): the corpus
    * assigns to cells scan-side, each query probes its `nprobe` nearest
    * cells, and the label-inequality filter applies post-join exactly as
    * in the exact form. The probe join is an EQUI-join on the cell id
    * (the query side still broadcasts — mining batches are epoch-sized),
    * so the corpus never pairs all-to-all; recall follows the quantizer
    * (nprobe = nCells reproduces the exact output, spec-asserted).
    * Output contract identical to [[hardNegatives]].
    */
  def hardNegativesIvf(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: Seq[Seq[Double]],
      k: Int,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"hardNegativesIvf: k must be >= 1, got $k")
    require(nprobe >= 1, s"hardNegativesIvf: nprobe must be >= 1, got $nprobe")
    require(centroids.nonEmpty && centroids.map(_.size).distinct.size == 1,
      "centroids must be a non-empty table of equal-dimension vectors")
    val missing = Seq(idCol, vecCol, labelCol).filterNot(c =>
      corpus.columns.contains(c) && queries.columns.contains(c))
    require(missing.isEmpty,
      s"hardNegativesIvf: corpus and queries must both carry ${missing.mkString(", ")}")
    val q = broadcast(queries.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col(labelCol).as("ql"))
      .withColumn("cell", explode(ivfProbesOf(col("qv"), centroids, nprobe)))
      .withColumn("qnorm", norm(col("qv"))))
    val scored = corpus.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        col(labelCol).as("neg_label"))
      .withColumn("cell", ivfCellOf(col("nv"), centroids))
      .withColumn("nnorm", norm(col("nv")))
      .join(q, "cell")
      .where(col("neighbor_id") =!= col("query_id") && col("neg_label") =!= col("ql"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "neg_label")
  }

  /** MARGIN-BASED BITEXT MINING — the parallel-corpus miner (Artetxe &
    * Schwenk's margin criterion, the method behind CCMatrix/LASER-mined
    * MT corpora): a source-language and a target-language embedding set
    * pair up where the cross-lingual similarity stands out RELATIVE to
    * each side's neighborhood — absolute cosine alone over-pairs hubs
    * (vectors similar to everything), so each pair's score is its
    * similarity divided by the mean of both endpoints' k-NN
    * similarities, and only MUTUAL best matches survive.
    *
    * Integer-exact variant (the repo's ppm discipline): cosines map to
    * [0, 2e6] ppm via floor((cos+1)·1e6) — nonnegative integers, so
    * top-k sums and the ratio margin
    *   margin_ppm = 2e6 · c / (Σ topk(x) + Σ topk(y))
    * are engine-bit-identical (float top-k AVERAGES would accumulate in
    * engine-dependent order and flip near-ties). The shift is a
    * documented variant of the raw-cosine margin: selection differs
    * only where margins nearly tie. Ties break by id — total order.
    *
    * Output: mutual-best (src_id, tgt_id, margin_ppm) pairs. Scale
    * shape: this is the EXACT form (all-pairs cosine — the oracle
    * baseline for eval-sized sides; the small target side broadcasts so
    * the pairing is a nested-loop over streamed source partitions, never
    * a sort-merge cartesian); at CCMatrix scale, where BOTH sides are
    * corpus-sized, use [[marginMinedPairsIvf]] — the same margin/mutual
    * kernel ([[marginMutualOf]]) over IVF candidate pairs.
    */
  def marginMinedPairs(
      src: DataFrame,
      tgt: DataFrame,
      k: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"marginMinedPairs: k must be >= 1, got $k")
    val s = src.where(col(vecCol).isNotNull)
      .select(col(idCol).as("src_id"), col(vecCol).as("sv"))
      .withColumn("snorm", norm(col("sv")))
    val t = tgt.where(col(vecCol).isNotNull)
      .select(col(idCol).as("tgt_id"), col(vecCol).as("tv"))
      .withColumn("tnorm", norm(col("tv")))
    val pairs = s.crossJoin(broadcast(t))
      .select(col("src_id"), col("tgt_id"), cosinePpm.as("__c"))
    marginMutualOf(pairs, k)
  }

  /** floor((cos+1)·1e6) over the (sv, snorm, tv, tnorm) pair columns —
    * the integer cosine both margin-mining forms score with.
    */
  private def cosinePpm: Column =
    floor((dot(col("sv"), col("tv")) / (col("snorm") * col("tnorm")) + lit(1.0))
      * lit(1000000.0)).cast("long")

  /** The margin/mutual kernel shared by [[marginMinedPairs]] (exact —
    * the oracle) and [[marginMinedPairsIvf]] (celled — the scale path):
    * per-side top-k neighborhood sums over the given candidate pairs,
    * the integer ratio margin, and the mutual-best filter. `pairs` must
    * carry (src_id, tgt_id, __c).
    *
    * Plan shape (r21 optimization, guide §2.4): ONE linear window
    * chain. The top-k sums attach as windowed conditional sums over the
    * SAME per-side partitionings the rank windows establish (a window
    * over an already-windowed partitioning re-sorts but never
    * re-exchanges), and the mutual-best rank for the src side rides the
    * src partitioning the sum pass just used — so the whole kernel is
    * THREE exchanges of the fixed-width pair stream and ZERO joins,
    * where the groupBy-sums-then-join-back form paid two extra window
    * passes (the pair table was re-read per consumer), one groupBy
    * exchange and two pair-sized joins. Values identical: a conditional
    * windowed sum over rank <= k IS the top-k sum, and every side with
    * a pair row has rank 1, so no side loses its row (the old inner
    * join also kept every side). With the single linear chain the
    * kernel-internal persist is gone too — nothing reads twice.
    */
  private def marginMutualOf(pairsIn: DataFrame, k: Int): DataFrame = {
    val wy = Window.partitionBy("tgt_id").orderBy(col("__c").desc, col("src_id"))
    val wx = Window.partitionBy("src_id").orderBy(col("__c").desc, col("tgt_id"))
    val bx = Window.partitionBy("src_id").orderBy(col("margin_ppm").desc, col("tgt_id"))
    val by = Window.partitionBy("tgt_id").orderBy(col("margin_ppm").desc, col("src_id"))
    pairsIn
      // tgt-side pass: rank + top-k sum under one tgt_id exchange
      .withColumn("__ry", row_number().over(wy))
      .withColumn("__say", sum(when(col("__ry") <= k, col("__c")))
        .over(Window.partitionBy("tgt_id")))
      // src-side pass: rank + top-k sum under one src_id exchange
      .withColumn("__rx", row_number().over(wx))
      .withColumn("__sax", sum(when(col("__rx") <= k, col("__c")))
        .over(Window.partitionBy("src_id")))
      .withColumn("margin_ppm", expr("(2000000 * __c) DIV greatest(__sax + __say, 1)"))
      // NULL-id parity with the old join form: a NULL-keyed pair row
      // CONTRIBUTED to the neighborhood sums above (the old groupBy
      // pooled it) but never survived the inner sum joins, so it must
      // not compete for mutual-best here either
      .where(col("src_id").isNotNull && col("tgt_id").isNotNull)
      // mutual best: bx reuses the src_id partitioning in place
      .withColumn("__bx", row_number().over(bx))
      .withColumn("__by", row_number().over(by))
      .where(col("__bx") === 1 && col("__by") === 1)
      .select("src_id", "tgt_id", "margin_ppm")
  }

  /** IVF-CELLED margin mining — [[marginMinedPairs]] for corpus-sized
    * sides (the CCMatrix-scale workload, where mining 1e9 × 1e9
    * sentences all-pairs is quadratic in BOTH sides): candidate pairs
    * come from the IVF coarse quantizer instead of the cross product,
    * then the SAME margin/mutual kernel runs on them.
    *
    * Candidate generation is SYMMETRIC (the union of both directions'
    * probes — src probing into tgt cells AND tgt probing into src
    * cells), because the margin needs each side's neighborhood: a pair
    * visible from only one side would truncate the other side's top-k
    * sum. Both directions are EQUI-joins on the cell id — the corpus
    * shuffles (or at scale is pre-bucketed) by cell, never broadcast,
    * never paired all-to-all; candidates dedup on the fixed-width
    * (src_id, tgt_id, __c) triple before the kernel.
    *
    * Approximation contract: pairs and neighborhood sums are computed
    * over cell-mates only, so a translation pair split across non-probed
    * cells is missed (recall follows the quantizer, tuned via `nprobe`
    * and centroid training — [[KMeans.train]] output plugs in as
    * `centroids`), and a margin denominator can only SHRINK vs exact
    * (missing candidates lower the top-k sums, never raise them). With
    * `nprobe` = nCells the candidate set is the full cross product and
    * the output equals [[marginMinedPairs]] (spec-asserted).
    */
  def marginMinedPairsIvf(
      src: DataFrame,
      tgt: DataFrame,
      centroids: Seq[Seq[Double]],
      k: Int = 4,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"marginMinedPairsIvf: k must be >= 1, got $k")
    require(nprobe >= 1, s"marginMinedPairsIvf: nprobe must be >= 1, got $nprobe")
    require(centroids.nonEmpty && centroids.map(_.size).distinct.size == 1,
      "centroids must be a non-empty table of equal-dimension vectors")
    val s = src.where(col(vecCol).isNotNull)
      .select(col(idCol).as("src_id"), col(vecCol).as("sv"))
      .withColumn("snorm", norm(col("sv")))
      .withColumn("scell", ivfCellOf(col("sv"), centroids))
    val t = tgt.where(col(vecCol).isNotNull)
      .select(col(idCol).as("tgt_id"), col(vecCol).as("tv"))
      .withColumn("tnorm", norm(col("tv")))
      .withColumn("tcell", ivfCellOf(col("tv"), centroids))
    // direction 1: src probes its nprobe nearest cells into tgt's cells
    val d1 = s.withColumn("cell", explode(ivfProbesOf(col("sv"), centroids, nprobe)))
      .join(t.withColumnRenamed("tcell", "cell"), "cell")
    // direction 2: tgt probes into src's cells
    val d2 = s.withColumnRenamed("scell", "cell")
      .join(t.withColumn("cell", explode(ivfProbesOf(col("tv"), centroids, nprobe))), "cell")
    def scored(df: DataFrame): DataFrame =
      df.select(col("src_id"), col("tgt_id"), cosinePpm.as("__c"))
    marginMutualOf(scored(d1).unionByName(scored(d2)).distinct(), k)
  }

  /** RECALL-vs-NPROBE SWEEP for the celled miners — the tuning artifact
    * that justifies a production `nprobe`: for every exact mined pair,
    * the smallest SYMMETRIC nprobe at which the pair would enter
    * [[marginMinedPairsIvf]]'s candidate set,
    *
    *   p*(s, t) = min(rank of cell(t) among s's ranked cells,
    *              rank of cell(s) among t's ranked cells)
    *
    * (the two directions of the symmetric candidate join), then the
    * whole curve nprobe ∈ [1, nCells] from ONE frame — the pair is a
    * candidate at nprobe p iff p* <= p. This measures CANDIDATE recall,
    * the quantity nprobe actually tunes; the margin kernel downstream
    * is exact on candidates and its denominator only SHRINKS with
    * missing candidates (the [[marginMinedPairsIvf]] approximation
    * analysis), so candidate presence is the right per-nprobe proxy —
    * final-pair recall at the production nprobe stays separately
    * measured (ext_bitext_recall). At nprobe = nCells the curve ends at
    * 1e6 ppm by construction (every cell probed = the cross product).
    *
    * Scale shape: `exactPairs` is an audit-sized mined-pair table (the
    * sampled-and-staged-truth discipline applies at corpus scale); the
    * sweep itself is two id-equi joins to fetch the pair's vectors and
    * one scan-side ranking per side — no re-mining per nprobe point.
    * Output: (nprobe, n_exact, n_candidate, recall_ppm).
    */
  def ivfNprobeSweep(
      src: DataFrame,
      tgt: DataFrame,
      exactPairs: DataFrame,
      centroids: Seq[Seq[Double]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty && centroids.map(_.size).distinct.size == 1,
      "centroids must be a non-empty table of equal-dimension vectors")
    val n = centroids.size
    // 1-based rank of `cellId` in the vector's best-first cell ranking —
    // EXACTLY ivfProbesOf's order (same score structs, same sort), so
    // rank <= p iff the cell is probed at nprobe p
    def rankOf(vec: Column, cellId: Column): Column =
      array_position(
        transform(array_sort(cellScoresOf(vec, centroids)), s => s.getField("cid")),
        cellId)
    val s = src.where(col(vecCol).isNotNull)
      .select(col(idCol).as("src_id"), col(vecCol).as("__sv"))
    val t = tgt.where(col(vecCol).isNotNull)
      .select(col(idCol).as("tgt_id"), col(vecCol).as("__tv"))
    exactPairs.select("src_id", "tgt_id")
      .join(s, "src_id")
      .join(t, "tgt_id")
      .select(
        least(
          rankOf(col("__sv"), ivfCellOf(col("__tv"), centroids)),
          rankOf(col("__tv"), ivfCellOf(col("__sv"), centroids))).as("__pstar"))
      .select(col("__pstar"), explode(expr(s"sequence(1, $n)")).as("nprobe"))
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("__pstar") <= col("nprobe"), 1L).otherwise(0L)).as("n_candidate"))
      .select(col("nprobe").cast("long").as("nprobe"), col("n_exact"),
        col("n_candidate"),
        expr("n_candidate * 1000000 DIV greatest(n_exact, 1)").as("recall_ppm"))
  }

  /** INT8 QUANTIZATION — the memory-bound scale path for a 100 TB
    * embedding store: a float32 corpus quantized symmetrically per vector
    * to [-127, 127] is 4x smaller on disk and in executor memory, which
    * at this scale is usually the difference between an in-memory probe
    * and a spill. All arithmetic is EXACT integer so the oracle hashes:
    * components go to ppm via floor (the ext_dedup_embed convention —
    * floor is identical in both engines), the per-vector scale m is the
    * max |component| in ppm, and quantization divides with explicit
    * truncate-toward-zero on both signs (engine-proof: DuckDB's `//`
    * and Spark's `div` are only guaranteed to agree away from negative
    * operands, so the sign is factored out).
    *
    * Intermediates are lambda-bound (single-element-transform let, the
    * rowSigS discipline) so the ppm array is computed once per row, not
    * once per reference.
    */
  // float components convert to double BEFORE the ppm multiply (the
  // conversion is exact; float arithmetic would round differently than
  // the oracle's double path)
  private def ppmS(vec: String): String =
    s"transform($vec, x0 -> cast(floor(cast(x0 as double) * 1000000) as bigint))"

  def int8QuantS(vec: String): String = {
    val scale = "greatest(aggregate(vp, 0L, (a0, x1) -> greatest(a0, abs(x1))), 1L)"
    val codes = "transform(vp, x2 -> IF(x2 < 0, -((-x2 * 127) div m0), (x2 * 127) div m0))"
    s"element_at(transform(array(${ppmS(vec)}), vp -> " +
      s"element_at(transform(array($scale), m0 -> $codes), 1)), 1)"
  }

  /** Per-vector quantization scale (max |component| in ppm) — stored
    * alongside the int8 codes so scoring can dequantize.
    */
  def int8ScaleS(vec: String): String =
    s"greatest(aggregate(${ppmS(vec)}, 0L, (a0, x1) -> greatest(a0, abs(x1))), 1L)"

  /** Exact top-k over the QUANTIZED corpus: integer code dot product
    * dequantized by the two vectors' scales — score = (q·q') × m1 × m2,
    * a pure-integer monotone estimate of the float dot product (codes
    * ≤ 127, dims ≤ 64, scales ≤ ~1e6 ppm keep the product inside a
    * Long). The query set broadcasts; the corpus is scanned once with
    * per-row quantization — at scale the codes would be PRE-quantized at
    * rest (4x smaller scan) and this operator reads them directly.
    */
  def int8Knn(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"),
        expr(int8QuantS(vecCol)).as("qq"), expr(int8ScaleS(vecCol)).as("qm")))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"),
        expr(int8QuantS(vecCol)).as("nq"), expr(int8ScaleS(vecCol)).as("nm"))
      .crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("score",
        expr("aggregate(zip_with(qq, nq, (a1, b1) -> a1 * b1), 0L, (s1, v1) -> s1 + v1) * qm * nm"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Random-hyperplane LSH bucket id (nBits bits). Hyperplane j component i
    * is a deterministic pseudo-random value in [-0.5, 0.5):
    * ((j*dim+i)*2654435761 mod 1000003)/1000003 - 0.5.
    *
    * The components are computed ONCE, driver-side, and emitted as array
    * LITERALS: higher-order functions are not constant-folded by Catalyst,
    * so the previous `transform(sequence(...))` form re-derived every
    * component for every row × bit — interpreted O(nBits×dim) modular
    * arithmetic per row. The literal array leaves only the zip/fold dot
    * product per row. `java.lang.Double.toString` round-trips exactly, so
    * the parsed literals are bit-identical to the old per-row computation
    * and bucket assignments (and the ext_knn_lsh oracle hash) are
    * unchanged.
    */
  def hyperplane(j: Int, dim: Int): IndexedSeq[Double] =
    (0 until dim).map { i =>
      ((j.toLong * dim + i) * 2654435761L % 1000003L).toDouble / 1000003.0 - 0.5
    }

  def lshBucket(vec: Column, dim: Int = 64, nBits: Int = 4): Column =
    (0 until nBits).map { j =>
      when(VecDot.of(vec, typedLit(hyperplane(j, dim).toSeq)) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF cell centroid c, component i — deterministic pseudo-random in
    * [-0.5, 0.5), emitted as a driver-side literal array exactly like
    * [[hyperplane]]. Production IVF trains centroids with k-means; the
    * expensive parts at 100 TB — the assignment scan and the probe join —
    * are identical either way, so the centroid table is a pluggable
    * constant here (swap in trained centroids without touching the plan).
    */
  def ivfCentroid(c: Int, dim: Int): IndexedSeq[Double] =
    (0 until dim).map { i =>
      (((c.toLong * dim + i) * 40503L + 1299721L) % 1000003L).toDouble / 1000003.0 - 0.5
    }

  /** The default (untrained) centroid table: pseudo-random literals. Swap
    * for [[KMeans.train]] output via the `*Of` forms / `ivfKnnWith`.
    */
  def defaultCentroids(dim: Int, nCells: Int): Seq[Seq[Double]] =
    (0 until nCells).map(c => ivfCentroid(c, dim).toSeq)

  /** (negdot, cid) score structs against an EXPLICIT centroid table —
    * array_min/sort over these yields "max inner product, ties to the
    * lower cell id". Centroids ride as driver-side literals (control-plane
    * sized: nCells × dim doubles), so assignment stays scan-side.
    */
  private def cellScoresOf(vec: Column, centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (ct, c) =>
      struct(
        (-VecDot.of(vec, typedLit(ct))).as("negdot"),
        lit(c.toLong).as("cid"))
    }: _*)

  /** IVF cell assignment against an explicit centroid table. */
  def ivfCellOf(vec: Column, centroids: Seq[Seq[Double]]): Column =
    array_min(cellScoresOf(vec, centroids)).getField("cid")

  /** The nprobe nearest cells against an explicit centroid table. */
  def ivfProbesOf(vec: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    transform(
      slice(array_sort(cellScoresOf(vec, centroids)), 1, nprobe),
      s => s.getField("cid"))

  /** IVF cell assignment: the centroid with the max inner product (ties to
    * the lower cell id). Scan-side: nCells codegen'd dot folds per row,
    * no shuffle.
    */
  def ivfCell(vec: Column, dim: Int = 64, nCells: Int = 8): Column =
    ivfCellOf(vec, defaultCentroids(dim, nCells))

  /** The nprobe nearest cells for a query vector (array of cell ids, best
    * first).
    */
  def ivfProbes(vec: Column, nprobe: Int, dim: Int = 64, nCells: Int = 8): Column =
    ivfProbesOf(vec, defaultCentroids(dim, nCells), nprobe)

  /** IVF ANN: corpus vectors are assigned to their nearest-centroid cell
    * scan-side; each query probes its `nprobe` nearest cells and scores
    * exact cosine against ONLY those cells' members. The probe join is an
    * equi-join on the cell id — the corpus shuffles (or at scale: is
    * pre-partitioned/bucketed) by cell, never broadcast or paired all-to-all.
    * This is the second scale path next to [[lshKnn]]: LSH buckets by
    * random projections (no training, fixed recall), IVF by centroid cells
    * (trainable, recall tuned via nprobe).
    */
  def ivfKnn(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      nCells: Int = 8,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfKnnWith(corpus, queries, k, defaultCentroids(dim, nCells), nprobe, idCol, vecCol)

  /** [[ivfKnn]] against an explicit centroid table (e.g. [[KMeans.train]]
    * output) — the trained-IVF form. Plan is identical to the untrained
    * path: centroids are literals, assignment scan-side, probe join
    * equi-keyed on the cell id.
    */
  def ivfKnnWith(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      centroids: Seq[Seq[Double]],
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty && centroids.map(_.size).distinct.size == 1,
      "centroids must be a non-empty table of equal-dimension vectors")
    // null embeddings would null-poison every cell dot and win the struct
    // argmin (nulls order first) — they can't be neighbors, drop them here
    val cb = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("cell", ivfCellOf(col("nv"), centroids))
      .withColumn("nnorm", norm(col("nv")))
    val qb = broadcast(queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(ivfProbesOf(col("qv"), centroids, nprobe)))
      .withColumn("qnorm", norm(col("qv"))))
    val scored = cb.join(qb, "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** ANN: top-k within the query's LSH bucket only (plus guaranteed
    * fallback to fewer results when the bucket is small — the standard
    * recall/latency trade).
    */
  def lshKnn(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      nBits: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("bucket", lshBucket(col("nv"), dim, nBits))
      .withColumn("nnorm", norm(col("nv")))
    val qb = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), dim, nBits))
      .withColumn("qnorm", norm(col("qv"))))
    val scored = cb.join(qb, "bucket")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** kNN LABEL-CONSISTENCY evaluation — the standard "is this embedding
    * space any good" probe a training pipeline runs before trusting
    * embeddings for SemDeDup / clustering / mixture decisions: for probe
    * vectors with known labels, the majority label of the k nearest
    * neighbors should be the probe's own label. Accuracy collapsing
    * means the space does not cluster semantically and every
    * embedding-driven operator downstream is firing on noise.
    *
    * Takes ANY family member's top-k output (`knn`: query_id,
    * neighbor_id, ...), so the same report runs against brute force, LSH,
    * IVF, or PQ — composes with [[knnRecall]] (recall measures index
    * faithfulness; this measures the SPACE). Majority vote ties break to
    * the smaller label (total order). Output per label: (true_label,
    * n_queries, n_predicted, n_correct, accuracy_ppm); queries with no
    * neighbors count predicted=0 and incorrect — visible, never silently
    * dropped.
    *
    * Scale shape: `knn` is |queries|×k rows; the only corpus-sized touch
    * is the fixed-width (id, label) projection joined to neighbor ids.
    * Votes, the per-query argmax window, and the label rollup all run on
    * model-sized frames.
    */
  def knnLabelEval(
      knn: DataFrame,
      corpusLabels: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    require(corpusLabels.columns.contains(labelCol) && queries.columns.contains(labelCol),
      s"corpusLabels and queries must carry '$labelCol'")
    val votes = knn
      .join(corpusLabels.select(col(idCol).as("neighbor_id"),
        col(labelCol).cast("long").as("__nl")), "neighbor_id")
      .groupBy("query_id", "__nl").agg(count(lit(1)).as("__v"))
    val w = Window.partitionBy("query_id").orderBy(col("__v").desc, col("__nl"))
    val pred = votes.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("query_id"), col("__nl").as("__pred"))
    queries.select(col(idCol).as("query_id"), col(labelCol).cast("long").as("true_label"))
      .join(pred, Seq("query_id"), "left")
      .groupBy("true_label")
      .agg(count(lit(1)).as("n_queries"),
        count(col("__pred")).as("n_predicted"),
        sum(when(col("__pred") === col("true_label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("true_label"), col("n_queries"), col("n_predicted"), col("n_correct"),
        expr("n_correct * 1000000 DIV n_queries").as("accuracy_ppm"))
  }

  /** IVF CELL PURITY — does the coarse quantizer respect semantics?
    * Per cell: member count, the dominant label, and its share
    * (purity_ppm). Low purity means the router splits semantic
    * neighborhoods across cells, which silently caps both IVF recall
    * (neighbors live behind unprobed cells) and SemDeDup (near-dups
    * never meet inside a cell) — this is the number that says whether
    * centroids need retraining BEFORE recall regressions show up
    * downstream. Ties break to the smaller label.
    *
    * Scale shape: assignment is the scan-side [[ivfCellOf]] argmax (no
    * shuffle); then one (cell, label)-keyed count and a window over the
    * |cells|×|labels| aggregate — the corpus shuffles once, as
    * fixed-width (cell, label) rows.
    */
  def cellPurity(
      corpus: DataFrame,
      centroids: Seq[Seq[Double]],
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(corpus.columns.contains(labelCol), s"corpus must carry '$labelCol'")
    val counts = corpus.where(col(vecCol).isNotNull)
      .select(ivfCellOf(col(vecCol), centroids).as("cell"),
        col(labelCol).cast("long").as("__l"))
      .groupBy("cell", "__l").agg(count(lit(1)).as("__c"))
    val tot = counts.groupBy("cell").agg(sum(col("__c")).as("n_vecs"))
    val w = Window.partitionBy("cell").orderBy(col("__c").desc, col("__l"))
    counts.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .join(tot, "cell")
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        col("__l").as("dominant_label"), col("__c").as("n_dominant"),
        expr("__c * 1000000 DIV n_vecs").as("purity_ppm"))
  }

  // ------------------------------------------------------------------ PQ

  /** Product-quantization geometry: 64-dim vectors split into [[PQ_M]]
    * subspaces of [[PQ_SUBDIM]] dims; each subspace has a [[PQ_KSUB]]-entry
    * codebook, so a vector stores as 8 four-bit codes — 32 bytes of float32
    * per subspace collapse to half a byte. PQ completes the ANN family's
    * compression axis: LSH buckets (no training), IVF cells (trainable
    * routing), int8 (4× memory), PQ (64× memory, table-lookup scoring).
    */
  val PQ_M = 8
  val PQ_SUBDIM = 8
  val PQ_KSUB = 16

  /** FROZEN TRAINED IVF centroids — [[KMeans.train]] run once over the
    * sf0.01 `embeddings` corpus (8 cells, 3 Lloyd rounds, via
    * [[TrainIvfTool]]) and baked as a literal: the [[refPqCodebooks]] /
    * [[graft.pipeline.Bpe.refTrainedMerges]] discipline completing the
    * train→freeze→serve→measure loop for the IVF coarse quantizer.
    * Training is deterministic (hash-seeded init, 1e-6-rounded means),
    * so PipelineOpsSpec can assert this table equals a fresh train on
    * the same corpus; `Double.toString` round-trips exactly, so the
    * parsed literal is bit-identical to the trained model and the DuckDB
    * oracle folds the same values.
    */
  /** FROZEN trained rotation (integer ppm, rows = principal components
    * descending): [[Rotation.trainPpm]] over the sf0.1 `embeddings`
    * corpus, 300 power iterations — produced by [[TrainRotationTool]]
    * and baked as a literal (the [[refIvfCentroids]] train-once-serve-
    * online discipline; training is deterministic, so re-running
    * reproduces this table verbatim). Serving:
    * [[graft.functions.MatVecFloor]] — see [[rotatePpm]].
    */
  val refRotationPpm: Seq[Seq[Long]] = Seq(
    Seq(103754L, 15168L, -59759L, -63343L, -45310L, 54819L, 45476L, -139312L, 121922L, 31080L, 48816L, 45035L, -35828L, 119900L, 21069L, -366779L, 204078L, -132186L, 144690L, -102113L, -199515L, -245280L, -123761L, 92576L, 225778L, -16702L, 131104L, -108676L, -158297L, -28512L, -58531L, 10400L, 67378L, 154386L, -11749L, -117511L, 20849L, 202940L, 141152L, -209943L, -154631L, 94510L, 145671L, 27484L, -109480L, -33075L, 70016L, 149147L, -143279L, -4249L, 73158L, -28383L, 148539L, 74547L, -5050L, -58063L, 10893L, 211350L, -113944L, -57360L, -239963L, -13541L, 200472L, -17172L),
    Seq(65357L, -155943L, -137120L, -6140L, 244265L, -211875L, -392081L, -70491L, 220943L, 257956L, -4089L, 31332L, 75983L, 4138L, 72996L, 58180L, 70637L, -148996L, -3156L, 214991L, 234920L, 79263L, 36065L, 150054L, -109745L, -40301L, -6775L, 45630L, 20408L, 86864L, 16801L, -23055L, -102638L, -133986L, -34658L, 235572L, 167710L, 52527L, 139226L, -65883L, 149003L, 23539L, 53147L, -10336L, -90066L, 25374L, -42537L, 27929L, -188661L, -16096L, 155745L, -73499L, 120199L, -69421L, 121312L, 196244L, 48394L, 78983L, 27035L, -74107L, -22577L, 89607L, 168384L, 93019L),
    Seq(128793L, -39659L, 66482L, 169242L, 102307L, 179536L, 156216L, -388533L, -62245L, -39930L, -124370L, 12130L, 92813L, 13107L, 9637L, 211512L, 19282L, 101564L, -68476L, -56072L, 249450L, -144911L, -172698L, -123147L, 17957L, -82937L, 71730L, 154487L, 14497L, -53081L, -102391L, 90051L, -36238L, -191282L, -56484L, 104455L, 69895L, 32593L, 71185L, -242278L, -256546L, 30070L, -44811L, 41793L, -192809L, 175092L, 40518L, 40522L, 93661L, 4767L, -222314L, 80258L, 242528L, -149644L, -42418L, -5906L, 14070L, -179542L, 9866L, -3655L, -16931L, 53212L, -4622L, 68919L),
    Seq(60499L, 163146L, -13027L, -131601L, 77091L, -48925L, 73784L, 23647L, -6920L, -26528L, -101379L, -100905L, 3467L, -44543L, -376234L, 153555L, 113814L, -193248L, 164972L, 39516L, 28671L, -156024L, -108120L, -149915L, -235287L, -66734L, -25298L, 67904L, -15912L, 235001L, -63245L, -156307L, 237821L, 92917L, -49390L, 39620L, 2853L, 51861L, -37409L, -39646L, -7967L, -170070L, -10383L, 224895L, 81368L, -50217L, 89160L, 278666L, -54275L, -144962L, 160368L, 141318L, -34350L, -201090L, 32735L, 15617L, 66308L, 34442L, 121251L, 75551L, 103351L, -1455L, -6898L, -252153L),
    Seq(151303L, -84361L, -50164L, -41489L, -94702L, 71482L, 9063L, 86751L, -345920L, 110133L, 41429L, 101450L, 178885L, 276080L, -90601L, -41853L, -7956L, 131869L, -65185L, -43269L, -140714L, 195057L, -223604L, -62714L, -54165L, 23207L, -162980L, 107112L, -45045L, 293194L, -36806L, 20320L, 57363L, 22999L, 197504L, 82260L, 233883L, -51824L, -68502L, 186500L, 66462L, 25939L, -4430L, -95578L, -139148L, 17156L, -11641L, 138224L, 112735L, 189647L, 44153L, -69257L, 194383L, -91830L, 32276L, -98546L, -14101L, 233519L, -88656L, -515L, -28319L, 190462L, -3715L, 61601L),
    Seq(6073L, -28684L, 100192L, -31356L, 176079L, 165665L, 63393L, 63589L, 190462L, -50560L, 264372L, -48973L, 10402L, 309149L, 483L, -36383L, 34063L, -155904L, 80750L, -25590L, 28399L, 82888L, -24973L, -205496L, -80864L, 23748L, 75527L, -112496L, 124986L, 96725L, -112989L, -81372L, 26890L, -31529L, 31451L, 50823L, -195944L, 127258L, 398035L, 75876L, -39398L, 52234L, -44098L, -175465L, 69642L, -34659L, 78764L, -29241L, 145132L, 121526L, 45491L, 104451L, -49251L, 97245L, 181095L, -35169L, 285524L, -144530L, -88514L, -41972L, 161046L, 94935L, -150088L, 148595L),
    Seq(88952L, 132218L, 219242L, -210830L, 186021L, 153896L, 128449L, 44408L, -181728L, -95615L, -115576L, 33285L, 50248L, 146038L, 8055L, -76612L, -172688L, 14060L, 69696L, 70329L, -119139L, 68961L, 130798L, 69842L, -148599L, 57012L, 43285L, 21162L, 47969L, 36580L, -141192L, -241927L, -192004L, -42267L, 45582L, 153379L, 19636L, -168158L, 27793L, -176291L, -81388L, 90950L, -25768L, -12068L, -83509L, 28989L, -30404L, -24685L, 23538L, -95647L, 23159L, -141729L, -204072L, -83668L, 61156L, 266223L, 39203L, 68106L, 36582L, -51483L, -283045L, -344105L, 105598L, 71763L),
    Seq(19701L, 163917L, 177364L, 19273L, 4728L, -126714L, 135709L, 158881L, 180128L, 33829L, -35286L, -194152L, 123685L, 34416L, -56593L, 260536L, -18747L, 1618L, 7643L, 69778L, -5555L, -223641L, 88792L, 115819L, 236175L, -32228L, -6313L, -81743L, 83424L, 77305L, 19111L, 135111L, -189148L, 57040L, 141231L, -9332L, 204798L, 92200L, 82691L, 25216L, 112078L, -65601L, -87108L, 128649L, 265533L, 47817L, 72870L, 132813L, 197724L, 362654L, -158713L, 47613L, 60574L, 25103L, 88861L, 104585L, -102541L, 100505L, -59732L, 73197L, -107461L, -74902L, 133307L, 99795L),
    Seq(47981L, 34553L, 116066L, -169750L, 28336L, 7324L, 58835L, -167632L, 50150L, 202463L, -20851L, 233724L, -84614L, -24868L, 219515L, 60660L, -145594L, -352160L, -157827L, -62769L, 41749L, -179108L, -14523L, 28295L, -151693L, -47184L, 121647L, 85742L, -78968L, 73788L, -27024L, 202684L, 120409L, 80860L, 138874L, 78175L, -54102L, -48169L, -216630L, 265797L, -107582L, -133867L, 169161L, -160785L, 158267L, 61875L, 107042L, 38478L, 180916L, -49020L, -31549L, -9717L, -25379L, 168604L, -29246L, 119435L, 16214L, 16109L, 84062L, -199860L, -151189L, 59881L, -62908L, -20667L),
    Seq(136278L, -77975L, -9328L, -21433L, 57399L, 6486L, -156306L, 71272L, -26371L, 43695L, 93922L, -72255L, -261577L, -166323L, 115553L, 110222L, -3595L, 112253L, 236063L, -104864L, -91591L, 231400L, -73790L, 111291L, 80010L, -65393L, 192900L, 82948L, 39097L, 309073L, 246826L, -14360L, 90L, -68807L, 223890L, -170386L, 85837L, 7688L, 102163L, -67700L, -178729L, -71645L, -30366L, 75110L, 12142L, 8726L, 251304L, -153295L, 236311L, -204077L, -60070L, -33921L, 81650L, -18548L, 82847L, 17214L, -10431L, -76256L, -92471L, -91569L, 43312L, -105055L, 102107L, -179418L),
    Seq(43363L, 29176L, -26520L, -111149L, 131685L, 44984L, 163421L, -178043L, -15385L, -35839L, -213096L, -173940L, 75565L, -26482L, -27854L, -134426L, 18021L, -70155L, 24669L, 201899L, -42289L, 39953L, -73047L, -87085L, -15015L, -201272L, 149808L, 136221L, 176616L, -131746L, 74158L, 100163L, -93894L, -234834L, 79832L, -171111L, 23829L, 48053L, 40705L, 191653L, 87612L, -132422L, -83478L, 86694L, -151227L, -131972L, -74562L, -42225L, 109706L, -55279L, 156526L, -126714L, -273390L, 179612L, 7284L, -53171L, -97844L, 9231L, -194729L, 128393L, -67827L, 320812L, 167442L, -43620L),
    Seq(181516L, 2617L, -11461L, -90291L, 202359L, 19502L, 17939L, 7913L, 95360L, -18301L, -39737L, 99316L, -137929L, 65256L, -308108L, -44494L, 174112L, -146935L, -92784L, 153519L, -100910L, 65963L, 95799L, -100321L, 124279L, 24411L, 48269L, 135847L, -281529L, -189348L, 147094L, 20939L, 63784L, 34433L, -229562L, 19495L, 152428L, -277809L, -19499L, 85120L, 35307L, 75059L, 123272L, 72083L, 104153L, 101520L, 175680L, -172797L, 144171L, -38750L, -90663L, -104509L, 46479L, -109190L, 74480L, -97233L, -94851L, 19869L, -179684L, 36498L, 146529L, -88735L, -76439L, 244712L),
    Seq(10949L, 8623L, 21789L, -26942L, 300484L, 3515L, -19524L, 51019L, 62547L, -152169L, -36406L, -39463L, 151253L, 110345L, 32319L, 62663L, -126709L, 1122L, -163510L, -205296L, 124448L, -9401L, 139003L, -117493L, -74899L, 18452L, -29561L, 22341L, 80775L, -40695L, 145191L, 61341L, -6328L, 28694L, 100132L, -265638L, 2074L, -89573L, 22990L, -215222L, 35128L, -97823L, 366810L, -281351L, 113098L, -90602L, -178009L, 79883L, -1932L, -53339L, 33361L, -116269L, 202832L, -52070L, -110901L, -49944L, 16210L, 153684L, -186647L, 150377L, 127753L, -83215L, 80108L, -233077L),
    Seq(85889L, 259326L, 112679L, 115080L, -34779L, -37048L, -151548L, -76394L, 26030L, 139286L, 62228L, -167481L, -86197L, 112684L, 190441L, -111982L, 1795L, 72032L, 47962L, 293754L, 105228L, 95382L, -318455L, -232788L, -54971L, 93896L, -145434L, -25753L, 105560L, 39089L, 106699L, 113547L, 53091L, 172724L, -194968L, -44195L, -188708L, -12148L, -139574L, 5011L, -127171L, -25337L, 30540L, 53975L, 93606L, 172614L, -107069L, -4471L, -18700L, 107966L, -151987L, -117747L, -165057L, -133626L, -35101L, 49941L, 61817L, 94007L, -209773L, -99666L, 35003L, -99277L, 169398L, -64804L),
    Seq(11488L, 17467L, 52338L, -144098L, -126065L, -27293L, 91089L, 80098L, 89599L, -117961L, 89368L, -2321L, -87135L, 3342L, -88416L, -250751L, 25509L, -26636L, 33488L, 90508L, 431592L, -4440L, -121410L, 74726L, -173438L, -38377L, -256995L, -189089L, -11934L, -65111L, -6864L, 173765L, -173828L, -175190L, 77761L, 91624L, 161739L, 18352L, 59481L, 68329L, -131885L, -47364L, -86110L, -47097L, 7530L, -38065L, 96741L, 4594L, 5731L, -138445L, -24963L, -115912L, 108731L, 53347L, 162907L, -218842L, -182214L, 75986L, -40305L, 11690L, -95838L, -202940L, -230457L, -185547L),
    Seq(93061L, -33477L, 202924L, 179866L, -85289L, 11460L, -18374L, 322590L, 77469L, 39493L, -97014L, 145220L, 322681L, 74476L, 47804L, 172182L, -12974L, -104034L, -29648L, 83081L, 132870L, -85251L, -46495L, 197141L, 145105L, -167262L, 23748L, -45724L, -100267L, 86470L, -124209L, 27967L, 266770L, 63321L, 47546L, 43624L, -193035L, -25764L, 57776L, -49726L, 9273L, 100685L, -72083L, 50363L, -171288L, 82065L, -92498L, -141395L, 91675L, -355385L, -48252L, -89405L, -154097L, 43209L, 20645L, -165546L, -27713L, 121422L, -141784L, 72138L, 79309L, 4931L, 59897L, -15043L),
    Seq(13766L, -200095L, -2462L, -42474L, -92961L, 184320L, -56703L, 79149L, 85318L, -281741L, -78877L, -46376L, -307814L, -49893L, -25436L, 104127L, -224963L, -52324L, -3604L, 52449L, -6124L, 128087L, -74071L, -37603L, 178973L, -126847L, 24339L, 67219L, 189830L, -158652L, 24198L, 167723L, 181195L, 247283L, 14983L, 315864L, -12996L, 11562L, -77295L, -124388L, 95600L, -215500L, 16835L, -15071L, -116109L, -41403L, -126227L, 22421L, -17394L, 53077L, 131255L, 140414L, 84159L, -65002L, 218971L, 25020L, 69544L, 89820L, -150846L, 10013L, -189654L, -21240L, -39640L, 48563L),
    Seq(104990L, 214974L, -85558L, 206866L, 176839L, -104793L, 125032L, 209997L, 42274L, 3834L, 136227L, 142066L, -46386L, -17885L, 87526L, -145126L, -120513L, 182448L, 115205L, -80618L, 214234L, 102459L, -88424L, -46739L, 39005L, -316131L, 288775L, 303920L, 63753L, -89414L, -172342L, -2668L, 59635L, 23188L, -84273L, -167406L, 31817L, 69267L, -95180L, 85497L, 21565L, 61048L, -10853L, 31177L, 32495L, 1309L, 14445L, 116356L, -64085L, 79130L, 141872L, -54805L, 43694L, 33413L, 69044L, 63521L, -70160L, 162621L, 206535L, 5639L, 51229L, -136044L, -142508L, 153786L),
    Seq(208218L, -52317L, 150981L, 25804L, -38458L, -103321L, 58749L, 131854L, 236580L, 5297L, -108388L, -270564L, -76207L, -14282L, 39321L, -147975L, -81669L, 56916L, -140816L, -131291L, 21789L, -145611L, -47075L, -31095L, -45523L, 97129L, -5914L, 68031L, 16859L, 7519L, 31778L, -153534L, 127965L, -21084L, 97039L, -60725L, 267362L, -34310L, -153514L, 1887L, 148431L, 278487L, 177001L, 153263L, -201838L, -50075L, -45193L, -30027L, -59638L, 38114L, -189753L, -95870L, -85129L, 28778L, 164816L, 47685L, 266779L, -166918L, 11494L, -136735L, -42638L, 142410L, -200982L, -138922L),
    Seq(101648L, -50643L, -31312L, 75783L, 109868L, -138690L, 126742L, 47652L, -130264L, -125617L, -192183L, -178145L, 63513L, -125494L, 24562L, -20652L, 321641L, -73686L, -191350L, -115562L, 150523L, 98308L, -215863L, 57257L, 26066L, 29300L, -140675L, 144923L, 4079L, -25351L, 51040L, -50715L, -15366L, 269263L, 121444L, -92354L, -198112L, -116784L, 288922L, 141509L, 126103L, -15518L, 23808L, -163530L, -21876L, 162165L, 148323L, -158007L, -102696L, 62497L, 77404L, 156641L, -35499L, -11439L, 12887L, 56104L, -71585L, -48274L, 124873L, -112546L, -229771L, -97051L, 43263L, -14542L),
    Seq(191032L, 37576L, 10822L, -40510L, -115722L, 41637L, -199796L, 65911L, -45337L, 141736L, 107084L, -267321L, 132624L, -32009L, 20470L, -119512L, 27855L, -64492L, 122861L, 100680L, 102061L, -96134L, 49093L, -150269L, 82156L, -8175L, 164056L, -15184L, -132863L, -136435L, 92012L, -165928L, -189462L, 33467L, -3476L, 2766L, -74970L, -218017L, -51211L, -20967L, 136678L, -224094L, -96530L, -48098L, -172483L, 17395L, -142223L, 49775L, 317241L, -84791L, 8002L, 184486L, 221281L, 124848L, -205844L, -51373L, 183391L, 100456L, 170148L, 1057L, -87965L, -64346L, -137375L, 7846L),
    Seq(50006L, 43940L, 30622L, 25748L, -99054L, 65578L, 328205L, 145314L, 66063L, 180356L, 94735L, -70931L, -43549L, 100037L, 138563L, 43006L, -21950L, -242256L, 76175L, -200670L, 1890L, 316248L, -40263L, 94908L, -159162L, 10715L, -77111L, -75148L, -101803L, -173402L, -132704L, 143076L, -113659L, 69559L, -159593L, -84805L, 74420L, -183700L, 30734L, -67144L, 64818L, -66439L, -70482L, 168521L, -77000L, -167780L, -8540L, -35010L, -67392L, -103550L, -81045L, 167257L, 161611L, -78491L, -63769L, 297112L, -90952L, -13922L, -91319L, -24598L, 113223L, 188497L, 141186L, -55607L),
    Seq(120932L, 43884L, 164980L, 47778L, 114284L, 154760L, -90656L, -43038L, -60528L, -85854L, -2642L, -189159L, -34251L, -224847L, -51923L, -120891L, -24664L, 100707L, 5755L, 65917L, 26171L, -67719L, -61164L, 284038L, 44973L, 433107L, -128439L, 136847L, -274L, 73029L, -317797L, 130615L, 53281L, -75134L, 1317L, -38442L, -133730L, 75315L, -10420L, -22120L, 57045L, -186090L, 165079L, 25890L, 1494L, -216966L, 62976L, 39566L, 90801L, -82722L, 51114L, -38581L, 54905L, 77579L, 19509L, 52955L, -76021L, 105514L, 31025L, -86383L, 239728L, 57283L, -26832L, 259277L),
    Seq(188743L, 74213L, 145812L, -148877L, 37603L, 9020L, -406817L, -18824L, 88726L, -143465L, 52973L, 28589L, -64060L, 132399L, 18184L, 122390L, 139237L, 64095L, 219502L, -204353L, -18274L, -537L, 103107L, -125732L, -45138L, 58995L, 67719L, -16118L, 136432L, -156229L, -291890L, 155209L, 1272L, 40613L, 111129L, 6933L, -98493L, -122518L, -3115L, 59343L, 104355L, 109115L, -60622L, 57456L, 8101L, 67191L, 134913L, -58909L, -79021L, 38391L, -102864L, -109407L, -39998L, -136763L, -137657L, -63727L, -244581L, 31836L, 110734L, 115505L, -181000L, 254828L, -60323L, -128507L),
    Seq(182384L, -47158L, -47883L, 125441L, 74737L, -317440L, 223507L, -14508L, -128440L, -132996L, 76461L, -88684L, -124447L, -54824L, 102705L, 110058L, 46120L, 53766L, 50392L, -86660L, 42279L, -18856L, 114876L, -56173L, 129356L, 86949L, 48976L, -123329L, 24643L, 43471L, -10083L, -112451L, -42886L, 36100L, -179736L, 331117L, -87925L, 66810L, 7838L, 179621L, 55727L, 93393L, -48072L, -63486L, 51063L, -83541L, -7620L, 275387L, 102239L, -205007L, 103816L, -278961L, 80848L, -6889L, -221152L, 23437L, -32028L, -73486L, -289895L, -122374L, -82508L, 74028L, -38797L, -24434L),
    Seq(118077L, 114232L, -76548L, -151962L, 31881L, 191747L, 104322L, -26068L, -59505L, 226760L, -71813L, -307854L, -29094L, 72406L, 7193L, 30727L, -2082L, 295242L, 177968L, 34975L, 117132L, 7552L, 281826L, 124696L, -64401L, -215208L, -122222L, -51271L, -93575L, -73516L, 86532L, -44716L, 304554L, 619L, 182201L, 120410L, -86193L, 20375L, 10343L, 137687L, -110744L, 2089L, 100188L, -20126L, 153084L, 84450L, -12979L, -88026L, -293230L, -54649L, -45211L, 56957L, 140384L, 125274L, -68051L, 19238L, 28844L, -25932L, -98721L, 62269L, -37035L, 57545L, -11095L, 170554L),
    Seq(251206L, 86641L, -13715L, 121288L, -36067L, -11313L, -8280L, 20292L, 139914L, -127174L, -19855L, -29246L, -16206L, 73294L, 109664L, -7017L, -79644L, -1937L, -133127L, 82201L, -166601L, 36599L, 187454L, 295618L, -126350L, -80096L, -83653L, 145686L, -28028L, 67497L, 110677L, 149422L, -38271L, 25033L, -126160L, 39456L, 113343L, -68818L, 198987L, -108487L, -225595L, -165264L, -105926L, 2629L, -78347L, 51675L, 138303L, 72869L, -80195L, 192242L, 159898L, 16866L, -210304L, -47283L, -357650L, -160675L, 158583L, 80269L, 26124L, -46441L, 42411L, 73499L, -236341L, -82387L),
    Seq(12513L, 169020L, -124106L, 141627L, -71599L, -47683L, -107023L, -28080L, 102L, -86898L, -212910L, -83588L, -39392L, 226948L, 85569L, 135617L, -43176L, -195404L, 126466L, 61058L, -45341L, -22403L, 112341L, -99929L, -38649L, 131266L, -235667L, 187491L, -205559L, -143608L, 97175L, 122930L, 57884L, 86943L, 185103L, -163381L, -3271L, 237437L, -39002L, -7157L, -114244L, 204251L, -257026L, -57687L, -43173L, -178627L, -73407L, -48851L, 154394L, -65528L, 220484L, -168938L, 163050L, -33009L, 97319L, 104863L, 542L, -134813L, 107230L, -12927L, -20743L, -86994L, -49925L, 80378L),
    Seq(97069L, 168050L, -217206L, 27681L, 60252L, -115017L, -24820L, -46406L, 174843L, 196825L, -136201L, 127700L, 213193L, -128334L, 69417L, -143225L, -26812L, -23449L, 51995L, -336531L, -2273L, 104021L, 65078L, -137073L, 57847L, 62676L, -196730L, -67604L, 145735L, 57714L, -65642L, -87329L, 214191L, -78495L, -44092L, 105174L, 40925L, -36292L, 19856L, -65110L, -58728L, -279188L, -24921L, 108930L, 19522L, -242520L, -59769L, -162195L, 167420L, 86920L, -43401L, 20114L, -92303L, -113851L, 27305L, -191787L, -45257L, -102000L, -81543L, -18275L, -223511L, -123206L, -22880L, 166156L),
    Seq(26999L, -23330L, 40185L, 82624L, 25516L, 100333L, -65387L, -73387L, -20804L, 297204L, -116510L, -151640L, -31080L, -147668L, -48929L, 45141L, -41233L, 70189L, -150340L, -279785L, -162082L, -4531L, -130407L, 141834L, -260868L, -42279L, 176145L, -124229L, -79402L, -200652L, 45575L, 134422L, -116712L, 31376L, 29103L, 88243L, -225996L, -122889L, 91624L, -5242L, 40081L, 120959L, -146287L, 108315L, 127145L, 17799L, -62627L, 201003L, 46665L, 63063L, 167454L, -218825L, 19911L, -95587L, 271291L, -247246L, 97672L, 50677L, -7857L, 40945L, 58958L, -108386L, -1164L, 2779L),
    Seq(62392L, -47954L, 53831L, -23848L, -23197L, 109612L, 126810L, 18090L, 9886L, 77665L, -89515L, 68583L, 71343L, -48183L, -123344L, -68908L, -56063L, -15823L, 171023L, -16629L, 107022L, 164853L, 187925L, 23190L, 207221L, 289225L, 62512L, 166072L, -55531L, 61246L, 100966L, 120270L, 152474L, -169851L, -230836L, -113189L, -19765L, -25774L, 60080L, -63564L, 82559L, -35823L, -273701L, -230888L, 219593L, 189314L, -145510L, 137573L, -106241L, -4763L, -98964L, -61856L, -12083L, 9755L, 201325L, -51110L, 88335L, 49094L, 127034L, -162914L, -171445L, 170622L, 34259L, -223426L),
    Seq(148013L, -69845L, 80347L, 33393L, -91466L, -41165L, -202235L, -105189L, -278120L, -45606L, -7877L, -18184L, 232322L, 19795L, -149791L, -9245L, -33595L, -42242L, 76971L, -181181L, 44041L, 112695L, -41290L, -51203L, 31666L, -108437L, -77754L, -21195L, 101976L, -178030L, 77017L, 50809L, 24186L, 192643L, -150671L, 136218L, 233401L, 59531L, 141118L, -129782L, -141741L, 58260L, 136773L, 144172L, 230379L, -8476L, -35713L, -16298L, 80393L, -25839L, 24779L, -51042L, -149233L, 460873L, 57825L, 169900L, -39965L, -4181L, 96673L, -101185L, 141131L, 25316L, -38892L, -67189L),
    Seq(54402L, 167962L, 101481L, -129308L, 117637L, -375077L, -26258L, 29432L, -120884L, -128384L, 47691L, -53817L, 49050L, -190656L, -34527L, 44987L, -25007L, 63058L, -48525L, -5072L, -151699L, 47911L, -67859L, -5709L, -205971L, -83706L, 37166L, -291356L, -113906L, -59811L, 69653L, 106075L, 170071L, -23273L, -126091L, -93279L, 16366L, 117639L, -99821L, -212832L, -38743L, -72667L, -168875L, -324567L, -172123L, 41118L, 138363L, -49631L, 9063L, -25130L, -149056L, 35209L, 29193L, 53586L, 173417L, 95437L, 91386L, 106510L, 5088L, 113546L, -63253L, 183885L, -38994L, 214903L),
    Seq(25262L, 117682L, -78177L, -43623L, 25468L, -50277L, 23665L, -225550L, 139146L, -75700L, -67483L, 56531L, -32212L, -94623L, 110173L, -18758L, -136763L, 146257L, 70348L, -24812L, -93663L, -55882L, -97223L, -95751L, -93901L, 81529L, 78995L, 17214L, -262696L, 194287L, -55841L, 539L, -127061L, 166253L, 114171L, 27175L, 143364L, 24182L, 239341L, -20932L, 159396L, 47995L, -75808L, 14725L, 122534L, 175601L, -381711L, -109960L, -24673L, -177793L, 2896L, 239239L, -88077L, 8111L, 39650L, 47642L, -212905L, 139292L, -180341L, -11149L, 77594L, 52445L, -279448L, 20207L),
    Seq(174193L, 82263L, 51358L, -70224L, 148854L, 36661L, -53573L, 121673L, -104016L, -239836L, 1908L, 215637L, 146889L, -132796L, 228468L, -38688L, -97417L, -64733L, 125158L, -10826L, 61222L, -23433L, -219642L, 39395L, 162186L, 98177L, -62280L, -50219L, -181412L, -53036L, 159564L, 15943L, -198697L, -37954L, 79552L, 60151L, 19638L, -67766L, -83203L, 152853L, -111164L, 13785L, 24148L, 178358L, 222324L, -57069L, -8737L, 41786L, -208862L, -29203L, 68369L, 112985L, 25430L, -76115L, 54578L, -80102L, 327196L, -177271L, 12826L, 276630L, -27418L, 157399L, 92504L, 80451L),
    Seq(11068L, 193350L, 164326L, 90437L, -85407L, -63493L, -169176L, -40203L, 14878L, -142217L, 52402L, -54019L, -3702L, 103009L, -54845L, -153591L, 50780L, 35747L, -207457L, -13909L, 89094L, 84525L, 154690L, 39248L, -18644L, 45335L, 281482L, -13037L, -121584L, 193655L, 106320L, 73879L, 150565L, 10015L, -2896L, 96664L, 9514L, -214123L, 56953L, 157225L, -190208L, 11735L, -17314L, -33076L, -158914L, -198162L, -180176L, 226570L, -60007L, 72897L, 2582L, 200315L, 15535L, 68892L, 147493L, 28310L, -278144L, -290228L, 5787L, 83095L, 6752L, -58885L, 207855L, -5124L),
    Seq(161309L, -38338L, 91942L, -67658L, -34468L, -155309L, -22517L, 5165L, -262240L, 130388L, 36051L, 12631L, -167015L, 6624L, -148125L, 303893L, -165711L, -175446L, 139946L, 17022L, 144409L, -2174L, -8779L, 53277L, -9209L, -8234L, 46030L, 40687L, -161505L, 75644L, -38446L, -50625L, -133473L, -123041L, -139680L, -194225L, -180997L, 88744L, 31037L, -48411L, -35859L, 87766L, 219352L, 39652L, -98977L, -203653L, -169230L, -154525L, -133384L, 308316L, 23402L, 113088L, -68361L, 51582L, 20274L, -221261L, -74592L, -1549L, -161280L, -76620L, -171642L, -40531L, -120069L, 7827L),
    Seq(114803L, 131029L, 135928L, 170758L, 119055L, 28184L, 69567L, 115431L, -158453L, 223248L, 175523L, 98285L, -24741L, -291320L, -81461L, -124135L, -139861L, -185729L, -106812L, 121430L, -195591L, -133730L, 172739L, -188680L, 45261L, 124534L, -65132L, -30201L, 290336L, -17093L, 78116L, 59571L, 28954L, 27315L, 86192L, 63760L, -16164L, 61001L, 184301L, 73430L, -118220L, 53637L, -15302L, 101296L, -165638L, 168126L, -61794L, -175824L, -141043L, 3109L, 98687L, -24921L, 255691L, -15293L, 34719L, 73947L, -125346L, 2681L, 17442L, 147095L, 4904L, 42945L, -96925L, -146736L),
    Seq(184416L, 213984L, -10368L, -62469L, -50724L, -68227L, 44105L, 23333L, -16315L, 13339L, -210460L, 138596L, -240871L, -87193L, 130656L, -7919L, 169270L, -48945L, 97150L, -1264L, -86352L, 42163L, 60966L, -47408L, 181503L, -177470L, -214239L, -86277L, -58839L, -30386L, -226477L, -61698L, -69308L, -174070L, 143066L, 111844L, -41085L, -117339L, -47823L, -141466L, 78587L, -33857L, 83703L, -194051L, -107506L, 200179L, -97216L, 109024L, 55483L, 197045L, 83356L, 4885L, -19213L, 155991L, 130733L, -49398L, 10411L, -116931L, 33927L, -53092L, 377211L, -19887L, 130031L, -159938L),
    Seq(61450L, 3752L, -126278L, 85567L, -361870L, -67212L, -21887L, -28442L, 134643L, -99770L, -203312L, -73913L, 254814L, -165172L, -192824L, -31584L, -191643L, -106232L, 207478L, 51453L, -96461L, 61466L, -58017L, -140496L, -30998L, -22478L, 163460L, -67725L, 114538L, 126108L, -110570L, 232668L, -51564L, -163301L, 54727L, -38327L, -59439L, -216038L, 22255L, 88353L, 1352L, 171736L, 146801L, -163414L, 41024L, 34727L, 193524L, -5473L, -175189L, -10468L, 60403L, -8939L, 106165L, -25833L, -111591L, 136022L, 107930L, -42230L, -149533L, -71658L, 39868L, -164523L, -26217L, 121461L),
    Seq(87776L, 57555L, -61863L, 32665L, -65175L, 83468L, 139808L, 37644L, -113546L, 36965L, 7000L, 22756L, -148251L, 49913L, 2922L, 121225L, 82797L, 73969L, -12971L, 105881L, 111078L, 21593L, 34587L, -97385L, 24032L, 61982L, 138921L, -399887L, 31116L, 81448L, 8414L, 287045L, 48493L, 72041L, 24025L, -134079L, 249008L, 2614L, 155946L, -29451L, 112670L, -76276L, 257452L, 30185L, -33354L, 34783L, -161130L, -48914L, 47292L, -137546L, 167273L, -146408L, -147830L, -170980L, -61969L, -108716L, 92363L, -119657L, 364639L, -75389L, -68146L, 19699L, 72104L, 195718L),
    Seq(47221L, 64954L, -56722L, 93998L, -127086L, -61273L, 108603L, -180986L, -55832L, -164741L, 53142L, 99438L, 91307L, 78732L, 21328L, -26361L, 346130L, -162386L, 175974L, -4696L, -24537L, 43406L, 185399L, 278510L, -152449L, -28353L, 70231L, 65256L, 302420L, 131246L, 159871L, -3628L, -139314L, 127868L, 60370L, -51645L, -155467L, -38009L, -190464L, -43688L, 40599L, -101435L, 113280L, 126946L, -26033L, 91627L, -204441L, -7528L, -17434L, -20804L, -183338L, -118364L, 108030L, -30253L, 246132L, -18770L, 77697L, 11207L, -28560L, 43513L, 36391L, 45560L, -216950L, 142856L),
    Seq(28322L, 13296L, 69289L, -17856L, -114418L, -197699L, 85603L, -112307L, 2806L, -44180L, 380098L, 53560L, 95457L, 83985L, -118167L, 81678L, -28023L, 184829L, 142215L, -190209L, -2691L, -293574L, 65203L, -7068L, -49638L, 76116L, -44655L, 213017L, -46626L, -216716L, 62784L, 121165L, 2252L, -43382L, 91040L, 69762L, 61795L, -60368L, 10525L, 138022L, 58682L, -200333L, -35401L, -36552L, -159013L, 69138L, -9138L, -201732L, -78016L, -40293L, 169711L, 37042L, -132257L, -106453L, 135384L, -9519L, 155028L, 19963L, -90391L, -209159L, 123385L, -117244L, 283701L, -28910L),
    Seq(105475L, -157552L, 196683L, -29430L, -35498L, 18233L, -82170L, 18170L, 92644L, -7285L, -168362L, 139304L, -86372L, 28915L, -20960L, -58405L, 145818L, 269398L, -64663L, -123703L, -36597L, -117394L, 142645L, -47591L, -19222L, -193109L, -254898L, -78757L, 65682L, 166020L, 25135L, 133218L, -93510L, -131362L, -332506L, -203836L, -138571L, 9261L, -22000L, 197410L, -65121L, 89500L, 30466L, 97810L, 11093L, 11488L, -91816L, -32441L, 193716L, -89121L, 238896L, 215945L, 101397L, -39259L, 81910L, 248801L, 116857L, 99293L, -23627L, 27584L, -114573L, 2199L, -11750L, 10087L),
    Seq(258913L, -332797L, 85254L, 213162L, 66659L, 25984L, 8831L, 52614L, 107159L, -29467L, 90641L, -83922L, -22538L, 45877L, -82132L, -95312L, -139583L, -87483L, 63058L, 37647L, -116662L, -159144L, -63141L, -24654L, -123228L, -151161L, -127904L, -89673L, 67584L, 53669L, -16972L, -192713L, -86933L, 57742L, 53037L, -154469L, 39066L, -96132L, -228750L, -111559L, -91598L, -106302L, -147548L, -163935L, 224856L, 82648L, -95974L, 12182L, -100284L, -56359L, 90672L, 11776L, -9355L, -30742L, 11915L, -130861L, -307708L, -211565L, 68816L, -149379L, -11902L, 111517L, 141260L, 212145L),
    Seq(216252L, -162250L, -244464L, 192984L, 86971L, 92399L, 50305L, 9248L, 170100L, 30548L, 30593L, 126536L, 60032L, -36582L, -201670L, 137466L, 90898L, 152606L, 56586L, 101917L, -22437L, 12103L, -91992L, 51726L, 42347L, 112126L, 57005L, -223394L, -156875L, -160361L, -5788L, -69654L, -15181L, 13953L, 159437L, -10915L, -105064L, -25412L, -41271L, 154576L, -271920L, -150021L, 52986L, -108514L, -87395L, -138572L, -111871L, 15027L, 37469L, 156472L, -100950L, -96709L, -178550L, -30651L, 79255L, 370225L, -24977L, 95007L, 42531L, 84867L, -19720L, 6619L, -137713L, -216080L),
    Seq(187617L, -111033L, -66292L, -369396L, 86984L, -18638L, 21332L, 297625L, 41066L, 65603L, -103558L, 55878L, 86004L, 65940L, -5102L, 20585L, 132939L, 48446L, -81368L, -49894L, -148033L, -35895L, -95203L, -126253L, 10601L, 46497L, 72980L, 94428L, 117404L, -27443L, 202429L, 262855L, -113482L, -66248L, 33788L, 96663L, -151342L, 255373L, -26375L, -23455L, -30634L, -15549L, -90874L, 45242L, -96159L, -83169L, -152547L, 135177L, -182681L, -81469L, -213779L, 71741L, -26837L, 24219L, -140514L, 2749L, -124642L, -84896L, 78930L, -227699L, 181887L, -187326L, -54684L, 118207L),
    Seq(39266L, -43725L, 65347L, -233692L, 58261L, 19539L, 21947L, -235758L, 22636L, -172361L, -11393L, -64320L, 151291L, -80451L, 217312L, 134444L, -89391L, -110848L, 24158L, 58556L, -2991L, 55973L, -7690L, 98758L, 134961L, -17545L, 3483L, -248262L, 163192L, -120966L, 63410L, -208623L, 221961L, -21854L, -56001L, -159809L, 84372L, -104312L, 34352L, 260548L, -108537L, 151930L, -116719L, 77795L, -80504L, -57182L, -71253L, 25162L, -14631L, 104955L, 46274L, 51558L, 121558L, -179193L, 41159L, -88043L, -98332L, 258653L, 128546L, -288530L, 224117L, -85097L, -26329L, -10079L),
    Seq(95222L, 37463L, -162401L, 77867L, 140530L, -130760L, 87857L, -32301L, 17338L, -121790L, 65190L, 77787L, 116043L, 10514L, -56618L, -47595L, -57996L, 181624L, -115701L, 335941L, -141315L, 128370L, 130255L, -17223L, -132494L, -66241L, 5327L, -21613L, -31876L, -59885L, -169287L, 132490L, -27909L, 57347L, 102634L, 79411L, -164552L, -5280L, -47724L, -93985L, 47749L, 159730L, 72876L, 178550L, 164891L, -171903L, 29933L, -106305L, 138252L, -41518L, -101016L, 216204L, 185360L, 69051L, 82432L, -209376L, 95508L, 3588L, 102963L, -300452L, -121918L, 74131L, 170002L, -239971L),
    Seq(138328L, 144558L, 229340L, 163940L, 57462L, 159456L, 63221L, -215896L, 170137L, 155919L, 19776L, 92012L, 128897L, 58185L, -12954L, 122209L, -5702L, 77716L, 120154L, 23732L, -94530L, 203637L, -55661L, 67425L, 34688L, 82099L, -62217L, -73503L, 67447L, -71418L, 245669L, -37212L, -74986L, 38836L, -48581L, 71356L, 48195L, 216409L, -201835L, 30307L, 291342L, 107572L, 146008L, -192145L, -130625L, -55191L, 243488L, 104159L, -30187L, -128288L, 132163L, 245758L, -85418L, 48101L, 13666L, -124193L, -136022L, -68358L, 38019L, 82453L, -47464L, -137263L, -80832L, -79924L),
    Seq(10540L, 45643L, 56259L, 101785L, -155777L, 76706L, 11524L, -15279L, 70510L, -137753L, 293475L, 28382L, -38142L, -130862L, 96721L, 123141L, 59213L, -62688L, -32923L, 36636L, -172937L, 10840L, -110168L, -124862L, -70312L, -157872L, -239296L, 133446L, -116568L, -46492L, 218593L, -58088L, 178994L, -385257L, 85324L, 20661L, -126732L, -116344L, 246476L, -90714L, 162454L, 45317L, 160091L, 88026L, 87673L, -89185L, -85330L, 223992L, 3860L, -47604L, -127960L, -102117L, -47464L, 33473L, -14046L, 95982L, -101359L, 124359L, 136176L, -18449L, -188487L, -4339L, -3788L, 128896L),
    Seq(126827L, 73460L, 166567L, -155347L, -196050L, 123574L, -52062L, -8583L, 115990L, -145172L, 35983L, 152202L, 139307L, -146085L, -120153L, -70586L, -43102L, 36634L, -152713L, 5247L, 64840L, 202254L, 3725L, 66556L, -135000L, -83382L, 93720L, -40775L, -184347L, -57556L, -21116L, -189716L, 41696L, 46631L, 4452L, -84123L, -64581L, 382578L, 27201L, 39978L, 171308L, -177798L, 328L, 115959L, 32806L, 179426L, -62990L, -83142L, 64271L, 176222L, 89647L, -248014L, 197177L, -95386L, -156556L, 105753L, -10067L, -257075L, -102713L, -101281L, -13499L, -12817L, 73686L, -43812L),
    Seq(97471L, 207600L, 22550L, 97434L, -249874L, -413L, -59516L, 67994L, -99230L, 44348L, -278634L, 246685L, -142568L, 218147L, 26321L, 20272L, -34128L, 130546L, -159041L, 59293L, 85340L, -197812L, -63510L, -39690L, -24054L, 86812L, 171370L, -66600L, 157885L, -126102L, 178075L, -277469L, -49592L, -75365L, 29737L, -6750L, -47118L, -56136L, 156577L, -88497L, 74648L, -171467L, -55969L, -33961L, 155226L, -217902L, 219533L, -82059L, -125441L, -80574L, 2723L, 29128L, 99708L, -27652L, 99910L, 62078L, -48909L, 128060L, -62616L, -169536L, 71744L, 195644L, -30623L, 31593L),
    Seq(128141L, -34714L, -234712L, -109956L, -133688L, 38498L, 149003L, 87268L, 211762L, -117502L, 19832L, -44555L, 11338L, 6964L, 117012L, 186311L, -52237L, 43044L, -88421L, -71198L, 105418L, 37666L, 37859L, -155509L, -173783L, 338807L, 55860L, -1042L, 3469L, 103767L, 87054L, -115997L, -24761L, -33641L, -100677L, 45838L, -109241L, -11748L, -125616L, -82252L, -128860L, 59935L, 50525L, 180941L, -101569L, 257578L, 121560L, -63047L, 37163L, 71116L, 204260L, -20920L, 26124L, 342733L, 95007L, -93717L, -139470L, 187821L, 91605L, 157325L, -10643L, 48593L, 196650L, 88293L),
    Seq(102837L, 276054L, -321260L, -139693L, -33251L, 67591L, -111512L, -19441L, -55429L, 9655L, 262784L, -207740L, 81232L, 173201L, -68429L, 106389L, -45564L, -73546L, -362884L, -64394L, -76996L, -8452L, -121632L, 176357L, 298020L, -55119L, -15136L, -30523L, 93945L, 12892L, -127810L, 5013L, -50146L, -197045L, -73367L, -78392L, -39206L, 3061L, -139020L, -55406L, -13661L, 14422L, 3953L, -19107L, 106373L, 152598L, -22173L, -36585L, -27252L, -195085L, 154461L, 49077L, -44579L, -75887L, 144540L, 109042L, -43152L, -139795L, -70441L, -38503L, -94047L, 22347L, -161999L, -86039L),
    Seq(186329L, 109674L, -161047L, 174705L, 70003L, 240049L, -145501L, -20214L, -57595L, -96669L, 42127L, 124172L, -198749L, -115806L, -129151L, 119757L, 105421L, -133714L, -134888L, -87542L, 69635L, -22737L, 46565L, 26184L, -171562L, 38188L, -31917L, -73183L, 127664L, -5279L, -110379L, -26194L, 35954L, -21841L, 33509L, -154255L, 213247L, 60299L, -40485L, 167899L, 133230L, 85833L, -270472L, -22980L, -9681L, -8650L, -88390L, 62595L, -94007L, -60567L, -206995L, 112565L, -39008L, 254011L, -138702L, -48981L, 230835L, 118900L, -192231L, -22979L, -52896L, -210112L, 203157L, 64940L),
    Seq(159682L, -192127L, 175510L, -65381L, -206268L, -40714L, 56059L, -95805L, -8272L, 101285L, 66978L, -74488L, 97210L, -68811L, 287284L, 160174L, 272914L, 54686L, -182272L, 182595L, -135655L, 87983L, 90125L, -226362L, 22663L, 4578L, 95737L, 144508L, -32841L, 8666L, -294817L, -37587L, 1926L, 40989L, -43256L, -70786L, 169452L, 43494L, -6648L, -10636L, -71888L, -157245L, -60775L, -74282L, 172628L, -205438L, 25711L, -52827L, -224411L, -74034L, 43717L, -76541L, 30693L, 37707L, 167768L, -64118L, 80082L, 7053L, -34402L, 208151L, -16361L, -203368L, -73393L, -59445L),
    Seq(143178L, -115617L, -128311L, 108634L, -71115L, -113633L, -68516L, -83471L, -81184L, -58562L, -116525L, -111936L, -63485L, 184552L, 54787L, -105782L, -342583L, -101378L, -39516L, -68306L, -94368L, 43228L, 150738L, -28334L, 22836L, -58871L, -58163L, -16706L, -88453L, -23042L, -85326L, -59733L, -106183L, -25708L, -103774L, -26148L, -88156L, 250888L, 170518L, 278292L, 64186L, -206717L, 154569L, 50513L, -79031L, 152923L, 114677L, 103091L, -24071L, -153035L, -351968L, 19311L, -45816L, -121036L, 173619L, -66738L, -14201L, 71015L, 178371L, 176954L, 72753L, -91678L, 123675L, -22533L),
    Seq(172640L, 1912L, -73748L, 22906L, 39682L, 169013L, 82117L, -122101L, -45581L, -110313L, 42768L, -104610L, -10639L, 42241L, 54216L, -105126L, -16517L, -72337L, -252L, -89520L, 22236L, -191400L, -67965L, 15231L, 28999L, -156764L, 57637L, -58621L, -84784L, 305729L, 126197L, 115194L, 32395L, -33142L, -174202L, 239055L, -80403L, 12476L, -84336L, -40179L, 269061L, 69845L, -154929L, -96149L, 69679L, -256502L, 10922L, -414607L, -48530L, 173199L, -47085L, -159802L, 44358L, -10086L, -39999L, 91049L, -37304L, 78213L, 203826L, 138740L, 132904L, -83312L, 76316L, -151757L),
    Seq(26304L, -13359L, 29756L, -77990L, 23425L, 35516L, 14983L, -226090L, 30900L, 58428L, 110975L, 74783L, 16640L, -84210L, -116741L, -19644L, -130788L, 27952L, -166773L, -45087L, 221581L, 97194L, 219464L, -229368L, 246684L, -126200L, -165398L, -71247L, -117644L, 196941L, 56868L, 52620L, -169342L, 243056L, 211763L, -147206L, -185952L, -109573L, -49902L, -142538L, 60401L, -6533L, -178453L, 167850L, -155234L, -115607L, 219990L, 160150L, -166971L, -39244L, -11434L, -133663L, -135836L, 35529L, 58069L, 65030L, 60441L, 69261L, -23985L, -101728L, 69764L, 72162L, -54365L, 120207L),
    Seq(225513L, -36112L, -4284L, -162399L, -268525L, -125851L, 85187L, -84615L, 40986L, 104810L, 93470L, 18646L, -112047L, -137624L, -125875L, -133584L, -10546L, -51858L, -112400L, -9382L, 174280L, 90668L, 55113L, 95384L, 20454L, 21594L, 15726L, 145889L, 162315L, -92639L, 27722L, -76009L, -8884L, 50451L, 161612L, 65524L, -38126L, 134873L, 20674L, -104487L, -119972L, 320353L, 178L, -186265L, 160760L, -91232L, -94333L, -6260L, 219699L, -40620L, -24007L, 166313L, -170030L, -285016L, -118027L, 16470L, 44414L, 134126L, 72663L, 247709L, 97524L, 97060L, 163274L, 92066L),
    Seq(73491L, -186760L, 124485L, 2557L, 76732L, -344759L, 87576L, -218820L, 3483L, 46509L, -25635L, 93361L, -142134L, 308579L, -89593L, -81762L, -89944L, 5727L, -43433L, 28838L, -16847L, 116220L, -162069L, 110866L, 85010L, 149218L, 29236L, -109372L, 68230L, -29961L, -11634L, 55934L, 254486L, -180928L, 198660L, -74817L, -100511L, -107251L, -14568L, -94348L, 143125L, -86025L, -158777L, 227819L, 86124L, 106022L, -52212L, -11539L, -37487L, 14958L, 87292L, 39465L, 96530L, 174264L, -202035L, 83996L, 90889L, -43849L, 49316L, 219114L, 12905L, -205899L, -81058L, 653L),
    Seq(56916L, 71407L, -127373L, -265594L, -47843L, -30905L, 29438L, -68467L, 145606L, 92082L, 50606L, 157913L, -33837L, -20236L, -61767L, 134180L, -190471L, 175185L, 70590L, 138654L, -67531L, -134999L, -189670L, 170075L, -9365L, -25450L, -160488L, 135123L, 176991L, 30923L, -33751L, -54824L, -6213L, 302344L, -221870L, -126626L, -20686L, -217853L, 241401L, 68401L, 53475L, 36202L, -27401L, -130812L, -114467L, -120394L, -46974L, 79868L, 43944L, -56025L, -120868L, -191873L, 154592L, 176362L, 15989L, -45172L, 30093L, -271392L, 89619L, 167876L, -27507L, -2503L, 65914L, -8173L),
    Seq(160863L, -199713L, -227458L, -69149L, -15555L, 91605L, -22396L, 53553L, -256833L, 18013L, 71104L, 88365L, 117777L, -45195L, 273738L, -126731L, -30184L, 15798L, 81213L, 144371L, 122762L, -226661L, 144090L, 28438L, -160258L, 56610L, 21299L, -50312L, 2963L, -83144L, 29760L, 111799L, 211327L, 24803L, -27944L, -144166L, -8252L, -36964L, 47067L, -148431L, 244224L, 78770L, -27020L, 65354L, -6690L, 52930L, 199315L, 200157L, 146601L, 150614L, 39097L, 137919L, -147490L, -108046L, 119113L, 125900L, -137583L, -192673L, -232539L, 72492L, 31148L, -104546L, -77735L, -57768L)
  )

  /** Embedding re-expressed in the trained principal basis as
    * exact-integer ppm doubles — the truncation-ladder serve path: a
    * PREFIX of this array is the best d-dimensional linear sketch of
    * the corpus the trained basis offers, where a prefix of the RAW
    * array is an arbitrary coordinate subset (ext_knn_dim_recall
    * measures the gap). Full-length rotated cosine equals exact cosine
    * up to the matrix's ppm rounding (orthogonality).
    */
  def rotatePpm(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.MatVecFloor.of(vec, refRotationPpm)

  /** [[rotatePpm]] as an ALREADY-ppm long array — the input contract of
    * the PQ family's kind-0 path ([[graft.functions.PqKernel]]): the
    * rotated doubles are exact integers, so the cast is lossless and
    * engine-identical (Spark truncation == DuckDB rounding on exact
    * ints). This is the rotated-PQ (OPQ-style) serve input.
    */
  def rotatePpmLong(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    rotatePpm(vec).cast("array<bigint>")


  val refIvfCentroids: Seq[Seq[Double]] = Seq(
    Seq(0.025416, 0.040068, 0.008489, 1.16E-4, -0.011068, 0.019375, 0.063418, 0.021082, 0.01399, -0.057459, 0.076434, -0.006983, 0.009293, -0.013321, 0.015576, 0.038556, 0.052695, 0.040208, -0.039346, -0.035976, -0.023297, -0.020578, 0.013782, -0.001794, -0.017992, 0.022205, -0.027033, 0.014803, 0.038176, 0.021163, 0.0578, -0.01591, 0.005221, 0.012709, -0.030898, 0.010246, -0.045167, -0.026724, 0.014747, 0.020969, -0.00447, -4.76E-4, -0.039095, -0.045231, -0.022134, -0.005039, 0.029025, 0.028119, -0.001209, -0.009864, -0.035575, 0.024908, -0.049172, -0.026929, 0.033143, 0.002092, -0.033422, -0.022961, -0.025456, -0.081535, -0.027706, -0.05005, 0.012103, -0.051374),
    Seq(0.021616, -0.012101, -0.019465, 0.029743, 0.048977, 0.005254, -0.049333, -0.020234, -0.019128, -0.042929, 0.016902, -0.016473, -0.016748, 0.022514, 0.008958, -0.010403, 0.026869, 0.040482, -0.001855, -0.036829, 0.028741, 0.051574, 0.063511, -0.103412, -0.029494, -0.024909, 0.042019, 0.042231, -0.0452, -3.52E-4, 0.029624, -0.048081, -0.032768, -0.016531, 0.021364, 0.025572, 0.061666, 0.007157, 0.029054, 0.061703, 0.013662, 0.029604, 0.032749, -0.031744, -0.024182, -0.010035, -0.027262, 0.013549, -0.01396, 0.025947, -0.01458, -0.034295, 0.012086, 0.016124, 0.014281, 0.001171, -0.015271, -0.025422, 4.25E-4, 0.032751, -0.02262, 0.034163, 0.042801, -0.02009),
    Seq(0.0022, -0.031406, 0.033996, 0.00513, 0.003798, -0.071157, -0.020485, 0.080152, -0.029182, 0.059571, -0.006797, 0.002988, 0.062544, 0.03555, 0.010051, 0.010726, -0.03241, -0.016341, -0.040369, 0.030728, 3.28E-4, -0.024727, 0.019958, 0.01243, 0.015524, 0.006077, -0.042073, 0.022506, -0.027661, 0.059067, 0.016415, -0.0255, 0.05867, 0.064388, 0.024968, 1.21E-4, -5.34E-4, 0.023535, -0.017939, -0.00152, -0.038805, -0.013336, -0.023266, 0.03025, -0.031945, -0.012015, -0.051243, 0.0136, 0.007622, -0.029655, 0.090571, 0.043428, 0.019562, 0.020724, 0.004678, -0.014034, -0.003802, -0.036403, -0.02263, 0.006048, -0.0069, -0.016733, -0.00552, -0.06576),
    Seq(-0.053346, -0.03318, 0.045832, 0.00839, -0.023717, 0.044139, -0.021162, 0.023821, -0.012707, 0.056596, -0.065023, 0.023523, 0.020391, -0.08261, 0.01174, 0.011565, 0.036574, -0.004172, 0.020043, 0.008526, -0.03816, -0.003632, -0.01249, -0.014059, 0.003506, 0.074979, 0.031871, -0.008132, 0.019109, -0.074965, -0.040279, 0.027085, 0.030081, -0.007178, 0.001341, 0.053545, -0.035803, -0.049778, -0.008251, -0.028739, 0.047141, -0.014052, 0.014987, 0.048504, -0.030787, -0.026024, 0.005208, 0.037024, -0.045564, -0.026101, -0.036302, 0.002355, 0.03177, 4.89E-4, 0.009483, 0.033827, 0.032044, 0.05499, -0.02229, -0.03405, -0.056956, 0.032413, -0.040665, 0.00423),
    Seq(0.02234, 0.00147, -0.042381, -0.009924, 0.013215, 0.018387, -0.051204, 0.009241, 0.026798, -0.009992, -0.015727, 0.041186, -0.039659, 0.045068, 0.001503, -0.028567, -0.019562, -0.062124, 0.012103, -0.03196, -0.034805, 0.056839, -0.001589, 0.043935, 0.045659, 0.080947, 0.057027, -0.022579, -0.001764, -0.023459, 0.009893, 0.071587, -0.048064, -0.025212, 0.003099, -0.023433, -0.037232, 0.059387, -0.011603, -0.028415, -0.050665, -0.041343, -0.04947, 0.011545, -0.011878, 0.024575, 0.019627, -0.018593, -0.019914, -0.004694, 0.014861, 0.021093, -0.02604, -0.004568, -0.052623, -0.001309, 0.047939, 0.017917, 0.01273, 0.019977, 0.030268, -0.029774, -0.017827, -0.023596),
    Seq(4.0E-4, 0.001375, 0.021102, -0.014179, 0.025015, 0.014476, -0.01678, 0.007767, 0.017536, -0.040138, 0.046871, -0.041368, 0.014818, -0.01716, -0.022583, 0.027015, -0.045581, 0.02883, 0.034248, 0.051562, 0.010016, -0.023911, -0.034351, 0.002774, -0.063792, 0.057987, -0.020507, 0.018965, 0.027884, 0.05763, -0.057747, -0.031383, 0.020909, -0.018775, 0.008484, -0.046447, -0.024583, -0.03012, -0.02604, 0.036854, 0.022677, -0.073761, 0.022118, -0.014095, 0.023517, 0.032506, -0.005431, -0.005387, 0.023878, 0.020658, 0.027737, -0.064036, 0.014515, -0.030367, -0.016866, -0.046919, 0.037288, 0.015619, 0.055031, -0.01148, 0.04184, 0.032606, -0.051421, -0.002257),
    Seq(5.67E-4, -0.032328, 0.008608, -0.034142, -0.03494, -0.018854, 0.018576, -0.059351, -0.008174, 0.008708, -0.003162, -0.009389, -0.073034, 0.005499, -0.03543, -0.009913, 0.041741, 0.006343, -0.002355, 0.051884, 0.003523, 0.032743, -0.033184, 0.065993, 0.009199, -0.064826, -0.027774, 0.007543, -0.025796, -0.026452, -0.025608, 0.012101, 0.014533, -0.064997, 0.021909, 0.018178, 0.029244, -0.016995, 0.01583, -0.005368, 0.008057, 0.053488, 0.051485, -0.02394, 0.023426, 0.033453, 0.052836, -0.028525, -0.033306, -0.024051, 0.019466, 0.032592, 0.087031, -0.06207, 0.026459, -0.012581, -0.002909, -0.025683, 0.020946, -0.018132, 0.004928, 0.032266, 0.022091, 0.022606),
    Seq(-0.009922, 0.034184, -0.026149, -0.036409, 0.049917, 0.06941, -0.060883, -0.012827, -0.008804, 0.025509, -0.003224, 0.039001, -0.020705, 0.007397, 0.002356, 0.009121, -0.017188, 0.021055, 0.020047, -0.025639, 0.024352, -0.056871, 0.005786, -0.066092, 0.028632, -0.079384, -0.035911, 0.004819, 0.011836, -0.03543, 0.055523, -0.033496, 0.021623, -0.018461, -0.014877, -0.021979, 0.01383, 0.007771, 0.003096, -0.084946, 7.17E-4, -0.020245, 0.007268, 0.017857, -0.010943, -0.004463, -0.008446, 0.003988, 0.051565, -0.045819, -0.009084, -0.038558, -0.016606, 0.048238, 0.03434, 0.017114, -0.033185, 0.006644, -0.067023, 0.005451, 0.034695, 0.013879, 0.039711, 0.056992))

  /** FROZEN reference PQ codebooks — per-subspace Lloyd output (3 rounds)
    * over a synthetic embeddings snapshot, baked as a literal the same way
    * [[graft.pipeline.Bpe]] bakes its merge table: the correctness oracle
    * must evaluate the IDENTICAL codebook in SQL, and k-means training is
    * not replayable there. Production pipelines train fresh codebooks with
    * [[pqTrain]]; this table only anchors the cross-engine gate and the
    * default for the incremental semantic-dedup query.
    */

  /** FROZEN ROTATED-basis PQ codebooks — [[pqTrainPpm]] over the
    * [[rotatePpmLong]] corpus at sf0.01 (3 Lloyd rounds — the SAME snapshot [[refPqCodebooks]] trained on, so the side-by-side isolates the basis), produced by
    * [[TrainRotPqTool]] and baked like [[refPqCodebooks]]: the
    * OPQ-style composition. MEASURED TRADE (ext_knn_pq_rot carries the
    * side-by-side): at the training snapshot itself the raw-basis table
    * wins (266,666 vs 166,666 ppm recall@3 at sf0.01), but at 10× the
    * corpus the raw-basis table COLLAPSES (66,666 ppm at sf0.1) while
    * the rotated-basis table holds 166,666 flat — the rotation makes
    * the quantizer robust to corpus growth, which is the property a
    * 100 TB index actually needs (codebooks cannot retrain on every
    * append; recall that only holds at the training snapshot is an
    * eval-set illusion).
    */
  val refRotPqCodebooks: Seq[Seq[Seq[Long]]] = Seq(
    Seq(Seq(-23685L, -131930L, -65320L, -63737L, -133665L, 30573L, -15038L, 65564L),
      Seq(1840L, 66874L, -19786L, -67844L, 116086L, 19059L, -69947L, -162412L),
      Seq(35064L, -28260L, -170514L, 95542L, 103786L, -64640L, 13025L, -88711L),
      Seq(32348L, 65846L, -46786L, -26741L, -3876L, -151586L, 114621L, 138652L),
      Seq(171719L, -33345L, -47111L, 22498L, -100949L, 60728L, 160660L, -10706L),
      Seq(-124383L, 14009L, 18599L, 166338L, 88413L, 131501L, -17722L, -150615L),
      Seq(153499L, 102185L, 11798L, 53030L, 47075L, -71100L, -176731L, -70747L),
      Seq(-19847L, 54929L, 119275L, 73402L, 19689L, -82807L, -11443L, 10472L),
      Seq(28621L, -158309L, 22397L, 99394L, -23516L, 90920L, -49822L, -68125L),
      Seq(-2626L, 144805L, 60592L, 1047L, -103736L, -9784L, 42293L, -100059L),
      Seq(35611L, -16514L, 47373L, -40297L, 133024L, 108332L, 26573L, 80198L),
      Seq(36384L, 53021L, 12234L, -149886L, -100548L, -28570L, -76316L, -32406L),
      Seq(-107640L, -114713L, -81716L, 87019L, 112359L, -134125L, -54264L, 84472L),
      Seq(-211032L, 40238L, 18449L, 20594L, 10998L, 76748L, -31790L, 42151L),
      Seq(-76104L, -71126L, 12164L, -36388L, 30169L, -19133L, 163879L, -102380L),
      Seq(-4680L, 72994L, -122679L, 86492L, -55470L, 36975L, -75594L, 87586L)),
    Seq(Seq(110419L, 112872L, -39398L, 54697L, -65383L, 50502L, 88547L, -83287L),
      Seq(-34501L, 75066L, 176559L, 97080L, 70409L, 29944L, 19602L, -93042L),
      Seq(-10493L, -24960L, 10539L, -109353L, 99080L, 79275L, -41282L, 165255L),
      Seq(-142653L, 42136L, 1858L, -27430L, -184751L, -74414L, -7717L, -3453L),
      Seq(-22653L, 114811L, -56741L, -27748L, 65013L, 137794L, -72380L, -72850L),
      Seq(83108L, 7068L, 143086L, -64397L, -54541L, 72832L, -53198L, -29785L),
      Seq(57132L, 53393L, -36133L, 209812L, -125435L, -26338L, 212576L, 74750L),
      Seq(89460L, 101126L, 54048L, 81467L, 172631L, -112947L, -72845L, -24145L),
      Seq(11629L, 36254L, -27995L, -19713L, 73886L, -67035L, 90717L, 150882L),
      Seq(-15504L, -6469L, 12638L, -179032L, 101396L, -40512L, 68048L, -15800L),
      Seq(22367L, -58439L, -78649L, 42955L, 83623L, -22530L, -148151L, 17052L),
      Seq(-65872L, 194363L, 10487L, 23599L, -46905L, -11824L, -169022L, 105962L),
      Seq(-100926L, -35799L, -40412L, 30141L, 20811L, -76987L, 61003L, -158890L),
      Seq(-38269L, -76415L, 47839L, 143553L, -41512L, 36152L, 2412L, 53308L),
      Seq(76434L, -56136L, -116100L, -48827L, -35223L, 113524L, 112274L, -23408L),
      Seq(46498L, -92093L, -94441L, -85006L, -140852L, -38129L, -35441L, 73709L)),
    Seq(Seq(-84487L, 100207L, -82094L, 22412L, -176589L, 94159L, 20161L, -29600L),
      Seq(-99820L, -30604L, 26002L, 29785L, -28705L, -8270L, -148937L, 39604L),
      Seq(117462L, 66032L, 19192L, 6104L, -79752L, -94822L, -64091L, -153408L),
      Seq(91122L, -132532L, 86331L, 118367L, 93177L, -14364L, 67408L, 25884L),
      Seq(-62969L, 33367L, -145054L, -171155L, 13418L, 24068L, -76394L, -68648L),
      Seq(-105386L, 48623L, 79145L, -85309L, 51026L, -100399L, 217475L, -67856L),
      Seq(153967L, 71289L, -60271L, 33305L, -24063L, 33777L, 70137L, 165322L),
      Seq(-7409L, -100352L, 27807L, -87558L, -49836L, -109886L, 19765L, -184902L),
      Seq(64143L, 12553L, -6456L, -87321L, -13994L, -150989L, -20994L, 120944L),
      Seq(-26773L, -198032L, -50404L, -10292L, -34305L, 20005L, -47931L, 79457L),
      Seq(100278L, 34236L, 118917L, -45676L, 45678L, 101224L, -39478L, -105060L),
      Seq(7586L, -34802L, -82282L, -72822L, 36797L, 32882L, 127014L, -16962L),
      Seq(-104041L, 53304L, 136778L, -56693L, 126106L, 23983L, -96413L, 67679L),
      Seq(33428L, -2817L, 64920L, 159589L, -63606L, 75831L, 29292L, -28444L),
      Seq(-6824L, 169407L, -42541L, -49387L, 192656L, 115405L, 68531L, 29262L),
      Seq(-65576L, 23955L, -27623L, 132359L, 143516L, -100930L, 39249L, 34974L)),
    Seq(Seq(74226L, -209633L, 5204L, -73451L, 54040L, -95590L, -2864L, -20074L),
      Seq(109687L, 13569L, 842L, 31694L, -19600L, 102337L, -129339L, -82646L),
      Seq(22445L, 10208L, 30172L, 185136L, 89007L, 45150L, -31720L, -11393L),
      Seq(-112143L, 60059L, 24657L, -69312L, 127585L, 177538L, -107065L, -39266L),
      Seq(101938L, 20849L, 111370L, 19412L, -56018L, 154208L, 108191L, -34751L),
      Seq(93758L, -21227L, -85345L, -187954L, -16224L, 97195L, 30053L, -90219L),
      Seq(-69306L, 149825L, 9432L, -75077L, -97454L, 7013L, -41200L, -13011L),
      Seq(-9266L, 59175L, -132689L, -37110L, 16907L, -89819L, -121513L, 94663L),
      Seq(67058L, -52429L, 166158L, -29017L, 33222L, -4275L, 2942L, 116026L),
      Seq(-170517L, 73591L, -6107L, 103949L, 34291L, 17024L, 49031L, 50715L),
      Seq(-23159L, 22683L, 85281L, 43175L, -55088L, -168490L, -77913L, -77758L),
      Seq(-124855L, -95262L, -24687L, -5284L, -93395L, -6503L, 48812L, -79497L),
      Seq(25013L, 69186L, -45668L, -24960L, 127833L, -54993L, 104100L, -125590L),
      Seq(125230L, -42468L, -46680L, 177771L, -108412L, -22221L, 114131L, 84434L),
      Seq(-57666L, -59233L, -94373L, -14988L, 55279L, 38369L, 102519L, 133298L),
      Seq(39294L, -46273L, -23815L, -80219L, -64545L, -35279L, 213808L, 148L)),
    Seq(Seq(39219L, -142929L, -84385L, 27118L, -105016L, -35218L, -67704L, -62931L),
      Seq(9650L, -7416L, 84973L, 227197L, 88L, 39350L, 27243L, -63266L),
      Seq(1536L, -24105L, -64822L, 42889L, -169687L, 201370L, -20858L, -177401L),
      Seq(-129904L, -94542L, -1440L, -15850L, 11284L, 149183L, -30878L, 89615L),
      Seq(-3225L, -96527L, 31868L, 33082L, 107584L, 34331L, 65520L, -184217L),
      Seq(-119234L, 3566L, 65335L, -7780L, 61091L, -20943L, 20689L, 13292L),
      Seq(-60982L, 15226L, -92170L, 51887L, -94897L, -70947L, 148641L, -38147L),
      Seq(125558L, 148477L, -18816L, 14074L, -2244L, -97785L, -25864L, -102618L),
      Seq(-30091L, -52801L, -85900L, 112294L, 107682L, 10767L, -167598L, 2357L),
      Seq(-117150L, 24086L, -96655L, -110628L, 38944L, -44504L, -112872L, -99351L),
      Seq(-15266L, 20593L, 47380L, 5617L, 200774L, 112988L, 25126L, 64791L),
      Seq(20735L, 51741L, -51443L, 78114L, -5809L, 32238L, 14530L, 204581L),
      Seq(142331L, -42341L, -33034L, -85355L, 6852L, 74425L, 32915L, 33425L),
      Seq(1244L, 2688L, 156043L, -18262L, 26695L, -52827L, 131712L, 114733L),
      Seq(-41034L, 51402L, 117596L, -2899L, -141516L, 41150L, -100966L, -63236L),
      Seq(16885L, 30640L, 58973L, -204909L, -52327L, -103662L, 51111L, -974L)),
    Seq(Seq(-12542L, 107230L, 192303L, 114953L, -2125L, -33001L, 896L, 69878L),
      Seq(42737L, -82646L, 19292L, -14967L, -108380L, -23967L, -31406L, -192780L),
      Seq(-66776L, 40077L, -36716L, 55797L, 138039L, 42154L, 75109L, 24220L),
      Seq(-63012L, 348L, 2586L, -61642L, -177671L, -59572L, -21039L, -9090L),
      Seq(-26969L, -4520L, -68685L, -47160L, -36074L, 244775L, -16917L, -74325L),
      Seq(41144L, 45376L, -21404L, 266L, -36662L, 25426L, -214350L, 40488L),
      Seq(148430L, 17093L, 25463L, 8954L, 55213L, -77367L, 40347L, -26503L),
      Seq(-52102L, 81994L, -82551L, 124125L, -5217L, -69373L, 58282L, -131040L),
      Seq(-30904L, 50313L, 151401L, -53397L, 18291L, 51974L, 70988L, -84376L),
      Seq(835L, -138298L, 101987L, -97501L, 14993L, 102436L, 75474L, 71249L),
      Seq(42939L, -117111L, -85406L, -111790L, -82840L, -152666L, 45623L, 81238L),
      Seq(-108687L, -109956L, 92879L, 153490L, -1012L, -116284L, 28446L, -35600L),
      Seq(21434L, -145079L, -138870L, 79807L, -32461L, 78632L, -9968L, 25610L),
      Seq(320723L, 89339L, 100464L, 8497L, 126850L, -258947L, 193297L, 56112L),
      Seq(6042L, 12822L, -45629L, -107008L, 121484L, -55147L, -108619L, 94822L),
      Seq(-40226L, 98997L, -12291L, 44818L, -91049L, 88033L, 90074L, 133752L)),
    Seq(Seq(-91568L, 83607L, -10679L, -52205L, 20164L, 111406L, 142357L, 134514L),
      Seq(118682L, -97153L, -15589L, -10269L, -90971L, 43083L, -140535L, 65137L),
      Seq(114615L, -41462L, -162196L, 101899L, 27356L, -25955L, 28139L, -141377L),
      Seq(19120L, 39391L, 105256L, -36809L, 135369L, -142014L, -109253L, -61264L),
      Seq(39679L, 119107L, -180726L, -33717L, 20845L, -14005L, 13401L, 40001L),
      Seq(-73209L, -40640L, -31178L, -29107L, -112489L, 156349L, -42744L, 1736L),
      Seq(31203L, -40729L, 101626L, 20231L, 2816L, -10367L, 123448L, -107996L),
      Seq(59210L, 33057L, 166031L, -56804L, 42505L, 65512L, -7005L, 50303L),
      Seq(40238L, 83933L, 35650L, 195594L, -69273L, 93894L, -5441L, -16570L),
      Seq(8203L, 73901L, -64911L, -121848L, 77274L, -18365L, -113316L, 144767L),
      Seq(-146435L, -2376L, -78074L, 95937L, 118477L, 9105L, -94152L, -65857L),
      Seq(19534L, 228429L, -33250L, 157134L, 98641L, 132151L, 30597L, -75339L),
      Seq(-85564L, -170185L, -11713L, 66966L, -87774L, 56179L, 130910L, 41644L),
      Seq(32590L, -101715L, -17596L, 99853L, 23487L, -100422L, 9656L, 34778L),
      Seq(28153L, 17670L, -41297L, -112342L, -74597L, -35895L, 7563L, -121276L),
      Seq(-166297L, 1955L, 45046L, -31547L, 9927L, -139678L, 33374L, 120940L)),
    Seq(Seq(116653L, -15901L, 75588L, 114310L, 79343L, -81698L, -5635L, -19923L),
      Seq(30214L, 167894L, 40628L, -121782L, -92751L, -95942L, -15556L, 27280L),
      Seq(-33635L, 81067L, -157470L, 30550L, 47416L, 79055L, -75926L, 21948L),
      Seq(161700L, -93416L, -11854L, -56680L, -27709L, 72577L, 7774L, 64340L),
      Seq(109260L, 191954L, 38131L, 50523L, 130854L, 123331L, 85517L, -78401L),
      Seq(-47083L, 66603L, -14991L, 47169L, -152640L, 71020L, 148829L, -59824L),
      Seq(-4996L, -21182L, 7800L, -90746L, 179317L, -12548L, 27835L, -70358L),
      Seq(-32065L, -124592L, -57809L, 125027L, -104987L, 5393L, 145494L, 114198L),
      Seq(-45514L, 36415L, -68135L, 93026L, -73682L, -181069L, 33959L, -60099L),
      Seq(75503L, -89724L, -180414L, -36201L, -93585L, 6117L, -41613L, -7493L),
      Seq(-8113L, -14073L, 23192L, -12861L, -89731L, 83897L, -7355L, -127592L),
      Seq(29144L, 67366L, 35245L, 67399L, -68019L, -12370L, -216955L, 78387L),
      Seq(45937L, -147385L, -23633L, -44594L, -5917L, -153046L, 122202L, 125267L),
      Seq(-195976L, 77387L, -61836L, -50905L, 47952L, -47092L, 54899L, 52308L),
      Seq(-79641L, -126581L, 26337L, -51438L, 47730L, -93310L, -107702L, -44019L),
      Seq(-62289L, -26404L, 146999L, 5408L, -15640L, 88814L, 20542L, 99508L))
  )

  val refPqCodebooks: Seq[Seq[Seq[Long]]] = Seq(
    Seq(Seq(18913L, 33482L, -4140L, -173607L, 117791L, -34696L, -27889L, -54943L), Seq(-39388L, -50995L, 16340L, -50214L, -99272L, -55322L, -94626L, 32383L), Seq(-24733L, 19032L, -73031L, 114795L, -80646L, 44361L, 61463L, 114451L), Seq(-128972L, -4967L, 41656L, -10856L, 74951L, 16597L, 124631L, -48377L), Seq(-35591L, 8095L, 40038L, 2326L, -9150L, -185903L, 144898L, 104341L), Seq(-33038L, -111614L, 121322L, 32044L, 117498L, -129024L, -103168L, 122785L), Seq(-27627L, 121584L, 80013L, -89055L, -112251L, 127494L, 1553L, -14847L), Seq(221843L, 14156L, 46154L, -40500L, -15799L, -44246L, 19844L, 98227L), Seq(-91623L, -187245L, 17644L, -6018L, -17852L, 134517L, -121107L, 41400L), Seq(110063L, -139803L, -12547L, 3927L, -3822L, 111736L, -16298L, -88349L), Seq(69414L, -6634L, -185210L, 6198L, -25124L, 39713L, 19907L, -91301L), Seq(-81817L, 26932L, -49017L, 35689L, 56782L, 26081L, -149892L, -161737L), Seq(2620L, 9806L, 100707L, 2968L, 146992L, 200018L, -145770L, -7397L), Seq(69611L, 39574L, 55305L, 150715L, 55915L, -8576L, -61082L, -17553L), Seq(10015L, -31364L, -60265L, -76333L, 100179L, 26296L, -75256L, 149484L), Seq(-55359L, 59100L, 16194L, 40326L, -159070L, -196108L, -47202L, -91479L)),
    Seq(Seq(165410L, 21270L, -28275L, 36375L, -141559L, -48548L, -10401L, -36723L), Seq(-72699L, 109933L, -83430L, 126063L, 88009L, -81814L, 54009L, -35146L), Seq(-98348L, -128785L, 8812L, 9795L, -88733L, 91654L, 35382L, 112223L), Seq(-84616L, 20285L, -89702L, 60892L, 84352L, 232891L, 16249L, -1233L), Seq(-14635L, 128442L, 153877L, 5655L, 280L, 8540L, 112113L, -78572L), Seq(-93843L, 50700L, 114578L, 142282L, -26506L, -36954L, -125220L, -4539L), Seq(37174L, 230201L, 61024L, 38506L, -92429L, 162689L, -22290L, -5576L), Seq(-77333L, -115904L, 48597L, -33108L, -99890L, -45076L, 69345L, -149931L), Seq(-9510L, 68705L, -103053L, 47341L, 14693L, 13546L, -57815L, 164181L), Seq(-76174L, 51745L, -19716L, -96308L, -156833L, -11313L, -117041L, -33265L), Seq(40905L, -79207L, -63968L, -87409L, 41147L, -120935L, -5594L, -3920L), Seq(39838L, 36074L, 82790L, -123868L, 90219L, 56350L, -94844L, 47332L), Seq(81569L, -96499L, 49285L, 39394L, 74308L, 51129L, 102944L, 89502L), Seq(-23747L, -59859L, 176212L, -123725L, 43217L, -193152L, -45103L, 61412L), Seq(121589L, 131712L, -59869L, -6906L, 96299L, -59611L, 188555L, -17560L), Seq(-37565L, -155578L, -33827L, 29756L, -5410L, 72022L, -84517L, -148116L)),
    Seq(Seq(24623L, 62474L, -43439L, 125972L, -129178L, -57726L, 43468L, -109637L), Seq(-42244L, 4987L, 71735L, -139761L, 41508L, 173042L, 56369L, -83017L), Seq(-185679L, 10197L, -61100L, -202366L, 170652L, 51942L, 214001L, -103071L), Seq(23952L, -65726L, -80968L, 103103L, 95464L, -26520L, -46604L, 20203L), Seq(19769L, 190866L, -12335L, -23148L, 21917L, 68751L, -58481L, 779L), Seq(195818L, -68994L, 1242L, 15906L, -61852L, -108805L, 19901L, 141562L), Seq(-36583L, 156888L, -60052L, -75864L, 31066L, -134005L, -3355L, -41066L), Seq(64985L, 1532L, -105740L, 91979L, -16542L, 108669L, 85313L, 4422L), Seq(47877L, -59267L, 132374L, 44813L, 74378L, -27918L, 106868L, -24547L), Seq(8813L, 51940L, 47736L, -95788L, 388L, 61970L, 108090L, 238235L), Seq(13053L, 98190L, 73127L, -74774L, -169289L, 66049L, -220L, -12832L), Seq(159970L, -16395L, -18540L, -107019L, -61422L, -83172L, 103471L, -49246L), Seq(-81701L, -131642L, -110158L, -72975L, -26747L, 57786L, -20543L, -16887L), Seq(53494L, 44847L, 84426L, -31842L, 132819L, 11816L, -14353L, -239191L), Seq(5132L, -70209L, 98369L, 11460L, 20110L, -58716L, -137224L, 69946L), Seq(-162016L, 37108L, 36994L, 62154L, -28001L, -52316L, -5121L, -13275L)),
    Seq(Seq(34024L, 166516L, 133029L, 23308L, 28362L, 49729L, -5353L, 176190L), Seq(89871L, 76814L, -75749L, -22854L, 8434L, 170884L, -75499L, 52985L), Seq(-39912L, -67889L, -66798L, -77379L, 39005L, 85836L, -42074L, -131575L), Seq(-67515L, -25598L, 22819L, -114613L, -127722L, -49168L, -67960L, 25885L), Seq(-12295L, -80228L, 161674L, -33960L, 73695L, 13921L, 95736L, 15134L), Seq(150419L, 65980L, 377L, -54632L, 68059L, 71986L, 94083L, -125786L), Seq(-48763L, -127454L, 23947L, 118435L, 54960L, -5106L, 20663L, -45066L), Seq(54640L, -96857L, -100665L, 14796L, -42702L, 64174L, 127102L, 100278L), Seq(-81329L, 126048L, -16475L, -15939L, 60212L, -279099L, 23009L, -46493L), Seq(-19379L, -65936L, -103967L, 82232L, -63586L, -104876L, 17201L, -151209L), Seq(65972L, 75532L, -103482L, 179129L, -57555L, 20191L, -112064L, -22076L), Seq(107800L, 100557L, 67609L, 29864L, -110205L, -16792L, -33450L, 43934L), Seq(-55389L, 225382L, -54604L, 11817L, 9598L, -73393L, 79260L, -86298L), Seq(53888L, -11071L, 29093L, 34988L, 82126L, -120326L, -69856L, 64640L), Seq(-178794L, 55180L, -28177L, -17469L, 56458L, 84952L, -62262L, 47469L), Seq(-66647L, 20381L, 16938L, 28040L, -145254L, -36969L, 168097L, -70758L)),
    Seq(Seq(-176018L, -149308L, 6480L, 73200L, -16801L, -12407L, -34L, 41307L), Seq(2255L, -50320L, -38665L, 79012L, -53627L, -75508L, 62040L, -156100L), Seq(40756L, 634L, -81265L, 133539L, 91664L, 63239L, 91993L, 37319L), Seq(181169L, -1128L, -73803L, -49148L, -12195L, -47228L, 38798L, -92435L), Seq(-130539L, 24167L, -17345L, -97780L, -83948L, 55239L, -64273L, -76166L), Seq(-10788L, -24012L, 14342L, 132336L, -6462L, 80007L, -146087L, -1402L), Seq(-95659L, -100602L, -65243L, 35457L, 186746L, 111063L, 6701L, 45293L), Seq(-55459L, -63355L, -42842L, -764L, -40793L, -150047L, 54117L, 145499L), Seq(-5477L, -47521L, 125135L, -55949L, 75719L, -14799L, 112472L, -55313L), Seq(-33547L, -9178L, 108742L, 94744L, -251803L, -59311L, 126159L, 47286L), Seq(144349L, -111832L, 63530L, -529L, 52844L, 39923L, 1729L, 84817L), Seq(35025L, -96676L, -53674L, -100669L, 42362L, -88533L, -135570L, 40723L), Seq(6550L, 103046L, -50457L, -46257L, -70949L, 57315L, -901L, 151274L), Seq(82034L, 111554L, 90373L, 7687L, -31914L, 160120L, 21677L, -21046L), Seq(54283L, 156951L, 30749L, 37527L, 82296L, -139953L, -110842L, -46936L), Seq(57700L, 17307L, 65919L, -180995L, -93431L, -118824L, 88241L, -38961L)),
    Seq(Seq(-3612L, 13890L, -61727L, 45474L, -10014L, 151816L, 74357L, -90297L), Seq(33826L, -75849L, 187092L, 26921L, 60384L, 40576L, -15431L, -126857L), Seq(-24153L, 18332L, 139508L, 30367L, -167258L, 66444L, -93054L, -48223L), Seq(-62842L, -94763L, -90024L, 65522L, 84097L, 64464L, -88426L, -36695L), Seq(-5790L, 40165L, -168018L, -54830L, 8297L, 31172L, -118544L, 148368L), Seq(-73563L, 97721L, -115247L, 20587L, -140673L, -51814L, 44714L, 10159L), Seq(150853L, -78398L, -11855L, -87312L, 16402L, 65965L, 66651L, 112388L), Seq(-104627L, -108571L, 29729L, 72795L, -32941L, 39335L, 28365L, 128566L), Seq(-36543L, -86653L, -54720L, 16828L, 82720L, -101588L, 95639L, -77922L), Seq(138157L, 46897L, 92268L, 96194L, -126069L, 8219L, 66841L, -79590L), Seq(-21494L, -213842L, -43949L, -95509L, -57733L, -44342L, 16332L, -94798L), Seq(88037L, 3183L, -16363L, -144148L, 43302L, -74390L, -122155L, -5981L), Seq(65391L, 24069L, -30489L, 148209L, 36832L, -47002L, -53455L, 68379L), Seq(-78407L, -17643L, -24964L, -162507L, -126663L, 9904L, -95086L, 8101L), Seq(-25197L, 79086L, 103559L, -66232L, -44651L, -175409L, 66302L, 27571L), Seq(-68785L, 172365L, 28387L, -56108L, 102401L, -15141L, 31601L, 77588L)),
    Seq(Seq(43773L, -138760L, -45091L, 141719L, 72845L, -78928L, 58420L, -22297L), Seq(-36248L, -191768L, 47794L, 5346L, 11564L, 96642L, 9019L, 117149L), Seq(58084L, 15246L, 109154L, -84386L, -17529L, -88416L, 116299L, 204309L), Seq(233926L, -194978L, 10472L, -49790L, 8917L, 97041L, -88924L, 13309L), Seq(-52793L, -25360L, 38324L, 52952L, 22454L, 140798L, 102230L, -26369L), Seq(25126L, 262L, 111915L, 31512L, -18982L, 57574L, -134774L, -172626L), Seq(25142L, 11693L, -115838L, 92778L, -15504L, -20118L, -33588L, 128013L), Seq(-25205L, -10755L, 140354L, 64281L, 32173L, -66925L, -69556L, 87362L), Seq(-149240L, 18397L, -13725L, 62439L, -145107L, 73310L, -59099L, -124373L), Seq(58897L, -58952L, 84998L, -127328L, -149477L, 22638L, -16854L, 31262L), Seq(83344L, 132317L, 81245L, -38373L, 113120L, -22874L, 12449L, -18053L), Seq(82309L, 53805L, -115115L, -127627L, 2503L, 50760L, 89524L, -721L), Seq(-142041L, 29675L, -22119L, -21358L, 165102L, 4962L, -73617L, -17873L), Seq(-129381L, -102919L, -96930L, -63249L, -41066L, -60050L, -33174L, -8968L), Seq(-72471L, 16804L, 65512L, 68513L, 6120L, -114611L, 125188L, -17693L), Seq(50653L, 37197L, -33123L, -58025L, -42752L, -131832L, -32044L, -144733L)),
    Seq(Seq(-34998L, -95362L, -116385L, -71203L, -75719L, -33812L, 74444L, -176262L), Seq(43121L, -61659L, -5118L, 94636L, -100731L, 51228L, -89731L, -85064L), Seq(64506L, -94395L, -3230L, 103233L, 20366L, 154828L, 74566L, 780L), Seq(-83557L, -58667L, -29471L, -121636L, 98302L, -55107L, -25529L, -70662L), Seq(95948L, -128824L, -14882L, -76805L, -17303L, -5638L, 83681L, 99862L), Seq(-70343L, 50635L, -4433L, 12714L, -151253L, 56574L, -31083L, 102588L), Seq(-101747L, 51689L, 5880L, 32892L, 79623L, 4551L, 173364L, 26412L), Seq(2897L, 124121L, -181815L, -88384L, 40932L, 53336L, -58274L, -86693L), Seq(-87037L, 64315L, 88368L, -117154L, -81329L, -104185L, 43147L, 19284L), Seq(27189L, 18253L, 39363L, -136433L, 15063L, 131810L, -6550L, -21155L), Seq(137413L, 66314L, 25483L, 37768L, 113194L, -118313L, -46737L, 57549L), Seq(-31566L, 106353L, -97906L, 6501L, 132494L, 21167L, -70035L, 184605L), Seq(24606L, -91964L, 160682L, -18575L, 114791L, 55449L, -117350L, -87153L), Seq(-127499L, 42518L, 31964L, 138225L, 51469L, -6795L, -139667L, -17247L), Seq(-1510L, 8008L, -182470L, 92057L, 3528L, -93434L, 78931L, 3445L), Seq(71904L, 84883L, 119898L, 52992L, -86521L, -40082L, -38569L, -100275L)))

  /** FROZEN TRAINED RESIDUAL codebooks — [[pqTrainResidual]] run once
    * over the sf0.01 `embeddings` corpus against [[refIvfCentroids]] (8
    * Lloyd rounds, via [[TrainResidualPqTool]]) and baked as a literal:
    * the [[refPqCodebooks]] discipline for the residual quantizer, so the
    * DuckDB oracle folds the identical integers and PipelineOpsSpec can
    * assert the literal equals a fresh train on the same corpus.
    */
  val refResidualPqCodebooks: Seq[Seq[Seq[Long]]] = Seq(
    Seq(Seq(12795L, 27785L, 52246L, -3904L, -68112L, -42424L, 249078L, 2495L), Seq(-121206L, -23498L, -11487L, 19557L, 67355L, -145814L, -89071L, -67811L), Seq(-6345L, -7137L, -2317L, 105752L, 105372L, -110212L, 34965L, 101391L), Seq(-16515L, -26160L, 94245L, -38780L, -157286L, 61761L, -10907L, -26416L), Seq(8681L, 112657L, 122347L, 52783L, 73608L, -28529L, 34421L, -69723L), Seq(67900L, -25464L, -67693L, 35135L, -13946L, 23336L, 47503L, -197771L), Seq(163972L, -69734L, -33616L, -70973L, -48802L, -117681L, 1195L, 47379L), Seq(-121462L, -88561L, -95208L, -93934L, 97173L, 58167L, 107538L, -63349L), Seq(71097L, -15933L, 7305L, 80780L, 28380L, 125399L, -164175L, -54442L), Seq(-5776L, -175469L, 11596L, 101297L, -28289L, 56403L, -37307L, 60286L), Seq(-91800L, 124560L, 26445L, -69097L, -104505L, -89191L, 21265L, -23322L), Seq(83876L, -5758L, 215987L, 47808L, -18174L, -84403L, -96679L, 8334L), Seq(-6337L, 83662L, -172285L, 3681L, -84609L, 43182L, 11760L, 78084L), Seq(154219L, 23865L, -20739L, -2388L, 41534L, 61478L, 46475L, 164856L), Seq(-143290L, 64219L, 15093L, 58601L, 25659L, 130648L, 9106L, 31256L), Seq(3446L, 18541L, 33372L, -129288L, 75641L, 4738L, -89461L, 49220L)),
    Seq(Seq(28744L, -24521L, 140454L, 70792L, -80767L, -48497L, 78276L, 88264L), Seq(-43429L, -110738L, 19322L, -33720L, -91773L, -1183L, -45081L, -187676L), Seq(-52297L, 32840L, -103942L, 181292L, 6798L, 19099L, -78736L, -44232L), Seq(-43762L, 190261L, -82630L, -124134L, 8867L, -60885L, -48568L, -31036L), Seq(-28866L, 174388L, 60456L, 82790L, -102715L, 69938L, -69412L, -43851L), Seq(-71781L, 1666L, -1307L, -153794L, -86074L, 1826L, -65938L, 48377L), Seq(194077L, 33078L, -32001L, -21533L, -102145L, -24574L, 2985L, -44212L), Seq(62490L, -94929L, -53944L, 16742L, 32040L, -97926L, 91839L, 21499L), Seq(52480L, -64798L, 62574L, -40140L, 82760L, 13507L, -162400L, 90054L), Seq(-1233L, 39631L, -46031L, 99373L, 82795L, 76830L, -34436L, 140463L), Seq(-4201L, -33738L, -74969L, -70852L, -27194L, 197867L, 76379L, 54451L), Seq(92756L, 127199L, -79080L, 4682L, 162601L, -50595L, 150263L, -21813L), Seq(-34949L, 27934L, 120674L, -96832L, 5736L, -209212L, -23259L, -34350L), Seq(-125955L, -168316L, -61468L, 23380L, 7113L, 18576L, 5517L, 102197L), Seq(-118034L, -44679L, 3263L, 8776L, 99808L, -39972L, 55791L, -150295L), Seq(18071L, 98729L, 138836L, -17640L, 49836L, 31566L, 90724L, -79827L)),
    Seq(Seq(101050L, 75457L, -70148L, -133345L, 86055L, -39882L, 21605L, 80865L), Seq(67953L, -60735L, -43321L, -104343L, -131145L, 8205L, -60416L, -86383L), Seq(13024L, -48767L, -147237L, 85252L, 28654L, 64427L, 94796L, 34155L), Seq(32041L, -65929L, 39598L, -10111L, -129226L, -100410L, 25361L, 126062L), Seq(10604L, 67375L, 118332L, -12926L, -65866L, 129600L, 44096L, 33579L), Seq(-106996L, 135750L, -23655L, 67928L, -21813L, 49141L, -64343L, 10180L), Seq(152340L, -81483L, -57568L, 102553L, 6178L, -50681L, -128708L, -40101L), Seq(-14454L, 212644L, 42622L, -95866L, -34388L, -81661L, -4160L, -16506L), Seq(-128750L, 13237L, 1264L, -150550L, 45863L, 72520L, 115132L, -89570L), Seq(53600L, -55369L, 92041L, 77461L, 60336L, -66912L, 129563L, -24499L), Seq(-117044L, -173970L, -62879L, -41532L, 25180L, 68252L, -61269L, -17306L), Seq(-72902L, 13819L, -67779L, 93381L, -74369L, -109268L, 23331L, -91756L), Seq(89783L, 81521L, 17720L, 3890L, 67836L, 17181L, 20198L, -208587L), Seq(-73797L, -72819L, 127923L, -41685L, 112942L, -113518L, -61373L, -25452L), Seq(29917L, 759L, 66859L, 22990L, 114786L, 30553L, -148975L, 45251L), Seq(8979L, -53416L, 12031L, -43265L, 54912L, 65306L, -6142L, 249330L)),
    Seq(Seq(79729L, 38128L, -60984L, 146774L, 85054L, 56300L, -79623L, -25130L), Seq(-66744L, -46050L, 165879L, -72758L, -77403L, 7659L, -36293L, 122890L), Seq(-12201L, 53191L, -88349L, -123686L, 63432L, 78286L, 40452L, -880L), Seq(-21120L, -45740L, 83177L, -98275L, 95834L, -64564L, 53929L, -111903L), Seq(154094L, 93848L, 104674L, -56825L, 25821L, 103984L, -52234L, -114286L), Seq(-170288L, 81795L, 86466L, 9214L, -2023L, 113457L, -4801L, -5450L), Seq(-62657L, -52278L, -31483L, 80036L, 15806L, -19956L, -113297L, 114884L), Seq(-71644L, -161442L, 9280L, 32830L, 61335L, 37046L, 119910L, 38503L), Seq(-76401L, -6039L, -30399L, 104618L, -119296L, -29219L, 47639L, -121772L), Seq(-125878L, 58136L, -86832L, -24725L, 68258L, -169020L, 6418L, -71291L), Seq(73559L, 180358L, 17904L, 26390L, -105925L, -21601L, 72843L, 7523L), Seq(84649L, -40198L, 124832L, 36368L, 58027L, 100566L, 3422L, 88229L), Seq(7284L, -55532L, -57212L, -151660L, -120081L, 22751L, -83519L, -3204L), Seq(41293L, -3826L, -135947L, 34612L, -37841L, 9087L, 45792L, 160129L), Seq(46613L, -21420L, -8625L, 35870L, -89966L, -148044L, -135026L, -47580L), Seq(171893L, -95335L, -40500L, 18318L, -5779L, -29114L, 97300L, -14027L)),
    Seq(Seq(-125308L, -60006L, -27461L, -100682L, 75439L, -185142L, -73122L, 79666L), Seq(48456L, -52226L, 104515L, -4904L, 87L, 14410L, -14167L, 164890L), Seq(69275L, 149062L, 108048L, 17428L, -21046L, 148990L, -2231L, -13583L), Seq(-122054L, -9770L, 84550L, 114909L, -40146L, -87525L, 31772L, 26930L), Seq(-119117L, 80098L, -90076L, -31114L, -36482L, 36037L, -31391L, -11504L), Seq(21764L, -114030L, -119884L, -33840L, -115753L, -191895L, 36356L, 105550L), Seq(22926L, -12526L, -84363L, 184283L, 43128L, -39082L, 80165L, -9656L), Seq(10309L, 6823L, 6651L, 3373L, 77636L, 37514L, -227877L, -19792L), Seq(-51823L, -29246L, 2350L, 59424L, -171915L, 126040L, 37248L, -2753L), Seq(-112423L, -22413L, 140231L, -134864L, -9873L, 17061L, -41263L, -90117L), Seq(88950L, -59683L, 13027L, 23456L, 149949L, 63631L, 54717L, -27845L), Seq(-19078L, -183568L, -109819L, 7288L, -13675L, 36615L, -45112L, 13930L), Seq(71525L, -19359L, -73370L, -133020L, 70700L, -137127L, -84087L, 71785L), Seq(56323L, 174365L, -42572L, -34654L, -9507L, 3888L, 164995L, 68247L), Seq(81007L, 96803L, 15033L, 10405L, 27114L, -104553L, -32766L, -123945L), Seq(99121L, -75796L, -11782L, -177480L, -47324L, -15896L, 128846L, -30969L)),
    Seq(Seq(20361L, 121815L, 88793L, -7238L, 72981L, -85100L, 132553L, -66506L), Seq(70961L, -128627L, -24884L, 82088L, -106569L, 77133L, 69892L, 59815L), Seq(-110035L, -9811L, -33776L, -147715L, -48723L, 21079L, -123930L, -38162L), Seq(99515L, -54353L, -33135L, 130432L, 96607L, -83335L, 60238L, -87901L), Seq(-128720L, -45759L, 1922L, 44727L, 9826L, -4946L, 5449L, 145001L), Seq(30705L, -24875L, 43748L, 161644L, 48896L, 107666L, -93838L, 71867L), Seq(2878L, -94110L, 102454L, -101237L, 131764L, -10554L, 1778L, 35266L), Seq(117115L, -29121L, 26149L, -117273L, -65589L, -124299L, -24096L, 80L), Seq(-128277L, -62378L, 193100L, 66126L, -63867L, 36742L, -14499L, -5778L), Seq(-63253L, -94040L, -108592L, -17229L, 13329L, -82915L, 35499L, -122111L), Seq(20918L, 78086L, 143524L, 11559L, -158310L, 22913L, -62230L, -123412L), Seq(38531L, 19974L, -42013L, 55260L, -60781L, 146572L, 74607L, -135631L), Seq(-47827L, 131320L, -76578L, -8574L, -85800L, -109943L, 12270L, 51113L), Seq(69754L, 59555L, -23224L, 4227L, 46700L, 27952L, -142653L, -40119L), Seq(-68293L, 132070L, -93338L, -554L, 136787L, 45024L, 28610L, 90980L), Seq(115555L, -41642L, -88668L, -120908L, 22397L, 88207L, 17009L, 129113L)),
    Seq(Seq(39704L, 16107L, -16232L, -152949L, -154178L, -10410L, 61814L, 10325L), Seq(-71148L, 37010L, -35380L, -50885L, 77476L, 131050L, 70308L, -81053L), Seq(28665L, -71432L, 155582L, 7839L, -48606L, -22111L, 80941L, 52526L), Seq(34696L, 135921L, 34715L, 87447L, -34255L, -98448L, -62152L, 14111L), Seq(-67528L, 49111L, -118883L, 63961L, -90991L, -28182L, 121448L, 15202L), Seq(113530L, 94488L, 28873L, -114102L, 11189L, 18021L, -96585L, -32892L), Seq(-45244L, -35239L, 35938L, -69205L, 95830L, -95874L, 20206L, -109552L), Seq(126671L, 47626L, 31614L, 1198L, 44140L, 114492L, 112918L, 71211L), Seq(-31085L, 37698L, 44267L, 9292L, -87792L, 46421L, -115742L, -200671L), Seq(-146360L, -57214L, -13135L, 115294L, -138810L, 107701L, -6942L, 8452L), Seq(-149935L, 90703L, 46820L, 19644L, 85157L, 9651L, -2829L, 108448L), Seq(-45970L, -95779L, 1062L, 137255L, 117197L, -8301L, 5748L, -26065L), Seq(110644L, 113001L, 42174L, 17351L, 198545L, -90566L, 13792L, 77114L), Seq(72417L, -124126L, -71777L, -14134L, -56246L, -158895L, -56087L, -81984L), Seq(187576L, -142131L, -56190L, 46544L, 274L, 40622L, -33849L, 51370L), Seq(-49736L, -90634L, -67180L, -48654L, 20712L, -4859L, -101587L, 112332L)),
    Seq(Seq(-16530L, 29075L, 133370L, 24627L, 26948L, -85658L, 125939L, 84672L), Seq(-58587L, -27936L, -113808L, 136142L, -22231L, -13515L, 147307L, -51559L), Seq(-13047L, 55570L, -12512L, -23242L, 73874L, 161065L, 59363L, -56942L), Seq(9495L, 23276L, -31661L, 5491L, -160809L, -92437L, -29192L, 28605L), Seq(39843L, -23402L, 106331L, 141787L, -86848L, -91374L, 26901L, -120183L), Seq(165651L, -107565L, 27309L, 66072L, 16111L, 32095L, -4129L, 52286L), Seq(-144483L, -53339L, -10277L, -70677L, -26158L, 135354L, 35344L, 58058L), Seq(42725L, -25382L, -169475L, 15003L, 35272L, -87288L, 23110L, 93191L), Seq(-114714L, -65922L, 43958L, -2065L, 59286L, -4150L, -102460L, -105148L), Seq(56358L, 6887L, -4043L, -130502L, 28651L, -83272L, 68253L, -118369L), Seq(-60887L, 75977L, -31827L, 64694L, 90804L, -47845L, -112208L, 151471L), Seq(-8115L, 141757L, -143875L, -133187L, 49204L, -46980L, 19127L, 49837L), Seq(14208L, 20828L, 2480L, 53044L, -107757L, 130439L, -124268L, -62293L), Seq(11686L, -186864L, -25385L, -88020L, 60443L, 39382L, 20270L, 51191L), Seq(-60510L, 79955L, 170787L, -64144L, -111662L, 37287L, -47652L, 73680L), Seq(116668L, 133770L, 75096L, 7624L, 105156L, 52017L, -109015L, -58692L)))

  /** Codebook entry component, ppm-integer — deterministic pseudo-random in
    * [-499991, 499991] (≈ [-0.5, 0.5) in ppm), the [[ivfCentroid]]
    * discipline: production PQ trains codebooks per subspace with k-means
    * (swap trained tables in via the `*With` forms); the scale-critical
    * parts — the one-time encode scan and the LUT-lookup scoring join — are
    * identical either way. All-integer so the oracle hashes exactly.
    */
  def pqCbVal(m: Int, c: Int, i: Int): Long =
    (((m.toLong * PQ_KSUB + c) * PQ_SUBDIM + i) * 48271L + 12345L) % 999983L - 499991L

  /** The default codebook table: codebooks(m)(c) = subvector of ppm ints. */
  def defaultPqCodebooks: Seq[Seq[Seq[Long]]] =
    (0 until PQ_M).map(m => (0 until PQ_KSUB).map(c =>
      (0 until PQ_SUBDIM).map(i => pqCbVal(m, c, i))))

  /** SQL literal for a full codebook table: array<array<array<bigint>>>,
    * indexed cb[m+1][c+1][i+1]. Constant-folded to ONE literal by Catalyst
    * — referencing it inside per-row lambdas costs nothing per row.
    */
  private def pqCbLitS(cbs: Seq[Seq[Seq[Long]]]): String =
    cbs.map(cb => cb.map(v => v.mkString("array(", "L,", "L)"))
        .mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  /** ppm quantization of the float vector (the int8 convention: exact
    * float→double widening, floor — identical in both engines).
    */
  private def pqPpmS(vec: String): String =
    s"transform($vec, x0 -> cast(floor(cast(x0 as double) * 1000000) as bigint))"

  /** PQ ENCODE — array of [[PQ_M]] codes, each the argmin-L2 codebook entry
    * for its subvector (ties to the lower code id via struct ordering).
    * One scan-side expression; the ppm array is lambda-bound (the rowSigS
    * discipline) so it is computed once per row. Pure Long arithmetic:
    * per-component squared diffs ≤ (1.5e6)² ≈ 2.3e12, × 8 components
    * ≈ 1.8e13 — far inside Long.
    */
  def pqCodesS(vec: String, cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks): String =
    pqCodesFromPpmS(pqPpmS(vec), cbs)

  /** [[pqCodesS]] over an ALREADY-ppm array<bigint> expression (the trainer
    * assigns from its staged ppm column — round-tripping ppm→float→ppm
    * through a double division would off-by-one the floor).
    */
  /** In-plan dimension check on a lambda-bound ppm array `vp0`: a vector
    * whose size is not PQ_M×PQ_SUBDIM must FAIL, not mis-encode —
    * out-of-range `element_at` yields NULL, a NULL distance propagates
    * into the argmin struct, and struct ordering ranks the null field
    * FIRST, silently electing garbage codes. The guard feeds the bound
    * variable itself so no rule can prune it (the lineDedup convention).
    */
  private def pqDimGuardS(inner: String): String =
    // the error arm is an array LITERAL of one raise_error — evaluated
    // eagerly when the branch is taken, so even an EMPTY vector raises
    // (a transform-lambda guard would never run its body on size 0)
    s"""element_at(transform(array(IF(size(vp0) = ${PQ_M * PQ_SUBDIM}, vp0,
       |  array(cast(raise_error(concat(
       |    'PQ: vector dimension ', cast(size(vp0) as string),
       |    ' != ${PQ_M * PQ_SUBDIM} — wrong-dimension vectors would silently mis-encode')) as bigint)))),
       |  vp -> $inner), 1)""".stripMargin.replace("\n", " ")

  def pqCodesFromPpmS(ppmExpr: String, cbs: Seq[Seq[Seq[Long]]]): String = {
    val cb = pqCbLitS(cbs)
    val body =
      s"""transform(sequence(0, ${PQ_M - 1}), mi ->
         |    array_min(transform(sequence(0, ${PQ_KSUB - 1}), ci ->
         |      named_struct(
         |        'd', aggregate(sequence(1, $PQ_SUBDIM), 0L, (acc, i) ->
         |          acc + (element_at(vp, mi*$PQ_SUBDIM + i) - element_at(element_at(element_at($cb, mi+1), ci+1), i))
         |              * (element_at(vp, mi*$PQ_SUBDIM + i) - element_at(element_at(element_at($cb, mi+1), ci+1), i))),
         |        'c', cast(ci as bigint)))).c)""".stripMargin.replace("\n", " ")
    s"element_at(transform(array($ppmExpr), vp0 -> ${pqDimGuardS(body)}), 1)"
  }

  /** Per-QUERY ADC lookup table: lut[m+1][c+1] = dot_ppm(query subvector m,
    * codebook entry c) — the asymmetric-distance trick: the query is never
    * quantized; scoring a corpus vector is [[PQ_M]] table lookups instead
    * of a 64-component dot product. Built scan-side per query row
    * ([[PQ_M]]×[[PQ_KSUB]] = 128 short folds — query sets are small and
    * broadcast).
    */
  def pqLutS(vec: String, cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks): String = {
    val cb = pqCbLitS(cbs)
    val body =
      s"""transform(sequence(0, ${PQ_M - 1}), mi ->
         |    transform(sequence(0, ${PQ_KSUB - 1}), ci ->
         |      aggregate(sequence(1, $PQ_SUBDIM), 0L, (acc, i) ->
         |        acc + element_at(vp, mi*$PQ_SUBDIM + i) * element_at(element_at(element_at($cb, mi+1), ci+1), i))))"""
        .stripMargin.replace("\n", " ")
    s"element_at(transform(array(${pqPpmS(vec)}), vp0 -> ${pqDimGuardS(body)}), 1)"
  }

  /** ADC score of one (query LUT, corpus codes) pair: estimated inner
    * product of the query with the corpus vector's RECONSTRUCTION —
    * [[PQ_M]] lookups, no per-dimension arithmetic.
    */
  private[pipeline] def pqScoreS(lut: String, codes: String): String =
    s"""aggregate(sequence(0, ${PQ_M - 1}), 0L, (acc, mi) ->
       |  acc + element_at(element_at($lut, mi+1), cast(element_at($codes, mi+1) as int) + 1))"""
      .stripMargin.replace("\n", " ")

  /** ENCODE a corpus to (id, codes) — the one-time at-rest pass: at 100 TB
    * the float store is written once as PQ codes (64× smaller: 8 codes vs
    * 64 floats) and every probe afterwards reads codes only. Pair with
    * [[graft.pipeline.ShingleStage.stagedTable]] / a bucketed layout to
    * make probes scan co-located fixed-width rows.
    */
  def pqEncode(
      corpus: DataFrame,
      cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.where(col(vecCol).isNotNull)
      .select(col(idCol), graft.functions.PqCodes.of(col(vecCol), cbs).as("codes"))

  /** PQ top-k over a PRE-ENCODED (id, codes) corpus — the production probe:
    * queries broadcast with their ADC LUTs; each (query, corpus) pair costs
    * [[PQ_M]] array lookups; per-query top-k via window. The corpus never
    * shuffles and its floats never load.
    */
  def pqKnnOf(
      codes: DataFrame,
      queries: DataFrame,
      k: Int,
      cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        graft.functions.PqLut.of(col(vecCol), cbs).as("lut")))
    val scored = codes
      .select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", graft.functions.PqAdc.of(col("lut"), col("codes")))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** ANN RECALL REPORT — `recall@k` of each approximate top-k against the
    * exact baseline, the number an operator watches when swapping trained
    * centroids ([[graft.pipeline.KMeans.train]]) or codebooks ([[pqTrain]]) into a 100 TB
    * index: a routing or quantization regression shows up here before it
    * shows up in downstream quality. One row per arm: (method, n_exact,
    * n_hit, recall_ppm), where a hit is an exact pair the arm also
    * returned (rank-insensitive — the standard recall@k convention) and
    * recall_ppm is the integer ppm share.
    *
    * The pair key is `exact`'s own columns — (query_id, neighbor_id) for
    * a top-k, (src_id, tgt_id) for mined bitext pairs — and every arm must
    * carry them. One plan for every arm: each arm's pairs are tagged with
    * its method as a data column, the exact pairs fan out once per method,
    * and ONE left join from the exact side plus ONE method-keyed aggregate
    * score them all, so the exact subtree appears once (nothing is cached
    * across arms). LEFT join from the exact side: an approximate pair
    * absent from the baseline (a false neighbor) must lower recall by not
    * matching, not inflate the denominator.
    *
    * Scale shape: both sides are top-k OUTPUTS (|queries| × k rows per
    * arm — model-sized next to the corpus), so the join and the aggregate
    * are trivial; the cost lives in producing the exact baseline, which
    * is the one deliberately-quadratic operator in the family and is
    * therefore run over a SAMPLED query set, never the full corpus (the
    * ext_knn_* convention: a handful of probe queries).
    */
  def knnRecall(exact: DataFrame, arms: Seq[(String, DataFrame)]): DataFrame = {
    val methods = arms.map(_._1)
    require(methods.nonEmpty && methods.distinct.size == methods.size,
      s"knnRecall: arms need distinct method names, got ${methods.mkString(", ")}")
    val keys = exact.columns.toSeq
    val hits = arms
      .map { case (m, a) => a.select(keys.map(col) :+ lit(m).as("method") :+ lit(1).as("__hit"): _*) }
      .reduce(_.unionByName(_))
    // one null-key row per method: an EMPTY exact baseline (probe set with
    // no neighbors) still reports every arm, as 0/0 (null keys never join)
    val perMethod = exact.sparkSession.createDataFrame(
        java.util.Arrays.asList(methods.map(Row(_)): _*),
        StructType(Seq(StructField("method", StringType, nullable = false))))
      .select(col("method") +: keys.map(k => lit(null).cast(exact.schema(k).dataType).as(k)) :+
        lit(null).cast("int").as("__exact"): _*)
    exact.select(keys.map(col) :+ explode(array(methods.map(lit): _*)).as("method") :+
        lit(1).as("__exact"): _*)
      .unionByName(perMethod)
      .join(hits, "method" +: keys, "left")
      .groupBy("method")
      .agg(count(col("__exact")).as("n_exact"), count(col("__hit")).as("n_hit"))
      // greatest: the empty baseline reports 0/0 as recall 0, not a NULL
      // that diverges from the oracle's division-by-zero error
      .select(col("method"), col("n_exact"), col("n_hit"),
        expr("n_hit * 1000000 DIV greatest(n_exact, 1)").as("recall_ppm"))
  }

  /** PQ top-k with inline encode (correctness/bench form — production uses
    * [[pqEncode]] once + [[pqKnnOf]] per probe batch).
    */
  def pqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqKnnOf(pqEncode(corpus, cbs, idCol, vecCol), queries, k, cbs, idCol, vecCol)

  /** TRAIN PQ codebooks — per-subspace Lloyd k-means over the ppm-integer
    * subvectors, all [[PQ_M]] subspaces in the SAME scan (the
    * [[KMeans.train]] discipline, specialized):
    *
    *  - init: the [[PQ_KSUB]] corpus vectors with the smallest
    *    `xxhash64(id)` seed every subspace's codebook from their
    *    subvectors (TakeOrdered — deterministic, no rand(), retry-stable);
    *  - each round: ONE pass computes every row's per-subspace assignment
    *    (the same scan-side [[pqCodesS]] argmin the encode path uses) and
    *    reduces per (subspace, code, component) SUM/COUNT — integer sums,
    *    so cross-partition reassociation cannot perturb them and identical
    *    inputs train identical codebooks with no rounding epsilon at all
    *    (stronger than the float-mean 1e-6 rounding [[KMeans.train]]
    *    needs);
    *  - only model-sized data reaches the driver: M×KSUB×SUBDIM = 1024
    *    aggregate rows per round;
    *  - empty codes keep their previous entry (no resampling).
    *
    * Unlike IVF (where untrained pseudo-random centroids only ROUTE and
    * the scoring stays exact), PQ codebooks RECONSTRUCT the data — an
    * untrained codebook quantizes to noise and recall collapses, so
    * production PQ always trains. Returns a table for the `cbs` parameter
    * of [[pqEncode]]/[[pqKnnOf]]/[[pqKnn]].
    */
  def pqTrain(
      corpus: DataFrame,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[Seq[Long]]] = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val vecs = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), expr(pqPpmS(vecCol)).as("__p"))
    pqTrainOnPpm(vecs, iters)
  }

  /** [[pqTrain]] over an ALREADY-ppm long-array column — the
    * rotated-basis (OPQ-style) training path: [[rotatePpmLong]] vectors
    * must not re-quantize through the float spelling (it would
    * double-scale by 1e6).
    */
  def pqTrainPpm(
      corpus: DataFrame,
      iters: Int = 3,
      idCol: String = "vec_id",
      ppmCol: String = "embedding"): Seq[Seq[Seq[Long]]] =
    pqTrainOnPpm(corpus.where(col(ppmCol).isNotNull)
      .select(col(idCol).as("__id"), col(ppmCol).cast("array<bigint>").as("__p")), iters)

  /** The Lloyd loop over an explicit (__id, __p ppm-array) frame — shared
    * by [[pqTrain]] (raw vectors) and [[pqTrainResidual]] (cell
    * residuals).
    */
  private def pqTrainOnPpm(vecs: DataFrame, iters: Int): Seq[Seq[Seq[Long]]] = {
    val seeds = vecs
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(PQ_KSUB)
      .select("__p").collect().map(_.getSeq[Long](0).toIndexedSeq)
    require(seeds.size == PQ_KSUB,
      s"corpus has only ${seeds.size} non-null vectors for $PQ_KSUB codebook entries")
    require(seeds.head.size == PQ_M * PQ_SUBDIM,
      s"pqTrain expects ${PQ_M * PQ_SUBDIM}-dim vectors, got ${seeds.head.size}")
    val init: Seq[Seq[Seq[Long]]] = (0 until PQ_M).map(m =>
      (0 until PQ_KSUB).map(c =>
        (0 until PQ_SUBDIM).map(i => seeds(c)(m * PQ_SUBDIM + i))))
    (0 until iters).foldLeft(init) { (cbs, _) =>
      val sums = vecs
        .withColumn("__codes", graft.functions.PqCodes.of(col("__p"), cbs))
        .select(col("__codes"), posexplode(col("__p")).as(Seq("__pos", "__comp")))
        .withColumn("__m", expr(s"__pos DIV $PQ_SUBDIM"))
        .withColumn("__c", expr("element_at(__codes, cast(__m as int) + 1)"))
        .groupBy(col("__m"), col("__c"), expr(s"cast(__pos % $PQ_SUBDIM as bigint)").as("__i"))
        .agg(sum(col("__comp")).as("__sum"), count(lit(1)).as("__n"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4)))
        .toMap
      (0 until PQ_M).map(m => (0 until PQ_KSUB).map(c => (0 until PQ_SUBDIM).map { i =>
        sums.get((m.toLong, c.toLong, i.toLong)) match {
          // integer sum / count — rint of an exact ratio, fully deterministic
          case Some((s, n)) => math.rint(s.toDouble / n).toLong
          case None => cbs(m)(c)(i)
        }
      }))
    }
  }

  // ------------------------------------------------------------ IVF-PQ
  // residual encoding (the standard FAISS IVFPQ composition): quantize
  // vec − centroid(cell) instead of the raw vector. Residuals concentrate
  // near the origin — the coarse quantizer has already explained the
  // cell-level structure — so the same codebook budget (M×KSUB entries)
  // spends its resolution on a much smaller ball and reconstruction error
  // drops; with trained cells AND trained residual codebooks this is the
  // configuration production IVFPQ ships. Scoring stays ADC:
  //   dot(q, centroid_c + recon(codes)) = dot(q, centroid_c) + LUT(codes)
  // — one integer base term per (query, probed cell) plus the same M
  // table lookups as flat PQ. All-integer ppm arithmetic end to end.

  /** Centroid table in ppm (floor(x·1e6)) as a SQL literal — the integer
    * twin of the double centroid literal, so residuals subtract exactly
    * the same values in both engines.
    */
  /** Centroid components in ppm (floor(x*1e6) — the pqPpmS floor), the
    * table the native residual/norm kernels embed.
    */
  private[pipeline] def centroidsPpm(centroids: Seq[Seq[Double]]): Seq[Seq[Long]] =
    centroids.map(_.map(x => math.floor(x * 1000000).toLong))

  private def centPpmLitS(centroids: Seq[Seq[Double]]): String =
    centroids.map(_.map(x => math.floor(x * 1000000).toLong)
        .mkString("array(", "L,", "L)"))
      .mkString("array(", ",", ")")

  /** Residual ppm array for a row carrying `cell`: ppm(vec) − ppm(centroid
    * of its cell), dimension-guarded on the input vector.
    */
  private[pipeline] def residualPpmS(vecCol: String, centroids: Seq[Seq[Double]]): String = {
    val cp = centPpmLitS(centroids)
    val body =
      s"""transform(sequence(1, ${PQ_M * PQ_SUBDIM}), ri ->
         |  element_at(vp, ri) - element_at(element_at($cp, cast(cell as int) + 1), ri))"""
        .stripMargin.replace("\n", " ")
    s"element_at(transform(array(${pqPpmS(vecCol)}), vp0 -> ${pqDimGuardS(body)}), 1)"
  }

  /** Squared norm (ppm²) of the RECONSTRUCTION centroid(cell) +
    * codebook(codes) — the per-vector constant L2 ADC needs: estimated
    * −‖q − recon‖² = 2·dot(q, recon) − ‖recon‖² (+ ‖q‖², constant per
    * query). Stored once at encode time; pure Long arithmetic.
    */
  private[pipeline] def reconNrm2S(centroids: Seq[Seq[Double]], cbs: Seq[Seq[Seq[Long]]]): String = {
    val cp = centPpmLitS(centroids)
    val cb = pqCbLitS(cbs)
    s"""element_at(transform(array(codes), cs ->
       |  aggregate(sequence(1, ${PQ_M * PQ_SUBDIM}), 0L, (acc, i) ->
       |    acc + (element_at(element_at($cp, cast(cell as int) + 1), i)
       |           + element_at(element_at(element_at($cb, cast((i-1) DIV $PQ_SUBDIM as int) + 1),
       |               cast(element_at(cs, cast((i-1) DIV $PQ_SUBDIM as int) + 1) as int) + 1),
       |               cast((i-1) % $PQ_SUBDIM as int) + 1))
       |        * (element_at(element_at($cp, cast(cell as int) + 1), i)
       |           + element_at(element_at(element_at($cb, cast((i-1) DIV $PQ_SUBDIM as int) + 1),
       |               cast(element_at(cs, cast((i-1) DIV $PQ_SUBDIM as int) + 1) as int) + 1),
       |               cast((i-1) % $PQ_SUBDIM as int) + 1)))), 1)"""
      .stripMargin.replace("\n", " ")
  }

  /** ENCODE a corpus to (id, cell, codes, nrm2) with RESIDUAL codes — the
    * at-rest IVFPQ layout: same 64× compression as [[pqEncode]] (plus one
    * bigint norm) and the cell column the probe's equi-join routes on.
    * One scan: cell assignment (nCells codegen'd dot folds), residual
    * subtraction, argmin encode, and the reconstruction norm are all
    * scan-side; no shuffle.
    */
  def ivfPqEncode(
      corpus: DataFrame,
      centroids: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Long]]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.where(col(vecCol).isNotNull)
      .select(col(idCol), ivfCellOf(col(vecCol), centroids).as("cell"), col(vecCol))
      .select(col(idCol), col("cell"),
        graft.functions.PqResidualCodes.of(
          col(vecCol), col("cell"), centroidsPpm(centroids), cbs).as("codes"))
      .withColumn("nrm2", graft.functions.PqReconNrm2.of(
        col("cell"), col("codes"), centroidsPpm(centroids), cbs))

  /** IVFPQ top-k over a PRE-ENCODED (id, cell, codes, nrm2) corpus:
    * queries broadcast with their ADC LUT, their nprobe probe cells, and
    * one integer base term per cell (dot of the query with each centroid
    * — nCells folds per query, query sets are small); the probe is an
    * equi-join on the cell id, so only the probed cells' codes are
    * scored — the IVF routing win and the PQ memory win compose. The
    * corpus never shuffles and its floats never load.
    *
    * Scoring is L2 ADC (the FAISS IVFPQ default): score = 2·dot(q, recon)
    * − ‖recon‖², i.e. −‖q − recon‖² up to the per-query constant ‖q‖² —
    * dot(q, recon) decomposes as base(query, cell) + LUT(codes). Raw-IP
    * ranking amplifies reconstruction-norm noise (a code word with a
    * large norm scores high against every query); the stored norm term
    * cancels exactly that, and it is what measured better against the
    * cosine ground truth here. All-integer ppm² arithmetic.
    */
  def ivfPqKnnOf(
      encoded: DataFrame,
      queries: DataFrame,
      k: Int,
      centroids: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Long]]],
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cp = centPpmLitS(centroids)
    val basesBody =
      s"""transform(sequence(1, ${centroids.size}), ci ->
         |  aggregate(sequence(1, ${PQ_M * PQ_SUBDIM}), 0L, (acc, i) ->
         |    acc + element_at(vp, i) * element_at(element_at($cp, ci), i)))"""
        .stripMargin.replace("\n", " ")
    val q = broadcast(
      queries.where(col(vecCol).isNotNull)
        .select(col(idCol).as("query_id"),
          graft.functions.PqLut.of(col(vecCol), cbs).as("lut"),
          expr(s"element_at(transform(array(${pqPpmS(vecCol)}), vp0 -> ${pqDimGuardS(basesBody)}), 1)")
            .as("__bases"),
          ivfProbesOf(col(vecCol), centroids, nprobe).as("__probes"))
        .select(col("query_id"), col("lut"), col("__bases"),
          explode(col("__probes")).as("cell"))
        .select(col("query_id"), col("lut"), col("cell"),
          expr("element_at(__bases, cast(cell as int) + 1)").as("__base")))
    val scored = encoded
      .select(col(idCol).as("neighbor_id"), col("cell"), col("codes"), col("nrm2"))
      .join(q, "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("score",
        lit(2L) * (graft.functions.PqAdc.of(col("lut"), col("codes")) + col("__base"))
          - col("nrm2"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** IVFPQ top-k with inline encode (correctness/bench form — production
    * uses [[ivfPqEncode]] once + [[ivfPqKnnOf]] per probe batch).
    */
  def ivfPqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      centroids: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Long]]],
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfPqKnnOf(ivfPqEncode(corpus, centroids, cbs, idCol, vecCol),
      queries, k, centroids, cbs, nprobe, idCol, vecCol)

  /** TRAIN residual codebooks — [[pqTrain]]'s Lloyd loop over the CELL
    * RESIDUALS instead of the raw vectors (the FAISS IVFPQ training
    * order: train the coarse quantizer first, then fit codebooks to what
    * it leaves unexplained). Deterministic like [[pqTrain]] (hash-seeded
    * init, exact integer sums).
    */
  def pqTrainResidual(
      corpus: DataFrame,
      centroids: Seq[Seq[Double]],
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[Seq[Long]]] = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val vecs = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        ivfCellOf(col(vecCol), centroids).as("cell"), col(vecCol))
      .select(col("__id"), expr(residualPpmS(vecCol, centroids)).as("__p"))
    pqTrainOnPpm(vecs, iters)
  }

  /** CLUSTER CENTROID SUMMARIES — the retrain feed: after a dedup election
    * ([[semanticDedup]] / [[semanticDedupIncremental]] / the minhash
    * family), each cluster's mean embedding is its representative — the
    * vector that seeds the NEXT round's IVF cells or SemDeDup centroids
    * (the standing remedy for a giant cell is "retrain on current data";
    * this is the aggregation that retraining reads). Emitted EXPLODED as
    * (cluster_id, pos, mean_ppm): integer ppm means via exact integer
    * sums and one floor division — deterministic and oracle-hashable,
    * and the consumer (a centroid table literal) wants per-component
    * rows anyway.
    *
    * Scale: the join is id-equi; the aggregate is map-side-combinable
    * sum/count per (cluster, component) — nCluster × dim rows out, never
    * a collect_list of member vectors.
    */
  def clusterCentroids(
      labeled: DataFrame,
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(labeled.columns.contains("cluster_id"),
      s"labeled must carry 'cluster_id', got ${labeled.columns.mkString(", ")}")
    labeled.select(col(idCol), col("cluster_id"))
      .join(emb.where(col(vecCol).isNotNull).select(col(idCol), col(vecCol)), idCol)
      .select(col("cluster_id"),
        posexplode(expr(pqPpmS(vecCol))).as(Seq("__p0", "__v")))
      .groupBy(col("cluster_id"), expr("cast(__p0 as bigint)").as("pos"))
      .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
      .select(col("cluster_id"), col("pos"),
        expr("cast(floor(cast(__s as double) / __n) as bigint)").as("mean_ppm"))
  }

  // ------------------------------------------------------- IVF+PQ incremental

  /** Per-(subspace, code) self-dot of the codebook entry — ||cb[m][c]||²
    * in ppm². Because subspaces are disjoint coordinate blocks, the squared
    * norm of a PQ RECONSTRUCTION is exactly the sum of its entries' self
    * dots: ||recon||² = Σ_m ||cb[m][code_m]||², no cross terms. Emitted as
    * a literal lookup table next to the ADC LUT, so the probe recovers a
    * true cosine estimate from integer ingredients only.
    */
  def pqSelfDots(cbs: Seq[Seq[Seq[Long]]]): Seq[Seq[Long]] =
    cbs.map(_.map(entry => entry.map(v => v * v).sum))

  private def pqSelfDotLitS(cbs: Seq[Seq[Seq[Long]]]): String =
    pqSelfDots(cbs).map(row => row.mkString("array(", "L,", "L)"))
      .mkString("array(", ",", ")")

  /** Squared norm of the ppm quantization of the vector (exact integer). */
  def pqQNorm2S(vec: String): String =
    s"aggregate(${pqPpmS(vec)}, 0L, (acc, x1) -> acc + x1 * x1)"

  /** Estimated-cosine ppm of (query LUT, corpus codes): ADC inner product
    * over the reconstruction, normalized by the exact integer norms —
    * floor((adc / (sqrt(q2) * sqrt(max(r2, 1)))) * 1e6). Every ingredient
    * is an exact integer ≤ ~2^46, so the doubles, the IEEE-correctly-
    * rounded sqrts, and the floor are bit-identical across engines (the
    * mixture-temperature sqrt precedent).
    */
  /** COLUMN form of [[pqCosPpmS]] over the native [[graft.functions.PqAdc]]
    * kernel — the per-pair hot path of [[ivfPqStoreMatches]]: both
    * integer folds (the ADC dot terms and the reconstruction norm, M
    * lookups each) run as one static kernel call instead of two
    * interpreted HOF aggregates; the surrounding float arithmetic is the
    * same IEEE sequence, so outputs are bit-identical (spec-asserted
    * differentially against the HOF spelling below).
    */
  def pqCosPpm(lut: Column, codes: Column, q2: Column, cbs: Seq[Seq[Seq[Long]]]): Column = {
    val adc = graft.functions.PqAdc.of(lut, codes)
    val r2 = graft.functions.PqAdc.of(expr(pqSelfDotLitS(cbs)), codes)
    floor((adc.cast("double") /
        (sqrt(q2.cast("double")) * sqrt(greatest(r2, lit(1L)).cast("double"))))
      * lit(1000000)).cast("long")
  }

  /** The HOF spelling of the ADC cosine (the differential REFERENCE for
    * [[pqCosPpm]]; hot paths use the Column form).
    */
  def pqCosPpmS(lut: String, codes: String, q2: String, cbs: Seq[Seq[Seq[Long]]]): String = {
    val sd = pqSelfDotLitS(cbs)
    val adc = pqScoreS(lut, codes)
    val r2 = s"""aggregate(sequence(0, ${PQ_M - 1}), 0L, (acc2, mj) ->
       |  acc2 + element_at(element_at($sd, mj+1), cast(element_at($codes, mj+1) as int) + 1))"""
      .stripMargin.replace("\n", " ")
    s"cast(floor((cast($adc as double) / (sqrt(cast($q2 as double)) * sqrt(cast(greatest($r2, 1L) as double)))) * 1000000) as bigint)"
  }

  /** ENCODE a corpus into the persistent VECTOR STORE row shape — (id,
    * cell, codes): the IVF cell routes probes (computed from the floats
    * while they exist, i.e. at write time), the PQ codes are all a probe
    * ever scores against. The caller attaches `cluster_id` (own id for a
    * deduped store) — the same contract as the minhash signature store.
    * 64-dim floats never persist: the store row is fixed-width and ~64×
    * smaller, which at 100 TB is the difference between an in-memory
    * probe side and a second corpus.
    */
  def vecStoreEncode(
      corpus: DataFrame,
      centroids: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.where(col(vecCol).isNotNull)
      .select(col(idCol),
        ivfCellOf(col(vecCol), centroids).as("cell"),
        graft.functions.PqCodes.of(col(vecCol), cbs).as("codes"))

  /** Probe a NEW batch against the PQ-encoded vector store — the IVFPQ
    * probe: each batch vector computes its `nprobe` nearest cells, its ADC
    * LUT, and its exact integer norm scan-side; the join is cell-equi
    * (the store shuffles — or at rest: is bucketed — by cell, never
    * broadcast or paired all-to-all); each surviving pair costs [[PQ_M]]
    * lookups. Returns (idCol, store_id, cluster_id, cos_ppm) for pairs
    * whose estimated cosine clears `tauPpm`.
    *
    * Streaming-legal as it stands: the cell probes, the ADC LUT and the
    * integer norm are scan-side expressions (literal centroids and
    * codebooks, no shuffle), the store probe is a stream-static equi-join
    * on the cell id, and a store vector lives in exactly ONE cell, so no
    * multi-band duplication arises. A streaming `batch` therefore emits,
    * micro-batch by micro-batch, the rows the batch operator emits
    * (spec-asserted on a MemoryStream). The store is then read per
    * micro-batch — persist it or lay it out cell-bucketed.
    */
  def ivfPqStoreMatches(
      batch: DataFrame,
      vecStore: DataFrame,
      centroids: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks,
      nprobe: Int = 2,
      tauPpm: Long = 850000L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(Seq("cell", "codes", "cluster_id").forall(vecStore.columns.contains),
      s"vecStore must carry 'cell', 'codes', 'cluster_id', got ${vecStore.columns.mkString(", ")}")
    val qb = batch.where(col(vecCol).isNotNull)
      .select(col(idCol),
        explode(ivfProbesOf(col(vecCol), centroids, nprobe)).as("cell"),
        graft.functions.PqLut.of(col(vecCol), cbs).as("__lut"),
        expr(pqQNorm2S(vecCol)).as("__q2"))
    qb.join(vecStore.select(col(idCol).as("store_id"), col("cell"), col("codes"), col("cluster_id")), "cell")
      .withColumn("cos_ppm", pqCosPpm(col("__lut"), col("codes"), col("__q2"), cbs))
      .where(col("cos_ppm") >= tauPpm)
      .select(col(idCol), col("store_id"), col("cluster_id"), col("cos_ppm"))
  }

  /** INCREMENTAL SEMANTIC dedup — the embedding-granularity member of the
    * incremental dedup family ([[graft.pipeline.Dedup.exactDedupIncremental]]
    * exact, [[graft.pipeline.Dedup.minhashDedupIncremental]] near-dup):
    * a growing corpus must not re-pay full-corpus semantic dedup per
    * ingest round, so new batches probe the PQ-encoded store
    * ([[ivfPqStoreMatches]] — historical floats never load, only codes),
    * pair among themselves (cell-blocked exact cosine, the [[semanticDedup]]
    * plan), and the union graph collapses through connected components.
    * Same output contract as the minhash twin: (idCol, cluster_id,
    * is_novel), store-min election, bridge documents merge old clusters.
    *
    * Thresholds are deliberately split: batch↔batch pairs use EXACT cosine
    * (floats are in hand — one scan), batch↔store uses the ADC estimate
    * (floats are gone — quantization error is the price of the 64× store).
    * The ID-DISJOINTNESS contract of [[Dedup.incrementalClusterLabels]]
    * applies unchanged; its opt-in check covers the batch rows with a
    * vector, the only ones that enter the component graph.
    */
  def semanticDedupIncremental(
      batch: DataFrame,
      vecStore: DataFrame,
      centroids: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks,
      tauPpm: Long = 850000L,
      nprobe: Int = 2,
      maxCellRows: Long = 1000000L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      checkIdDisjointness: Boolean = false): DataFrame = {
    val b0 = batch.where(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__cell", ivfCellOf(col("__v"), centroids))
      .withColumn("__nrm", norm(col("__v")))
    val b = if (maxCellRows > 0) {
      b0.withColumn("__csz", count(lit(1)).over(Window.partitionBy("__cell")))
        .withColumn("__cell", when(col("__csz") <= maxCellRows, col("__cell"))
          .otherwise(expr(
            s"""cast(raise_error(concat('semanticDedupIncremental: batch cell ', cast(__cell as string),
               | ' holds ', cast(__csz as string), ' rows (> ${maxCellRows}) - retrain centroids',
               | ' or raise maxCellRows')) as bigint)""".stripMargin)))
        .drop("__csz")
    } else b0
    // exact-cosine ppm (floor) so the threshold semantics match the store
    // probe's integer compare — for integer tauPpm, floor(c*1e6) >= tau
    // iff c*1e6 >= tau
    val pairs = b.as("x").join(b.as("y"),
        col("x.__cell") === col("y.__cell") && col("x.__id") < col("y.__id"))
      .withColumn("__cos_ppm",
        floor(dot(col("x.__v"), col("y.__v")) / (col("x.__nrm") * col("y.__nrm")) * 1e6).cast("long"))
      .where(col("__cos_ppm") >= tauPpm)
      .select(col("x.__id").as("id1"), col("y.__id").as("id2"))
    val matches = ivfPqStoreMatches(batch, vecStore, centroids, cbs, nprobe, tauPpm, idCol, vecCol)
    val edges = pairs.unionByName(
      matches.select(col(idCol).as("id1"), col("cluster_id").as("id2")).distinct())
    Dedup.incrementalClusterLabels(batch.where(col(vecCol).isNotNull), edges, vecStore,
      idCol, checkIdDisjointness)
  }

  /** The APPEND step closing the incremental semantic loop: new store rows
    * for a just-labeled batch — (id, cell, codes, cluster_id). The same
    * contract as [[graft.pipeline.Dedup.sigStoreAppend]]: union onto the
    * store for the next round; merged-away cluster ids still route probes
    * into the merged component via the store-min election.
    */
  def vecStoreAppend(
      batch: DataFrame,
      assignments: DataFrame,
      centroids: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Long]]] = defaultPqCodebooks,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(assignments.columns.contains("cluster_id"),
      s"assignments must carry 'cluster_id' (a semanticDedupIncremental result), " +
        s"got ${assignments.columns.mkString(", ")}")
    vecStoreEncode(batch, centroids, cbs, idCol, vecCol)
      .join(assignments.select(col(idCol), col("cluster_id")), idCol)
      .select(col(idCol), col("cell"), col("codes"), col("cluster_id"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus into
    * centroid cells, find within-cell pairs with cosine >= `minCos`, and
    * collapse the pair graph into clusters with one elected keeper each
    * (min-id, via [[Dedup.clusterLabels]] — near-dup similarity is not
    * transitive, so (A,B)+(B,C) must merge before dropping anything; a
    * graph too big for the driver union-find runs star contraction, so
    * adversarial chains converge in O(log n) rounds).
    *
    * The cell assignment is the blocking step (the published SemDeDup
    * recipe: k-means the embeddings, then compare ONLY within a cluster):
    * pairs never form across cells, so a near-dup pair straddling a cell
    * boundary is missed by design — the standard recall/cost trade, tuned
    * by `centroids` (fewer cells = higher recall, more pairs). Use
    * [[KMeans.train]] output for trained cells or
    * [[defaultCentroids]] for the deterministic untrained form.
    *
    * Scale shape: assignment is scan-side (literal centroids, codegen'd
    * dot folds); the pair join is an equi-join on the cell id, so the
    * corpus shuffles by cell and each cell's pairs form locally —
    * quadratic ONLY within a cell (cells are corpus/nCells sized). A
    * pathological giant cell means the centroids need retraining, the
    * same remedy as a hot LSH bucket — and that must FAIL FAST, not burn
    * a quadratic join first: the in-plan guard raises past `maxCellRows`
    * rows in one cell (a count window sharing the pair join's cell
    * partitioning — no extra exchange) before any pair forms. The
    * component step runs on the pair graph only, never the corpus.
    *
    * Returns (idCol, cluster_id, is_keeper) for every non-null-vector row.
    */
  def semanticDedup(
      corpus: DataFrame,
      centroids: Seq[Seq[Double]],
      minCos: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCellRows: Long = 1000000L): DataFrame = {
    require(centroids.nonEmpty && centroids.map(_.size).distinct.size == 1,
      "centroids must be a non-empty table of equal-dimension vectors")
    require(minCos > 0.0 && minCos <= 1.0,
      s"minCos must be in (0, 1], got $minCos (a non-positive threshold pairs everything in a cell)")
    val b0 = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__cell", ivfCellOf(col("__v"), centroids))
      .withColumn("__nrm", norm(col("__v")))
    // giant-cell guard rides on the join key so it cannot be pruned away
    val b = if (maxCellRows > 0) {
      b0.withColumn("__csz", count(lit(1)).over(Window.partitionBy("__cell")))
        .withColumn("__cell", when(col("__csz") <= maxCellRows, col("__cell"))
          .otherwise(expr(
            s"""cast(raise_error(concat('semanticDedup: cell ', cast(__cell as string),
               | ' holds ', cast(__csz as string), ' rows (> ${maxCellRows}) - the within-cell',
               | ' pair join would be quadratic; retrain centroids (KMeans.train, more cells)',
               | ' or raise maxCellRows')) as bigint)""".stripMargin)))
        .drop("__csz")
    } else b0
    val pairs = b.as("x").join(b.as("y"),
        col("x.__cell") === col("y.__cell") && col("x.__id") < col("y.__id"))
      .where(dot(col("x.__v"), col("y.__v")) / (col("x.__nrm") * col("y.__nrm")) >= minCos)
      .select(col("x.__id").as("id1"), col("y.__id").as("id2"))
    Dedup.clusterLabels(corpus.where(col(vecCol).isNotNull), pairs, idCol)
  }
}
