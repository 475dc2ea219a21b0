package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trained orthogonal rotation for the dimension-truncation ladder —
  * the operator ext_knn_dim_recall's honest audit was missing: raw
  * prefix truncation of a non-MRL embedding keeps an ARBITRARY
  * coordinate subset (measured recall ≈ 0 at dim 32), while truncating
  * in the trained principal basis keeps the highest-variance
  * coordinates the corpus actually spreads along. PCA via power
  * iteration with deflation — the train-once-serve-online loop
  * (KMeans/PQ/BPE/NB precedent): [[TrainRotationTool]] prints the
  * frozen integer-ppm literal ([[Similarity.refRotationPpm]]), serving
  * is one codegen'd [[graft.functions.MatVecFloor]] node per row.
  *
  * Determinism (the [[KMeans.train]] discipline):
  *
  *  - the only cluster-side float reductions are the per-dimension
  *    means and the (i ≤ j) raw second moments, both ROUNDED to 1e-6
  *    before use — partition-order addition noise (~1e-13 relative)
  *    vanishes under the rounding, so any partition shape trains the
  *    identical matrix;
  *  - the eigensolve runs on the DRIVER over the rounded dim×dim
  *    covariance (a bounded collect of dim·(dim+1)/2 rows — the
  *    k-centroids class): fixed iteration count, deterministic `e_k`
  *    init, Gram–Schmidt re-orthogonalization against accepted
  *    components each step, deflation of the accepted eigenpair, and a
  *    first-significant-component-positive sign convention — no
  *    randomness anywhere;
  *  - components round to integer ppm for the frozen literal (exact
  *    decimal; the serve-side arithmetic contract lives in
  *    [[graft.functions.MatVecKernel]]).
  *
  * ROTATION ONLY — no mean centering: an orthogonal transform
  * preserves dot products and norms, so the FULL-dimension rotated
  * kNN equals the exact baseline (the nprobe=nCells equivalence
  * anchor, up to the ppm rounding of the matrix), which a
  * train-time-centered affine transform would forfeit. Centering was
  * also measured not to change truncated recall on this corpus (the
  * self-excluded top-k is translation-insensitive here).
  *
  * Scale shape: training reads the corpus twice (means, moments) with
  * one dim²-bounded aggregation — run offline on a bounded sample at
  * 100 TB exactly like the KMeans/PQ trainers; serving is scan-side.
  */
object Rotation {

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** Train the full dim×dim rotation (rows = components, descending
    * eigenvalue) over an embedding table. Deterministic and
    * partition-shape independent — see the object scaladoc.
    */
  def train(
      emb: DataFrame,
      dim: Int = 64,
      iters: Int = 300,
      vecCol: String = "embedding"): Seq[Seq[Double]] = {
    val x = emb.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col("vec_id").as("id"), posexplode(col(vecCol)))
      .toDF("id", "i", "xi")
      .withColumn("xi", col("xi").cast("double"))
    val mu = new Array[Double](dim)
    x.groupBy("i").agg(avg("xi").as("m")).collect()
      .foreach(r => mu(r.getInt(0)) = round6(r.getDouble(1)))
    // raw second moments, upper triangle only; covariance assembled on
    // the driver as M(i,j) − mu_i·mu_j over the ROUNDED values
    val c = Array.ofDim[Double](dim, dim)
    x.as("a").join(x.as("b"),
        col("a.id") === col("b.id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(avg(col("a.xi") * col("b.xi")).as("m"))
      .collect()
      .foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        val v = round6(r.getDouble(2)) - mu(i) * mu(j)
        c(i)(j) = v; c(j)(i) = v
      }
    powerPca(c, dim, iters).map(_.toSeq).toSeq
  }

  /** [[train]] rounded to the integer-ppm literal the serve side embeds. */
  def trainPpm(
      emb: DataFrame,
      dim: Int = 64,
      iters: Int = 300,
      vecCol: String = "embedding"): Seq[Seq[Long]] =
    train(emb, dim, iters, vecCol).map(_.map(v => math.round(v * 1e6)))

  private def matVec(a: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val d = v.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = 0.0
      var j = 0
      while (j < d) { acc += a(i)(j) * v(j); j += 1 }
      out(i) = acc
      i += 1
    }
    out
  }

  private def dotA(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Power iteration with deflation: `nComp` orthonormal eigenvectors of
    * symmetric `c0`, descending eigenvalue. Deterministic — see the
    * object scaladoc for the conventions.
    */
  private def powerPca(
      c0: Array[Array[Double]], nComp: Int, iters: Int): Array[Array[Double]] = {
    val d = c0.length
    val a = c0.map(_.clone) // deflated working copy
    val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var k = 0
    while (k < nComp) {
      var v = Array.tabulate(d)(i => if (i == k % d) 1.0 else 0.0)
      var it = 0
      while (it < iters) {
        var w = matVec(a, v)
        comps.foreach { u =>
          val p = dotA(u, w)
          var i = 0
          while (i < d) { w(i) -= p * u(i); i += 1 }
        }
        val n = math.sqrt(dotA(w, w))
        if (n < 1e-12) {
          // eigen-space exhausted under deflation: keep the (orthogonal
          // projected) init direction deterministically
          it = iters
        } else {
          var i = 0
          while (i < d) { w(i) /= n; i += 1 }
          v = w
          it += 1
        }
      }
      // re-orthogonalize the final vector once more and normalize (the
      // exhausted arm and ppm stability both want it)
      comps.foreach { u =>
        val p = dotA(u, v)
        var i = 0
        while (i < d) { v(i) -= p * u(i); i += 1 }
      }
      val n = math.sqrt(dotA(v, v))
      if (n > 1e-12) { var i = 0; while (i < d) { v(i) /= n; i += 1 } }
      val fi = v.indexWhere(x => math.abs(x) > 1e-9)
      if (fi >= 0 && v(fi) < 0) { var i = 0; while (i < d) { v(i) = -v(i); i += 1 } }
      comps += v
      val lam = dotA(v, matVec(c0, v))
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { a(i)(j) -= lam * v(i) * v(j); j += 1 }
        i += 1
      }
      k += 1
    }
    comps.toArray
  }
}

/** Offline producer of [[Similarity.refRotationPpm]]: the
  * [[TrainIvfTool]] workflow for the truncation rotation. Longs print
  * exactly, so the parsed literal IS the trained model; re-running on
  * the same corpus reproduces it (PipelineOpsSpec asserts determinism).
  *
  * Usage: runMain graft.pipeline.TrainRotationTool [sfDir] [iters]
  */
object TrainRotationTool {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = if (args.length > 1) args(1).toInt else 300
    val spark = graft.LocalSession(8)
    val rot = Rotation.trainPpm(graft.tables.Tables.embeddings(spark, dir), iters = iters)
    println("TRAINED_ROTATION_PPM = Seq(")
    println(rot.map(r => "    Seq(" + r.map(_.toString + "L").mkString(", ") + ")").mkString(",\n"))
    println("  )")
    spark.stop()
  }
}

/** Offline producer of `Similarity.refRotPqCodebooks`: PQ codebooks
  * trained over the ROTATED corpus (the OPQ-style composition — the
  * trained basis concentrates per-subspace structure the per-subspace
  * Lloyd quantizer can exploit; measured: flat-PQ recall@3 roughly
  * doubles on this corpus vs codebooks trained in the raw basis).
  * Deterministic like every trainer here.
  *
  * Usage: runMain graft.pipeline.TrainRotPqTool [sfDir] [iters]
  */
object TrainRotPqTool {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = if (args.length > 1) args(1).toInt else 3
    val spark = graft.LocalSession(8)
    val emb = graft.tables.Tables.embeddings(spark, dir)
    val rot = emb.select(col("vec_id"),
      Similarity.rotatePpmLong(col("embedding")).as("embedding"))
    val cbs = Similarity.pqTrainPpm(rot, iters)
    println("TRAINED_ROT_PQ = Seq(")
    println(cbs.map(cb => "    Seq(" + cb.map(c =>
      "Seq(" + c.map(_.toString + "L").mkString(", ") + ")").mkString(",\n      ") + ")")
      .mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
