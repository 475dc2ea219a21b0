package graft.pipeline

/** Offline producer of [[Similarity.refResidualPqCodebooks]]: runs
  * [[Similarity.pqTrainResidual]] over a corpus with the frozen trained
  * IVF centroids ([[Similarity.refIvfCentroids]]) and prints the codebook
  * table as a Scala literal — the [[TrainIvfTool]] workflow for the
  * residual quantizer (the FAISS IVFPQ training order: coarse quantizer
  * first, then codebooks on what it leaves unexplained). Training is
  * deterministic (hash-seeded init, exact integer sums), so re-running on
  * the same corpus reproduces the literal; PipelineOpsSpec asserts that.
  *
  * Usage: runMain graft.pipeline.TrainResidualPqTool [sfDir] [iters]
  */
object TrainResidualPqTool {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val iters = if (args.length > 1) args(1).toInt else 8
    val spark = graft.LocalSession(8)
    val cbs = Similarity.pqTrainResidual(
      graft.tables.Tables.embeddings(spark, dir), Similarity.refIvfCentroids, iters)
    println("TRAINED_RESIDUAL_CODEBOOKS = Seq(")
    println(cbs.map(cb =>
      "    Seq(" + cb.map(e => "Seq(" + e.map(_ + "L").mkString(", ") + ")")
        .mkString(", ") + ")").mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
