package graft.pipeline

/** Offline producer of [[Similarity.refIvfCentroids]]: runs
  * [[KMeans.train]] over a corpus and prints the centroid table as a
  * Scala literal — the [[TrainBpeTool]] workflow for the IVF coarse
  * quantizer. Training is deterministic (hash-seeded init, 1e-6-rounded
  * means), so re-running on the same corpus reproduces the literal;
  * PipelineOpsSpec asserts exactly that.
  *
  * Doubles print via `Double.toString`, which round-trips exactly — the
  * parsed literal is bit-identical to the trained model.
  *
  * Usage: runMain graft.pipeline.TrainIvfTool [sfDir] [nCells] [iters]
  */
object TrainIvfTool {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nCells = if (args.length > 1) args(1).toInt else 8
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = graft.LocalSession(8)
    val cents = KMeans.train(graft.tables.Tables.embeddings(spark, dir), nCells, iters)
    println("TRAINED_CENTROIDS = Seq(")
    println(cents.map(c => "    Seq(" + c.mkString(", ") + ")").mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
