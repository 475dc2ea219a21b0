package graft.pipeline

/** Offline producer of [[Bpe.refTrainedMerges]]: runs [[Bpe.train]] over a
  * corpus and prints the resulting table as a Scala literal to paste next
  * to the shipped one — the same workflow that froze
  * [[Similarity.refPqCodebooks]]. Training is deterministic (lexical
  * tie-breaks), so re-running on the same corpus reproduces the literal;
  * BpeSpec asserts exactly that, which keeps the frozen constant honest.
  *
  * Usage: runMain graft.pipeline.TrainBpeTool [sfDir] [nMerges]
  */
object TrainBpeTool {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val n = if (args.length > 1) args(1).toInt else 24
    val spark = graft.LocalSession(8)
    val ms = Bpe.train(graft.tables.Tables.documents(spark, dir), n)
    def esc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c => c.toString
    }
    println("TRAINED_MERGES = Seq(")
    println(ms.map { case (a, b) => s"""    ("${esc(a)}", "${esc(b)}")""" }.mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
