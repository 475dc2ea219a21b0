package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The recall step every multi-arm recall report runs: one row per arm,
  * keyed by the exact baseline's own columns, on hand-built frames.
  */
class KnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[(String, Long, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def knn(pairs: (Long, Long)*): DataFrame =
    pairs.toDF("query_id", "neighbor_id")

  test("an empty exact baseline reports (method, 0, 0, 0) for every arm") {
    val got = Similarity.knnRecall(knn(), Seq("a" -> knn(1L -> 2L), "b" -> knn()))
    assert(got.columns.toSeq == Seq("method", "n_exact", "n_hit", "recall_ppm"))
    assert(rows(got) == Set(("a", 0L, 0L, 0L), ("b", 0L, 0L, 0L)))
  }

  test("a false neighbor lowers recall and does not inflate n_exact; arms score apart") {
    val exact = knn(1L -> 10L, 1L -> 11L, 2L -> 20L)
    // arms carry their top-k extras (rank, score): only the pair key counts
    val withExtras = Seq((1L, 1L, 10L, 0.9), (1L, 2L, 99L, 0.8), (2L, 1L, 20L, 0.7))
      .toDF("query_id", "rank", "neighbor_id", "score")
    val got = Similarity.knnRecall(exact, Seq(
      "false_neighbor" -> withExtras,
      "all" -> exact,
      "one" -> knn(2L -> 20L, 3L -> 30L)))
    assert(rows(got) == Set(
      ("false_neighbor", 3L, 2L, 666666L),
      ("all", 3L, 3L, 1000000L),
      ("one", 3L, 1L, 333333L)))
  }

  test("the bitext key shape (src_id, tgt_id) needs no parameter") {
    val exact = Seq(1L -> 7L, 2L -> 8L).toDF("src_id", "tgt_id")
    val celled = Seq((1L, 7L, 5L), (2L, 9L, 3L)).toDF("src_id", "tgt_id", "margin")
    val got = Similarity.knnRecall(exact, Seq("ivf" -> celled, "none" -> celled.limit(0)))
    assert(rows(got) == Set(("ivf", 2L, 1L, 500000L), ("none", 2L, 0L, 0L)))
  }

  test("arms must have distinct method names") {
    val e = intercept[IllegalArgumentException](
      Similarity.knnRecall(knn(1L -> 2L), Seq("x" -> knn(), "x" -> knn())))
    assert(e.getMessage.contains("distinct method names"))
  }
}
