package graft
object SmokeEntry {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
