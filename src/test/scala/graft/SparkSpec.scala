package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite; small shuffle fan-out). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session; never stop per-suite
}

object SparkSpec {
  // 4 shuffle partitions: the plan-shape specs assume them
  lazy val session: SparkSession = LocalSession(4)
}
