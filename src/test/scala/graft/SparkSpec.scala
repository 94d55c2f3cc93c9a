package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up

  /** Runs `body` with `spark.sql.shuffle.partitions` at `n` on the shared
    * session, restoring the previous value afterwards.
    */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body
    finally spark.conf.set(key, prev)
  }
}

object SparkSpec {
  // production session config: suites exercise the same optimizer rules +
  // SQL functions Verify/Bench run with
  lazy val session: SparkSession = GraftSession("local[4]", 4)
}
