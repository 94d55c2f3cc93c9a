package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge

import java.nio.file.Files

/** The footer read that stands in for Spark's parquet schema inference:
  * the same schema, and no Spark job.
  */
class FooterSchemasSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private def assertSameAsSpark(path: String): Unit =
    assert(GraftSqlBridge.parquetSchema(spark, path) == spark.read.parquet(path).schema, path)

  test("every Tables table reads under the schema Spark infers") {
    Tables.events(spark, sf) // sets the nanos-as-long reading events needs
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
      "events", "documents", "embeddings").foreach(t => assertSameAsSpark(s"$sf/$t.parquet"))
  }

  test("TxLog segments read under the schema Spark infers, plain and partitioned") {
    val t = Files.createTempDirectory("graft-footer-").toString
    val df = spark.range(6).select($"id", ($"id" % 2).cast("string").as("k"), $"id".cast("double").as("x"))
    TxLog.append(df, t)
    TxLog.write(df, t + "_p", TxLog.WriteSpec(partitionBy = Seq("k")))
    val segments = TxLog.liveFiles(t) ++ TxLog.liveFiles(t + "_p")
    assert(segments.size == 3)
    segments.foreach(assertSameAsSpark)
  }

  test("a schema read starts no job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graftbench.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      GraftSqlBridge.parquetSchema(spark, s"$sf/lineitem.parquet")
      org.apache.spark.graftbench.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0)
  }

  test("a directory holding partition directories is refused, not read partially") {
    val d = Files.createTempDirectory("graft-footer-part-").resolve("t").toString
    Seq((1L, "a")).toDF("id", "k").write.partitionBy("k").parquet(d)
    intercept[IllegalArgumentException](GraftSqlBridge.parquetSchema(spark, d))
  }
}
