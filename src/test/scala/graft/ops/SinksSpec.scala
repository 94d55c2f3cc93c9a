package graft.ops

import graft.SparkSpec

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("readScheme rewrites s3:// to s3a:// and leaves other schemes alone") {
    assert(Sinks.readScheme("s3://bucket/data/") == "s3a://bucket/data/")
    assert(Sinks.readScheme("s3a://bucket/x") == "s3a://bucket/x")
    assert(Sinks.readScheme("/local/path") == "/local/path")
    assert(Sinks.readScheme("hdfs://nn/x") == "hdfs://nn/x")
  }

  test("jsonRoundTrip refuses frames above the code-table size guard") {
    val big = spark.range(10001).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Sinks.jsonRoundTrip(spark, big, "/tmp/graft-sinks-spec-reject")
    }
    assert(e.getMessage.contains("small code tables"))
  }
  test("dynamic partition overwrite replaces only the partitions in the frame") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft-dyn-").toString
    val base = Seq((1L, "A", 10L), (2L, "N", 20L), (3L, "R", 30L), (4L, "A", 40L))
      .toDF("id", "flag", "v")
    Sinks.writePartitionedParquet(base, out, Seq("flag"))
    // re-deliver ONLY the A partition with corrected values
    val fixedA = Seq((1L, "A", 11L), (4L, "A", 44L)).toDF("id", "flag", "v")
    Sinks.overwritePartitionsDynamic(fixedA, out, Seq("flag"))
    val got = spark.read.parquet(out).select("id", "flag", "v")
      .as[(Long, String, Long)].collect().sorted.toSeq
    // A rows replaced; N and R untouched (static overwrite would drop them)
    assert(got == Seq((1L, "A", 11L), (2L, "N", 20L), (3L, "R", 30L), (4L, "A", 44L)))
  }

  test("a partitioned local write starts no process and sets the stock permissions") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "A"), (2L, "N"), (3L, "A")).toDF("id", "flag")
    val (ours, stock) =
      (Files.createTempDirectory("graft-sink-ours-"), Files.createTempDirectory("graft-sink-stock-"))
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      Sinks.writePartitionedParquet(df, ours.toString, Seq("flag"))
      // the same write through the session's stock file:// filesystem
      df.hint("rebalance", col("flag")).write.mode("overwrite")
        .partitionBy("flag").parquet(stock.toString)
    } finally rec.stop()
    val dump = Files.createTempFile("graft-sink-", ".jfr")
    try rec.dump(dump) finally rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    assert(!commands.exists(_.contains(ours.toString)), s"forked for the sink write: $commands")
    // the recording does see forks where the stock filesystem makes them
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(commands.exists(_.contains(stock.toString)), "no fork recorded for the stock write")
    // every file and directory, part-file ids aside, with its permissions
    def perms(root: Path): Map[String, String] =
      Files.walk(root).iterator.asScala.map { p =>
        root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "ID") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    assert(perms(ours).size > 4 && perms(ours) == perms(stock))
  }
}
