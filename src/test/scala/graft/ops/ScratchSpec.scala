package graft.ops

import graft.{SparkEntry, SparkSpec}

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The write-once/read-back contract of the scratch-parquet materializer
  * that replaced round 6's leaked persists (see Scratch's scaladoc).
  */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  test("materialize builds once per (session, dir, kind) and reads back the same rows") {
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    val first = Scratch.materialize("scratch_spec_once", spark, "dirA")(build)
    val again = Scratch.materialize("scratch_spec_once", spark, "dirA")(build)
    assert(builds == 1, "second call must reuse the artifact, not rebuild")
    assert(first.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(again.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // a different sf dir is a different artifact
    Scratch.materialize("scratch_spec_once", spark, "dirB")(build)
    assert(builds == 2)
  }

  test("materialized subplans hold no block-manager storage") {
    Scratch.materialize("scratch_spec_storage", spark, "dirC") {
      Seq.tabulate(100)(i => (i.toLong, s"row$i")).toDF("k", "v")
    }.count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "scratch materialization must not persist anything")
  }

  test("consumers see a plain parquet scan (column-prunable)") {
    val df = Scratch.materialize("scratch_spec_plan", spark, "dirD") {
      Seq((1L, "a", 2.0)).toDF("k", "v", "w")
    }.select("k")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"), s"expected a parquet scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint>"),
      s"projection must prune to the selected column:\n$plan")
  }

  test("a build that throws is built again under a fresh path, then never again") {
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    intercept[IllegalStateException](Scratch.once("scratch_spec_retry", spark, "dirF") { p =>
      paths += p
      throw new IllegalStateException("build failed")
    })
    val built = Scratch.once("scratch_spec_retry", spark, "dirF") { p => paths += p; p }
    assert(paths.size == 2 && paths.distinct.size == 2 && built == paths(1))
    assert(Scratch.once[String]("scratch_spec_retry", spark, "dirF")(_ => fail("built twice")) == built)
  }

  test("a second session of the context builds its own fixtures and leaves the first's alone") {
    // a TxLog fixture, a Scratch artifact, bucketed catalog tables and a
    // catalog-registered TxLog table
    val names = Seq("lake_txlog_snapshot", "tpch_q15", "join_bucketed", "sql_txlog_merge")
    def run(s: org.apache.spark.sql.SparkSession) = names.map { n =>
      n -> SparkEntry.queries(n)(s, "/root/testdata/sf0.001").collect().map(_.toString).toSeq
    }
    val first = run(spark)
    val second = run(spark.newSession())
    assert(second == first, "the second session must see the same results")
    assert(run(spark) == first, "the second session's builds must not change the first's")
  }

  test("a Scratch write and a TxLog commit start no process and set the stock permissions") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val (table, stock) =
      (Files.createTempDirectory("graft-txlog-ours-"), Files.createTempDirectory("graft-stock-"))
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val (artifact, segment) = try {
      Scratch.materialize("scratch_spec_forks", spark, "dirE")(df).count()
      TxLog.append(df, table.toString)
      df.write.mode("overwrite").parquet(stock.toString)
      (Files.list(Path.of(Scratch.base)).iterator.asScala
        .find(_.getFileName.toString.startsWith("scratch_spec_forks_")).get,
        Files.list(table.resolve("data")).iterator.asScala.toSeq.head)
    } finally rec.stop()
    val dump = Files.createTempFile("graft-forks-", ".jfr")
    try rec.dump(dump) finally rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    Seq(artifact, table).foreach { p =>
      assert(!commands.exists(_.contains(p.toString)), s"forked for a write under $p: $commands")
    }
    // the recording does see forks where the stock filesystem makes them
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(commands.exists(_.contains(stock.toString)), "no fork recorded for the stock write")
    // every file and directory, part-file ids aside, with its permissions
    def perms(root: Path): Map[String, String] =
      Files.walk(root).iterator.asScala.map { p =>
        root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "ID") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    assert(perms(stock).size > 3)
    assert(perms(artifact) == perms(stock))
    assert(perms(segment) == perms(stock))
  }
}
