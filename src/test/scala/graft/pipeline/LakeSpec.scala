package graft.pipeline

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** End-to-end golden test: build the full lake from FIXTURES.md-shaped
  * inputs (B1-B8) and assert output schemas, partition layout, and the
  * reference's quirk semantics (null SAS date → 1960, state abbreviation
  * with leading-space strip, row-alignment gate, 'Unknown' worker country,
  * time_id == id).
  */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtures: Path = {
    val root = Files.createTempDirectory("graft-lake-fixtures")
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    write("refugee_and_migrant_data/asylum.csv",
      """country,year,num_arrivals,num_accepted_affirmitavely,num_accepted_defensively
        |China,2018,1200,300,150
        |El Salvador,2018,900,,200
        |China,2019,1100,280,140
        |""".stripMargin)
    write("climate_data/climate.csv",
      """dt,AverageTemperature,AverageTemperatureUncertainty,Country
        |2013-08-01,24.613,0.345,United States
        |2013-09-01,,,United States
        |2013-08-01,18.2,0.2,China
        |""".stripMargin)
    write("i94_visitor_data/i94cit_and_i94res.json",
      """[ {"code": 209, "region": "Japan", "valid": true},
        |  {"code": 245, "region": "China", "valid": true} ]""".stripMargin)
    write("i94_visitor_data/i94port.json",
      """[ {"code": "NYC", "municipality": "New York", "region": "NY"},
        |  {"code": "SFR", "municipality": "San Francisco", "region": "CA"} ]""".stripMargin)
    write("i94_visitor_data/i94visa.json",
      """[ {"code": 1, "type": "Business"},
        |  {"code": 2, "type": "Pleasure"},
        |  {"code": 3, "type": "Student"} ]""".stripMargin)
    // B6: SAS-derived parquet (doubles; null depdate exercises the
    // null→1960-01-01 quirk)
    Seq(
      (6.0, 209.0, "NYC", 20546.0, Some(2.0), "NY", Some(20560.0), "B2"),
      (7.0, 245.0, "SFR", 20547.0, Some(1.0), "CA", None, "B1"))
      .toDF("cicid", "i94res", "i94port", "arrdate", "i94visa", "i94addr", "depdate", "visatype")
      .write.mode("overwrite").parquet(root.resolve("i94_visitor_data/sas_data").toString)
    write("legal_immigrant_data/h1b_kaggle.csv",
      """CASE_STATUS,EMPLOYER_NAME,YEAR,WORKSITE
        |CERTIFIED,ACME CORP,2016,"SAN FRANCISCO, CALIFORNIA"
        |DENIED,GLOBEX,2016,"RENO, NEVADA"
        |""".stripMargin)
    write("legal_immigrant_data/H-1B_Disclosure_Data_FY17.csv",
      """CASE_STATUS,VISA_CLASS,EMPLOYMENT_START_DATE,EMPLOYMENT_END_DATE,EMPLOYER_NAME,EMPLOYER_CITY,EMPLOYER_STATE,WORKSITE_CITY,WORKSITE_STATE
        |CERTIFIED,H-1B,2017-03-01,2020-02-28,ACME CORP,AUSTIN,TX,AUSTIN,TX
        |WITHDRAWN,E-3,2017-05-15,2019-05-14,GLOBEX,RENO,NV,MISALIGNED ROW,NOT_A_STATE
        |""".stripMargin)
    root
  }

  /** A copy of the fixture inputs with the file at `rel` holding `content`. */
  private def fixturesWith(rel: String, content: String): Path = {
    val root = Files.createTempDirectory("graft-lake-variant")
    Files.walk(fixtures).iterator.asScala.foreach { p =>
      val to = root.resolve(fixtures.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    Files.writeString(root.resolve(rel), content)
    root
  }

  /** Every regular file under `dir` by relative path, with its bytes. */
  private def tree(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private lazy val out: Path = Files.createTempDirectory("graft-lake-out")
  private lazy val counts: Map[String, Long] =
    Lake.build(spark, fixtures.toString, out.toString)

  test("lake builds all six outputs with rows") {
    assert(counts.keySet == Set("country", "asylum", "visitor", "worker", "time", "fact"))
    assert(counts.values.forall(_ > 0))
    assert(counts("asylum") == 3)
    assert(counts("visitor") == 2)
    // kaggle 2 rows + 1 aligned disclosure row (NOT_A_STATE dropped)
    assert(counts("worker") == 3)
    assert(counts("time") == 3 + 2 + 3 && counts("fact") == counts("time"))
  }

  test("partitioned parquet layout matches the reference's write args") {
    assert(Files.exists(out.resolve("temperatures/country=united_states")))
    assert(Files.exists(out.resolve("asylum/country=china")))
    assert(Files.exists(out.resolve("time/immigration_type=asylum/arrival_year=2018")))
    assert(Files.exists(out.resolve("immigration_facts/immigration_type=worker")))
    assert(Files.exists(out.resolve("workers/visa_type=H-1B")))
  }

  test("visitor quirks: SAS dates expand; null depdate lands on 1960-01-01") {
    val v = Pipelines.parseVisitor(spark, fixtures.toString)
    val r = v.orderBy("id").select("id", "country", "visa_category",
      "port_of_entry_municipality", "arrival_year", "arrival_weekday",
      "expiry_year").as[(Int, String, String, String, Int, String, Int)].collect()
    assert(r(0) == ((6, "japan", "pleasure", "new_york", 2016, "sat", 2016)))
    assert(r(1)._5 == 2016)
    assert(r(1)._7 == 1960) // null depdate → epoch default (pyspark.py:384-385)
  }

  test("worker quirks: state abbreviation with leading-space strip; alignment gate") {
    val w = Pipelines.parseWorker(spark, fixtures.toString)
    val states = w.select("worksite_state").as[String].collect().toSet
    assert(states == Set("CA", "NV", "TX")) // ' California'→CA; NOT_A_STATE row dropped
    assert(w.filter(col("employer_name") === "globex" &&
      col("visa_type") === "E-3").count() == 0)
  }

  test("time dim: asylum rows carry year only (typed nulls elsewhere); weekday is string") {
    val time = spark.read.parquet(out.resolve("time").toString)
    assert(time.schema("arrival_weekday").dataType.typeName == "string")
    val asylumRows = time.filter(col("immigration_type") === "asylum")
    assert(asylumRows.count() == 3)
    assert(asylumRows.filter(col("arrival_month").isNotNull).count() == 0)
    assert(asylumRows.select("arrival_year").as[Int].collect().toSet == Set(2018, 2019))
  }

  test("typed facades: lake outputs load as Dataset[T] with field access") {
    counts // force the build
    val facts = Models.fact(
      spark.read.parquet(out.resolve("immigration_facts").toString)
        .select("id", "country", "immigration_type", "time_id"))
    assert(facts.filter((f: Models.Fact) => f.time_id == f.id).count() == facts.count())
    val badShape = spark.range(3).toDF("id")
    val e = intercept[IllegalArgumentException](Models.fact(badShape))
    assert(e.getMessage.contains("not a conformed"))
    // the parse-side frames type directly (pre-drop they carry the registry shape)
    val visitors = Models.visitor(Pipelines.parseVisitor(spark, fixtures.toString))
    assert(visitors.filter((v: Models.Visitor) => v.arrival_year == 2016).count() == 2)
    val workers = Models.worker(Pipelines.parseWorker(spark, fixtures.toString))
    assert(workers.map((w: Models.Worker) => w.worksite_state).collect().toSet ==
      Set("CA", "NV", "TX"))
  }

  test("no pipeline plan contains a window: ids come from the zip-index path") {
    // VERDICT r6 flagged the lake's id assignment (a global row_number
    // window) as its only single-task stage; the ids now come from
    // range-partition + zipWithIndex, so no Window node of any kind may
    // appear in the parse-pipeline plans
    val in = fixtures.toString
    Seq(Pipelines.parseAsylum(spark, in), Pipelines.parseWorker(spark, in))
      .foreach { df =>
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("Window"), s"unexpected window stage:\n${p.take(800)}")
      }
  }

  test("Lake.build is overwrite-idempotent: a rerun produces identical counts") {
    val first = counts
    val again = Lake.build(spark, fixtures.toString, out.toString)
    assert(again == first)
  }

  test("LakeMain: CLI arg parsing and end-to-end run parity with Lake.build") {
    val (in1, out1) = LakeMain.parseArgs(Array("--path", "s3://bucket/data"))
    assert(in1 == "s3://bucket/data" && out1 == "s3://bucket/data/lake")
    val (in2, out2) = LakeMain.parseArgs(
      Array("--path", "/in", "--output", "/out"))
    assert(in2 == "/in" && out2 == "/out")
    assert(intercept[RuntimeException](LakeMain.parseArgs(Array.empty))
      .getMessage.contains("--path"))
    // the main path end-to-end (scheme rewrite is identity on local paths)
    val cliOut = Files.createTempDirectory("graft-lake-cli")
    val cliCounts = LakeMain.run(spark, fixtures.toString, cliOut.toString)
    assert(cliCounts == counts)
    assert(Files.exists(cliOut.resolve("immigration_facts")))
  }

  test("fact: time_id == id and worker country is 'Unknown'") {
    val fact = spark.read.parquet(out.resolve("immigration_facts").toString)
    assert(fact.filter(col("id") =!= col("time_id")).count() == 0)
    val workerCountries = fact.filter(col("immigration_type") === "worker")
      .select("country").distinct().as[String].collect().toSeq
    assert(workerCountries == Seq("Unknown"))
  }

  test("a failing gate publishes nothing: no staging left, the previous table intact") {
    counts // the good lake is in place
    val before = tree(out.resolve("asylum"))
    val headerOnly = fixturesWith("refugee_and_migrant_data/asylum.csv",
      "country,year,num_arrivals,num_accepted_affirmitavely,num_accepted_defensively\n")
    val e = intercept[IllegalArgumentException] {
      Lake.build(spark, headerOnly.toString, out.toString)
    }
    assert(e.getMessage.contains("table is empty"), e.getMessage)
    val staged = Files.list(out).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_")).toSeq
    assert(staged.isEmpty, s"staging left behind: $staged")
    assert(before.nonEmpty && tree(out.resolve("asylum")) == before)
  }

  test("a failing gate publishes no table: all six stay byte-for-byte as they were") {
    counts // the good lake is in place
    def tables: Map[String, Map[String, Seq[Byte]]] =
      Lake.outputDirs.values.map(d => d -> tree(out.resolve(d))).toMap
    val before = tables
    val headerOnly = fixturesWith("refugee_and_migrant_data/asylum.csv",
      "country,year,num_arrivals,num_accepted_affirmitavely,num_accepted_defensively\n")
    val e = intercept[IllegalArgumentException] {
      Lake.build(spark, headerOnly.toString, out.toString)
    }
    assert(e.getMessage.contains("table is empty"), e.getMessage)
    val staged = Files.list(out).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_")).toSeq
    assert(staged.isEmpty, s"staging left behind: $staged")
    assert(before.values.forall(_.nonEmpty))
    val rewritten = tables.collect { case (dir, files) if files != before(dir) => dir }
    assert(rewritten.isEmpty, s"tables rewritten: $rewritten")
  }

  test("worker duplicates within and across the two CSVs drop out in the one union dedupe") {
    val kaggle = "legal_immigrant_data/h1b_kaggle.csv"
    val fy17 = "legal_immigrant_data/H-1B_Disclosure_Data_FY17.csv"
    def lines(rel: String): Seq[String] =
      Files.readAllLines(fixtures.resolve(rel)).asScala.toSeq
    // a kaggle row and an FY17 row with the same projection: no year or
    // dates, no employer city or state, the same worksite
    val kaggleRow = "CERTIFIED,INITECH,,\"DALLAS, TEXAS\""
    val fy17Row = "CERTIFIED,H-1B,,,INITECH,,,DALLAS,TX"
    val distinct = fixturesWith(kaggle, (lines(kaggle) :+ kaggleRow).mkString("", "\n", "\n"))
    val dup = fixturesWith(kaggle,
      (lines(kaggle) ++ lines(kaggle).tail :+ kaggleRow).mkString("", "\n", "\n"))
    Files.writeString(dup.resolve(fy17),
      (lines(fy17) ++ lines(fy17).tail :+ fy17Row).mkString("", "\n", "\n"))
    def rows(in: Path): Seq[String] =
      Pipelines.parseWorker(spark, in.toString).orderBy("id").collect().map(_.toString).toSeq
    val expected = rows(distinct)
    assert(expected.size == 4 && expected.count(_.contains("initech")) == 1, expected)
    assert(rows(dup) == expected)
  }

  test("each lake input reads under the schema Spark infers") {
    val in = fixtures.toString
    val header = Map("header" -> "true")
    Seq("refugee_and_migrant_data/*.csv", "climate_data/*.csv",
      "legal_immigrant_data/h1b_kaggle.csv",
      "legal_immigrant_data/H-1B_Disclosure_Data_FY17.csv").map(f => s"$in/$f").foreach { p =>
      assert(GraftSqlBridge.csvHeaderSchema(spark, p, header) ==
        spark.read.options(header).csv(p).schema, p)
    }
    val sas = s"$in/i94_visitor_data/sas_data"
    assert(GraftSqlBridge.parquetSchema(spark, sas) == spark.read.parquet(sas).schema)
  }

  test("building the parse plans runs no csv or parquet inference job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(","))
    }
    org.apache.spark.graftbench.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      Seq(Pipelines.parseAsylum _, Pipelines.parseClimate _, Pipelines.parseVisitor _,
        Pipelines.parseWorker _).foreach(parse => parse(spark, fixtures.toString))
      org.apache.spark.graftbench.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    val inference = jobs.asScala.filter(j => j.startsWith("csv at") || j.startsWith("parquet at"))
    assert(inference.isEmpty, s"inference jobs: $inference (all jobs: $jobs)")
  }

  test("the build runs under the caller's job group and leaves no thread behind") {
    counts // Spark's own lazily started threads already exist
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.graftbench.ListenerDrain.drain(sc)
    def live: Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
    // two builds under two groups: threads kept from the first build would
    // submit the second build's jobs under the first group
    for (group <- Seq("lake-spec-first", "lake-spec-second")) {
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      drain()
      val before = live
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "LakeSpec build")
      try {
        Lake.build(spark, fixtures.toString, Files.createTempDirectory("graft-lake-group").toString)
        drain()
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      val seen = groups.asScala.toSeq
      assert(seen.nonEmpty && seen.forall(_ == group), s"job groups under $group: $seen")
      // Spark's own daemon pools may grow during a build; a non-daemon
      // thread keeps the JVM alive. A pool thread ends just after its
      // pool reports termination, hence the join.
      val left = (live -- before).filter { t => !t.isDaemon && { t.join(1000); t.isAlive } }
      assert(left.isEmpty, s"threads still alive: ${left.map(_.getName)}")
    }
  }

  /** A lake built at `n` shuffle partitions, with the (function name,
    * logical plan) of every SQL execution the build ran.
    */
  private def observedBuild(n: Int): (Path, Seq[(String, LogicalPlan)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe.logical)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(funcName -> qe.logical)
    }
    def drain(): Unit = org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext)
    val o = Files.createTempDirectory(s"graft-lake-p$n")
    drain() // what ran before is delivered before the listener is in place
    spark.listenerManager.register(listener)
    try {
      withShufflePartitions(n)(Lake.build(spark, fixtures.toString, o.toString))
      drain()
    } finally spark.listenerManager.unregister(listener)
    (o, seen.asScala.toSeq)
  }
  private lazy val (at1, at7) = (observedBuild(1), observedBuild(7))

  test("the build is single-pass: six write executions and no count") {
    for ((_, runs) <- Seq(at1, at7)) {
      val writes = runs.count(_._2.isInstanceOf[DataWritingCommand])
      assert(writes == 6, s"expected six write executions, saw ${runs.map(_._1)}")
      assert(!runs.exists(_._1 == "count"), s"a count ran: ${runs.map(_._1)}")
    }
  }

  test("outputs do not depend on the shuffle partition count; one part file per leaf") {
    val (one, seven) = (at1._1, at7._1)
    Lake.outputDirs.values.foreach { dir =>
      def rows(o: Path): Seq[String] =
        spark.read.parquet(o.resolve(dir).toString).collect().map(_.toString).toSeq.sorted
      assert(rows(one).nonEmpty && rows(one) == rows(seven), s"$dir differs")
      for (o <- Seq(one, seven); leaf <- Files.walk(o.resolve(dir)).iterator.asScala
           if Files.isDirectory(leaf)) {
        val parts = Files.list(leaf).iterator.asScala
          .count(_.getFileName.toString.startsWith("part-"))
        assert(parts <= 1, s"$leaf holds $parts part files")
      }
    }
  }

  test("each shared source is scanned by one execution per build; nothing stays persisted") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    counts // the good lake is in place
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    def record(qe: QueryExecution): Unit = scans.add(helper.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }.flatten.toSet)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.graftbench.ListenerDrain.drain(sc)
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val shared = Seq("sas_data", "i94cit_and_i94res.json", "i94port.json", "i94visa.json")
    val headerOnly = fixturesWith("refugee_and_migrant_data/asylum.csv",
      "country,year,num_arrivals,num_accepted_affirmitavely,num_accepted_defensively\n")
    for (good <- Seq(true, false)) {
      drain()
      scans.clear()
      val before = persisted
      spark.listenerManager.register(listener)
      try {
        val o = Files.createTempDirectory("graft-lake-scans").toString
        if (good) Lake.build(spark, fixtures.toString, o)
        else intercept[IllegalArgumentException](Lake.build(spark, headerOnly.toString, o))
        drain()
      } finally spark.listenerManager.unregister(listener)
      val perSource = shared.map(f => f -> scans.asScala.count(_.contains(f))).toMap
      assert(perSource.values.forall(_ == 1), s"executions scanning each source: $perSource")
      val left = persisted -- before
      assert(left.isEmpty, s"RDDs still persisted after the build: $left")
    }
  }
}
