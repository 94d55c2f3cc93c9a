package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.{element_at, regexp_replace, split, typedLit}

/** Engine-side pre-ETL sources: the SAS-label text parse (fully native —
  * the fixture reproduces the documented line shapes of
  * `I94_SAS_Labels_Descriptions.SAS` incl. every quirk branch the
  * reference's character-walk handles) and the Excel grid reshape (cell
  * grid in, reference CSV shape out).
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sasFile: String = {
    val f = Files.createTempFile("graft-labels-", ".SAS")
    Files.writeString(f,
      """libname library 'path';
        |value i94cntyl
        |   236 =  'AFGHANISTAN'
        |   687  =  'INVALID: AMERICAN SAMOA'
        |   916 =  'No Country Code (916)'
        |;
        |value $prtcdl
        |   'ALC'	=	'ALCAN, AK             '
        |   'WAS'	=	'WASHINGTON DC, WARD 8, DC'
        |   'X96'	=	'ABU DHABI, UNITED ARAB EMIR'
        |   'MAR'	=	'MARIPOSA AZ'
        |   'ZZZ'	=	'No PORT Code (ZZZ)'
        |;""".stripMargin)
    f.toString
  }

  test("cityAndResidentCodes: plain, INVALID-prefixed, and No-Country-Code lines") {
    val rows = SasLabels.cityAndResidentCodes(spark, sasFile, 2, 4)
      .orderBy("code").as[(Int, Option[String], Boolean)].collect().toSeq
    assert(rows == Seq(
      (236, Some("Afghanistan"), true),
      (687, Some("American Samoa"), true), // INVALID: prefix stripped, still valid
      (916, None, false)))                 // listed but flagged invalid
  }

  test("portCodes: state upper-case, long-region title-case, multi-comma, no-region, no-port") {
    val rows = SasLabels.portCodes(spark, sasFile, 7, 11)
      .orderBy("code").as[(String, Option[String], Option[String])].collect().toSeq
    assert(rows == Seq(
      ("ALC", Some("Alcan"), Some("AK")),              // padded value rtrimmed; 2-letter state upper
      ("MAR", Some("Mariposa Az"), None),              // no comma → no region
      ("WAS", Some("Washington Dc"), Some("DC")),      // multi-comma: first + last
      ("X96", Some("Abu Dhabi"), Some("United Arab Emir")),
      ("ZZZ", None, None)))                            // No PORT Code → both null
  }

  test("writeCodeTables emits the multiLine JSON arrays parseVisitor joins against") {
    val out = Files.createTempDirectory("graft-codes-").toString
    SasLabels.writeCodeTables(spark, sasFile, out, citRange = (2, 4), portRange = (7, 11))
    def readBack(name: String) =
      spark.read.option("multiLine", true).json(s"$out/$name.json")
    val cit = readBack("i94cit_and_i94res")
    assert(cit.count() == 3 && cit.columns.toSet == Set("code", "region", "valid"))
    val port = readBack("i94port")
    assert(port.count() == 5 &&
      port.columns.toSet == Set("code", "municipality", "region"))
    val visa = readBack("i94visa")
    assert(visa.select("type").as[String].collect().toSet ==
      Set("Business", "Pleasure", "Student"))
    // the exact selectExpr surface Pipelines.parseVisitor applies
    assert(cit.selectExpr("code", "region as country").columns.toSeq ==
      Seq("code", "country"))
  }

  test("declared code-table schemas are the ones a multiLine read infers") {
    val out = Files.createTempDirectory("graft-codes-").toString
    SasLabels.writeCodeTables(spark, sasFile, out, citRange = (2, 4), portRange = (7, 11))
    for ((name, declared) <- SasLabels.codeTableSchemas) {
      val path = s"$out/$name.json"
      assert(spark.read.option("multiLine", true).json(path).schema == declared, name)
      val inferred = spark.read.option("multiLine", true).json(path)
        .orderBy("code").collect().toSeq
      assert(spark.read.schema(declared).option("multiLine", true).json(path)
        .orderBy("code").collect().toSeq == inferred, name)
    }
  }

  test("asylumFromCells: years from header row, height slicing, lettered cells → null") {
    // (sheet, row, col, str, num): the grid any xlsx decoder emits
    val cells = Seq(
      // sheet 0 = num_arrivals: header years + two country rows + a row
      // beyond the height bound that must be sliced away
      (0, 3, 1, "", Some(2017.0)), (0, 3, 2, "", Some(2018.0)),
      (0, 15, 0, "China", None), (0, 16, 0, "El Salvador", None),
      (0, 17, 0, "Total", None),
      (0, 15, 1, "", Some(1200.0)), (0, 15, 2, "D", None), // "D" = suppressed → null
      (0, 16, 1, "", Some(900.0)), (0, 16, 2, "", Some(800.0)),
      (0, 17, 1, "", Some(99999.0)),
      // sheet 1 = num_accepted_affirmitavely
      (1, 3, 1, "", Some(2017.0)), (1, 3, 2, "", Some(2018.0)),
      (1, 15, 0, "China", None), (1, 16, 0, "El Salvador", None),
      (1, 15, 1, "", Some(300.0)), (1, 16, 2, "", Some(250.0)),
      // sheet 2 = num_accepted_defensively (height 16 → row 15 only)
      (2, 3, 1, "", Some(2017.0)),
      (2, 15, 0, "China", None), (2, 15, 1, "", Some(150.5)))
      .toDF("sheet", "row", "col", "str", "num")
    val out = AsylumGrids.asylumFromCells(cells, Seq(17, 17, 16))
    assert(out.columns.toSeq == Seq("country", "year") ++ AsylumGrids.metricCols)
    val rows = out
      .as[(String, Int, Option[Int], Option[Int], Option[Int])].collect().toSeq
    assert(rows == Seq(
      ("China", 2017, Some(1200), Some(300), Some(150)), // 150.5 → int truncation
      ("China", 2018, None, None, None),
      ("El Salvador", 2017, Some(900), None, None),
      ("El Salvador", 2018, Some(800), Some(250), None)))
    assert(!rows.exists(_._1 == "Total"), "height bound must slice trailing rows")
  }

  // ---- real .xlsx end-to-end (Xlsx decoder + AsylumGrids relational half) ----

  /** 0-based column index → OOXML letters (0→A, 27→AB). */
  private def colLetters(c: Int): String = {
    var n = c + 1
    val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
    sb.result()
  }

  /** Build a real one-sheet xlsx: zip of the minimal OOXML parts, with
    * strings routed through the shared-string table (one as a rich-text
    * pair of runs, to pin concatenation) except `inline`, emitted as an
    * inlineStr cell.
    */
  private def xlsxBytes(cells: Seq[(Int, Int, Any)], inline: Set[String] = Set.empty,
                        richText: Set[String] = Set.empty): Array[Byte] = {
    val strings = cells.collect {
      case (_, _, s: String) if !inline(s) => s
    }.distinct
    val sidx = strings.zipWithIndex.toMap
    def cellXml(rw: Int, c: Int, v: Any): String = {
      val ref = s"${colLetters(c)}${rw + 1}"
      v match {
        case d: Double => s"""<c r="$ref"><v>$d</v></c>"""
        case i: Int => s"""<c r="$ref"><v>$i</v></c>"""
        case s: String if inline(s) =>
          s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""
        case s: String => s"""<c r="$ref" t="s"><v>${sidx(s)}</v></c>"""
      }
    }
    val rowsXml = cells.groupBy(_._1).toSeq.sortBy(_._1).map { case (rw, cs) =>
      s"""<row r="${rw + 1}">""" +
        cs.sortBy(_._2).map { case (r2, c, v) => cellXml(r2, c, v) }.mkString +
        "</row>"
    }.mkString
    def si(s: String): String =
      if (richText(s)) { // split into two runs
        val (a, b) = s.splitAt(s.length / 2)
        s"<si><r><t xml:space=\"preserve\">$a</t></r><r><t>$b</t></r></si>"
      } else s"<si><t>$s</t></si>"
    val parts = Map(
      "[Content_Types].xml" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""".stripMargin,
      "xl/workbook.xml" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>""".stripMargin,
      "xl/sharedStrings.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.length}" uniqueCount="${strings.length}">${strings.map(si).mkString}</sst>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
           |<sheetData>$rowsXml</sheetData></worksheet>""".stripMargin)
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    parts.foreach { case (name, content) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  test("Xlsx.parseRef decodes multi-letter columns") {
    assert(Xlsx.parseRef("A1") == (0, 0))
    assert(Xlsx.parseRef("B4") == (3, 1))
    assert(Xlsx.parseRef("Z10") == (9, 25))
    assert(Xlsx.parseRef("AB3") == (2, 27))
  }

  test("real xlsx workbooks → cell grid → reference asylum output end-to-end") {
    // the same logical content as the grid test above, but written as
    // three REAL xlsx workbooks (zip + OOXML parts) named per the
    // reference's file list, with a title row and sheet-0 quirks: "D"
    // suppression markers, a rich-text country name, an inlineStr cell
    val dir = Files.createTempDirectory("graft-xlsx-").toString
    def sheet(cells: Seq[(Int, Int, Any)], inline: Set[String] = Set.empty,
              rich: Set[String] = Set.empty) = xlsxBytes(
      Seq((0, 0, "Table 14d. Refugee Arrivals: title row")) ++ cells, inline, rich)
    val books = Seq(
      sheet(Seq(
        (3, 1, 2017), (3, 2, 2018),
        (15, 0, "China"), (16, 0, "El Salvador"), (17, 0, "Total"),
        (15, 1, 1200.0), (15, 2, "D"),
        (16, 1, 900.0), (16, 2, 800.0),
        (17, 1, 99999.0)), rich = Set("El Salvador")),
      sheet(Seq(
        (3, 1, 2017), (3, 2, 2018),
        (15, 0, "China"), (16, 0, "El Salvador"),
        (15, 1, 300.0), (16, 2, 250.0)), inline = Set("El Salvador")),
      sheet(Seq(
        (3, 1, 2017),
        (15, 0, "China"), (15, 1, 150.5))))
    AsylumGrids.referenceFiles.zip(books).foreach { case (name, bytes) =>
      Files.write(java.nio.file.Paths.get(dir, s"$name.xlsx"), bytes)
    }
    val out = Xlsx.asylumFromXlsxDir(spark, dir, heights = Seq(17, 17, 16))
    assert(out.columns.toSeq == Seq("country", "year") ++ AsylumGrids.metricCols)
    val rows = out
      .as[(String, Int, Option[Int], Option[Int], Option[Int])].collect().toSeq
    assert(rows == Seq(
      ("China", 2017, Some(1200), Some(300), Some(150)),
      ("China", 2018, None, None, None),
      ("El Salvador", 2017, Some(900), None, None),
      ("El Salvador", 2018, Some(800), Some(250), None)))
  }

  test("DSv2 xlsx source: short-name format, per-file partitions, column pruning") {
    val dir = Files.createTempDirectory("graft-xlsx-dsv2-").toString
    val book = xlsxBytes(Seq(
      (0, 0, "Header"), (1, 0, "alpha"), (1, 1, 10.5), (2, 1, 20.0)))
    val book2 = xlsxBytes(Seq((0, 0, "beta"), (0, 1, 7.0)))
    Files.write(java.nio.file.Paths.get(dir, "a.xlsx"), book)
    Files.write(java.nio.file.Paths.get(dir, "b.xlsx"), book2)

    // registered short name resolves through META-INF/services
    val df = spark.read.format("xlsx").load(dir)
    assert(df.columns.toSeq == Seq("file", "row", "col", "str", "num"))
    // one input partition per workbook
    assert(df.rdd.getNumPartitions == 2)

    val cells = df.select("file", "row", "col", "str", "num")
      .as[(String, Int, Int, Option[String], Option[Double])]
      .collect().toSeq
      .map { case (f, r, c, s, n) => (f.split('/').last, r, c, s, n) }
      .sortBy(t => (t._1, t._2, t._3))
    assert(cells == Seq(
      ("a.xlsx", 0, 0, Some("Header"), None),
      ("a.xlsx", 1, 0, Some("alpha"), None),
      ("a.xlsx", 1, 1, None, Some(10.5)),
      ("a.xlsx", 2, 1, None, Some(20.0)),
      ("b.xlsx", 0, 0, Some("beta"), None),
      ("b.xlsx", 0, 1, None, Some(7.0))))

    // column pruning pushes into the scan: the BatchScan's read schema
    // carries only the selected column
    val pruned = df.select("num")
    val scanLine = pruned.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("num") && !scanLine.contains("str"),
      s"scan did not prune columns: $scanLine")
    assert(pruned.as[Option[Double]].collect().flatten.sorted.toSeq ==
      Seq(7.0, 10.5, 20.0))

    // the DSv2 grid feeds the same relational half as Xlsx.cellGrid
    val sheetOrder = Map("a" -> 0, "b" -> 1)
    val grid = df
      .withColumn("sheet",
        element_at(typedLit(sheetOrder),
          regexp_replace(element_at(split($"file", "/"), -1), "\\.xlsx$", "")))
      .select($"sheet", $"row", $"col", $"str", $"num")
    assert(grid.where($"sheet" === 0).count() == 4)

    // ---- filter pushdown ----
    // a `file` suffix predicate prunes whole workbook PARTITIONS at
    // planning time: only b.xlsx's task is scheduled
    val oneBook = df.where($"file".endsWith("b.xlsx"))
    assert(oneBook.rdd.getNumPartitions == 1, "file filter did not prune partitions")
    assert(oneBook.count() == 2)
    // row/col predicates reach the scan (PushedFilters in the plan) and
    // still return exact results (Spark re-applies them as residuals)
    val rowFiltered = df.where($"row" >= 1 && $"col" === 1)
    val planStr = rowFiltered.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedFilters") &&
      (planStr.contains("GreaterThanOrEqual(row") || planStr.contains("row")),
      s"row/col filters not pushed:\n$planStr")
    assert(rowFiltered.select("num").as[Option[Double]].collect().flatten.sorted.toSeq ==
      Seq(10.5, 20.0))

    // reported statistics shrink with file pruning (broadcast planning input)
    val fullSize = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val prunedSize = oneBook.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(prunedSize > 0 && prunedSize < fullSize,
      s"pruned scan must report a smaller size: $prunedSize vs $fullSize")
  }

  test("a Tables path rewritten in-process is read under its new schema") {
    val dir = Files.createTempDirectory("graft-tables-").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/orders.parquet")
    assert(graft.Tables.orders(spark, dir).columns.toSeq == Seq("k", "v"))
    Seq((2L, "b", 3.5)).toDF("k", "v", "w").write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val again = graft.Tables.orders(spark, dir)
    assert(again.columns.toSeq == Seq("k", "v", "w"))
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.5)))
  }
}
