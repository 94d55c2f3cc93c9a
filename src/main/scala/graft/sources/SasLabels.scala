package graft.sources

import graft.ops.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Engine-side ingest for the reference's pre-ETL SAS-label parse
  * (`/root/reference/scripts/parse_immigration_sas.py`) — previously the
  * only reference capability with no runnable counterpart here (it ran as
  * a single-process Python script outside Spark).
  *
  * The `I94_SAS_Labels_Descriptions.SAS` file is plain text, so the whole
  * parse is native Spark column work — `regexp_extract` + string
  * functions, all codegen'd — over a line-numbered text scan: trivially
  * parallel at any file size, no UDFs, no driver loop. Line-range
  * selection mirrors the reference's positional slicing
  * (`parse_immigration_sas.py:100-104`); the emitted code tables are the
  * exact (code, region, valid) / (code, municipality, region) /
  * (code, type) shapes `Pipelines.parseVisitor` joins against.
  *
  * Fidelity notes vs the reference's character-walk parser:
  *   - INVALID values keep the text after "`: `" (`:25-31`);
  *   - "No Country Code" rows stay listed with `valid = false` (`:32-38`);
  *   - port regions are upper-cased 2-letter US states, title-cased
  *     otherwise; a single leading space is stripped (`:76-81`);
  *   - multi-comma port values take the FIRST part as municipality and
  *     the LAST as region (`:70-75`).
  */
object SasLabels {

  /** Lines with stable 0-based numbers (file order — partition splits are
    * byte-ordered, so zipWithIndex reproduces the sequential read).
    */
  def numberedLines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path).rdd.zipWithIndex()
      .map { case (l, i) => (i, l.replaceAll("\\s+$", "")) }
      .toDF("lineno", "line")
  }

  /** i94cit/i94res code table: `NNN = 'REGION'` lines
    * (reference slice: 0-based lines 9-297).
    */
  def cityAndResidentCodes(spark: SparkSession, path: String,
                           firstLine: Long = 9, lastLine: Long = 297): DataFrame = {
    val v0 = regexp_extract(col("line"), "'(.*)$", 1) // after the first quote
    val digits = regexp_extract(col("line"), "(\\d+)", 1)
    numberedLines(spark, path)
      .filter(col("lineno").between(firstLine, lastLine))
      // ANSI mode: a line with no digit run extracts '' — null, don't throw
      .select(when(length(digits) > 0, digits.cast("int")).as("code"),
        regexp_replace(v0, "'$", "").as("v"))
      .withColumn("v",
        when(col("v").contains("INVALID"),
          expr("substring(v, instr(v, ':') + 2)")).otherwise(col("v")))
      .withColumn("valid", !col("v").contains("No Country Code"))
      .select(col("code"),
        when(col("valid"), initcap(lower(col("v")))).as("region"),
        col("valid"))
  }

  /** i94port code table: `'CODE' = 'MUNICIPALITY, REGION'` lines
    * (reference slice: 0-based lines 302-961).
    */
  def portCodes(spark: SparkSession, path: String,
                firstLine: Long = 302, lastLine: Long = 961): DataFrame = {
    val value = rtrim(regexp_extract(col("line"), "'[^']*'[^']*'([^']*)'", 1))
    val parts = split(col("v"), ",")
    val rawRegion = regexp_replace(element_at(parts, -1), "^ ", "")
    numberedLines(spark, path)
      .filter(col("lineno").between(firstLine, lastLine))
      .select(rtrim(regexp_extract(col("line"), "'([^']*)'", 1)).as("code"),
        value.as("v"))
      .select(col("code"),
        when(col("v").contains("No PORT Code"), lit(null))
          .otherwise(initcap(lower(element_at(parts, 1)))).as("municipality"),
        when(col("v").contains("No PORT Code") || size(parts) < 2, lit(null))
          .when(length(rawRegion) === 2, upper(rawRegion))
          .otherwise(initcap(lower(rawRegion))).as("region"))
  }

  /** Static visa-category codes (`parse_immigration_sas.py:97`). */
  def visaCodes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "Business"), (2L, "Pleasure"), (3L, "Student")).toDF("code", "type")
  }

  /** Static travel-mode codes (`parse_immigration_sas.py:98`). */
  def modeCodes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "Air"), (2L, "Sea"), (3L, "Land"), (9L, "Not reported"))
      .toDF("code", "mode")
  }

  /** The schema of each code table [[writeCodeTables]] writes, by file
    * name: what a multiLine JSON read would infer from these files (fields
    * in name order, JSON integers as BIGINT), declared so that a reader
    * skips the inference job. `code` is numeric for countries and visas,
    * a string for ports.
    */
  val codeTableSchemas: Map[String, StructType] = Map(
    "i94cit_and_i94res" -> StructType.fromDDL("code BIGINT, region STRING, valid BOOLEAN"),
    "i94port" -> StructType.fromDDL("code STRING, municipality STRING, region STRING"),
    "i94visa" -> StructType.fromDDL("code BIGINT, type STRING"))

  /** Parse the labels file and write the three code tables
    * `Pipelines.parseVisitor` reads, in the reference's multiLine
    * JSON-array file shape — the full pre-ETL step, engine-side.
    */
  def writeCodeTables(spark: SparkSession, sasPath: String, outDir: String,
                      citRange: (Long, Long) = (9, 297),
                      portRange: (Long, Long) = (302, 961)): Unit = {
    Sinks.writeJsonArrayFile(
      cityAndResidentCodes(spark, sasPath, citRange._1, citRange._2),
      s"$outDir/i94cit_and_i94res.json")
    Sinks.writeJsonArrayFile(portCodes(spark, sasPath, portRange._1, portRange._2),
      s"$outDir/i94port.json")
    Sinks.writeJsonArrayFile(visaCodes(spark), s"$outDir/i94visa.json")
  }
}
