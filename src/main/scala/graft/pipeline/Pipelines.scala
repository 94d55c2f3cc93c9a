package graft.pipeline

import graft.ops.{Cleaning, Conform, FooterSchemas, Schemas}
import graft.sources.SasLabels
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** The reference's four per-source parse pipelines re-expressed as pure
  * DataFrame compositions (`/root/reference/scripts/pyspark.py:170-303`),
  * plus the time/fact extraction (`pyspark.py:42-75`).
  *
  * Deliberate divergences from the reference, per SURVEY.md §2.11 (document
  * intent, don't replicate broken code):
  *   - ids are each row's rank in a total order over all its columns
  *     ([[withDenseId]]: range-partition, sort within partitions,
  *     `zipWithIndex`), not `monotonically_increasing_id` — dense,
  *     deterministic, reproducible across partition layouts (the
  *     reference's ids change with cluster shape, which is why it needs a
  *     composite key downstream).
  *   - input casts are `try_cast` (null on junk) — the pre-ANSI semantics
  *     the reference implicitly relied on, made explicit.
  *   - no Python UDFs: the state-abbreviation and SAS-date conversions are
  *     Catalyst expressions (whole-stage codegen stays intact, the
  *     reference's rows crossed into a Python worker per row).
  */
object Pipelines {

  /** Dense deterministic ids without a single-task global sort: range-
    * partition + in-partition sort over ALL columns (a strict total order —
    * callers dedupe first, so no ties exist), then `zipWithIndex`, whose
    * ids equal global rank regardless of partition boundaries. Identical
    * contract to `row_number().over(Window.orderBy(all)) - 1` but the sort
    * runs in parallel, one range partition per `spark.sql.shuffle.partitions`
    * — the id-assignment path that survives the worker table growing 100×
    * (VERDICT r6 flagged the global window here as the lake build's only
    * single-task stage). The ids do not depend on that count.
    *
    * The zip runs over the sorted plan's InternalRows, and the id is
    * appended through a reused `JoinedRow`; the frame re-enters SQL through
    * the internal-row seam. No row becomes an external `Row`, so no
    * encoder serializer or deserializer is generated for it.
    */
  private def withDenseId(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val cols = df.columns.map(col).toIndexedSeq
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
    val schema = StructType(
      sorted.schema.fields :+ StructField("id", LongType, nullable = false))
    val rows = sorted.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
      val (joined, id) = (new JoinedRow, new GenericInternalRow(1))
      it.map { case (row, idx) => id.setLong(0, idx); joined(row, id): InternalRow }
    }
    GraftSqlBridge.internalDf(sorted.sparkSession, rows, schema)
  }

  /** A CSV read with a header line and every column a string: the schema
    * Spark would infer, named from the header line on the driver, so
    * building the plan runs no inference job.
    */
  private def readCsv(spark: SparkSession, path: String): DataFrame = {
    val options = Map("header" -> "true")
    spark.read.options(options)
      .schema(GraftSqlBridge.csvHeaderSchema(spark, path, options)).csv(path)
  }

  /** Asylum CSVs (pre-summed per country/year, FIXTURES.md B1;
    * pyspark.py:170-183).
    */
  def parseAsylum(spark: SparkSession, input: String): DataFrame = {
    val raw = readCsv(spark, s"$input/refugee_and_migrant_data/*.csv")
      .dropDuplicates()
    // total order over ALL columns → ids reproducible even when rows tie
    // on (country, year); assigned via the distributed zip-index path
    val withId = withDenseId(raw)
    Conform.conformToLenient(
      withId.withColumn("country", Cleaning.cleanString(col("country"))),
      Schemas.asylum)
  }

  /** Berkeley-Earth-style climate CSVs (FIXTURES.md B2; pyspark.py:186-207).
    * Temperatures arrive as fractional strings but the declared schema is
    * int (README.md:67 documents the truncation as intended) — cast through
    * double so ANSI mode doesn't reject the fraction.
    */
  def parseClimate(spark: SparkSession, input: String): DataFrame = {
    val df = readCsv(spark, s"$input/climate_data/*.csv")
      .selectExpr("dt", "AverageTemperature as avg_temperature",
        "AverageTemperatureUncertainty as avg_temperature_uncertainty",
        "Country as country")
      .dropDuplicates()
      .withColumn("date", to_date(col("dt")))
      .withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
      .withColumn("day", dayofmonth(col("date")))
      .withColumn("weekday", date_format(col("date"), "E"))
      .drop("date", "dt")
      .withColumn("country", Cleaning.cleanString(col("country")))
      .withColumn("avg_temperature",
        expr("try_cast(try_cast(avg_temperature AS DOUBLE) AS INT)"))
      .withColumn("avg_temperature_uncertainty",
        expr("try_cast(try_cast(avg_temperature_uncertainty AS DOUBLE) AS INT)"))
    Conform.conformToLenient(df, Schemas.country)
  }

  /** I94 visitor records: parquet facts + three JSON code tables
    * (FIXTURES.md B3-B6; pyspark.py:210-254). The three code lookups are
    * broadcast inner joins (lookup-filters), read with their declared
    * schemas ([[SasLabels.codeTableSchemas]]), so no inference job runs; SAS
    * epoch dates expand to arrival and expiry date parts.
    */
  def parseVisitor(spark: SparkSession, input: String): DataFrame = {
    def lookupJson(name: String): DataFrame =
      spark.read.schema(SasLabels.codeTableSchemas(name)).option("multiLine", true)
        .json(s"$input/i94_visitor_data/$name.json")

    val citRes = lookupJson("i94cit_and_i94res").selectExpr("code", "region as country")
    val port = lookupJson("i94port").selectExpr("code",
      "municipality as port_of_entry_municipality", "region as port_of_entry_region")
    val visa = lookupJson("i94visa").selectExpr("code", "type as visa_category")

    val sas = s"$input/i94_visitor_data/sas_data"
    val base = spark.read.schema(FooterSchemas.of(spark, sas)).parquet(sas)
      .selectExpr("cicid as id", "i94res", "i94port", "arrdate", "i94visa",
        "i94addr as visiting_state", "depdate", "visatype as visa_type")
      .dropDuplicates()
    val cast = Cleaning.castAll(base,
      org.apache.spark.sql.types.DoubleType, org.apache.spark.sql.types.IntegerType)

    def dateParts(df: DataFrame, src: String, prefix: String): DataFrame =
      df.withColumn("d", Cleaning.sasEpochDate(col(src)))
        .withColumn(s"${prefix}_year", year(col("d")))
        .withColumn(s"${prefix}_month", month(col("d")))
        .withColumn(s"${prefix}_day", dayofmonth(col("d")))
        .withColumn(s"${prefix}_weekday", date_format(col("d"), "E"))
        .drop("d", src)

    val joined = Cleaning.codeLookup(
      Cleaning.codeLookup(
        Cleaning.codeLookup(cast, citRes, "i94res", "code"),
        port, "i94port", "code"),
      visa, "i94visa", "code")
    val dated = dateParts(dateParts(joined, "arrdate", "arrival"), "depdate", "expiry")
    val cleaned = Seq("port_of_entry_municipality", "country", "visa_category",
      "arrival_weekday", "expiry_weekday")
      .foldLeft(dated)((df, c) => df.withColumn(c, Cleaning.cleanString(col(c))))
    Conform.conformToLenient(cleaned, Schemas.visitor)
  }

  /** H-1B worker records from two differently-shaped CSVs (FIXTURES.md
    * B7-B8; pyspark.py:257-303): kaggle extract (city/state packed in one
    * WORKSITE column, state spelled out) + DOL disclosure file (2-letter
    * state, row-alignment-gated), unioned after typed null-fill.
    */
  def parseWorker(spark: SparkSession, input: String): DataFrame = {
    val df1 = readCsv(spark, s"$input/legal_immigrant_data/h1b_kaggle.csv")
      .selectExpr("CASE_STATUS as case_status", "EMPLOYER_NAME as employer_name",
        "YEAR as arrival_year", "WORKSITE as worksite")
      .withColumn("visa_class", lit("H-1B"))
      .withColumn("split", split(col("worksite"), ","))
      .withColumn("worksite_city", col("split").getItem(0))
      .withColumn("worksite_state", Cleaning.abbreviateState(col("split").getItem(1)))
      .drop("split", "worksite")

    val validStates = Cleaning.stateAbbrev.values.toSeq.filterNot(_ == "DC")
    val df2raw = readCsv(spark, s"$input/legal_immigrant_data/H-1B_Disclosure_Data_FY17.csv")
      .selectExpr("CASE_STATUS as case_status", "VISA_CLASS as visa_class",
        "EMPLOYMENT_START_DATE as employment_start_date",
        "EMPLOYMENT_END_DATE as employment_end_date",
        "EMPLOYER_NAME as employer_name", "EMPLOYER_CITY as employer_city",
        "EMPLOYER_STATE as employer_state", "WORKSITE_CITY as worksite_city",
        "WORKSITE_STATE as worksite_state")
      // the reference's row-alignment gate (pyspark.py:280-286; its state
      // set omits DC, preserved here)
      .filter(length(col("worksite_state")) === 2 &&
        col("worksite_state").isin(validStates: _*))

    def dateParts(df: DataFrame, src: String, prefix: String): DataFrame =
      df.withColumn("d", to_date(col(src)))
        .withColumn(s"${prefix}_year", year(col("d")))
        .withColumn(s"${prefix}_month", month(col("d")))
        .withColumn(s"${prefix}_day", dayofmonth(col("d")))
        .withColumn(s"${prefix}_weekday", date_format(col("d"), "E"))
        .drop("d", src)

    val df2 = dateParts(dateParts(df2raw, "employment_start_date", "arrival"),
      "employment_end_date", "expiry")
    // df2's column set is a superset of df1's; typed null-fill (the
    // reference's _fill_missing_columns with its StringType bug fixed) +
    // union by name. Both sides are row-wise maps and a filter of their
    // CSVs, so the one dedupe after the union drops every duplicate a
    // dedupe per source would, and the ids stay the same.
    val unioned = Conform.fillMissingColumns(df1, df2.schema)
      .unionByName(df2, allowMissingColumns = true)
      .dropDuplicates()
    // total order over ALL columns: distinct rows can tie on any key
    // subset (two filings by the same employer), and a partial sort key
    // would leave their relative ids run-dependent; the worker table is
    // the reference's largest input, so ids come from the distributed
    // zip-index path, not a global window
    val withId = withDenseId(unioned)
      .withColumnRenamed("visa_class", "visa_type")
    val cleaned = Seq("case_status", "employer_name", "worksite_city",
      "arrival_weekday", "expiry_weekday")
      .foldLeft(withId)((df, c) => df.withColumn(c, Cleaning.cleanString(col(c))))
    Conform.conformToLenient(cleaned, Schemas.worker)
  }

  /** Tag each dimension, derive its time-dimension and fact rows, and
    * accumulate (pyspark.py:42-75): `time_id == id` (1:1 by design,
    * README.md:139-142); asylum rows carry only a year (the other 7 time
    * parts are typed nulls); workers have no source country ('Unknown').
    */
  def extractTimeAndFact(asylum: DataFrame, visitor: DataFrame,
                         worker: DataFrame): (DataFrame, DataFrame) = {
    def factOf(df: DataFrame): DataFrame =
      Conform.conformToLenient(
        df.selectExpr("id", "country", "immigration_type", "id as time_id"),
        Schemas.fact)

    val asylumTagged = asylum.withColumn("immigration_type", lit("asylum"))
    val asylumTime = Conform.conformToLenient(
      Conform.fillMissingColumns(
        asylumTagged.selectExpr("id", "immigration_type", "year as arrival_year"),
        Schemas.time),
      Schemas.time)

    val visitorTagged = visitor.withColumn("immigration_type", lit("visitor"))
    val workerTagged = worker
      .withColumn("immigration_type", lit("worker"))
      .withColumn("country", lit("Unknown").cast("string"))

    val timeCols = Schemas.time.fieldNames.map(col).toIndexedSeq
    val time = asylumTime
      .unionByName(Conform.conformToLenient(visitorTagged.select(timeCols: _*), Schemas.time))
      .unionByName(Conform.conformToLenient(workerTagged.select(timeCols: _*), Schemas.time))
    val fact = factOf(asylumTagged)
      .unionByName(factOf(visitorTagged))
      .unionByName(factOf(workerTagged))
    (time, fact)
  }
}
