package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Schema-conformance operators.
  *
  * The reference's signature idiom is "union with an empty DataFrame of the
  * declared schema" as a cast-and-reorder operator
  * (`/root/reference/scripts/pyspark.py:159-167`, applied at 182,206,253,302).
  * We keep that as a compat mode ([[schemaCastUnion]]) and provide the
  * explicit, Catalyst-friendly equivalent ([[conformTo]]): a single `select`
  * of per-column casts. `conformTo` produces no union node at all — just a
  * Project that whole-stage-codegen fuses with its neighbours — so it is the
  * default for pipeline code.
  */
object Conform {

  /** Empty relation with an explicit schema (pyspark.py:159-167). */
  def makeEmptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Reference-shaped conformance: select columns in schema order, then
    * positional union into the empty schema frame (coerces types like
    * PySpark 2.4's `union`). Kept for behavioural parity tests.
    */
  def schemaCastUnion(spark: SparkSession, df: DataFrame, schema: StructType): DataFrame =
    makeEmptyDf(spark, schema).union(df.select(schema.fieldNames.map(col).toIndexedSeq: _*))

  /** Idiomatic conformance: one projection with explicit casts. Requires all
    * schema columns present in `df` (use [[fillMissingColumns]] first when
    * they may be absent).
    */
  def conformTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

  /** Legacy-cast conformance for pipeline inputs: `try_cast` yields null on
    * unparseable values — the PySpark 2.4 (pre-ANSI) cast semantics the
    * reference's schema-union relied on (blank CSV metrics → typed nulls).
    * Under Spark 4's ANSI default a plain cast would throw instead.
    */
  def conformToLenient(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f =>
      expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").as(f.name)).toIndexedSeq: _*)

  /** Add any columns of `schema` missing from `df` as typed nulls so a
    * union can line up (pyspark.py:388-413). Unlike the reference — which
    * casts every null fill to StringType regardless of target
    * (pyspark.py:407, a documented bug) — fills are cast to the target
    * column's type.
    */
  def fillMissingColumns(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (acc, f) =>
      if (acc.columns.contains(f.name)) acc
      else acc.withColumn(f.name, lit(null).cast(f.dataType))
    }

  /** Reference-exact variant of the fill (StringType nulls, pyspark.py:407)
    * for parity tests.
    */
  def fillMissingColumnsLegacy(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (acc, f) =>
      if (acc.columns.contains(f.name)) acc
      else acc.withColumn(f.name, lit(null).cast(StringType))
    }

  /** One gate rule: an aggregate observed over the gated rows, the test
    * its value must pass, and the failure message for a value that does not.
    */
  final case class Rule(metric: String, agg: Column, pass: Long => Boolean,
                        failure: Long => String)

  /** The reference's gate contract (pyspark.py:22-39) past column order:
    * the table is non-empty.
    */
  val quality: Seq[Rule] = Seq(
    Rule("n_rows", count(lit(1)), _ > 0, _ => "table is empty"))

  /** The one gate path. Exact column-name order against the registry
    * schema is checked before anything runs; each rule's aggregate is
    * then taken as an `Observation` while `action` runs the frame, so the
    * gate adds no pass of its own. Rules see the rows the action pulls.
    * The metrics arrive after the action, so an action that writes must
    * write to a staging location and publish only once this returns.
    * Throws on the first failing rule; returns every observed value.
    */
  def gate(df: DataFrame, schema: StructType, table: String, rules: Seq[Rule])
          (action: DataFrame => Unit): Map[String, Long] = {
    val expected = schema.fieldNames.toSeq
    require(df.columns.toSeq == expected,
      s"quality gate [$table]: column order mismatch; expected=$expected actual=${df.columns.toSeq}")
    val obs = Observation(s"gate_$table")
    val aggs = rules.map(r => r.agg.as(r.metric))
    action(df.observe(obs, aggs.head, aggs.tail: _*))
    val m = obs.get
    // a metric is absent, or null, when no row reached the observation
    val values = rules.map(r =>
      r.metric -> m.get(r.metric).collect { case n: Long => n }.getOrElse(0L)).toMap
    rules.foreach { r =>
      require(r.pass(values(r.metric)), s"quality gate [$table]: ${r.failure(values(r.metric))}")
    }
    values
  }

  /** Data-quality gate (pyspark.py:22-39) as a standalone probe: the
    * [[quality]] rules over `limit(1)` — O(first partition with a row),
    * not a full scan, exactly as the reference does. Throws on failure;
    * returns the input for chaining.
    */
  def qualityGate(df: DataFrame, schema: StructType, table: String): DataFrame = {
    gate(df, schema, table, quality)(_.limit(1).count())
    df
  }

  /** [[quality]] plus no null in the first (key) column, observed during
    * the caller's write. Returns the metrics for lineage logging.
    */
  def observedWrite(df: DataFrame, schema: StructType, table: String)
                   (write: DataFrame => Unit): Map[String, Long] = {
    val key = schema.fieldNames.head
    gate(df, schema, table, quality :+ Rule("n_null_keys",
      sum(when(col(key).isNull, 1L).otherwise(0L)), _ == 0, n => s"$n null keys in $key"))(write)
  }
}
