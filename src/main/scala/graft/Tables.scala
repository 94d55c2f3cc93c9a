package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives the scale-factor
  * directory and reads through here, so scan options live in one place.
  * At cluster scale these would be catalog tables; the parquet reader
  * path (vectorized, with predicate pushdown + column pruning) is the
  * same either way.
  */
object Tables {
  /** Tables are read under their footer schema, inferred once per path
    * ([[graft.ops.FooterSchemas]], r16, guide §1.2/§5: driver work).
    * Without it every `spark.read.parquet` call re-reads parquet footers
    * to infer the schema, ~40-50 ms of driver time per table reference;
    * a 7-table join paid ~0.5 s of pure schema re-inference per run
    * (PlanProbe: tpch_q8 construct 0.50 s vs scan_parquet 0.06 s). A
    * catalog table carries its schema as metadata — the memo is exactly
    * that. It re-checks the path on every lookup, so parquet regenerated
    * in-process at the same path is read under its new schema.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(graft.ops.FooterSchemas.of(spark, path)).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** `events.ts` has shipped as two different parquet types across
    * testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects outright, [PARQUET_TYPE_ILLEGAL], hence the
    * nanosAsLong escape hatch) and plain TIMESTAMP(MICROS)
    * (isAdjustedToUTC=false, which Spark resolves as TIMESTAMP_NTZ).
    * Blindly applying the nanos→micros arithmetic to an
    * already-timestamp column is a type error — round 7's bench lost 38
    * queries to exactly that. Dispatch on the RESOLVED dtype instead, and
    * normalize every shape to session-zoned TimestampType so downstream
    * window/gap/as-of logic sees one stable type regardless of which
    * generator wrote the file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      // Nano-epoch longs: `ts div 1000`, not `ts / 1000` — nano values
      // (~1.7e18) exceed double's 2^53 exact range, so float division
      // would round the microsecond.
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // NTZ → session-zoned: with the UTC session both mains pin, this is
      // an exact reinterpretation of the same microsecond value.
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => sys.error(s"events.ts: unexpected parquet-resolved type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
