package graft.pipeline

import graft.ops.{Conform, Schemas, Sinks}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end lake build (`/root/reference/scripts/pyspark.py:432-475`):
  * parse the four sources, derive time + fact, quality-gate each of the six
  * outputs, drop staging columns, and write partitioned parquet.
  *
  * Two engine-level fixes over the reference:
  *   - each output is ONE job: the gate ([[Conform.quality]]: column order,
  *     non-empty) is observed during the write itself, and the reported
  *     row count is the observed one — the reference ran a gate `count()`
  *     and a `save()` as separate jobs over an uncached plan, recomputing
  *     the whole lineage twice per table. The write lands in a
  *     `_`-prefixed staging directory beside the table and replaces the
  *     table only once the gate passes; a failing gate deletes it, so the
  *     previous table stays as it was;
  *   - the gate checks the frame BEFORE the staging-column drop, like the
  *     reference, but against the registry schema so a
  *     positionally-corrupted union cannot reach storage.
  */
object Lake {

  /** Staging columns dropped after gating, per output (pyspark.py:450-474). */
  private val stagingDrops: Map[String, Seq[String]] = {
    val dateParts = Seq("arrival_year", "arrival_month", "arrival_day", "arrival_weekday",
      "expiry_year", "expiry_month", "expiry_day", "expiry_weekday")
    Map(
      "country" -> Seq.empty,
      "asylum" -> Seq("year"),
      "visitor" -> dateParts,
      "worker" -> dateParts,
      "time" -> Seq.empty,
      "fact" -> Seq.empty)
  }

  /** Output directory name per schema key (pyspark.py:462-468). */
  val outputDirs: Map[String, String] = Map(
    "country" -> "temperatures", "asylum" -> "asylum", "visitor" -> "visitors",
    "worker" -> "workers", "time" -> "time", "fact" -> "immigration_facts")

  /** Build the full lake; returns per-table row counts as each gate observed them. */
  def build(spark: SparkSession, inputPath: String, outputPath: String): Map[String, Long] = {
    val country = Pipelines.parseClimate(spark, inputPath)
    val asylum = Pipelines.parseAsylum(spark, inputPath)
    val visitor = Pipelines.parseVisitor(spark, inputPath)
    val worker = Pipelines.parseWorker(spark, inputPath)
    val (time, fact) = Pipelines.extractTimeAndFact(asylum, visitor, worker)

    val outputs: Seq[(String, DataFrame)] = Seq(
      "country" -> country, "asylum" -> asylum, "visitor" -> visitor,
      "worker" -> worker, "time" -> time, "fact" -> fact)

    val fs = new Path(outputPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    outputs.map { case (key, df) =>
      val table = new Path(outputPath, outputDirs(key))
      val staging = new Path(outputPath, s"_${outputDirs(key)}")
      try {
        val observed = Conform.gate(df, Schemas.all(key), key, Conform.quality) { gated =>
          Sinks.writePartitionedParquet(gated.drop(stagingDrops(key): _*),
            staging.toString, Schemas.partitioning(key))
        }
        fs.delete(table, true)
        require(fs.rename(staging, table), s"lake [$key]: could not promote $staging to $table")
        key -> observed("n_rows")
      } finally fs.delete(staging, true)
    }.toMap
  }
}
