package graft.ops

import org.apache.spark.sql.{DataFrame, DataFrameWriter, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Sinks and format round-trips.
  *
  * The partitioned parquet sink is the whole point of the reference's lake:
  * directory layout = partition pruning for downstream readers
  * (`/root/reference/scripts/pyspark.py:306-322`, README.md:52-58).
  */
object Sinks {

  /** Partitioned, overwriting parquet write (pyspark.py:306-322). Rows are
    * first clustered by the partition columns (a `rebalance` hint), so each
    * partition value is written by one task — one file of a useful size
    * per directory instead of one small file per task and value — while
    * AQE still splits a skewed value across tasks.
    *
    * A `file://` write goes through [[graft.sources.ForklessLocalFileSystem]]:
    * without libhadoop, Hadoop's local filesystem forks a `chmod` process
    * for every file and directory it creates, most of them on executor
    * task threads (see [[forkless]]).
    */
  def writePartitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val clustered =
      if (partitionCols.isEmpty) df else df.hint("rebalance", partitionCols.map(col): _*)
    val w = forkless(clustered.write.mode(SaveMode.Overwrite))
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** `w` with [[graft.sources.ForklessLocalFileSystem]] as its `file://`
    * filesystem. The class is a per-write option, like the committer of
    * [[writeDirectObjectStore]], so it reaches the driver's and the tasks'
    * configuration of this write only; the cache is off for it so that no
    * other write is handed the cached instance. Other schemes ignore the
    * `fs.file.*` keys.
    */
  def forkless[T](w: DataFrameWriter[T]): DataFrameWriter[T] =
    w.option("fs.file.impl", classOf[graft.sources.ForklessLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")

  /** Dynamic partition overwrite: replace ONLY the partitions present in
    * `df`, leaving every other partition directory untouched — the
    * incremental-backfill write (re-run one day/segment without rewriting
    * the table). Static overwrite mode (the default) would drop ALL
    * partitions first; at 100 TB that difference is the whole job. The
    * mode is set per-write via option, not session-wide, so concurrent
    * full-overwrite writes keep their semantics.
    */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
                                 partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Normalize the reference's s3:// → s3a:// read-scheme rewrite
    * (pyspark.py:482-485, with its inverted-check bug fixed).
    */
  def readScheme(path: String): String =
    if (path.startsWith("s3://")) "s3a://" + path.stripPrefix("s3://") else path

  /** Zero-rename parquet write for object stores: swap in
    * [[graft.sources.DirectObjectStoreCommitter]] for the duration of
    * this one write (the magic-committer shape — tasks write final keys,
    * job commit is just the `_SUCCESS` marker). On a copy-rename store
    * the default v1 committer copies every byte TWICE (task + job
    * rename); this path copies zero (ObjectStoreSpec measures both).
    * Not for dynamic partition overwrite or speculative execution — see
    * the committer's scaladoc.
    */
  def writeDirectObjectStore(df: DataFrame, path: String,
                             partitionCols: Seq[String] = Seq.empty): Unit = {
    // per-WRITE committer: DataFrameWriter options are merged into this
    // relation's hadoopConf (newHadoopConfWithOptions), which is exactly
    // where ParquetFileFormat.prepareWrite resolves the committer class —
    // a concurrent parquet write on another thread of the same session
    // keeps the default committer (ADVICE r11: the old session-conf swap
    // leaked the zero-rename committer to unrelated writes, which is
    // unsafe under speculative execution)
    val w = df.write.mode(SaveMode.Overwrite)
      .option("spark.sql.parquet.output.committer.class",
        classOf[graft.sources.DirectObjectStoreCommitter].getName)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Round-trip through ORC (Spark's other native columnar format). */
  def orcRoundTrip(spark: SparkSession, df: DataFrame, scratch: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).orc(scratch)
    spark.read.orc(scratch)
  }

  /** Round-trip through JSON Lines (Spark's native JSON write shape —
    * one document per line, unlike the reference's multiLine array docs).
    */
  def jsonlRoundTrip(spark: SparkSession, df: DataFrame, scratch: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).json(scratch)
    spark.read.json(scratch)
  }

  /** Round-trip through Spark 4's built-in XML source (the spark-xml
    * donation): one element per record under `rowTag` — the feed-ingest /
    * config-dump format. XML carries no schema, so readers conform types
    * afterwards.
    */
  def xmlRoundTrip(spark: SparkSession, df: DataFrame, scratch: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).option("rowTag", "row").xml(scratch)
    spark.read.option("rowTag", "row").xml(scratch)
  }

  /** Round-trip through the line-oriented text source (one string column
    * `value` per line) — the raw-log shape. Line-splittable, so a 100 TB
    * directory parallelizes like CSV; parsing is the reader's job.
    */
  def textRoundTrip(spark: SparkSession, lines: DataFrame, scratch: String): DataFrame = {
    lines.write.mode(SaveMode.Overwrite).text(scratch)
    spark.read.text(scratch)
  }

  /** Bucketed table write: rows hash-partitioned into `buckets` files per
    * partition by `bucketCol` and sorted within buckets. Two tables
    * bucketed the same way join WITHOUT a shuffle (co-located join) — the
    * pre-partitioning strategy for repeatedly-joined 100 TB fact tables.
    * Requires saveAsTable (bucket metadata lives in the catalog, not the
    * parquet files). The table is external, its files at `path`, which
    * must not exist.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String, buckets: Int): Unit =
    df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").option("path", path).saveAsTable(table)

  /** Round-trip a frame through CSV (header, schema re-inferred on read) —
    * exercises the reference's CSV ingest path (pyspark.py:177,195,265,277)
    * against driver-provided data without synthesizing inputs.
    */
  def csvRoundTrip(spark: SparkSession, df: DataFrame, scratch: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).option("header", true).csv(scratch)
    spark.read.option("header", true).option("inferSchema", true).csv(scratch)
  }

  /** Round-trip through multiLine JSON (pyspark.py:217-219 reads its code
    * tables with multiLine=true, i.e. one JSON array document). Spark writes
    * JSON Lines natively, so the array document is materialized driver-side —
    * only valid for SMALL code-table-sized frames, exactly the shape the
    * reference reads this way (≤660 rows).
    */
  /** Fixture-side binary-file emitter + `binaryFile`-format read-back:
    * row (id: long, payload: string) becomes one file `doc_<id>.bin` of
    * the payload's utf8 bytes, then the directory is read with Spark's
    * binaryFile source — the ingest format a multimodal lake uses for
    * raw media files. The WRITE is driver-side fixture generation (same
    * guard discipline as writeJsonArrayFile); the READ is the
    * distributed path under test, and at scale it parallelizes per file.
    */
  def binaryFilesRoundTrip(spark: SparkSession, df: DataFrame, scratch: String): DataFrame = {
    require(df.limit(10001).count() <= 10000,
      "binaryFilesRoundTrip writes driver-side; fixture-sized frames only")
    val dir = java.nio.file.Paths.get(scratch)
    java.nio.file.Files.createDirectories(dir)
    df.collect().foreach { r =>
      java.nio.file.Files.write(dir.resolve(s"doc_${r.getLong(0)}.bin"),
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.read.format("binaryFile").load(scratch)
  }

  def jsonRoundTrip(spark: SparkSession, df: DataFrame, scratch: String): DataFrame = {
    val dir = java.nio.file.Paths.get(scratch)
    java.nio.file.Files.createDirectories(dir)
    writeJsonArrayFile(df, dir.resolve("data.json").toString)
    spark.read.option("multiLine", true).json(scratch)
  }

  /** One multiLine JSON-array document at `filePath` — the exact shape the
    * reference's code-table files use (`parse_immigration_sas.py:103-111`
    * json.dump of a list). Driver-side collect by construction, so only
    * valid for code-table-sized frames; the guard's probe is limit-bounded
    * (stops after 10001 rows) rather than executing the full plan just to
    * reject it.
    */
  def writeJsonArrayFile(df: DataFrame, filePath: String): Unit = {
    require(df.limit(10001).count() <= 10000,
      s"writeJsonArrayFile is for small code tables only (got > 10000 rows)")
    val rows = df.toJSON.collect()
    val p = java.nio.file.Paths.get(filePath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, rows.mkString("[\n", ",\n", "\n]"))
  }
}
