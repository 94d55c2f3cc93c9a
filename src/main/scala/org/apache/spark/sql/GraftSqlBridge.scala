package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.HadoopFSUtils

/** Minimal bridge into the `private[sql]` Column↔Expression conversions —
  * the standard pattern for libraries that ship custom Catalyst
  * expressions without forking Spark (Spark 4 moved these behind
  * `org.apache.spark.sql.classic.ExpressionUtils`). Also registers the
  * graft SQL function names on a session so `spark.sql("... graft_cosine
  * (a, b) ...")` works.
  */
object GraftSqlBridge {

  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** DataFrame over an RDD of InternalRows — the `private[sql]`
    * `internalCreateDataFrame` seam. RDD-level engines (StatsOps'
    * two-pass rank scan) produce UnsafeRow-backed rows directly; routing
    * them through the public `createDataFrame(Row, schema)` would pay a
    * per-row external-Row conversion in BOTH directions (r16: ~2× on the
    * rank-engine queries). Rows follow the standard InternalRow iterator
    * contract (consumers copy when they buffer).
    */
  def internalDf(spark: SparkSession,
                 rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
                 schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's `private[sql]` identity: fixed for the session's life,
    * distinct for every `newSession()` of one context.
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** DataFrame from a (custom) logical plan — the bridge a library-level
    * operator (graft.plans.AsOfJoin) needs to hand its node back to the
    * session.
    */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The persisted RDD behind a `localCheckpoint`ed Dataset (None when
    * the plan carries no LogicalRDD). Iterative operators (GraphOps)
    * track these so they can unpersist THEIR OWN checkpoints
    * deterministically once the result is materialized — leaving them to
    * the ContextCleaner makes block-manager hygiene a GC race, and
    * force-unpersisting by diffing `getPersistentRDDs` could hit a
    * concurrent caller's live checkpoint.
    */
  def checkpointRdd(ds: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    ds.queryExecution.analyzed.collectFirst {
      case lr: execution.LogicalRDD => lr.rdd
    }

  /** Register graft_cosine / graft_dot as temp SQL functions. */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("graft_cosine",
      exprs => _root_.graft.functions.CosineSimilarity(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("graft_dot",
      exprs => _root_.graft.functions.DotProduct(exprs(0), exprs(1)), "built-in")
  }

  /** The schema `spark.read.parquet(path).schema` infers, read from one
    * footer on the driver instead of by Spark's schema-merging job. The
    * footer is the one Spark's inference reads: `_common_metadata`, else
    * `_metadata`, else the first data file by path. `path` is a file or a
    * directory of files; partition directories (whose columns only a
    * listing could add) are refused.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val top = fs.getFileStatus(root)
    val leaves = if (top.isFile) Seq(top) else fs.listStatus(root).toSeq
      .filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
    require(leaves.forall(_.isFile), s"$path holds directories: read it through spark.read")
    val summaries = Seq("_common_metadata", "_metadata")
    val file: FileStatus = summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.filterNot(f => summaries.contains(f.getPath.getName))
        .sortBy(_.getPath.toString).headOption)
      .getOrElse(throw new IllegalArgumentException(s"no parquet file to infer a schema from at $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf)).asNullable
  }

  /** The schema `spark.read.options(options).csv(path).schema` infers with
    * a header and no type inference: every column a nullable string, named
    * from the header line. The line is read on the driver from the file
    * whose first line Spark's inference job reads (the largest, ties by
    * path) and tokenized under the same CSV options. `path` may be a glob.
    */
  def csvHeaderSchema(spark: SparkSession, path: String, options: Map[String, String]): StructType = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val sql = s.sessionState.conf
    val csv = new CSVOptions(options, sql.csvColumnPruning, sql.sessionLocalTimeZone)
    val conf = s.sessionState.newHadoopConfWithOptions(options)
    val glob = new Path(path)
    val files = Option(glob.getFileSystem(conf).globStatus(glob)).toSeq.flatten.filter(_.isFile)
    val file = files.sortBy(f => (-f.getLen, f.getPath.toString)).headOption
      .getOrElse(throw new IllegalArgumentException(s"no CSV file at $path"))
    CSVUtils.readHeaderLine(file.getPath, csv, conf).fold(StructType(Nil)) { line =>
      val names = CSVUtils.makeSafeHeader(
        new com.univocity.parsers.csv.CsvParser(csv.asParserSettings).parseLine(line),
        sql.caseSensitiveAnalysis, csv)
      StructType(names.map(StructField(_, StringType)))
    }
  }
}
