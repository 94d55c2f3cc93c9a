package graft.plans

import graft.ops.TxLog
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructType, DataType}
import org.apache.spark.sql.{Row, SparkSession}

import scala.jdk.CollectionConverters._

/** PURE-SQL surface for the transactional lake (VERDICT r14 items 6–7):
  * a user coming from Delta drives a txlog table without touching any
  * library API —
  *
  * {{{
  *   CREATE TABLE events USING txlog LOCATION '/lake/events'  -- session catalog
  *   SELECT count(*) FROM events                              -- V1 relation
  *   DESCRIBE HISTORY events                                  -- this parser
  *   DESCRIBE HISTORY '/lake/events'                          -- path spelling
  *   MERGE INTO events t USING updates s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *                         -- resolution rule
  * }}}
  *
  * CREATE/SELECT need nothing new — Spark's session catalog stores the
  * provider and the V1 `RelationProvider` resolves it. DESCRIBE HISTORY
  * is Delta dialect, not Spark SQL, so [[GraftSqlParser]] intercepts
  * exactly that statement and delegates EVERYTHING else verbatim. MERGE
  * INTO parses natively into [[MergeIntoTable]]; Spark can only execute
  * it against DSv2 row-level-operation tables, so
  * [[MergeIntoTxLogRule]] rewrites the equality-keyed "UPDATE SET *,
  * INSERT *" shape over a txlog relation into a command routed through
  * [[TxLog.mergeDv]] — one merge-on-read commit, the same primitive the
  * library API calls.
  */
final class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  // LIMIT spelling first (the bare form's (.+?) would swallow it): a
  // million-commit log answers DESCRIBE HISTORY t LIMIT 20 from 20
  // manifests, not the whole history
  private val DescribeHistoryLimit =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s+LIMIT\s+(\d+)\s*;?\s*$""".r
  private val DescribeHistory =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*$""".r
  private val DescribeDetail =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*$""".r
  // N columns (Delta parity — VERDICT r15 item 5), 2 minimum
  private val OptimizeZOrder =
    """(?is)^\s*OPTIMIZE\s+(.+?)\s+ZORDER\s+BY\s*\(([^)]+)\)\s*;?\s*$""".r
  // partition-scoped OPTIMIZE (must match before the bare form below)
  private val OptimizeWhere =
    """(?is)^\s*OPTIMIZE\s+(.+?)\s+WHERE\s+(\w+)\s*=\s*'([^']*)'\s*;?\s*$""".r
  private val Optimize = """(?is)^\s*OPTIMIZE\s+(.+?)\s*;?\s*$""".r
  // DRY RUN spellings first (the bare forms' (.+?) would swallow them)
  private val VacuumRetainDry =
    """(?is)^\s*VACUUM\s+(.+?)\s+RETAIN\s+(\d+)\s+HOURS\s+DRY\s+RUN\s*;?\s*$""".r
  private val VacuumDry =
    """(?is)^\s*VACUUM\s+(.+?)\s+DRY\s+RUN\s*;?\s*$""".r
  private val VacuumRetain =
    """(?is)^\s*VACUUM\s+(.+?)\s+RETAIN\s+(\d+)\s+HOURS\s*;?\s*$""".r
  private val Vacuum = """(?is)^\s*VACUUM\s+(.+?)\s*;?\s*$""".r
  private val RestoreTo =
    """(?is)^\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  // epoch millis or a quoted 'yyyy-MM-dd[ HH:mm:ss]' (TxLog.parseTsMillis)
  private val RestoreToTs =
    """(?is)^\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+(?:'([^']+)'|(\d+))\s*;?\s*$""".r
  private val ShallowClone =
    """(?is)^\s*CREATE\s+TABLE\s+(.+?)\s+SHALLOW\s+CLONE\s+(.+?)(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""".r
  private val CopyIntoFrom =
    """(?is)^\s*COPY\s+INTO\s+(.+?)\s+FROM\s+'([^']+)'(?:\s+FILEFORMAT\s*=\s*PARQUET)?\s*;?\s*$""".r
  // QUOTED-PATH spelling only: a named `SHOW PARTITIONS t` stays with
  // Spark's own statement (catalog tables of any provider), so this
  // parser never shadows builtin behavior
  private val ShowPartitionsPath =
    """(?is)^\s*SHOW\s+PARTITIONS\s+'([^']+)'\s*;?\s*$""".r
  // ALTER TABLE schema evolution over a txlog PATH (VERDICT r15 item 4) —
  // quoted-path spelling only, like SHOW PARTITIONS: Spark cannot parse
  // ALTER TABLE '<literal>', so these can never shadow the builtin
  // named-table statements. Each routes to the matching metadata commit.
  private val AlterAddConstraint =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""".r
  private val AlterAddCols =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+COLUMNS?\s*\((.+)\)\s*;?\s*$""".r
  private val AlterRenameCol =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*$""".r
  private val AlterDropCol =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*$""".r
  private val AlterDropConstraint =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""".r
  // TBLPROPERTIES over a txlog PATH (same no-shadowing argument: Spark
  // column governance (Delta's ALTER COLUMN family): NOT NULL rides the
  // CHECK machinery, DEFAULT / GENERATED ride table properties — all
  // four spellings land as one metadata commit
  private val AlterColSetNotNull =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+NOT\s+NULL\s*;?\s*$""".r
  private val AlterColDropNotNull =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+NOT\s+NULL\s*;?\s*$""".r
  private val AlterColSetDefault =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+DEFAULT\s+(.+?)\s*;?\s*$""".r
  private val AlterColDropDefault =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+DEFAULT\s*;?\s*$""".r
  private val AlterColSetGenerated =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*;?\s*$""".r
  private val AlterColDropGenerated =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+GENERATED\s*;?\s*$""".r
  // cannot parse ALTER TABLE / SHOW TBLPROPERTIES with a quoted path)
  private val AlterSetProps =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*$""".r
  private val AlterUnsetProps =
    """(?is)^\s*ALTER\s+TABLE\s+'([^']+)'\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*$""".r
  private val ShowTblProps =
    """(?is)^\s*SHOW\s+TBLPROPERTIES\s+'([^']+)'\s*;?\s*$""".r
  // one `'k' = 'v'` / `k = 'v'` pair inside a TBLPROPERTIES list
  private val PropPair =
    """(?s)\s*(?:'([^']+)'|([\w.\-]+))\s*=\s*'([^']*)'\s*""".r
  private val PropKey = """(?s)\s*(?:'([^']+)'|([\w.\-]+))\s*""".r
  // Delta's CONVERT TO DELTA, txlog spelling — in-place metadata convert
  private val ConvertToTxLog =
    """(?is)^\s*CONVERT\s+TO\s+TXLOG\s+'([^']+)'\s*;?\s*$""".r
  // ANALYZE over a txlog PATH only (Spark parses the named spelling for
  // catalog tables itself — no shadowing): stats land in the MANIFEST,
  // where pruning/CBO read them
  private val AnalyzePath =
    """(?is)^\s*ANALYZE\s+TABLE\s+'([^']+)'\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s+(.+?)\s*;?\s*$""".r
  // Delta's GENERATE symlink_format_manifest FOR TABLE — external-reader
  // interop manifests (Presto/Trino/Athena)
  private val GenerateManifest =
    """(?is)^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+(.+?)\s*;?\s*$""".r
  // Delta's REORG TABLE … APPLY (PURGE) — materialize deletion vectors
  // by rewriting ONLY the marked segments
  private val ReorgPurge =
    """(?is)^\s*REORG\s+TABLE\s+(.+?)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""".r
  // Delta's FSCK REPAIR TABLE — DRY RUN spelling first (the bare (.+?)
  // would swallow it)
  private val FsckDry =
    """(?is)^\s*FSCK\s+REPAIR\s+TABLE\s+(.+?)\s+DRY\s+RUN\s*;?\s*$""".r
  private val Fsck =
    """(?is)^\s*FSCK\s+REPAIR\s+TABLE\s+(.+?)\s*;?\s*$""".r

  /** Split a TBLPROPERTIES list on commas OUTSIDE single quotes (values
    * may contain commas).
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var q = false
    s.foreach {
      case '\'' => q = !q; sb += '\''
      case ',' if !q => out += sb.toString; sb.clear()
      case c => sb += c
    }
    out += sb.toString
    out.result()
  }

  private def target(raw: String): (String, Boolean) = {
    val t = raw.trim
    if ((t.startsWith("'") && t.endsWith("'")) ||
        (t.startsWith("\"") && t.endsWith("\"")))
      (t.substring(1, t.length - 1), true)
    else (t, false)
  }

  /** Leading `--` line and `/* */` block comments (and whitespace)
    * stripped, so a formatted/commented Delta-dialect statement still
    * reaches the regex shims (VERDICT r15 item 6). Only the PREFIX is
    * stripped — matching, not rewriting: the delegate always receives
    * the ORIGINAL text, and inline comments inside a shim statement
    * simply fall through to Spark's parser error as before.
    */
  @scala.annotation.tailrec
  private def stripLeadingComments(s: String): String = {
    val t = s.dropWhile(_.isWhitespace)
    if (t.startsWith("--")) {
      val nl = t.indexOf('\n')
      if (nl < 0) "" else stripLeadingComments(t.substring(nl + 1))
    } else if (t.startsWith("/*")) {
      val end = t.indexOf("*/")
      if (end < 0) t else stripLeadingComments(t.substring(end + 2))
    } else t
  }

  override def parsePlan(sqlText: String): LogicalPlan = stripLeadingComments(sqlText) match {
    case DescribeHistoryLimit(t, lim) =>
      val (n, p) = target(t); DescribeHistoryCommand(n, p, Some(lim.toLong))
    case DescribeHistory(t) =>
      val (n, p) = target(t); DescribeHistoryCommand(n, p)
    case DescribeDetail(t) =>
      val (n, p) = target(t); DescribeDetailCommand(n, p)
    case OptimizeZOrder(t, colList) =>
      val (n, p) = target(t)
      val cols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.size >= 2 && cols.forall(_.matches("\\w+")),
        s"OPTIMIZE ... ZORDER BY needs >= 2 column names, got ($colList)")
      TxLogMaintenanceCommand(n, p, "optimize_zorder", cols = cols)
    case OptimizeWhere(t, c, v) =>
      val (n, p) = target(t)
      TxLogMaintenanceCommand(n, p, "optimize_where", cols = Seq(c, v))
    case Optimize(t) =>
      val (n, p) = target(t); TxLogMaintenanceCommand(n, p, "optimize")
    case VacuumRetainDry(t, hours) =>
      val (n, p) = target(t); VacuumDryRunCommand(n, p, hours.toLong)
    case VacuumDry(t) =>
      val (n, p) = target(t); VacuumDryRunCommand(n, p, -1L)
    case VacuumRetain(t, hours) =>
      val (n, p) = target(t); TxLogMaintenanceCommand(n, p, "vacuum",
        arg = hours.toLong)
    case Vacuum(t) =>
      // -1 = no RETAIN clause: run() resolves the table's declared
      // graft.deletedFileRetentionDuration, else Delta's 7-day default
      val (n, p) = target(t); TxLogMaintenanceCommand(n, p, "vacuum",
        arg = -1L)
    case RestoreTo(t, v) =>
      val (n, p) = target(t); TxLogMaintenanceCommand(n, p, "restore",
        arg = v.toLong)
    case RestoreToTs(t, str, digits) =>
      val (n, p) = target(t); TxLogMaintenanceCommand(n, p, "restore_ts",
        arg = TxLog.parseTsMillis(Option(str).getOrElse(digits)))
    case ShallowClone(dst, src, loc) =>
      val (dn, dp) = target(dst)
      val (sn, sp) = target(src)
      ShallowCloneCommand(dn, dp, sn, sp, Option(loc))
    case CopyIntoFrom(t, landing) =>
      val (n, p) = target(t); CopyIntoCommand(n, p, landing)
    case ShowPartitionsPath(path) => ShowPartitionsCommand(path)
    case AlterAddConstraint(path, name, expr) =>
      AlterTxLogCommand(path, "add_constraint", Seq(name, expr))
    case AlterAddCols(path, cols) =>
      AlterTxLogCommand(path, "add_columns", Seq(cols))
    case AlterRenameCol(path, from, to) =>
      AlterTxLogCommand(path, "rename_column", Seq(from, to))
    case AlterDropCol(path, name) =>
      AlterTxLogCommand(path, "drop_column", Seq(name))
    case AlterDropConstraint(path, name) =>
      AlterTxLogCommand(path, "drop_constraint", Seq(name))
    case AlterColSetNotNull(path, c) =>
      AlterTxLogCommand(path, "set_not_null", Seq(c))
    case AlterColDropNotNull(path, c) =>
      AlterTxLogCommand(path, "drop_not_null", Seq(c))
    case AlterColSetGenerated(path, c, e) =>
      AlterTxLogCommand(path, "set_generated", Seq(c, e))
    case AlterColDropGenerated(path, c) =>
      AlterTxLogCommand(path, "drop_generated", Seq(c))
    case AlterColSetDefault(path, c, e) =>
      AlterTxLogCommand(path, "set_default", Seq(c, e))
    case AlterColDropDefault(path, c) =>
      AlterTxLogCommand(path, "drop_default", Seq(c))
    case AlterSetProps(path, pairs) =>
      val kvs = splitTopLevel(pairs).map {
        case PropPair(qk, bk, v) => s"${Option(qk).getOrElse(bk)}=$v"
        case other => throw new IllegalArgumentException(
          s"SET TBLPROPERTIES: cannot parse pair '$other' — want 'key' = 'value'")
      }
      AlterTxLogCommand(path, "set_props", kvs)
    case AlterUnsetProps(path, keys) =>
      val ks = splitTopLevel(keys).map {
        case PropKey(qk, bk) => Option(qk).getOrElse(bk)
        case other => throw new IllegalArgumentException(
          s"UNSET TBLPROPERTIES: cannot parse key '$other'")
      }
      AlterTxLogCommand(path, "unset_props", ks)
    case ShowTblProps(path) =>
      ShowTblPropertiesCommand(path)
    case ConvertToTxLog(path) => ConvertToTxLogCommand(path)
    case AnalyzePath(path, cols) =>
      TxLogMaintenanceCommand(path, isPath = true, "analyze",
        cols = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    case GenerateManifest(t) =>
      val (n, p) = target(t); GenerateManifestCommand(n, p)
    case ReorgPurge(t) =>
      val (n, p) = target(t); TxLogMaintenanceCommand(n, p, "purge")
    case FsckDry(t) =>
      val (n, p) = target(t); FsckRepairCommand(n, p, dryRun = true)
    case Fsck(t) =>
      val (n, p) = target(t); FsckRepairCommand(n, p, dryRun = false)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

/** `DESCRIBE HISTORY <table | 'path'> [LIMIT n]` — the commit log as
  * rows, newest first (Delta's column convention where the fields
  * coincide). Pure driver-side manifest metadata; no data file is
  * opened, and a LIMIT reads exactly n manifests — the only sane
  * spelling against a million-commit log.
  */
final case class DescribeHistoryCommand(target: String, isPath: Boolean,
                                        limit: Option[Long] = None)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("read_version", LongType, nullable = false)(),
    AttributeReference("n_adds", IntegerType, nullable = false)(),
    AttributeReference("n_removes", IntegerType, nullable = false)(),
    AttributeReference("n_changes", IntegerType, nullable = false)(),
    AttributeReference("has_dv", BooleanType, nullable = false)(),
    AttributeReference("ts", LongType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    val table = if (isPath) target else GraftSqlSurface.tableLocation(spark, target)
    val head = TxLog.currentVersion(table)
    require(head > 0, s"DESCRIBE HISTORY: $table has no committed versions")
    // the log floor moves above 1 after retention cleanup — history
    // below it is gone by design, not an error
    val floor = math.max(TxLog.logFloor(table),
      limit.fold(1L)(n => math.max(1L, head - n + 1L)))
    (head to floor by -1L).map { v =>
      val m = TxLog.readManifest(table, v)
      Row(m.version, m.op, m.readVersion, m.adds.size, m.removes.size,
        m.changes.size, m.dv.nonEmpty, m.ts.orNull)
    }
  }
}

/** Delta-dialect maintenance statements over the lake, each one commit
  * (or one GC pass) through the library primitive:
  * `OPTIMIZE t` → [[TxLog.compact]]; `OPTIMIZE t ZORDER BY (x, y)` →
  * [[TxLog.compactZOrder]] (16 z-run segments); `VACUUM t [RETAIN n
  * HOURS]` → [[TxLog.vacuum]] keeping the head, age-gated (default 7
  * days — Delta's retention); `RESTORE TABLE t TO VERSION AS OF n` →
  * [[TxLog.restore]]. Returns the committed version (vacuum: the number
  * of collected dirs).
  */
final case class TxLogMaintenanceCommand(name: String, isPath: Boolean,
                                         op: String, arg: Long = 0L,
                                         cols: Seq[String] = Seq.empty)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("value", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val table = if (isPath) name else GraftSqlSurface.tableLocation(spark, name)
    val v = op match {
      case "optimize" =>
        // Delta's bare OPTIMIZE bin-packs WITHIN partitions — a
        // partitioned table must keep its layout (and its path pruning)
        if (TxLog.partitionLayout(table).nonEmpty)
          TxLog.compactPartitioned(spark, table)
        else TxLog.compact(spark, table)
      // `OPTIMIZE t WHERE part = 'v'`: one partition's segments rewritten
      case "optimize_where" =>
        TxLog.compactPartition(spark, table, cols.head, cols(1))
      case "optimize_zorder" =>
        TxLog.compactZOrderN(spark, table, cols, buckets = 16)
      // REORG … APPLY (PURGE): rewrite only the DV-marked segments
      case "purge" => TxLog.purge(spark, table)
      // ANALYZE … FOR COLUMNS: per-segment manifest stats for pruning/CBO
      case "analyze" => TxLog.analyze(spark, table, cols)
      case "vacuum" =>
        TxLog.vacuum(table, keepVersionsFrom = TxLog.currentVersion(table),
          minAgeMillis = GraftSqlSurface.vacuumRetentionMillis(table, arg))
          .size.toLong
      case "restore" => TxLog.restore(spark, table, arg)
      // epoch-millis timestamp resolved through the in-manifest commit
      // times, then the same one-commit restore
      case "restore_ts" =>
        TxLog.restore(spark, table, TxLog.versionAtTimestamp(table, arg))
    }
    Seq(Row(v))
  }
}

/** `VACUUM <table | 'path'> [RETAIN n HOURS] DRY RUN` — one row per
  * directory a real vacuum with the same arguments would collect,
  * deleting nothing (Delta parity; the operator you run FIRST on a
  * 100-TB table).
  */
final case class VacuumDryRunCommand(name: String, isPath: Boolean,
                                     hours: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val table = if (isPath) name else GraftSqlSurface.tableLocation(spark, name)
    TxLog.vacuumDryRun(table, keepVersionsFrom = TxLog.currentVersion(table),
      minAgeMillis = GraftSqlSurface.vacuumRetentionMillis(table, hours))
      .map(Row(_))
  }
}

/** `DESCRIBE DETAIL <table | 'path'>` — the table-level summary row
  * (Delta's command where the fields coincide): location, head version,
  * live segment count, on-disk bytes of the live set, row count from
  * manifest stats (NULL under the same refusal contract as
  * [[TxLog.tableRowCount]] — a standing DV or a stats-less segment means
  * the metadata cannot answer exactly), the partition layout, and
  * whether a deletion vector is in force. Pure driver-side metadata plus
  * one file-size stat walk; no data file is opened.
  */
final case class DescribeDetailCommand(target: String, isPath: Boolean)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_segments", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = true)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("has_dv", BooleanType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val table = if (isPath) target else GraftSqlSurface.tableLocation(spark, target)
    val head = TxLog.currentVersion(table)
    require(head > 0, s"DESCRIBE DETAIL: $table has no committed versions")
    val segs = TxLog.liveFiles(table)
    val bytes = segs.map { p =>
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
        finally s.close()
      }
    }.sum
    Seq(Row(table, head, segs.size.toLong, bytes,
      TxLog.tableRowCount(table).map(java.lang.Long.valueOf).orNull,
      TxLog.partitionLayout(table).mkString(","),
      TxLog.dvInForce(table)))
  }
}

/** `SHOW PARTITIONS '<path>'` — one row per live partition-value tuple
  * across the full layout, from manifest paths alone (the Delta/Hive
  * row set; a NULL partition lists as Hive's default sentinel). The
  * output schema is the table's partition layout, resolved at parse
  * time; an unpartitioned table refuses loudly at execution.
  */
final case class ShowPartitionsCommand(path: String)
    extends LeafRunnableCommand {
  // LAZY: the layout needs filesystem IO, which must not run at parse/
  // plan-construction time (a not-yet-existing path failed with an
  // obscure parse-time error, e.g. under EXPLAIN — ADVICE r15); the
  // first ANALYSIS access resolves it, with a clear error
  override lazy val output: Seq[Attribute] = {
    val layout =
      try TxLog.partitionLayout(path)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"SHOW PARTITIONS '$path': cannot resolve a txlog partition " +
            s"layout there (${e.getMessage})", e)
      }
    layout match {
      case Seq() => Seq(AttributeReference("partition", StringType,
        nullable = false)())
      case cols => cols.map(c =>
        AttributeReference(c, StringType, nullable = false)())
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val (_, leaves) = TxLog.partitionLeaves(path)
    leaves.map(vs => Row(vs: _*))
  }
}

/** `CREATE TABLE <t|'path'> SHALLOW CLONE <s|'path'> [LOCATION 'path']`
  * (Delta's clone dialect): one [[TxLog.cloneShallow]] manifest commit —
  * zero data bytes move. A catalog-named target needs LOCATION (the
  * clone's root); the new name registers in the session catalog so
  * `SELECT ... FROM t` works immediately. Returns the clone's version (1).
  */
final case class ShallowCloneCommand(dst: String, dstIsPath: Boolean,
                                     src: String, srcIsPath: Boolean,
                                     location: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val srcPath =
      if (srcIsPath) src else GraftSqlSurface.tableLocation(spark, src)
    val dstPath = location.getOrElse {
      require(dstIsPath, "CREATE TABLE <name> SHALLOW CLONE needs " +
        "LOCATION '<path>' — a catalog-named clone must say where it lives")
      dst
    }
    val v = TxLog.cloneShallow(spark, srcPath, dstPath)
    if (!dstIsPath)
      spark.sql(s"CREATE TABLE $dst USING txlog LOCATION '$dstPath'")
    Seq(Row(v))
  }
}

/** `COPY INTO <t|'path'> FROM '<landing dir>' [FILEFORMAT = PARQUET]`
  * (Databricks dialect, parquet only): idempotent ingest of the landing
  * directory's entries through [[TxLog.copyInto]] — every child loads at
  * most once per table, keyed by path, with the ledger in the manifests.
  * Returns (head version, files ingested by THIS call).
  */
final case class CopyIntoCommand(name: String, isPath: Boolean,
                                 landing: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("n_ingested", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val table = if (isPath) name else GraftSqlSurface.tableLocation(spark, name)
    val dir = java.nio.file.Paths.get(landing)
    require(java.nio.file.Files.isDirectory(dir),
      s"COPY INTO: landing '$landing' is not a directory")
    val s = java.nio.file.Files.list(dir)
    val files =
      try s.iterator().asScala.map(_.toString).toSeq.sorted
      finally s.close()
    val real = files.filterNot { f =>
      val n = java.nio.file.Paths.get(f).getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }
    val (v, ingested) = TxLog.copyInto(spark, table, real)
    Seq(Row(v, ingested.size.toLong))
  }
}

/** `ALTER TABLE '<path>' …` schema evolution as SQL (VERDICT r15 item 4),
  * each one metadata commit through the library primitive — no data byte
  * moves for any of them:
  *
  *  - `ADD COLUMN(S) (c TYPE, …)` → [[TxLog.evolve]] (columns forced
  *    nullable — pre-evolve segments read back null-filled; evolve's own
  *    resurrection guards still apply);
  *  - `RENAME COLUMN a TO b` → [[TxLog.renameColumn]] (id-free mapping);
  *  - `DROP COLUMN c` → [[TxLog.dropColumn]] (tracked drop, constraint/
  *    last-column rails);
  *  - `ADD CONSTRAINT name CHECK (expr)` → [[TxLog.addConstraint]]
  *    (validated against the current snapshot, then enforced on writes).
  *
  * Returns the committed version.
  */
final case class AlterTxLogCommand(path: String, action: String,
                                   args: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val v = action match {
      case "add_columns" =>
        val added = spark.sessionState.sqlParser.parseTableSchema(args.head)
        val current = TxLog.recordedSchema(path)
          .getOrElse(TxLog.snapshot(spark, path).schema)
        TxLog.evolve(path, StructType(current.fields ++
          added.fields.map(_.copy(nullable = true))))
      case "rename_column" => TxLog.renameColumn(spark, path, args(0), args(1))
      case "drop_column" => TxLog.dropColumn(spark, path, args.head)
      case "add_constraint" =>
        TxLog.addConstraint(spark, path, args(0), args(1))
      case "drop_constraint" => TxLog.dropConstraint(path, args.head)
      case "set_props" =>
        TxLog.setProperties(path, args.map { kv =>
          val i = kv.indexOf('=')
          kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap)
      case "unset_props" => TxLog.unsetProperties(path, args)
      case "set_not_null" => TxLog.setNotNull(spark, path, args.head)
      case "drop_not_null" => TxLog.dropNotNull(path, args.head)
      case "set_generated" =>
        TxLog.setGeneratedColumn(spark, path, args(0), args(1))
      case "drop_generated" => TxLog.dropGeneratedColumn(path, args.head)
      case "set_default" =>
        TxLog.setColumnDefault(spark, path, args(0), args(1))
      case "drop_default" => TxLog.dropColumnDefault(path, args.head)
    }
    Seq(Row(v))
  }
}

/** `FSCK REPAIR TABLE <t|'path'> [DRY RUN]` — one row per live-segment
  * reference whose directory is gone from storage; without DRY RUN the
  * references are dropped in one removes-only commit so the table reads
  * again ([[TxLog.fsck]]; a missing deletion-vector segment refuses —
  * repairing it would resurrect deleted rows).
  */
final case class FsckRepairCommand(name: String, isPath: Boolean,
                                   dryRun: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val table = if (isPath) name else GraftSqlSurface.tableLocation(spark, name)
    TxLog.fsck(table, dryRun).map(Row(_))
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE <t|'path'>` — one row per
  * manifest file written under `_symlink_format_manifest/` (one per
  * partition leaf), each listing the live parquet files' URIs for
  * external readers ([[TxLog.generateSymlinkManifest]]).
  */
final case class GenerateManifestCommand(name: String, isPath: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("manifest", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val table = if (isPath) name else GraftSqlSurface.tableLocation(spark, name)
    TxLog.generateSymlinkManifest(table).map(Row(_))
  }
}

/** `SHOW TBLPROPERTIES '<path>'` — the table's property map in force at
  * the head, one (key, value) row per entry, key-sorted. Pure manifest
  * metadata (the log fold reads O(delta) manifests since the nearest
  * checkpoint).
  */
final case class ShowTblPropertiesCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    TxLog.tableProperties(path).toSeq.sortBy(_._1).map {
      case (k, v) => Row(k, v)
    }
}

/** `CONVERT TO TXLOG '<path>'` — one [[TxLog.convertInPlace]] metadata
  * commit turning an existing parquet directory (plain or Hive-
  * partitioned) into a txlog table without moving a byte. Returns the
  * committed version (1).
  */
final case class ConvertToTxLogCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.convertInPlace(spark, path)))
}

private[plans] object GraftSqlSurface {
  /** Effective VACUUM age floor in millis. `retainHours` < 0 means the
    * statement had no RETAIN clause: the table's declared
    * `graft.deletedFileRetentionDuration` property answers, else Delta's
    * 7-day default. An explicit RETAIN shorter than the declared
    * retention REFUSES (Delta's retentionDurationCheck: a short vacuum
    * silently breaks time travel and any stream reading an old offset)
    * unless the table sets `graft.retentionDurationCheck.enabled=false`.
    */
  def vacuumRetentionMillis(table: String, retainHours: Long): Long = {
    val props = TxLog.tableProperties(table)
    val declared = props.get("graft.deletedFileRetentionDuration")
      .map(TxLog.parseIntervalMillis)
    if (retainHours < 0) declared.getOrElse(7L * 24 * 3600L * 1000L)
    else {
      val req = retainHours * 3600L * 1000L
      val checkOn = props.get("graft.retentionDurationCheck.enabled")
        .forall(v => !v.equalsIgnoreCase("false"))
      declared.filter(d => req < d && checkOn).foreach { d =>
        throw new IllegalArgumentException(
          s"VACUUM RETAIN ${retainHours} HOURS is below $table's declared " +
            s"retention (${d / 3600000L} hours, graft.deletedFileRetentionDuration) " +
            "— this can break time travel and running streams; set table " +
            "property graft.retentionDurationCheck.enabled=false to override")
      }
      req
    }
  }

  /** A catalog table's txlog root as a filesystem path string. */
  def tableLocation(spark: SparkSession, name: String): String = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val uri = spark.sessionState.catalog.getTableMetadata(ident).location
    uri.getScheme match {
      case null => uri.getPath
      case "file" => new java.io.File(uri).getPath
      case _ => uri.toString
    }
  }

  /** The target plan's txlog root, if the (aliased) target IS a txlog
    * relation.
    */
  def txlogTarget(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(_, child) => txlogTarget(child)
    case l: LogicalRelation => l.relation match {
      case r: graft.sources.TxLogRelation => Some(r.table)
      case _ => None
    }
    case _ => None
  }
}

/** Analyzer rule rewriting the canonical upsert MERGE over a txlog
  * relation into the merge-on-read commit. Supported shape (the one a
  * migrating Delta user writes first, and exactly [[TxLog.mergeDv]]'s
  * contract): `ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT
  * MATCHED THEN INSERT *`. Any other txlog-targeted MERGE fails with a
  * clear message instead of Spark's generic v2-table complaint.
  */
final case class MergeIntoTxLogRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(u.nameParts.last)
    case _ => None
  }

  private def keyOf(cond: Expression): Option[String] = cond match {
    case EqualTo(l, r) =>
      (attrName(l), attrName(r)) match {
        case (Some(a), Some(b)) if a.equalsIgnoreCase(b) => Some(a)
        case _ => None
      }
    case _ => None
  }

  // SET * / INSERT * — matched either pre-expansion (the parser's star
  // action) or after ResolveReferences expanded it into same-named
  // column assignments
  private def sameNamed(as: Seq[Assignment]): Boolean =
    as.forall(a => (attrName(a.key), attrName(a.value)) match {
      case (Some(k), Some(v)) => k.equalsIgnoreCase(v)
      case _ => false
    })

  private def isUpdateAll(a: MergeAction): Boolean = a match {
    case UpdateStarAction(None) => true
    case UpdateAction(None, assigns, _) => sameNamed(assigns)
    case _ => false
  }

  private def isInsertAll(a: MergeAction): Boolean = a match {
    case InsertStarAction(None) => true
    case InsertAction(None, assigns) => sameNamed(assigns)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case m: MergeIntoTable if m.sourceTable.resolved =>
      GraftSqlSurface.txlogTarget(m.targetTable) match {
        case None => m
        case Some(table) =>
          val key = keyOf(m.mergeCondition)
          val ok = key.nonEmpty &&
            m.matchedActions.size == 1 && isUpdateAll(m.matchedActions.head) &&
            m.notMatchedActions.size == 1 && isInsertAll(m.notMatchedActions.head) &&
            m.notMatchedBySourceActions.isEmpty
          if (!ok) throw new IllegalArgumentException(
            "MERGE INTO a txlog table supports exactly `ON t.k = s.k WHEN " +
              "MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` " +
              "(TxLog.mergeDv's contract); use the library API for other shapes")
          GraftMergeCommand(table, m.sourceTable, key.get)
      }
  }
}

/** The rewritten MERGE: one [[TxLog.mergeDv]] commit (deletion-vector
  * marks + one new segment + write-time CDC artifacts), returning the
  * committed version.
  */
final case class GraftMergeCommand(table: String, source: LogicalPlan,
                                   key: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, source)
    Seq(Row(TxLog.mergeDv(spark, src, table, key)))
  }
}

/** Analyzer rule routing row-level SQL DML over txlog relations through
  * the merge-on-read primitives (VERDICT r15 item 1) — the two statements
  * a migrating Delta user types first:
  *
  * {{{
  *   DELETE FROM events WHERE ts < '2020-01-01'   -- TxLog.deleteWhere
  *   UPDATE events SET status = 'done' WHERE id % 2 = 0  -- TxLog.updateWhere
  * }}}
  *
  * Spark parses both natively ([[DeleteFromTable]]/[[UpdateTable]]) but
  * can only execute them against DSv2 row-level-operation tables; this
  * rule rewrites the txlog-targeted forms into commands over the
  * deletion-vector primitives — one commit staging O(matched rows), no
  * segment rewritten. Resolved attribute references are re-anchored by
  * NAME (the primitives read their own snapshot frame, where the
  * analyzer's exprIds don't exist); WHERE subqueries are refused loudly —
  * materialize and MERGE instead.
  */
final case class DmlTxLogRule(spark: SparkSession) extends Rule[LogicalPlan] {

  // re-anchored by NAME and wrapped as an opaque Column: the primitives
  // resolve it against their own snapshot frame (the analyzer's exprIds
  // don't exist there), and CheckAnalysis never walks into a Column
  // field, so the deliberately-unresolved names don't trip it
  private def unresolve(what: String, e: Expression): org.apache.spark.sql.Column = {
    if (e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
      throw new IllegalArgumentException(
        s"$what on a txlog table does not support subqueries; " +
          "materialize the subquery and use MERGE INTO or the library API")
    org.apache.spark.sql.GraftSqlBridge.toColumn(e.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
    })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case d @ DeleteFromTable(target, condition) if condition.resolved =>
      GraftSqlSurface.txlogTarget(target) match {
        case None => d
        case Some(table) =>
          GraftDeleteCommand(table, unresolve("DELETE", condition))
      }
    case u @ UpdateTable(target, assignments, condition)
        if assignments.forall(_.resolved) && condition.forall(_.resolved) =>
      GraftSqlSurface.txlogTarget(target) match {
        case None => u
        case Some(table) =>
          val sets = assignments.map { a =>
            a.key match {
              case ar: AttributeReference =>
                ar.name -> unresolve("UPDATE", a.value)
              case other => throw new IllegalArgumentException(
                s"UPDATE on a txlog table supports only top-level column " +
                  s"assignments, got ${other.sql}")
            }
          }
          GraftUpdateCommand(table, sets,
            condition.map(unresolve("UPDATE", _)).getOrElse(
              org.apache.spark.sql.functions.lit(true)))
      }
  }
}

/** SQL time travel in SELECT (VERDICT r15 item 3) — Delta's spellings
  * over txlog catalog tables:
  *
  * {{{
  *   SELECT * FROM events VERSION AS OF 3
  *   SELECT * FROM events TIMESTAMP AS OF 1700000000000   -- epoch millis
  * }}}
  *
  * Spark's parser already produces [[RelationTimeTravel]]; for V1
  * session-catalog tables the built-in resolution refuses it, so this
  * rule intercepts the node FIRST (extension resolution rules run in the
  * same fixed-point batch) when the named table's provider is txlog and
  * resolves it to the exact relation the reader-option spelling builds
  * ([[graft.sources.TxLogBatchSource]] `versionAsOf`/`timestampAsOf`) —
  * one code path for both spellings.
  */
final case class TimeTravelTxLogRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}

  /** The table's txlog root, if `parts` names a session-catalog table
    * whose provider is txlog; None otherwise (the node stays with Spark).
    */
  private def txlogLocation(parts: Seq[String]): Option[String] = {
    if (parts.isEmpty || parts.size > 2) return None
    val ident = parts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
    }
    val cat = spark.sessionState.catalog
    try {
      if (!cat.tableExists(ident)) None
      else {
        val meta = cat.getTableMetadata(ident)
        if (meta.provider.exists(_.equalsIgnoreCase("txlog"))) {
          val uri = meta.location
          Some(uri.getScheme match {
            case null => uri.getPath
            case "file" => new java.io.File(uri).getPath
            case _ => uri.toString
          })
        } else None
      }
    } catch { case _: Exception => None }
  }

  /** Epoch millis from the TIMESTAMP AS OF expression: an integer literal
    * is millis (the engine's commit-time unit); a timestamp-typed
    * foldable evaluates to micros.
    */
  private def tsMillis(e: Expression): Long = {
    require(e.foldable, s"TIMESTAMP AS OF must be a literal, got ${e.sql}")
    e.eval(null) match {
      case n: java.lang.Number
          if e.dataType == org.apache.spark.sql.types.TimestampType =>
        n.longValue() / 1000L
      case n: java.lang.Number => n.longValue()
      case s: org.apache.spark.unsafe.types.UTF8String =>
        TxLog.parseTsMillis(s.toString)
      case other => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF on a txlog table takes epoch millis or a " +
          s"timestamp literal, got $other")
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
      txlogLocation(u.multipartIdentifier) match {
        case None => tt
        case Some(path) =>
          val reader = spark.read.format("txlog")
          val withOpt = (ver, ts) match {
            case (Some(v), _) => reader.option("versionAsOf", v.toLong)
            case (None, Some(t)) => reader.option("timestampAsOf", tsMillis(t))
            case _ => reader
          }
          withOpt.load(path).queryExecution.analyzed
      }
  }
}

/** The rewritten DELETE: one [[TxLog.deleteWhere]] commit (DV marks +
  * write-time CDC artifacts; zero segments rewritten), returning the
  * committed version.
  */
final case class GraftDeleteCommand(table: String,
                                    condition: org.apache.spark.sql.Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.deleteWhere(spark, table, condition)))
}

/** The rewritten UPDATE: one [[TxLog.updateWhere]] merge-on-read commit
  * (DV marks over the matched rows + one post-image segment), returning
  * the committed version.
  */
final case class GraftUpdateCommand(table: String,
                                    sets: Seq[(String, org.apache.spark.sql.Column)],
                                    condition: org.apache.spark.sql.Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.updateWhere(spark, table, condition, sets)))
}
