package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only filter (tools/check.py loop): comma-separated query ids.
    // The driver never sets it; if it leaks into a gate run we refuse to
    // write oracle_sql.json below, so a partial dump can never be scored
    // as a full round.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach { f =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY=${f.mkString(",")} — PARTIAL dump " +
          "(dev mode); oracle_sql.json will NOT be written, only oracle_sql.partial.json.")
    }
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Filter active → gate artifact withheld: the driver's check would see
    // a full oracle set but partial dumps and could under-verify a round.
    val oracleOut = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val oracleName = if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$oracleName"), oracleOut)
    // Failure manifest (ADVICE r7): a query that throws has no parquet dump,
    // and the driver's compare would otherwise just omit it — shrinking
    // coverage invisibly (round 7 lost 38 queries this way). Always write
    // the manifest (empty object on a clean run) so "no failures" is an
    // asserted fact, not an absence of evidence.
    val failJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_verify_failures.json"), failJson)
    println(s"[verify] ${selected.size - failures.size}/${selected.size} queries dumped, " +
      s"${failures.size} failed" +
      (if (failures.nonEmpty) ": " + failures.keys.mkString(", ") else ""))
    spark.stop()
  }
}
