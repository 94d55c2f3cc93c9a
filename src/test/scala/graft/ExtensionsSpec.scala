package graft

import graft.ops.TxLog.{Mark, WriteSpec}
import org.apache.spark.sql.functions._

/** The Catalyst extension layer: SQL-registered native functions and the
  * bounded-edit-distance optimizer rule (graft.plans.GraftExtensions,
  * active in this suite's session via spark.sql.extensions).
  */
class ExtensionsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val nonce = java.util.UUID.randomUUID.toString.take(8)

  test("cosine_sim / dot_product are SQL-callable and hit the native expressions") {
    val row = spark.sql(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c, " +
        "dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d").head()
    assert(row.getDouble(0) == 1.0)
    assert(row.getDouble(1) == 32.0)
    // the registry resolves to the SAME codegen'd expression class as the
    // Column API, not a lookalike
    val plan = spark.sql("SELECT cosine_sim(array(1.0D), array(1.0D))")
      .queryExecution.analyzed.toString
    assert(plan.contains("cosinesimilarity"), s"unexpected resolution:\n$plan")
  }

  test("simhash60 is SQL-callable: non-empty signs a signature, empty is null") {
    val r = spark.sql(
      "SELECT simhash60(array('a', 'b')) AS s, simhash60(array()) AS e").head()
    assert(!r.isNullAt(0) && r.isNullAt(1))
    val plan = spark.sql("SELECT simhash60(array('x'))")
      .queryExecution.analyzed.toString.toLowerCase
    assert(plan.contains("simhash60"), s"unexpected resolution:\n$plan")
  }

  test("word_shingles is SQL-callable with a literal width; short input is empty") {
    val r = spark.sql(
      "SELECT word_shingles(array('a','b','c','d'), 2) AS sh, " +
        "word_shingles(array('a'), 3) AS short").head()
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(r.getSeq[String](1).isEmpty)
  }

  test("misra_gries is SQL-callable and exact when k covers the cardinality") {
    val r = spark.sql(
      "SELECT misra_gries(k, 8) AS mg FROM VALUES ('a'),('a'),('b'),('a'),('c') t(k)")
      .selectExpr("inline(mg)")
      .collect().map(row => (row.getString(0), row.getLong(1))).toMap
    assert(r == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("levenshtein_bp is SQL-callable with the builtin's threshold contract") {
    val row = spark.sql(
      "SELECT levenshtein_bp('kitten', 'sitting', 5) AS d, " +
        "levenshtein_bp('kitten', 'sitting', 2) AS over, " +
        "levenshtein_bp('same', 'same', 0) AS eq").head()
    assert(row.getInt(0) === 3 && row.getInt(1) === -1 && row.getInt(2) === 0)
  }

  test("runtime register() works on a session built without the extensions config") {
    val bare = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").appName("graft-bare")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession() // newSession: fresh registry, shared context
    graft.plans.GraftFunctions.register(bare)
    assert(bare.sql("SELECT dot_product(array(2.0D), array(8.0D)) AS d").head().getDouble(0) == 16.0)
  }

  test("levenshtein<=k filters rewrite to length guard + bit-parallel threshold kernel") {
    // parquet-backed source: a LocalRelation would be constant-folded away
    // before the plan assertion could see the filter
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text").as("t1"), reverse(col("text")).as("t2"))
    val q = docs.filter(levenshtein(col("t1"), col("t2")) <= 3)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.toLowerCase.contains("levenshteinbp"),
      s"bit-parallel threshold kernel missing from optimized plan:\n$opt")
    assert(opt.contains("abs("), s"length prefilter missing:\n$opt")
    // semantics: identical to the unrewritten predicate (projection form is
    // not a boolean comparison, so the rule leaves it alone)
    val expected = docs.select(col("t1"), levenshtein(col("t1"), col("t2")).as("ed"))
      .collect().count(_.getInt(1) <= 3)
    assert(q.count() == expected)
  }

  test("rewrite preserves null semantics and the k=0 / lev<k edges") {
    val df = spark.createDataFrame(Seq(
      (Some("same"), Some("same")), (Some("same"), None), (None, None),
      (Some("ab"), Some("ba"))
    )).toDF("t1", "t2")
    // k=0: only exact matches with both sides non-null survive
    assert(df.filter(levenshtein(col("t1"), col("t2")) <= 0).count() == 1)
    // strict <: lev(ab, ba) = 2, so < 2 excludes it, <= 2 keeps it
    assert(df.filter(levenshtein(col("t1"), col("t2")) < 2).count() == 1)
    assert(df.filter(levenshtein(col("t1"), col("t2")) <= 2).count() == 2)
  }

  test("dedup_edit_prefilter matches the projection-computed distances") {
    // baseline WITHOUT the rule: distances computed in a projection (the
    // rule matches only boolean comparisons), thresholded driver-side
    val expected = SparkEntry.queries("dedup_fuzzy_verify")(spark, sf)
      .select("d1", "d2", "edit_dist").collect()
      .filter(_.getLong(2) <= 30).map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val got = SparkEntry.queries("dedup_edit_prefilter")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == expected && got.nonEmpty)
  }

  test("pure-SQL lake surface: CREATE TABLE USING txlog, SELECT, DESCRIBE HISTORY, MERGE INTO") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txsql-").resolve("t").toString
    graft.ops.TxLog.append(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), t)
    // nonce-keyed, like the other fixtures: no fixed name to collide on
    val tbl = s"graft_sql_spec_$nonce"
    spark.sql(s"CREATE TABLE $tbl USING txlog LOCATION '$t'")
    try {
      // SELECT resolves through the V1 relation
      assert(spark.sql(s"SELECT sum(v) FROM $tbl").head().getLong(0) === 60L)
      // DESCRIBE HISTORY — both the table and the quoted-path spelling
      val h1 = spark.sql(s"DESCRIBE HISTORY $tbl").collect()
      assert(h1.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq(1L -> "append"))
      assert(spark.sql(s"DESCRIBE HISTORY '$t'").count() === 1L)
      // MERGE INTO routes through TxLog.mergeDv — one merge-on-read commit
      Seq((2L, 222L), (9L, 999L)).toDF("k", "v").createOrReplaceTempView("upd")
      val v = spark.sql(
        s"""MERGE INTO $tbl t USING upd s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head().getLong(0)
      assert(v === 2L)
      assert(graft.ops.TxLog.readManifest(t, 2L).op === "merge_dv")
      assert(spark.sql(s"SELECT k, v FROM $tbl ORDER BY k")
        .as[(Long, Long)].collect().toSeq ===
        Seq(1L -> 10L, 2L -> 222L, 3L -> 30L, 9L -> 999L))
      // history reflects the merge, newest first
      val h2 = spark.sql(s"DESCRIBE HISTORY $tbl").collect()
      assert(h2.map(_.getString(1)).toSeq === Seq("merge_dv", "append"))
      // an unsupported shape fails with the routing rule's message, not
      // Spark's generic v2 complaint
      val err = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO $tbl t USING upd s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin).collect()
      }
      assert(err.getMessage.contains("mergeDv"), err.getMessage)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("SQL DELETE FROM / UPDATE route through the deletion-vector primitives") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txdml-").resolve("t").toString
    graft.ops.TxLog.append(
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v"), t)
    spark.sql(s"CREATE TABLE graft_dml_spec USING txlog LOCATION '$t'")
    try {
      // UPDATE: merge-on-read — matched rows DV-marked, post-images in one
      // new segment, the original segment untouched
      val before = graft.ops.TxLog.liveFiles(t).toSet
      val v2 = spark.sql(
        "UPDATE graft_dml_spec SET v = v + 1 WHERE k % 2 = 0").head().getLong(0)
      assert(v2 === 2L)
      val m2 = graft.ops.TxLog.readManifest(t, 2L)
      assert(m2.op === "update" && m2.removes.isEmpty && m2.dv.size === 1)
      assert(before.subsetOf(graft.ops.TxLog.liveFiles(t).toSet))
      assert(spark.sql("SELECT k, v FROM graft_dml_spec ORDER BY k")
        .as[(Long, Long)].collect().toSeq ===
        Seq(1L -> 10L, 2L -> 21L, 3L -> 30L, 4L -> 41L))
      // DELETE: DV marks only, nothing staged beyond the marks
      val v3 = spark.sql("DELETE FROM graft_dml_spec WHERE k = 3").head().getLong(0)
      assert(v3 === 3L)
      assert(graft.ops.TxLog.readManifest(t, 3L).op === "delete")
      assert(spark.sql("SELECT k FROM graft_dml_spec ORDER BY k")
        .as[Long].collect().toSeq === Seq(1L, 2L, 4L))
      // the change feed pairs the update from its write-time artifacts —
      // via the CATALOG NAME (Delta's table_changes spelling); the path
      // spelling keeps working elsewhere
      val ch = spark.sql(
        s"SELECT k, _change_type FROM table_changes('graft_dml_spec', 1, 2, 'k') ORDER BY k, _change_type")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(ch === Seq((2L, "update_postimage"), (2L, "update_preimage"),
        (4L, "update_postimage"), (4L, "update_preimage")))
      // time travel still sees the pre-DML snapshot
      assert(spark.read.format("txlog").option("versionAsOf", 1).load(t)
        .count() === 4L)
      // a WHERE subquery refuses loudly (the primitive filters one relation)
      val sub = intercept[Exception] {
        spark.sql("DELETE FROM graft_dml_spec WHERE k IN " +
          "(SELECT k FROM graft_dml_spec WHERE v > 20)").collect()
      }
      assert(sub.getMessage.contains("subquer"), sub.getMessage)
      // a non-txlog DELETE is untouched by the rule (Spark's own error)
      spark.range(3).createOrReplaceTempView("plain_view")
      intercept[Exception] {
        spark.sql("DELETE FROM plain_view WHERE id = 1").collect()
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_dml_spec")
  }

  test("SELECT ... VERSION AS OF / TIMESTAMP AS OF resolve txlog time travel") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txtt-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    graft.ops.TxLog.append(Seq((2L, 20L)).toDF("k", "v"), t)
    // pin commit times for the timestamp spelling
    Seq(1L -> 1000000L, 2L -> 2000000L).foreach { case (v, ts) =>
      val p = java.nio.file.Paths.get(t, "_txlog", f"$v%020d.json")
      java.nio.file.Files.writeString(p, java.nio.file.Files.readString(p)
        .replaceAll("\"ts\":\\d+", s""""ts":$ts"""))
    }
    spark.sql(s"CREATE TABLE graft_tt_spec USING txlog LOCATION '$t'")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_tt_spec").head().getLong(0) === 2L)
      assert(spark.sql("SELECT k FROM graft_tt_spec VERSION AS OF 1")
        .as[Long].collect().toSeq === Seq(1L))
      assert(spark.sql(
        "SELECT sum(v) FROM graft_tt_spec TIMESTAMP AS OF 1500000")
        .head().getLong(0) === 10L)
      // composes under ordinary SQL (join of two versions of one table)
      val joined = spark.sql(
        """SELECT cur.k, cur.v, old.v AS v_old
          |FROM graft_tt_spec cur
          |LEFT JOIN (SELECT * FROM graft_tt_spec VERSION AS OF 1) old
          |  ON cur.k = old.k ORDER BY cur.k""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      assert(joined === Seq((1L, 10L, 10L), (2L, 20L, -1L)))
      // a non-txlog time travel is untouched (Spark's own error surfaces)
      spark.range(2).createOrReplaceTempView("tt_plain")
      intercept[Exception] {
        spark.sql("SELECT * FROM tt_plain VERSION AS OF 1").collect()
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_tt_spec")
  }

  test("INSERT INTO / INSERT OVERWRITE write through the V1 txlog relation") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txins-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    spark.sql(s"CREATE TABLE graft_ins_spec USING txlog LOCATION '$t'")
    try {
      // INSERT INTO appends one atomic commit
      spark.sql("INSERT INTO graft_ins_spec VALUES (2, 20), (3, 30)")
      assert(graft.ops.TxLog.currentVersion(t) === 2L)
      assert(graft.ops.TxLog.readManifest(t, 2L).op === "append")
      assert(spark.sql("SELECT sum(v) FROM graft_ins_spec").head().getLong(0) === 60L)
      // INSERT OVERWRITE swaps the whole snapshot in one commit
      Seq((9L, 90L)).toDF("k", "v").createOrReplaceTempView("graft_ins_src")
      spark.sql("INSERT OVERWRITE graft_ins_spec SELECT * FROM graft_ins_src")
      assert(graft.ops.TxLog.readManifest(t, 3L).op === "overwrite")
      assert(spark.sql("SELECT k, v FROM graft_ins_spec")
        .as[(Long, Long)].collect().toSeq === Seq(9L -> 90L))
      // old snapshots still travel
      assert(spark.sql("SELECT count(*) FROM graft_ins_spec VERSION AS OF 2")
        .head().getLong(0) === 3L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_ins_spec")
    // partitioned table: INSERT INTO fans back into the Hive layout
    val p = java.nio.file.Files.createTempDirectory("txinsp-").resolve("t").toString
    graft.ops.TxLog.write(
      Seq((1L, "en"), (2L, "de")).toDF("n", "lang"), p, WriteSpec(partitionBy = Seq("lang")))
    spark.sql(s"CREATE TABLE graft_insp_spec USING txlog LOCATION '$p'")
    try {
      spark.sql("INSERT INTO graft_insp_spec VALUES (3, 'fr')")
      assert(graft.ops.TxLog.partitionLeaves(p)._2.flatten.toSet ===
        Set("en", "de", "fr"))
      assert(spark.sql(
        "SELECT n FROM graft_insp_spec WHERE lang = 'fr'").head().getLong(0) === 3L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_insp_spec")
  }

  test("CREATE TABLE ... USING txlog AS SELECT lands as one commit (CTAS)") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txctas-")
      .resolve("t").toString
    spark.range(5).selectExpr("id AS k", "id * 10 AS v")
      .createOrReplaceTempView("ctas_src")
    spark.sql(
      s"CREATE TABLE graft_ctas_spec USING txlog LOCATION '$t' AS SELECT * FROM ctas_src")
    try {
      assert(graft.ops.TxLog.currentVersion(t) === 1L)
      assert(spark.sql("SELECT sum(v) FROM graft_ctas_spec").head().getLong(0) === 100L)
      // and the full DML lifecycle composes on the CTAS table
      spark.sql("DELETE FROM graft_ctas_spec WHERE k = 0")
      spark.sql("UPDATE graft_ctas_spec SET v = 1 WHERE k = 1")
      assert(spark.sql("SELECT k, v FROM graft_ctas_spec ORDER BY k")
        .as[(Long, Long)].collect().toSeq ===
        Seq(1L -> 1L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ctas_spec")
  }

  test("CONVERT TO TXLOG adopts plain and partitioned parquet layouts in place") {
    import spark.implicits._
    // plain layout: each part-file becomes a referenced segment
    val plain = java.nio.file.Files.createTempDirectory("txconv-")
      .resolve("t").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").repartition(1).write.parquet(plain)
    assert(spark.sql(s"CONVERT TO TXLOG '$plain'").head().getLong(0) === 1L)
    assert(graft.ops.TxLog.readManifest(plain, 1L).op === "convert")
    assert(graft.ops.TxLog.snapshot(spark, plain).count() === 2L)
    // full lake semantics compose on the converted table
    graft.ops.TxLog.append(Seq((3L, 30L)).toDF("k", "v"), plain)
    graft.ops.TxLog.deleteWhere(spark, plain, col("k") === 1L)
    assert(graft.ops.TxLog.snapshot(spark, plain).as[(Long, Long)]
      .collect().sorted.toSeq === Seq(2L -> 20L, 3L -> 30L))
    // re-convert refuses
    intercept[IllegalArgumentException] {
      graft.ops.TxLog.convertInPlace(spark, plain)
    }
    // hive-partitioned layout: leaf dirs become segments, the layout
    // partition-prunes through the standard reader
    val part = java.nio.file.Files.createTempDirectory("txconvp-")
      .resolve("t").toString
    Seq((1L, "en"), (2L, "en"), (3L, "de")).toDF("n", "lang")
      .write.partitionBy("lang").parquet(part)
    assert(spark.sql(s"CONVERT TO TXLOG '$part'").head().getLong(0) === 1L)
    assert(graft.ops.TxLog.partitionLayout(part) === Seq("lang"))
    val en = spark.read.format("txlog").load(part)
      .filter(col("lang") === "en").select("n").as[Long].collect().sorted.toSeq
    assert(en === Seq(1L, 2L))
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 2)))
  }

  test("ALTER TABLE '<path>' drives evolve/rename/drop/constraint as SQL") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txalter-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    assert(spark.sql(s"ALTER TABLE '$t' ADD COLUMNS (tag STRING, score BIGINT)")
      .head().getLong(0) === 2L)
    assert(spark.sql(s"ALTER TABLE '$t' RENAME COLUMN tag TO label")
      .head().getLong(0) === 3L)
    assert(spark.sql(s"ALTER TABLE '$t' DROP COLUMN score")
      .head().getLong(0) === 4L)
    assert(spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT v_pos CHECK (v >= 0)")
      .head().getLong(0) === 5L)
    // metadata only: the single data segment is untouched, the head
    // snapshot reads the evolved shape null-filled
    assert(graft.ops.TxLog.liveFiles(t).size === 1)
    val snap = graft.ops.TxLog.snapshot(spark, t)
    assert(snap.columns.toSeq === Seq("k", "v", "label"))
    assert(snap.as[(Long, Long, Option[String])].head() === ((1L, 10L, None)))
    // the resurrection guard still fires through the SQL spelling
    val res = intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t' ADD COLUMNS (score BIGINT)").collect()
    }
    assert(res.getMessage.contains("resurrect") ||
      res.getMessage.contains("re-adds"), res.getMessage)
    // the constraint is in force for writes
    val bad = intercept[Exception] {
      graft.ops.TxLog.append(
        Seq((2L, -5L, "x")).toDF("k", "v", "label"), t)
    }
    assert(bad.getMessage.contains("v_pos"), bad.getMessage)
    // a named ALTER TABLE still goes to Spark (no shadowing)
    intercept[Exception] {
      spark.sql("ALTER TABLE nonexistent_graft_tbl DROP COLUMN x").collect()
    }
  }

  test("leading SQL comments don't derail the statement shims") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txcmt-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t)
    // line comment, block comment, and both stacked
    assert(spark.sql(s"-- compact it\nOPTIMIZE '$t'").head().getLong(0) === 2L)
    assert(spark.sql(s"/* audit */ DESCRIBE HISTORY '$t'").count() === 2L)
    assert(spark.sql(
      s"/* multi\n   line */ -- and a line\n  DESCRIBE DETAIL '$t'").count() === 1L)
    // ordinary commented statements still parse through the delegate
    assert(spark.sql("-- plain\nSELECT 1 AS one").head().getInt(0) === 1)
  }

  test("maintenance SQL + table_changes TVF drive the lake end to end") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txsql2-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t)
    graft.ops.TxLog.append(Seq((3L, 30L)).toDF("k", "v"), t)
    graft.ops.TxLog.mergeDv(spark, Seq((2L, 222L)).toDF("k", "v"), t, "k")
    // table_changes composes under plain SQL — the merge commit's rows
    // come from its write-time artifacts
    val ch = spark.sql(
      s"SELECT k, _change_type, _commit_version FROM table_changes('$t', 2, 3, 'k') ORDER BY k, _change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(ch === Seq((2L, "update_postimage", 3L), (2L, "update_preimage", 3L)))
    assert(spark.sql(s"SELECT count(*) FROM table_changes('$t', 0)")
      .head().getLong(0) === 5L) // 3 inserts + the update pair
    // OPTIMIZE compacts to one segment (and materializes the DV)
    assert(spark.sql(s"OPTIMIZE '$t'").head().getLong(0) === 4L)
    assert(graft.ops.TxLog.readManifest(t, 4L).op === "compact")
    assert(graft.ops.TxLog.liveFiles(t).size === 1)
    // VACUUM RETAIN 0 HOURS collects the pre-compaction segments
    assert(spark.sql(s"VACUUM '$t' RETAIN 0 HOURS").head().getLong(0) >= 1L)
    // RESTORE goes back to v2 (pre-merge)... but v1/v2 segments were just
    // vacuumed away below the horizon — restore must REFUSE, loudly
    val gone = intercept[Exception] {
      spark.sql(s"RESTORE TABLE '$t' TO VERSION AS OF 2").collect()
    }
    assert(gone.getMessage.contains("vacuum"), gone.getMessage)
    // on an unvacuumed table the restore lands as one commit
    val t2 = java.nio.file.Files.createTempDirectory("txsql3-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 1L)).toDF("k", "v"), t2)
    graft.ops.TxLog.overwrite(Seq((1L, 9L)).toDF("k", "v"), t2)
    assert(spark.sql(s"RESTORE TABLE '$t2' TO VERSION AS OF 1").head().getLong(0) === 3L)
    assert(graft.ops.TxLog.snapshot(spark, t2).as[(Long, Long)].head() === ((1L, 1L)))
  }

  test("RESTORE TABLE TO TIMESTAMP AS OF resolves through in-manifest commit times") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txrts-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 1L)).toDF("k", "v"), t)
    graft.ops.TxLog.overwrite(Seq((1L, 9L)).toDF("k", "v"), t)
    // pin commit times so the timestamp cut is deterministic
    Seq(1L -> 1000000L, 2L -> 2000000L).foreach { case (v, ts) =>
      val p = java.nio.file.Paths.get(t, "_txlog", f"$v%020d.json")
      java.nio.file.Files.writeString(p, java.nio.file.Files.readString(p)
        .replaceAll("\"ts\":\\d+", s""""ts":$ts"""))
    }
    assert(spark.sql(s"RESTORE TABLE '$t' TO TIMESTAMP AS OF 1500000")
      .head().getLong(0) === 3L)
    assert(graft.ops.TxLog.snapshot(spark, t).as[(Long, Long)].head() === ((1L, 1L)))
  }

  test("SHOW PARTITIONS '<path>' lists leaf tuples from the manifest") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txshowp-").resolve("t").toString
    Seq((1L, "en", "web"), (2L, "en", "book"), (3L, "de", "web"))
      .toDF("id", "lang", "src")
      .write.format("txlog").partitionBy("lang", "src").save(t)
    val rows = spark.sql(s"SHOW PARTITIONS '$t'")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(rows === Seq(("de", "web"), ("en", "book"), ("en", "web")))
    // named SHOW PARTITIONS stays with Spark's own statement
    val e = intercept[Exception] { spark.sql("SHOW PARTITIONS not_a_table") }
    assert(!e.getMessage.contains("partitioned layout"), e.getMessage)
  }

  test("DESCRIBE DETAIL reports metadata-priced table facts") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txdetail-").resolve("t").toString
    graft.ops.TxLog.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t,
      WriteSpec(statsCols = Seq("k")))
    graft.ops.TxLog.write(Seq((3L, 30L)).toDF("k", "v"), t, WriteSpec(statsCols = Seq("k")))
    val r = spark.sql(s"DESCRIBE DETAIL '$t'").head()
    assert(r.getLong(1) === 2L)        // version
    assert(r.getLong(2) === 2L)        // num_segments
    assert(r.getLong(3) > 0L)          // size_bytes
    assert(r.getLong(4) === 3L)        // num_rows from manifest stats
    assert(r.getString(5) === "")      // not partitioned
    assert(!r.getBoolean(6))           // no DV
    // a standing DV flips has_dv and voids the exact row count
    graft.ops.TxLog.deleteWhere(spark, t, org.apache.spark.sql.functions.col("k") === 1L)
    val r2 = spark.sql(s"DESCRIBE DETAIL '$t'").head()
    assert(r2.getBoolean(6) && r2.isNullAt(4))
  }

  test("SHALLOW CLONE and COPY INTO as SQL statements") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("txsql4-")
    val src = dir.resolve("src").toString
    graft.ops.TxLog.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), src)
    // catalog-named clone at an explicit LOCATION: one manifest, the
    // name queryable immediately
    val cl = dir.resolve("cl").toString
    assert(spark.sql(
      s"CREATE TABLE graft_clone_spec SHALLOW CLONE '$src' LOCATION '$cl'")
      .head().getLong(0) === 1L)
    assert(graft.ops.TxLog.readManifest(cl, 1L).adds.toSet ===
      graft.ops.TxLog.liveFiles(src).toSet)
    assert(spark.sql("SELECT count(*) FROM graft_clone_spec")
      .head().getLong(0) === 2L)
    // a catalog-named clone WITHOUT a location refuses with the reason
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_clone_spec2 SHALLOW CLONE '$src'").collect()
    }
    assert(e.getMessage.contains("LOCATION"), e.getMessage)
    // COPY INTO: landing dir ingests once; the re-run reports 0 files
    val land = dir.resolve("land")
    Seq((3L, 30L)).toDF("k", "v").write.parquet(land.resolve("f0").toString)
    val first = spark.sql(s"COPY INTO graft_clone_spec FROM '$land'").head()
    assert(first.getLong(1) === 1L)
    assert(spark.sql(s"COPY INTO graft_clone_spec FROM '$land'")
      .head().getLong(1) === 0L)
    assert(spark.sql("SELECT count(*) FROM graft_clone_spec")
      .head().getLong(0) === 3L)
    // the source never saw any of it
    assert(graft.ops.TxLog.snapshot(spark, src).count() === 2L)
    spark.sql("DROP TABLE graft_clone_spec")
  }

  test("DESCRIBE HISTORY LIMIT reads only the newest n manifests") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txhlim-").resolve("t").toString
    (1 to 5).foreach(i => graft.ops.TxLog.append(Seq((i.toLong, i.toLong)).toDF("k", "v"), t))
    val lim = spark.sql(s"DESCRIBE HISTORY '$t' LIMIT 2").collect()
    assert(lim.map(_.getLong(0)).toSeq === Seq(5L, 4L))
    // bare spelling still returns the whole log, newest first
    assert(spark.sql(s"DESCRIBE HISTORY '$t'").collect()
      .map(_.getLong(0)).toSeq === (5L to 1L by -1L))
    // LIMIT larger than the log is the whole log, not an error
    assert(spark.sql(s"DESCRIBE HISTORY '$t' LIMIT 99").count() === 5L)
  }

  test("VACUUM DRY RUN lists exactly what a real vacuum would delete, deleting nothing") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txvdry-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    graft.ops.TxLog.overwrite(Seq((1L, 99L)).toDF("k", "v"), t)
    // RETAIN 0 HOURS DRY RUN: the orphaned v1 segment is listed, kept
    val listed = spark.sql(s"VACUUM '$t' RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(listed.size === 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(listed.head)))
    assert(graft.ops.TxLog.snapshot(spark, t).count() === 1L)
    // default-retention DRY RUN keeps everything younger than 7 days
    assert(spark.sql(s"VACUUM '$t' DRY RUN").count() === 0L)
    // the real vacuum then deletes exactly the dry-run set
    val deleted = spark.sql(s"VACUUM '$t' RETAIN 0 HOURS")
    assert(deleted.head().getLong(0) === 1L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(listed.head)))
  }

  test("TBLPROPERTIES set/unset/show round-trip, survive checkpoints, time travel") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txprops-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES ('owner' = 'data-eng', " +
      "'graft.deletedFileRetentionDuration' = 'interval 1 hour')")
    val propsV = graft.ops.TxLog.currentVersion(t)
    assert(spark.sql(s"SHOW TBLPROPERTIES '$t'").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq === Seq(
        ("graft.deletedFileRetentionDuration", "interval 1 hour"),
        ("owner", "data-eng")))
    // last write wins per key; UNSET removes; absent-key UNSET is a no-op
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES ('owner' = 'ml-platform')")
    spark.sql(s"ALTER TABLE '$t' UNSET TBLPROPERTIES " +
      "('graft.deletedFileRetentionDuration', 'never.existed')")
    assert(graft.ops.TxLog.tableProperties(t) === Map("owner" -> "ml-platform"))
    // time travel sees the map as of the old version
    assert(graft.ops.TxLog.tableProperties(t, Some(propsV))
      .get("owner").contains("data-eng"))
    // the cumulative map survives a checkpoint collapse
    graft.ops.TxLog.checkpoint(t)
    graft.ops.TxLog.append(Seq((2L, 20L)).toDF("k", "v"), t)
    assert(graft.ops.TxLog.tableProperties(t) === Map("owner" -> "ml-platform"))
    // property commits are content-neutral to readers
    assert(graft.ops.TxLog.snapshot(spark, t).count() === 2L)
  }

  test("DROP CONSTRAINT lifts enforcement and survives checkpoints") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txdropck-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT v_pos CHECK (v >= 0)")
    intercept[Exception] {
      graft.ops.TxLog.append(Seq((2L, -5L)).toDF("k", "v"), t)
    }
    assert(spark.sql(s"ALTER TABLE '$t' DROP CONSTRAINT v_pos")
      .head().getLong(0) === 3L)
    assert(graft.ops.TxLog.activeConstraints(t).isEmpty)
    // the formerly-violating write now lands
    graft.ops.TxLog.append(Seq((2L, -5L)).toDF("k", "v"), t)
    assert(graft.ops.TxLog.snapshot(spark, t).count() === 2L)
    // dropping a constraint that doesn't exist refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t' DROP CONSTRAINT nope").collect()
    }
    assert(e.getMessage.contains("no constraint"), e.getMessage)
    // the tombstone survives a checkpoint collapse (the checkpoint's
    // cumulative checks already exclude the dropped name)
    graft.ops.TxLog.checkpoint(t)
    graft.ops.TxLog.append(Seq((3L, -7L)).toDF("k", "v"), t)
    assert(graft.ops.TxLog.activeConstraints(t).isEmpty)
    // time travel still sees the constraint while it was in force
    assert(graft.ops.TxLog.activeConstraints(t, Some(2L)) ===
      Seq(("v_pos", "v >= 0")))
  }

  test("VACUUM honors declared retention; short RETAIN refuses unless overridden") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txvret-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    graft.ops.TxLog.overwrite(Seq((1L, 99L)).toDF("k", "v"), t)
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES " +
      "('graft.deletedFileRetentionDuration' = 'interval 1 hour')")
    // bare VACUUM now uses the declared 1-hour floor: nothing is old enough
    assert(spark.sql(s"VACUUM '$t'").head().getLong(0) === 0L)
    // RETAIN below the declared retention refuses with the override hint
    val e = intercept[Exception] {
      spark.sql(s"VACUUM '$t' RETAIN 0 HOURS").collect()
    }
    assert(e.getMessage.contains("retentionDurationCheck"), e.getMessage)
    // ... DRY RUN refuses identically (same resolution path)
    intercept[Exception] {
      spark.sql(s"VACUUM '$t' RETAIN 0 HOURS DRY RUN").collect()
    }
    // the documented override property unblocks the short vacuum
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES " +
      "('graft.retentionDurationCheck.enabled' = 'false')")
    assert(spark.sql(s"VACUUM '$t' RETAIN 0 HOURS").head().getLong(0) === 1L)
    assert(graft.ops.TxLog.snapshot(spark, t).as[(Long, Long)].head() === ((1L, 99L)))
  }

  test("FSCK REPAIR TABLE drops references to missing segments, refuses on missing DVs") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txfsck-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    graft.ops.TxLog.append(Seq((2L, 20L)).toDF("k", "v"), t)
    // a healthy table repairs nothing (and commits nothing)
    assert(spark.sql(s"FSCK REPAIR TABLE '$t'").count() === 0L)
    assert(graft.ops.TxLog.currentVersion(t) === 2L)
    // physically delete the first segment out from under the log
    val seg1 = graft.ops.TxLog.readManifest(t, 1L).adds.head
    val segPath = java.nio.file.Paths.get(seg1)
    java.nio.file.Files.walk(segPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    // DRY RUN lists the gone reference without committing
    val listed = spark.sql(s"FSCK REPAIR TABLE '$t' DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(listed === Seq(seg1))
    assert(graft.ops.TxLog.currentVersion(t) === 2L)
    // the repair lands one removes-only commit; the table reads again
    assert(spark.sql(s"FSCK REPAIR TABLE '$t'").collect()
      .map(_.getString(0)).toSeq === Seq(seg1))
    assert(graft.ops.TxLog.readManifest(t, 3L).op === "fsck")
    assert(graft.ops.TxLog.snapshot(spark, t).as[(Long, Long)].collect()
      .toSeq === Seq((2L, 20L)))
    // a missing DELETION-VECTOR segment refuses: repairing would
    // resurrect the rows it deletes
    val t2 = java.nio.file.Files.createTempDirectory("txfsck2-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t2)
    graft.ops.TxLog.deleteWhere(spark, t2, col("k") === 1L)
    val dvSeg = graft.ops.TxLog.tableState(t2).dv.head
    java.nio.file.Files.walk(java.nio.file.Paths.get(dvSeg))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    val e = intercept[Exception] {
      spark.sql(s"FSCK REPAIR TABLE '$t2'").collect()
    }
    assert(e.getMessage.contains("RESURRECT"), e.getMessage)
  }

  test("REORG APPLY (PURGE) rewrites only DV-marked segments, preserves layout") {
    import spark.implicits._
    // two segments; deletes hit only the first — purge must rewrite it
    // and reference the second byte-identically
    val t = java.nio.file.Files.createTempDirectory("txpurge-").resolve("t").toString
    graft.ops.TxLog.append((1L to 4L).map(k => (k, k * 10L)).toDF("k", "v"), t)
    graft.ops.TxLog.append((5L to 8L).map(k => (k, k * 10L)).toDF("k", "v"), t)
    // purge with no standing DV is a no-op at the head
    assert(spark.sql(s"REORG TABLE '$t' APPLY (PURGE)").head().getLong(0) === 2L)
    graft.ops.TxLog.deleteWhere(spark, t, col("k") === 2L)
    val seg2 = graft.ops.TxLog.readManifest(t, 2L).adds.head
    val preSnap = graft.ops.TxLog.snapshot(spark, t)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(spark.sql(s"REORG TABLE '$t' APPLY (PURGE)").head().getLong(0) === 4L)
    val m = graft.ops.TxLog.readManifest(t, 4L)
    assert(m.op === "purge")
    assert(m.removes === Seq(graft.ops.TxLog.readManifest(t, 1L).adds.head))
    assert(m.adds.size === 1)
    // untouched segment still referenced, chain cleared, rows unchanged
    val st = graft.ops.TxLog.tableState(t)
    assert(st.segments.map(_._1).contains(seg2))
    assert(st.dv.isEmpty)
    assert(graft.ops.TxLog.snapshot(spark, t)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq === preSnap)
    // time travel to the pre-purge version still applies the old chain
    assert(graft.ops.TxLog.snapshot(spark, t, Some(3L)).count() === 7L)

    // partitioned: the rewrite re-stages under the same col=value leaf
    val t2 = java.nio.file.Files.createTempDirectory("txpurge2-").resolve("t").toString
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "part")
      .write.format("txlog").partitionBy("part").save(t2)
    graft.ops.TxLog.deleteWhere(spark, t2, col("k") === 1L)
    spark.sql(s"REORG TABLE '$t2' APPLY (PURGE)")
    val live2 = graft.ops.TxLog.liveFiles(t2)
    assert(live2.exists(_.endsWith("part=a")) && live2.exists(_.endsWith("part=b")))
    val back = spark.read.format("txlog").load(t2)
      .select("k", "part").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back === Seq((2L, "a"), (3L, "b")))

    // a fully-deleted segment disappears without an empty add
    val t3 = java.nio.file.Files.createTempDirectory("txpurge3-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t3)
    graft.ops.TxLog.append(Seq((2L, 20L)).toDF("k", "v"), t3)
    graft.ops.TxLog.deleteWhere(spark, t3, col("k") === 1L)
    graft.ops.TxLog.purge(spark, t3)
    val m3 = graft.ops.TxLog.readManifest(t3, 4L)
    assert(m3.adds.isEmpty && m3.removes.size === 1)
    assert(graft.ops.TxLog.snapshot(spark, t3).as[(Long, Long)]
      .collect().toSeq === Seq((2L, 20L)))
  }

  test("GENERATE symlink_format_manifest lists live parquet per partition leaf") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txgen-").resolve("t").toString
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "part")
      .write.format("txlog").partitionBy("part").save(t)
    val manifests = spark.sql(s"GENERATE symlink_format_manifest FOR TABLE '$t'")
      .collect().map(_.getString(0)).toSeq
    assert(manifests.size === 2)
    assert(manifests.exists(_.contains("part=a")) &&
      manifests.exists(_.contains("part=b")))
    // an external reader following the listed URIs sees exactly the data
    import scala.jdk.CollectionConverters._
    val listed = manifests.flatMap(m =>
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(m)).asScala)
    assert(listed.nonEmpty && listed.forall(_.endsWith(".parquet")))
    val viaManifest = spark.read.parquet(listed.map(u =>
      java.nio.file.Paths.get(java.net.URI.create(u)).toString): _*)
    assert(viaManifest.count() === 3L)
    // regeneration after a rewrite drops stale leaves and files
    graft.ops.TxLog.deleteWhere(spark, t, col("k") =!= 3L)
    graft.ops.TxLog.purge(spark, t) // part=a disappears entirely
    val regen = spark.sql(s"GENERATE symlink_format_manifest FOR TABLE '$t'")
      .collect().map(_.getString(0)).toSeq
    assert(regen.size === 1 && regen.head.contains("part=b"))
    assert(!manifests.filter(_.contains("part=a"))
      .exists(m => java.nio.file.Files.exists(java.nio.file.Paths.get(m))))
  }

  test("ANALYZE TABLE '<path>' COMPUTE STATISTICS FOR COLUMNS records manifest stats") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txanalyze-").resolve("t").toString
    graft.ops.TxLog.append((1L to 4L).map(k => (k, k * 10L)).toDF("k", "v"), t)
    assert(spark.sql(
      s"ANALYZE TABLE '$t' COMPUTE STATISTICS FOR COLUMNS k, v")
      .head().getLong(0) === 2L)
    val st = graft.ops.TxLog.tableState(t)
    val stats = st.segments.head._2.get
    assert(stats.statsFor("k").exists(s => s.min === 1L && s.max === 4L))
    assert(stats.statsFor("v").exists(s => s.min === 10L && s.max === 40L))
    // already-covered columns are a no-op (returns the head, no commit)
    assert(spark.sql(
      s"ANALYZE TABLE '$t' COMPUTE STATISTICS FOR COLUMNS k")
      .head().getLong(0) === 2L)
    assert(graft.ops.TxLog.currentVersion(t) === 2L)
    // the NAMED spelling still reaches Spark's own ANALYZE
    intercept[Exception] {
      spark.sql("ANALYZE TABLE nonexistent_graft_tbl COMPUTE STATISTICS FOR COLUMNS x")
        .collect()
    }
  }

  test("partition-scoped OPTIMIZE keeps deletes on a prefix-sharing sibling leaf") {
    import spark.implicits._
    // part=a and part=ab land under ONE staging uuid: bare substring
    // matching of segment paths would treat part=ab's marks as part=a's
    // and drop them from the replacement chain — resurrecting the delete
    val t = java.nio.file.Files.createTempDirectory("txoptpfx-").resolve("t").toString
    Seq((1L, "a"), (2L, "a"), (3L, "ab"), (4L, "ab")).toDF("k", "part")
      .write.format("txlog").partitionBy("part").save(t)
    graft.ops.TxLog.deleteWhere(spark, t, col("k") === 3L) // marks part=ab only
    spark.sql(s"OPTIMIZE '$t' WHERE part = 'a'")
    val back = spark.read.format("txlog").load(t)
      .select("k", "part").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back === Seq((1L, "a"), (2L, "a"), (4L, "ab")),
      "the sibling leaf's delete must survive the other leaf's rewrite")
    // and purge under the same layout rewrites ONLY the marked leaf
    val t2 = java.nio.file.Files.createTempDirectory("txpurgepfx-").resolve("t").toString
    Seq((1L, "a"), (2L, "ab")).toDF("k", "part")
      .write.format("txlog").partitionBy("part").save(t2)
    graft.ops.TxLog.deleteWhere(spark, t2, col("k") === 2L)
    graft.ops.TxLog.purge(spark, t2)
    val m = graft.ops.TxLog.readManifest(t2, graft.ops.TxLog.currentVersion(t2))
    assert(m.op === "purge" && m.removes.size === 1 &&
      m.removes.head.endsWith("part=ab"), m.removes.toString)
    assert(spark.read.format("txlog").load(t2)
      .select("k", "part").as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("graft.appendOnly blocks row-removing DML; graft.checkpointInterval tunes cadence") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txappo-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES ('graft.appendOnly' = 'true')")
    // appends still land; every row-removing primitive refuses
    graft.ops.TxLog.append(Seq((2L, 20L)).toDF("k", "v"), t)
    def refused(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(e.getMessage.contains("appendOnly"), e.getMessage)
    }
    refused(graft.ops.TxLog.deleteWhere(spark, t, col("k") === 1L))
    refused(graft.ops.TxLog.updateWhere(spark, t, col("k") === 1L,
      Seq("v" -> lit(99L))))
    refused(graft.ops.TxLog.mergeDv(spark, Seq((1L, 99L)).toDF("k", "v"), t, "k"))
    refused(graft.ops.TxLog.overwrite(Seq((9L, 9L)).toDF("k", "v"), t))
    // the SQL surface inherits the guard through the primitives
    spark.sql(s"CREATE TABLE graft_appo_spec USING txlog LOCATION '$t'")
    try refused(spark.sql("DELETE FROM graft_appo_spec WHERE k = 1").collect())
    finally spark.sql("DROP TABLE IF EXISTS graft_appo_spec")
    // UNSET re-allows
    spark.sql(s"ALTER TABLE '$t' UNSET TBLPROPERTIES ('graft.appendOnly')")
    graft.ops.TxLog.deleteWhere(spark, t, col("k") === 1L)
    assert(graft.ops.TxLog.snapshot(spark, t).as[(Long, Long)].collect()
      .toSeq.sorted === Seq((2L, 20L)))

    // checkpoint cadence: interval 3 → checkpoints land on multiples of 3
    val t2 = java.nio.file.Files.createTempDirectory("txckint-").resolve("t").toString
    graft.ops.TxLog.append(Seq((0L, 0L)).toDF("k", "v"), t2)
    spark.sql(s"ALTER TABLE '$t2' SET TBLPROPERTIES ('graft.checkpointInterval' = '3')")
    (1 to 7).foreach(i => graft.ops.TxLog.append(Seq((i.toLong, i.toLong)).toDF("k", "v"), t2))
    // commits 3, 6, 9 carry checkpoints (v2 was the property commit)
    assert(graft.ops.TxLog.checkpointVersions(t2) === Seq(3L, 6L, 9L))
  }

  test("log retention cleanup bounds the manifest count; pre-cut reads refuse loudly") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txlogret-").resolve("t").toString
    (1 to 7).foreach(i =>
      graft.ops.TxLog.append(Seq((i.toLong, i.toLong)).toDF("k", "v"), t))
    graft.ops.TxLog.deleteWhere(spark, t, col("k") === 1L) // v8, leaves a DV
    // declare zero retention so cleanup is immediate once checkpointed
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES " +
      "('graft.logRetentionDuration' = '0')") // v9
    graft.ops.TxLog.append(Seq((9L, 9L)).toDF("k", "v"), t) // v10 → auto ckpt
    // the checkpoint hook ran cleanup: manifests below the checkpoint gone
    assert(graft.ops.TxLog.checkpointVersions(t).contains(10L))
    assert(graft.ops.TxLog.logFloor(t) === 10L)
    // every head-path read still answers exactly (state from the checkpoint)
    assert(graft.ops.TxLog.snapshot(spark, t).count() === 7L) // 8 appended - 1 deleted
    assert(graft.ops.TxLog.tableProperties(t)
      .contains("graft.logRetentionDuration"))
    graft.ops.TxLog.append(Seq((10L, 10L)).toDF("k", "v"), t) // v11 post-cut
    assert(graft.ops.TxLog.snapshot(spark, t).count() === 8L)
    // history reports only the surviving range, no error
    assert(spark.sql(s"DESCRIBE HISTORY '$t'").collect()
      .map(_.getLong(0)).toSeq === Seq(11L, 10L))
    // time travel below the floor refuses with the retention reason
    val e = intercept[Exception] {
      graft.ops.TxLog.snapshot(spark, t, Some(5L)).count()
    }
    assert(e.getMessage.contains("logRetentionDuration"), e.getMessage)
    // CDF from version 0 refuses with the retention reason
    val e2 = intercept[Exception] {
      spark.read.format("txlog").option("readChangeFeed", "true")
        .option("startingVersion", "0").load(t).count()
    }
    assert(e2.getMessage.contains("log floor"), e2.getMessage)
    // CDF from the floor onward still answers
    assert(spark.read.format("txlog").option("readChangeFeed", "true")
      .option("startingVersion", (graft.ops.TxLog.logFloor(t) - 1).toString)
      .load(t).count() >= 1L)
    // time travel AT/above the floor resolves through the checkpoint
    assert(graft.ops.TxLog.snapshot(spark, t, Some(10L)).count() === 7L)
  }

  test("graft.statsColumns records skipping stats on every writer path") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txsdecl-").resolve("t").toString
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES ('graft.statsColumns' = 'v')")
    def statsCols(): Seq[Seq[String]] =
      graft.ops.TxLog.liveFilesWithStats(t).map(_._2.toSeq.flatMap(_.trackedCols))
    // library append, format seam, idempotent txn — all record v's stats
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    Seq((2L, 20L)).toDF("k", "v").write.format("txlog").mode("append").save(t)
    graft.ops.TxLog.write(Seq((3L, 30L)).toDF("k", "v"), t,
      WriteSpec(mark = Some(Mark.txn("app", 1L))))
    assert(statsCols() === Seq(Seq("v"), Seq("v"), Seq("v")))
    // streaming sink micro-batches record them too
    val src = java.nio.file.Files.createTempDirectory("txsdecl-src-").toString
    Seq((4L, 40L)).toDF("k", "v").write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema("k LONG, v LONG").parquet(src)
      .writeStream.format("txlog").option("path", t)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txsdecl-ck-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(statsCols().size === 4 && statsCols().forall(_ === Seq("v")))
    // declared stats PRUNE: a v range opens only the matching segment
    assert(spark.read.format("txlog").load(t)
      .filter(col("v") === 20L).agg(sum("k")).head().getLong(0) === 2L)
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 4)))
    // UNSET stops recording (new segments plain, old stats intact)
    spark.sql(s"ALTER TABLE '$t' UNSET TBLPROPERTIES ('graft.statsColumns')")
    graft.ops.TxLog.append(Seq((5L, 50L)).toDF("k", "v"), t)
    assert(statsCols().count(_.isEmpty) === 1)
    // declared BLOOM index: with both declared, the bloom column's
    // record is primary (extras never carry blooms) and v's stats ride
    // as an extra on the same segment
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES " +
      "('graft.statsColumns' = 'v', 'graft.bloomColumn' = 'k')")
    graft.ops.TxLog.append(Seq((6L, 60L)).toDF("k", "v"), t)
    val last = graft.ops.TxLog.liveFilesWithStats(t).last._2.get
    assert(last.col === "k" && last.bloomHex.nonEmpty)
    assert(last.statsFor("v").nonEmpty && last.rows === Some(1L))
    // every other insert shape records the declared column beside the
    // ones it asks for (requested first, so they stay primary);
    // partitioned shapes record it per leaf
    def declared(name: String, more: String = ""): String = {
      val d = java.nio.file.Files.createTempDirectory(s"txsdecl-$name-")
        .resolve("t").toString
      spark.sql(s"ALTER TABLE '$d' SET TBLPROPERTIES ('graft.statsColumns' = 'v'$more)")
      d
    }
    def tracked(d: String): Seq[Seq[String]] =
      graft.ops.TxLog.liveFilesWithStats(d).map(_._2.toSeq.flatMap(_.trackedCols))
    val kv = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val kvp = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p")
    // requested stats: append and overwrite
    val ts = declared("stats")
    kv.write.format("txlog").mode("append").option("statsCols", "k").save(ts)
    assert(tracked(ts) === Seq(Seq("k", "v")))
    kv.write.format("txlog").mode("overwrite").option("statsCols", "k").save(ts)
    assert(tracked(ts) === Seq(Seq("k", "v")))
    // partitioned: append with stats, overwrite without (format seam and
    // SQL INSERT OVERWRITE), one-partition replace
    val tp = declared("part")
    kvp.write.format("txlog").mode("append").partitionBy("p")
      .option("statsCols", "k").save(tp)
    assert(tracked(tp) === Seq(Seq("k", "v"), Seq("k", "v")))
    kvp.write.format("txlog").mode("overwrite").partitionBy("p").save(tp)
    assert(tracked(tp) === Seq(Seq("v"), Seq("v")))
    new graft.sources.TxLogRelation(spark.sqlContext, tp, None).insert(kvp, overwrite = true)
    assert(tracked(tp) === Seq(Seq("v"), Seq("v")))
    Seq((3L, 30L, "a")).toDF("k", "v", "p").write.format("txlog").mode("overwrite")
      .option("replaceWhere", "p = 'a'").save(tp)
    assert(graft.ops.TxLog.readManifest(tp, graft.ops.TxLog.currentVersion(tp))
      .removes.size === 1)
    assert(tracked(tp) === Seq(Seq("v"), Seq("v")))
    // append + evolve in one commit
    val te = declared("evolve")
    kv.write.format("txlog").mode("append").save(te)
    Seq((3L, 30L, "x")).toDF("k", "v", "w").write.format("txlog").mode("append")
      .option("mergeSchema", "true").save(te)
    assert(graft.ops.TxLog.readManifest(te, graft.ops.TxLog.currentVersion(te)).op ===
      "append_evolve")
    assert(tracked(te) === Seq(Seq("v"), Seq("v")))
    // requested bloom: primary k carries it, v rides as an extra; and the
    // append auto-compacts once two small segments stand
    val tb = declared("bloom",
      ", 'graft.autoCompact.enabled' = 'true', 'graft.autoCompact.minNumFiles' = '2'")
    graft.ops.TxLog.write(kv, tb, WriteSpec(bloomCol = Some("k")))
    assert(tracked(tb) === Seq(Seq("k", "v")))
    assert(graft.ops.TxLog.liveFilesWithStats(tb).head._2.exists(_.bloomHex.nonEmpty))
    graft.ops.TxLog.write(Seq((3L, 30L)).toDF("k", "v"), tb, WriteSpec(bloomCol = Some("k")))
    assert(graft.ops.TxLog.liveFiles(tb).size === 1)
    assert(graft.ops.TxLog.readManifest(tb, graft.ops.TxLog.currentVersion(tb)).op ===
      "optimize")
  }

  test("SQL OPTIMIZE preserves a partitioned layout; fully-deleted chains disappear") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txoptp-").resolve("t").toString
    graft.ops.TxLog.write(
      Seq((1L, "a", "x"), (3L, "a", "y")).toDF("k", "p", "q"), t,
      WriteSpec(partitionBy = Seq("p", "q")))
    graft.ops.TxLog.write(
      Seq((2L, "a", "x"), (4L, "b", "x")).toDF("k", "p", "q"), t,
      WriteSpec(partitionBy = Seq("p", "q")))
    graft.ops.TxLog.deleteWhere(spark, t, col("k") === 3L) // dooms a/y entirely
    val untouched = graft.ops.TxLog.liveFiles(t).filter(_.contains("p=b"))
    spark.sql(s"OPTIMIZE '$t'").collect()
    // layout survives; a/x bin-packed to 1, b/x referenced byte-identically,
    // the fully-deleted a/y chain disappears without an empty add
    assert(graft.ops.TxLog.partitionLayout(t) === Seq("p", "q"))
    val segs = graft.ops.TxLog.liveFiles(t)
    assert(segs.count(s => s.contains("p=a") && s.contains("q=x")) === 1)
    assert(segs.count(_.contains("q=y")) === 0, segs.mkString("\n"))
    assert(segs.filter(_.contains("p=b")) === untouched)
    val snap = spark.read.format("txlog").load(t)
    assert(snap.select("k").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L))
    // the delete materialized: the chain is clear
    assert(graft.ops.TxLog.tableState(t).dv.isEmpty)
    // path pruning still answers on the preserved layout (sum keeps the
    // scan real — a bare count would answer from the manifest)
    assert(snap.filter(col("p") === "a").agg(sum("k")).head().getLong(0) === 3L)
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 2)))
  }

  test("auto-compact folds the small tail post-commit; thresholds and layout hold") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txauto-").resolve("t").toString
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES " +
      "('graft.autoCompact.enabled' = 'true', " +
      "'graft.autoCompact.minNumFiles' = '2')")
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    assert(graft.ops.TxLog.liveFiles(t).size === 1)
    // second small append crosses minNumFiles=2 → its hook compacts
    graft.ops.TxLog.append(Seq((2L, 20L)).toDF("k", "v"), t)
    assert(graft.ops.TxLog.liveFiles(t).size === 1)
    assert(graft.ops.TxLog.readManifest(t,
      graft.ops.TxLog.currentVersion(t)).op === "optimize")
    // a standing DV mark on a compacted small MATERIALIZES in the fold
    graft.ops.TxLog.deleteWhere(spark, t, col("k") === 1L)
    graft.ops.TxLog.append(Seq((3L, 30L)).toDF("k", "v"), t)
    val snap = spark.read.format("txlog").load(t)
    assert(snap.count() === 2L && snap.filter(col("k") === 1L).isEmpty)
    assert(graft.ops.TxLog.liveFiles(t).size === 1)
    // nothing qualifies as small under a 1-byte ceiling → no compaction
    spark.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES " +
      "('graft.autoCompact.maxFileSize' = '1')")
    graft.ops.TxLog.append(Seq((4L, 40L)).toDF("k", "v"), t)
    assert(graft.ops.TxLog.liveFiles(t).size === 2)
    // partitioned layout: only the leaf crossing the threshold compacts,
    // and the Hive layout survives the rewrite
    val t2 = java.nio.file.Files.createTempDirectory("txauto2-").resolve("t").toString
    spark.sql(s"ALTER TABLE '$t2' SET TBLPROPERTIES " +
      "('graft.autoCompact.enabled' = 'true', " +
      "'graft.autoCompact.minNumFiles' = '2')")
    graft.ops.TxLog.write(
      Seq((1L, "a"), (2L, "b")).toDF("k", "p"), t2, WriteSpec(partitionBy = Seq("p")))
    graft.ops.TxLog.write(
      Seq((3L, "a")).toDF("k", "p"), t2, WriteSpec(partitionBy = Seq("p")))
    val segs = graft.ops.TxLog.liveFiles(t2)
    assert(segs.count(_.contains("p=a")) === 1, segs.mkString("\n")) // compacted
    assert(segs.count(_.contains("p=b")) === 1)
    assert(spark.read.format("txlog").load(t2).count() === 3L)
    assert(graft.ops.TxLog.partitionLayout(t2) === Seq("p"))
  }

  test("column DEFAULT and NOT NULL govern the write path through SQL") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txdef-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), t)
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN s SET DEFAULT 'dflt'")
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN s SET NOT NULL")
    // an omitted column fills with the default (which satisfies NOT NULL)
    graft.ops.TxLog.append(Seq(Tuple1(3L)).toDF("k"), t)
    assert(spark.read.format("txlog").load(t)
      .filter(col("s") === "dflt").count() === 1L)
    // an explicit NULL refuses via the NOT NULL check
    val e = intercept[Exception] {
      graft.ops.TxLog.append(Seq((4L, null: String)).toDF("k", "s"), t)
    }
    assert(e.getMessage.contains("not_null"), e.getMessage)
    // DROP NOT NULL lifts the check; DROP DEFAULT stops the fill
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN s DROP NOT NULL")
    graft.ops.TxLog.append(Seq((4L, null: String)).toDF("k", "s"), t)
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN s DROP DEFAULT")
    graft.ops.TxLog.append(Seq(Tuple1(5L)).toDF("k"), t)
    val by = spark.read.format("txlog").load(t)
    assert(by.count() === 5L)
    assert(by.filter(col("s").isNull).count() === 2L) // explicit + undefaulted
    // the default's declaration is plain versioned metadata: SHOW
    // TBLPROPERTIES no longer lists it after the DROP
    assert(!spark.sql(s"SHOW TBLPROPERTIES '$t'").collect()
      .exists(_.getString(0).startsWith("graft.default.")))
  }

  test("generated columns fill, enforce, recompute on UPDATE, and derive pruning") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txgen-").resolve("t").toString
    val mk = (r: Range) => r.map(i => (i.toLong, s"c${i % 8}_$i", 10L + i))
      .toDF("id", "code", "v")
    // v1: explicit pfx; v2: declare (validates v1); v3: omitted pfx fills
    graft.ops.TxLog.write(
      mk(0 until 16).withColumn("pfx", expr("substring(code, 1, 2)")), t,
      WriteSpec(partitionBy = Seq("pfx")))
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN pfx " +
      "SET GENERATED ALWAYS AS (substring(code, 1, 2))")
    graft.ops.TxLog.write(mk(16 until 32), t, WriteSpec(partitionBy = Seq("pfx")))
    // a filter ONLY on the source column derives the partition values:
    // code in [c2, c3_z] → pfx in {c2, c3} → 4 of 16 leaf segments
    val got = spark.read.format("txlog").load(t)
      .filter(col("code") >= "c2" && col("code") <= "c3_z")
      .agg(count(lit(1)), sum("v")).head()
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((4, 16)))
    val exp = (0 until 32).filter(i => { val c = s"c${i % 8}_$i"
      c >= "c2" && c <= "c3_z" })
    assert(got.getLong(0) === exp.size.toLong)
    assert(got.getLong(1) === exp.map(10L + _).sum)
    // a write CARRYING a disagreeing generated value refuses
    val e = intercept[Exception] {
      graft.ops.TxLog.write(
        Seq((99L, "c1_99", 1L, "zz")).toDF("id", "code", "v", "pfx"), t,
        WriteSpec(partitionBy = Seq("pfx")))
    }
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    // declaring against a violating history refuses
    val t2 = java.nio.file.Files.createTempDirectory("txgen2-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, "ab", "zz")).toDF("id", "code", "pfx"), t2)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t2' ALTER COLUMN pfx " +
        "SET GENERATED ALWAYS AS (substring(code, 1, 2))")
    }
    assert(e2.getMessage.contains("existing rows violate"), e2.getMessage)
    // non-deterministic expressions refuse at declaration
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t2' ALTER COLUMN code " +
        "SET GENERATED ALWAYS AS (uuid())")
    }
    assert(e3.getMessage.contains("non-deterministic"), e3.getMessage)
  }

  test("UPDATE recomputes generated columns from the post-image; RESTORE unsets stale declarations") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txgenu-").resolve("t").toString
    graft.ops.TxLog.append(
      Seq((1L, "a", "a!"), (2L, "b", "b!")).toDF("k", "src", "gen"), t)
    graft.ops.TxLog.setGeneratedColumn(spark, t, "gen", "concat(src, '!')")
    // SET src without gen → gen recomputes from the POST-image
    graft.ops.TxLog.updateWhere(spark, t, col("k") === 1L,
      Seq("src" -> lit("z")))
    val r = spark.read.format("txlog").load(t)
      .filter(col("k") === 1L).select("src", "gen").head()
    assert(r.getString(0) === "z" && r.getString(1) === "z!")
    // explicitly SETTING a disagreeing generated value refuses
    val e = intercept[Exception] {
      graft.ops.TxLog.updateWhere(spark, t, col("k") === 2L,
        Seq("gen" -> lit("nope")))
    }
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    // RESTORE resurrects rows the declaration never validated → the
    // stale declaration is UNSET in the same restore commit
    val t2 = java.nio.file.Files.createTempDirectory("txgenr-").resolve("t").toString
    graft.ops.TxLog.append(Seq((9L, "bad")).toDF("k", "gen"), t2) // violates k+1
    graft.ops.TxLog.deleteWhere(spark, t2, col("k") === 9L)
    graft.ops.TxLog.append(Seq((1L, "2")).toDF("k", "gen"), t2)
    graft.ops.TxLog.setGeneratedColumn(spark, t2, "gen",
      "CAST(k + 1 AS STRING)")
    assert(graft.ops.TxLog.generatedColumns(t2).nonEmpty)
    graft.ops.TxLog.restore(spark, t2, 1L) // resurrects the bad row
    assert(graft.ops.TxLog.generatedColumns(t2).isEmpty,
      "stale generated declaration must not survive a restore below its validation")
  }

  test("timestamp spellings parse uniformly across every timestamp surface") {
    import spark.implicits._
    // the shared parser: bare millis, date-only, datetime, datetime.millis
    assert(graft.ops.TxLog.parseTsMillis("1500000") === 1500000L)
    assert(graft.ops.TxLog.parseTsMillis("1970-01-01") === 0L)
    assert(graft.ops.TxLog.parseTsMillis(" 1970-01-02 ") === 86400000L)
    assert(graft.ops.TxLog.parseTsMillis("1970-01-01 00:25:00") === 1500000L)
    assert(graft.ops.TxLog.parseTsMillis("1970-01-01 00:25:00.123") === 1500123L)
    val t = java.nio.file.Files.createTempDirectory("txtsp-").resolve("t").toString
    graft.ops.TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)
    graft.ops.TxLog.append(Seq((2L, 20L)).toDF("k", "v"), t)
    Seq(1L -> 1000000L, 2L -> 2000000L).foreach { case (v, ts) =>
      val p = java.nio.file.Paths.get(t, "_txlog", f"$v%020d.json")
      java.nio.file.Files.writeString(p, java.nio.file.Files.readString(p)
        .replaceAll("\"ts\":\\d+", s""""ts":$ts"""))
    }
    // reader option takes the ISO spelling
    assert(spark.read.format("txlog")
      .option("timestampAsOf", "1970-01-01 00:25:00").load(t).count() === 1L)
    // SELECT ... TIMESTAMP AS OF takes the quoted ISO spelling
    spark.sql(s"CREATE TABLE graft_tsp_spec USING txlog LOCATION '$t'")
    try {
      assert(spark.sql(
        "SELECT count(*) FROM graft_tsp_spec TIMESTAMP AS OF '1970-01-01 00:25:00'")
        .head().getLong(0) === 1L)
      // RESTORE takes the quoted ISO spelling (and still the bare millis)
      assert(spark.sql(
        s"RESTORE TABLE '$t' TO TIMESTAMP AS OF '1970-01-01 00:25:00'")
        .head().getLong(0) === 3L)
      assert(graft.ops.TxLog.snapshot(spark, t).as[(Long, Long)].head() === ((1L, 10L)))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tsp_spec")
  }
}
