package graft

import graft.ops.TxLog.WriteSpec
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The measured scale-up evidence behind SURVEY §6's dedup claims: runs
  * the LSH dedup family at 1× and K× (default 10×) corpus size and
  * records CANDIDATE-PAIR counts against their analytic bounds, plus
  * wall-clock. Replication is id-offset with text kept identical — the
  * adversarial duplicate-heavy corpus where every replica group collides
  * in every band, i.e. exactly the case the hot-bucket cap exists for:
  *
  *   - uncapped pairs: collision groups grow quadratically (the measured
  *     blow-up that motivates capping);
  *   - capped pairs: each doc sits in ≤ n_bands buckets of ≤ cap members,
  *     so candidates ≤ n_docs · n_bands · (cap−1)/2 — LINEAR in corpus
  *     size, asserted here at both scales;
  *   - sorted-neighborhood: ≤ (window−1) · n_docs by construction,
  *     asserted;
  *   - incremental: (fresh × standing) band matches only — grows with
  *     the ingest slice, never |corpus|².
  *
  * `runMain graft.ScaleExperiment` → one JSON line per scale on stdout;
  * SPARK_GRAFT_SF_DIR picks the base corpus (default sf0.1),
  * SPARK_GRAFT_SCALE_K the replication factor.
  */
object ScaleExperiment {

  private val Cap = 2    // dedup_minhash_capped keeps buckets with ≤ 2 members
  private val NBands = 8 // MinHashSignature emits 8 bands

  /** Drain the walk to a list and CLOSE the stream before deleting — the
    * open-iterator reverse leaked a directory fd per run (ADVICE r12).
    */
  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    val st = java.nio.file.Files.walk(root)
    val paths =
      try st.iterator().asScala.toList
      finally st.close()
    paths.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)

    val rep = replicaDir(spark, sfDir, k)
    Seq(("1x", sfDir), (s"${k}x", rep)).foreach { case (tag, dir) =>
      println(measure(spark, tag, dir))
    }
    // Scale-INVARIANCE of the content summaries: id-offset replicas add
    // no new shingles, lengths, or phrase structure, so these outputs
    // must be BIT-IDENTICAL at 1× and K× — the strongest statement that
    // the operators measure content, not volume. (Gini: every length's
    // count scales by K, all shares cancel. RAKE: degree and freq both
    // scale by K and the milli score is floor of their unchanged ratio.)
    val invariants: Seq[(String, Seq[String])] = Seq(
      // raw counts scale by K; the RATIO columns must not move at all
      ("stats_gini", Seq("gini_ppm")),
      ("text_keyword_rake", Seq("tok", "score_milli")))
    for ((q, cols) <- invariants) {
      val one = SparkEntry.queries(q)(spark, sfDir)
        .select(cols.head, cols.tail: _*).collect().map(_.toString).toSeq
      val kx = SparkEntry.queries(q)(spark, rep)
        .select(cols.head, cols.tail: _*).collect().map(_.toString).toSeq
      require(one == kx,
        s"$q is not scale-invariant under replication:\n 1x=$one\n ${k}x=$kx")
      println(s"""{"invariant":"$q","cols":"${cols.mkString(",")}","scales":["1x","${k}x"],"identical":true}""")
    }

    // MERGE-ON-READ write amplification (r11): a 1-row upsert through
    // TxLog.mergeDv must write O(changed rows) — two KB-scale segments
    // (the deletion marks + the new row) — regardless of table size,
    // where the copy-on-write merge rewrites the whole table. Asserted
    // at both scales: added bytes are a sliver of the table AND do not
    // grow with K (the constant that makes small updates affordable at
    // 100 TB).
    def dirBytes(p: java.nio.file.Path): Long =
      if (!java.nio.file.Files.isDirectory(p)) 0L
      else java.nio.file.Files.walk(p).iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    val dvAdded = Seq(("1x", sfDir), (s"${k}x", rep)).map { case (tag, dir) =>
      val t = s"${sys.props("java.io.tmpdir")}/graft-dvamp-$tag"
      val root = java.nio.file.Paths.get(t)
      if (java.nio.file.Files.isDirectory(root))
        deleteRecursively(root)
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      graft.ops.TxLog.append(docs, t)
      val before = dirBytes(java.nio.file.Paths.get(t, "data"))
      val upd = docs.filter(col("doc_id") === 0L)
        .withColumn("text", lit("[redacted]"))
      graft.ops.TxLog.mergeDv(spark, upd, t, "doc_id")
      val added = dirBytes(java.nio.file.Paths.get(t, "data")) - before
      require(added * 20 < before,
        s"[$tag] 1-row DV merge wrote $added bytes against a $before-byte table — " +
          "not O(changed rows)")
      println(s"""{"dv_write_amp":"$tag","table_bytes":$before,"added_bytes":$added}""")
      added
    }
    require(dvAdded(1) < dvAdded(0) * 4,
      s"1-row DV merge cost must not grow with table size: ${dvAdded.mkString(" vs ")}")

    // PARTITION-PRUNE geometry (r12): the prune decision is manifest
    // metadata — segments opened scale with partitions TOUCHED, never
    // with corpus volume. One partitioned load of 5 langs → the
    // lang='en' read opens exactly 1 of 5 segments at BOTH scales; only
    // the rows inside the touched partition grow with K.
    val partGeom = Seq(("1x", sfDir), (s"${k}x", rep)).map { case (tag, dir) =>
      val t = s"${sys.props("java.io.tmpdir")}/graft-part-$tag"
      val root = java.nio.file.Paths.get(t)
      if (java.nio.file.Files.isDirectory(root))
        deleteRecursively(root)
      graft.ops.TxLog.write(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang")), t,
        WriteSpec(partitionBy = Seq("lang")))
      val sc = graft.ops.TxLog.scan(spark, t,
        graft.ops.TxLog.Prune(parts = Seq("lang" -> Some(Set("en")))))
      val (scanned, total, n) = (sc.scanned, sc.total, sc.orEmpty.count())
      println(s"""{"partition_prune":"$tag","scanned":$scanned,"total":$total,"rows":$n}""")
      (scanned, total)
    }
    require(partGeom(0) == partGeom(1) && partGeom(0)._1 * 5 == partGeom(0)._2,
      s"partition-prune geometry must be volume-independent: $partGeom")

    // MULTI-COLUMN STATS + MANIFEST AGGREGATES (r13): skipping on the
    // SECOND tracked column is manifest geometry — scanned/total
    // identical at 1x and Kx (the decision reads min/max, never data) —
    // and count(*) over the unfiltered format("txlog") relation answers
    // from per-segment row stats via the optimizer rule at BOTH scales,
    // the answer scaling exactly with K while zero files open.
    graft.plans.ManifestCountRule.install(spark)
    val charsCut = Tables.documents(spark, sfDir)
      .stat.approxQuantile("n_chars", Array(0.5), 0.01).head.toLong
    val multiGeom = Seq(("1x", sfDir), (s"${k}x", rep)).map { case (tag, dir) =>
      val t = s"${sys.props("java.io.tmpdir")}/graft-multi-$tag"
      val root = java.nio.file.Paths.get(t)
      if (java.nio.file.Files.isDirectory(root)) deleteRecursively(root)
      val base = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      // n_chars-disjoint segments, doc_id interleaving: only the second
      // tracked column's stats can prune the range read
      graft.ops.TxLog.write(
        base.filter(col("n_chars") < charsCut), t, WriteSpec(statsCols = Seq("doc_id", "n_chars")))
      graft.ops.TxLog.write(
        base.filter(col("n_chars") >= charsCut), t, WriteSpec(statsCols = Seq("doc_id", "n_chars")))
      val sc = graft.ops.TxLog.scan(spark, t,
        graft.ops.TxLog.Prune(longBounds = Seq(("n_chars", charsCut, Long.MaxValue))))
      val (scanned, total, n) = (sc.scanned, sc.total, sc.orEmpty.count())
      graft.plans.ManifestCountRule.lastAnswered = None
      val cnt = spark.read.format("txlog").load(t).count()
      require(graft.plans.ManifestCountRule.lastAnswered.exists(_._1 == t),
        s"[$tag] count(*) must answer from the manifest")
      println(s"""{"multicol_prune":"$tag","scanned":$scanned,"total":$total,""" +
        s""""rows":$n,"manifest_count":$cnt}""")
      (scanned, total, cnt)
    }
    require(multiGeom(0)._1 == multiGeom(1)._1 &&
      multiGeom(0)._2 == multiGeom(1)._2 && multiGeom(0)._1 < multiGeom(0)._2,
      s"multi-col prune geometry must be volume-independent: $multiGeom")
    require(multiGeom(1)._3 == multiGeom(0)._3 * k,
      s"manifest count must scale exactly with K: $multiGeom")

    // SHALLOW CLONE + COPY INTO + STRING SKIPPING (r15): a clone is ONE
    // manifest — its bytes are KB-scale and must NOT grow with the data
    // (the property that makes cloning a 100-TB table instant); COPY
    // INTO's re-run ingests ZERO files at both scales (the ledger is
    // manifest metadata, not a data diff); and STRING-range skipping is
    // the same volume-independent manifest geometry as the long path —
    // 1 of 2 lang-split segments opened at 1x and Kx.
    val cloneGeom = Seq(("1x", sfDir), (s"${k}x", rep)).map { case (tag, dir) =>
      val t = s"${sys.props("java.io.tmpdir")}/graft-clone-$tag"
      val c = s"${sys.props("java.io.tmpdir")}/graft-clonedst-$tag"
      val tc = s"${sys.props("java.io.tmpdir")}/graft-copy-$tag"
      Seq(t, c, tc).map(java.nio.file.Paths.get(_))
        .filter(java.nio.file.Files.isDirectory(_)).foreach(deleteRecursively)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      // two segments split on the lang alphabet with STRING stats
      graft.ops.TxLog.write(docs.filter(col("lang") < "fr"), t, WriteSpec(statsCols = Seq("lang")))
      graft.ops.TxLog.write(docs.filter(col("lang") >= "fr"), t, WriteSpec(statsCols = Seq("lang")))
      val tableBytes = dirBytes(java.nio.file.Paths.get(t, "data"))
      graft.ops.TxLog.cloneShallow(spark, t, c)
      val cloneBytes = dirBytes(java.nio.file.Paths.get(c))
      require(cloneBytes * 20 < tableBytes,
        s"[$tag] shallow clone wrote $cloneBytes bytes against a " +
          s"$tableBytes-byte table — not metadata-only")
      val sc = graft.ops.TxLog.scan(spark, t,
        graft.ops.TxLog.Prune(strBounds = Seq(("lang", Some("aa"), Some("eo")))))
      val (scanned, total) = (sc.scanned, sc.total)
      val (v1, in1) = graft.ops.TxLog.copyInto(spark, tc,
        Seq(s"$dir/documents.parquet"))
      val (v2, in2) = graft.ops.TxLog.copyInto(spark, tc,
        Seq(s"$dir/documents.parquet"))
      require(in1.size == 1 && in2.isEmpty && v2 == v1,
        s"[$tag] COPY INTO re-run must ingest nothing: $in1 then $in2")
      println(s"""{"clone_copy_str":"$tag","table_bytes":$tableBytes,""" +
        s""""clone_bytes":$cloneBytes,"str_scanned":$scanned,""" +
        s""""str_total":$total,"recopy_ingested":${in2.size}}""")
      (cloneBytes, scanned, total)
    }
    require(cloneGeom(0)._2 == 1 && cloneGeom(0)._3 == 2 &&
      (cloneGeom(0)._2, cloneGeom(0)._3) == (cloneGeom(1)._2, cloneGeom(1)._3),
      s"string-prune geometry must be volume-independent: $cloneGeom")
    require(cloneGeom(1)._1 < cloneGeom(0)._1 * 4,
      s"clone manifest bytes must not grow with data: $cloneGeom")

    spark.stop()
  }

  /** K id-offset copies of documents (text identical — every replica
    * group is an exact-dup cluster), written once per (base, k).
    */
  private def replicaDir(spark: SparkSession, sfDir: String, k: Int): String = {
    val base = new java.io.File(sfDir.stripSuffix("/")).getName
    val out = s"${sys.props("java.io.tmpdir")}/graft-scale-${base}-x$k"
    val docs = Tables.documents(spark, sfDir)
    val span = docs.agg(max("doc_id")).head.getLong(0) + 1
    (0 until k).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * span)))
      .reduce(_ unionAll _)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    out
  }

  private def measure(spark: SparkSession, tag: String, dir: String): String = {
    val bands = queries.LlmQueries.minhashBands(spark, dir)
    val nDocs = Tables.documents(spark, dir).count()

    // candidate counts, BEFORE the distinct/verify stages
    val uncapped = selfPairs(bands).count()
    val hot = bands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("n")).filter(col("n") > Cap)
      .select("band", "band_key")
    val cold = bands.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
    val capped = selfPairs(cold).count()
    val cappedBound = nDocs * NBands * (Cap - 1) / 2
    require(capped <= cappedBound,
      s"[$tag] capped candidates $capped exceed n_docs*n_bands*(cap-1)/2 = $cappedBound")
    val fresh = bands.filter(col("doc_id") % 10 === 0)
    val standing = bands.filter(col("doc_id") % 10 =!= 0)
    val incremental = fresh.as("x").join(standing.as("y"),
      col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key")).count()
    val snBound = 2L * nDocs // window of 2 successors per doc

    // SimHash screen-loss audit (ADVICE r13): the fuzzy-verify Hamming
    // pre-gate is mirrored into the DuckDB oracle, so the engine/oracle
    // compare can no longer detect a pair the screen drops. This measures
    // the UNSCREENED truth at each benched scale: over the exact
    // fuzzy-verify candidate set (threshold-8 hot-band cap + length
    // gate), every lev-PASSING pair's SimHash Hamming distance — and
    // requires the screen threshold to clear the maximum with ≥ 3 bits
    // of margin. A corpus shift that pushed true near-dups past the
    // screen fails HERE, not silently in a green compare.
    // SEEDED near-dup twins (VERDICT r14 item 5): the replica corpus
    // alone can yield ZERO lev-passing candidates at Kx — exact-dup
    // groups of K ≥ 9 are all hot-capped away — which made the margin
    // require vacuous. 64 deterministic twin pairs with PAIR-UNIQUE
    // vocabulary (their band buckets hold exactly the two twins, so the
    // cap never drops them) join the audit corpus at EVERY scale, and
    // the audit refuses a zero-sized passing set below.
    val seedRows = (0 until 64).flatMap { j =>
      val words = (0 until 30).map(i => s"sw${j}x$i")
      Seq((9000000000L + 2L * j, s"seed doc $j " + words.mkString(" ")),
        (9000000001L + 2L * j,
          s"seed doc $j " + words.dropRight(1).mkString(" ") + " swedited"))
    }
    val docsT = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .unionByName(spark.createDataFrame(seedRows).toDF("doc_id", "text"))
    val auditBands = graft.ops.TextOps.minhashBandTable(docsT)
    val hot8 = auditBands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("n")).filter(col("n") > 8)
      .select("band", "band_key")
    val cold8 = auditBands.join(broadcast(hot8), Seq("band", "band_key"), "left_anti")
    val sig = docsT.select(col("doc_id"),
      graft.ops.TextOps.simHash60Native(
        graft.ops.TextOps.tokens(col("text"))).as("sh"))
    val screenRow = selfPairs(cold8).toDF("d1", "d2").distinct()
      .join(docsT.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
      .join(docsT.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
      .withColumn("thr", expr("CAST(greatest(length(t1), length(t2)) div 5 AS INT)"))
      .filter(abs(length(col("t1")) - length(col("t2"))) <= col("thr"))
      .filter(graft.ops.TextOps.levenshteinBP(col("t1"), col("t2"), col("thr")) >= 0)
      .join(sig.select(col("doc_id").as("d1"), col("sh").as("s1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("sh").as("s2")), "d2")
      .agg(max(expr("bit_count(s1 ^ s2)")).as("max_ham"),
        count(lit(1)).as("n_passing")).head()
    val maxHam = if (screenRow.isNullAt(0)) 0 else screenRow.getInt(0)
    val nPassing = screenRow.getLong(1)
    val screenThr = queries.LlmQueries.FuzzyScreenHamming
    require(nPassing > 0,
      s"[$tag] SimHash screen audit measured an EMPTY lev-passing set — " +
        "the margin requirement would be vacuous; the seeded twins must survive")
    require(screenThr - maxHam >= 3,
      s"[$tag] SimHash screen margin too thin: max lev-passing Hamming " +
        s"$maxHam vs screen threshold $screenThr (need >= 3 bits of margin)")

    val times = Seq("dedup_minhash_capped", "dedup_sorted_neighborhood",
      "dedup_incremental_pairs", "dedup_minhash_pairs", "dedup_line_segments",
      "dedup_edit_prefilter", "dedup_fuzzy_verify",
      // r12: LM scoring and DSIR weights are vocabulary/bucket-model
      // shapes — the corpus shuffles once, the model never; timed here
      // so the tail has measured evidence they stay linear
      "lm_stupid_backoff", "sample_dsir_weights").map { q =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
      if (q == "dedup_sorted_neighborhood")
        require(n <= snBound, s"[$tag] sorted-neighborhood emitted $n > 2*n_docs=$snBound")
      if (q == "dedup_line_segments")
        // one output row per doc at ANY scale: the line-dedup pipeline has
        // no pairwise stage whose output could grow super-linearly
        require(n == nDocs, s"[$tag] line-segment dedup emitted $n rows != n_docs=$nDocs")
      if (q == "dedup_edit_prefilter")
        // hot-band cap (threshold 8, 8 bands): each doc sits in ≤ 8 cold
        // buckets of ≤ 8 members, so confirmed pairs ≤ n_docs·8·7/2 — the
        // LINEAR bound the r9 cap added after the uncapped version went
        // 156× on this exact duplicate-heavy replica
        require(n <= 28L * nDocs,
          s"[$tag] capped edit-prefilter emitted $n > 28*n_docs=${28L * nDocs}")
      if (q == "dedup_fuzzy_verify")
        // r10 (VERDICT r9 item 7): the verify twin inherited the same
        // threshold-8 hot-band cap after the uncapped candidate stage
        // measured 16× at 10× on this replica — candidates stay ≤
        // 28·n_docs, and the r12 edit-budget post-filter only shrinks
        // the emitted subset further
        require(n <= 28L * nDocs,
          s"[$tag] capped fuzzy-verify emitted $n > 28*n_docs=${28L * nDocs}")
      f""""$q":{"sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":$n}"""
    }.mkString(",")

    s"""{"scale":"$tag","n_docs":$nDocs,"candidates":{"uncapped":$uncapped,""" +
      s""""capped":$capped,"capped_bound":$cappedBound,"incremental":$incremental},""" +
      s""""screen":{"max_lev_passing_hamming":$maxHam,"n_lev_passing":$nPassing,""" +
      s""""threshold":$screenThr},"queries":{$times}}"""
  }

  private def selfPairs(b: DataFrame): DataFrame =
    b.as("x").join(b.as("y"),
      col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"))
}
