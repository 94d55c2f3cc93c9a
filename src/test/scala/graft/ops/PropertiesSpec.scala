package graft.ops

import graft.SparkSpec
import graft.ops.TxLog.WriteSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY.md §5): algebraic laws of the conformance
  * and dedup operators, and the SAS-epoch round trip. Uses scalacheck
  * generators sampled with fixed seeds (the scalatest↔scalacheck bridge
  * artifact is not in the offline cache); each law is checked over several
  * generated corpora covering duplicates, empties, and boundary days.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val rowsGen: Gen[List[(Int, String)]] =
    Gen.listOfN(25, Gen.zip(Gen.choose(0, 5), Gen.oneOf("a", "b", "c")))

  test("property: dropDuplicates is idempotent") {
    for (rows <- samples(rowsGen, 4) if rows.nonEmpty) {
      val once = rows.toDF("k", "v").dropDuplicates()
      assert(once.dropDuplicates().count() == once.count())
    }
  }

  test("property: union preserves total row count") {
    for (Seq(a, b) <- samples(rowsGen, 6).grouped(2).toSeq if a != null && b != null) {
      assert(a.toDF("k", "v").union(b.toDF("k", "v")).count() == a.length + b.length)
    }
  }

  test("property: conformTo is schema-idempotent and row-preserving") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    for (rows <- samples(rowsGen, 4) if rows.nonEmpty) {
      val out = Conform.conformTo(rows.toDF("k", "v"), schema)
      assert(out.schema == Conform.conformTo(out, schema).schema)
      assert(out.count() == rows.length)
    }
  }

  test("property: SAS epoch date round-trips for non-null days") {
    val days = samples(Gen.choose(0, 40000), 40).toList
    val back = days.toDF("days")
      .select(datediff(Cleaning.sasEpochDate(col("days")),
        lit(java.sql.Date.valueOf("1960-01-01"))).as("d"))
      .as[Int].collect().toList
    assert(back == days)
  }

  test("property: minhash signature is a pure function of the text") {
    for (n <- samples(Gen.chooseNum(3, 12), 5)) {
      val text = (1 to n).map(i => s"w$i").mkString(" ")
      val sigs = Seq(text, text).toDF("t")
        .select(TextOps.minHashSignature(TextOps.shingleHashes(col("t"), 3)).as("s"))
        .as[Seq[Long]].collect()
      assert(sigs(0) == sigs(1))
    }
  }
  test("property: levenshtein threshold rewrite matches the unrewritten predicate") {
    // the optimizer rule fires on the filter form; the projection form is
    // untouched and serves as the ground truth (ExtensionsSpec pins that
    // the rule actually fired on this session)
    val strGen = Gen.listOfN(12, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
    val pairs = samples(Gen.zip(strGen, strGen), 40)
    for (k <- Seq(0, 1, 3, 8)) {
      val df = pairs.toDF("t1", "t2")
      val viaFilter = df.filter(levenshtein(col("t1"), col("t2")) <= k).count()
      val truth = df.select(levenshtein(col("t1"), col("t2")).as("ed"))
        .collect().count(_.getInt(0) <= k)
      assert(viaFilter == truth, s"k=$k: filter=$viaFilter truth=$truth")
    }
  }

  test("property: striped skyline equals the naive dominance filter") {
    val ptGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 100L), Gen.choose(0L, 100L)))
    for (raw <- samples(ptGen, 4)) {
      val pts = raw.distinct
      val got = GeoOps.skyline2D(pts.toDF("x", "y"), "x", "y", stripeWidth = 16L)
        .as[(Long, Long)].collect().toSet
      val naive = pts.filter { case (px, py) =>
        !pts.exists { case (qx, qy) =>
          qx <= px && qy <= py && (qx < px || qy < py) }
      }.toSet
      assert(got == naive, s"skyline mismatch on ${pts.size} points")
    }
  }

  test("property: grid radius join equals the naive distance join") {
    val ptGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 60L)))
    for (Seq(a, b) <- samples(ptGen, 8).grouped(2).toSeq) {
      val l = a.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val r = b.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val got = GeoOps.radiusJoinGrid(l.toDF("lid", "x", "y"), "x", "y",
          r.toDF("rid", "rx", "ry"), "rx", "ry", 7L)
        .select("lid", "rid").as[(Long, Long)].collect()
      val naive = for {
        (li, lxx, lyy) <- l; (ri, rxx, ryy) <- r
        if (lxx - rxx) * (lxx - rxx) + (lyy - ryy) * (lyy - ryy) <= 49
      } yield (li, ri)
      // exactly-once per qualifying pair: sets AND multiplicities agree
      assert(got.sorted.toSeq == naive.sorted)
    }
  }

  test("property: weighted median satisfies its defining inequality") {
    val rowGen = Gen.listOfN(40,
      Gen.zip(Gen.oneOf("g1", "g2"), Gen.choose(1L, 20L), Gen.choose(1L, 9L)))
    for (rs <- samples(rowGen, 4) if rs.nonEmpty) {
      val byValue = rs.toDF("g", "v", "w").groupBy("g", "v")
        .agg(sum("w").as("w"))
      val got = StatsOps.weightedMedian(byValue, "g", "v", "w")
        .select("g", "wmedian").as[(String, Long)].collect().toMap
      val naive = rs.groupBy(_._1).map { case (g, rows) =>
        val total = rows.map(_._3).sum
        val sorted = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
          .toSeq.sortBy(_._1)
        val m = sorted.scanLeft((0L, 0L)) { case ((_, acc), (v, w)) =>
          (v, acc + w) }.drop(1).find { case (_, cw) => cw * 2 >= total }.get._1
        g -> m
      }
      assert(got == naive)
    }
  }

  test("property: rank-engine exact percentiles are bit-identical to the built-in") {
    // heavy ties on purpose (15 values over 60 rows): the rank engine's
    // tie assignment is arbitrary, but the value AT a rank is not — the
    // law is exact double equality with Spark's buffering `percentile`,
    // whose interpolation arithmetic the engine replicates
    val rowGen = Gen.listOfN(60,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(1L, 15L)))
    for (rs <- samples(rowGen, 4) if rs.nonEmpty) {
      val df = rs.toDF("g", "v")
      val got = StatsOps.groupedExactPercentiles(df, "g", "v",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p99" -> 0.99))
        .as[(String, Double, Double, Double)].collect()
        .map(t => t._1 -> (t._2, t._3, t._4)).toMap
      val want = df.groupBy("g")
        .agg(expr("percentile(v, 0.25)"), expr("percentile(v, 0.5)"),
          expr("percentile(v, 0.99)"))
        .as[(String, Double, Double, Double)].collect()
        .map(t => t._1 -> (t._2, t._3, t._4)).toMap
      assert(got == want, s"engine disagrees with built-in on $rs")
    }
    // single-row groups hit the higher==lower early return
    val one = Seq(("solo", 7L)).toDF("g", "v")
    assert(StatsOps.groupedExactPercentiles(one, "g", "v", Seq("p50" -> 0.5))
      .as[(String, Double)].head() === ("solo", 7.0))
    // one partition: 9000 rows over 150 (g, v) pairs combine into weighted
    // rows, then 21000 distinct values overflow the combine table and pass
    // through with weight 1 — boundary ranks fall on both kinds
    val mixed = spark.range(0, 30000, 1, 1)
      .selectExpr("CAST(id % 3 AS STRING) AS g", "IF(id < 9000, id % 50, id) AS v")
    val fs = Seq("p01" -> 0.01, "p25" -> 0.25, "p50" -> 0.5, "p99" -> 0.99)
    assert(StatsOps.groupedExactPercentiles(mixed, "g", "v", fs).collect().toSet ===
      mixed.groupBy("g").agg(expr("percentile(v, 0.01)"), expr("percentile(v, 0.25)"),
        expr("percentile(v, 0.5)"), expr("percentile(v, 0.99)")).collect().toSet)
  }

  test("high-card percentile engine is bit-identical to the built-in; router routes") {
    // both engines against the built-in on the same multiset — ties and
    // single-element groups included
    val df = spark.range(600)
      .selectExpr("CAST(id % 7 AS STRING) AS g", "(id * 37) % 19 AS v")
    val hc = StatsOps.groupedExactPercentilesHighCard(df, "g", "v",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p99" -> 0.99))
      .as[(String, Double, Double, Double)].collect().toSet
    val want = df.groupBy("g")
      .agg(expr("percentile(v, 0.25)"), expr("percentile(v, 0.5)"),
        expr("percentile(v, 0.99)"))
      .as[(String, Double, Double, Double)].collect().toSet
    assert(hc === want, "high-card engine must match the built-in bit-for-bit")
    // a key past MaxScanGroups now ROUTES to the distributed engine
    // instead of rejecting (VERDICT r11): >100k groups, zero driver state
    val wide = spark.range(120000L)
      .selectExpr("id AS g", "id % 5 AS v")
    val routed = StatsOps.groupedExactPercentiles(wide, "g", "v",
      Seq("p50" -> 0.5))
    assert(routed.count() === 120000L)
    assert(routed.filter(col("g") === 3L).as[(Long, Double)].head()._2 === 3.0)
    // null group keys aggregate like the built-in (no NPE — ADVICE r11)
    val withNull = Seq((Some("a"), 1L), (None, 2L), (None, 4L))
      .toDF("g", "v")
    val nulled = StatsOps.groupedExactPercentiles(withNull, "g", "v",
        Seq("p50" -> 0.5))
      .as[(Option[String], Double)].collect().toMap
    assert(nulled === Map(Some("a") -> 1.0, None -> 3.0))
  }

  test("groupedRowNumberWithCount appends exactly count(*) over (partition by g)") {
    // r17: the WithCount variant feeds ntile/decile arithmetic — its n
    // column must equal the window count for every row, and rn must be
    // identical to the plain engine's
    val df = spark.range(500)
      .selectExpr("CAST(id % 5 AS STRING) AS g", "(id * 53) % 101 AS v", "id")
    val got = StatsOps.groupedRowNumberWithCount(df, "g", Seq("v", "id"), "rn", "n")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val want = df
      .withColumn("rn", row_number().over(w.orderBy("v", "id")).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === want, "WithCount must match the window spelling row-for-row")
  }

  test("rank engine results do not depend on the shuffle partition count") {
    // the engine range-partitions into the session's shuffle partitions;
    // ranks, running sums, Spearman sums and percentiles must not move
    val df = spark.range(500)
      .selectExpr("CAST(id % 5 AS STRING) AS g", "(id * 53) % 101 AS v", "id")
    def results(n: Int) = withShufflePartitions(n) {
      val ranked = StatsOps.groupedRowNumberWithCount(df, "g", Seq("v", "id"), "rn", "nn")
      assert(ranked.rdd.getNumPartitions == n, s"layout must follow the session ($n)")
      Seq(ranked.collect().toSet,
        StatsOps.groupedRunningSum(df, "g", Seq("v", "id"), "v", "cum").collect().toSet,
        StatsOps.spearmanAgg(ranked, "g", Seq("id"), "rn", ("n", "sd2", "rho"))
          .collect().toSeq,
        StatsOps.groupedExactPercentiles(df, "g", "v",
          Seq("p10" -> 0.1, "p50" -> 0.5, "p95" -> 0.95)).collect().toSeq)
    }
    val one = results(1)
    assert(one.forall(_.nonEmpty))
    Seq(3, 7).foreach(n => assert(results(n) == one, s"results moved at $n partitions"))
  }

  test("groupedScan rejects high-cardinality group keys loudly") {
    // the engine's driver offset table is partitions × |groups|; a key
    // with > MaxScanGroups distinct values must fail with the contract
    // message, not OOM the driver (VERDICT r10)
    val wide = spark.range(StatsOps.MaxScanGroups * 2L)
      .selectExpr("id AS g", "id AS v")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    Seq[() => Any](
      () => StatsOps.groupedRowNumber(wide, "g", Seq("v"), "rn").count(),
      () => StatsOps.spearmanAgg(wide.withColumn("rq", col("v")), "g", Seq("v"), "rq",
        ("n", "sd2", "rho"))
    ).foreach { call =>
      val e = intercept[Exception](call())
      assert(messages(e).exists(m => m != null && m.contains("distinct")),
        s"want the cardinality-contract message, got: ${e.getMessage}")
    }
  }

  test("property: z-order key is a bijection that preserves per-dimension order") {
    val dimGen = Gen.choose(0L, 65535L)
    val pts = samples(Gen.zip(dimGen, dimGen), 60).distinct
    val keys = pts.toDF("x", "y").select(ZOrder.zkey(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // bijective on distinct inputs
    assert(keys.distinct.size == pts.size)
    // fixing one dimension, the key is monotone in the other
    val x0 = pts.head._1
    val fixed = samples(dimGen, 20).distinct.sorted
    val zs = fixed.map(y => (y, x0)).toDF("y", "x")
      .select(ZOrder.zkey(col("x"), col("y")).as("z")).as[Long].collect().toSeq
    assert(zs == zs.sorted, "zkey not monotone in y with x fixed")
  }

  test("property: a pruned scan never drops a matching row") {
    import TxLog.Prune
    // string values include a PUA char and an emoji: the emoji sorts
    // above U+E000 in UTF-8 order but below it in Java's UTF-16 order
    val names = Seq("apple", "kiwi", "zebra", "\u00e9clair", "\uE000pua", "\uD83D\uDE00smile")
    val rowGen = Gen.zip(Gen.choose(0L, 40L), Gen.oneOf(names),
      Gen.oneOf("a", "b"), Gen.oneOf("x", "y", "z"))
    val segRows = samples(Gen.listOfN(10, rowGen), 5)
    val bounds = names ++ Seq("", "b", "\uE000", "\uFFFF")
    val strGen = Gen.zip(Gen.option(Gen.oneOf(bounds)), Gen.option(Gen.oneOf(bounds)))
    val longGen = Gen.zip(Gen.choose(-5L, 45L), Gen.choose(0L, 20L))
      .map { case (lo, w) => (lo, lo + w) }
    def filterOf(p: Prune): org.apache.spark.sql.Column =
      (p.parts.flatMap { case (c, vs) => vs.map(v => col(c).isin(v.toSeq: _*)) } ++
        p.longBounds.map { case (c, lo, hi) => col(c).between(lo, hi) } ++
        p.strBounds.flatMap { case (c, lo, hi) =>
          lo.map(col(c) >= _).toSeq ++ hi.map(col(c) <= _) } ++
        p.bloomKey.map { case (c, k) => col(c) === k.fold(lit(_), lit(_)) })
        .foldLeft(lit(true))(_ && _)
    // returns whether the scan skipped a segment, so a fixture whose
    // predicates never prune cannot pass vacuously
    def check(t: String, all: org.apache.spark.sql.DataFrame, p: Prune): Boolean = {
      val sc = TxLog.scan(spark, t, p)
      assert(sc.scanned <= sc.total, s"$p: ${sc.scanned}/${sc.total}")
      val cols = all.columns.map(col).toSeq
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.filter(filterOf(p)).select(cols: _*).collect().map(_.toString).sorted.toSeq
      assert(rowsOf(sc.orEmpty) == rowsOf(all), s"$p dropped matching rows")
      sc.scanned < sc.total
    }

    // two-level p/q layout with per-leaf long (k) and string (name) stats;
    // the written rows are the reference (a snapshot carries no
    // partition columns)
    val part = java.nio.file.Files.createTempDirectory("prop-scan-part-").resolve("t").toString
    // two loads: each leaf gets two segments with their own stats
    Seq(segRows.take(2), segRows.drop(2)).foreach(r => TxLog.write(
      r.flatten.toDF("k", "name", "p", "q"), part,
      WriteSpec(partitionBy = Seq("p", "q"), statsCols = Seq("k", "name"))))
    val written = segRows.flatten.toDF("k", "name", "p", "q")
    val partSet = Gen.option(Gen.someOf("a", "b", "x", "y", "z").map(_.toSet))
    val partPrunes = samples(Gen.zip(partSet, partSet, Gen.option(longGen),
        Gen.option(strGen)), 8).map { case (ps, qs, lb, sb) =>
      Prune(Seq("p" -> ps, "q" -> qs), lb.map { case (lo, hi) => ("k", lo, hi) }.toSeq,
        sb.map { case (lo, hi) => ("name", lo, hi) }.toSeq)
    }
    assert(partPrunes.map(check(part, written, _)).contains(true))

    // unpartitioned: long-key and string-key Bloom segments, a two-column
    // stats segment and a stat-less one; the snapshot is the reference
    val flat = java.nio.file.Files.createTempDirectory("prop-scan-flat-").resolve("t").toString
    val segs = segRows.map(_.map { case (k, n, _, _) => (k, n) }.toDF("k", "name"))
    TxLog.write(segs(0), flat, WriteSpec(bloomCol = Some("k")))
    TxLog.write(segs(1), flat, WriteSpec(bloomCol = Some("k")))
    TxLog.write(segs(2), flat, WriteSpec(bloomCol = Some("name")))
    TxLog.write(segs(3), flat, WriteSpec(statsCols = Seq("k", "name")))
    TxLog.append(segs(4), flat)
    // two cases of each shape, keys drawn mostly from the rows present
    val keys = Gen.oneOf(segRows.take(2).flatten.map(_._1) ++ Seq(41L, 45L))
    val flatPrunes = Seq(
      keys.map(Prune.point("k", _)),
      Gen.oneOf(names :+ "absent").map(Prune.point("name", _)),
      // a key of the other type: Spark casts it for the row comparison,
      // and the scan must not probe a Bloom filter hashed for the column's
      keys.map(k => Prune.point("k", k.toString)),
      Gen.zip(longGen, strGen).map { case ((lo, hi), (slo, shi)) =>
        Prune(longBounds = Seq(("k", lo, hi)), strBounds = Seq(("name", slo, shi)))
      }).flatMap(samples(_, 2))
    val snap = TxLog.snapshot(spark, flat).cache()
    try assert(flatPrunes.map(check(flat, snap, _)).contains(true))
    finally snap.unpersist()
  }
}
