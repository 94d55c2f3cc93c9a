package graft.ops

import graft.SparkSpec
import graft.ops.TxLog.{Mark, ReplacePartition, WriteSpec}

import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

import java.nio.file.{Files, Paths}
import java.util.ConcurrentModificationException

/** Transaction-protocol guarantees of [[TxLog]]: atomic publish (a crash
  * before the manifest move leaves nothing visible), optimistic-CAS
  * conflict detection between concurrent writers, snapshot isolation for
  * readers, append auto-retry, time travel, and vacuum's horizon.
  */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("txlog-spec-").resolve("t").toString

  private def rows(xs: (Long, Long)*) =
    xs.toSeq.toDF("k", "v")

  import TxLog.Prune

  /** A strict pruned scan as (relation, scanned, total): a predicate that
    * prunes every segment refuses with IllegalArgumentException.
    */
  private def strictScan(t: String, p: Prune, asOf: Option[Long] = None)
      : (org.apache.spark.sql.DataFrame, Int, Int) = {
    val sc = TxLog.scan(spark, t, p, asOf)
    (sc.required, sc.scanned, sc.total)
  }

  private def longRange(c: String, lo: Long, hi: Long): Prune =
    Prune(longBounds = Seq((c, lo, hi)))

  /** `body` evaluated with the table's checkpoint files moved aside, so
    * every read replays the manifests alone — the fold a checkpoint must
    * reproduce.
    */
  private def withoutCheckpoints[T](t: String)(body: => T): T = {
    val log = Paths.get(t, "_txlog")
    val aside = Files.createTempDirectory("txlog-ckpt-aside-")
    val names = TxLog.checkpointVersions(t).map(v => f"$v%020d.checkpoint.json")
    names.foreach(n => Files.move(log.resolve(n), aside.resolve(n)))
    try body finally names.foreach(n => Files.move(aside.resolve(n), log.resolve(n)))
  }

  test("crash before publish: staged segments are invisible to readers") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)
    val before = TxLog.snapshot(spark, t).as[(Long, Long)].collect().sortBy(_._1)
    // a writer that stages data and dies before commit…
    val orphan = TxLog.stage(rows(99L -> 999L), t)
    assert(Files.exists(Paths.get(orphan)), "staged bytes exist on disk")
    // …changes nothing a reader can see: same version, same rows
    assert(TxLog.currentVersion(t) === 1L)
    val after = TxLog.snapshot(spark, t).as[(Long, Long)].collect().sortBy(_._1)
    assert(after.toSeq === before.toSeq)
    // vacuum collects the orphan without touching committed data
    val collected = TxLog.vacuum(t, keepVersionsFrom = 1L, minAgeMillis = 0L)
    assert(collected.contains(orphan) && !Files.exists(Paths.get(orphan)))
    assert(TxLog.snapshot(spark, t).count() === 2L)
  }

  test("two-writer conflict: concurrent overwrite aborts the stale writer") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)
    // both writers read version 1
    val rv = TxLog.currentVersion(t)
    val liveAtRv = TxLog.liveFiles(t, Some(rv))
    // writer A rewrites and publishes first
    val aSeg = TxLog.stage(rows(1L -> 11L, 2L -> 21L), t)
    assert(TxLog.commit(t, "overwrite", Seq(aSeg), liveAtRv, rv) === 2L)
    // writer B, still based on version 1, must NOT silently clobber A
    val bSeg = TxLog.stage(rows(1L -> 12L, 2L -> 22L), t)
    intercept[ConcurrentModificationException] {
      TxLog.commit(t, "overwrite", Seq(bSeg), liveAtRv, rv)
    }
    // A's update survives — no lost update
    val head = TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
    assert(head === Map(1L -> 11L, 2L -> 21L))
    assert(TxLog.currentVersion(t) === 2L)
  }

  test("append auto-retries past a concurrent head and loses nothing") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    // commit with a STALE readVersion (pretend another writer landed v1
    // after we read v0): a blind append conflicts with nothing, so the
    // CAS loop must land it at the next free version
    val seg = TxLog.stage(rows(2L -> 20L), t)
    val v = TxLog.commit(t, "append", Seq(seg), Seq.empty, readVersion = 0L)
    assert(v === 2L)
    assert(TxLog.snapshot(spark, t).count() === 2L)
  }

  test("snapshot isolation: a resolved reader survives a later overwrite") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)
    val reader = TxLog.snapshot(spark, t) // resolves its segment list NOW
    TxLog.overwrite(rows(1L -> 99L), t)   // head moves under the reader
    // the old reader still sees its own consistent snapshot…
    assert(reader.as[(Long, Long)].collect().toMap === Map(1L -> 10L, 2L -> 20L))
    // …while a new reader sees the head
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap === Map(1L -> 99L))
  }

  test("time travel reads any committed version; vacuum enforces its horizon") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)            // v1
    TxLog.append(rows(2L -> 20L), t)            // v2
    TxLog.overwrite(rows(1L -> 11L, 2L -> 21L), t) // v3
    assert(TxLog.snapshot(spark, t, Some(1L)).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L))
    assert(TxLog.snapshot(spark, t, Some(2L)).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L))
    assert(TxLog.snapshot(spark, t, Some(3L)).as[(Long, Long)].collect().toMap
      === Map(1L -> 11L, 2L -> 21L))
    // vacuum to the head: v1/v2-only segments are collected, head intact
    TxLog.vacuum(t, keepVersionsFrom = 3L, minAgeMillis = 0L)
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 11L, 2L -> 21L))
    intercept[Exception] { TxLog.snapshot(spark, t, Some(2L)).collect() }
  }

  test("merge is one atomic commit; a concurrent merge aborts, no lost update") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), t)
    // matched key updates, new key inserts, untouched key survives
    TxLog.merge(spark, rows(2L -> 99L, 4L -> 40L), t, "k")
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 99L, 3L -> 30L, 4L -> 40L))
    assert(TxLog.currentVersion(t) === 2L)
    // a writer that read version 1 and merges after v2 landed must abort —
    // its rewrite would silently drop the first merge's rows
    val live1 = TxLog.liveFiles(t, Some(1L))
    val seg = TxLog.stage(rows(1L -> 11L), t)
    intercept[ConcurrentModificationException] {
      TxLog.commit(t, "merge", Seq(seg), live1, 1L)
    }
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      .get(2L).contains(99L), "first merge survives the aborted race")
  }

  test("compaction rewrites layout, not content, and never breaks a live reader") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    TxLog.append(rows(2L -> 20L), t)
    assert(TxLog.liveFiles(t, None).size === 2)
    val reader = TxLog.snapshot(spark, t) // resolves the 2-segment list
    val v = TxLog.compact(spark, t)
    assert(v === 3L && TxLog.liveFiles(t, None).size === 1)
    // same rows through the compacted head…
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L))
    // …and the pre-compaction reader still scans its old segments
    assert(reader.as[(Long, Long)].collect().toMap === Map(1L -> 10L, 2L -> 20L))
  }

  test("streaming append is exactly-once across batch replays") {
    val t = freshTable()
    assert(TxLog.write(rows(1L -> 10L), t, WriteSpec(mark = Some(Mark.batch(0L)))) === 1L)
    // a restart replays the unacknowledged batch — the commit must SKIP
    assert(TxLog.write(rows(1L -> 10L), t, WriteSpec(mark = Some(Mark.batch(0L)))) === -1L)
    assert(TxLog.write(rows(2L -> 20L), t, WriteSpec(mark = Some(Mark.batch(1L)))) === 2L)
    assert(TxLog.maxCommittedBatch(t) === 1L)
    assert(TxLog.snapshot(spark, t).count() === 2L, "no duplicate rows from the replay")
    // the skipped replay staged nothing a reader can see; vacuum stays clean
    assert(TxLog.currentVersion(t) === 2L)
  }

  test("manifest stats prune segments; stat-less segments are kept conservatively") {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L, 5L -> 50L), t, WriteSpec(statsCols = Seq("k")))    // k in [1,5]
    TxLog.write(rows(10L -> 100L, 15L -> 150L), t, WriteSpec(statsCols = Seq("k"))) // k in [10,15]
    TxLog.write(rows(20L -> 200L), t, WriteSpec(statsCols = Seq("k")))              // k in [20,20]
    // a range inside the middle segment reads exactly ONE of three
    val (df, scanned, total) = strictScan(t, longRange("k", 9L, 16L))
    assert((scanned, total) === (1, 3))
    assert(df.as[(Long, Long)].collect().toMap === Map(10L -> 100L, 15L -> 150L))
    // a stats-less commit can never be pruned — correctness over skipping
    TxLog.append(rows(99L -> 999L), t)
    val (df2, scanned2, total2) = strictScan(t, longRange("k", 9L, 16L))
    assert((scanned2, total2) === (2, 4), "unknown-range segment must be scanned")
    assert(df2.count() === 3L)
    // a predicate that would prune EVERYTHING refuses instead of
    // returning a schemaless empty relation
    intercept[IllegalArgumentException] {
      strictScan(freshTableWithOneStatSeg(), longRange("k", 1000L, 2000L))
    }
  }

  private def freshTableWithOneStatSeg(): String = {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L), t, WriteSpec(statsCols = Seq("k")))
    t
  }

  test("bloom stats prune point lookups across interleaved key ranges") {
    val t = freshTable()
    // modulus split: every segment's [min,max] covers the key space
    TxLog.write(rows(1L -> 10L, 3L -> 30L, 5L -> 50L), t, WriteSpec(bloomCol = Some("k")))  // odd
    TxLog.write(rows(2L -> 20L, 4L -> 40L, 6L -> 60L), t, WriteSpec(bloomCol = Some("k")))  // even
    val (df, scanned, total) = strictScan(t, Prune.point("k", 4L))
    assert(total === 2)
    assert(scanned === 1, "bloom must prove 4 absent from the odd segment")
    assert(df.filter(col("k") === 4L).as[(Long, Long)].collect().toSeq === Seq((4L, 40L)))
    // a key in NO segment prunes everything → loud refusal, not empty scan
    intercept[IllegalArgumentException] {
      strictScan(t, Prune.point("k", 999L))
    }
    // stat-less segments are always scanned
    TxLog.append(rows(7L -> 70L), t)
    val (_, scanned2, total2) = strictScan(t, Prune.point("k", 4L))
    assert((scanned2, total2) === (2, 3))
  }

  test("compaction keeps Bloom filters and histograms: compact, compactSmall, auto-compact") {
    // both segments span 1..20, so only a Bloom filter proves 5 absent
    def bloomTable(props: Map[String, String] = Map.empty): String = {
      val t = freshTable()
      // the declared stats column records k's histogram beside its bloom
      TxLog.setProperties(t, props + ("graft.statsColumns" -> "k"))
      val spec = WriteSpec(bloomCol = Some("k"))
      TxLog.write(rows(1L -> 10L, 20L -> 200L), t, spec)
      TxLog.write(rows(2L -> 20L, 19L -> 190L), t, spec)
      t
    }
    def lookups(t: String, segments: Int): Unit = {
      val (df, scanned, total) = strictScan(t, Prune.point("k", 19L))
      assert((scanned, total) === (1, segments))
      assert(df.filter(col("k") === 19L).as[(Long, Long)].collect().toSeq === Seq((19L, 190L)))
      intercept[IllegalArgumentException](strictScan(t, Prune.point("k", 5L)))
      assert(TxLog.estimatedRangeRows(t, "k", 0L, 99L).exists(e => math.abs(e - 4.0) < 1e-9))
    }
    val c = bloomTable()
    lookups(c, 2)
    TxLog.compact(spark, c)
    lookups(c, 1)
    val s = bloomTable()
    TxLog.compactSmall(spark, s, Long.MaxValue, minNumFiles = 2L)
    lookups(s, 1)
    // the second append compacts the two small segments on its own
    val a = bloomTable(Map("graft.autoCompact.enabled" -> "true",
      "graft.autoCompact.minNumFiles" -> "2"))
    assert(TxLog.readManifest(a, TxLog.currentVersion(a)).op === "optimize")
    lookups(a, 1)
  }

  test("clustered compaction makes an unprunable layout prunable, atomically") {
    val t = freshTable()
    // modulus layout: both segments span keys 1..6 — range stats prune nothing
    TxLog.write(rows(1L -> 10L, 3L -> 30L, 5L -> 50L), t, WriteSpec(statsCols = Seq("k")))
    TxLog.write(rows(2L -> 20L, 4L -> 40L, 6L -> 60L), t, WriteSpec(statsCols = Seq("k")))
    val (_, s0, t0) = strictScan(t, longRange("k", 1L, 3L))
    assert((s0, t0) === (2, 2), "interleaved ranges: nothing prunable")
    val v = TxLog.compactClustered(spark, t, "k", 2)
    assert(v === 3L)
    // same read now prunes; content identical
    val (df, s1, t1) = strictScan(t, longRange("k", 1L, 3L))
    assert(t1 === 2 && s1 === 1, s"clustered layout must prune: scanned $s1/$t1")
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L, 5L -> 50L, 6L -> 60L))
    assert(df.filter(col("k") <= 3L).count() === 3L)
  }

  test("bloom lookups are type-canonical: an INT key column still finds its rows") {
    // ADVICE r9: xxhash64 is type-dependent — writer hashing a raw
    // IntegerType column vs reader hashing a LongType literal produced
    // bloom false NEGATIVES (rows silently missing). Both sides now hash
    // cast("long"); an int-keyed table must keep its segments findable.
    val t = freshTable()
    val intRows = Seq((1, 10L), (3, 30L)).toDF("k", "v") // k is IntegerType
    TxLog.write(intRows, t, WriteSpec(bloomCol = Some("k")))
    TxLog.write(Seq((2, 20L), (4, 40L)).toDF("k", "v"), t, WriteSpec(bloomCol = Some("k")))
    val (df, scanned, total) = strictScan(t, Prune.point("k", 3L))
    assert(total === 2 && scanned === 1, "even segment bloom-pruned, odd kept")
    assert(df.filter(col("k") === 3).count() === 1L,
      "the segment containing the key must NOT be bloom-pruned")
  }

  test("clustered compaction keeps null and negative cluster keys (residual segment)") {
    val t = freshTable()
    // null, negative, and bucketable keys in one table
    val mixed = Seq[(java.lang.Long, Long)]((null, 1L), (-5L, 2L), (1L, 10L),
      (6L, 60L)).toDF("k", "v")
    TxLog.append(mixed, t)
    val v = TxLog.compactClustered(spark, t, "k", 2)
    assert(v === 2L)
    val out = TxLog.snapshot(spark, t)
    assert(out.count() === 4L, "optimize must never drop rows")
    assert(out.filter(col("k").isNull).count() === 1L)
    assert(out.filter(col("k") === -5L).count() === 1L)
    // all-null cluster column: no NPE, content intact
    val t2 = freshTable()
    TxLog.append(Seq[(java.lang.Long, Long)]((null, 1L), (null, 2L)).toDF("k", "v"), t2)
    TxLog.compactClustered(spark, t2, "k", 2)
    assert(TxLog.snapshot(spark, t2).count() === 2L)
  }

  test("zombie drivers replaying one batch commit it exactly once") {
    // ADVICE r9: a check-then-act guard lets two writers both pass the
    // already-committed check and blind-append the same batch twice. The
    // check now re-runs inside the commit CAS loop; hammer it with
    // concurrent replays of the SAME batch id.
    val t = freshTable()
    TxLog.write(rows(0L -> 0L), t, WriteSpec(mark = Some(Mark.batch(0L))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = TxLog.write(rows(1L -> i.toLong), t,
            WriteSpec(mark = Some(Mark.batch(1L))))
        })
      }.map(_.get())
      assert(results.count(_ > 0) === 1,
        s"batch 1 must commit exactly once, got $results")
    } finally pool.shutdown()
    assert(TxLog.snapshot(spark, t).filter(col("k") === 1L).count() === 1L,
      "the replayed batch's rows appear exactly once")
    assert(TxLog.maxCommittedBatch(t) === 1L)
  }

  test("racing property commits all land; racing same-name constraint drops land once") {
    // setProperties has no CAS (a property write validates nothing
    // against the snapshot): 8 concurrent writers must ALL commit, and
    // the folded map resolves last-write-wins by version order.
    val t = freshTable()
    TxLog.append(rows(1L -> 1L), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            TxLog.setProperties(t, Map("writer" -> i.toString, s"k$i" -> "1"))
        })
      }.foreach(f => assert(f.get() > 0L))
      assert(TxLog.currentVersion(t) === 9L)
      val props = TxLog.tableProperties(t)
      assert((1 to 8).forall(i => props.get(s"k$i").contains("1")))
      // the winner of "writer" is whichever committed LAST by version
      val lastWriter = (2L to 9L).flatMap(v =>
        TxLog.readManifest(t, v).props.get("writer")).last
      assert(props.get("writer").contains(lastWriter))
      // racing DROP CONSTRAINT of one name: exactly one lands (the drop
      // CAS-guards the head its existence check read)
      TxLog.addConstraint(spark, t, "v_pos", "v >= 0")
      val outcomes = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            try { TxLog.dropConstraint(t, "v_pos"); true }
            catch { case _: Exception => false }
        })
      }.map(_.get())
      assert(outcomes.count(identity) === 1, s"got $outcomes")
      assert(TxLog.activeConstraints(t).isEmpty)
    } finally pool.shutdown()
  }

  test("idempotent txn: replays skip, apps are independent, zombie race lands once") {
    val t = freshTable()
    assert(TxLog.write(rows(1L -> 10L), t, WriteSpec(mark = Some(Mark.txn("etl", 1L)))) > 0)
    // a replay of the SAME (appId, version) skips; stale versions skip too
    assert(TxLog.write(rows(1L -> 99L), t, WriteSpec(mark = Some(Mark.txn("etl", 1L)))) === -1L)
    assert(TxLog.write(rows(1L -> 99L), t, WriteSpec(mark = Some(Mark.txn("etl", 0L)))) === -1L)
    // a different app has its own version line
    assert(TxLog.write(rows(2L -> 20L), t, WriteSpec(mark = Some(Mark.txn("backfill", 1L)))) > 0)
    assert(TxLog.lastTxnVersion(t, "etl") === 1L)
    assert(TxLog.lastTxnVersion(t, "backfill") === 1L)
    assert(TxLog.lastTxnVersion(t, "nobody") === -1L)
    // zombie storm: 8 drivers replaying etl v2 — exactly one commits
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = TxLog.write(rows(3L -> i.toLong), t,
            WriteSpec(mark = Some(Mark.txn("etl", 2L))))
        })
      }.map(_.get())
      assert(results.count(_ > 0) === 1, s"txn v2 must commit exactly once, got $results")
    } finally pool.shutdown()
    assert(TxLog.snapshot(spark, t).filter(col("k") === 3L).count() === 1L)
    intercept[IllegalArgumentException] {
      TxLog.write(rows(9L -> 9L), t, WriteSpec(mark = Some(Mark.txn("bad:app", 1L))))
    }
  }

  test("vacuum retention: young unreferenced dirs survive (a staging writer is not garbage)") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    // a live writer mid-commit: staged, manifest not yet published
    val staging = TxLog.stage(rows(2L -> 20L), t)
    // default retention window: the seconds-old dir is NOT collected
    val collected = TxLog.vacuum(t, keepVersionsFrom = 1L)
    assert(!collected.contains(staging) && Files.exists(Paths.get(staging)),
      "a freshly staged segment inside the retention window must survive vacuum")
    // the writer can still publish correctly afterwards
    TxLog.commit(t, "append", Seq(staging), Seq.empty, TxLog.currentVersion(t))
    assert(TxLog.snapshot(spark, t).count() === 2L)
  }

  test("merge rejects duplicate-keyed updates instead of duplicating the key") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, rows(1L -> 11L, 1L -> 12L), t, "k")
    }
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L), "rejected merge must not touch the table")
  }

  test("manifests survive table paths needing JSON escaping") {
    // a quote in the path must round-trip through the manifest JSON
    // (backslash paths additionally break Hadoop's glob layer — that is a
    // filesystem-API limitation, not a manifest one, so not tested here)
    val base = Files.createTempDirectory("txlog-esc-")
    val t = base.resolve("we\"ird path").toString
    TxLog.append(rows(1L -> 10L), t)
    TxLog.append(rows(2L -> 20L), t)
    TxLog.overwrite(rows(3L -> 30L), t) // removes carry the quoted paths
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(3L -> 30L))
  }

  test("schema evolution: old segments read under the new schema, null-filled") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t) // v1: (k, v)
    val evolved = StructType(TxLog.snapshot(spark, t).schema.fields :+
      StructField("w", LongType, nullable = true))
    assert(TxLog.evolve(t, evolved) === 2L)
    // write under the new schema
    TxLog.append(Seq((2L, 20L, 200L)).toDF("k", "v", "w"), t) // v3
    val head = TxLog.snapshot(spark, t)
    assert(head.schema.fieldNames.toSeq === Seq("k", "v", "w"))
    val byK = head.as[(Long, Long, Option[Long])].collect().map(r => r._1 -> r._3).toMap
    assert(byK === Map(1L -> None, 2L -> Some(200L)),
      "pre-evolve rows null-fill the added column")
    // time travel BEFORE the evolve sees the historical 2-column shape
    assert(TxLog.snapshot(spark, t, Some(1L)).schema.fieldNames.toSeq === Seq("k", "v"))
    // a writer omitting the new column still works (reads back null)
    TxLog.append(rows(3L -> 30L), t)
    assert(TxLog.snapshot(spark, t).filter(col("k") === 3L)
      .select("w").head().isNullAt(0))
  }

  test("schema evolution rejects incompatible changes and bad writes") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    val base = TxLog.snapshot(spark, t).schema
    // type change
    intercept[IllegalArgumentException] {
      TxLog.evolve(t, StructType(Seq(StructField("k", IntegerType),
        StructField("v", LongType))))
    }
    // column drop
    intercept[IllegalArgumentException] {
      TxLog.evolve(t, StructType(Seq(StructField("k", LongType))))
    }
    // non-nullable add
    intercept[IllegalArgumentException] {
      TxLog.evolve(t, StructType(base.fields :+
        StructField("w", LongType, nullable = false)))
    }
    // a legal evolve, then write-side enforcement
    TxLog.evolve(t, StructType(base.fields :+
      StructField("w", LongType, nullable = true)))
    intercept[IllegalArgumentException] { // unknown column
      TxLog.append(Seq((9L, 9L, "x")).toDF("k", "v", "zzz"), t)
    }
    intercept[IllegalArgumentException] { // wrong type for a known column
      TxLog.append(Seq(("a", 1L)).toDF("k", "v"), t)
    }
    // evolve CAS: an evolve based on a stale head aborts
    val stale = TxLog.currentVersion(t)
    TxLog.append(rows(2L -> 20L), t) // head moves
    // (evolve re-reads the head itself, so simulate via direct commit path:
    // a second evolve after the head moved still works because it reads
    // the current head — the CAS property is that the manifest it
    // validates against is the one it commits against)
    assert(stale < TxLog.currentVersion(t))
  }

  test("merge works across an evolve (updates carry the new column)") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)
    TxLog.evolve(t, StructType(TxLog.snapshot(spark, t).schema.fields :+
      StructField("w", LongType, nullable = true)))
    TxLog.merge(spark, Seq((2L, 99L, 999L), (3L, 30L, 300L)).toDF("k", "v", "w"), t, "k")
    val out = TxLog.snapshot(spark, t).as[(Long, Long, Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map(1L -> ((10L, None)), 2L -> ((99L, Some(999L))),
      3L -> ((30L, Some(300L)))))
  }

  test("a pinned (corpus, index) version pair survives a concurrent index rebuild") {
    // the ann_index_versioned contract: a search resolves BOTH its corpus
    // snapshot and its index snapshot once; an index rebuild (atomic
    // overwrite) under the running search must not tear it — the pinned
    // pair keeps producing the pre-rebuild result, while a fresh resolve
    // sees the new index.
    val corpus = freshTable()
    val index = freshTable()
    TxLog.append(Seq((10L, 100L), (11L, 110L)).toDF("vec_id", "bkt"), corpus)
    TxLog.append(Seq((100L, 1L)).toDF("bkt", "c_gen"), index)
    // the "search": corpus joined to its consistent index version
    def searchAt(cv: Long, iv: Long) =
      TxLog.snapshot(spark, corpus, Some(cv))
        .join(TxLog.snapshot(spark, index, Some(iv)), "bkt")
        .select("vec_id", "c_gen")
    val pinned = searchAt(1L, 1L) // resolved NOW
    val before = pinned.as[(Long, Long)].collect().toSet
    assert(before === Set(10L -> 1L))
    // concurrent rebuild: the index is atomically overwritten (gen 2,
    // different bucket coverage) while `pinned` is still in use
    TxLog.overwrite(Seq((100L, 2L), (110L, 2L)).toDF("bkt", "c_gen"), index)
    assert(pinned.as[(Long, Long)].collect().toSet === before,
      "pinned search must not see the rebuilt index (torn read)")
    // a fresh consistent pair sees the new generation, fully
    assert(searchAt(1L, 2L).as[(Long, Long)].collect().toSet
      === Set(10L -> 2L, 11L -> 2L))
  }

  test("checkpointed snapshot resolution equals the full log fold") {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L), t, WriteSpec(statsCols = Seq("k")))            // v1
    TxLog.write(rows(2L -> 20L), t, WriteSpec(statsCols = Seq("k")))            // v2
    TxLog.overwrite(rows(1L -> 11L, 2L -> 21L), t)            // v3
    assert(TxLog.checkpoint(t) === 3L)
    TxLog.write(rows(3L -> 30L), t, WriteSpec(statsCols = Seq("k")))            // v4 (post-ckpt)
    // head, at-checkpoint, and pre-checkpoint resolutions all equal the
    // full fold of the same log with its checkpoint moved aside
    for (asOf <- Seq(None, Some(4L), Some(3L), Some(2L), Some(1L)))
      assert(TxLog.liveFilesWithStats(t, asOf)
        === withoutCheckpoints(t)(TxLog.liveFilesWithStats(t, asOf)), s"asOf=$asOf")
    // reads keep working through the checkpoint path (snapshot uses it)
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 11L, 2L -> 21L, 3L -> 30L))
    // stats survive the checkpoint: the post-checkpoint segment's
    // min/max (k in [3,3]) prunes it from a [1,1] read; the stat-less
    // overwrite segment is conservatively kept
    val (_, scanned, total) = strictScan(t, longRange("k", 1L, 1L))
    assert(total === 2 && scanned === 1,
      "v4 segment must prune from a [1,1] read via the checkpoint path")
    // a second checkpoint at the same head is a no-op (identical content)
    assert(TxLog.checkpoint(t) === 4L)
    assert(TxLog.checkpointVersions(t) === Seq(3L, 4L))
  }

  test("checkpoint and log cleanup leave every projection of the log state unchanged") {
    val land = Files.createTempDirectory("txlog-eq-land-")
    val f1 = land.resolve("f1").toString
    rows(4L -> 40L).write.parquet(f1)
    val t = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L), t, WriteSpec(statsCols = Seq("k")))   // v1
    TxLog.copyInto(spark, t, Seq(f1))                           // v2: ingest
    TxLog.setProperties(t, Map("owner" -> "ops", "tmp" -> "x",
      "graft.checkpointInterval" -> "100"))                     // v3
    TxLog.deleteWhere(spark, t, col("k") === 2L)                // v4: dv
    TxLog.overwrite(rows(5L -> 50L), t)                         // v5
    // everything a reader or a write guard resolves at one version
    def projections(v: Long) = {
      val s = TxLog.stateAt(t, Some(v))
      (TxLog.liveFilesWithStats(t, Some(v)), s.dv, s.renames,
        TxLog.recordedSchema(t, Some(v)), TxLog.activeConstraints(t, Some(v)),
        TxLog.tableProperties(t, Some(v)), s.drops, s.ingests)
    }
    val before1 = (1L to 5L).map(v => v -> projections(v)).toMap
    assert(TxLog.checkpoint(t) === 5L)
    TxLog.restore(spark, t, 4L)                                 // v6: re-adds v1, v2
    TxLog.addConstraint(spark, t, "pos", "k > 0")               // v7
    TxLog.unsetProperties(t, Seq("tmp"))                        // v8
    TxLog.renameColumn(spark, t, "v", "w")                      // v9
    TxLog.dropColumn(spark, t, "w")                             // v10
    // v6..v10 fold from the v5 checkpoint; without it they replay v1..
    val before = before1 ++
      withoutCheckpoints(t)((6L to 10L).map(v => v -> projections(v)).toMap)
    assert(before(6L)._1.forall(_._2.nonEmpty), "restored segments keep their stats")
    assert(before(10L)._7.map(_.name) === Seq("w") && before(10L)._8.size === 1)
    def same(vs: Seq[Long], when: String): Unit =
      vs.foreach(v => assert(projections(v) === before(v), s"v$v $when"))
    same(1L to 10L, "after checkpoint")
    TxLog.cleanupLog(t, Some(0L))
    assert(TxLog.logFloor(t) === 5L)
    same(5L to 10L, "after cleanup")
    intercept[IllegalArgumentException](TxLog.stateAt(t, Some(4L)))
    assert(TxLog.checkpoint(t) === 10L)
    same(5L to 10L, "after a second checkpoint")
  }

  test("a dropped column stays guarded after log cleanup, in the table and its clone") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)           // v1
    TxLog.dropColumn(spark, t, "v")                       // v2
    TxLog.append(Seq(3L).toDF("k"), t)                    // v3
    assert(TxLog.checkpoint(t) === 3L)
    TxLog.cleanupLog(t, Some(0L))
    assert(TxLog.logFloor(t) === 3L, "the drop's manifest is gone")
    // the v1 segment still carries v's bytes: re-adding v would read
    // them back instead of nulls
    val readd = TxLog.recordedSchema(t).get.add("v", "long")
    val e = intercept[IllegalArgumentException](TxLog.evolve(t, readd))
    assert(e.getMessage.contains("re-adds dropped column 'v'"), e.getMessage)
    assert(TxLog.snapshot(spark, t).columns.toSeq === Seq("k"))
    val dst = freshTable()
    TxLog.cloneShallow(spark, t, dst)
    val e2 = intercept[IllegalArgumentException](TxLog.evolve(dst, readd))
    assert(e2.getMessage.contains("re-adds dropped column 'v'"), e2.getMessage)
  }

  test("the COPY INTO ledger survives log cleanup") {
    val land = Files.createTempDirectory("txlog-ledger-")
    val files = (1L to 2L).map { b =>
      val f = land.resolve(s"f$b").toString
      rows(b -> b * 10).write.parquet(f)
      f
    }
    val t = freshTable()
    TxLog.copyInto(spark, t, files.take(1))               // v1
    TxLog.copyInto(spark, t, files)                       // v2
    assert(TxLog.checkpoint(t) === 2L)
    TxLog.cleanupLog(t, Some(0L))
    assert(TxLog.logFloor(t) === 2L)
    // `t + "/."` names the same table through paths no earlier read used
    for (path <- Seq(t, t + "/.")) {
      val (v, ingested) = TxLog.copyInto(spark, path, files)
      assert(v === 2L && ingested.isEmpty, s"$path re-ingested $ingested")
    }
    assert(TxLog.snapshot(spark, t).count() === 2L)
  }

  test("stream and txn high-water marks survive log cleanup") {
    val t = freshTable()
    assert(TxLog.write(rows(1L -> 10L), t, WriteSpec(mark = Some(Mark.batch(0L)))) === 1L)
    assert(TxLog.write(rows(2L -> 20L), t, WriteSpec(mark = Some(Mark.txn("app", 1L)))) === 2L)
    TxLog.append(rows(3L -> 30L), t)                      // v3
    assert(TxLog.checkpoint(t) === 3L)
    TxLog.cleanupLog(t, Some(0L))
    assert(TxLog.logFloor(t) === 3L, "the manifests carrying the marks are gone")
    // replays of the committed batch and transaction still skip
    assert(TxLog.write(rows(1L -> 10L), t, WriteSpec(mark = Some(Mark.batch(0L)))) === -1L)
    assert(TxLog.write(rows(2L -> 20L), t, WriteSpec(mark = Some(Mark.txn("app", 1L)))) === -1L)
    assert(TxLog.snapshot(spark, t).count() === 3L)
    assert((TxLog.maxCommittedBatch(t), TxLog.lastTxnVersion(t, "app"),
      TxLog.maxCommittedMergeBatch(t)) === ((0L, 1L, -1L)))
  }

  test("a table deleted and rebuilt at the same path reads its new rows and metadata") {
    val t = freshTable()
    // two builds commit manifests of the same shape: equal versions and,
    // with fixed-length segment UUIDs, equal byte lengths
    def build(owner: String, kv: (Long, Long)): Unit = {
      TxLog.append(rows(kv), t)
      TxLog.setProperties(t, Map("owner" -> owner))
    }
    build("alice", 1L -> 10L)
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toSeq === Seq(1L -> 10L))
    assert(TxLog.tableProperties(t) === Map("owner" -> "alice"))
    val s = Files.walk(Paths.get(t))
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally s.close()
    build("carol", 2L -> 20L)
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toSeq === Seq(2L -> 20L))
    assert(TxLog.tableProperties(t) === Map("owner" -> "carol"))
    assert(TxLog.liveFiles(t).forall(p => Files.exists(Paths.get(p))))
  }

  test("a snapshot or time-travel frame over a warm table is built without a job") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    TxLog.append(rows(2L -> 20L), t)
    TxLog.overwrite(rows(3L -> 30L), t)
    def frames() =
      TxLog.snapshot(spark, t) +: (1L to 3L).map(v => TxLog.snapshot(spark, t, Some(v)))
    frames() // warm: each segment's footer schema is read once
    val sc = spark.sparkContext
    val group = "txlog-spec-no-job"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    org.apache.spark.graftbench.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TxLogSpec frame build")
    val built =
      try { val fs = frames(); org.apache.spark.graftbench.ListenerDrain.drain(sc); fs }
      finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    assert(jobs.get === 0, "building the frames ran Spark jobs")
    assert(built.map(_.count()) === Seq(1L, 1L, 2L, 1L))
  }

  test("deleteWhere is a pure metadata+marks commit: rows vanish, bytes stay") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), t) // v1
    val segsBefore = TxLog.liveFiles(t).toSet
    TxLog.deleteWhere(spark, t, col("k") === 2L)            // v2: DV only
    // no data segment added to or removed from the live set
    assert(TxLog.liveFiles(t).toSet === segsBefore,
      "a DV delete must not touch the live segment list")
    val m = TxLog.readManifest(t, 2L)
    assert(m.adds.isEmpty && m.removes.isEmpty && m.dv.nonEmpty)
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 3L -> 30L))
    // time travel before the delete still sees the row (bytes untouched)
    assert(TxLog.snapshot(spark, t, Some(1L)).count() === 3L)
    // a second delete appends its own chain entry
    TxLog.deleteWhere(spark, t, col("k") === 3L)            // v3
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L))
    // compaction materializes the deletes and clears the vector
    TxLog.compact(spark, t)                                 // v4
    assert(TxLog.tableState(t).dv.isEmpty, "compaction must clear the dv")
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L))
  }

  test("k small deletes write O(k) total marks, not O(k^2); compactDv consolidates") {
    val t = freshTable()
    val k = 8
    TxLog.append(spark.range(100).selectExpr("id AS k", "id * 10 AS v"), t) // v1
    (1 to k).foreach(i => TxLog.deleteWhere(spark, t, col("k") === i.toLong))
    // write amplification: the i-th delete's manifest carries ONE chain
    // entry holding exactly its own matched row — never the cumulative
    // set (which wrote 1+2+...+k marks over this history before r12)
    val perCommit = (2 to k + 1).map { v =>
      val dv = TxLog.readManifest(t, v.toLong).dv
      assert(dv.length === 1, s"delete v$v must append exactly one chain entry")
      spark.read.parquet(dv.head).count()
    }
    assert(perCommit === (1 to k).map(_ => 1L),
      "each 1-row delete stages exactly 1 mark: total bytes are O(k)")
    // reader side: the chain in force unions to exactly the live marks
    val st = TxLog.tableState(t)
    assert(st.dv.length === k)
    assert(spark.read.parquet(st.dv: _*).count() === k.toLong)
    assert(TxLog.snapshot(spark, t).count() === (100 - k).toLong)
    // consolidation: one segment, same visible rows, zero data segments
    // touched; the stream source classifies it content-neutral
    val segsBefore = TxLog.liveFiles(t).toSet
    val cv = TxLog.compactDv(spark, t)
    assert(TxLog.readManifest(t, cv).op === "compact_dv")
    val st2 = TxLog.tableState(t)
    assert(st2.dv.length === 1, "compactDv folds the chain into one segment")
    assert(spark.read.parquet(st2.dv.head).count() === k.toLong)
    assert(TxLog.liveFiles(t).toSet === segsBefore)
    assert(TxLog.snapshot(spark, t).count() === (100 - k).toLong)
    // idempotent: an already-short chain is a no-op, no new version
    assert(TxLog.compactDv(spark, t) === cv)
    // checkpoint carries the chain; post-checkpoint resolution matches
    TxLog.checkpoint(t)
    TxLog.deleteWhere(spark, t, col("k") === 50L)
    assert(TxLog.tableState(t).dv.length === 2)
    assert(TxLog.snapshot(spark, t).count() === (100 - k - 1).toLong)
  }

  test("a data commit validated before a concurrent constraint/evolve conflicts, not publishes") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)               // v1
    val staleRv = TxLog.currentVersion(t)
    TxLog.addConstraint(spark, t, "v_pos", "v >= 0") // v2: metadata landed
    // a data commit built against v1 was validated against the OLD
    // constraint set — publishing it would admit rows the just-certified
    // CHECK never saw (ADVICE r11 medium): it must conflict
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commit(t, "append", Seq(s"$t/data/phantom"), Seq.empty, staleRv)
    }
    // whereas a concurrent plain APPEND still auto-rebases data commits
    val t2 = freshTable()
    TxLog.append(rows(1L -> 10L), t2)              // v1
    val rv2 = TxLog.currentVersion(t2)
    TxLog.append(rows(2L -> 20L), t2)              // v2: data landed
    assert(TxLog.commit(t2, "append", Seq(s"$t2/data/phantom"), Seq.empty, rv2) === 3L)
  }

  test("mergeDv equals copy-on-write merge and rewrites zero existing segments") {
    val base = rows(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L)
    val updates = rows(2L -> 200L, 5L -> 500L) // one update, one insert
    val tCow = freshTable()
    TxLog.append(base, tCow)
    TxLog.merge(spark, updates, tCow, "k")
    val tDv = freshTable()
    TxLog.append(base, tDv)
    val segsBefore = TxLog.liveFiles(tDv).toSet
    TxLog.mergeDv(spark, updates, tDv, "k")
    // row-identical results through both paths
    val cow = TxLog.snapshot(spark, tCow).as[(Long, Long)].collect().toMap
    val dv = TxLog.snapshot(spark, tDv).as[(Long, Long)].collect().toMap
    assert(dv === cow)
    assert(dv === Map(1L -> 10L, 2L -> 200L, 3L -> 30L, 4L -> 40L, 5L -> 500L))
    // geometry: every pre-existing segment is still live and untouched;
    // exactly one new data segment was added, nothing removed
    val m = TxLog.readManifest(tDv, 2L)
    assert(m.op === "merge_dv" && m.removes.isEmpty && m.adds.size === 1
      && m.dv.nonEmpty)
    assert(segsBefore.subsetOf(TxLog.liveFiles(tDv).toSet),
      "a DV merge must not rewrite or drop any existing segment")
    // time travel before the merge sees the pre-merge rows
    assert(TxLog.snapshot(spark, tDv, Some(1L)).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    // a later mergeDv accumulates marks on top of the standing vector
    TxLog.mergeDv(spark, rows(1L -> 100L), tDv, "k")
    assert(TxLog.snapshot(spark, tDv).as[(Long, Long)].collect().toMap
      === Map(1L -> 100L, 2L -> 200L, 3L -> 30L, 4L -> 40L, 5L -> 500L))
  }

  test("DV helper columns never collide with user columns named __fp/__ri") {
    // a table whose DATA carries the old hard-coded helper names — the
    // fixed-name injection made the anti-join ambiguous (ADVICE r10)
    val t = freshTable()
    val df = Seq((1L, "a1", "b1"), (2L, "a2", "b2"), (3L, "a3", "b3"))
      .toDF("k", "__fp", "__ri")
    TxLog.append(df, t)
    TxLog.deleteWhere(spark, t, col("k") === 2L)
    val got = TxLog.snapshot(spark, t).orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(got === Seq((1L, "a1", "b1"), (3L, "a3", "b3")),
      "user __fp/__ri columns must survive a DV delete untouched")
    // the DV merge path shares the helper plumbing
    TxLog.mergeDv(spark, Seq((3L, "A3", "B3")).toDF("k", "__fp", "__ri"), t, "k")
    assert(TxLog.snapshot(spark, t).orderBy("k")
      .as[(Long, String, String)].collect().toSeq
      === Seq((1L, "a1", "b1"), (3L, "A3", "B3")))
  }

  test("merge rejects null-keyed updates with a dedicated error") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    val nullKeyed = Seq((Some(2L), 20L), (None, 99L))
      .toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      TxLog.merge(spark, nullKeyed, t, "k")
    }
    assert(e.getMessage.contains("NULL"), s"want a null-key message, got: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      TxLog.mergeDv(spark, nullKeyed, t, "k")
    }
    assert(e2.getMessage.contains("NULL"))
    // duplicate detection still fires on its own message
    val dup = rows(2L -> 20L, 2L -> 21L)
    assert(intercept[IllegalArgumentException] {
      TxLog.merge(spark, dup, t, "k")
    }.getMessage.contains("duplicate"))
  }

  test("recordedSchema resolves through the nearest checkpoint") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)                          // v1
    val evolved = org.apache.spark.sql.types.StructType(
      TxLog.snapshot(spark, t).schema.fields :+
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType, nullable = true))
    TxLog.evolve(t, evolved)                                  // v2
    TxLog.checkpoint(t)                                       // ckpt@2
    TxLog.append(rows(2L -> 20L), t)                          // v3 (no schema)
    // post-checkpoint manifests carry no schema → the checkpoint answers
    assert(TxLog.recordedSchema(t).map(_.fieldNames.toSeq)
      === Some(Seq("k", "v", "tag")))
    // asOf before the evolve still resolves the pre-evolve shape (none)
    assert(TxLog.recordedSchema(t, Some(1L)).isEmpty)
    // a fresh evolve after the checkpoint wins over the checkpointed one
    val evolved2 = org.apache.spark.sql.types.StructType(evolved.fields :+
      org.apache.spark.sql.types.StructField("tag2",
        org.apache.spark.sql.types.StringType, nullable = true))
    TxLog.evolve(t, evolved2)                                 // v4
    assert(TxLog.recordedSchema(t).map(_.fieldNames.toSeq)
      === Some(Seq("k", "v", "tag", "tag2")))
    assert(TxLog.recordedSchema(t, Some(3L)).map(_.fieldNames.toSeq)
      === Some(Seq("k", "v", "tag")))
  }

  test("z-order optimize: aligned box reads prune, misaligned boxes reject, nulls survive") {
    import org.apache.spark.sql.functions.{col => fcol, expr}
    val t = freshTable()
    // 8×8 grid, one row per (x, y), plus one null-dim row
    val grid = spark.range(64).selectExpr("id AS k", "id % 8 AS x", "id div 8 AS y")
      .union(spark.range(1).selectExpr("999 AS k", "CAST(NULL AS LONG) AS x", "0 AS y"))
    TxLog.append(grid, t)
    TxLog.compactZOrder(spark, t, "x", "y", 4)
    // content preserved, including the null-dim row (residual segment)
    assert(TxLog.snapshot(spark, t).count() === 65L)
    // aligned 4×4 box = one contiguous z-range → prunes; the stat-less
    // residual is conservatively kept, so scanned < total but > 1
    def box(side: Long) = Prune(longBounds = Seq(
      TxLog.zorderBound(Seq("x", "y"), Seq((0L, side), (0L, side)))))
    val (rel, scanned, total) = strictScan(t, box(4L))
    assert(scanned < total, s"box read must prune ($scanned/$total)")
    assert(rel.filter(fcol("x") < 4 && fcol("y") < 4).count() === 16L)
    // full-plane box keeps everything
    val (_, s2, t2) = strictScan(t, box(8L))
    assert(s2 === t2)
    // misaligned / non-square / non-power-of-2 boxes reject loudly — the
    // contiguity argument only holds for aligned power-of-2 squares
    intercept[IllegalArgumentException] {
      TxLog.zorderBound(Seq("x", "y"), Seq((1L, 5L), (0L, 4L)))
    }
    intercept[IllegalArgumentException] {
      TxLog.zorderBound(Seq("x", "y"), Seq((0L, 3L), (0L, 3L)))
    }
    intercept[IllegalArgumentException] {
      TxLog.zorderBound(Seq("x", "y"), Seq((0L, 4L), (0L, 8L)))
    }
    // coordinates past the 16-bit domain would alias under the mask
    intercept[IllegalArgumentException] {
      TxLog.zorderBound(Seq("x", "y"), Seq((65536L, 65540L), (0L, 4L)))
    }
    // scalar and Column z-keys agree (the pruning range is driver-computed)
    val colZ = spark.range(64).select(
      ZOrder.zkey(expr("id % 8"), expr("id div 8")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    val scalarZ = (0L until 64L).map(i => ZOrder.zkeyScalar(i % 8, i / 8))
    assert(colZ === scalarZ)
  }

  test("restore: metadata-only rollback, dv reinstated or masked, history preserved") {
    // rewritten-history case: overwrite then restore re-adds the old
    // segment and removes the rewrite
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)              // v1
    TxLog.overwrite(rows(1L -> 11L, 2L -> 21L), t)           // v2
    val v = TxLog.restore(spark, t, 1L)                      // v3
    assert(v === 3L)
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L))
    // interim history still readable; restore is itself restorable-away
    assert(TxLog.snapshot(spark, t, Some(2L)).as[(Long, Long)].collect().toMap
      === Map(1L -> 11L, 2L -> 21L))
    TxLog.restore(spark, t, 2L)                              // v4
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 11L, 2L -> 21L))
    // delete-only case: a restore REPLACES the dv chain with the target
    // version's (empty) chain — standing marks clear without staging a
    // byte (pre-r12 this required installing an empty masking vector)
    val t2 = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), t2)  // v1
    TxLog.deleteWhere(spark, t2, col("k") === 2L)            // v2 (dv)
    val r = TxLog.restore(spark, t2, 1L)                     // v3
    val m = TxLog.readManifest(t2, r)
    assert(m.removes.isEmpty && m.dv.isEmpty,
      "delete-only restore clears by replacing the chain with nothing")
    assert(TxLog.tableState(t2).dv.isEmpty,
      "no deletion marks may remain in force after restoring past the delete")
    assert(TxLog.snapshot(spark, t2).count() === 3L, "deleted row is back")
    assert(TxLog.snapshot(spark, t2, Some(2L)).count() === 2L, "interim delete still visible")
    // restoring TO a dv-carrying version reinstates its vector
    TxLog.restore(spark, t2, 2L)                             // v4
    assert(TxLog.snapshot(spark, t2).count() === 2L)
    // bounds reject
    intercept[IllegalArgumentException] { TxLog.restore(spark, t2, 0L) }
    intercept[IllegalArgumentException] {
      TxLog.restore(spark, t2, TxLog.currentVersion(t2))
    }
    // restore below the vacuum horizon rejects: the target's bytes are gone
    val t3 = freshTable()
    TxLog.append(rows(1L -> 10L), t3)                        // v1
    TxLog.overwrite(rows(1L -> 11L), t3)                     // v2
    TxLog.vacuum(t3, keepVersionsFrom = 2L, minAgeMillis = 0L)
    val e3 = intercept[IllegalArgumentException] { TxLog.restore(spark, t3, 1L) }
    assert(e3.getMessage.contains("vacuumed"))
  }

  test("column rename: mapped read-back, chained, across checkpoint, collisions rejected") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)        // v1: physical "v"
    TxLog.renameColumn(spark, t, "v", "amount")        // v2
    // head reads the old segment under the NEW logical name, no rewrite
    val head = TxLog.snapshot(spark, t)
    assert(head.columns.toSeq === Seq("k", "amount"))
    assert(head.as[(Long, Long)].collect().toMap === Map(1L -> 10L, 2L -> 20L))
    // time travel before the rename sees the historical name
    assert(TxLog.snapshot(spark, t, Some(1L)).columns.toSeq === Seq("k", "v"))
    // post-rename writes use the new name; epochs union transparently
    TxLog.append(Seq((3L, 30L)).toDF("k", "amount"), t) // v3: physical "amount"
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // writes under the RETIRED name are rejected by schema enforcement
    intercept[IllegalArgumentException] {
      TxLog.append(rows(9L -> 90L), t)
    }
    // chained rename: the oldest segment resolves through BOTH renames
    TxLog.renameColumn(spark, t, "amount", "amt")      // v4
    assert(TxLog.snapshot(spark, t).columns.toSeq === Seq("k", "amt"))
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // a DV delete addresses renamed-epoch rows correctly
    TxLog.deleteWhere(spark, t, col("amt") === 20L)    // v5
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 3L -> 30L))
    // checkpoint carries the rename mapping: resolution through it is
    // identical to the full fold
    TxLog.checkpoint(t)
    TxLog.append(Seq((4L, 40L)).toDF("k", "amt"), t)   // v6
    assert(TxLog.tableState(t).renames.map(r =>
      (r.oldName, r.newName)) === Seq(("v", "amount"), ("amount", "amt")))
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 3L -> 30L, 4L -> 40L))
    // collision + missing-source rejects
    intercept[IllegalArgumentException] { TxLog.renameColumn(spark, t, "k", "amt") }
    intercept[IllegalArgumentException] { TxLog.renameColumn(spark, t, "nope", "x") }
    // compaction materializes the current names; the mapping afterwards
    // is inert (affected segments dead) and reads stay correct
    TxLog.compact(spark, t)
    assert(TxLog.snapshot(spark, t).columns.toSeq === Seq("k", "amt"))
    assert(TxLog.snapshot(spark, t).count() === 3L)
    // streaming RUNS THROUGH the rename epochs (r13): pre-rename segments
    // translate per-file to the pinned head names; the delete skips via
    // ignoreDeletes; compact/checkpoint are content-neutral. NB the
    // stream replays raw appends — the DV'd row (2, 20) was emitted
    // before the delete and is never retracted (documented contract).
    val q = spark.readStream.format("txlog-stream")
      .option("ignoreDeletes", true).load(t)
      .writeStream.format("memory").queryName("rename_through")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("rename_through")
    assert(streamed.columns.toSeq === Seq("k", "amt"),
      "output schema is the pinned head-epoch names across all rename epochs")
    assert(streamed.as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
  }

  test("column drop: projected read-back, zero rewrite, time travel, resurrection guard") {
    val t = freshTable()
    TxLog.append(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p"), t) // v1
    def dataFiles() = {
      val s = Files.walk(Paths.get(t, "data"))
      try s.filter(_.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val filesBefore = dataFiles()
    TxLog.dropColumn(spark, t, "p")                                          // v2
    // metadata-only: not a byte rewritten, head stops projecting the column
    assert(dataFiles() === filesBefore, "drop must not rewrite data")
    val head = TxLog.snapshot(spark, t)
    assert(head.columns.toSeq === Seq("k", "v"))
    assert(head.as[(Long, Long)].collect().toMap === Map(1L -> 10L, 2L -> 20L))
    // time travel before the drop still sees the historical shape
    assert(TxLog.snapshot(spark, t, Some(1L)).columns.toSeq === Seq("k", "v", "p"))
    // post-drop writes: without the column fine, with it rejected
    TxLog.append(rows(3L -> 30L), t)                                         // v3
    assert(TxLog.snapshot(spark, t).count() === 3L)
    intercept[IllegalArgumentException] {
      TxLog.append(Seq((9L, 90L, "z")).toDF("k", "v", "p"), t)
    }
    // resurrection guard: re-adding "p" while the v1 segment is live would
    // read the old "a"/"b" back out of its footer — refused until rewritten
    val withP = org.apache.spark.sql.types.StructType(
      TxLog.snapshot(spark, t).schema.fields :+
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType, nullable = true))
    val err = intercept[IllegalArgumentException] { TxLog.evolve(t, withP) }
    assert(err.getMessage.contains("resurrect"))
    TxLog.compact(spark, t)
    // pre-drop segments rewritten away (under the 2-column logical schema):
    // the name is free again and reads null-fill, never the dropped values
    TxLog.evolve(t, withP)
    val revived = TxLog.snapshot(spark, t)
    assert(revived.columns.toSeq === Seq("k", "v", "p"))
    assert(revived.filter(col("p").isNotNull).count() === 0L)
    // guard rails: unknown column, last column, constraint-referenced column
    intercept[IllegalArgumentException] { TxLog.dropColumn(spark, t, "nope") }
    TxLog.addConstraint(spark, t, "v_pos", "v >= 0")
    val cerr = intercept[IllegalArgumentException] { TxLog.dropColumn(spark, t, "v") }
    assert(cerr.getMessage.contains("v_pos"))
    val t2 = freshTable()
    TxLog.append(Seq(Tuple1(1L)).toDF("only"), t2)
    intercept[IllegalArgumentException] { TxLog.dropColumn(spark, t2, "only") }
  }

  test("timestamp travel: monotonic commit-time cut, inversion-safe, mtime fallback") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)                    // v1
    TxLog.append(rows(2L -> 20L), t)                    // v2
    TxLog.append(rows(3L -> 30L), t)                    // v3
    def manifestPath(v: Long) = Paths.get(t, "_txlog", f"$v%020d.json")
    // commit time is the ts stamped INSIDE the manifest (r13): simulate a
    // skewed writer clock by rewriting the recorded values
    def setTs(v: Long, ts: Long): Unit = Files.writeString(manifestPath(v),
      Files.readString(manifestPath(v)).replaceAll("\"ts\":\\d+", s""""ts":$ts"""))
    // v3's recorded ts INVERTS (writer clock skew) — version order is
    // authoritative, so its effective time clamps up to v2's
    setTs(1L, 1000L); setTs(2L, 2000L); setTs(3L, 1500L)
    intercept[IllegalArgumentException] { TxLog.versionAtTimestamp(t, 999L) }
    assert(TxLog.versionAtTimestamp(t, 1000L) === 1L)
    assert(TxLog.versionAtTimestamp(t, 1999L) === 1L)
    assert(TxLog.versionAtTimestamp(t, 2000L) === 3L) // v2 AND clamped v3 ≤ cut
    assert(TxLog.versionAtTimestamp(t, System.currentTimeMillis()) === 3L)
    assert(TxLog.snapshotAtTimestamp(spark, t, 1000L).count() === 1L)
    // pre-r13 manifests carry no ts: the file mtime is the fallback, with
    // the same running-max clamp
    def stripTs(v: Long): Unit = Files.writeString(manifestPath(v),
      Files.readString(manifestPath(v)).replaceAll(",\"ts\":\\d+", ""))
    def pin(v: Long, ts: Long): Unit = Files.setLastModifiedTime(
      manifestPath(v), java.nio.file.attribute.FileTime.fromMillis(ts))
    Seq(1L, 2L, 3L).foreach(stripTs)
    pin(1L, 1000L); pin(2L, 2000L); pin(3L, 1500L)
    assert(TxLog.versionAtTimestamp(t, 1999L) === 1L)
    assert(TxLog.versionAtTimestamp(t, 2000L) === 3L)
    // Delta's reader-option spelling resolves through the same cut
    assert(spark.read.format("txlog").option("timestampAsOf", 1999L)
      .load(t).count() === 1L)
    intercept[IllegalArgumentException] {
      spark.read.format("txlog").option("timestampAsOf", 1999L)
        .option("versionAsOf", 2L).load(t).count()
    }
  }

  test("mergeDv rejects type-mismatched updates on never-evolved tables") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    val wrongType = Seq((2L, "not-a-long")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      TxLog.mergeDv(spark, wrongType, t, "k")
    }
    assert(e.getMessage.contains("BIGINT") || e.getMessage.contains("STRING"),
      s"want a type message, got: ${e.getMessage}")
  }

  test("CHECK constraints: write-time rejection, pre-validation, checkpoint carry, time travel") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)                 // v1
    // adding a constraint the existing data violates is rejected
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, t, "v_huge", "v > 1000")
    }
    assert(TxLog.addConstraint(spark, t, "v_pos", "v >= 0") === 2L)
    // duplicate names reject
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, t, "v_pos", "v >= 1")
    }
    // a violating write is rejected with the constraint name; the log
    // and data are untouched
    val e = intercept[IllegalArgumentException] {
      TxLog.append(rows(3L -> -5L), t)
    }
    assert(e.getMessage.contains("v_pos"))
    assert(TxLog.currentVersion(t) === 2L && TxLog.snapshot(spark, t).count() === 2L)
    // a satisfying write passes; NULL passes too (SQL CHECK semantics)
    TxLog.append(rows(3L -> 30L), t)                            // v3
    TxLog.append(Seq((Some(4L), Option.empty[Long])).toDF("k", "v"), t) // v4
    assert(TxLog.snapshot(spark, t).count() === 4L)
    // constraints resolve THROUGH a checkpoint (cumulative list carried)
    TxLog.checkpoint(t)
    TxLog.append(rows(5L -> 50L), t)                            // v5
    assert(TxLog.activeConstraints(t) === Seq("v_pos" -> "v >= 0"))
    intercept[IllegalArgumentException] { TxLog.append(rows(6L -> -1L), t) }
    // time travel: before the constraint commit there were none
    assert(TxLog.activeConstraints(t, Some(1L)).isEmpty)
    // merge paths enforce too
    intercept[IllegalArgumentException] {
      TxLog.mergeDv(spark, rows(1L -> -7L), t, "k")
    }
  }

  test("concurrent DV merges: winners land, losers abort, nothing is lost or doubled") {
    // 4 threads upsert DISTINCT keys through mergeDv simultaneously. A
    // DV merge's marks are only valid against the exact snapshot it read
    // (dv commits CAS on readVersion), so racers serialize: some win,
    // some abort with ConcurrentModificationException — but a loser must
    // never corrupt the table (no lost base rows, no duplicate keys, no
    // partially-applied update).
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val outcomes = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] =
          try Right(TxLog.mergeDv(spark, rows(i.toLong -> (100L + i)), t, "k"))
          catch { case e: Throwable => Left(e) }
      })
    }.map(_.get())
    pool.shutdown()
    val won = outcomes.collect { case Right(v) => v }
    val lost = outcomes.collect { case Left(e) => e }
    assert(won.nonEmpty, "at least one DV merge must win")
    assert(won.distinct.size == won.size, "each winner takes its own version")
    lost.foreach { e =>
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(e).exists(_.isInstanceOf[ConcurrentModificationException]),
        s"losers must abort with the CAS conflict, got: $e")
    }
    // serializable outcome: exactly the winners' updates are applied
    val head = TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
    assert(head.size === 4, s"no row lost, no key doubled: $head")
    (1 to 4).foreach { i =>
      val k = i.toLong
      assert(head(k) == 10L * k || head(k) == 100L + k,
        s"key $k must hold either the base or a cleanly-applied update, got ${head(k)}")
    }
    assert(won.size + lost.size === 4)
  }

  test("manifest ANALYZE stats: row count and NDV bounds answer without a scan") {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L, 2L -> 21L), t,
      WriteSpec(statsCols = Seq("k"))) // 3 rows, ndv 2
    TxLog.write(rows(3L -> 30L, 4L -> 40L), t,
      WriteSpec(statsCols = Seq("k"))) // 2 rows, ndv 2
    assert(TxLog.tableRowCount(t) === Some(5L))
    // disjoint segments: [max, sum] brackets (and here the sum is exact)
    assert(TxLog.ndvBounds(t, "k") === Some((2L, 4L)))
    // a different column has no recorded NDV
    assert(TxLog.ndvBounds(t, "v").isEmpty)
    // a stat-less append poisons the metadata answer — an honest planner
    // must not guess from partial stats
    TxLog.append(rows(9L -> 90L), t)
    assert(TxLog.tableRowCount(t).isEmpty && TxLog.ndvBounds(t, "k").isEmpty)
    // time travel to the fully-statted version still answers
    assert(TxLog.tableRowCount(t, Some(2L)) === Some(5L))
    // a standing deletion vector makes segment counts an overcount —
    // the metadata answer must refuse, not lie
    val t3 = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L), t3, WriteSpec(statsCols = Seq("k")))
    assert(TxLog.tableRowCount(t3) === Some(2L))
    TxLog.deleteWhere(spark, t3, col("k") === 1L)
    assert(TxLog.tableRowCount(t3).isEmpty && TxLog.ndvBounds(t3, "k").isEmpty,
      "stats must refuse under a standing DV")
    // old manifests without rows/ndv fields stay readable (fields are
    // optional in the JSON) — covered implicitly by every other test's
    // stats-free appends parsing fine
  }

  test("equi-depth histogram stats: manifest range selectivity drives the join strategy") {
    val t = freshTable()
    val df = spark.range(100000).selectExpr("id AS k", "id * 3 AS v")
    // interleaved keys: min/max stats are useless, only histograms answer
    TxLog.write(df.filter(col("k") % 2 === 0), t, WriteSpec(statsCols = Seq("k")))
    TxLog.write(df.filter(col("k") % 2 === 1), t, WriteSpec(statsCols = Seq("k")))
    // estimates from the manifest alone: true narrow = 100, true wide = 50k
    val estN = TxLog.estimatedRangeRows(t, "k", 0L, 99L).get
    assert(estN > 10 && estN < 1000, s"narrow estimate off: $estN (true 100)")
    val estW = TxLog.estimatedRangeRows(t, "k", 0L, 49999L).get
    assert(estW > 40000 && estW < 60000, s"wide estimate off: $estW (true 50000)")
    // a column without histograms refuses — no partial answers
    assert(TxLog.estimatedRangeRows(t, "v", 0L, 99L).isEmpty)
    // checkpoints carry histograms: same answer through the fold
    TxLog.checkpoint(t)
    assert(TxLog.estimatedRangeRows(t, "k", 0L, 99L).get === estN)
    // the verdict's contract: a ~0.1%-selectivity predicate IS broadcast,
    // a 50% one is NOT — with auto-broadcast disabled, so only the
    // metadata decision can produce the broadcast
    val c = spark.conf
    val saved = c.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = spark.range(200000).selectExpr("id % 100000 AS fk", "id AS fv")
      val cap = 100000 * 0.05
      def joined(lo: Long, hi: Long) = {
        val dim = TxLog.snapshot(spark, t).filter(col("k").between(lo, hi))
        val side = if (TxLog.estimatedRangeRows(t, "k", lo, hi).get <= cap)
          org.apache.spark.sql.functions.broadcast(dim) else dim
        fact.join(side, col("fk") === col("k"))
          .queryExecution.executedPlan.toString
      }
      val narrow = joined(0L, 99L)
      assert(narrow.contains("BroadcastHashJoin"),
        s"0.1%-selectivity dim must broadcast:\n${narrow.take(600)}")
      val wide = joined(0L, 49999L)
      assert(!wide.contains("BroadcastHashJoin"),
        s"50%-selectivity dim must NOT broadcast:\n${wide.take(600)}")
    } finally saved match {
      case Some(v) => c.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => c.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // a standing DV makes histogram counts overcounts — refuse, like
    // tableRowCount
    TxLog.deleteWhere(spark, t, col("k") === 2L)
    assert(TxLog.estimatedRangeRows(t, "k", 0L, 99L).isEmpty)
  }

  test("ANALYZE stats survive maintenance rewrites (compact/optimize/zorder)") {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L, 2L -> 21L), t, WriteSpec(statsCols = Seq("k")))
    TxLog.write(rows(3L -> 30L, 4L -> 40L), t, WriteSpec(statsCols = Seq("k")))
    TxLog.deleteWhere(spark, t, col("k") === 4L)
    assert(TxLog.tableRowCount(t).isEmpty, "DV in force: counts refuse")
    // compact materializes the DV AND re-records rows + min/max/NDV of
    // the agreed tracked column — the CBO surface survives maintenance
    // (ADVICE r11: it used to die permanently on the first rewrite)
    TxLog.compact(spark, t)
    assert(TxLog.tableRowCount(t) === Some(4L))
    assert(TxLog.ndvBounds(t, "k") === Some((3L, 3L)))
    // clustered OPTIMIZE: per-bucket rows+NDV, residual (null/negative
    // keys) carries rows-only sentinel stats — counted, never pruned
    val t2 = freshTable()
    TxLog.write(rows(1L -> 10L, 7L -> 70L, 13L -> 130L), t2, WriteSpec(statsCols = Seq("k")))
    TxLog.append(Seq((Option.empty[java.lang.Long], 99L)).toDF("k", "v"), t2)
    TxLog.compactClustered(spark, t2, "k", 2)
    assert(TxLog.tableRowCount(t2) === Some(4L),
      "rows survive clustered optimize incl. the null-key residual")
    val (_, scanned, total) = strictScan(t2, longRange("k", 0L, 5L))
    assert(total >= 2 && scanned < total,
      "range prune still works post-optimize and keeps the residual conservatively")
    // z-order OPTIMIZE: per-segment rows recorded on the synthetic z stats
    val t3 = freshTable()
    TxLog.write(Seq((1L, 1L), (200L, 200L), (900L, 900L))
      .toDF("k", "v"), t3, WriteSpec(statsCols = Seq("k")))
    TxLog.compactZOrder(spark, t3, "k", "v", 2)
    assert(TxLog.tableRowCount(t3) === Some(3L),
      "rows survive z-order optimize")
  }

  test("partitioned append: atomic multi-partition commit, manifest-path pruning, DV/vacuum compose") {
    val t = freshTable()
    val df = spark.range(1000).selectExpr("id AS k",
      "CASE WHEN id % 3 = 0 THEN 'red' WHEN id % 3 = 1 THEN 'green' ELSE 'blue' END AS color")
    // two loads → two segments per color; ONE manifest per load
    TxLog.write(df.filter(col("k") < 500), t, WriteSpec(partitionBy = Seq("color")))
    TxLog.write(df.filter(col("k") >= 500), t, WriteSpec(partitionBy = Seq("color")))
    assert(TxLog.currentVersion(t) === 2L, "each load is one atomic commit")
    assert(TxLog.partitionValues(t, "color") === Seq("blue", "green", "red"))
    // pruned read: 2 of 6 segments, rows exactly the color's slice
    val (rel, scanned, total) = strictScan(t, Prune(parts = Seq("color" -> Some(Set("red")))))
    assert((scanned, total) === ((2, 6)), "prune to the color's two segments")
    assert(rel.count() === df.filter(col("color") === "red").count())
    assert(rel.columns.toSet === Set("k", "color"),
      "partition column re-added from the path")
    // full read: every partition, column reconstructed, same bag of rows
    val (all, s2, t2) = strictScan(t, Prune(parts = Seq("color" -> None)))
    assert((s2, t2) === ((6, 6)))
    assert(all.count() === 1000L)
    assert(all.groupBy("color").count().as[(String, Long)].collect().toMap
      === Map("red" -> 334L, "green" -> 333L, "blue" -> 333L))
    // deletion vector composes: soft-delete one red row, pruned read drops it
    TxLog.deleteWhere(spark, t, col("k") === 0L)
    val (rel2, _, _) = strictScan(t, Prune(parts = Seq("color" -> Some(Set("red")))))
    assert(rel2.count() === 333L, "DV anti-join applies inside the pruned read")
    // time travel: version 1 sees only the first load's partitions
    val (old, sOld, tOld) =
      strictScan(t, Prune(parts = Seq("color" -> Some(Set("red")))), asOf = Some(1L))
    assert((sOld, tOld) === ((1, 3)) && old.count() === 167L)
    // vacuum safety: live subdir-referenced staging parents are NOT garbage
    val collected = TxLog.vacuum(t, keepVersionsFrom = 1L, minAgeMillis = 0L)
    assert(collected.isEmpty, s"vacuum must keep subdir-referenced parents: $collected")
    assert(strictScan(t, Prune(parts = Seq("color" -> Some(Set("blue")))))
      ._1.count() === 333L)
    // honest-pruning refusal: a compaction drops the partitioned layout
    TxLog.compact(spark, t)
    val e = intercept[IllegalArgumentException](
      strictScan(t, Prune(parts = Seq("color" -> Some(Set("red"))))))
    assert(e.getMessage.contains("partition path"))
  }

  test("dynamic partition overwrite replaces exactly one partition's segments") {
    val t = freshTable()
    val df = spark.range(300).selectExpr("id AS k",
      "CASE WHEN id % 3 = 0 THEN 'red' WHEN id % 3 = 1 THEN 'green' ELSE 'blue' END AS color")
    TxLog.write(df, t, WriteSpec(partitionBy = Seq("color")))
    val untouchedBefore = TxLog.tableState(t).segments.map(_._1)
      .filterNot(_.endsWith("color=green")).toSet
    // replace green wholesale with a 10-row reload
    val reload = spark.range(10)
      .selectExpr("id + 1000 AS k", "'green' AS color")
    TxLog.write(reload, t, WriteSpec(ReplacePartition("color", "green")))
    val (greens, s1, t1) = strictScan(t, Prune(parts = Seq("color" -> Some(Set("green")))))
    assert((s1, t1) === ((1, 3)) && greens.count() === 10L)
    assert(greens.agg(org.apache.spark.sql.functions.min("k"))
      .head().getLong(0) === 1000L, "green is wholly the reload")
    // other partitions: same physical segment paths — zero bytes touched
    val untouchedAfter = TxLog.tableState(t).segments.map(_._1)
      .filterNot(_.endsWith("color=green")).toSet
    assert(untouchedAfter === untouchedBefore)
    assert(strictScan(t, Prune(parts = Seq("color" -> Some(Set("red")))))
      ._1.count() === 100L)
    // cross-partition payload rejects BEFORE staging anything
    val bad = spark.range(2).selectExpr("id AS k",
      "CASE WHEN id = 0 THEN 'green' ELSE 'red' END AS color")
    val e = intercept[IllegalArgumentException](
      TxLog.write(bad, t, WriteSpec(ReplacePartition("color", "green"))))
    assert(e.getMessage.contains("other partitions"))
    // history: time travel still sees the original green rows
    assert(strictScan(t, Prune(parts = Seq("color" -> Some(Set("green")))),
      asOf = Some(1L))._1.count() === 100L)
  }

  test("format(\"txlog\") relation: pushdown-driven manifest pruning + time travel") {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L), t, WriteSpec(statsCols = Seq("k")))
    TxLog.write(rows(100L -> 1000L, 200L -> 2000L), t, WriteSpec(statsCols = Seq("k")))
    // optimizer pushes k <= 2 into buildScan → manifest skips segment 2
    graft.sources.TxLogBatchSource.lastPrune = None
    val out = spark.read.format("txlog").load(t)
      .filter(col("k") <= 2L).as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 10L), (2L, 20L)))
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 2)),
      "range predicate must prune to one segment via the manifest")
    // the filter still applies ROW-level inside the kept segment
    val one = spark.read.format("txlog").load(t)
      .filter(col("k") === 2L).as[(Long, Long)].collect()
    assert(one.toSeq === Seq((2L, 20L)))
    // projection narrows the inner scan; aggregates work through the seam
    assert(spark.read.format("txlog").load(t)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) === 3030L)
    // time travel option: version 1 predates the second append
    assert(spark.read.format("txlog").option("versionAsOf", 1)
      .load(t).count() === 2L)
  }

  test("CAS race: two manifests for the same version — exactly one wins") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)
    // simulate the physical race: both writers target version 2; the
    // second no-overwrite move must fail, not corrupt the log
    val s1 = TxLog.stage(rows(2L -> 20L), t)
    val s2 = TxLog.stage(rows(3L -> 30L), t)
    val v1 = TxLog.commit(t, "append", Seq(s1), Seq.empty, 1L)
    val v2 = TxLog.commit(t, "append", Seq(s2), Seq.empty, 1L)
    assert(Set(v1, v2) === Set(2L, 3L), "both commits land, on distinct versions")
    assert(TxLog.snapshot(spark, t).count() === 3L)
  }

  test("evolve refuses re-adding a rename's old name while pre-rename segments live") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schemaKV = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    // scenario A: rename(k->kk) then evolve re-add 'k' — the pre-rename
    // segment physically stores 'k'; mapping two logical fields onto one
    // physical column must be refused, not discovered at read time
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)                  // v1, physical k
    TxLog.renameColumn(spark, t, "k", "kk")           // v2
    val withK = StructType(Seq(StructField("kk", LongType), StructField("v", LongType),
      StructField("k", LongType, nullable = true)))
    val eA = intercept[IllegalArgumentException](TxLog.evolve(t, withK))
    assert(eA.getMessage.contains("pre-rename"))
    // scenario B (the ADVICE r12 resurrection): rename(k->kk), drop(kk),
    // evolve re-add 'k' — the Drop record holds 'kk', so only the rename
    // walk knows the live segment still carries 'k' bytes
    val t2 = freshTable()
    TxLog.append(rows(1L -> 10L), t2)                 // v1, physical k
    TxLog.renameColumn(spark, t2, "k", "kk")          // v2
    TxLog.dropColumn(spark, t2, "kk")                 // v3
    val vOnlyPlusK = StructType(Seq(StructField("v", LongType),
      StructField("k", LongType, nullable = true)))
    val eB = intercept[IllegalArgumentException](TxLog.evolve(t2, vOnlyPlusK))
    assert(eB.getMessage.contains("pre-rename"))
    // compaction rewrites the pre-rename bytes away — the add is then legal
    // and the re-added column reads as NULL, never the 1996 values
    TxLog.compact(spark, t2)
    TxLog.evolve(t2, vOnlyPlusK)
    val back = TxLog.snapshot(spark, t2).select("v", "k").collect()
    assert(back.map(r => (r.getLong(0), r.isNullAt(1))).toSeq === Seq((10L, true)))
  }

  test("multi-column stats: one pass records all, any column prunes, OPTIMIZE keeps them") {
    val df1 = Seq((1L, 100L), (2L, 200L)).toDF("a", "b")
    val df2 = Seq((50L, 5000L), (60L, 6000L)).toDF("a", "b")
    val t = freshTable()
    TxLog.write(df1, t, WriteSpec(statsCols = Seq("a", "b")))
    TxLog.write(df2, t, WriteSpec(statsCols = Seq("a", "b")))
    // stats JSON round-trips both columns
    val st = TxLog.liveFilesWithStats(t).flatMap(_._2)
    assert(st.forall(_.trackedCols === Seq("a", "b")))
    // the SECOND column prunes too
    val scB = TxLog.scan(spark, t, longRange("b", 0L, 300L))
    val (relB, scannedB, totalB) = (scB.orEmpty, scB.scanned, scB.total)
    assert((scannedB, totalB) === (1, 2))
    assert(relB.count() === 2L)
    // planner surfaces answer on either column
    assert(TxLog.ndvBounds(t, "b") === Some((2L, 4L)))
    assert(TxLog.estimatedRangeRows(t, "b", 100L, 200L).exists(_ > 0.0))
    assert(TxLog.tableRowCount(t) === Some(4L))
    // conjunctive multi-column bounds compose (skip when ANY col
    // excludes): each range alone keeps one segment, together they
    // keep none — seg1 fails the b range, seg2 fails the a range
    assert(TxLog.scan(spark, t,
      Prune(longBounds = Seq(("a", 0L, 10L), ("b", 4000L, 9999L)))).scanned === 0)
    // OPTIMIZE re-records BOTH columns' stats on the rewritten segment
    TxLog.compact(spark, t)
    val after = TxLog.liveFilesWithStats(t).flatMap(_._2)
    assert(after.nonEmpty && after.forall(s =>
      s.statsFor("a").nonEmpty && s.statsFor("b").nonEmpty))
    assert(TxLog.tableRowCount(t) === Some(4L))
  }

  test("lenient pruned scan: an all-pruning predicate yields empty, not an error") {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L), t, WriteSpec(statsCols = Seq("k")))
    val sc = TxLog.scan(spark, t, longRange("k", 1000L, 2000L))
    val (rel, scanned, total) = (sc.orEmpty, sc.scanned, sc.total)
    assert((scanned, total) === (0, 1))
    assert(rel.count() === 0L)
    assert(rel.columns.toSeq === Seq("k", "v"))
    // the same zero-row query through the standard read spelling
    assert(spark.read.format("txlog").load(t)
      .filter(col("k") === 5000L).count() === 0L)
  }

  test("manifest ts drives timestamp travel even after every mtime is rewritten") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)  // v1
    Thread.sleep(25)
    val betweenCommits = System.currentTimeMillis()
    Thread.sleep(25)
    TxLog.append(rows(2L -> 20L), t)  // v2
    // a backup-restore/rsync of the log rewrites mtimes wholesale — the
    // in-manifest ts must keep the cut stable (ADVICE r12)
    val future = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 3600L * 1000)
    Files.list(Paths.get(t, "_txlog")).forEach(p =>
      Files.setLastModifiedTime(p, future))
    assert(TxLog.versionAtTimestamp(t, betweenCommits) === 1L)
    assert(TxLog.snapshotAtTimestamp(spark, t, betweenCommits).count() === 1L)
  }

  test("df.write.format(\"txlog\"): mode semantics through the standard writer") {
    val t = freshTable()
    val a = rows(1L -> 10L, 2L -> 20L)
    // default ErrorIfExists on a fresh table = first commit
    a.write.format("txlog").save(t)
    assert(TxLog.currentVersion(t) === 1L)
    // a second ErrorIfExists write refuses; the table is untouched
    intercept[Exception](a.write.format("txlog").save(t))
    assert(TxLog.currentVersion(t) === 1L)
    // Ignore on an existing table: silent no-op
    rows(9L -> 90L).write.format("txlog").mode("ignore").save(t)
    assert(TxLog.currentVersion(t) === 1L)
    // append commits a second segment
    rows(3L -> 30L).write.format("txlog").mode("append").save(t)
    assert(spark.read.format("txlog").load(t).count() === 3L)
    // overwrite swaps the whole live set in one CAS commit
    rows(7L -> 70L).write.format("txlog").mode("overwrite").save(t)
    assert(spark.read.format("txlog").load(t)
      .as[(Long, Long)].collect().toSeq === Seq((7L, 70L)))
    // history is intact: version 2's snapshot still reads
    assert(TxLog.snapshot(spark, t, Some(2L)).count() === 3L)
  }

  test("df.write.format(\"txlog\").partitionBy: hive layout, one manifest, prunable") {
    val t = freshTable()
    val df = Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang")
    df.write.format("txlog").mode("append").partitionBy("lang").save(t)
    assert(TxLog.currentVersion(t) === 1L, "one atomic manifest for all partitions")
    val (rel, scanned, total) = strictScan(t, Prune(parts = Seq("lang" -> Some(Set("en")))))
    assert((scanned, total) === (1, 2))
    assert(rel.count() === 2L)
    // partitioned OVERWRITE replaces the whole table, still path-laid-out
    Seq((9L, "fr")).toDF("id", "lang").write.format("txlog")
      .mode("overwrite").partitionBy("lang").save(t)
    assert(TxLog.partitionValues(t, "lang") === Seq("fr"))
    assert(strictScan(t, Prune(parts = Seq("lang" -> None)))._1.count() === 1L)
  }

  test("df.write.format(\"txlog\").option(\"statsCols\"): skipping stats ride the writer API") {
    val t = freshTable()
    Seq((1L, 100L), (2L, 200L)).toDF("a", "b").write.format("txlog")
      .option("statsCols", "a,b").save(t)
    Seq((50L, 5000L)).toDF("a", "b").write.format("txlog")
      .mode("append").option("statsCols", "a,b").save(t)
    graft.sources.TxLogBatchSource.lastPrune = None
    // pushdown on the SECOND tracked column prunes via the manifest
    assert(spark.read.format("txlog").load(t)
      .filter(col("b") >= 4000L).count() === 1L)
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 2)))
  }

  test("df.write.format(\"txlog\").partitionBy(a, b): nested layout, per-level pruning, statsCols coexist") {
    val t = freshTable()
    val df = Seq(
      (1L, "US", "B1", 10L), (2L, "US", "B2", 20L),
      (3L, "DE", "B1", 30L), (4L, "DE", "B2", 40L), (5L, "US", "B1", 50L)
    ).toDF("id", "country", "visa", "score")
    df.write.format("txlog").mode("append")
      .partitionBy("country", "visa").option("statsCols", "score").save(t)
    assert(TxLog.currentVersion(t) === 1L, "one atomic manifest for all leaves")
    // level-1 pruning: country=US reads 2 of 4 leaves, path-decided
    val (us, s1, t1) =
      strictScan(t, Prune(parts = Seq("country" -> Some(Set("US")), "visa" -> None)))
    assert((s1, t1) === (2, 4))
    assert(us.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 5L))
    assert(us.columns.toSet === Set("id", "country", "visa", "score"),
      "both partition columns re-derive from the path")
    // level-2 pruning: (US, B1) is exactly one leaf
    val (leaf, s2, t2) = strictScan(t,
      Prune(parts = Seq("country" -> Some(Set("US")), "visa" -> Some(Set("B1")))))
    assert((s2, t2) === (1, 4))
    assert(leaf.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 5L))
    // per-LEAF stats on the NON-partition column drive manifest skipping
    // through the format read: score >= 45 overlaps only US/B1's [10,50]
    graft.sources.TxLogBatchSource.lastPrune = None
    assert(spark.read.format("txlog").load(t)
      .filter(col("score") >= 45L).count() === 1L)
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 4)))
    // two-level OVERWRITE swaps the whole live set in one CAS commit
    Seq((9L, "FR", "B9", 90L)).toDF("id", "country", "visa", "score")
      .write.format("txlog").mode("overwrite")
      .partitionBy("country", "visa").option("statsCols", "score").save(t)
    val (all, s3, t3) = strictScan(t, Prune(parts = Seq("country" -> None, "visa" -> None)))
    assert((s3, t3) === (1, 1))
    assert(all.select("id").as[Long].head() === 9L)
    // statsCols naming a partition column is refused, not silently wrong
    intercept[IllegalArgumentException] {
      df.write.format("txlog").mode("append")
        .partitionBy("country", "visa").option("statsCols", "country").save(t)
    }
  }

  test("partition-wise manifest aggregates answer with zero file scans (r13 item 5)") {
    val t = freshTable()
    Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L), (4L, "fr", 40L))
      .toDF("id", "lang", "v")
      .write.format("txlog").partitionBy("lang").option("statsCols", "id").save(t)
    graft.plans.ManifestCountRule.install(spark)
    val rel = spark.read.format("txlog").load(t)
    // the format read now exposes the partition column (path-derived)
    assert(rel.columns.toSet === Set("id", "v", "lang"))
    // count(*) GROUP BY partition col: one local row per value, no scan
    graft.plans.ManifestCountRule.lastAnswered = None
    val grouped = rel.groupBy("lang").count().orderBy("lang").collect()
    assert(grouped.map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("de", 1L), ("en", 2L), ("fr", 1L)))
    assert(graft.plans.ManifestCountRule.lastAnswered === Some((t, 4L)),
      "the group-by must have been answered from the manifest")
    // count/min/max under a partition-key equality: the slice's stats fold
    graft.plans.ManifestCountRule.lastAnswered = None
    val row = rel.filter(col("lang") === "en")
      .agg(count(lit(1)), min("id"), max("id")).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((2L, 1L, 3L)))
    assert(graft.plans.ManifestCountRule.lastAnswered === Some((t, 2L)))
    // empty slice: SQL semantics (count 0, NULL min), still no scan
    graft.plans.ManifestCountRule.lastAnswered = None
    val z = rel.filter(col("lang") === "zz").agg(count(lit(1)), min("id")).head()
    assert(z.getLong(0) === 0L && z.isNullAt(1))
    assert(graft.plans.ManifestCountRule.lastAnswered === Some((t, 0L)))
    // a non-answerable aggregate still scans — path-pruned to the leaf
    graft.sources.TxLogBatchSource.lastPrune = None
    assert(rel.filter(col("lang") === "en").agg(sum("v")).head().getLong(0) === 40L)
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 3)))
  }

  test("batch readChangeFeed: rename-aligned change rows, bounded version range") {
    val t = freshTable()
    TxLog.append(Seq((1L, 10L)).toDF("k", "v"), t)                // v1: physical "v"
    TxLog.renameColumn(spark, t, "v", "amt")                      // v2
    TxLog.append(Seq((2L, 20L)).toDF("k", "amt"), t)              // v3
    TxLog.mergeDv(spark, Seq((1L, 11L)).toDF("k", "amt"), t, "k") // v4: update
    val all = spark.read.format("txlog")
      .option("readChangeFeed", true).option("cdcKey", "k").load(t)
    assert(all.columns.toSeq === Seq("k", "amt", "_change_type", "_commit_version"))
    // v1's segment physically stores "v": the walk aligns it to the
    // pinned "amt"; the merge shows as a pre/post pair
    assert(all.as[(Long, Long, String, Long)].collect().toSet === Set(
      (1L, 10L, "insert", 1L), (2L, 20L, "insert", 3L),
      (1L, 10L, "update_preimage", 4L), (1L, 11L, "update_postimage", 4L)))
    // bounded range reads only (3, 4]
    val range = spark.read.format("txlog").option("readChangeFeed", true)
      .option("startingVersion", 3).option("cdcKey", "k").load(t)
    assert(range.count() === 2L)
  }

  test("analyze MERGES per-segment stats: prior columns and blooms survive (r13 ADVICE)") {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L), t, WriteSpec(bloomCol = Some("k"))) // v1: bloom on k
    // v2: analyze a DIFFERENT column — must not clobber k's record
    TxLog.analyze(spark, t, Seq("v"), force = true)
    val s = TxLog.liveFilesWithStats(t).flatMap(_._2).head
    assert(s.statsFor("k").exists(_.bloomHex.nonEmpty),
      "the write-time bloom must survive an analyze of another column")
    assert(s.statsFor("v").exists(cs => cs.min == 10L && cs.max == 20L))
    // the preserved bloom still prunes point lookups
    val (_, scanned, total) = strictScan(t, Prune.point("k", 1L))
    assert((scanned, total) === (1, 1))
    // re-analyzing k itself refreshes values but keeps the bloom
    TxLog.analyze(spark, t, Seq("k"), force = true)
    val s2 = TxLog.liveFilesWithStats(t).flatMap(_._2).head
    assert(s2.statsFor("k").exists(cs => cs.bloomHex.nonEmpty && cs.ndv.contains(2L)))
    assert(s2.statsFor("v").nonEmpty, "v's analyze stats survive k's re-analyze")
  }

  test("overwrite + statsCols records skipping stats on the replacement (r13 ADVICE)") {
    val t = freshTable()
    rows(1L -> 10L).write.format("txlog").save(t)
    Seq((100L, 1L), (200L, 2L)).toDF("k", "v").write.format("txlog")
      .mode("overwrite").option("statsCols", "k").save(t)
    assert(TxLog.tableMinMax(t, "k") === Some((100L, 200L)))
    assert(TxLog.tableRowCount(t) === Some(2L))
  }

  test("analyze retro-fits multi-column stats as a pure metadata commit") {
    val t = freshTable()
    TxLog.append(Seq((1L, 100L), (2L, 200L)).toDF("a", "b"), t)  // v1, no stats
    TxLog.append(Seq((50L, 5000L)).toDF("a", "b"), t)            // v2, no stats
    assert(TxLog.tableRowCount(t) === None, "plain appends carry no stats")
    def dataFiles() = {
      val s = Files.walk(Paths.get(t, "data"))
      try s.filter(_.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val before = dataFiles()
    assert(TxLog.analyze(spark, t, Seq("a", "b")) === 3L)
    assert(dataFiles() === before, "analyze must not move a byte of data")
    // the full CBO/skipping surface answers on a never-appendWithStats table
    assert(TxLog.tableRowCount(t) === Some(3L))
    assert(TxLog.tableMinMax(t, "b") === Some((100L, 5000L)))
    assert(TxLog.ndvBounds(t, "a") === Some((2L, 3L)))
    assert(TxLog.estimatedRangeRows(t, "b", 0L, 10000L).exists(_ > 2.9))
    assert(TxLog.scan(spark, t, longRange("b", 0L, 300L)).scanned === 1)
    // nothing left to analyze: no new commit published
    assert(TxLog.analyze(spark, t, Seq("a", "b")) === 3L)
    assert(TxLog.currentVersion(t) === 3L)
    // history stays honest: before the analyze, stats did not exist
    assert(TxLog.tableRowCount(t, Some(2L)) === None)
    // the stream source classifies 'analyze' as metadata (no re-emission)
    val got = TxLog.readManifest(t, 3L)
    assert(got.op === "analyze" && got.adds.isEmpty && got.removes.isEmpty)
  }

  test("count(*) over format(\"txlog\") answers from the manifest alone") {
    val t = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L), t, WriteSpec(statsCols = Seq("k")))
    TxLog.write(rows(3L -> 30L), t, WriteSpec(statsCols = Seq("k")))
    graft.plans.ManifestCountRule.lastAnswered = None
    val df = spark.read.format("txlog").load(t)
    assert(df.count() === 3L)
    assert(graft.plans.ManifestCountRule.lastAnswered === Some((t, 3L)),
      "the rule must have answered (no segment opened)")
    // min/max of the tracked LONG column answer from the manifest too
    graft.plans.ManifestCountRule.lastAnswered = None
    val mm = df.agg(org.apache.spark.sql.functions.min("k"),
      org.apache.spark.sql.functions.max("k"),
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))).head()
    assert((mm.getLong(0), mm.getLong(1), mm.getLong(2)) === ((1L, 3L, 3L)))
    assert(graft.plans.ManifestCountRule.lastAnswered.nonEmpty,
      "min/max over tracked columns must answer from the manifest")
    // min/max of an UNTRACKED column must scan, not guess
    graft.plans.ManifestCountRule.lastAnswered = None
    assert(df.agg(org.apache.spark.sql.functions.max("v")).head().getLong(0) === 30L)
    assert(graft.plans.ManifestCountRule.lastAnswered === None)
    // the optimized plan IS metadata: a local relation, no scan node
    val counted = df.groupBy().count()
    assert(counted.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "count(*) must plan as a LocalRelation")
    // a standing deletion vector makes segment counts a lie — the rule
    // must step aside and the scan must answer
    TxLog.deleteWhere(spark, t, col("k") === 1L)
    graft.plans.ManifestCountRule.lastAnswered = None
    assert(spark.read.format("txlog").load(t).count() === 2L)
    assert(graft.plans.ManifestCountRule.lastAnswered === None,
      "a DV in force must disable the manifest answer")
    // a FILTERED count never short-circuits
    assert(spark.read.format("txlog").load(t).filter(col("k") > 2L).count() === 1L)
  }

  test("change feed reads a merge commit from write-time artifacts: zero base segments") {
    val t = freshTable()
    TxLog.append(rows((1L to 200L).map(k => k -> k * 10L): _*), t) // v1
    val baseSegs = TxLog.liveFiles(t).map(Paths.get(_).toAbsolutePath.toString)
    TxLog.mergeDv(spark,
      rows(3L -> 333L, 6L -> 666L, 201L -> 2010L), t, "k")         // v2
    val m = TxLog.readManifest(t, 2L)
    assert(m.changeDeleteSrcs.nonEmpty && m.changeInsertSrcs.nonEmpty,
      "the DV merge must persist its change artifacts in the commit")
    // PLAN PIN: the merge commit's feed range opens ONLY the artifacts —
    // not one pre-merge base segment (the O(changes) contract)
    val feed = graft.sources.TxLogCdf.changeFrame(spark, t, 1L, 2L, Some("k"))
    val scanned = feed.inputFiles.map(Paths.get(_).toAbsolutePath.toString)
    assert(scanned.nonEmpty, "the feed must scan the persisted artifacts")
    assert(!scanned.exists(f => baseSegs.exists(s => f.startsWith(s))),
      s"feed opened base segments:\n${scanned.mkString("\n")}")
    // correctness: 2 update pairs + 1 insert, exact pre/post images
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("update_preimage" -> 2L, "update_postimage" -> 2L,
      "insert" -> 1L))
    val post = feed.filter(col("_change_type") === "update_postimage")
      .select("k", "v").as[(Long, Long)].collect().toMap
    assert(post === Map(3L -> 333L, 6L -> 666L))
    // deleteWhere persists too: its feed range also opens zero base segs
    TxLog.deleteWhere(spark, t, col("k") === 10L)                  // v3
    val m3 = TxLog.readManifest(t, 3L)
    assert(m3.changeDeleteSrcs.nonEmpty && m3.changeInsertSrcs.isEmpty)
    val feed3 = graft.sources.TxLogCdf.changeFrame(spark, t, 2L, 3L, None)
    val scanned3 = feed3.inputFiles.map(Paths.get(_).toAbsolutePath.toString)
    assert(!scanned3.exists(f => baseSegs.exists(s => f.startsWith(s))))
    assert(feed3.select("k", "_change_type").as[(Long, String)].collect()
      .toSeq === Seq(10L -> "delete"))
    // the enriched DV chain still anti-joins correctly and compacts
    // back to a coordinate-only vector
    assert(TxLog.snapshot(spark, t).count() === 200L) // 200 +1 ins -1 del
    val cv = TxLog.compactDv(spark, t)
    val folded = spark.read.parquet(TxLog.tableState(t).dv.head)
    assert(folded.columns.toSet === Set("file_path", "row_index"),
      "compactDv must fold enriched entries to the coordinate schema")
    assert(TxLog.snapshot(spark, t, Some(cv)).count() === 200L)
  }

  test("copy-on-write merge persists change-sized artifacts beside the rewrite") {
    val t = freshTable()
    TxLog.append(rows((1L to 100L).map(k => k -> k): _*), t)       // v1
    val baseSegs = TxLog.liveFiles(t).map(Paths.get(_).toAbsolutePath.toString)
    TxLog.merge(spark, rows(7L -> 700L, 7000L -> 1L), t, "k")      // v2
    val m = TxLog.readManifest(t, 2L)
    assert(m.changeDeleteSrcs.size === 1 && m.changeInsertSrcs.size === 1)
    // the artifacts are change-sized, NOT the staged full rewrite
    assert(!m.changeInsertSrcs.exists(m.adds.contains),
      "CoW post-image source must be the updates frame, not the rewritten table")
    val feed = graft.sources.TxLogCdf.changeFrame(spark, t, 1L, 2L, Some("k"))
    val scanned = feed.inputFiles.map(Paths.get(_).toAbsolutePath.toString)
    assert(!scanned.exists(f => baseSegs.exists(s => f.startsWith(s))),
      "CoW merge feed must read artifacts, not the old or new table")
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "insert" -> 1L))
    // vacuum keeping only the head must RETAIN the artifacts (the feed
    // at the head still reads them)
    TxLog.vacuum(t, keepVersionsFrom = 2L, minAgeMillis = 0L)
    assert(graft.sources.TxLogCdf.changeFrame(spark, t, 1L, 2L, Some("k"))
      .count() === 3L, "vacuum must not collect referenced change artifacts")
  }

  test("feed over a 1000-commit history: O(rewrites) plan, sub-second resolution") {
    val t = freshTable()
    // 8 real appends interleaved into a 1000-commit log padded with
    // content-neutral metadata commits (pure manifest writes)
    (1 to 8).foreach(i => TxLog.append(rows(i.toLong -> i.toLong), t))
    (1 to 991).foreach(_ =>
      TxLog.commit(t, "analyze", Seq.empty, Seq.empty, TxLog.currentVersion(t)))
    TxLog.mergeDv(spark, rows(1L -> 111L), t, "k")
    val head = TxLog.currentVersion(t)
    assert(head === 1000L)
    val t0 = System.nanoTime()
    val feed = graft.sources.TxLogCdf.changeFrame(spark, t, 0L, head, None)
    val plan = feed.queryExecution.executedPlan.toString
    val built = (System.nanoTime() - t0) / 1e9
    assert(built < 2.0,
      f"feed construction over 1000 commits took $built%.2f s driver-side")
    // plan size: ONE coalesced scan for all 8 appends (+ the merge's
    // artifact scans) — never one branch per commit
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 12, s"feed plan has $scans scans — not O(rewrites):\n" +
      plan.take(1200))
    // versions come from the uuid→version map: every append attributed
    val got = feed.groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 8L).map(_ -> 1L).toMap ++
      Map(head -> 2L) // merge: 1 delete + 1 insert (no cdcKey pairing)
    assert(got === expected)
  }

  test("partition values round-trip Hive escaping and NULL end to end") {
    val t = freshTable()
    val df = Seq((1L, "a:b"), (2L, "x%y"), (3L, "plain"), (4L, null))
      .toDF("k", "lang")
    // stats-recording write so the manifest GROUP BY below can answer
    // (plain appendPartitioned records no per-leaf row counts)
    TxLog.write(df, t, WriteSpec(partitionBy = Seq("lang"), statsCols = Seq("k")))
    // the format read returns the LOGICAL values, null included,
    // under a nullable partition column
    val rel = spark.read.format("txlog").load(t)
    assert(rel.schema("lang").nullable)
    assert(rel.select("k", "lang").as[(Long, String)].collect().toMap ===
      Map(1L -> "a:b", 2L -> "x%y", 3L -> "plain", 4L -> null))
    // pushed equality on an escaped value prunes to its one leaf and
    // returns the matching rows (pre-fix: compared against 'a%3Ab',
    // pruned everything, silently returned zero rows)
    val one = rel.filter(col("lang") === "a:b")
    assert(one.select("k").as[Long].collect().toSeq === Seq(1L))
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 4)))
    // library surfaces: SHOW PARTITIONS unescapes (null keeps the Hive
    // sentinel), the manifest GROUP BY surfaces SQL NULL
    assert(TxLog.partitionValues(t, "lang") ===
      Seq("__HIVE_DEFAULT_PARTITION__", "a:b", "plain", "x%y"))
    assert(TxLog.partitionRowCounts(t, "lang") ===
      Some(Seq((null, 1L), ("a:b", 1L), ("plain", 1L), ("x%y", 1L))))
    graft.plans.ManifestCountRule.lastAnswered = None
    val grouped = spark.read.format("txlog").load(t)
      .groupBy("lang").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(grouped === Map(Some("a:b") -> 1L, Some("x%y") -> 1L,
      Some("plain") -> 1L, None -> 1L))
    assert(graft.plans.ManifestCountRule.lastAnswered.exists(_._1 == t),
      "the partition-wise manifest aggregate must answer, with NULL intact")
    // dynamic partition overwrite matches the ESCAPED directory
    TxLog.write(Seq((10L, "a:b")).toDF("k", "lang"), t, WriteSpec(ReplacePartition("lang", "a:b")))
    assert(spark.read.format("txlog").load(t)
      .filter(col("lang") === "a:b").select("k").as[Long].collect().toSeq ===
      Seq(10L))
    // single-level pruned read under the user value
    val (pruned, scanned, total) =
      strictScan(t, Prune(parts = Seq("lang" -> Some(Set("x%y")))))
    assert((scanned, total) === ((1, 4)) &&
      pruned.select("k").as[Long].collect().toSeq === Seq(2L))
  }

  test("evolved partitioned table: relation schema has no duplicate columns") {
    val t = freshTable()
    TxLog.write(Seq((1L, "en"), (2L, "fr")).toDF("k", "lang"), t,
      WriteSpec(partitionBy = Seq("lang")))
    // evolve records a schema that NAMES the partition column (the shape
    // validateWrite requires for partitioned appends after evolution)
    TxLog.evolve(t, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType))))
    val rel = spark.read.format("txlog").load(t)
    assert(rel.schema.fieldNames.toSeq.sorted === Seq("extra", "k", "lang"),
      s"duplicate or missing columns: ${rel.schema.fieldNames.mkString(",")}")
    // the read still re-derives partition values from the path (the
    // recorded schema's null-filled column is replaced, not duplicated)
    assert(rel.select("k", "lang").as[(Long, String)].collect().toMap ===
      Map(1L -> "en", 2L -> "fr"))
  }

  test("change feed of a first-commit overwrite emits inserts, not an error") {
    val t = freshTable()
    rows(1L -> 10L, 2L -> 20L).write.format("txlog").mode("overwrite").save(t)
    assert(TxLog.readManifest(t, 1L).op === "overwrite")
    val feed = spark.read.format("txlog").option("readChangeFeed", true).load(t)
    assert(feed.select("k", "_change_type").as[(Long, String)].collect()
      .sortBy(_._1).toSeq === Seq(1L -> "insert", 2L -> "insert"))
  }

  test("a schema-metadata key named 'ts' cannot shadow the commit time") {
    val t = freshTable()
    TxLog.init(t)
    // a pre-r13-shaped manifest (no trailing ts) whose embedded schema
    // JSON carries a metadata key "ts" — the fast scan must reject the
    // mid-body match and fall back (full parse → no ts → file mtime)
    val json = """{"version":1,"op":"append","adds":[],"removes":[],""" +
      """"readVersion":0,"stats":{},"schema":{"type":"struct","fields":""" +
      """[{"name":"a","type":"long","nullable":true,"metadata":{"ts":123}}]}}"""
    val p = Paths.get(t, "_txlog", f"${1L}%020d.json")
    Files.writeString(p, json)
    val mtime = Files.getLastModifiedTime(p).toMillis
    assert(TxLog.versionAtTimestamp(t, mtime) === 1L)
    // pre-fix the bogus 123 was parsed as the commit time and this cut
    // resolved v1; now nothing is committed at or before t=124
    intercept[IllegalArgumentException] {
      TxLog.versionAtTimestamp(t, 124L)
    }
  }

  test("timestamp-bounded feed: versionBefore cuts are exclusive and total") {
    val t = freshTable()
    val v1 = TxLog.append(rows(1L -> 10L), t)
    val v2 = TxLog.append(rows(2L -> 20L), t)
    Seq(v1 -> 1000000L, v2 -> 2000000L).foreach { case (v, ts) =>
      val p = Paths.get(t, "_txlog", f"$v%020d.json")
      Files.writeString(p, Files.readString(p)
        .replaceAll("\"ts\":\\d+", s""""ts":$ts"""))
    }
    assert(TxLog.versionBefore(t, 500000L) === 0L)   // predates: full feed
    assert(TxLog.versionBefore(t, 1000000L) === 0L)  // exact stamp included
    assert(TxLog.versionBefore(t, 1500000L) === 1L)
    assert(TxLog.versionBefore(t, 3000000L) === 2L)
    val mid = spark.read.format("txlog")
      .option("readChangeFeed", true)
      .option("startingTimestamp", 1500000L)
      .option("endingTimestamp", 2500000L).load(t)
    assert(mid.select("k", "_commit_version").as[(Long, Long)].collect()
      .toSeq === Seq(2L -> 2L))
  }

  private def strRows(xs: (String, Long)*) =
    xs.toSeq.toDF("name", "v")

  test("string stats: strMin/strMax round-trip the manifest and prune string ranges") {
    val t = freshTable()
    TxLog.write(strRows("apple" -> 1L, "cherry" -> 2L), t, WriteSpec(statsCols = Seq("name")))
    TxLog.write(strRows("mango" -> 3L, "peach" -> 4L), t, WriteSpec(statsCols = Seq("name")))
    // recorded bounds are the exact lexicographic min/max per segment
    val per = TxLog.liveFilesWithStats(t).flatMap(_._2)
      .flatMap(_.statsFor("name")).sortBy(_.strMin)
    assert(per.map(s => (s.strMin.get, s.strMax.get)) ===
      Seq(("apple", "cherry"), ("mango", "peach")))
    assert(per.forall(_.isString))
    // a range inside the second segment prunes the first from metadata
    val (df, scanned, total) = strictScan(t, Prune(strBounds = Seq(("name", Some("k"), Some("n")))))
    assert((scanned, total) === (1, 2))
    assert(df.filter(col("name") >= "k" && col("name") <= "n")
      .as[(String, Long)].collect().toSeq === Seq("mango" -> 3L))
    // the long-side answers refuse string-tracked columns; the string
    // side answers exactly
    assert(TxLog.tableMinMax(t, "name").isEmpty)
    assert(TxLog.tableMinMaxString(t, "name") === Some(("apple", "peach")))
  }

  test("format(\"txlog\") pushes string range predicates into segment skipping") {
    val t = freshTable()
    TxLog.write(strRows("alpha" -> 1L, "delta" -> 2L), t, WriteSpec(statsCols = Seq("name")))
    TxLog.write(strRows("omega" -> 3L, "sigma" -> 4L), t, WriteSpec(statsCols = Seq("name")))
    val got = spark.read.format("txlog").load(t)
      .filter(col("name") >= "n" && col("name") < "p")
      .select("name").as[String].collect().toSeq
    assert(got === Seq("omega"))
    // the scan opened ONE of the two segments — string bounds pruned
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 2)))
  }

  test("shallow clone: one manifest, shared segments, independent divergence") {
    val src = freshTable()
    TxLog.write(rows(1L -> 10L, 2L -> 20L), src, WriteSpec(statsCols = Seq("k")))
    TxLog.write(rows(3L -> 30L, 4L -> 40L), src, WriteSpec(statsCols = Seq("k")))
    val dst = freshTable()
    assert(TxLog.cloneShallow(spark, src, dst) === 1L)
    // zero data bytes moved: the clone's first commit REFERENCES the
    // source's live segments and carries their stats
    assert(TxLog.readManifest(dst, 1L).adds.toSet === TxLog.liveFiles(src).toSet)
    assert(TxLog.tableRowCount(dst) === Some(4L))
    assert(TxLog.tableMinMax(dst, "k") === Some((1L, 4L)))
    assert(TxLog.snapshot(spark, dst).as[(Long, Long)].collect().sorted ===
      TxLog.snapshot(spark, src).as[(Long, Long)].collect().sorted)
    // divergence is isolated both ways
    TxLog.deleteWhere(spark, dst, col("k") % 2 === 0)
    TxLog.append(rows(9L -> 90L), src)
    assert(TxLog.snapshot(spark, dst).as[(Long, Long)].collect().sorted.toSeq ===
      Seq(1L -> 10L, 3L -> 30L))
    assert(TxLog.snapshot(spark, src).count() === 5L)
    // cloning onto an existing table refuses
    intercept[IllegalArgumentException] { TxLog.cloneShallow(spark, src, dst) }
  }

  test("copyInto ingests each file exactly once across overlapping, racing calls") {
    val land = Files.createTempDirectory("txlog-land-")
    val mk = (b: Long) => {
      val f = land.resolve(s"f$b").toString
      rows(b * 10 -> b).write.parquet(f)
      f
    }
    val files = (1L to 3L).map(mk)
    val t = freshTable()
    val (v1, in1) = TxLog.copyInto(spark, t, files.take(2))
    assert(v1 === 1L && in1.size === 2)
    // overlapping listing: only the new file loads
    val (v2, in2) = TxLog.copyInto(spark, t, files)
    assert(v2 === 2L && in2 === Seq(files(2)))
    // full re-run: pure no-op, no commit
    val (v3, in3) = TxLog.copyInto(spark, t, files)
    assert(v3 === 2L && in3.isEmpty)
    assert(TxLog.snapshot(spark, t).count() === 3L)
    // two racers over the SAME new file: exactly one commit lands
    val f4 = mk(4L)
    val results = (1 to 2).map { _ =>
      new java.util.concurrent.FutureTask(
        () => TxLog.copyInto(spark, t, Seq(f4)))
    }
    results.foreach(new Thread(_).start())
    val ingested = results.map(_.get()).flatMap(_._2)
    assert(ingested === Seq(f4), s"double ingest: $ingested")
    assert(TxLog.snapshot(spark, t).count() === 4L)
  }

  test("compactPartition rewrites one partition, preserves others' segments AND deletes") {
    val t = freshTable()
    // two partitions, two segments each
    Seq((1L, "en"), (2L, "en")).toDF("n", "lang")
      .write.format("txlog").partitionBy("lang").mode("append").save(t)
    Seq((3L, "en"), (4L, "de")).toDF("n", "lang")
      .write.format("txlog").partitionBy("lang").mode("append").save(t)
    Seq((5L, "de")).toDF("n", "lang")
      .write.format("txlog").partitionBy("lang").mode("append").save(t)
    // a DV delete crossing BOTH partitions
    graft.ops.TxLog.deleteWhere(spark, t,
      org.apache.spark.sql.functions.expr("n IN (2, 4)"))
    val deSegs = TxLog.liveFiles(t).filter(_.contains("lang=de")).toSet
    assert(TxLog.liveFiles(t).count(_.contains("lang=en")) === 2)
    // partition-scoped optimize via the SQL spelling
    val v = spark.sql(s"OPTIMIZE '$t' WHERE lang = 'en'").head().getLong(0)
    assert(v === 5L && TxLog.readManifest(t, 5L).op === "optimize")
    // en collapsed to ONE segment (delete of n=2 materialized); de's
    // segments byte-identical AND its delete (n=4) still in force
    assert(TxLog.liveFiles(t).count(_.contains("lang=en")) === 1)
    assert(deSegs.subsetOf(TxLog.liveFiles(t).toSet))
    assert(TxLog.partitionLayout(t) === Seq("lang"))
    val got = spark.read.format("txlog").load(t).select("n", "lang")
      .as[(Long, String)].collect().sorted.toSeq
    assert(got === Seq(1L -> "en", 3L -> "en", 5L -> "de"))
    // the en partition's rows came out of one file
    intercept[IllegalArgumentException] {
      TxLog.compactPartition(spark, t, "lang", "missing")
    }
  }

  test("auto-checkpoint: every 10th commit collapses the fold; resolution unchanged") {
    val t = freshTable()
    (1L to 23L).foreach(i => TxLog.append(rows(i -> i * 10), t))
    // commits 10 and 20 checkpointed without anyone asking
    assert(TxLog.checkpointVersions(t) === Seq(10L, 20L))
    // resolution through the checkpoints equals the full fold, at head
    // and across history
    assert(TxLog.snapshot(spark, t).count() === 23L)
    assert(TxLog.tableState(t) ===
      withoutCheckpoints(t)(TxLog.tableState(t)))
    assert(TxLog.snapshot(spark, t, Some(15L)).count() === 15L)
    // a checkpoint written THROUGH a prior checkpoint carries the same
    // cumulative state (the O(delta) checkpoint path)
    val dv = TxLog.deleteWhere(spark, t, col("k") <= 3L)
    assert(dv === 24L)
    assert(TxLog.snapshot(spark, t).count() === 20L)
  }

  test("writer replaceWhere swaps exactly one partition's segments") {
    val t = freshTable()
    val df = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "fr"))
      .toDF("n", "lang")
    df.write.format("txlog").partitionBy("lang").mode("append").save(t)
    val before = TxLog.liveFiles(t)
    val deSegs = before.filter(_.contains("lang=de")).toSet
    val frSegs = before.filter(_.contains("lang=fr")).toSet
    // selective overwrite: only lang=en replaced, one atomic commit
    Seq((10L, "en"), (11L, "en")).toDF("n", "lang")
      .write.format("txlog").mode("overwrite")
      .option("replaceWhere", "lang = 'en'").save(t)
    assert(TxLog.currentVersion(t) === 2L)
    val after = TxLog.liveFiles(t)
    assert(deSegs.subsetOf(after.toSet) && frSegs.subsetOf(after.toSet),
      "untouched partitions must keep their exact segments")
    assert(spark.read.format("txlog").load(t).select("n", "lang")
      .as[(Long, String)].collect().sorted.toSeq ===
      Seq(3L -> "de", 4L -> "fr", 10L -> "en", 11L -> "en"))
    // cross-partition rows refuse; non-equality predicates refuse
    intercept[IllegalArgumentException] {
      Seq((12L, "de")).toDF("n", "lang")
        .write.format("txlog").mode("overwrite")
        .option("replaceWhere", "lang = 'en'").save(t)
    }
    intercept[IllegalArgumentException] {
      Seq((12L, "en")).toDF("n", "lang")
        .write.format("txlog").mode("overwrite")
        .option("replaceWhere", "lang > 'a'").save(t)
    }
  }

  test("batch CDF read prunes to the required columns through the relation seam") {
    val t = freshTable()
    TxLog.append(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "tag"), t)
    TxLog.mergeDv(spark, Seq((2L, 22L, "b2")).toDF("k", "v", "tag"), t, "k")
    val feed = spark.read.format("txlog").option("readChangeFeed", true).load(t)
    // a narrow projection reaches the relation as the pruned column set
    val got = feed.select("k", "_change_type").as[(Long, String)]
      .collect().sorted.toSeq
    assert(graft.sources.TxLogCdfRelation.lastRequired.map(_.toSet) ===
      Some(Set("k", "_change_type")))
    // v1 inserts both keys; v2's merge adds k=2's delete + re-insert pair
    assert(got === Seq((1L, "insert"), (2L, "delete"), (2L, "insert"),
      (2L, "insert")))
    // the full read still answers every column
    assert(feed.columns.toSeq ===
      Seq("k", "v", "tag", "_change_type", "_commit_version"))
    assert(feed.count() === 4L)
  }

  test("clone inherits the source's drop history: resurrection guard holds on the clone") {
    val src = freshTable()
    spark.range(3).selectExpr("id AS k", "id * 10 AS v", "CAST(id AS STRING) AS tag")
      .write.format("txlog").mode("append").save(src)
    TxLog.dropColumn(spark, src, "tag") // v2 — the v1 segment keeps the bytes
    val dst = freshTable()
    TxLog.cloneShallow(spark, src, dst)
    // the clone references the pre-drop segment; re-adding 'tag' there
    // would resurrect the source's old values — refused, exactly like
    // the same evolve on the source (ADVICE r15, medium)
    val schema = org.apache.spark.sql.types.StructType(
      TxLog.recordedSchema(dst).get.fields :+
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType, nullable = true))
    val e = intercept[IllegalArgumentException] { TxLog.evolve(dst, schema) }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    // after a compact (clone-local rewrite) the name is free again
    TxLog.compact(spark, dst)
    assert(TxLog.evolve(dst, schema) > 0L)
    assert(TxLog.snapshot(spark, dst).select("tag").na.drop().count() === 0L)
  }

  test("copyInto canonicalizes local source paths before the ledger") {
    val land = Files.createTempDirectory("txlog-canon-")
    val f = land.resolve("f1").toString
    rows(1L -> 10L).write.parquet(f)
    val t = freshTable()
    val (v1, in1) = TxLog.copyInto(spark, t, Seq(f))
    assert(v1 === 1L && in1.size === 1)
    // the same file as non-canonical variants: dot segment, doubled
    // separator, parent hop — all resolve to the ledger identity, no
    // re-ingest (pre-fix each variant duplicated the rows — ADVICE r15)
    val variants = Seq(
      land.resolve("./f1").toString,
      land.toString + "//f1",
      land.resolve("sub/../f1").toString)
    variants.foreach { p =>
      val (_, ingested) = TxLog.copyInto(spark, t, Seq(p))
      assert(ingested.isEmpty, s"variant $p re-ingested")
    }
    assert(TxLog.snapshot(spark, t).count() === 1L)
  }

  test("writer mergeSchema: additive append auto-evolves; type change still refuses") {
    val t = freshTable()
    rows(1L -> 10L).write.format("txlog").mode("append").save(t)
    // with mergeSchema the new column and the data land in ONE atomic
    // append_evolve commit (ADVICE r15) — the schema records, so write
    // validation is in force after
    rows(2L -> 20L).withColumn("tag", lit("x"))
      .write.format("txlog").mode("append")
      .option("mergeSchema", "true").save(t)
    assert(TxLog.currentVersion(t) === 2L) // one commit, not evolve+append
    assert(TxLog.readManifest(t, 2L).op === "append_evolve")
    // a case-variant spelling of an existing column is NOT a new column
    // under default (case-insensitive) resolution: it must not evolve a
    // duplicate (ADVICE r15) — the write refuses through validation
    // instead of silently forking the schema
    intercept[Exception] {
      rows(3L -> 30L).withColumnRenamed("v", "V")
        .write.format("txlog").mode("append")
        .option("mergeSchema", "true").save(t)
    }
    assert(TxLog.recordedSchema(t).get.fieldNames.count(
      _.equalsIgnoreCase("v")) === 1)
    val got = TxLog.snapshot(spark, t).as[(Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 10L, None), (2L, 20L, Some("x"))))
    // once a schema is recorded, a further new column WITHOUT the option
    // refuses (evolution stays explicit)
    val unknown = intercept[Exception] {
      rows(4L -> 40L).withColumn("extra", lit(1L))
        .write.format("txlog").mode("append").save(t)
    }
    assert(unknown.getMessage.contains("evolve"), unknown.getMessage)
    // non-additive (type change) refuses through the write validation
    val e = intercept[Exception] {
      spark.range(1).selectExpr("CAST(3 AS STRING) AS k", "CAST(30 AS BIGINT) AS v")
        .write.format("txlog").mode("append")
        .option("mergeSchema", "true").save(t)
    }
    assert(e.getMessage.contains("incompatible") ||
      e.getMessage.contains("records"), e.getMessage)
  }

  test("string-key bloom: point lookup prunes interleaved segments; long probe never consults it") {
    val t = freshTable()
    // interleaved name ranges: both segments span a..z, only the bloom prunes
    TxLog.write(strRows("alpha" -> 1L, "zeta" -> 2L), t, WriteSpec(bloomCol = Some("name")))
    TxLog.write(strRows("beta" -> 3L, "zulu" -> 4L), t, WriteSpec(bloomCol = Some("name")))
    val per = TxLog.liveFilesWithStats(t).flatMap(_._2)
    assert(per.forall(s => s.isString && s.bloomHex.nonEmpty))
    val (df, scanned, total) = strictScan(t, Prune.point("name", "beta"))
    assert((scanned, total) === (1, 2))
    assert(df.filter(col("name") === "beta").as[(String, Long)].collect()
      .toSeq === Seq("beta" -> 3L))
    // a definitively-absent key prunes everything — the require is the
    // loud contract, never a silent wrong answer
    intercept[IllegalArgumentException] {
      strictScan(t, Prune.point("name", "missing-key"))
    }
    // the LONG probe must not consult string-hashed bounds or bloom:
    // conservative full scan, not a false prune
    val (_, scannedLong, totalLong) = strictScan(t, Prune.point("name", 42L))
    assert((scannedLong, totalLong) === (2, 2))
  }

  test("updateWhere: merge-on-read post-images, type/constraint gates, CAS conflict") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), t)
    TxLog.addConstraint(spark, t, "v_pos", "v >= 0")
    val before = TxLog.liveFiles(t).toSet
    // assignments cast back to the column's recorded type (the 0.5 sums
    // as a LONG post-image), matched rows DV-marked, nothing rewritten
    val v = TxLog.updateWhere(spark, t, col("k") % 2 === 1,
      Seq("v" -> (col("v") + lit(1.5))))
    assert(v === 3L)
    val m = TxLog.readManifest(t, 3L)
    assert(m.op === "update" && m.removes.isEmpty && m.dv.size === 1 &&
      m.adds.size === 1)
    assert(before.subsetOf(TxLog.liveFiles(t).toSet))
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().sorted.toSeq ===
      Seq(1L -> 11L, 2L -> 20L, 3L -> 31L))
    // a second update stacks on the standing DV chain (marks accumulate,
    // the first update's post-image segment is matched like any row)
    TxLog.updateWhere(spark, t, col("k") === 1L, Seq("v" -> lit(100L)))
    assert(TxLog.snapshot(spark, t).as[(Long, Long)].collect().sorted.toSeq ===
      Seq(1L -> 100L, 2L -> 20L, 3L -> 31L))
    // post-images must pass CHECK constraints — the whole statement refuses
    val bad = intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, t, col("k") === 2L, Seq("v" -> lit(-5L)))
    }
    assert(bad.getMessage.contains("v_pos"), bad.getMessage)
    // unknown SET column refuses
    intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, t, col("k") === 2L, Seq("nope" -> lit(1L)))
    }
  }

  test("string bounds compare in UTF8 binary order, not Java UTF-16 (supplementary planes)") {
    val t = freshTable()
    // U+E000 (private use, UTF-8 bytes EE 80 80) vs U+1F600 (emoji, F0 9F
    // 98 80): Java's UTF-16 code-unit order puts the emoji's surrogate
    // pair (\uD83D…) BELOW , Spark's UTF8 binary order puts it
    // ABOVE. Driver-side bound comparisons must use the latter — the
    // collation the bounds were recorded under and the one row-level
    // predicates evaluate in (ADVICE r15, high).
    val pua = ""
    val emojiLo = "😀" // U+1F600
    val emojiHi = "😈" // U+1F608
    TxLog.write(strRows(s"${pua}a" -> 1L, s"${pua}z" -> 2L), t, WriteSpec(statsCols = Seq("name")))
    TxLog.write(strRows(emojiLo -> 3L, emojiHi -> 4L), t, WriteSpec(statsCols = Seq("name")))
    // the table-wide MAX folds under UTF8 order: the emoji, not the PUA
    // string a Java fold would pick
    assert(TxLog.tableMinMaxString(t, "name") === Some((s"${pua}a", emojiHi)))
    // an emoji-range read prunes exactly the PUA segment (Java order kept
    // both — conservative; and under the inverse predicate it WRONGLY
    // pruned the emoji segment — see the format path below)
    val (df, scanned, total) =
      strictScan(t, Prune(strBounds = Seq(("name", Some(emojiLo), Some(emojiHi)))))
    assert((scanned, total) === (1, 2))
    assert(df.count() === 2L)
    // the wrong-answer case pre-fix: name >= '' matches ALL FOUR
    // rows, but the Java-ordered bound check concluded the emoji
    // segment's max was below the cut and silently pruned rows 3 and 4
    val all = spark.read.format("txlog").load(t)
      .filter(col("name") >= pua).select("v").as[Long].collect().sorted.toSeq
    assert(all === Seq(1L, 2L, 3L, 4L))
    // and the pushed emoji bound still PRUNES (skipping stays effective)
    val hi = spark.read.format("txlog").load(t)
      .filter(col("name") >= emojiLo).select("v").as[Long].collect().sorted.toSeq
    assert(hi === Seq(3L, 4L))
    assert(graft.sources.TxLogBatchSource.lastPrune === Some((1, 2)))
  }

  test("analyze retro-fits string stats; compact re-records them") {
    val t = freshTable()
    TxLog.append(strRows("kiwi" -> 1L, "lime" -> 2L), t)
    assert(TxLog.tableMinMaxString(t, "name").isEmpty)
    TxLog.analyze(spark, t, Seq("name"))
    assert(TxLog.tableMinMaxString(t, "name") === Some(("kiwi", "lime")))
    // a maintenance rewrite must not shrink the string-skipping surface
    TxLog.append(strRows("pear" -> 3L), t)
    TxLog.analyze(spark, t, Seq("name"))
    TxLog.compact(spark, t)
    assert(TxLog.tableMinMaxString(t, "name") === Some(("kiwi", "pear")))
  }

  test("a table with no recorded schema whose first segment is the narrow one reads every column") {
    val t = freshTable()
    TxLog.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t)
    // no recorded schema, so the wider append is not checked against one
    TxLog.append(Seq((3L, 30L, "c"), (4L, 40L, "d")).toDF("k", "v", "tag"), t)
    assert(TxLog.recordedSchema(t).isEmpty)
    assert(spark.read.parquet(TxLog.liveFiles(t).head).columns.toSeq == Seq("k", "v"))
    def read = {
      val df = TxLog.snapshot(spark, t)
      assert(df.columns.toSeq == Seq("k", "v", "tag"))
      df.orderBy("k").as[(Long, Long, Option[String])].collect().toSeq
    }
    assert(read == Seq((1L, 10L, None), (2L, 20L, None), (3L, 30L, Some("c")), (4L, 40L, Some("d"))))
    // the deletion-vector path reads with row coordinates, under the same schema
    TxLog.deleteWhere(spark, t, $"tag" === "c")
    assert(TxLog.tableState(t).dv.nonEmpty, "the delete must land as deletion-vector marks")
    assert(read == Seq((1L, 10L, None), (2L, 20L, None), (4L, 40L, Some("d"))))
  }
}
