package graft.streaming

import graft.SparkSpec
import graft.ops.TxLog
import graft.ops.TxLog.{Mark, WriteSpec}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The `txlog-stream` source contract: commits stream exactly once in
  * version order, offsets survive restarts (a resumed query continues at
  * the committed version), maintenance commits (compact/optimize/evolve)
  * never re-emit content, and history rewrites fail loudly unless
  * `ignoreChanges` opts into re-emission.
  */
class TxLogStreamSpec extends SparkSpec {
  import spark.implicits._

  private val nameSeq = new AtomicInteger

  private def freshTable(): String =
    Files.createTempDirectory("txlog-stream-spec-").resolve("t").toString

  private def rows(xs: (Long, Long)*) = xs.toSeq.toDF("k", "v")

  /** Drain the table's pending commits via foreachBatch (the memory sink
    * refuses checkpoint recovery); returns the drained rows. Same
    * checkpoint dir across calls = a RESTART.
    */
  private def drain(table: String, checkpoint: String,
                    options: Map[String, String] = Map.empty): Seq[(Long, Long, Long)] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
    val reader = spark.readStream.format("txlog-stream")
      .option("withCommitVersion", true)
    options.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(table)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.as[(Long, Long, Long)].collect().foreach(buf.add)
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    buf.toArray(Array.empty[(Long, Long, Long)]).toSeq
  }

  test("each append commit streams exactly once, tagged with its version") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t) // v1
    TxLog.append(rows(3L -> 30L), t)            // v2
    val got = drain(t, Files.createTempDirectory("ckpt-").toString)
    assert(got.sorted.toSeq === Seq((1L, 10L, 1L), (2L, 20L, 1L), (3L, 30L, 2L)))
  }

  test("restart from checkpoint resumes at the committed version") {
    val t = freshTable()
    val ckpt = Files.createTempDirectory("ckpt-").toString
    TxLog.append(rows(1L -> 10L), t) // v1
    TxLog.append(rows(2L -> 20L), t) // v2
    assert(drain(t, ckpt).map(_._1).sorted.toSeq === Seq(1L, 2L))
    // commits landing between runs are the ONLY thing the restart emits
    TxLog.append(rows(3L -> 30L), t) // v3
    TxLog.append(rows(4L -> 40L), t) // v4
    assert(drain(t, ckpt).sorted.toSeq === Seq((3L, 30L, 3L), (4L, 40L, 4L)))
    // nothing pending → empty batch, not a re-emission
    assert(drain(t, ckpt).isEmpty)
  }

  test("compact is skipped; a fresh stream over a compacted log emits rows once") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)  // v1
    TxLog.append(rows(2L -> 20L), t)  // v2
    TxLog.compact(spark, t)           // v3: rewrites v1+v2 segments, content same
    val got = drain(t, Files.createTempDirectory("ckpt-").toString)
    // v1 and v2 segments stream (still on disk — vacuum hasn't run); the
    // compact commit contributes NOTHING, so no row appears twice
    assert(got.map(r => (r._1, r._2)).sorted.toSeq === Seq((1L, 10L), (2L, 20L)))
    assert(got.map(_._3).max === 2L, "no row may carry the compact version")
  }

  test("overwrite fails the stream; ignoreChanges re-emits the rewrite") {
    val t = freshTable()
    val ckpt = Files.createTempDirectory("ckpt-").toString
    TxLog.append(rows(1L -> 10L), t)          // v1
    assert(drain(t, ckpt).length === 1)
    TxLog.overwrite(rows(1L -> 11L, 2L -> 22L), t) // v2: history rewrite
    val ex = intercept[StreamingQueryException] { drain(t, ckpt) }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("ignoreChanges"),
      s"expected the rewrite guidance in the cause chain, got: $msgs")
    // opting in re-emits the overwrite's segments (at-least-once contract)
    val got = drain(t, ckpt, Map("ignoreChanges" -> "true"))
    assert(got.sorted.toSeq === Seq((1L, 11L, 2L), (2L, 22L, 2L)))
  }

  test("r11 commit types classify correctly: zorder/constraint skip, delete gates, merge_dv gates") {
    // z-order optimize + constraint are content-neutral: skipped, rows once
    val t = freshTable()
    TxLog.append(spark.range(16).selectExpr("id AS k", "id AS v"), t) // v1
    TxLog.addConstraint(spark, t, "v_pos", "v >= 0")                  // v2
    TxLog.compactZOrder(spark, t, "k", "v", 4)                        // v3
    val got = drain(t, Files.createTempDirectory("ckpt-").toString)
    assert(got.map(_._1).sorted.toSeq === (0L until 16L).toSeq,
      "content-neutral commits must not duplicate or drop rows")
    assert(got.map(_._3).max === 1L, "no row may carry a maintenance version")

    // a pure delete cannot be represented in an append-only stream:
    // fresh checkpoints per phase (the AvailableNow fallback trigger does
    // not reliably commit a recovered EMPTY batch before terminating, so
    // a failure-then-skip continuation on one checkpoint re-plans the
    // same range — a trigger artifact, not source semantics)
    val t2 = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t2)         // v1
    TxLog.deleteWhere(spark, t2, $"k" === 1L)            // v2 (dv only)
    val ex = intercept[StreamingQueryException] {
      drain(t2, Files.createTempDirectory("ckpt-").toString)
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("ignoreDeletes"), s"want the delete guidance, got: $msgs")
    // opting in skips the delete commit: only v1's rows stream, once
    val gotDel = drain(t2, Files.createTempDirectory("ckpt-").toString,
      Map("ignoreDeletes" -> "true"))
    assert(gotDel.sorted.toSeq === Seq((1L, 10L, 1L), (2L, 20L, 1L)),
      "ignoreDeletes skips the delete; already-emitted rows stay emitted")

    // a DV merge is rewrite-shaped: still gated by ignoreChanges even
    // with deletes ignored; opting in emits only the merge's NEW
    // segment (the updates), never the base
    TxLog.mergeDv(spark, rows(2L -> 200L, 3L -> 300L), t2, "k") // v3
    val ex2 = intercept[StreamingQueryException] {
      drain(t2, Files.createTempDirectory("ckpt-").toString,
        Map("ignoreDeletes" -> "true"))
    }
    val msgs2 = Iterator.iterate[Throwable](ex2)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs2.contains("ignoreChanges"))
    val got2 = drain(t2, Files.createTempDirectory("ckpt-").toString,
      Map("ignoreChanges" -> "true", "ignoreDeletes" -> "true"))
    assert(got2.sorted.toSeq === Seq((1L, 10L, 1L), (2L, 20L, 1L),
      (2L, 200L, 3L), (3L, 300L, 3L)))
  }

  test("Trigger.AvailableNow engages multi-batch drain to the start fence, then terminates") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t) // v1
    TxLog.append(rows(2L -> 20L), t) // v2
    TxLog.append(rows(3L -> 30L), t) // v3
    val ckpt = Files.createTempDirectory("ckpt-").toString
    val qn = s"txlog_an_${nameSeq.incrementAndGet()}"
    // maxVersionsPerTrigger=1 forces one commit per micro-batch: a drain
    // to v3 therefore REQUIRES the multi-batch AvailableNow executor. The
    // pre-r12 fallback ("does not support Trigger.AvailableNow… single
    // batch execution") would run exactly one batch and, rate-limited,
    // leave v2/v3 unprocessed — so the row assertion below is the proof
    // the source now implements SupportsTriggerAvailableNow.
    val q = spark.readStream.format("txlog-stream")
      .option("withCommitVersion", true)
      .option("maxVersionsPerTrigger", "1").load(t)
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val got = spark.table(qn).as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 30L, 3L)),
      "availableNow must drain every pre-start commit before terminating")
    assert(q.recentProgress.count(_.numInputRows > 0) === 3,
      "one commit per micro-batch under maxVersionsPerTrigger=1 — " +
        "multi-batch execution, not the single-batch fallback")
    // commits landing AFTER a run belong to the next run: restart from the
    // same checkpoint emits exactly the new commit, nothing re-emitted
    TxLog.append(rows(4L -> 40L), t) // v4
    assert(drain(t, ckpt).sorted.toSeq === Seq((4L, 40L, 4L)))
    // nothing pending → terminates with no data batch
    assert(drain(t, ckpt).isEmpty)
  }

  test("writeStream.format(\"txlog\"): one commit per micro-batch, replay-safe across restarts") {
    val src = freshTable()
    val dst = freshTable()
    TxLog.append(rows(1L -> 10L), src) // v1
    TxLog.append(rows(2L -> 20L), src) // v2
    val ckpt = Files.createTempDirectory("sink-ckpt-").toString
    def run(): Unit = {
      val q = spark.readStream.format("txlog-stream")
        .option("maxVersionsPerTrigger", 1).load(src)
        .writeStream.format("txlog")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      try q.awaitTermination() finally q.stop()
    }
    run()
    assert(TxLog.snapshot(spark, dst).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L))
    assert(TxLog.maxCommittedBatch(dst) === 1L, "two rate-limited micro-batches")
    assert(TxLog.currentVersion(dst) === 2L, "exactly one commit per batch")
    // restart on the same checkpoint with no new data: nothing re-lands
    run()
    assert(TxLog.currentVersion(dst) === 2L)
    // new source commits stream as the next batches
    TxLog.append(rows(3L -> 30L), src)
    run()
    assert(TxLog.snapshot(spark, dst).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // a zombie replay of an already-committed batch id skips
    assert(TxLog.write(rows(9L -> 90L), dst, WriteSpec(mark = Some(Mark.batch(1L)))) === -1L)
    assert(TxLog.snapshot(spark, dst).count() === 3L)
  }

  test("writeStream.format(\"txlog\").partitionBy: hive layout per micro-batch") {
    val src = freshTable()
    val dst = freshTable()
    TxLog.append(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), src)
    val q = spark.readStream.format("txlog-stream").load(src)
      .writeStream.format("txlog").partitionBy("lang")
      .option("checkpointLocation", Files.createTempDirectory("sink-ckpt-").toString)
      .trigger(Trigger.AvailableNow()).start(dst)
    try q.awaitTermination() finally q.stop()
    val sc = TxLog.scan(spark, dst, TxLog.Prune(parts = Seq("lang" -> Some(Set("en")))))
    val (rel, scanned, total) = (sc.required, sc.scanned, sc.total)
    assert((scanned, total) === (1, 2))
    assert(rel.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("stream runs THROUGH rename epochs: per-file translation, pinned output schema") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)                   // v1: physical "v"
    TxLog.renameColumn(spark, t, "v", "amt")           // v2
    TxLog.append(Seq((2L, 20L)).toDF("k", "amt"), t)   // v3: physical "amt"
    // a fresh stream pinned at head replays BOTH epochs: the v1 segment
    // reads under its physical name and aliases to the pinned "amt"
    val got = drain(t, Files.createTempDirectory("ckpt-").toString)
    assert(got.sorted.toSeq === Seq((1L, 10L, 1L), (2L, 20L, 3L)))
    // MID-STREAM rename (after the pin): batch 0 commits rename+append
    // from inside the sink; the continuing stream emits the post-rename
    // segment under the names pinned at start — output schema unchanged
    val t2 = freshTable()
    TxLog.append(rows(1L -> 10L), t2)                  // v1: physical "v"
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
    val q = spark.readStream.format("txlog-stream")
      .option("withCommitVersion", true)
      .option("maxVersionsPerTrigger", 1).load(t2)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("ckpt-").toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.as[(Long, Long, Long)].collect().foreach(buf.add)
        if (id == 0L) {
          TxLog.renameColumn(spark, t2, "v", "amt")       // v2 (after pin)
          TxLog.append(Seq((2L, 20L)).toDF("k", "amt"), t2) // v3: physical "amt"
        }
        ()
      }
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (buf.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally q.stop()
    // the post-rename row arrived under the schema pinned BEFORE the
    // rename: logical (k, v) — physical "amt" translated back
    assert(buf.toArray(Array.empty[(Long, Long, Long)]).toSeq.sorted
      === Seq((1L, 10L, 1L), (2L, 20L, 3L)))
  }

  test("rate-limited batch ending BEFORE a historical rename still translates (r13 ADVICE)") {
    // append, rename, append — then stream with maxVersionsPerTrigger=1.
    // The first micro-batch covers only (0, 1]: its end version predates
    // the rename at v2, but the schema is pinned at head (post-rename
    // "amt"), so the v1 segment's physical "v" MUST still translate. A
    // rename log truncated at the batch end would be empty here and the
    // renamed column would silently null-fill.
    val t = freshTable()
    TxLog.append(rows(1L -> 10L), t)                   // v1: physical "v"
    TxLog.renameColumn(spark, t, "v", "amt")           // v2
    TxLog.append(Seq((2L, 20L)).toDF("k", "amt"), t)   // v3: physical "amt"
    val got = drain(t, Files.createTempDirectory("ckpt-").toString,
      Map("maxVersionsPerTrigger" -> "1"))
    assert(got.sorted.toSeq === Seq((1L, 10L, 1L), (2L, 20L, 3L)),
      "the v1 row must carry its value under the pinned name, not null")
  }

  test("writeStream.format(\"txlog\").outputMode(\"update\"): merge-on-read upsert, replay-safe") {
    val src = freshTable()
    val dst = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), src)   // v1
    TxLog.append(rows(2L -> 200L, 3L -> 300L), src) // v2: k=2 updated
    val ckpt = Files.createTempDirectory("upsert-ckpt-").toString
    def run(): Unit = {
      val q = spark.readStream.format("txlog-stream")
        .option("maxVersionsPerTrigger", 1).load(src)
        .writeStream.format("txlog").outputMode("update")
        .option("mergeKey", "k")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      try q.awaitTermination() finally q.stop()
    }
    run()
    assert(TxLog.snapshot(spark, dst).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 200L, 3L -> 300L), "latest-wins upsert state")
    // batch 0 bootstrapped as an append (empty table), batch 1 as a DV merge
    assert(TxLog.readManifest(dst, 1L).op === "stream_append_b0")
    assert(TxLog.readManifest(dst, 2L).op === "stream_merge_b1")
    assert(TxLog.maxCommittedAnyBatch(dst) === 1L)
    // restart on the same checkpoint: nothing re-lands
    run()
    assert(TxLog.currentVersion(dst) === 2L)
    // zombie replays of BOTH op families skip (the dedup line spans them)
    assert(TxLog.streamingUpsert(spark, rows(9L -> 90L), dst, "k", 0L) === -1L)
    assert(TxLog.streamingUpsert(spark, rows(9L -> 90L), dst, "k", 1L) === -1L)
    assert(TxLog.snapshot(spark, dst).count() === 3L)
    // new source commits continue the line as merges
    TxLog.append(rows(1L -> 11L), src)
    run()
    assert(TxLog.snapshot(spark, dst).as[(Long, Long)].collect().toMap
      === Map(1L -> 11L, 2L -> 200L, 3L -> 300L))
  }

  test("readChangeFeed streams change rows through merge/delete commits (CDC)") {
    val t = freshTable()
    TxLog.append(rows(1L -> 10L, 2L -> 20L), t)            // v1: inserts
    TxLog.mergeDv(spark, rows(2L -> 200L, 3L -> 300L), t, "k") // v2: update + insert
    TxLog.deleteWhere(spark, t, $"k" === 1L)               // v3: delete
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Long)]
    val q = spark.readStream.format("txlog-stream")
      .option("readChangeFeed", true).option("cdcKey", "k")
      .option("withCommitVersion", true)
      .option("maxVersionsPerTrigger", 1).load(t)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdc-ckpt-").toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.as[(Long, Long, String, Long)].collect().foreach(buf.add)
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val got = buf.toArray(Array.empty[(Long, Long, String, Long)]).toSeq.sorted
    assert(got === Seq(
      (1L, 10L, "delete", 3L),            // v3 removes k=1
      (1L, 10L, "insert", 1L),
      (2L, 20L, "insert", 1L),
      (2L, 20L, "update_preimage", 2L),   // v2 rewrites k=2
      (2L, 200L, "update_postimage", 2L),
      (3L, 300L, "insert", 2L)            // v2's new key
    ).sorted, s"unexpected change feed: $got")
    // keyless mode degrades updates to delete+insert pairs, same multiset
    val buf2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]
    val q2 = spark.readStream.format("txlog-stream")
      .option("readChangeFeed", true).load(t)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdc-ckpt-").toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.as[(Long, Long, String)].collect().foreach(buf2.add)
      }
      .trigger(Trigger.AvailableNow()).start()
    try q2.awaitTermination() finally q2.stop()
    val got2 = buf2.toArray(Array.empty[(Long, Long, String)]).toSeq
    assert(got2.count(_._3 == "insert") === 4 && got2.count(_._3 == "delete") === 2)
  }

  test("schema stays pinned across an evolve; restart picks the new column up") {
    val t = freshTable()
    val ckpt = Files.createTempDirectory("ckpt-").toString
    TxLog.append(rows(1L -> 10L), t) // v1
    assert(drain(t, ckpt).length === 1)
    val evolved = org.apache.spark.sql.types.StructType(
      rows(1L -> 10L).schema.fields :+
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType, nullable = true))
    TxLog.evolve(t, evolved)                                  // v2: metadata only
    TxLog.append(Seq((2L, 20L, "b")).toDF("k", "v", "tag"), t) // v3
    // a NEW stream (fresh checkpoint) resolves the evolved schema: the
    // pre-evolve segment null-fills `tag`, the post-evolve one carries it
    val qn = s"txlog_evolved_${nameSeq.incrementAndGet()}"
    val q = spark.readStream.format("txlog-stream").load(t)
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", Files.createTempDirectory("ckpt-").toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val got = spark.table(qn).as[(Long, Long, Option[String])].collect()
    assert(got.sorted.toSeq === Seq((1L, 10L, None), (2L, 20L, Some("b"))))
  }

  test("maxFilesPerTrigger / maxBytesPerTrigger bound each micro-batch, never stall") {
    val t = freshTable()
    (1L to 4L).foreach(i => TxLog.append(rows((i, i * 10L)), t))
    def batches(options: Map[String, String]): (Long, Long) = {
      val n = new java.util.concurrent.atomic.AtomicLong
      val rowsN = new java.util.concurrent.atomic.AtomicLong
      val reader = spark.readStream.format("txlog-stream")
      options.foreach { case (k, v) => reader.option(k, v) }
      val q = reader.load(t).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val c = df.count()
          if (c > 0) n.incrementAndGet()
          rowsN.addAndGet(c); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      (n.get(), rowsN.get())
    }
    // 4 one-file commits, cap 1 file → exactly 4 micro-batches
    assert(batches(Map("maxFilesPerTrigger" -> "1")) === ((4L, 4L)))
    // a byte cap SMALLER than any commit still admits one commit per
    // trigger (at-least-one progress — the stream must never stall)
    assert(batches(Map("maxBytesPerTrigger" -> "1")) === ((4L, 4L)))
    // a huge cap drains in one batch
    assert(batches(Map("maxBytesPerTrigger" -> (64L * 1024 * 1024).toString)) === ((1L, 4L)))
    // file cap of 2 → two 2-commit batches
    assert(batches(Map("maxFilesPerTrigger" -> "2")) === ((2L, 4L)))
  }
}
