package graft.streaming

import graft.SparkSpec
import graft.ops.TxLog.{Mark, WriteSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
              value: Double, props: String)

/** Memory source → memory sink smoke test: the SAME transformation that the
  * batch-equivalent oracle queries verify, executed as an actual
  * micro-batch stream (SURVEY.md §2.9, non-oracled by design).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, typ: String, v: Double) =
    Ev(id, Timestamp.valueOf(t), id % 3, typ, v, "{}")

  private val sample = Seq(
    ev(1, "2024-01-01 00:01:00", "click", 1.0),
    ev(2, "2024-01-01 00:04:30", "click", 2.5),
    ev(3, "2024-01-01 00:11:00", "view", 4.0),
    ev(4, "2024-01-01 00:15:00", "click", 0.5),
    ev(5, "2024-01-01 00:27:00", "error", 9.0))

  test("tumbling window aggregation runs as a stream and matches its batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = Streams.tumblingStream(mem.toDF()).queryName("tumbling_smoke").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling_smoke")
      .select("w_start", "event_type", "n_events", "value_cents")
      .orderBy("w_start", "event_type").collect().toSeq
    val batch = Streams.tumblingAgg(sample.toDF())
      .select("w_start", "event_type", "n_events", "value_cents")
      .orderBy("w_start", "event_type").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("native kmv sketch aggregates inside streaming state and matches its batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // two micro-batches so the sketch buffer round-trips through the state
    // store (serialize → merge) between batches, not just within one
    mem.addData(sample.take(3): _*)
    mem.addData(sample.drop(3): _*)
    val q = Streams.kmvWindowDistinct(mem.toDF(), width = "10 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("kmv_smoke")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("kmv_smoke")
      .select("w_start", "n_events", "est_users")
      .orderBy("w_start").collect().toSeq
    val batch = Streams.kmvWindowDistinct(sample.toDF(), width = "10 minutes")
      .select("w_start", "n_events", "est_users")
      .orderBy("w_start").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // under-k windows report EXACT distinct users (sample has ≤3 users)
    assert(streamed.forall(_.getAs[Long]("est_users") <= 3))
  }

  test("dropDuplicatesWithinWatermark dedups a stream by event_id") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    mem.addData(sample.take(2): _*) // replay two duplicates
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_smoke")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("dedup_smoke").select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L)) // duplicates collapsed
  }

  test("watermark drops a too-late event and append mode emits windows once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingAppendStream(mem.toDF())
      .queryName("late_smoke").start()
    try {
      // batch 1: two events in window [00:00,00:10) + one at 00:35 that
      // will advance the watermark to 00:25 for the NEXT batch
      mem.addData(ev(1, "2024-01-01 00:01:00", "click", 1.0),
        ev(2, "2024-01-01 00:05:00", "click", 2.0),
        ev(3, "2024-01-01 00:35:00", "view", 4.0))
      q.processAllAvailable()
      // batch 2: a LATE click at 00:02 (behind the 00:25 watermark →
      // dropped) and a fresh event to run the batch
      mem.addData(ev(4, "2024-01-01 00:02:00", "click", 8.0),
        ev(5, "2024-01-01 00:36:00", "view", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_smoke")
      .select("w_start", "event_type", "n_events", "value_cents")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq
    // window [00:00,00:10) finalized by the batch-2 watermark with the
    // two ON-TIME clicks only — the late 800-cent click never lands;
    // the [00:30,00:40) window stays open (watermark < its end), so
    // nothing else has emitted yet
    assert(rows == Seq(("2024-01-01 00:00:00.0", "click", 2L, 300L)))
  }

  test("mapGroupsWithState maintains running per-user counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.runningUserCounts(spark, mem.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName("state_smoke").start()
    try {
      mem.addData(sample.take(3): _*); q.processAllAvailable()
      mem.addData(sample.drop(3): _*); q.processAllAvailable()
      // update mode: last emission per user carries the cumulative count
      val byUser = spark.table("state_smoke")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .as[(Long, Long)].collect().toMap
      // users: ids 1,4 → user 1; ids 2,5 → user 2; id 3 → user 0
      assert(byUser == Map(0L -> 1L, 1L -> 2L, 2L -> 2L))
    } finally q.stop()
  }

  test("transformWithState keeps per-key running totals in RocksDB ValueState") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // the new API requires the RocksDB provider — also the scale story
    // (off-heap state + changelog checkpointing)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = Streams.runningTotalsStream(spark, mem.toDF())
        .writeStream.outputMode("update").format("memory")
        .queryName("tws_smoke").start()
      try {
        mem.addData(sample: _*) // users 0,1,2 get ids {3}, {1,4}, {2,5}
        q.processAllAvailable()
        mem.addData(ev(7, "2024-01-01 00:40:00", "click", 2.0)) // user 1 again
        q.processAllAvailable()
      } finally q.stop()
      // update mode re-emits a key each batch it changes; the LAST row per
      // key carries the accumulated state across batches
      val last = spark.table("tws_smoke").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.last._2).toMap
      assert(last(0L) == ((1L, 400L)))          // ev 3: 4.0
      assert(last(1L) == ((3L, 350L)))          // ev 1, 4, 7: 1.0 + 0.5 + 2.0
      assert(last(2L) == ((2L, 1150L)))         // ev 2, 5: 2.5 + 9.0
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("state TTL expires an idle key: it re-initializes instead of accumulating") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ProcessingTime time mode otherwise schedules CONTINUOUS no-data
    // batches to advance the TTL clock — processAllAvailable never sees
    // a quiescent stream; expiry here is read-driven, so switch them off
    val prevNd = spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val mem = MemoryStream[(Long, Long)]
      val out = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new TtlCounterProcessor(300L),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("k", "n_live", "n_ever")
      val q = out.writeStream.outputMode("update").format("memory")
        .queryName("ttl_smoke").start()
      try {
        mem.addData((1L, 1L), (1L, 1L), (2L, 1L)) // batch 0: k1 ×2, k2 ×1
        q.processAllAvailable()
        Thread.sleep(900)                          // idle past the 300 ms TTL
        mem.addData((1L, 1L))                      // batch 1: k1 ×1
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("ttl_smoke").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.last._2).toMap
      // the TTL'd counter RE-INITIALIZED (1, not 3); the NO-ttl counter
      // on the same key accumulated (3) — the store carried, the TTL'd
      // value expired
      assert(last(1L) === ((1L, 3L)))
      assert(last(2L) === ((1L, 1L))) // untouched key keeps its batch-0 row
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevNd match {
        case Some(p) => spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", p)
        case None => spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  test("ListState keeps only the last 3 event ids per user across batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = Streams.recentEventsStream(spark, mem.toDF())
        .writeStream.outputMode("update").format("memory")
        .queryName("recent_smoke").start()
      try {
        // user 1 gets ids 1, 4 in batch 1 then 7, 10, 13 in batch 2 —
        // the buffer must trim to the LAST three across batches
        mem.addData(ev(1, "2024-01-01 00:01:00", "click", 1.0),
          ev(4, "2024-01-01 00:02:00", "click", 1.0))
        q.processAllAvailable()
        mem.addData(ev(7, "2024-01-01 00:03:00", "click", 1.0),
          ev(10, "2024-01-01 00:04:00", "click", 1.0),
          ev(13, "2024-01-01 00:05:00", "click", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("recent_smoke").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
        .groupBy(_._1).view.mapValues(_.last._2).toMap
      assert(last(1L) == ((3L, "7,10,13")))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("ListState top-k is batch-arrival-order independent (late small ids)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = Streams.recentEventsStream(spark, mem.toDF())
        .writeStream.outputMode("update").format("memory")
        .queryName("recent_ooo").start()
      try {
        // the LARGE ids arrive first; a later batch delivers only SMALLER
        // ids — append-then-trim would evict 10 and 13 in favor of the
        // late arrivals, so the retained set must be re-sorted as the
        // global top-3 by id (ADVICE r6)
        mem.addData(ev(10, "2024-01-01 00:04:00", "click", 1.0),
          ev(13, "2024-01-01 00:05:00", "click", 1.0))
        q.processAllAvailable()
        mem.addData(ev(1, "2024-01-01 00:01:00", "click", 1.0),
          ev(7, "2024-01-01 00:03:00", "click", 1.0),
          ev(4, "2024-01-01 00:02:00", "click", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("recent_ooo").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
        .groupBy(_._1).view.mapValues(_.last._2).toMap
      assert(last(1L) == ((3L, "7,10,13")),
        "top-3 by id must survive a late batch of smaller ids")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("MapState keeps a per-user event-type histogram across batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = Streams.typeHistogramStream(spark, mem.toDF())
        .writeStream.outputMode("update").format("memory")
        .queryName("hist_smoke").start()
      try {
        mem.addData(sample: _*) // user1: click,click  user2: click,error  user0: view
        q.processAllAvailable()
        mem.addData(ev(7, "2024-01-01 00:40:00", "view", 1.0)) // user 1, NEW type
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("hist_smoke").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.last._2).toMap
      assert(last(0L) == ((1L, 1L)))  // view ×1
      assert(last(1L) == ((2L, 3L)))  // click ×2 + view ×1 across batches
      assert(last(2L) == ((2L, 2L)))  // click, error
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("event-time timers close idle sessions exactly once and clear state") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = Streams.idleSessionsStream(spark, mem.toDF(), gapMs = 600000L)
        .writeStream.outputMode("append").format("memory")
        .queryName("timer_smoke").start()
      try {
        // users 1 and 2 are active early, then go idle
        mem.addData(ev(1, "2024-01-01 00:01:00", "click", 1.0),  // user 1
          ev(4, "2024-01-01 00:03:00", "click", 2.0),            // user 1
          ev(2, "2024-01-01 00:02:00", "view", 3.0))             // user 2
        q.processAllAvailable()
        // a much later event advances the watermark past their timers...
        mem.addData(ev(3, "2024-01-01 01:00:00", "click", 4.0))  // user 0
        q.processAllAvailable()
        // ...which takes effect in the NEXT batch (watermark lags a batch)
        mem.addData(ev(6, "2024-01-01 01:05:00", "click", 5.0))  // user 0
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("timer_smoke")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      // idle users emitted exactly once with their full session; user 0's
      // timer (01:05 + gap) is still ahead of the watermark → not emitted
      assert(rows.keySet == Set(1L, 2L))
      assert(rows(1L) == ((2L, Timestamp.valueOf("2024-01-01 00:03:00").getTime)))
      assert(rows(2L) == ((1L, Timestamp.valueOf("2024-01-01 00:02:00").getTime)))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("CDC latest-wins state converges across out-of-order micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.cdcLatestStream(spark,
        mem.toDF().toDF("k", "seq", "cents", "op"))
      .writeStream.outputMode("update").format("memory")
      .queryName("cdc_smoke").start()
    try {
      // batch 1: inserts + an early update for key 2
      mem.addData((1L, 0L, 100L, "I"), (2L, 0L, 200L, "I"), (2L, 1L, 250L, "U"))
      q.processAllAvailable()
      // batch 2: delete key 1, STALE replay of key 2's insert (seq 0 —
      // must NOT regress the state), new key 3
      mem.addData((1L, 2L, 0L, "D"), (2L, 0L, 200L, "I"), (3L, 0L, 300L, "I"))
      q.processAllAvailable()
      // update mode: take each key's last emission (max seq wins)
      val cur = spark.table("cdc_smoke")
        .groupBy("k").agg(max(struct("seq", "cur_cents", "last_op")).as("m"))
        .select("k", "m.cur_cents", "m.last_op")
        .as[(Long, Long, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
      assert(cur == Map(1L -> ((0L, "D")), 2L -> ((250L, "U")), 3L -> ((300L, "I"))))
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits sessions only when a later event closes them") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.closedSessions(spark, mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_smoke").start()
    try {
      // user 7: two events 3 min apart (one session), then an event 20 min
      // later that CLOSES it and opens a new one
      mem.addData(ev(7, "2024-01-01 10:00:00", "click", 1.0).copy(user_id = 7),
        ev(7, "2024-01-01 10:03:00", "click", 1.0).copy(user_id = 7))
      q.processAllAvailable()
      assert(spark.table("sessions_smoke").count() == 0) // still open
      mem.addData(ev(8, "2024-01-01 10:23:00", "click", 1.0).copy(user_id = 7))
      q.processAllAvailable()
      val closed = spark.table("sessions_smoke")
        .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
      assert(closed == Seq((7L, 2L))) // the first session closed with 2 events
    } finally q.stop()
  }

  test("file relay is exactly-once across a restart (checkpointed file sink)") {
    import org.apache.spark.sql.types.{LongType, StructType}
    val root = java.nio.file.Files.createTempDirectory("graft-relay-")
    val src = java.nio.file.Files.createDirectory(root.resolve("src"))
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = new StructType().add("event_id", LongType)

    java.nio.file.Files.writeString(src.resolve("a.json"),
      "{\"event_id\":1}\n{\"event_id\":2}\n")
    val q1 = Streams.fileRelay(spark, src.toString, schema, out, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)

    // restart: a NEW query on the same checkpoint, with one new file
    // alongside the already-consumed one — a.json must not replay
    java.nio.file.Files.writeString(src.resolve("b.json"), "{\"event_id\":3}\n")
    val q2 = Streams.fileRelay(spark, src.toString, schema, out, ckpt)
    q2.awaitTermination()

    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"restart broke exactly-once: $ids")
  }

  test("session windows merge events within the gap in batch mode") {
    val out = Streams.sessionAgg(sample.toDF())
      .orderBy("user_id", "s_start")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    // user 1 (ids 1,4): 00:01 vs 00:15 → two sessions; user 2 (ids 2,5):
    // 00:04:30 vs 00:27 → two sessions; user 0 (id 3): one session.
    assert(out == Seq((0L, 1L), (1L, 1L), (1L, 1L), (2L, 1L), (2L, 1L)))
  }

  test("session window end is last event + gap") {
    val one = Seq(ev(7, "2024-01-01 10:00:00", "click", 1.0),
      ev(7, "2024-01-01 10:03:00", "click", 1.0))
    val out = Streams.sessionAgg(one.toDF())
      .select(date_format(col("s_start"), "HH:mm:ss").as("s"),
        date_format(col("s_end"), "HH:mm:ss").as("e"))
      .as[(String, String)].head()
    assert(out == (("10:00:00", "10:08:00")))
  }
  test("stream-static join enriches a stream against a broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((0L, "RETAIL"), (1L, "AUTO"), (2L, "RETAIL"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = Streams.staticEnrichAgg(mem.toDF(), dim)
      .writeStream.outputMode("complete").format("memory")
      .queryName("enrich_smoke")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enrich_smoke")
      .orderBy("c_mktsegment", "event_type").collect().toSeq
    val batch = Streams.staticEnrichAgg(sample.toDF(), dim)
      .orderBy("c_mktsegment", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }
  test("stream-stream interval join pairs clicks with in-window purchases") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      ev(10, "2024-01-01 01:00:00", "click", 1.0),   // user 1
      ev(11, "2024-01-01 02:00:00", "click", 1.0))   // user 2
    val purchases = Seq(
      ev(20, "2024-01-01 01:10:00", "purchase", 5.0), // user 2 — wrong user for 10
      ev(22, "2024-01-01 01:20:00", "purchase", 5.0), // user 1 — within 30 min of 10
      ev(23, "2024-01-01 02:40:00", "purchase", 5.0)) // user 2 — outside 30 min of 11
    val (cm, pm) = (MemoryStream[Ev], MemoryStream[Ev])
    cm.addData(clicks: _*); pm.addData(purchases: _*)
    val q = Streams.clickPurchaseJoin(cm.toDF(), pm.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjoin_smoke")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssjoin_smoke")
      .select("user_id", "click_id", "purchase_id").as[(Long, Long, Long)]
      .collect().sorted.toSeq
    assert(streamed == Seq((1L, 10L, 22L)), s"got $streamed")
    val batch = Streams.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .select("user_id", "click_id", "purchase_id").as[(Long, Long, Long)]
      .collect().sorted.toSeq
    assert(streamed == batch)
  }
  test("left-outer stream-stream join emits unmatched rows exactly once after eviction") {
    implicit val sqlCtx = spark.sqlContext
    // user = id % 3 → click 10 is user 1, click 11 is user 2
    val (cm, pm) = (MemoryStream[Ev], MemoryStream[Ev])
    val q = Streams.clickPurchaseLeftJoin(cm.toDF(), pm.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ssleft_smoke").start()
    def rows() = spark.table("ssleft_smoke")
      .select("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    try {
      // batch 1: click 10 (user 1) matches purchase 22; click 11 (user 2)
      // has no purchase in its 30-min window
      cm.addData(ev(10, "2024-01-01 01:00:00", "click", 1.0),
        ev(11, "2024-01-01 01:00:00", "click", 1.0))
      pm.addData(ev(22, "2024-01-01 01:20:00", "purchase", 5.0))
      q.processAllAvailable()
      // the matched row may emit immediately; the unmatched click MUST NOT
      // emit yet — a match is still possible until the watermark passes
      // 01:30 (no-null invariant, not timing-dependent)
      assert(!rows().exists(_._3 == -1L),
        s"null row emitted before eviction: ${rows()}")
      // batch 2: advance BOTH watermarks past 01:30 + 1h lag
      cm.addData(ev(13, "2024-01-01 04:00:00", "click", 1.0))
      pm.addData(ev(29, "2024-01-01 04:00:00", "purchase", 5.0))
      q.processAllAvailable()
      // batch 3: push the watermark further so click 13's own eviction
      // fires too — total emission must stay exactly-once per click
      cm.addData(ev(16, "2024-01-01 08:00:00", "click", 1.0))
      pm.addData(ev(35, "2024-01-01 08:00:00", "purchase", 5.0))
      q.processAllAvailable()
      val out = rows()
      assert(out.count(r => r._2 == 11L) == 1, s"click 11 must emit exactly once: $out")
      assert(out.contains((2L, 11L, -1L)), s"click 11 must emit with null purchase: $out")
      assert(out.contains((1L, 10L, 22L)), s"matched pair must survive: $out")
      assert(out.count(r => r._2 == 13L) == 1 && out.contains((1L, 13L, -1L)),
        s"click 13 evicts unmatched exactly once: $out")
    } finally q.stop()
    // batch twin agrees on the final relation for the same closed input
    val clicks = Seq(ev(10, "2024-01-01 01:00:00", "click", 1.0),
      ev(11, "2024-01-01 01:00:00", "click", 1.0))
    val purchases = Seq(ev(22, "2024-01-01 01:20:00", "purchase", 5.0))
    val batch = Streams.clickPurchaseLeftJoin(clicks.toDF(), purchases.toDF())
      .select("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(batch == Seq((1L, 10L, 22L), (2L, 11L, -1L)))
  }

  test("full-outer stream-stream join emits unmatched rows from BOTH sides after eviction") {
    implicit val sqlCtx = spark.sqlContext
    val (cm, pm) = (MemoryStream[Ev], MemoryStream[Ev])
    val q = Streams.clickPurchaseFullJoin(cm.toDF(), pm.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ssfull_smoke").start()
    def rows() = spark.table("ssfull_smoke")
      .select("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    try {
      // click 10 (user 1) matches purchase 22; click 11 (user 2) never
      // converts; purchase 24 (user 0) has no attributable click
      cm.addData(ev(10, "2024-01-01 01:00:00", "click", 1.0),
        ev(11, "2024-01-01 01:00:00", "click", 1.0))
      pm.addData(ev(22, "2024-01-01 01:20:00", "purchase", 5.0),
        ev(24, "2024-01-01 01:00:00", "purchase", 5.0))
      q.processAllAvailable()
      assert(!rows().exists(r => r._2 == -1L || r._3 == -1L),
        s"no null row before eviction is provable: ${rows()}")
      // advance both watermarks far past every eviction bound
      cm.addData(ev(16, "2024-01-01 08:00:00", "click", 1.0))
      pm.addData(ev(35, "2024-01-01 08:00:00", "purchase", 5.0))
      q.processAllAvailable()
      cm.addData(ev(17, "2024-01-01 12:00:00", "click", 1.0))
      pm.addData(ev(36, "2024-01-01 12:00:00", "purchase", 5.0))
      q.processAllAvailable()
      val out = rows()
      assert(out.contains((1L, 10L, 22L)), s"matched pair: $out")
      assert(out.count(_._2 == 11L) == 1 && out.contains((2L, 11L, -1L)),
        s"unmatched click emits null-purchase exactly once: $out")
      assert(out.count(_._3 == 24L) == 1 && out.contains((0L, -1L, 24L)),
        s"unmatched purchase emits null-click exactly once: $out")
    } finally q.stop()
  }

  test("foreachBatch txlog sink publishes each micro-batch as one atomic commit") {
    implicit val sqlCtx = spark.sqlContext
    val t = java.nio.file.Files.createTempDirectory("txsink-").resolve("t").toString
    val mem = MemoryStream[Ev]
    mem.addData(ev(1, "2024-01-01 00:01:00", "click", 1.0),
      ev(2, "2024-01-01 00:02:00", "view", 2.0))
    val q = mem.toDF().select(col("event_id"), col("user_id"))
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.ops.TxLog.write(df, t, WriteSpec(mark = Some(Mark.batch(id)))); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    assert(graft.ops.TxLog.snapshot(spark, t).count() === 2L)
    assert(graft.ops.TxLog.maxCommittedBatch(t) >= 0L)
    // simulate the post-restart replay of the last batch: skipped, no dups
    val last = graft.ops.TxLog.maxCommittedBatch(t)
    val replay = graft.ops.TxLog.write(
      Seq((1L, 1L)).toDF("event_id", "user_id"), t, WriteSpec(mark = Some(Mark.batch(last))))
    assert(replay === -1L && graft.ops.TxLog.snapshot(spark, t).count() === 2L)
  }

  test("foreachBatch CDC upsert sink: exactly-once merge-on-read per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("txcdc-").resolve("t").toString
    graft.ops.TxLog.append(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), t)
    val segsBefore = graft.ops.TxLog.liveFiles(t).toSet
    val mem = MemoryStream[(Long, Long)]
    mem.addData((2L, 200L), (4L, 400L))
    val q = mem.toDF().toDF("k", "v")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.ops.TxLog.streamingMergeDv(df.sparkSession, df, t, "k", id); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    assert(graft.ops.TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 200L, 3L -> 30L, 4L -> 400L))
    // merge-on-read: the base segment was never rewritten
    assert(segsBefore.subsetOf(graft.ops.TxLog.liveFiles(t).toSet))
    // post-restart replay of the committed batch: skipped, no double-apply
    val last = graft.ops.TxLog.maxCommittedMergeBatch(t)
    assert(last >= 0L)
    val replay = graft.ops.TxLog.streamingMergeDv(spark,
      Seq((2L, 999L)).toDF("k", "v"), t, "k", last)
    assert(replay === -1L)
    assert(graft.ops.TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
      .apply(2L) === 200L, "replayed batch must not re-apply")
  }

  test("foreachBatch merge sink upserts micro-batches into a parquet target") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-").toString
    val (target, ckpt) = (s"$dir/target", s"$dir/ckpt")
    val mem = MemoryStream[Ev]
    // batch 1: three keys
    mem.addData(ev(1, "2024-01-01 00:01:00", "click", 1.0),
      ev(2, "2024-01-01 00:02:00", "click", 2.0),
      ev(3, "2024-01-01 00:03:00", "click", 3.0))
    val q1 = Streams.mergeRelay(spark, mem.toDF(), target, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    // batch 2 (new query, same checkpoint): update key 2, insert key 4
    mem.addData(ev(2, "2024-01-01 01:00:00", "click", 20.0),
      ev(4, "2024-01-01 01:01:00", "click", 4.0))
    val q2 = Streams.mergeRelay(spark, mem.toDF(), target, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(target)
      .select("event_id", "value").as[(Long, Double)].collect().sorted.toSeq
    assert(got == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (4L, 4.0)),
      s"merge target wrong: $got")
  }

  test("at-ingest dedup: batch bands join the standing artifact, then roll it forward") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-dedup-")
    val artifact = root.resolve("bands").toString
    val outDir = root.resolve("candidates").toString
    val ckpt = root.resolve("ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.incrementalDedupStream(spark,
      mem.toDF().toDF("doc_id", "text"), artifact, outDir, ckpt)
    try {
      // batch 1: two identical docs — no standing corpus yet, so no
      // candidates (new-vs-new is the next pass's problem), but the
      // artifact now holds their bands
      mem.addData((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      q.processAllAvailable()
      assert(!new java.io.File(outDir).exists(),
        "first batch must emit no candidates")
      // batch 2: one more identical doc — candidates vs BOTH standing
      // docs, found via the read-back artifact, never a rescan of batch 1
      mem.addData((11L, "alpha beta gamma delta"))
      q.processAllAvailable()
    } finally q.stop()
    val cands = spark.read.parquet(outDir)
      .select("new_id", "old_id") // batch_id partition col carries the replay key
      .as[(Long, Long)].collect().sorted.toSeq
    assert(cands == Seq((11L, 1L), (11L, 2L)), s"candidates wrong: $cands")
    val standingDocs = spark.read.parquet(artifact)
      .select("doc_id").distinct().as[Long].collect().sorted.toSeq
    assert(standingDocs == Seq(1L, 2L, 11L),
      "artifact must roll forward to include every ingested batch")
  }

  test("replay-lines DSv2 stream: admission, exactly-once, restart, tail-follow") {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-replay-")
    val log = dir.resolve("events.jsonl")
    Files.write(log, (0 until 25).map(i => s"""{"n":$i}""").asJava)
    val ckpt = dir.resolve("ckpt").toString

    def run(): Seq[(Long, Long)] = { // (batchId, rows per batch)
      val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = spark.readStream.format("replay-lines")
        .option("maxLinesPerBatch", 10)
        .load(log.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val n = df.count()
          if (n > 0) batches.synchronized { batches += ((id, n)) }
          () // Scala 2.13 Unit-function overload disambiguation
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      batches.toSeq
    }

    // first run: 25 lines drain as 10 + 10 + 5 under admission control
    assert(run().map(_._2) == Seq(10L, 10L, 5L))

    // restart with the same checkpoint: nothing new → no non-empty batch
    assert(run().isEmpty, "restart must resume from the committed offset")

    // append 7 lines; the restarted stream tails ONLY them
    Files.write(log, (25 until 32).map(i => s"""{"n":$i}""").asJava,
      StandardOpenOption.APPEND)
    assert(run().map(_._2) == Seq(7L))

    // end-to-end content: a fresh checkpoint replays every line exactly
    // once, offsets are the line numbers, and from_json composes on top
    val ckpt2 = dir.resolve("ckpt2").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q2 = spark.readStream.format("replay-lines")
      .option("maxLinesPerBatch", 1000)
      .load(log.toString)
      .select(col("offset"),
        from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL("n LONG"))
          .getField("n").as("n"))
      .writeStream
      .option("checkpointLocation", ckpt2)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.as[(Long, Long)].collect()
        seen.synchronized { seen ++= rows }
        ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.sorted.toSeq == (0L until 32L).map(i => (i, i)),
      "every line exactly once, offset == line number == parsed payload")
  }

  test("replay-lines never emits a producer's in-flight partial line") {
    import java.nio.file.{Files, StandardOpenOption}
    spark.version // force the shared session: countLines resolves the FS through it
    val dir = Files.createTempDirectory("graft-replay-partial-")
    val log = dir.resolve("log.txt")
    // two complete lines plus an UNTERMINATED third (mid-write producer)
    Files.writeString(log, "one\ntwo\npar")
    assert(graft.sources.ReplayLinesSource.countLines(log.toString) == 2,
      "a trailing partial line must not be admitted")
    // producer finishes the line: it becomes visible whole
    Files.writeString(log, "tial\n", StandardOpenOption.APPEND)
    assert(graft.sources.ReplayLinesSource.countLines(log.toString) == 3)
  }

  test("replay-lines composes with event-time watermarks and windowed aggregation") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    // an event log replayed through the SAME windowed aggregation a live
    // stream would run: event-time tumbling 10-min counts with a watermark
    val dir = Files.createTempDirectory("graft-replay-win-")
    val log = dir.resolve("ev.jsonl")
    val lines = Seq(
      """{"ts":"2024-01-01 00:01:00","v":1}""",
      """{"ts":"2024-01-01 00:04:00","v":2}""",
      """{"ts":"2024-01-01 00:11:00","v":3}""",
      """{"ts":"2024-01-01 00:25:00","v":4}""",
      """{"ts":"2024-01-01 00:13:00","v":5}""") // out of order within replay
    Files.write(log, lines.asJava)
    val parsed = spark.readStream.format("replay-lines")
      .option("maxLinesPerBatch", 2) // forces multi-batch accumulation
      .load(log.toString)
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL("ts TIMESTAMP, v LONG")).as("e"))
      .select(col("e.ts").as("ts"), col("e.v").as("v"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .select(col("window.start").cast("string").as("w"), col("n"), col("sv"))
    val q = parsed.writeStream.outputMode("complete")
      .format("memory").queryName("replay_win").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("replay_win").as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("2024-01-01 00:00:00", 2L, 3L),
      ("2024-01-01 00:10:00", 2L, 8L),
      ("2024-01-01 00:20:00", 1L, 4L)))
  }
}
