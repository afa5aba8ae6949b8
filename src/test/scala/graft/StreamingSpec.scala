package graft

import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventWindows

/** Structured Streaming faces (watermark + windowed agg + stateful
  * dedup) converge to the batch faces on the same fixture.
  */
class StreamingSpec extends SparkSpec {

  private def runToMemory(name: String, df: org.apache.spark.sql.DataFrame,
      mode: String): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
  }

  test("streaming tumbling agg converges to the batch face") {
    val stream = EventWindows.tumblingStream(EventWindows.streamingEvents(spark, sf))
    runToMemory("tumbling_mem", stream, "complete")
    val got = spark.table("tumbling_mem")
      .orderBy("wstart", "event_type")
      .collect()
    val want = EventWindows.tumbling(spark, sf).collect()
    assert(got.length === want.length)
    assert(got.map(_.toString).toSeq === want.map(_.toString).toSeq)
  }

  test("streaming windowed counts + downstream rank reproduce batch trending") {
    // The trending pattern decomposes for streams: the windowed count
    // runs incrementally in-stream (watermarked state), and the
    // per-window rank/lag runs downstream over the tiny aggregated
    // frame (foreachBatch / a batch job over the sink table). Here the
    // streamed counts feed the same rank/lag the batch face uses.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val stream = EventWindows.tumblingStream(EventWindows.streamingEvents(spark, sf))
    runToMemory("trending_mem", stream, "complete")
    val lagW = Window.partitionBy(col("event_type")).orderBy(col("wstart"))
    val rankW = Window.partitionBy(col("wstart"))
      .orderBy(col("cnt").desc, col("event_type"))
    val got = spark.table("trending_mem")
      .select(col("wstart"), col("event_type"), col("cnt"))
      .withColumn("prev_cnt", lag(col("cnt"), 1, 0L).over(lagW))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("wstart"), col("event_type"), col("cnt"),
        (col("cnt") - col("prev_cnt")).as("delta"), col("rnk"))
      .orderBy(col("wstart"), col("rnk"))
      .collect()
    val want = EventWindows.trending(spark, sf).collect()
    assert(got.map(_.toString).toSeq === want.map(_.toString).toSeq)
  }

  test("streaming dedup emits one row per (user_id, event_type)") {
    val stream = EventWindows.dedupStream(EventWindows.streamingEvents(spark, sf))
    runToMemory("dedup_mem", stream, "append")
    val got = spark.table("dedup_mem").count()
    val want = EventWindows.dedupEarliest(spark, sf).count()
    assert(got === want)
  }

  test("watermark drops events arriving later than the delay") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.functions.window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
    val agg = ms.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"), $"k")
      .count()
    val q = agg.writeStream.format("memory").queryName("late_mem")
      .outputMode("append").start()
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      ms.addData((t(5), "a")) // window [0,10), count 1
      q.processAllAvailable()
      ms.addData((t(40), "b")) // advances the watermark to 30 min
      q.processAllAvailable()
      // Same key, event-time 7 min: behind the 30-min watermark, so
      // the row must be DISCARDED, not added to the closed window.
      ms.addData((t(7), "a"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_mem")
      .select($"k", $"count").as[(String, Long)].collect().toMap
    assert(rows.get("a").contains(1L),
      s"late event was not dropped (emitted rows: $rows)")
  }

  test("stream-stream LEFT OUTER interval join emits null-padded rows after watermark") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val vms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = pms.toDF().toDF("p_id", "p_user", "p_ts")
      .withWatermark("p_ts", "1 minute")
    val views = vms.toDF().toDF("v_id", "v_user", "v_ts")
      .withWatermark("v_ts", "1 minute")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("v_ts") <= col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("v_id"))
    val q = joined.writeStream.format("memory").queryName("loj_mem")
      .outputMode("append").start()
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      // purchase 1 has an in-window view; purchase 2 has none.
      pms.addData((1L, 10L, t(20)), (2L, 11L, t(21)))
      vms.addData((100L, 10L, t(15)))
      q.processAllAvailable()
      // Matched row can emit immediately; the UNMATCHED left row must
      // wait until the watermark proves no future view can match.
      pms.addData((3L, 12L, t(60)))
      vms.addData((101L, 99L, t(60)))
      q.processAllAvailable()
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("loj_mem").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((1L, 100L)), s"matched pair missing: $rows")
    assert(rows.contains((2L, -1L)),
      s"unmatched purchase was not null-padded after watermark: $rows")
  }

  test("transformWithState ListState keeps a bounded per-key top-k") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.TopKPerUserProcessor(3),
        TimeMode.None(), OutputMode.Update())
    val q = out.toDF().toDF("user_id", "rank", "score")
      .writeStream.format("memory").queryName("twsl_mem")
      .outputMode("update").start()
    try {
      ms.addData((1L, 10L), (1L, 5L), (1L, 20L), (2L, 7L))
      q.processAllAvailable()
      ms.addData((1L, 15L), (1L, 1L), (2L, 9L))
      q.processAllAvailable()
    } finally q.stop()
    // Last batch's emission per key is the merged running top-3.
    val rows = spark.table("twsl_mem").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // user 1 saw 10,5,20 then 15,1 → top3 = 20,15,10
    val u1 = rows.filter(_._1 == 1L).groupBy(_._2).map {
      case (rank, rs) => rank -> rs.map(_._3).max
    }
    assert(u1(1) === 20L && u1(2) === 15L && u1(3) === 10L, rows.mkString(","))
    // user 2 saw 7 then 9 → top = 9,7
    val u2rows = rows.filter(_._1 == 2L)
    assert(u2rows.exists(r => r._2 == 1 && r._3 == 9L), rows.mkString(","))
    assert(u2rows.exists(r => r._2 == 2 && r._3 == 7L), rows.mkString(","))
  }

  test("transformWithState MapState keeps per-key per-type running counts") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.PerTypeCountsProcessor(),
        TimeMode.None(), OutputMode.Update())
    val q = out.toDF().toDF("user_id", "event_type", "cnt")
      .writeStream.format("memory").queryName("twsm_mem")
      .outputMode("update").start()
    try {
      ms.addData((1L, "click"), (1L, "view"), (1L, "click"), (2L, "view"))
      q.processAllAvailable()
      ms.addData((1L, "click"), (2L, "view"), (2L, "buy"))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("twsm_mem").collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(last((1L, "click")) === 3L, last)
    assert(last((1L, "view")) === 1L, last)
    assert(last((2L, "view")) === 2L, last)
    assert(last((2L, "buy")) === 1L, last)
  }

  test("transformWithState event-time timers close inactive sessions " +
    "exactly once and later input reopens a fresh session") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    // 700 ms inactivity gap, zero-delay watermark on the event time:
    // a session closes when the watermark passes lastEvent + 700 ms.
    val out = ms.toDS()
      .withWatermark("_2", "0 seconds")
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.SessionTimeoutProcessor(700L),
        TimeMode.EventTime(), OutputMode.Update())
    val q = out.toDF().toDF("user_id", "events", "total")
      .writeStream.format("memory").queryName("twst_mem")
      .outputMode("update").start()
    try {
      // Key 1's two events sit INSIDE the 700 ms gap (500 ms apart):
      // one session. (Events farther apart than the gap are two
      // sessions even within one batch — covered by the split test.)
      ms.addData((1L, ts(10000), 10L), (1L, ts(10500), 5L), (2L, ts(10500), 7L))
      q.processAllAvailable()
      // Nothing emits while sessions are open (watermark still 0).
      assert(spark.table("twst_mem").count() == 0)
      // Advance the watermark far past both deadlines (11.2 s): the
      // batch AFTER this one runs with watermark 30 s and fires the
      // expired timers with no input rows for keys 1/2.
      ms.addData((99L, ts(30000), 1L))
      q.processAllAvailable()
      ms.addData((99L, ts(30100), 1L))
      q.processAllAvailable()
      val closed = spark.table("twst_mem").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(closed.get(1L).contains((2L, 15L)), s"got $closed")
      assert(closed.get(2L).contains((1L, 7L)), s"got $closed")
      assert(!closed.contains(99L), s"open session must not emit: $closed")
      // Re-opening: post-close input starts a FRESH session (the
      // closed one's counts must not leak in).
      ms.addData((1L, ts(40000), 3L))
      q.processAllAvailable()
      ms.addData((99L, ts(90000), 1L))
      q.processAllAvailable()
      ms.addData((99L, ts(90100), 1L))
      q.processAllAvailable()
      val all = spark.table("twst_mem").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2)))
      assert(all.toSet == Set((2L, 15L), (1L, 3L)), all.mkString(","))
    } finally q.stop()
  }

  test("transformWithState keeps running per-key aggregates across batches") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The transformWithState operator requires the RocksDB state store.
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val out = ms.toDS()
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.RunningTotalsProcessor(),
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF().toDF("user_id", "events", "total")
        .writeStream.format("memory").queryName("tws_mem")
        .outputMode("update").start()
      try {
        ms.addData((1L, 10L), (1L, 5L), (2L, 7L))
        q.processAllAvailable()
        ms.addData((1L, 1L), (2L, 3L), (3L, 100L))
        q.processAllAvailable()
      } finally q.stop()
      // Update mode emits one row per key per batch; the LAST row per
      // key carries the running totals across batches.
      val last = spark.table("tws_mem").collect()
        .groupBy(_.getLong(0))
        .map { case (k, rows) => k -> rows.map(r => (r.getLong(1), r.getLong(2))).max }
      assert(last(1L) === ((3L, 16L)), s"got $last")
      assert(last(2L) === ((2L, 10L)), s"got $last")
      assert(last(3L) === ((1L, 100L)), s"got $last")
    }
  }

  test("foreachBatch sink writes per-batch dirs idempotently (exactly-once)") {
    import SparkSpec.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.lit
    val out = java.nio.file.Files.createTempDirectory("graft-febatch").toString
    // The exactly-once recipe the streaming guide prescribes for
    // non-transactional sinks: key the write by batchId and make it an
    // OVERWRITE, so a replayed batch (post-failure re-run from the
    // checkpoint) lands in the same place instead of duplicating.
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$out/batch=$batchId")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .foreachBatch(sink _)
      .start()
    try {
      ms.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      ms.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val batch0 = spark.read.parquet(s"$out/batch=0")
    val before = batch0.orderBy("id").collect().map(_.toString).toSeq
    // Simulate the failure-replay of batch 0: run the sink again with
    // the same batchId and payload — the output must be unchanged.
    // (Materialized first: a lazy re-read of the dir being overwritten
    // would race its own delete.)
    val replay = batch0.drop("batch_id").as[(Long, String)].collect().toSeq
    sink(replay.toDF("id", "v"), 0L)
    val after = spark.read.parquet(s"$out/batch=0")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(after === before)
    val total = spark.read.parquet(s"$out/batch=0", s"$out/batch=1").count()
    assert(total === 3)
  }

  test("transformWithState sessions split on gap even when the next " +
    "session's events outrun the watermark timer") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = ms.toDS()
      .withWatermark("_2", "0 seconds")
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.SessionTimeoutProcessor(700L),
        TimeMode.EventTime(), OutputMode.Update())
    val q = out.toDF().toDF("user_id", "events", "total")
      .writeStream.format("memory").queryName("twst_split_mem")
      .outputMode("update").start()
    try {
      // Session 1: one event at t=10 s (deadline 10.7 s).
      ms.addData((1L, ts(10000), 10L))
      q.processAllAvailable()
      // The NEXT batch carries an event far past the deadline — but
      // the watermark during that batch is still 10 s (computed from
      // the prior batch), so the inactivity timer has NOT fired.
      // Input handling itself must close session 1; folding the
      // event into it would fuse two sessions and make the emitted
      // answer depend on batch slicing.
      ms.addData((1L, ts(50000), 3L))
      q.processAllAvailable()
      val afterSplit = spark.table("twst_split_mem").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(afterSplit.toSeq == Seq((1L, 1L, 10L)),
        s"session 1 must close on gap, got ${afterSplit.mkString(",")}")
      // Close session 2 via the timer (advance the watermark).
      ms.addData((99L, ts(90000), 1L))
      q.processAllAvailable()
      ms.addData((99L, ts(90100), 1L))
      q.processAllAvailable()
      val key1 = spark.table("twst_split_mem").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2)))
      assert(key1.toSet == Set((1L, 10L), (1L, 3L)),
        s"two distinct sessions expected, got ${key1.mkString(",")}")
    } finally q.stop()
  }

  test("streaming CDC upsert commits one snapshot per epoch, " +
    "exactly-once under replay") {
    import SparkSpec.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.sources.SnapStore
    import graft.streaming.SnapshotUpsert
    val root = java.nio.file.Files.createTempDirectory("graft-cdc")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    // Base table: ids 0..9 across two partitions (id % 2).
    val base = spark.range(10).select(col("id"),
      org.apache.spark.sql.functions.pmod(col("id"), org.apache.spark.sql
        .functions.lit(2L)).as("part"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("v0-"), col("id")).as("v"))
    SnapStore.create(spark, t, base, "part")

    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    val sink = SnapshotUpsert.upsertBatch(t, "id", "part") _
    val q = ms.toDF().toDF("id", "part", "v").writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => {
        sink(df, id); ()
      })
      .start()
    try {
      ms.addData((2L, 0L, "upd-2"), (11L, 1L, "new-11")) // update + insert
      q.processAllAvailable()
      ms.addData((3L, 1L, "upd-3"))
      q.processAllAvailable()
    } finally q.stop()

    // One snapshot per epoch, tagged by batch id.
    val ops = SnapStore.history(t).map(_._3)
    assert(ops == Seq("create", "merge-b0", "merge-b1"), s"got $ops")
    val after = SnapStore.read(spark, t)
    assert(after.count() == 11)
    val vals = after.filter(col("id").isin(2L, 3L, 11L))
      .orderBy("id").select("v").as[String].collect().toSeq
    assert(vals == Seq("upd-2", "upd-3", "new-11"))

    // Failure replay: re-running batch 1 with the same epoch id must
    // be a no-op — no new snapshot, contents unchanged.
    val replayed = sink(Seq((3L, 1L, "upd-3")).toDF("id", "part", "v"), 1L)
    assert(!replayed, "replayed epoch must be skipped")
    assert(SnapStore.history(t).map(_._3) ==
      Seq("create", "merge-b0", "merge-b1"))
    assert(SnapStore.read(spark, t).count() == 11)
  }

  test("streaming read from a snapshot table serves appends " +
    "incrementally and rejects replace-style history") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.sources.SnapStore
    import graft.streaming.SnapshotStream
    val root = java.nio.file.Files.createTempDirectory("graft-snapstream")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def batch(from: Long, until: Long) =
      spark.range(from, until).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("v-"), col("id")).as("v"))
    SnapStore.create(spark, t, batch(0, 20), "part")

    val q = SnapshotStream.appendFeed(spark, t, maxFilesPerTrigger = Some(4))
      .writeStream.format("memory").queryName("snapfeed_mem")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snapfeed_mem").count() == 20)
      // An append lands as exactly its new rows, once.
      SnapStore.append(spark, t, batch(100, 110), "part")
      q.processAllAvailable()
      assert(spark.table("snapfeed_mem").count() == 30)
      val newIds = spark.table("snapfeed_mem")
        .filter(col("id") >= 100L).select("id").collect().map(_.getLong(0))
      assert(newIds.sorted.toSeq == (100L until 110L))
      // No duplicates across triggers.
      assert(spark.table("snapfeed_mem").select("id").distinct().count() == 30)
    } finally q.stop()

    // A replace-style commit poisons the append feed: raise.
    SnapStore.merge(spark, t,
      batch(0, 2).withColumn("v", lit("upd")), "id", "part")
    val e = intercept[IllegalArgumentException] {
      SnapshotStream.appendFeed(spark, t)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("streaming read serves an evolved table: pre-rename history and " +
    "post-rename appends both arrive under the current schema") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.sources.SnapStore
    import graft.streaming.SnapshotStream
    val root = java.nio.file.Files.createTempDirectory("graft-snapevostream")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def batch(from: Long, until: Long, vCol: String) =
      spark.range(from, until).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("v-"), col("id")).as(vCol))
    SnapStore.create(spark, t, batch(0, 10, "v"), "part")
    // Metadata-only evolution BEFORE the stream starts: rename v→w,
    // widen id's partner column… (rename is the case a plain
    // current-schema file feed would null out — VERDICT r7 #5).
    SnapStore.renameColumn(t, "v", "w")
    SnapStore.append(spark, t,
      batch(100, 105, "w"), "part")
    val q = SnapshotStream.appendFeed(spark, t)
      .writeStream.format("memory").queryName("snapevofeed_mem")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snapevofeed_mem")
      assert(got.schema.fieldNames.toSeq == Seq("id", "part", "w"))
      assert(got.count() == 15)
      // Pre-rename files' as-written `v` values arrive under `w` —
      // NOT null (the plain current-schema feed's failure mode).
      val vals = got.select("id", "w").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(vals(3L) == "v-3" && vals(102L) == "v-102")
      // A post-stream-start append under the current schema flows too.
      SnapStore.append(spark, t, batch(200, 203, "w"), "part")
      q.processAllAvailable()
      assert(spark.table("snapevofeed_mem").count() == 18)
      assert(spark.table("snapevofeed_mem")
        .filter(col("w").isNull).count() == 0)
    } finally q.stop()
  }

  test("the appendFeed evolution guard is COMPATIBILITY-scoped: a " +
    "mid-stream ADD COLUMN streams through (the pinned feed represents " +
    "it fine), only rename/widen/drop of a streamed column fail") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.sources.SnapStore
    import graft.streaming.SnapshotStream
    val root = java.nio.file.Files.createTempDirectory("graft-snapaddevo")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def batch(from: Long, until: Long) =
      spark.range(from, until).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("v-"), col("id")).as("v"))
    SnapStore.create(spark, t, batch(0, 10), "part")
    val q = SnapshotStream.appendFeed(spark, t)
      .writeStream.format("memory").queryName("snapaddevo_mem")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snapaddevo_mem").count() == 10)
      // Mid-stream ADD COLUMN + an append carrying it: the running
      // feed keeps streaming (started columns arrive intact; the new
      // column is invisible to the pinned read schema — exactly the
      // pre-guard behavior the compatibility check preserves).
      SnapStore.addColumn(t,
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType, nullable = true))
      SnapStore.append(spark, t,
        batch(100, 105).withColumn("score", col("id") * 2), "part")
      q.processAllAvailable()
      val got = spark.table("snapaddevo_mem")
      assert(got.count() == 15,
        "appends after a mid-stream ADD COLUMN must keep flowing")
      assert(got.filter(col("v").isNull).count() == 0)
    } finally q.stop()
  }

  test("mid-stream rename fails loudly through the per-batch evolution " +
    "guard instead of nulling renamed appends") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.sources.SnapStore
    import graft.streaming.SnapshotStream
    val root = java.nio.file.Files.createTempDirectory("graft-snapmidevo")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def batch(from: Long, until: Long, vCol: String) =
      spark.range(from, until).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("v-"), col("id")).as(vCol))
    SnapStore.create(spark, t, batch(0, 10, "v"), "part")
    // The guard is BUILT IN (ADVICE r9): a running feed — no
    // foreachBatch, no requireUnevolved call — must fail its next
    // row-carrying trigger after a mid-stream rename, not serve the
    // renamed appends as nulls.
    val q0 = SnapshotStream.appendFeed(spark, t)
      .writeStream.format("memory").queryName("snapmidevo_live")
      .option("checkpointLocation", root.resolve("ckpt0").toString)
      .outputMode("append").start()
    val eq = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        q0.processAllAvailable()
        assert(spark.table("snapmidevo_live").count() == 10)
        SnapStore.renameColumn(t, "v", "w")
        SnapStore.append(spark, t, batch(100, 103, "w"), "part")
        q0.processAllAvailable(); q0.awaitTermination(10000)
      } finally q0.stop()
    }
    assert(eq.getCause.getMessage.contains("restart the stream"),
      s"got: ${eq.getCause.getMessage}")
    // The standalone opt-in API agrees (foreachBatch users of other
    // feeds still call it directly).
    val fp = SnapshotStream.evolutionFingerprint(t)
    SnapshotStream.requireUnevolved(t, fp) // current fingerprint: passes
    val e = intercept[IllegalStateException] {
      SnapshotStream.requireUnevolved(t, "stale|fingerprint")
    }
    assert(e.getMessage.contains("restart the stream"))
    // A RESTARTED feed (fresh fingerprint) re-derives its schema and
    // serves both eras correctly — the documented recovery.
    val q = SnapshotStream.appendFeed(spark, t)
      .writeStream.format("memory").queryName("snapmidevo_mem")
      .option("checkpointLocation", root.resolve("ckpt2").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snapmidevo_mem")
      assert(got.count() == 13)
      assert(got.filter(col("w").isNull).count() == 0)
    } finally q.stop()
  }

  test("native manifest feed: appends serve incrementally with rate " +
    "limiting, replace-style commits fail the trigger") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.sources.SnapStore
    import graft.streaming.SnapshotStream
    val root = java.nio.file.Files.createTempDirectory("graft-natstream")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def batch(from: Long, until: Long) =
      spark.range(from, until).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("v-"), col("id")).as("v"))
    SnapStore.create(spark, t, batch(0, 20), "part")
    // A FILE sink (checkpoint-recoverable, unlike memory) so the
    // exactly-once-across-restart claim is testable on one checkpoint.
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def outCount() = spark.read.parquet(out).count()
    val q = SnapshotStream.nativeFeed(spark, t, maxFilesPerTrigger = Some(3))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(outCount() == 20)
      SnapStore.append(spark, t, batch(100, 110), "part")
      q.processAllAvailable()
      assert(outCount() == 30)
      assert(spark.read.parquet(out).select("id").distinct().count() == 30,
        "no duplicates across triggers")
      // Rate limiting actually split the backlog into >1 batch.
      val progressed = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(progressed.length > 1,
        s"maxFilesPerTrigger must bound batches: ${progressed.toSeq}")
    } finally q.stop()
    // Exactly-once across restart: the same checkpoint re-serves
    // nothing, a fresh append arrives once.
    SnapStore.append(spark, t, batch(200, 205), "part")
    val q2 = SnapshotStream.nativeFeed(spark, t)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(outCount() == 35,
        "restart must serve exactly the new append, nothing twice")
      assert(spark.read.parquet(out).select("id").distinct().count() == 35)
    } finally q2.stop()
    // A replace-style commit fails the next trigger loudly.
    SnapStore.merge(spark, t,
      batch(0, 2).withColumn("v", lit("upd")), "id", "part")
    val q3 = SnapshotStream.nativeFeed(spark, t)
      .writeStream.format("memory").queryName("natfeed_mem3")
      .option("checkpointLocation", root.resolve("ckpt3").toString)
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { q3.processAllAvailable(); q3.awaitTermination(10000) }
      finally q3.stop()
    }
    assert(e.getCause.getMessage.contains("append-only"),
      s"got: ${e.getCause.getMessage}")
  }

  test("native feed skipDeleteSnapshots streams past MOR delete-file " +
    "commits (Iceberg streaming-skip-delete-snapshots); without it the " +
    "trigger fails and names the option") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.sources.SnapStore
    import graft.streaming.SnapshotStream
    val root = java.nio.file.Files.createTempDirectory("graft-natskipdel")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def batch(from: Long, until: Long) =
      spark.range(from, until).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("v-"), col("id")).as("v"))
    SnapStore.create(spark, t, batch(0, 20), "part")
    val q = SnapshotStream.nativeFeed(spark, t, skipDeleteSnapshots = true)
      .writeStream.format("memory").queryName("natskipdel_mem")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("natskipdel_mem").count() == 20)
      // A pure MOR equality delete (delete file only, no data files):
      // the skipping feed rides past it — the appends-only view keeps
      // flowing, the deleted rows are NOT retro-suppressed (exactly
      // Iceberg's documented option semantics), and a later append
      // arrives once.
      SnapStore.deleteEquality(spark, t,
        spark.range(0, 5).select(col("id")), "id")
      SnapStore.append(spark, t, batch(100, 110), "part")
      q.processAllAvailable()
      assert(spark.table("natskipdel_mem").count() == 30)
      assert(spark.table("natskipdel_mem").select("id").distinct()
        .count() == 30, "no duplicates past the skipped delete commit")
      // Batch reads of the same table DO apply the pending delete.
      assert(SnapStore.read(spark, t).count() == 25)
    } finally q.stop()
    // Without the option the delete commit fails the trigger loudly,
    // and the error tells the user which knob exists.
    val q2 = SnapshotStream.nativeFeed(spark, t)
      .writeStream.format("memory").queryName("natskipdel_mem2")
      .option("checkpointLocation", root.resolve("ckpt2").toString)
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { q2.processAllAvailable(); q2.awaitTermination(10000) }
      finally q2.stop()
    }
    assert(e.getCause.getMessage.contains("skipDeleteSnapshots"),
      s"got: ${e.getCause.getMessage}")
  }

  test("native feed rides through a MID-STREAM rename: the next batch " +
    "delivers the renamed appends' values, no restart (VERDICT r9 #3)") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.sources.SnapStore
    import graft.streaming.SnapshotStream
    val root = java.nio.file.Files.createTempDirectory("graft-natevo")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def batch(from: Long, until: Long, vCol: String) =
      spark.range(from, until).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("v-"), col("id")).as(vCol))
    SnapStore.create(spark, t, batch(0, 10, "v"), "part")
    // A PRE-start rename too, so both inversion directions are in
    // play: files written under 'v', current name 'w' at start.
    SnapStore.renameColumn(t, "v", "w")
    val q = SnapshotStream.nativeFeed(spark, t)
      .writeStream.format("memory").queryName("natevo_mem")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("natevo_mem").count() == 10)
      assert(spark.table("natevo_mem").schema.fieldNames.toSeq ==
        Seq("id", "part", "w"))
      // MID-STREAM rename w -> u, then an append written under 'u':
      // the running stream's next batch must deliver the values in
      // its started column — not nulls, not a failure.
      SnapStore.renameColumn(t, "w", "u")
      SnapStore.append(spark, t, batch(100, 105, "u"), "part")
      q.processAllAvailable()
      val got = spark.table("natevo_mem")
      assert(got.count() == 15)
      assert(got.filter(col("w").isNull).count() == 0,
        "post-rename appends must not arrive as nulls")
      val vals = got.select("id", "w").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(vals(3L) == "v-3" && vals(102L) == "v-102")
      // A SECOND mid-stream rename chains: u -> x, append under 'x'.
      SnapStore.renameColumn(t, "u", "x")
      SnapStore.append(spark, t, batch(200, 203, "x"), "part")
      q.processAllAvailable()
      assert(spark.table("natevo_mem").count() == 18)
      assert(spark.table("natevo_mem").filter(col("w").isNull).count() == 0)
    } finally q.stop()
    // A mid-stream WIDEN is genuinely unrepresentable in the started
    // schema: the trigger fails loudly (fresh table with a narrow
    // column to widen).
    val t2 = root.resolve("t2")
    SnapStore.create(spark, t2,
      spark.range(0, 10).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        col("id").cast("int").as("n")), "part")
    val q2 = SnapshotStream.nativeFeed(spark, t2)
      .writeStream.format("memory").queryName("natevo_mem2")
      .option("checkpointLocation", root.resolve("ckpt2").toString)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      SnapStore.widenColumn(t2, "n", org.apache.spark.sql.types.LongType)
      SnapStore.append(spark, t2,
        spark.range(100, 103).select(col("id"),
          pmod(col("id"), lit(4L)).as("part"), col("id").as("n")), "part")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable(); q2.awaitTermination(10000)
      }
      assert(e.getCause.getMessage.contains("widened mid-stream"),
        s"got: ${e.getCause.getMessage}")
    } finally q2.stop()
  }

  test("native feed Trigger.AvailableNow drains exactly the snapshots " +
    "present at start in byte-capped batches then terminates; a " +
    "mid-run append waits for the next run") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.sources.SnapStore
    import graft.streaming.SnapshotStream
    val root = java.nio.file.Files.createTempDirectory("graft-availnow")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def batch(from: Long, until: Long) =
      spark.range(from, until).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("v-"), col("id")).as("v"))
    SnapStore.create(spark, t, batch(0, 20), "part")
    SnapStore.append(spark, t, batch(20, 40), "part")
    // ~2 files of budget per batch: the 16-file feed must split into
    // several micro-batches (byte sizes straight from the manifest).
    val cap = SnapStore.currentManifest(t).files.map(_.bytes).max * 2
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def outCount() = spark.read.parquet(out).count()
    // foreachBatch so batch 0 can commit an append WHILE the run is
    // draining: AvailableNow pinned its end offset at prepare time,
    // so the mid-run append must NOT be served by this run.
    val appended = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = SnapshotStream.nativeFeed(spark, t,
      maxBytesPerTrigger = Some(cap))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        df.write.mode("append").parquet(out)
        if (appended.compareAndSet(false, true))
          SnapStore.append(spark, t, batch(100, 110), "part")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000L),
        "AvailableNow must drain and terminate on its own")
      val progressed = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(progressed.length > 1,
        s"maxBytesPerTrigger must split the drain: ${progressed.toSeq}")
      assert(outCount() == 40,
        "the run must serve exactly the snapshots present at start — " +
          s"mid-run append excluded, got ${outCount()}")
    } finally q.stop()
    // The next AvailableNow run on the same checkpoint serves exactly
    // the mid-run append, once.
    val q2 = SnapshotStream.nativeFeed(spark, t)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        df.write.mode("append").parquet(out): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q2.awaitTermination(120000L), "second run must terminate")
      assert(outCount() == 50,
        s"restart must serve exactly the new append: ${outCount()}")
      assert(spark.read.parquet(out).select("id").distinct().count() == 50,
        "no duplicates across runs")
    } finally q2.stop()
  }

  test("dropDuplicatesWithinWatermark re-admits a key after state eviction") {
    import SparkSpec.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    val deduped = ms.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory").queryName("ddww_mem")
      .outputMode("append").start()
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      ms.addData((t(5), "x")) // first x: emitted, state keyed on x
      q.processAllAvailable()
      ms.addData((t(6), "x")) // duplicate inside the watermark: suppressed
      q.processAllAvailable()
      // Advance the watermark to 50 min — far past x's 5+10 min
      // expiry, so x's dedup state is evicted.
      ms.addData((t(60), "z"))
      q.processAllAvailable()
      ms.addData((t(55), "x")) // x again AFTER eviction: emitted anew
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("ddww_mem").select($"id").as[String]
      .collect().toSeq.sorted
    // Unlike plain dropDuplicates (x once, unbounded state), the
    // within-watermark variant bounds state and re-admits x.
    assert(ids === Seq("x", "x", "z"), s"got $ids")
  }

  test("flatMapGroupsWithState sessions close on gap and on event-time timeout") {
    import SparkSpec.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val stream = EventWindows.sessionStream(
      ms.toDF().toDF("user_id", "ts", "value"))
    val q = stream.toDF().writeStream.format("memory").queryName("sess_mem")
      .outputMode("append").start()
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      // Event times start well past the initial watermark (0): rows AT
      // the watermark are dropped as late. user 1: two events 5 min
      // apart (one session, gap deadline 95+30=125 min — past the
      // batch-1 watermark of 100-1=99 min, so it survives the no-data
      // timeout batch processAllAvailable appends). user 2: two events
      // 40 min apart — the second exceeds the 30-min gap, so the first
      // closes IN-BATCH.
      ms.addData((1L, t(90), 1.0), (1L, t(95), 2.0),
        (2L, t(60), 5.0), (2L, t(100), 7.0))
      q.processAllAvailable()
      val inBatch = spark.table("sess_mem")
        .select($"user_id", $"cnt", $"total").as[(Long, Long, Double)].collect()
      assert(inBatch.toSet === Set((2L, 1L, 5.0)), inBatch.mkString(", "))
      // Advance the watermark far past every open session's deadline:
      // the event-time timeouts must fire and close user 1's session
      // and user 2's second session.
      ms.addData((3L, t(500), 0.0))
      q.processAllAvailable()
      val all = spark.table("sess_mem")
        .select($"user_id", $"cnt", $"total").as[(Long, Long, Double)].collect()
      assert(all.toSet === Set((2L, 1L, 5.0), (1L, 2L, 3.0), (2L, 1L, 7.0)),
        all.mkString(", "))
      // session bounds: user 1's closed session spans [90, 95 + gap]
      val u1 = spark.table("sess_mem").filter($"user_id" === 1L)
        .select($"sess_start", $"sess_end")
        .as[(java.sql.Timestamp, java.sql.Timestamp)].head()
      assert(u1._1 === t(90) && u1._2 === t(125))
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with in-window views") {
    import SparkSpec.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val stream = EventWindows.intervalJoinStream(
      ms.toDF().toDF("event_id", "user_id", "ts", "event_type"))
    val q = stream.writeStream.format("memory").queryName("ssj_mem")
      .outputMode("append").start()
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      // user 1: view@5 matches purchase@10 (within [0,10]); view@30
      // matches purchase@32 but NOT purchase@45 (45-10=35 > 30).
      // user 2: a lone view never emits (inner join).
      ms.addData(
        (100L, 1L, t(5), "view"), (101L, 1L, t(10), "purchase"),
        (102L, 1L, t(30), "view"), (103L, 1L, t(32), "purchase"),
        (104L, 1L, t(45), "purchase"), (105L, 2L, t(8), "view"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_mem")
      .select($"p_id", $"v_id").as[(Long, Long)].collect().toSet
    assert(got === Set((101L, 100L), (103L, 102L)), got.mkString(", "))
  }

  test("mapGroupsWithState running per-user counts match batch counts") {
    val stream = EventWindows.runningPerUserStream(
      EventWindows.streamingEvents(spark, sf))
    runToMemory("state_mem", stream.toDF(), "update")
    // Last snapshot per user carries the converged running count.
    val got = spark.sql(
      """SELECT user_id, max(events) AS events FROM state_mem GROUP BY user_id""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }
}
