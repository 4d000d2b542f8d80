package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamOps.UserEvent

class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val fixture = Seq(
    UserEvent(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
    UserEvent(2, ts("2024-01-01 00:15:00"), 1, "click", 2.0),
    UserEvent(3, ts("2024-01-01 00:55:00"), 2, "view", 3.0),
    UserEvent(4, ts("2024-01-01 01:05:00"), 1, "click", 4.0),
    UserEvent(5, ts("2024-01-01 01:06:00"), 2, "view", 5.0),
    UserEvent(6, ts("2024-01-01 03:00:00"), 2, "view", 6.0))

  test("streaming hourly agg equals the batch plan on the same data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    mem.addData(fixture: _*)
    val q = StreamOps.hourlyAgg(mem.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hourly")
      .select("hour", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = fixture.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("streaming dedup drops repeated (user_id, event_type) keys") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    mem.addData(fixture: _*)
    val q = StreamOps.dedupByKey(mem.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("dedup").select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.length == out.distinct.length)
    assert(out.toSet == Set((1L, "click"), (2L, "view")))
  }

  test("streaming ingest chain equals the batch plan on the same docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val q = StreamOps.ingestDocs(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ingest").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ingest").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    // the same plan over the batch frame IS the batch twin; the fixture has
    // no duplicate texts at sf0.001, so dedup nondeterminism can't differ
    val batch = StreamOps.ingestDocs(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "ingest chain must pass some docs")
  }

  test("streaming ingest dedups content ACROSS micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.ingestDocs(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ingest_dedup").outputMode("append").start()
    try {
      // 200 distinct words: all 3-grams distinct (repetition filter passes)
      // and n_chars*60 > 65536 caps the sample threshold, so EVERY doc_id's
      // 16-bit key passes — the only thing that can drop the second copy is
      // the fingerprint state
      val text = (1 to 200).map(i => s"word$i").mkString(" ")
      mem.addData((1L, text))
      q.processAllAvailable()
      val afterFirst = spark.table("ingest_dedup").count()
      // batch 2: same CONTENT under a new doc_id -> fingerprint state drops it
      mem.addData((2L, text))
      q.processAllAvailable()
      assert(spark.table("ingest_dedup").count() == afterFirst,
        "identical content in a later micro-batch must be dropped by state")
    } finally q.stop()
  }

  test("session windows split on the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    mem.addData(fixture: _*)
    val q = StreamOps.sessionize(mem.toDF())
      .writeStream.format("memory").queryName("sessions").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val sessions = spark.table("sessions").collect()
    // user 2: events at 00:55, 01:06 (11min gap -> same session), 03:00 (new)
    val u2 = sessions.filter(_.getLong(2) == 2L)
    assert(u2.length == 2, u2.mkString(";"))
    assert(u2.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L))
  }

  test("session windows MERGE across micro-batches (3 incremental triggers)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.sessionize(mem.toDF())
      .writeStream.format("memory").queryName("sess_multi").outputMode("complete").start()
    try {
      // trigger 1: opens a session at 00:00
      mem.addData(UserEvent(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_multi").count() == 1)
      // trigger 2: 20 min later (< 30 min gap) -> must EXTEND the open
      // session's state, not start a new one
      mem.addData(UserEvent(2, ts("2024-01-01 00:20:00"), 7, "click", 2.0))
      q.processAllAvailable()
      val afterT2 = spark.table("sess_multi").collect()
      assert(afterT2.length == 1 && afterT2.head.getLong(3) == 2L,
        s"expected one merged 2-event session, got ${afterT2.mkString(";")}")
      // trigger 3: one more extension at 00:40 AND a fresh session at 02:00
      mem.addData(
        UserEvent(3, ts("2024-01-01 00:40:00"), 7, "click", 3.0),
        UserEvent(4, ts("2024-01-01 02:00:00"), 7, "click", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.table("sess_multi").collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(sessions.length == 2, sessions.mkString(";"))
    // merged session: 3 events over [00:00, 00:40+30min), value 6
    assert(sessions(0) ==
      ((ts("2024-01-01 00:00:00"), ts("2024-01-01 01:10:00"), 3L, 6.0)))
    assert(sessions(1) ==
      ((ts("2024-01-01 02:00:00"), ts("2024-01-01 02:30:00"), 1L, 4.0)))
  }

  test("dedup state persists across micro-batches (3 incremental triggers)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.dedupByKey(mem.toDF())
      .writeStream.format("memory").queryName("dedup_multi").outputMode("append").start()
    try {
      mem.addData(UserEvent(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // trigger 2: duplicate key from batch 1 (must be dropped by carried
      // state) + a brand-new key (must pass)
      mem.addData(
        UserEvent(2, ts("2024-01-01 00:10:00"), 1, "click", 2.0),
        UserEvent(3, ts("2024-01-01 00:11:00"), 2, "view", 3.0))
      q.processAllAvailable()
      // trigger 3: duplicates of BOTH earlier keys, still within watermark
      mem.addData(
        UserEvent(4, ts("2024-01-01 00:20:00"), 1, "click", 4.0),
        UserEvent(5, ts("2024-01-01 00:21:00"), 2, "view", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_multi").select("event_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 3L), s"state failed to drop cross-batch dups: ${out.mkString(",")}")
  }

  test("incremental hourly agg over 3 triggers equals the batch agg of the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.hourlyAgg(mem.toDF())
      .writeStream.format("memory").queryName("hourly_multi").outputMode("complete").start()
    try {
      fixture.grouped(2).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("hourly_multi")
      .select("hour", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = fixture.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("late data beyond the watermark is dropped in append mode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.hourlyAgg(mem.toDF())
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    try {
      // batch 1: advance event time far enough that watermark (max-2h)
      // passes hour 00:00
      mem.addData(
        UserEvent(1, ts("2024-01-01 00:30:00"), 1, "click", 1.0),
        UserEvent(2, ts("2024-01-01 05:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: an event for hour 00:00 — behind the 03:00 watermark
      mem.addData(UserEvent(3, ts("2024-01-01 00:40:00"), 1, "click", 100.0))
      q.processAllAvailable()
      // batch 3: advance far enough to close every window
      mem.addData(UserEvent(4, ts("2024-01-01 23:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val hour0 = spark.table("late")
      .filter(col("hour") === ts("2024-01-01 00:00:00")).collect()
    // the late event (value=100) must NOT be counted
    assert(hour0.length == 1, hour0.mkString(";"))
    assert(hour0.head.getLong(2) == 1L, s"late row leaked: ${hour0.head}")
    assert(hour0.head.getDouble(3) == 1.0)
  }

  test("mapGroupsWithState accumulates per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.runningUserStats(mem.toDS())
      .writeStream.format("memory").queryName("stats").outputMode("update").start()
    try {
      mem.addData(fixture.take(3): _*)
      q.processAllAvailable()
      mem.addData(fixture.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    // last update per user wins
    val last = spark.table("stats").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    assert(last(1L) == ((3L, 7.0)))
    assert(last(2L) == ((3L, 14.0)))
  }

  test("streaming tokenizer equals the batch boundary tokenizer across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // train side: boundaries from a batch snapshot
    val snapshot = spark.range(5000).select(col("id"), randn(11).as("v"))
    val bounds = graft.operators.Tokenize
      .quantileBoundsSelect(snapshot, Seq("v"), graft.operators.Tokenize.innerProbs(100))
      .map { case (c, bs) => c -> bs.map(b => math.rint(b * 1e6) / 1e6) }
    // serve side: 3 incremental micro-batches of fresh values
    val rows = (0 until 900).map(i => (i.toLong, (i % 37) / 5.0 - 3.0))
    val mem = MemoryStream[(Long, Double)]
    val q = StreamOps.tokenizeStream(
        mem.toDF().toDF("id", "v"), bounds, keep = Seq("id"))
      .writeStream.format("memory").queryName("tok_stream").outputMode("append").start()
    try {
      rows.grouped(300).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("tok_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val batch = StreamOps.tokenizeStream(rows.toDF("id", "v"), bounds, keep = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(streamed.size == 900)
    assert(streamed == batch)
  }

  test("streaming rolling quantiles equal the batch window across 3 triggers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamOps.RollEvent
    // 30 in-order events per type: the 20-row ring wraps mid-stream
    val evs = (1 to 30).flatMap { i =>
      Seq(RollEvent(i, ts(f"2024-01-01 00:$i%02d:00"), "click", i * 1.7 % 13),
        RollEvent(100 + i, ts(f"2024-01-01 00:$i%02d:30"), "view", i * 2.3 % 7))
    }
    val mem = MemoryStream[RollEvent]
    val q = StreamOps.rollingQuantileStream(mem.toDS())
      .writeStream.format("memory").queryName("roll_q").outputMode("append").start()
    try {
      evs.grouped(20).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("roll_q").collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    val batch = graft.operators.EventOps.rollingQuantile(evs.toDF())
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(streamed.size == 60)
    assert(streamed == batch, "stream ring state must equal the batch window frame")
  }

  test("file-stream source replays staged files oldest-modtime-first (pacing precondition)") {
    import spark.implicits._
    // the paced drains stage K time-range files with ascending modtimes
    // and rely on the file source consuming them oldest-first under
    // maxFilesPerTrigger=1 — pin that ordering (names deliberately
    // DISAGREE with modtimes so a name-ordered source would fail)
    val root = java.nio.file.Files.createTempDirectory("graft_order_pin")
    try {
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val base = System.currentTimeMillis() - 100000L
      for (((name, v), i) <- Seq(("zz", 0), ("mm", 1), ("aa", 2)).zipWithIndex) {
        val work = root.resolve(s"work_$name")
        Seq(v).toDF("v").coalesce(1).write.parquet(work.toString)
        val part = work.toFile.listFiles((_: java.io.File, n: String) => n.endsWith(".parquet")).head
        val dst = in.resolve(s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        assert(dst.toFile.setLastModified(base + i * 5000L))
      }
      val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
      val q = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("v", org.apache.spark.sql.types.IntegerType))
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
        .writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          seen.synchronized { seen += b.collect().map(_.getInt(0)).toSeq }
          ()
        }
        .start()
      q.awaitTermination()
      assert(seen.forall(_.size == 1), s"one file per batch expected: $seen")
      assert(seen.flatten.toSeq == Seq(0, 1, 2),
        s"files must replay in MODTIME order, got $seen")
    } finally graft.ScratchDirs.deleteRecursively(root)
  }

  test("paced multi-batch drains equal the batch oracles row-for-row") {
    // force K≈10 micro-batches on the sf0.001 fixture: the paced carry /
    // incremental-eviction machinery must reproduce the one-batch answer,
    // which CORRECTNESS separately hash-checks against DuckDB
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      val rollLive = StreamOps.qRollingQuantileLive(spark, sf).collect().map(_.toSeq).toSeq
      val rollBatch = graft.operators.EventOps.qRollingQuantile(spark, sf).collect().map(_.toSeq).toSeq
      assert(rollLive.size == rollBatch.size && rollLive == rollBatch,
        "paced rolling quantiles must equal the batch window exactly")
      val rollProg = StreamOps.lastDrainProgress("roll")
      assert(rollProg.count(_._2 > 0) >= 3, s"pacing must yield >= 3 data batches: $rollProg")
      val sessLive = StreamOps.qSessionWindowLive(spark, sf).collect().map(_.toSeq).toSeq
      val sessBatch = graft.operators.PipelineOps.qSessionWindow(spark, sf).collect().map(_.toSeq).toSeq
      assert(sessLive.size == sessBatch.size && sessLive == sessBatch,
        "paced session windows must equal the batch gap-and-island result exactly")
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("paced dedup drains (both state APIs) equal the batch per-key duplicate counts") {
    // K≈10 paced micro-batches over the staged copy: each key's
    // suppressed-copy counter is monotone across Update-mode emissions,
    // so both state APIs must land on count - 1 per (user, type) under
    // any batch split
    import org.apache.spark.sql.functions._
    val batch = graft.Tables.events(spark, sf)
      .groupBy("user_id", "event_type")
      .agg((count(lit(1)) - 1).as("n_duplicates"))
      .orderBy("user_id", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(batch.exists(_(2).asInstanceOf[Long] > 0),
      "fixture must have at least one duplicated (user, type) key")
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      for ((tag, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame)](
          "live" -> StreamOps.qStreamDedupLive, "twslive" -> StreamOps.qStreamDedupTwsLive)) {
        val live = q(spark, sf).collect().map(_.toSeq).toSeq
        assert(live.size == batch.size && live == batch,
          s"[$tag] paced dedup counts must equal the batch per-key count - 1")
        val prog = StreamOps.lastDrainProgress(tag)
        assert(prog.count(_._2 > 0) >= 3, s"[$tag] pacing must yield >= 3 data batches: $prog")
      }
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("pace and state-partition derivations are pinned (round 10)") {
    // pace = cores × measured per-core throughput × fixed batch cost —
    // the trigger-amortization sizing, floored at 1 Mi rows; 32 cores
    // reproduces the round-9 measured ~4 M sweet spot
    assert(StreamOps.paceRowsFor(32) ==
      (32 * StreamOps.PaceRowsPerCorePerSec * StreamOps.PaceFixedBatchSec).toLong)
    assert(StreamOps.paceRowsFor(32) > 4000000L && StreamOps.paceRowsFor(32) < 5000000L)
    assert(StreamOps.paceRowsFor(1) == (1L << 20), "small-core boxes floor at 1 Mi")
    // state partitions follow PER-BATCH rows: floor 8, one per ~250k
    // batch rows, capped at cores
    assert(StreamOps.statePartsFor(100000L, 32) == StreamOps.DefaultStateParts)
    assert(StreamOps.statePartsFor(4377600L, 32) == 17)
    assert(StreamOps.statePartsFor(100000000L, 32) == 32, "cores cap")
    assert(StreamOps.statePartsFor(10000000L, 4) == StreamOps.DefaultStateParts,
      "the floor wins below it even on small-core boxes")
    // per-batch rows = what one staged file carries (round-10 advisor
    // item: NOT min(staged, pace) — once the MaxPaceBatches cap binds,
    // files are larger than the pace)
    assert(StreamOps.perBatchRows(10000000L, 3) == 3333334L)
    assert(StreamOps.perBatchRows(1000L, 1) == 1000L)
    assert(StreamOps.perBatchRows(640000000L, 64) == 10000000L,
      "capped staging: real batches exceed the pace and the sizing must see it")
    // round-11 advisor item: zero staged files is a staging bug and must
    // surface as a clear error, not an ArithmeticException
    val e = intercept[IllegalArgumentException](StreamOps.perBatchRows(1000L, 0))
    assert(e.getMessage.contains("stagedFiles"))
  }

  test("paced session drain evicts sessions INCREMENTALLY (state plateaus below the corpus)") {
    // The round-9 paced drain's claim is not just final-answer equality
    // (the test above) but HOW the answer is produced: the watermark
    // advances every micro-batch, so sessions leave state mid-drain and
    // live state plateaus at one time slice — not the corpus-wide session
    // count flushed by a terminal no-data batch. Assert it from the
    // drain's per-batch progress instead of leaving it in stderr logs.
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      val emitted = StreamOps.qSessionWindowLive(spark, sf).count()
      val prog = StreamOps.lastDrainProgress("session")
      val dataBatches = prog.filter(_._2 > 0)
      assert(dataBatches.size >= 3, s"pacing must yield >= 3 data batches: $prog")
      val lastId = prog.map(_._1).max
      val evictingMidDrain = prog.filter(p => p._1 < lastId && p._4 > 0)
      assert(evictingMidDrain.size >= 2,
        s"sessions must leave state in >= 2 non-final batches (incremental " +
          s"eviction), got removals only at the end: $prog")
      val maxState = prog.map(_._3).max
      assert(maxState < emitted,
        s"live state ($maxState rows) must plateau strictly below the " +
          s"corpus's $emitted sessions — a corpus-wide buildup means the " +
          "watermark only advanced at the terminal flush")
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("paced stream-stream join equals the batch interval join exactly") {
    // force ~10 micro-batches on the sf0.001 fixture: the dual-sided
    // watermark eviction must never drop a view before its last possible
    // purchase arrives (staging is (ts, event_id) range-ordered, so batch
    // k+1 is never behind batch k's watermark) — the emitted pair set,
    // and thus the per-user aggregate, must equal the batch interval join
    // row-for-row under ANY pacing
    import org.apache.spark.sql.functions._
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      val live = StreamOps.qStreamJoinLive(spark, sf).collect().map(_.toSeq).toSeq
      val ev = graft.Tables.events(spark, sf)
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("event_id"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      val batch = v.join(p,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") +
              expr(s"INTERVAL ${StreamOps.AttributionHours} HOURS"),
          "inner")
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("delay_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("view_id")).as("n_views"),
          countDistinct(col("purchase_id")).as("n_purchases"),
          min(col("delay_us")).as("min_delay_us"),
          max(col("delay_us")).as("max_delay_us"))
        .orderBy("user_id")
        .collect().map(_.toSeq).toSeq
      assert(live.nonEmpty, "fixture must produce at least one attributed pair")
      assert(live.size == batch.size && live == batch,
        "paced stream-stream join must equal the batch interval join exactly")
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("paced OUTER stream-stream join equals the batch left join (unmatched emitted once)") {
    // the outer form's unmatched views are watermark-GATED (emitted only
    // on eviction), so this pins the drain's sentinel mechanics: the
    // view+purchase sentinels must push both watermarks past every real
    // view's TTL, flushing each unmatched view exactly once — and the
    // matched rows must equal the inner pair set
    import org.apache.spark.sql.functions._
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      val live = StreamOps.qStreamJoinOuterLive(spark, sf).collect().map(_.toSeq).toSeq
      val ev = graft.Tables.events(spark, sf)
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("event_id"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      val batch = v.join(p,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") +
              expr(s"INTERVAL ${StreamOps.AttributionHours} HOURS"),
          "left_outer")
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("delay_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          count(col("purchase_id")).as("n_pairs"),
          countDistinct(col("view_id")).as("n_views"),
          countDistinct(when(col("purchase_id").isNotNull, col("view_id")))
            .as("n_matched_views"),
          min(col("delay_us")).as("min_delay_us"),
          max(col("delay_us")).as("max_delay_us"))
        .select(col("user_id"), col("n_rows"), col("n_pairs"), col("n_views"),
          col("n_matched_views"),
          (col("n_views") - col("n_matched_views")).as("n_unmatched_views"),
          col("min_delay_us"), col("max_delay_us"))
        .orderBy("user_id")
        .collect().map(_.toSeq).toSeq
      assert(live.exists(r => r(5).asInstanceOf[Long] > 0),
        "fixture must have at least one unmatched view (else the outer path is untested)")
      assert(live.exists(r => r(4).asInstanceOf[Long] > 0),
        "fixture must have at least one matched view")
      assert(live.size == batch.size && live == batch,
        "paced outer stream-stream join must equal the batch left join exactly")
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("stream-stream join state is evicted MID-DRAIN on both sides (dual watermark TTL)") {
    // not just final-answer equality: the point of the watermark + range
    // condition is that join state is bounded by the live attribution
    // slice, not the corpus — rows must LEAVE the symmetric hash join's
    // state in non-final batches as the watermark passes their TTL, and
    // peak state must sit strictly below the corpus's view+purchase count
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      StreamOps.qStreamJoinLive(spark, sf)
      assertJoinEvictsMidDrain("sjoin")
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("OUTER stream-stream join state is also evicted mid-drain (the gated-emission mechanism)") {
    // the outer form's whole novelty is eviction-GATED emission; assert
    // the eviction itself from its own telemetry tag, not just the final
    // aggregate (round-15 review: the inner form was asserted, the outer
    // form's telemetry was recorded but never read)
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      StreamOps.qStreamJoinOuterLive(spark, sf)
      assertJoinEvictsMidDrain("sjoinout")
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("stream-stream joins survive an entirely EMPTY side (one-sided outage shape)") {
    // a corpus with NO purchases: the purchase-side watermark would never
    // advance off a real row, so the outer form's unmatched emission
    // depends on the SENTINEL advancing that side — exactly what the
    // typed sentinel pair exists for. The inner form must return an
    // empty (not failing) frame via the pre-created sink + explicit
    // schema. Also the mirror edge: no views -> both forms empty/absent.
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    def writeEvents(rows: Seq[(Long, String, Long, String, Double)]): String = {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("sjoin_edge").toString
      rows.map { case (id, t, u, et, v) => (id, Timestamp.valueOf(t), u, et, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val onlyViews = writeEvents(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 01:00:00", 1L, "view", 2.0),
      (3L, "2024-01-02 05:00:00", 2L, "view", 3.0),
      (4L, "2024-01-03 09:30:00", 3L, "click", 4.0)))
    val onlyPurchases = writeEvents(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "purchase", 1.0),
      (2L, "2024-01-01 01:00:00", 2L, "purchase", 2.0)))
    try {
      assert(StreamOps.qStreamJoinLive(spark, onlyViews).count() == 0,
        "inner join over a purchase-less corpus must be EMPTY, not an error")
      val outer = StreamOps.qStreamJoinOuterLive(spark, onlyViews)
        .collect().map(_.toSeq).toSeq
      assert(outer.size == 2, s"two view-owning users expected: $outer")
      // every view unmatched, zero pairs, null delay extrema
      assert(outer.forall { r =>
        r(2) == 0L && r(3) == r(5) && r(4) == 0L && r(6) == null && r(7) == null
      }, s"all views must flush as unmatched with null delays: $outer")
      assert(outer.map(r => (r(0), r(3))).toSet == Set((1L, 2L), (2L, 1L)),
        s"per-user view counts: $outer")
      assert(StreamOps.qStreamJoinLive(spark, onlyPurchases).count() == 0,
        "inner join over a view-less corpus must be EMPTY")
      assert(StreamOps.qStreamJoinOuterLive(spark, onlyPurchases).count() == 0,
        "left-outer join over a view-less corpus must be EMPTY (left side empty)")
    } finally Seq(onlyViews, onlyPurchases).foreach(d =>
      graft.ScratchDirs.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  /** Shared eviction assertion for a join drain's telemetry tag: rows
    * must LEAVE the symmetric hash join's state in >= 2 non-final batches
    * and peak state must sit strictly below the corpus's joinable-event
    * count. */
  private def assertJoinEvictsMidDrain(tag: String): Unit = {
    import org.apache.spark.sql.functions._
    val prog = StreamOps.lastDrainProgress(tag)
    val dataBatches = prog.filter(_._2 > 0)
    assert(dataBatches.size >= 3, s"[$tag] pacing must yield >= 3 data batches: $prog")
    val lastId = prog.map(_._1).max
    val evictingMidDrain = prog.filter(p => p._1 < lastId && p._4 > 0)
    assert(evictingMidDrain.size >= 2,
      s"[$tag] join state must be evicted in >= 2 non-final batches, got: $prog")
    val joinSides = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase")).count()
    val maxState = prog.map(_._3).max
    assert(maxState > 0 && maxState < joinSides,
      s"[$tag] live join state ($maxState rows) must plateau strictly below " +
        s"the $joinSides joinable events — a corpus-wide buildup means the " +
        "watermark never evicted mid-drain")
  }

  test("stateful dedup-with-counts converges to the batch truth across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamOps.DocSeen
    val mem = MemoryStream[DocSeen]
    val q = StreamOps.dedupWithCounts(mem.toDS())
      .writeStream.format("memory").queryName("dedup_counts")
      .outputMode("update").start()
    try {
      // trigger 1: two distinct docs, one in-batch duplicate of A
      mem.addData(DocSeen("A", 10), DocSeen("B", 11), DocSeen("A", 12))
      q.processAllAvailable()
      // trigger 2: cross-batch duplicates of both, one new doc
      mem.addData(DocSeen("B", 13), DocSeen("A", 14), DocSeen("C", 15))
      q.processAllAvailable()
      // trigger 3: another copy of C
      mem.addData(DocSeen("C", 16))
      q.processAllAvailable()
    } finally q.stop()
    // n_duplicates is monotone per key, so the max row per fingerprint is
    // the final state
    val last = spark.table("dedup_counts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (fp, rows) => fp -> rows.maxBy(_._3) }
    assert(last("A") == (("A", 10L, 2L)), s"A: ${last("A")}")
    assert(last("B") == (("B", 11L, 1L)), s"B: ${last("B")}")
    assert(last("C") == (("C", 15L, 1L)), s"C: ${last("C")}")
    // first-wins matches the batch twin on the full data
    val all = Seq(("A", 10L), ("B", 11L), ("A", 12L), ("B", 13L), ("A", 14L),
      ("C", 15L), ("C", 16L))
    val batch = all.groupBy(_._1).map { case (fp, rows) =>
      fp -> ((fp, rows.head._2, rows.length - 1L))
    }
    assert(last == batch)
  }

  test("transformWithState dedup twin equals the flatMapGroupsWithState form across triggers") {
    // Spark 4's StatefulProcessor API (named state variables, TTL,
    // timers) is the successor to flatMapGroupsWithState; it runs only on
    // the RocksDB state-store provider, so this also exercises that
    // provider end-to-end. BOTH forms run on the same 3-trigger input and
    // their FULL Update-mode emission streams must be equal as multisets
    // — every per-batch record, not just the final per-key state.
    import StreamOps.DocSeen
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    def drain(name: String,
        form: org.apache.spark.sql.Dataset[StreamOps.DocSeen] =>
          org.apache.spark.sql.Dataset[StreamOps.DedupRecord]): Seq[(String, Long, Long)] = {
      val mem = MemoryStream[DocSeen]
      val q = form(mem.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        mem.addData(DocSeen("A", 10), DocSeen("B", 11), DocSeen("A", 12))
        q.processAllAvailable()
        mem.addData(DocSeen("B", 13), DocSeen("A", 14), DocSeen("C", 15))
        q.processAllAvailable()
        mem.addData(DocSeen("C", 16))
        q.processAllAvailable()
      } finally q.stop()
      ss.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val tws = drain("dedup_tws", StreamOps.dedupWithCountsTws(_))
    val fmgws = drain("dedup_fmgws", StreamOps.dedupWithCounts)
    assert(tws.sorted == fmgws.sorted,
      s"tws and flatMapGroupsWithState emission streams differ:\n$tws\nvs\n$fmgws")
    // and the final per-key state matches the batch truth
    val last = tws.groupBy(_._1).map { case (fp, rows) => fp -> rows.maxBy(_._3) }
    assert(last("A") == (("A", 10L, 2L)), s"A: ${last("A")}")
    assert(last("B") == (("B", 11L, 1L)), s"B: ${last("B")}")
    assert(last("C") == (("C", 15L, 1L)), s"C: ${last("C")}")
  }

  test("transformWithState per-state TTL expires dedup entries (re-admission after the TTL)") {
    // the TTL lever that bounds an unbounded fingerprint space, driven
    // for real (round 16): a 500 ms TTL on the value state and a 1.5 s
    // wall-clock pause between triggers — the entry expires, so the key
    // re-admits as first-seen (first_doc_id RESETS, copies restart),
    // where the no-TTL form would count the recurrence as a suppressed
    // duplicate. TTL is wall-clock (it requires
    // TimeMode.ProcessingTime), which is why it lives here and not on an
    // oracle lane; the 3x sleep-over-TTL margin makes the race practical
    // noise — this can only flake if the host freezes the JVM for a
    // second between triggers.
    import StreamOps.DocSeen
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[DocSeen]
    val q = StreamOps.dedupWithCountsTws(mem.toDS(),
        ttl = Some(java.time.Duration.ofMillis(500)))
      .writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("update").start()
    // ProcessingTime mode runs CONTINUOUS micro-batches (the engine keeps
    // triggering to advance the wall clock for TTL/timers), so
    // processAllAvailable never settles — synchronize by polling the sink
    // for the expected emission instead
    def awaitRow(want: (String, Long, Long) => Boolean, label: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!ss.table("dedup_ttl").collect()
          .exists(r => want(r.getString(0), r.getLong(1), r.getLong(2)))) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $label: " +
          ss.table("dedup_ttl").collect().mkString(";"))
        Thread.sleep(50)
      }
    }
    val rows = try {
      mem.addData(DocSeen("A", 10), DocSeen("A", 11))
      awaitRow((fp, first, d) => fp == "A" && first == 10L && d == 1L,
        "batch-1 in-batch dedup (A,10,1)")
      Thread.sleep(1500) // 3x the TTL: the entry expires
      mem.addData(DocSeen("A", 20))
      awaitRow((fp, first, _) => fp == "A" && first == 20L,
        "post-TTL re-admission of doc 20")
      ss.table("dedup_ttl").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    } finally q.stop()
    assert(rows.contains(("A", 20L, 0L)),
      s"expired entry must re-admit doc 20 as FIRST-seen with a reset count: $rows")
    assert(!rows.exists(r => r._2 == 10L && r._3 > 1L),
      s"TTL'd state must not count doc 20 as a duplicate of doc 10: $rows")
  }

  test("transformWithState ListState ring equals the flatMapGroupsWithState roller across triggers") {
    // round 16 — the LIST named-state variable driven for real: the
    // bounded per-key ring lives in an ordered ListState slot (the
    // API's native fit, vs serializing a whole Vector through a
    // ValueState/GroupState blob). Both forms run the same 3-trigger
    // input; their full Append emission streams must be equal as
    // multisets, on RocksDB.
    import StreamOps.RollEvent
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val evs = (1 to 30).flatMap { i =>
      Seq(RollEvent(i, ts(f"2024-01-01 00:$i%02d:00"), "click", i * 1.7 % 13),
        RollEvent(100 + i, ts(f"2024-01-01 00:$i%02d:30"), "view", i * 2.3 % 7))
    }
    def drain(name: String,
        form: org.apache.spark.sql.Dataset[RollEvent] =>
          org.apache.spark.sql.Dataset[StreamOps.RollQuantiles]): Seq[(Long, String, Int, Double, Double)] = {
      val mem = MemoryStream[RollEvent]
      val q = form(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try evs.grouped(20).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      finally q.stop()
      ss.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
        .toSeq
    }
    val list = drain("roll_tws", StreamOps.rollingQuantileStreamTws)
    val fmgws = drain("roll_fmgws", StreamOps.rollingQuantileStream)
    assert(list.size == 60 && list.sorted == fmgws.sorted,
      s"ListState and GroupState rollers must emit identically:\n$list\nvs\n$fmgws")
  }

  test("rollFold's incremental sorted window equals the naive sort-per-event fold") {
    // round 17 (hot-path rewrite): the fold maintains one sorted array
    // with O(rollRows) shifts instead of sorting a fresh copy per event —
    // this property pins the rewrite to the NAIVE reference (the original
    // implementation, inlined here) over inputs chosen to stress it:
    // duplicate values (multiset eviction must remove exactly one equal
    // instance), ties on ts, carries across many batches, and the
    // growing (< rollRows) phase. Same RNG seed → deterministic.
    import StreamOps.{RollEvent, RollQuantiles}
    val rollRows = graft.operators.EventOps.RollRows
    def naive(key: String, ring: Vector[(Long, Long, Double)], batch: Seq[RollEvent])
        : (Vector[(Long, Long, Double)], Vector[RollQuantiles]) = {
      def sel(sorted: IndexedSeq[Double], p: Double): Double =
        sorted(math.ceil(p * sorted.length.toDouble).toInt - 1)
      var r = ring
      val out = Vector.newBuilder[RollQuantiles]
      batch.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).foreach { e =>
        r = (r :+ ((e.ts.getTime, e.event_id, e.value))).takeRight(rollRows)
        val sorted = r.map(_._3).sorted
        out += RollQuantiles(e.event_id, key, r.length, sel(sorted, 0.5), sel(sorted, 0.9))
      }
      (r.takeRight(rollRows - 1), out.result())
    }
    val rnd = new scala.util.Random(4217)
    var id = 0L
    def mkBatch(sz: Int): Seq[RollEvent] = (1 to sz).map { _ =>
      id += 1
      // coarse ts grid forces ties; values from a 7-element pool force
      // duplicates inside every full window
      RollEvent(id, new java.sql.Timestamp(1700000000000L + rnd.nextInt(50) * 250L),
        "k", Array(1.5, -0.0, 0.0, 2.5, 2.5, -3.25, 7.0)(rnd.nextInt(7)))
    }
    var ringA = Vector.empty[(Long, Long, Double)]
    var ringB = Vector.empty[(Long, Long, Double)]
    (1 to 12).foreach { i =>
      val batch = mkBatch(if (i % 3 == 0) 3 else 37) // growing + full phases
      val (na, outA) = StreamOps.rollFold("k", ringA, batch)
      val (nb, outB) = naive("k", ringB, batch)
      assert(outA == outB, s"batch $i emissions diverge:\n$outA\nvs\n$outB")
      assert(na == nb, s"batch $i carry diverges:\n$na\nvs\n$nb")
      ringA = na; ringB = nb
    }
  }

  test("the staged replay copy is built ONCE per dir and shared across drains") {
    // round-17 verdict item 5: N drains on one fixture must cost ONE
    // staging job — the (dir, pace) ModelState registry entry is the
    // shared fixture. Two different scaffold drains back-to-back may add
    // at most one build (zero if an earlier test already staged this dir).
    val before = StreamOps.stagedBuildCount.get()
    StreamOps.qRollingTwsLive(spark, sf).collect()
    StreamOps.qSessionWindowLive(spark, sf).collect()
    val delta = StreamOps.stagedBuildCount.get() - before
    assert(delta <= 1,
      s"staging must be shared across drains on one dir: $delta builds for 2 drains")
  }

  test("q_rolling_tws_live drains the ListState ring to exactly the batch window") {
    // round 17 — the ring promoted to the contract surface: the full
    // paced staged replay (RocksDB, multi-batch at this fixture's pacing
    // only if the corpus exceeds one pace file — either way the REAL
    // drain path) must reproduce the batch trailing-20 window
    // row-for-row, the same equality the DuckDB oracle hashes
    val live = StreamOps.qRollingTwsLive(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.EventOps.qRollingQuantile(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(live.nonEmpty && live == batch,
      s"live ListState drain must equal the batch window (got ${live.size} vs ${batch.size} rows)")
  }

  test("transformWithState MapState accumulates per-(user, type) totals across batches") {
    // round 16 — the MAP named-state variable driven for real: one
    // MapState slot per user, sub-keyed by event_type, point-updated per
    // event without rewriting the user's other types. The LAST Update
    // emission per (user, type) must equal the exact batch fold.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.runningUserTypeStats(mem.toDS())
      .writeStream.format("memory").queryName("user_type_stats")
      .outputMode("update").start()
    try {
      fixture.grouped(2).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    } finally q.stop()
    val last = ss.table("user_type_stats").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .groupBy(_._1)
      // n is monotone across a pair's emissions: max(n) = final state
      .map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    val want = fixture.groupBy(e => (e.user_id, e.event_type)).map { case (k, es) =>
      k -> ((es.size.toLong, es.map(e =>
        BigDecimal(e.value).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(1000000)).toLongExact).sum))
    }
    assert(last == want, s"MapState totals must equal the batch fold:\n$last\nvs\n$want")
  }

  test("dropDuplicatesWithinWatermark bounds dedup state and re-admits expired keys") {
    // the bounded-state exact dedup for UNBOUNDED key spaces — the form a
    // 100 TB/day stream actually runs (plain dropDuplicates holds every
    // key forever). Guaranteed semantics pinned under controlled
    // triggers: duplicates within the delay are dropped (in-batch and
    // cross-batch while the entry lives), and once the watermark passes
    // an entry's event time + delay the key's state is EVICTED, so a
    // later recurrence is re-admitted — state is bounded by the live
    // delay slice, the price being re-admission beyond the horizon.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val deduped = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      // b1: u1 kept, u1 in-batch dup dropped, u9 kept; wm -> 23:55 (prev day)
      mem.addData(
        UserEvent(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        UserEvent(2, ts("2024-01-01 00:05:00"), 1, "click", 2.0),
        UserEvent(3, ts("2024-01-01 00:05:00"), 9, "view", 3.0))
      q.processAllAvailable()
      // b2: both keys' state still live (wm < eventTime + 10 min) ->
      // cross-batch dups dropped; wm advances to 00:50
      mem.addData(
        UserEvent(4, ts("2024-01-01 00:08:00"), 1, "click", 4.0),
        UserEvent(5, ts("2024-01-01 01:00:00"), 9, "view", 5.0))
      q.processAllAvailable()
      // b3: wm 00:50 has passed both entries' expiry (00:10 / 00:15) ->
      // state evicted, the recurring key is RE-ADMITTED
      mem.addData(UserEvent(6, ts("2024-01-01 02:00:00"), 1, "click", 6.0))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("dedup_wm").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 6L),
      s"expected within-delay drops + expiry re-admission, got: $kept")
  }

  test("session timer arming is pinned (first whole ms strictly past the session end)") {
    // sessionTimerMs must never allow an early fire: the ms-granular
    // watermark reaches the timer only once watermark*1000 > end_us
    val gap = graft.operators.PipelineOps.SessionGapUs
    // ms-aligned end: last=1s, gap=30min -> end 1801s -> timer at 1801001 ms
    // (a LITERAL pin — round-16 review: re-deriving the expectation with
    // the implementation's own formula could never fail)
    assert(StreamOps.sessionTimerMs(1000000L) == 1801001L)
    // sub-ms end: 1_000_500 + gap must round UP past the end, not down into it
    val t = StreamOps.sessionTimerMs(1000500L)
    assert(t * 1000L > 1000500L + gap, "timer*1000 must sit strictly past end_us")
    assert((t - 1) * 1000L <= 1000500L + gap, "and be the FIRST such ms")
    // tsUs: getTime carries seconds+ms, getNanos the full sub-second part
    val fine = Timestamp.valueOf("2024-01-01 00:00:01.234567")
    assert(StreamOps.tsUs(fine) % 1000000L == 234567L)
    // pre-epoch (round-16 advisor item): getNanos is always non-negative,
    // so the seconds term must FLOOR — truncation toward zero read
    // 1969-12-31T23:59:59.5Z as +500000 µs instead of −500000
    val preEpoch = Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:59.5Z"))
    assert(StreamOps.tsUs(preEpoch) == -500000L,
      s"pre-epoch fractional instants must floor, got ${StreamOps.tsUs(preEpoch)}")
  }

  test("timer processor: cross-batch extension, inline close, and timer-driven close") {
    // controlled-trigger semantics of SessionTimerProcessor: a session
    // EXTENDS across micro-batches, CLOSES INLINE when a gap-exceeding
    // event arrives, and closes by EVENT-TIME TIMER when the watermark
    // passes its end with no successor event — the registerTimer/
    // deleteTimer/handleExpiredTimer path (u1-s2 and u2 have no successor
    // events, so ONLY a fired timer can emit them). u3's session end sits
    // past the final watermark: its timer must NOT fire (open tail).
    import StreamOps.SessEvent
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[SessEvent]
    val out = mem.toDS()
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
    val q = out.toDF().writeStream.format("memory").queryName("sess_tws")
      .outputMode("append").start()
    try {
      mem.addData(
        SessEvent(1, ts("2024-01-01 00:00:00"), 1500000L),
        SessEvent(1, ts("2024-01-01 00:10:00"), 2250000L),
        SessEvent(2, ts("2024-01-01 00:00:00"), 4000000L))
      q.processAllAvailable() // wm -> 00:10
      mem.addData(SessEvent(1, ts("2024-01-01 02:00:00"), 8000000L))
      q.processAllAvailable() // u1-s1 closes INLINE; wm -> 02:00 > u2's 00:30 timer
      mem.addData(SessEvent(3, ts("2024-01-01 05:00:00"), 16000000L))
      q.processAllAvailable() // u2 closes by TIMER; wm -> 05:00 > u1-s2's 02:30 timer
    } finally q.stop()
    val gap = graft.operators.PipelineOps.SessionGapUs
    def us(s: String): Long = StreamOps.tsUs(ts(s))
    val got = ss.table("sess_tws").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val want = Set(
      (1L, us("2024-01-01 00:00:00"), us("2024-01-01 00:10:00") + gap, 2L, 3750000L),
      (1L, us("2024-01-01 02:00:00"), us("2024-01-01 02:00:00") + gap, 1L, 8000000L),
      (2L, us("2024-01-01 00:00:00"), us("2024-01-01 00:00:00") + gap, 1L, 4000000L))
    assert(got == want,
      s"expected inline + timer closes with u3 left open, got: $got")
  }

  test("paced timer-session drain equals the batch gap-and-island result, closing sessions mid-drain") {
    // the contract form: K≈10 paced micro-batches over the staged
    // fixture, RocksDB-backed timers — output must equal the batch
    // session_window oracle row-for-row, and the telemetry must show
    // sessions LEAVING state in non-final batches (state.clear in
    // handleExpiredTimer is the only removal path, so every removal IS a
    // timer-driven close — inline closes replace state in place)
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      val live = StreamOps.qSessionTwsLive(spark, sf).collect().map(_.toSeq).toSeq
      val batch = graft.operators.PipelineOps.qSessionWindow(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(live.size == batch.size && live == batch,
        "timer-driven sessions must equal the batch gap-and-island result exactly")
      val prog = StreamOps.lastDrainProgress("sesstws")
      assert(prog.count(_._2 > 0) >= 3, s"pacing must yield >= 3 data batches: $prog")
      val lastId = prog.map(_._1).max
      assert(prog.exists(p => p._1 < lastId && p._4 > 0),
        s"timers must close sessions in at least one non-final batch: $prog")
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("paced within-watermark dedup drain equals the distinct-epoch truth with bounded state") {
    // K≈10 paced micro-batches: one emission per occupied (user, type,
    // 2h-epoch) under ANY pacing/in-batch order (the any-anchor-coverage
    // argument in qStreamDedupWmLive's scaladoc), state EVICTED as the
    // watermark passes each entry's first-arrival + 2 h — peak live keys
    // must plateau strictly below the corpus's total key count, the
    // bounded-state property that distinguishes this operator from
    // dropDuplicates
    import org.apache.spark.sql.functions._
    val prev = StreamOps.PaceRowsPerBatch
    try {
      StreamOps.PaceRowsPerBatch = 100
      val live = StreamOps.qStreamDedupWmLive(spark, sf).collect().map(_.toSeq).toSeq
      val batch = graft.Tables.events(spark, sf)
        .select(col("user_id"), col("event_type"),
          expr(s"unix_micros(CAST(ts AS TIMESTAMP)) div ${StreamOps.DedupEpochUs}L")
            .as("epoch_id"))
        .groupBy("user_id", "event_type")
        .agg(countDistinct(col("epoch_id")).as("n_epochs"),
          min(col("epoch_id")).as("first_epoch"),
          max(col("epoch_id")).as("last_epoch"))
        .orderBy("user_id", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(live.size == batch.size && live == batch,
        "within-watermark dedup must emit exactly one row per occupied epoch")
      assert(live.exists(_(2).asInstanceOf[Long] > 1L),
        "fixture must exercise re-admission (some pair spanning > 1 epoch)")
      val prog = StreamOps.lastDrainProgress("dedupwm")
      assert(prog.count(_._2 > 0) >= 3, s"pacing must yield >= 3 data batches: $prog")
      val lastId = prog.map(_._1).max
      assert(prog.count(p => p._1 < lastId && p._4 > 0) >= 2,
        s"expired keys must be evicted in >= 2 non-final batches: $prog")
      val totalKeys = live.map(_(2).asInstanceOf[Long]).sum
      val maxState = prog.map(_._3).max
      assert(maxState > 0 && maxState < totalKeys,
        s"live dedup state ($maxState keys) must plateau strictly below the " +
          s"corpus's $totalKeys (user, type, epoch) keys")
    } finally StreamOps.PaceRowsPerBatch = prev
  }

  test("stream-static enrichment join matches the batch join per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver"), (99L, "unused"))
      .toDF("user_id", "tier")
    val mem = MemoryStream[UserEvent]
    mem.addData(fixture: _*)
    val q = StreamOps.enrich(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enriched").select("event_id", "tier").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = fixture.toDF().join(dim, Seq("user_id"), "left")
      .select("event_id", "tier").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
    assert(streamed.forall(_._2 != null), "every fixture user has a tier")
  }
}
