package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables
import graft.operators.Decimals.dsum

/** Event-stream operators, batch-first (SURVEY §2C): event-time windowed
  * aggregation (`window(ts, …)`), JSON property extraction (`from_json`),
  * stateful-dedup semantics (first event per key), and event-gap analysis.
  * Each batch query has a DuckDB oracle; the same plans run under Structured
  * Streaming with watermarks in graft.streaming (property-tested — streaming
  * state has no SQL oracle).
  *
  * Scale notes: hourly aggregation shuffles only (hour, event_type) partial
  * aggregates (map-side combine); per-user windows shuffle by user_id —
  * the natural key partitioning for a 100 TB event log.
  */
object EventOps {

  /** Tumbling event-time window aggregate: count + value sum per hour per
    * event type. Uses the `window()` operator (Structured-Streaming-shaped);
    * window.start == date_trunc('hour', ts) for aligned tumbling windows. */
  def qEventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast(org.apache.spark.sql.types.TimestampNTZType).as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")

  /** Sliding event-time window aggregate (1 h window, 30 min slide — every
    * event lands in exactly two windows). Exercises the sliding form of the
    * `window()` operator; the oracle enumerates both covering window starts
    * per event on a 30-min epoch grid (equivalent for size = 2 x slide). */
  def qEventsSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast(org.apache.spark.sql.types.TimestampNTZType).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** JSON property extraction via from_json with an explicit schema
    * (multimodal/nested column capability, SURVEY §2C). */
  def qEventsJson(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType)))
    Tables.events(spark, dir)
      .withColumn("k", from_json(col("props"), schema).getField("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  /** Gap-filled hourly series per event type: a complete hour scaffold
    * (sequence + explode between the global min/max hour) LEFT-joined to the
    * hourly counts, missing hours zero-filled — the standard time-series
    * resampling shape (the scaffold is tiny and broadcast; the fact side
    * aggregates before the join). */
  def qGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        date_trunc("hour", col("ts").cast("timestamp"))
          .cast(org.apache.spark.sql.types.TimestampNTZType).as("hour"))
    val hourly = ev.groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
    val bounds = ev.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
    val scaffold = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
      .crossJoin(ev.select("event_type").distinct())
    scaffold.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "hour")
  }

  /** Batch equivalent of streaming dropDuplicates-by-key: first event per
    * (user_id, event_type) in event-time order. */
  def qStreamDedupBatch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .orderBy("user_id", "event_type")
  }

  /** Per-user inter-event gap statistics (lag window + epoch arithmetic —
    * all integer µs, exact). */
  def qEventGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts").cast("timestamp")) - col("prev_us"))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_us")).as("total_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy("user_id")
  }

  /** Rolling-window row count for [[qRollingQuantile]] (shared with the
    * streaming twins' ring fold, StreamOps.rollFold). */
  private[graft] val RollRows = 20

  /** Block size (power of two) for [[rollingQuantile]]'s composite-key
    * windows; must exceed RollRows so a frame crosses at most one block
    * boundary. */
  private val RollBlockShift = 10 // 1024 rows per block

  /** Rolling exact quantiles (median + p90 of `value` over the trailing 20
    * events per event_type) — the p95-latency / anomaly-band staple of an
    * event pipeline. Spark has no exact-percentile window function, so the
    * window collects its frame (bounded: ROWS BETWEEN 19 PRECEDING makes
    * state O(RollRows), never the partition), sorts the 20-element array,
    * and selects the Type-1 discrete quantile `arr[ceil(p·n)]`.
    *
    * The selection formula is written EXPLICITLY on both engines (no
    * `quantile_cont`): a library interpolator computing the algebraically
    * equal `lo + frac·(hi-lo)` instead of `lo·(1-frac) + hi·frac` can land
    * one ulp across a round-6 half boundary — an intermittent,
    * data-dependent hash flake. `ceil(p·n)` is two identical IEEE ops on
    * both engines; whatever side of an integer `p·n` lands on, both
    * engines agree, and the selected value is an exact element.
    *
    * 100 TB shape — composite-key windows with boundary carry (an
    * event_type-only partition would funnel the whole stream onto a
    * handful of partitions):
    *  1. row_number within (event_type, hour-of-ts) — composite key;
    *  2. per-hour counts → exclusive prefix per type (an hours-sized frame,
    *     not an events-sized one) broadcast back ⇒ global per-type row
    *     number `grn` by pure arithmetic;
    *  3. rows land in fixed 1024-row blocks by grn; each block's last 19
    *     rows are ALSO emitted into the next block as carry rows, so every
    *     trailing-20 frame is complete inside one (event_type, block)
    *     partition — bounded at 1024+19 rows at any scale;
    *  4. the windows run per (event_type, block); carry copies are dropped
    *     after providing frame context.
    * Output is bit-identical to the single-window form (oracle unchanged);
    * PlanSpec asserts the composite keys, StreamingSpec the ring-state
    * twin's equivalence. */
  def qRollingQuantile(spark: SparkSession, dir: String): DataFrame =
    rollingQuantile(Tables.events(spark, dir)).orderBy("event_id")

  /** The rolling-quantile transformation over any (event_id, ts,
    * event_type, value) frame (shared with the streaming twin's
    * equivalence spec). */
  private[graft] def rollingQuantile(events: DataFrame): DataFrame = {
    val carryRows = RollRows - 1
    val blockLen = 1L << RollBlockShift
    // 1. local order within (event_type, hour)
    val wLocal = Window.partitionBy("event_type", "pb").orderBy(col("ts"), col("event_id"))
    val local = events
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("pb", date_trunc("hour", col("ts")))
      .withColumn("lrn", row_number().over(wLocal))
    // 2. hour counts -> exclusive prefix offsets (hours-sized, broadcast);
    // max(lrn) over the already-shuffled data so the scan happens once
    val prior = Window.partitionBy("event_type").orderBy("pb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("event_type", "pb")
      .agg(max(col("lrn")).cast("long").as("hour_n"))
      .withColumn("off", coalesce(sum(col("hour_n")).over(prior), lit(0L)))
      .select(col("event_type"), col("pb"), col("off"))
    val g = local.join(broadcast(offsets), Seq("event_type", "pb"))
      .withColumn("grn", col("off") + col("lrn"))
    // 3. fixed blocks + carry of each block's last rows into the next
    val pos = (col("grn") - 1)
    val main = g
      .withColumn("blk", shiftright(pos, RollBlockShift))
      .withColumn("carry", lit(false))
    val carried = g
      .filter(pos.bitwiseAND(lit(blockLen - 1)) >= blockLen - carryRows)
      .withColumn("blk", shiftright(pos, RollBlockShift) + 1)
      .withColumn("carry", lit(true))
    // 4. the bounded composite-key windows
    val wBlk = Window.partitionBy("event_type", "blk").orderBy("grn")
      .rowsBetween(-carryRows, Window.currentRow)
    def sel(arr: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
            p: Double): org.apache.spark.sql.Column =
      element_at(arr, ceil(lit(p) * n.cast("double")).cast("int"))
    main.unionByName(carried)
      .withColumn("arr", sort_array(collect_list(col("value")).over(wBlk)))
      .withColumn("roll_n", size(col("arr")))
      .filter(!col("carry"))
      .select(col("event_id"), col("event_type"), col("roll_n"),
        sel(col("arr"), col("roll_n"), 0.5).as("roll_median"),
        sel(col("arr"), col("roll_n"), 0.9).as("roll_p90"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_events_hourly" -> qEventsHourly,
    "q_rolling_quantile" -> qRollingQuantile,
    "q_events_sliding" -> qEventsSliding,
    "q_gap_fill" -> qGapFill,
    "q_events_json" -> qEventsJson,
    "q_stream_dedup_batch" -> qStreamDedupBatch,
    "q_event_gaps" -> qEventGaps
  )

  def oracleSql: Map[String, String] = Map(
    "q_rolling_quantile" ->
      s"""SELECT event_id, event_type,
         |  CAST(COUNT(*) OVER w AS INTEGER) AS roll_n,
         |  list_sort(list(value) OVER w)[CAST(CEIL(0.5 * CAST(COUNT(*) OVER w AS DOUBLE)) AS INT)] AS roll_median,
         |  list_sort(list(value) OVER w)[CAST(CEIL(0.9 * CAST(COUNT(*) OVER w AS DOUBLE)) AS INT)] AS roll_p90
         |FROM events
         |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
         |  ROWS BETWEEN ${RollRows - 1} PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_events_json" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_gap_fill" ->
      """WITH ev AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour FROM events),
        |hourly AS (SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM ev GROUP BY event_type, hour),
        |b AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM ev),
        |scaffold AS (
        |  SELECT t.event_type, g.hour
        |  FROM (SELECT DISTINCT event_type FROM ev) t,
        |       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b) g)
        |SELECT s.event_type, s.hour, COALESCE(h.n, 0) AS n
        |FROM scaffold s LEFT JOIN hourly h
        |  ON s.event_type = h.event_type AND s.hour = h.hour
        |ORDER BY s.event_type, s.hour""".stripMargin,
    "q_events_sliding" ->
      """WITH w AS (
        |  SELECT unnest([
        |      make_timestamp(epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000 * 1800000000),
        |      make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000 - 1) * 1800000000)
        |    ]) AS win_start, event_type, value
        |  FROM events)
        |SELECT win_start, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "q_stream_dedup_batch" ->
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q_event_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) - LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
        |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
