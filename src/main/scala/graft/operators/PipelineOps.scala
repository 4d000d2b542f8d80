package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Decimals.dsum

/** Training-data-pipeline operators beyond the round-1 surface (north star,
  * SURVEY §2C): gap-based sessionization, deterministic hash sampling,
  * BPE-style adjacent-pair counting, TF-IDF scoring, value-range window
  * frames, and deterministic mode aggregation.
  *
  * Scale notes (100 TB posture):
  *  - sessionize: one shuffle by user_id; session ids are running sums inside
  *    the partition — the canonical distributed sessionization (no state
  *    collected on the driver). The streaming twin is
  *    [[graft.streaming.StreamOps]] session windows.
  *  - hash sampling: map-only, no shuffle, stable under any partitioning —
  *    the only sampling that is reproducible across cluster sizes and reruns
  *    (rand()-based sampling is neither). This is how a 100 TB corpus takes
  *    a consistent 20% slice per experiment.
  *  - BPE pairs: explode inflates rows x words/doc, but partial aggregation
  *    collapses pairs map-side before the single shuffle by pair.
  *  - TF-IDF: two aggregations sharing one explode pass; the document
  *    frequency table (vocabulary-sized) is broadcast back, the corpus-size
  *    scalar rides a broadcast cross join — the fact table never shuffles
  *    twice.
  */
object PipelineOps {

  /** Session gap threshold: 30 minutes, in integer microseconds. */
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /** Gap-based sessionization: a new session starts when the inter-event gap
    * exceeds 30 min; sessions aggregate counts, span and value. All time
    * arithmetic is integer epoch-µs (exact). */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(run))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** The NATIVE session_window aggregate (batch form of the streaming
    * operator), oracle-checked against the first-principles gap-and-island
    * SQL of [[qSessionize]]: merged sessions per user at a 30-min gap,
    * window end = last event + gap. */
  def qSessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** Deterministic hash sampling (20% of documents): keep rows whose
    * md5-derived bucket (first 16 bits, mod 100) falls under the rate.
    * Reproducible across engines, reruns and cluster sizes; map-only. */
  def qSampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("h",
        conv(substring(md5(concat(lit("smp|"), col("doc_id").cast("string"))), 1, 4), 16, 10)
          .cast("long") % 100)
      .filter(col("h") < 20)
      .select(col("doc_id"), col("lang"), col("source"), col("h"))
      .orderBy("doc_id")

  /** BPE-style adjacent word-pair frequencies (the counting step of a BPE
    * tokenizer-training loop): top 50 pairs. Explode + lead window keeps the
    * pair construction inside codegen; pair counts combine map-side. */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    d.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .withColumn("next_word", lead(col("word"), 1).over(w))
      .filter(col("next_word").isNotNull)
      .select(concat_ws(" ", col("word"), col("next_word")).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(50)
  }

  /** TF-IDF top terms: tf from one explode pass, document frequency from the
    * same pass re-aggregated, idf = ln(N/df). Scores rounded to 4 decimals
    * (ln ulp differences across engines are ~1e-15 — far inside the rounding
    * margin); full (score, doc, word) tiebreak. */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = d.agg(countDistinct(col("doc_id")).as("n_docs"))
    val score = round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4)
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"), col("df"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("word"))
      .limit(100)
  }

  /** Value-range window frame (RANGE BETWEEN x PRECEDING): rolling spend of
    * all orders within 10k price of the current one, per customer. Peers tie
    * into the same frame, so the result is order-independent. */
  def qWindowRangeFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .selectExpr("o_custkey", "o_orderkey", "o_totalprice",
        """CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
          |  PARTITION BY o_custkey ORDER BY o_totalprice
          |  RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum""".stripMargin)
      .orderBy("o_custkey", "o_orderkey")

  /** Deterministic mode aggregate: most frequent l_quantity per return flag,
    * ties broken toward the smaller value (the builtin `mode` leaves ties
    * unspecified — unusable against an oracle). */
  def qModeAgg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag").orderBy(col("n").desc, col("l_quantity"))
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))
      .orderBy("l_returnflag")
  }

  /** Array/scalar functions over the embedding column: length, bounds, first
    * element, L2 norm (codegen'd fixed-order dot product). */
  def qArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val d2 = graft.functions.DotProductExpr.dot(e, e)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        size(e).as("dim"),
        element_at(e, 1).cast("double").as("first_val"),
        array_min(e).cast("double").as("min_val"),
        array_max(e).cast("double").as("max_val"),
        round(sqrt(d2), 4).as("l2_norm"))
      .orderBy("vec_id")
  }

  /** Character-distribution Shannon entropy per document (quality signal:
    * low-entropy docs are repetitive/degenerate). entropy = ln n − (Σ c·ln c)/n
    * in bits — the identical formula on both engines; float sum order
    * differences are ~1e-15, far inside the 4-decimal rounding. */
  /** Round 8: ONE row-local code-point walk ([[graft.functions
    * .CharEntropyExpr]]) — the declarative form exploded every character
    * of the corpus into a (doc_id, char) shuffle through two hash
    * aggregations; the walk makes the query scan → project → output sort.
    * Code-point semantics, canonical-order float summation, HALF_UP
    * round-4 — pinned equal to the explode form in CharEntropySpec. Docs
    * with empty text stay absent (the explode form emitted no rows for
    * them). */
  def qCharEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        graft.functions.CharEntropyExpr.charEntropy(col("text")).as("s"))
      .select(col("doc_id"), col("s.n").as("n"),
        col("s.n_distinct").as("n_distinct"),
        col("s.entropy_bits").as("entropy_bits"))
      .orderBy("doc_id")

  /** Mixing-weight (stratified) sampling: per-source rates from the same
    * deterministic hash — how a 100 TB corpus reweights sources for a
    * training mix without materializing intermediate copies. */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("source") === "src0", 10).otherwise(25)
    Tables.documents(spark, dir)
      .withColumn("h",
        conv(substring(md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 4), 16, 10)
          .cast("long") % 100)
      .filter(col("h") < rate)
      .select(col("doc_id"), col("source"), col("h"))
      .orderBy("doc_id")
  }

  /** Merge rounds for [[qBpeTrain]]. Production BPE runs ~30k rounds of the
    * SAME loop body; 4 rounds exercise every moving part (count, argmax,
    * merge, recount-on-merged) while keeping the oracle CTE chain finite. */
  val BpeRounds = 4

  /** Full BPE merge-rule training ([[qBpePairs]]'s counting step closed
    * into the Sennrich et al. 2016 loop): per round, count adjacent symbol
    * pairs over the WORD-TYPE table weighted by word frequency, take the
    * (count desc, pair asc) argmax, fuse every non-overlapping occurrence
    * ([[graft.functions.BpeMergeExpr]]), repeat on the merged symbols.
    * Output: the learned merge table — the artifact a tokenizer trainer
    * ships.
    *
    * 100 TB shape: the corpus-sized work is the ONE word-frequency
    * aggregation (explode + map-side-combined groupBy), checkpointed; every
    * round after that runs on the word-TYPE table (vocabulary-sized, ~10^8
    * rows for web scale — still distributed, never driver-side), with one
    * map-only merge projection and one map-side-combined pair count per
    * round. Only the per-round argmax row (one pair) is collected —
    * boundary-constant pattern, like quantile bounds. */
  def qBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words0 = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(split(col("word"), "").as("sym"), col("freq"))
      .localCheckpoint(true) // corpus explode runs once; rounds reuse the cache
    trainBpe(words0, BpeRounds)
      .toDF("round", "pair_left", "pair_right", "pair_count")
      .orderBy("round")
  }

  /** The merge-rule loop over a (sym: array<string>, freq: long) word-type
    * frame; returns (round, left, right, pair_count) per learned rule.
    * Separated from [[qBpeTrain]] so specs can train on planted vocab. */
  private[operators] def trainBpe(words: DataFrame,
                                  rounds: Int): Seq[(Int, String, String, Long)] = {
    var cur = words
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val top = cur
        .filter(size(col("sym")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(sym) - 1), " +
            "i -> struct(element_at(sym, i) AS l, element_at(sym, i + 1) AS r))"))
          .as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .head()
      val (l, r, c) = (top.getString(0), top.getString(1), top.getLong(2))
      rules += ((round, l, r, c))
      if (round < rounds)
        cur = cur.select(
          graft.functions.BpeMergeExpr.mergePair(col("sym"), l, r).as("sym"),
          col("freq"))
    }
    rules.result()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_char_entropy" -> qCharEntropy,
    "q_bpe_train" -> qBpeTrain,
    "q_sample_stratified" -> qSampleStratified,
    "q_sessionize" -> qSessionize,
    "q_session_window" -> qSessionWindow,
    "q_sample_hash" -> qSampleHash,
    "q_bpe_pairs" -> qBpePairs,
    "q_tfidf" -> qTfidf,
    "q_window_range_frame" -> qWindowRangeFrame,
    "q_mode_agg" -> qModeAgg,
    "q_array_funcs" -> qArrayFuncs
  )

  /** Exact integer parse of md5 hex chars [1..4] (DuckDB side). */
  private val hex16Sql: String =
    Seq(4096, 256, 16, 1).zipWithIndex
      .map { case (mult, i) => s"(strpos('0123456789abcdef', m[${i + 1}]) - 1) * $mult" }
      .mkString("(", " + ", ")")

  /** Oracle for [[qBpeTrain]]: the same loop unrolled as a CTE chain —
    * round i's merge is DuckDB `list_reduce` folding symbols left-to-right
    * (a just-fused pair can never re-match as a left, so the fold equals
    * greedy non-overlapping replacement; see BpeMergeExpr). */
  private def bpeTrainSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH words AS (
             |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  GROUP BY 1),
             |w0 AS (SELECT list_transform(range(1, len(word) + 1), i -> word[i]) AS sym, freq
             |       FROM words)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
                |p$i AS (SELECT sym[i] AS l, sym[i + 1] AS r, SUM(freq) AS c
                |        FROM w${i - 1}, UNNEST(range(1, len(sym))) AS t(i) GROUP BY 1, 2),
                |b$i AS (SELECT l, r, CAST(c AS BIGINT) AS c FROM p$i ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
      if (i < k)
        sb ++= s""",
                  |w$i AS (SELECT list_reduce(list_transform(sym, x -> [x]),
                  |          (acc, x) -> CASE WHEN acc[-1] = b$i.l AND x[1] = b$i.r
                  |                      THEN acc[:length(acc) - 1] || [b$i.l || b$i.r]
                  |                      ELSE acc || x END) AS sym, freq
                  |        FROM w${i - 1}, b$i)""".stripMargin
    }
    sb ++= "\nSELECT * FROM ("
    sb ++= (1 to k).map(i =>
      s"SELECT $i AS round, l AS pair_left, r AS pair_right, c AS pair_count FROM b$i")
      .mkString(" UNION ALL ")
    sb ++= ") ORDER BY round"
    sb.result()
  }

  def oracleSql: Map[String, String] = Map(
    "q_bpe_train" -> bpeTrainSql(BpeRounds),
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |cnt AS (SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS cnt
        |        FROM ch WHERE c <> '' GROUP BY doc_id, c)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  round((ln(SUM(cnt)) - SUM(cnt * ln(cnt)) / SUM(cnt)) / ln(2), 4) AS entropy_bits
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      s"""WITH h AS (
         |  SELECT doc_id, source, md5('mix|' || CAST(doc_id AS VARCHAR)) AS m
         |  FROM documents)
         |SELECT doc_id, source, CAST($hex16Sql % 100 AS BIGINT) AS h
         |FROM h WHERE $hex16Sql % 100 < CASE WHEN source = 'src0' THEN 10 ELSE 25 END
         |ORDER BY doc_id""".stripMargin,
    "q_session_window" ->
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events),
         |g AS (
         |  SELECT *, CASE WHEN LAG(ts_us, 1) OVER w IS NULL
         |      OR ts_us - LAG(ts_us, 1) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS is_new
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         |s AS (
         |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM g)
         |SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) + $SessionGapUs AS end_us,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
         |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,
    "q_sessionize" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
         |  FROM events),
         |g AS (
         |  SELECT *, CASE WHEN LAG(ts_us, 1) OVER w IS NULL
         |      OR ts_us - LAG(ts_us, 1) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS is_new
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (
         |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM g)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |  MAX(ts_us) - MIN(ts_us) AS duration_us,
         |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
         |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
    "q_sample_hash" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, source, md5('smp|' || CAST(doc_id AS VARCHAR)) AS m
         |  FROM documents)
         |SELECT doc_id, lang, source, CAST($hex16Sql % 100 AS BIGINT) AS h
         |FROM h WHERE $hex16Sql % 100 < 20 ORDER BY doc_id""".stripMargin,
    "q_bpe_pairs" ->
      """WITH w AS (SELECT string_split(text, ' ') AS l FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS pair
        |  FROM w)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "q_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |t AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM tf GROUP BY doc_id, word),
        |d AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY word),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents)
        |SELECT t.doc_id, t.word, t.tf, d.df,
        |  round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 4) AS score
        |FROM t JOIN d USING (word) CROSS JOIN n
        |ORDER BY score DESC, doc_id, word LIMIT 100""".stripMargin,
    "q_window_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_mode_agg" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |        ORDER BY n DESC, l_quantity) AS rn FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, n FROM r
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "q_array_funcs" ->
      s"""SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_val,
        |  CAST(list_min(embedding) AS DOUBLE) AS min_val,
        |  CAST(list_max(embedding) AS DOUBLE) AS max_val,
        |  round(sqrt(${(0 until 64).map(d => s"CAST(embedding[${d + 1}] AS DOUBLE) * CAST(embedding[${d + 1}] AS DOUBLE)").mkString("(", " + ", ")")}), 4) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin
  )
}
