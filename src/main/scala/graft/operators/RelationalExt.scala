package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Decimals.dsum

/** Relational breadth, part 2 (SURVEY §2B checklist): window functions
  * (ranking, running frames, lag), rollup/cube grouping sets, set operations,
  * distinct aggregation, string/date/math scalar functions, scalar
  * subqueries, having.
  *
  * All queries keep Catalyst-friendly shapes: single groupBy aggregates with
  * map-side partial aggregation, windows partitioned by a real key (scale:
  * shuffles by that key only; no global single-partition windows outside the
  * rank tokenizer, which documents the tradeoff).
  */
object RelationalExt {

  /** Ranking windows per customer: top-3 orders by totalprice. */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rnk", "drnk")
      .orderBy("o_custkey", "rn")
  }

  /** Running-sum frame per customer in order-date order (exact decimal sum
    * inside the frame, single deterministic double at the end). */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("running_spend",
        sum(col("o_totalprice").cast(DecimalType(38, 6))).over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "running_spend")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** ROLLUP grouping sets with sentinel labels (no null grouping keys in the
    * output — sidesteps engine null-ordering differences). */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  /** CUBE grouping sets over orders. Round 20: the money sum rides the
    * [[Decimals.splitDsumUs]] split primitive-long lanes (the
    * q_stats_agg/q_unpivot/q1 convention) — the 4× Expand then carries an
    * 8-byte long instead of a 16-byte Decimal buffer and the per-row
    * accumulate is a primitive add. o_totalprice ≤ ~6e5, six orders under
    * the 1e11-unit lane bound; bit-identical totals (OptimizedFormsSpec
    * pins row-for-row equality against [[qCubeDecimalForm]]). */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        Decimals.splitDsumUs(col("o_totalprice"), "sp"))
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), Decimals.splitDsum("sp"): _*)
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n"), Decimals.splitDsumOut("sp").as("sum_price"))
      .orderBy("orderstatus", "orderpriority")

  /** The rounds-1..19 direct Decimal(38,6) form of q_cube — the
    * OptimizedFormsSpec equivalence reference. */
  private[graft] def qCubeDecimalForm(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n"), col("sum_price"))
      .orderBy("orderstatus", "orderpriority")

  /** Set operations: customers by two predicates, tagged union/intersect/
    * except branches in one output. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val rich = c.filter(col("c_acctbal") > 7500).select("c_custkey")
    val urgent = c.join(
      o.filter(col("o_orderpriority") === "1-URGENT"),
      col("c_custkey") === col("o_custkey"), "left_semi").select("c_custkey")
    val tag = (name: String, df: DataFrame) => df.select(lit(name).as("op"), col("c_custkey"))
    tag("except", rich.except(urgent))
      .unionAll(tag("intersect", rich.intersect(urgent)))
      .unionAll(tag("union", rich.union(urgent).distinct()))
      .orderBy("op", "c_custkey")
  }

  /** Distinct aggregation (exact COUNT DISTINCT — expansion+two-phase agg in
    * Spark; HLL approx_count_distinct is the 100 TB variant, property-tested
    * since sketches differ across engines). */
  def qDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")

  /** String scalar functions over part. */
  def qStringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_type").like("%a%"))
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_up"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 4).as("type_prefix"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"))
      .orderBy("p_partkey")

  /** Date/time scalar functions + month rollup over orders. */
  def qDateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate"))
        .cast(org.apache.spark.sql.types.TimestampNTZType).as("month_start"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))
      .select(
        col("month_start"),
        year(col("month_start")).as("yr"),
        month(col("month_start")).as("mo"),
        quarter(col("month_start")).as("qtr"),
        dayofweek(col("month_start")).as("dow"),
        col("n"), col("sum_price"))
      .orderBy("month_start")

  /** CASE WHEN + math scalar functions (sqrt is IEEE-exact; round(…,6)
    * absorbs libm ulp differences on ln). */
  def qCaseMath(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_extendedprice") > 50000, "high")
          .when(col("l_extendedprice") > 20000, "mid")
          .otherwise("low").as("price_band"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        ceil(col("l_tax") * 100).as("tax_pct"),
        floor(col("l_extendedprice") / 1000).as("price_k"))
      .orderBy("l_orderkey", "l_linenumber", "sqrt_price", "key_mod", "disc_dev", "tax_pct")

  /** Scalar subquery: orders above 2x the average order value. */
  def qScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val stats = o.agg((dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
    o.crossJoin(broadcast(stats))
      .filter(col("o_totalprice") > col("avg_price") * 2)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** GROUP BY … HAVING: market segments with enough high-balance customers. */
  def qHaving(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 0)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
      .filter(col("n") >= 50)
      .orderBy("c_mktsegment")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_rank" -> qWindowRank,
    "q_window_running" -> qWindowRunning,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_set_ops" -> qSetOps,
    "q_distinct_agg" -> qDistinctAgg,
    "q_string_funcs" -> qStringFuncs,
    "q_date_funcs" -> qDateFuncs,
    "q_case_math" -> qCaseMath,
    "q_scalar_subquery" -> qScalarSubquery,
    "q_having" -> qHaving
  )

  def oracleSql: Map[String, String] = Map(
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(rn AS INTEGER) AS rn, CAST(rnk AS INTEGER) AS rnk, CAST(drnk AS INTEGER) AS drnk
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC NULLS LAST, o_orderkey))
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
        |  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY orderstatus, orderpriority""".stripMargin,
    "q_set_ops" ->
      """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7500),
        |urgent AS (SELECT c_custkey FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
        |SELECT 'except' AS op, c_custkey FROM (SELECT * FROM rich EXCEPT SELECT * FROM urgent)
        |UNION ALL
        |SELECT 'intersect' AS op, c_custkey FROM (SELECT * FROM rich INTERSECT SELECT * FROM urgent)
        |UNION ALL
        |SELECT 'union' AS op, c_custkey FROM (SELECT * FROM rich UNION SELECT * FROM urgent)
        |ORDER BY op, c_custkey""".stripMargin,
    "q_distinct_agg" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_up,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  substring(p_type, 1, 4) AS type_prefix,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled
        |FROM part WHERE p_type LIKE '%a%' ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month_start,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |  FROM orders GROUP BY 1)
        |SELECT CAST(month_start AS TIMESTAMP) AS month_start,
        |  CAST(EXTRACT(YEAR FROM month_start) AS INTEGER) AS yr,
        |  CAST(EXTRACT(MONTH FROM month_start) AS INTEGER) AS mo,
        |  CAST(EXTRACT(QUARTER FROM month_start) AS INTEGER) AS qtr,
        |  CAST(EXTRACT(DOW FROM month_start) + 1 AS INTEGER) AS dow,
        |  n, sum_price
        |FROM m ORDER BY month_start""".stripMargin,
    "q_case_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_extendedprice > 50000 THEN 'high'
        |       WHEN l_extendedprice > 20000 THEN 'mid' ELSE 'low' END AS price_band,
        |  round(sqrt(l_extendedprice), 6) AS sqrt_price,
        |  round(ln(l_extendedprice), 6) AS ln_price,
        |  CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct,
        |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k
        |FROM lineitem WHERE l_quantity >= 49
        |ORDER BY l_orderkey, l_linenumber, sqrt_price, key_mod, disc_dev, tax_pct""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > 2 * (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)/COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q_having" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY c_mktsegment HAVING COUNT(*) >= 50 ORDER BY c_mktsegment""".stripMargin
  )
}
