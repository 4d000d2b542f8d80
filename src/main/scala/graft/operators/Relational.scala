package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Decimals.dsum

/** Relational breadth over the star schema (SURVEY §2B): filters, joins
  * (broadcast/SMJ/semi/anti), aggregations, sorts/top-k, set ops.
  *
  * The reference has none of these (SURVEY §2B audit) — they are the standard
  * relational checklist re-expressed Spark-first. Every query is declarative
  * DataFrame API: Catalyst pushes filters/pruning into the parquet scan, picks
  * broadcast-hash vs sort-merge joins (fixed-size dims — nation/region — are
  * `broadcast()`-hinted unconditionally; SF-proportional dims like customer
  * ride [[TpcH.dim]]'s size-gated hint since round 20).
  *
  * Float determinism vs the DuckDB oracle: money columns are 2-decimal
  * values, so products like price*(1-disc) are exact 4-6 decimal values;
  * summing them after a cast to DECIMAL(38,6) is exact and associative on
  * both engines, and the final cast to double is deterministic
  * (FIXTURES.md §3).
  */
object Relational {

  private def ts(s: String): Column = to_timestamp(lit(s))

  // ---------------------------------------------------------------- queries

  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = disc * (lit(1) + col("l_tax"))
    // Round 20 (optimization round; r19 verdict item 6 — the q1-as-
    // normalizer adjudication is retired, Bench now carries a dedicated
    // fixed-work calib_norm): the three Decimal(38,6) money sums ride the
    // [[Decimals.splitDsumUs]] split primitive-long lanes — the same
    // exactness-preserving rewrite StatsAB measured at 1.52× for
    // q_stats_agg and r19 shipped for q_unpivot. Largest addend is charge
    // ≤ ~1.5e5 (price ≤ 1.1e5, ×1.1 discount-tax band), six orders under
    // the 1e11-unit lane bound; per-value rounding is the identical
    // HALF_UP 6-decimal cast, so group totals are BIT-identical to the
    // decimal form's (OptimizedFormsSpec pins row-for-row equality against
    // [[q1DecimalForm]]; oracle SQL unchanged). avg_price divides the
    // reassembled sum by the same count — the single double division the
    // decimal form performed, on bit-identical operands.
    li.select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        Decimals.splitDsumUs(col("l_extendedprice"), "bp"),
        Decimals.splitDsumUs(disc, "dp"),
        Decimals.splitDsumUs(charge, "ch"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact
        Decimals.splitDsum("bp") ++ Decimals.splitDsum("dp") ++
          Decimals.splitDsum("ch") :+ count(lit(1)).as("count_order"): _*)
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        Decimals.splitDsumOut("bp").as("sum_base_price"),
        Decimals.splitDsumOut("dp").as("sum_disc_price"),
        Decimals.splitDsumOut("ch").as("sum_charge"),
        (col("sum_qty") / col("count_order")).as("avg_qty"),
        (Decimals.splitDsumOut("bp") / col("count_order")).as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** The rounds-1..19 direct Decimal(38,6) form of q1, kept as the
    * equivalence reference — OptimizedFormsSpec asserts row-for-row
    * equality (schema included) between the two forms. */
  private[graft] def q1DecimalForm(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = disc * (lit(1) + col("l_tax"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact in double
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(disc).as("sum_disc_price"),
        dsum(charge).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  def qFilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("2000-01-01 00:00:00") &&
        col("l_quantity") > 45 && col("l_discount") <= 0.02)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")

  def qTopkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(15)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  /** Star join: fact ⋈ broadcast dims, revenue by nation (TPC-H Q5 flavor).
    * customer/nation/region are broadcast (dimension tables stay small at
    * any fact scale). The fact⋈fact hop — lineitem⋈orders on orderkey, at
    * 100 TB the single largest recurring shuffle in the schema — reads the
    * BUCKETED layout ([[Bucketed.bucketedTables]], round-9 verdict item
    * 2): both scans arrive hash-partitioned and sorted on the join key, so
    * the merge join runs with ZERO exchanges on either fact input
    * (plan-asserted in PlanSpec) — the write-once/join-many contract,
    * demonstrated on the flagship join that previously re-shuffled both
    * facts every run (the board's noisiest 100× row, 12-22 s
    * shuffle-bound). The `merge` hint pins SMJ so AQE's broadcast
    * conversion cannot hide the property at fixture scale. */
  def qJoinStar(spark: SparkSession, dir: String): DataFrame = {
    val (oName, lName) = Bucketed.bucketedTables(spark, dir)
    val li = spark.table(lName).hint("merge")
    val o = spark.table(oName).hint("merge")
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      // customer grows with SF — size-gated hint (round 20, guide §3.1);
      // nation/region are fixed-size and stay unconditionally hinted
      .join(TpcH.dim(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Semi join: customers having at least one open order (EXISTS). */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Anti join: customers with no orders at all (NOT EXISTS). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q1PricingSummary,
    "q_filter_project" -> qFilterProject,
    "q_topk_orders" -> qTopkOrders,
    "q_join_star" -> qJoinStar,
    "q_semi_join" -> qSemiJoin,
    "q_anti_join" -> qAntiJoin
  )

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |  SUM(l_quantity)/COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)/COUNT(*) AS avg_price,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_quantity > 45 AND l_discount <= 0.02
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag, l_shipdate""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC NULLS LAST, o_orderkey LIMIT 15""".stripMargin,
    "q_join_star" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin
  )
}
