package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Decimals.dsum

/** The TPC-H gauntlet: the partsupp-free TPC-H
  * queries as oracle-checked contract entries. The fixtures are TPC-H-shaped
  * (TESTDATA.md; `q1_pricing_summary` IS Q1) but the schema is TRIMMED — no
  * partsupp table, no l_commitdate/l_receiptdate/l_shipmode, no
  * c_phone/o_comment/p_container — so each query keeps the TPC-H PLAN SHAPE
  * (the thing that stresses an optimizer: decorrelation depth, 5+-table join
  * ordering, disjunctive pushdown) with predicates adapted to the columns
  * that exist. Adaptations are noted per query; Q2/Q9/Q11/Q16/Q20 need
  * partsupp and are out (no such fixture), Q1 already ships as
  * `q1_pricing_summary`.
  *
  * Why these matter at 100 TB: hand-rolled contract queries exercise one
  * operator at a time; the TPC-H set is what a real warehouse runs —
  * multi-fact joins where join ORDER decides whether an intermediate is
  * 10^6 or 10^12 rows (Q5/Q7/Q8), correlated subqueries that MUST
  * decorrelate into joins or they become per-row scans (Q4/Q17/Q21/Q22),
  * and LIMIT-over-sort where a full sort would be a disaster (Q3/Q10/Q18
  * → TakeOrderedAndProject).
  *
  * Spark-first notes: fixed-size dimension sides (region/nation) are
  * `broadcast()`-hinted unconditionally; SF-proportional dims (supplier/
  * part/customer) go through the size-gated [[dim]] hint (the
  * hint only while the relation fits the broadcast budget, unhinted for
  * AQE above it); fact⋈fact (lineitem⋈orders) shuffles on the join
  * key once; correlated EXISTS/NOT EXISTS are expressed as left_semi /
  * left_anti joins DIRECTLY (the decorrelated form Catalyst would have to
  * derive from SQL — the DataFrame API lets us declare it); scalar
  * subqueries (Q15's max, Q22's avg) are tiny aggregates cross-joined as
  * broadcast single rows. Plan shape for the three biggest (Q5, Q18, Q21)
  * is pinned in PlanSpec: broadcast dims, no cartesian product, filters
  * pushed to the parquet scans.
  *
  * Float determinism vs DuckDB: the [[Relational]] convention — money sums
  * decimal-accumulate (exact, associative) then cast to double once;
  * quantity sums/avgs stay double (integral values, exact); divisions are
  * single double ops on both engines (FIXTURES.md §3).
  */
object TpcH {

  /** Broadcast admission for the SF-PROPORTIONAL dimensions (pick the
    * join strategy from data): customer/supplier/part grow linearly with
    * SF (~15 B customer rows at the 100 TB target), so the unconditional `broadcast()` hint
    * that wins at sf0.1 becomes a guaranteed driver/executor OOM at scale —
    * a hint overrides BOTH the size estimate and AQE. The gate admits the
    * hint only while the relation's optimizer-estimated scan bytes fit a
    * budget derived from the smallest JVM unified pool (the pagerank
    * admission pattern, [[Graph.clusterPools]]): ×8 for the scan-bytes →
    * hashed-relation expansion (UnsafeRow + BytesToBytesMap around packed
    * parquet bytes), the expanded relation capped at pool/8 (same margin as
    * [[Graph.vertexBroadcastablePool]]) and at 2 GiB absolute (well under
    * Spark's 8 GB / 512 M-row broadcast hard limits). Below the budget the
    * EXPLICIT hint stays — post-filter size estimates are unreliable
    * and these dims are known small relative to the fact at
    * every admitted SF; above it the join is left unhinted so AQE picks
    * the strategy from runtime sizes. nation (25 rows) / region (5) and
    * the single-row scalar frames stay unconditionally hinted — they do
    * not grow with SF. Pure gate — at the fixture SFs every dim passes,
    * so plans are unchanged (PlanSpec pins the broadcasts); rows/hash
    * identical at any SF because only the join STRATEGY is affected. */
  private[graft] def dimBroadcastable(estScanBytes: BigInt, minJvmPoolBytes: Long): Boolean = {
    val estRelation = estScanBytes * 8
    estRelation <= BigInt(minJvmPoolBytes / 8) && estRelation <= BigInt(2L << 30)
  }

  /** Size-gated dimension hint: `broadcast(df)` iff [[dimBroadcastable]].
    * private[operators]: [[Relational.qJoinStar]]'s customer dim rides the
    * same gate. */
  private[operators] def dim(df: DataFrame): DataFrame =
    if (dimBroadcastable(df.queryExecution.optimizedPlan.stats.sizeInBytes,
        Graph.clusterPools(df.sparkSession)._2)) broadcast(df)
    else df

  private def ts(s: String): Column = to_timestamp(lit(s))

  private def rev: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Q3 — shipping priority. Adaptation: o_shippriority (missing) →
    * o_orderpriority. Shape: 2 broadcast-dim hops onto the fact pair, agg
    * by a HIGH-cardinality key (l_orderkey), top-10 by revenue →
    * TakeOrderedAndProject, never a full sort of the aggregate. */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1998-03-15 00:00:00"))
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1998-03-15 00:00:00"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dim(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsum(rev).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  /** Q4 — order priority checking. Adaptation: the late-line predicate
    * l_commitdate < l_receiptdate (columns missing) → shipped >30 days
    * after the order date; same correlated-EXISTS shape, declared as a
    * left_semi join whose condition references BOTH sides (the
    * decorrelated form). */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-07-01 00:00:00") &&
        col("o_orderdate") < ts("1997-10-01 00:00:00"))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    o.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q5 — local supplier volume, verbatim shape (all columns exist): the
    * 6-table join with the c_nationkey = s_nationkey CORRELATION that
    * makes naive join orders explode. supplier/customer/nation/region
    * broadcast; lineitem⋈orders is the one shuffle. */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") < ts("1997-01-01 00:00:00"))
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dim(c), col("o_custkey") === col("c_custkey"))
      .join(dim(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(rev).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q6 — forecast revenue change, verbatim: the pure pushdown query (every
    * predicate must reach the parquet scan; zero joins, one partial agg). */
  def q6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-01-01 00:00:00") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** Q7 — volume shipping between two nations, verbatim shape: nation
    * joined TWICE under different roles (supplier side n1, customer side
    * n2) with the symmetric-pair disjunction. */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") <= ts("1997-12-31 00:00:00"))
    val o = Tables.orders(spark, dir)
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)
    val n1 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dim(s), col("l_suppkey") === col("s_suppkey"))
      .join(dim(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(rev).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8 — national market share, shape-verbatim (adaptation: p_type
    * 'ECONOMY ANODIZED STEEL' → the fixture's 'STANDARD'): 7 tables, the
    * conditional-share division sum(case)/sum. */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") <= ts("1997-12-31 00:00:00"))
    val p = Tables.part(spark, dir).filter(col("p_type") === "STANDARD")
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)
    val n1 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_rkey"))
    val n2 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val r = Tables.region(spark, dir).filter(col("r_name") === "AMERICA")
    val vol = rev.as("volume")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dim(p), col("l_partkey") === col("p_partkey"))
      .join(dim(s), col("l_suppkey") === col("s_suppkey"))
      .join(dim(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
      .join(broadcast(r), col("cn_rkey") === col("r_regionkey"))
      .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
      .select(year(col("o_orderdate")).as("o_year"), vol, col("supp_nation"))
      .groupBy("o_year")
      .agg((dsum(when(col("supp_nation") === "NATION_3", col("volume")).otherwise(0.0)) /
        dsum(col("volume"))).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q10 — returned item reporting, verbatim shape minus the missing
    * c_address/c_phone/c_comment projection columns: fact pair + 2
    * broadcast dims, agg by customer, top-20 by revenue lost. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-10-01 00:00:00") &&
        col("o_orderdate") < ts("1997-01-01 00:00:00"))
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dim(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dsum(rev).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
  }

  /** Q12 — shipping modes and order priority. Adaptation: l_shipmode
    * (missing) → l_linestatus as the group key; the commit/receipt lag →
    * shipped >60 days after order date. Shape kept: one fact⋈fact join,
    * conditional counts by priority class. */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
    val o = Tables.orders(spark, dir)
    val high = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    li.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** Q13 — customer distribution, verbatim shape (adaptation: the
    * o_comment NOT LIKE filter → an o_orderpriority exclusion): LEFT join
    * preserving order-less customers, two stacked aggregations. */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    // Aggregate before the shuffle: count orders per custkey FIRST, then
    // left-join the counts to customer — the join and every exchange now carry a 12-byte
    // (custkey, count) row instead of the full order row, and at scale the
    // fact side is pre-reduced by the map-side partial count instead of
    // being sort-merge-shuffled wholesale. The per-custkey re-aggregation
    // (sum of the joined counts) keeps the original's semantics exactly
    // even under duplicate customer keys — count-over-join distributes as
    // sum-of-counts. Rows/hash identical — oracle SQL unchanged.
    val perCust = o.filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    c.join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(sum(coalesce(col("n_orders"), lit(0L))).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q14 — promotion effect, verbatim shape (p_type LIKE 'PROMO%' matches
    * the fixture's 'PROMO' family): conditional revenue share over one
    * month, broadcast part. */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-03-01 00:00:00") &&
        col("l_shipdate") < ts("1997-04-01 00:00:00"))
    val p = Tables.part(spark, dir)
    li.join(dim(p), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        dsum(when(col("p_type").startsWith("PROMO"), rev).otherwise(0.0)) /
        dsum(rev)).as("promo_revenue"))
  }

  /** Q15 — top supplier, verbatim shape: the revenue view reused twice
    * (once grouped, once for its max) — the scalar-subquery-on-a-CTE
    * pattern; the view aggregates lineitem BEFORE the supplier join, so
    * the join input is |suppliers|, not |lineitem|. Exact double equality
    * against the max is safe: both sides are the same decimal-exact sums. */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val revenue = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-04-01 00:00:00"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(dsum(rev).as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("max_revenue"))
    Tables.supplier(spark, dir)
      .join(revenue, col("s_suppkey") === col("supplier_no"))
      .join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  /** Q17 — small-quantity-order revenue, verbatim shape (adaptation:
    * p_container 'MED BOX' → a p_size band; a single-size cut selects
    * ~1.6 parts at sf0.001 and the final sum degenerates to NULL): the
    * correlated scalar
    * avg-per-part subquery DECORRELATED into a per-part aggregate joined
    * back — the rewrite that turns a per-row rescan into one extra
    * aggregation (quantities are integral doubles: their sum/avg is exact
    * without the decimal detour). */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#3" && col("p_size").between(20, 30))
    val perPart = li.groupBy(col("l_partkey").as("ap_key"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(dim(p), col("l_partkey") === col("p_partkey"))
      .join(perPart, col("p_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  /** Q18 — large volume customers, with its shuffles removed outright:
    * the HAVING subquery's per-order
    * quantity sum and the output's sum_qty are THE SAME aggregate — the
    * output groups the li⋈o⋈c rows by (c_custkey, c_name, o_orderkey,
    * o_orderdate, o_totalprice), and since o_orderkey is unique in orders
    * each group holds exactly one order's lineitem rows, i.e. sum_qty = bq.
    * So aggregate lineitem ONCE, filter > 250 (a Θ(qualifying-orders)
    * frame), and join it to orders + customer: 2 lineitem scans → 1, the
    * semi join and the second fact-wide aggregation (the 1000× spill
    * term — ~150 M-group hash sets at 600 M rows, measured at 153 s,
    * SUPER-linear) are gone. The qualifying side is left UNHINTED so AQE
    * picks broadcast from its actual runtime size (scale-adaptive, not a
    * local[32] constant). Rows/hash identical to the verbatim shape —
    * OptimizedFormsSpec holds it equal to the semi-join form in
    * `TpcHReference`. */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val big = li.groupBy(col("l_orderkey").as("bo_key"))
      .agg(sum(col("l_quantity")).as("sum_qty")).filter(col("sum_qty") > 250)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(big, col("o_orderkey") === col("bo_key"))
      .join(dim(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  /** Q19 — discounted revenue over disjunctive brand/size/quantity
    * triplets, verbatim shape (adaptation: p_container/l_shipmode legs →
    * p_size bands): the OR-of-ANDs a pushdown planner must split across
    * the join without cartesian fallback. */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val leg1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
      col("l_quantity").between(1, 11)
    val leg2 = col("p_brand") === "Brand#18" && col("p_size").between(1, 25) &&
      col("l_quantity").between(10, 20)
    val leg3 = col("p_brand") === "Brand#5" && col("p_size").between(1, 35) &&
      col("l_quantity").between(20, 30)
    li.join(dim(p), col("l_partkey") === col("p_partkey"))
      .filter(leg1 || leg2 || leg3)
      .agg(dsum(rev).as("revenue"))
  }

  /** Q21 — suppliers who kept orders waiting, the decorrelation stress
    * test: EXISTS (another supplier contributed to the same order) AND
    * NOT EXISTS (any OTHER supplier was late on it), as a left_semi then
    * left_anti join on the same fact. Adaptations: "late" =
    * shipped >60 days after o_orderdate (receipt/commit columns missing);
    * since l2/l3 share l1's order, the outer row's o_orderdate correlates
    * the subquery lateness exactly like the original's per-line dates.
    * The original's single-nation cut is dropped (the fixture has ~4
    * suppliers per nation at sf0.001, which empties the result); the
    * broadcast supplier⋈nation hop stays, with n_name in the output
    * carrying the dim column through. */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
    // Both correlated subqueries are per-ORDER set predicates over the same fact —
    //   EXISTS(other supplier in the order)        ⟺ the order has ≥ 2
    //     distinct suppliers                        ⟺ min(skey) ≠ max(skey);
    //   NOT EXISTS(other LATE supplier in the order)⟺ the order's late lines
    //     all carry ONE supplier (the outer row is itself late, so that one
    //     supplier is the outer's)                  ⟺ min/max over the
    //     late-only lane agree (min/max skip the when()'s nulls).
    // Both reduce to four min/max window aggregates over ONE pass of the
    // joined fact partitioned by l_orderkey — replacing the semi + anti
    // joins whose measured 1000× cost was three fact-wide exchanges
    // (158.8 s, SUPER-linear spill past the 19 GiB pool). When the planner
    // shuffles li⋈o (the at-scale shape) the window inherits the join's
    // hashpartitioning(l_orderkey) and its sort, so the whole derivation
    // adds ZERO exchanges; under a broadcast li⋈o (small SFs) it costs the
    // one exchange+sort the semi/anti pair also needed. Rows/hash identical
    // — the oracle SQL keeps the EXISTS/NOT EXISTS formulation, and
    // OptimizedFormsSpec holds this equal to the semi+anti form in
    // `TpcHReference`.
    val w = Window.partitionBy("l_orderkey")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), late.as("late"))
      // all four aggregates in ONE select so they land in ONE Window node
      // (chained withColumns left three partition re-traversals in-plan)
      .select(col("l_orderkey"), col("l_suppkey"), col("late"),
        min(col("l_suppkey")).over(w).as("min_skey"),
        max(col("l_suppkey")).over(w).as("max_skey"),
        min(when(col("late"), col("l_suppkey"))).over(w).as("min_late"),
        max(when(col("late"), col("l_suppkey"))).over(w).as("max_late"))
      .filter(col("late") && col("min_skey") =!= col("max_skey") &&
        col("min_late") === col("max_late"))
      .join(dim(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy("s_name", "n_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Q22 — global sales opportunity, verbatim shape (adaptations: the
    * c_phone country-code substring → c_nationkey % 7, and the NOT EXISTS
    * leg → "no URGENT orders" — every fixture customer has orders, so the
    * original "no orders at all" is vacuously empty at all SFs and a
    * 0-row hash proves nothing): positive-balance average as a broadcast
    * scalar, above-average customers grouped by code. The anti join IS
    * the NOT EXISTS; the scalar avg is decimal-exact then one double
    * divide. */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .withColumn("cntrycode", (col("c_nationkey") % 7).cast("int"))
    val codes = Seq(0, 1, 2, 3)
    val avgBal = c.filter(col("c_acctbal") > 0.0 && col("cntrycode").isin(codes: _*))
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val o = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.filter(col("cntrycode").isin(codes: _*))
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(o, col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q3" -> q3, "q_tpch_q4" -> q4, "q_tpch_q5" -> q5, "q_tpch_q6" -> q6,
    "q_tpch_q7" -> q7, "q_tpch_q8" -> q8, "q_tpch_q10" -> q10,
    "q_tpch_q12" -> q12, "q_tpch_q13" -> q13, "q_tpch_q14" -> q14,
    "q_tpch_q15" -> q15, "q_tpch_q17" -> q17, "q_tpch_q18" -> q18,
    "q_tpch_q19" -> q19, "q_tpch_q21" -> q21, "q_tpch_q22" -> q22
  )

  private val Dsum = "CAST(SUM(CAST(%s AS DECIMAL(38,6))) AS DOUBLE)"
  private def ds(e: String): String = Dsum.format(e)
  private val Rev = "l_extendedprice*(1-l_discount)"

  def oracleSql: Map[String, String] = Map(
    "q_tpch_q3" ->
      s"""SELECT l_orderkey, ${ds(Rev)} AS revenue, o_orderdate, o_orderpriority
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC NULLS LAST, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q5" ->
      s"""SELECT n_name, ${ds(Rev)} AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC NULLS LAST, n_name""".stripMargin,
    "q_tpch_q6" ->
      s"""SELECT ${ds("l_extendedprice*l_discount")} AS revenue FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 24""".stripMargin,
    "q_tpch_q7" ->
      s"""SELECT supp_nation, cust_nation, l_year, ${ds("volume")} AS revenue FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(year(l_shipdate) AS INTEGER) AS l_year, $Rev AS volume
         |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
         |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
         |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
         |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate <= TIMESTAMP '1997-12-31 00:00:00')
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_tpch_q8" ->
      s"""SELECT o_year,
         |  ${ds("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END")} / ${ds("volume")} AS mkt_share
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, $Rev AS volume, n2.n_name AS supp_nation
         |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
         |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
         |    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
         |    AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
         |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
         |    AND p_type = 'STANDARD')
         |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_tpch_q10" ->
      s"""SELECT c_custkey, c_name, ${ds(Rev)} AS revenue, c_acctbal, n_name
         |FROM customer, orders, lineitem, nation
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC NULLS LAST, c_custkey LIMIT 20""".stripMargin,
    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q_tpch_q13" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q14" ->
      s"""SELECT 100.0 * ${ds(s"CASE WHEN p_type LIKE 'PROMO%' THEN $Rev ELSE 0.0 END")} / ${ds(Rev)} AS promo_revenue
         |FROM lineitem, part
         |WHERE l_partkey = p_partkey
         |  AND l_shipdate >= TIMESTAMP '1997-03-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin,
    "q_tpch_q15" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no, ${ds(Rev)} AS total_revenue FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue FROM supplier, revenue
         |WHERE s_suppkey = supplier_no AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q17" ->
      s"""SELECT ${ds("l_extendedprice")} / 7.0 AS avg_yearly FROM lineitem, part
         |WHERE p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 30
         |  AND l_quantity < (SELECT 0.2 * (SUM(l_quantity) / COUNT(*)) FROM lineitem l2
         |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q_tpch_q18" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, SUM(l_quantity) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderdate, o_orderkey LIMIT 100""".stripMargin,
    "q_tpch_q19" ->
      s"""SELECT ${ds(Rev)} AS revenue FROM lineitem, part
         |WHERE l_partkey = p_partkey AND (
         |     (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#18' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))""".stripMargin,
    "q_tpch_q21" ->
      """SELECT s_name, n_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |  AND s_nationkey = n_nationkey
        |GROUP BY s_name, n_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q_tpch_q22" ->
      """SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
        |FROM (
        |  SELECT CAST(c_nationkey % 7 AS INTEGER) AS cntrycode, c_acctbal FROM customer
        |  WHERE CAST(c_nationkey % 7 AS INTEGER) IN (0, 1, 2, 3)
        |    AND c_acctbal > (
        |      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) FROM customer
        |      WHERE c_acctbal > 0.0 AND CAST(c_nationkey % 7 AS INTEGER) IN (0, 1, 2, 3))
        |    AND NOT EXISTS (SELECT 1 FROM orders
        |                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin
  )
}
