package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The verbatim-shape forms of the TPC-H queries whose engine plans were
  * restructured. They follow the SQL text join for join and pay for it
  * (a second fact scan and aggregation in Q18, stacked fact-wide semi and
  * anti joins in Q21), which is why the engine runs [[TpcH.q18]] and
  * [[TpcH.q21]] instead; OptimizedFormsSpec holds each pair row-for-row
  * equal. */
object TpcHReference {

  /** Q18 as aggregate → semi join → re-aggregate. */
  def q18SemiJoinForm(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val big = li.groupBy(col("l_orderkey").as("bo_key"))
      .agg(sum(col("l_quantity")).as("bq")).filter(col("bq") > 250)
      .select("bo_key")
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(big, col("o_orderkey") === col("bo_key"), "left_semi")
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  /** Q21 as EXISTS / NOT EXISTS written as stacked semi + anti joins on
    * the fact. */
  def q21SemiAntiForm(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val l2 = li.select(col("l_orderkey").as("l2_okey"), col("l_suppkey").as("l2_skey"))
    val l3 = li.select(col("l_orderkey").as("l3_okey"), col("l_suppkey").as("l3_skey"),
      col("l_shipdate").as("l3_ship"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(l2, col("l2_okey") === col("l_orderkey") &&
        col("l2_skey") =!= col("l_suppkey"), "left_semi")
      .join(l3, col("l3_okey") === col("l_orderkey") &&
        col("l3_skey") =!= col("l_suppkey") &&
        col("l3_ship") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_anti")
      .groupBy("s_name", "n_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }
}
