package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Decimals.dsum

/** ORC as a second columnar source/sink format (round 15 — the "another
  * source format" axis): Spark's scan machinery is format-agnostic behind
  * the FileFormat/DataSourceV2 seam, and a 100 TB lake is rarely
  * single-format — enrichment tables, vendor drops, and Hive-era
  * warehouses arrive as ORC next to the parquet fact tables. The contract
  * query proves the parity that matters at scale: predicate pushdown and
  * column pruning reach the ORC reader exactly as they do the parquet one
  * (`PushedFilters` in the scan node, plan-asserted), and results are
  * bit-identical to the parquet-derived oracle.
  *
  * The ORC copy of `orders` is a DERIVED LAYOUT in the Bucketed/Layout
  * registry convention: built once per (context, dir), fingerprint-
  * validated against the SOURCE parquet (regenerated source rebuilds the
  * copy), scratch named per-process via [[graft.ScratchDirs]]. At 100 TB
  * nothing is copied — the table already lives in ORC; the copy here is
  * only the fixture's way to have an ORC table to scan.
  */
object OrcSource {

  private def orcOrders(spark: SparkSession, dir: String): String =
    DerivedCopy(spark, dir, "orc", "orders", "OrcSource.orcOrders") { path =>
      graft.Tables.orders(spark, dir)
        .write.mode(SaveMode.Overwrite)
        // zstd, the session shuffle/storage standard since round 13
        .option("compression", "zstd")
        .orc(path)
    }

  /** Monthly open-order rollup read FROM ORC: both predicates
    * (`o_orderstatus = 'O'`, `o_totalprice > 50000`) push into the ORC
    * reader (search-argument row-group skipping, the ORC twin of parquet
    * footer-stats pruning) and only the three referenced columns are
    * read — `PushedFilters` + ReadSchema plan-asserted in PlanSpec. The
    * money sum rides the DECIMAL(38,6)-then-double oracle convention;
    * month is truncated AS DATE on both engines. */
  def qOrcScan(spark: SparkSession, dir: String): DataFrame = {
    val path = orcOrders(spark, dir)
    spark.read.orc(path)
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 50000.0)
      .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_total"))
      .orderBy("month")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_orc_scan" -> qOrcScan
  )

  /** Oracle reads the SOURCE parquet — the ORC copy must be a faithful
    * round-trip for the hashes to meet. */
  def oracleSql: Map[String, String] = Map(
    "q_orc_scan" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 50000
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
