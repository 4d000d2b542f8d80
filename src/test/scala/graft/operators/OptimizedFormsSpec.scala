package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Equivalence pins for the contract queries whose PLAN departs from the
  * obvious form: each is held row-for-row equal to that form (the declared
  * results may not change — every query is re-run against the DuckDB
  * oracle, and the oracle SQL follows the obvious form).
  * Comparisons collect both forms and compare ordered row seqs (each query
  * ends in a total ORDER BY / top-k, so order is part of the contract).
  */
class OptimizedFormsSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def assertEqualForms(opt: DataFrame, ref: DataFrame, tag: String): Unit = {
    val (o, r) = (rows(opt), rows(ref))
    assert(o.nonEmpty, s"$tag: optimized form returned no rows")
    assert(o == r, s"$tag: optimized form diverges from the reference form:\n$o\nvs\n$r")
    assert(opt.schema == ref.schema,
      s"$tag: schema drift: ${opt.schema} vs ${ref.schema}")
  }

  test("q18: single-aggregation form == semi-join form (sf0.001 + sf0.01)") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01"))
      assertEqualForms(TpcH.q18(spark, dir), TpcHReference.q18SemiJoinForm(spark, dir),
        s"q18@$dir")
  }

  test("q21: window min/max form == semi+anti form (sf0.001 + sf0.01)") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01"))
      assertEqualForms(TpcH.q21(spark, dir), TpcHReference.q21SemiAntiForm(spark, dir),
        s"q21@$dir")
  }

  test("q13: aggregate-before-join form == join-then-aggregate form") {
    // the join-then-aggregate form inline: LEFT join the full orders fact onto
    // customer with the priority exclusion as a join condition, then count
    val ref = {
      val c = Tables.customer(spark, "/root/testdata/sf0.01")
      val o = Tables.orders(spark, "/root/testdata/sf0.01")
      c.join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT", "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }
    val opt = TpcH.q13(spark, "/root/testdata/sf0.01")
    val (o, r) = (rows(opt), rows(ref))
    assert(o.nonEmpty && o == r, s"q13 diverges:\n$o\nvs\n$r")
    // dtypes must hold (BIGINT c_count/custdist); nullability may differ
    // (sum is nullable where count was not) and the parquet/oracle lane is
    // nullability-blind, so compare dataTypes only
    assert(opt.schema.map(f => (f.name, f.dataType)) ==
      ref.schema.map(f => (f.name, f.dataType)),
      s"q13 dtype drift: ${opt.schema} vs ${ref.schema}")
  }

  test("q1: split-lane form == direct Decimal(38,6) form, bitwise (sf0.001 + sf0.01)") {
    // q1's three money sums run on the split primitive-long lanes; totals
    // (and the avg_price division) must be BIT-identical to the decimal
    // form's. dataTypes compared (nullability-blind, the q13
    // convention — lane reassembly arithmetic differs in nullability).
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val opt = Relational.q1PricingSummary(spark, dir)
      val ref = Relational.q1DecimalForm(spark, dir)
      val (o, r) = (rows(opt), rows(ref))
      assert(o.nonEmpty && o == r, s"q1@$dir diverges:\n$o\nvs\n$r")
      assert(opt.schema.map(f => (f.name, f.dataType)) ==
        ref.schema.map(f => (f.name, f.dataType)),
        s"q1@$dir dtype drift: ${opt.schema} vs ${ref.schema}")
    }
  }

  test("q_cube: split-lane sum == direct Decimal(38,6) form, bitwise") {
    val dir = "/root/testdata/sf0.01"
    val opt = RelationalExt.qCube(spark, dir)
    val ref = RelationalExt.qCubeDecimalForm(spark, dir)
    val (o, r) = (rows(opt), rows(ref))
    assert(o.nonEmpty && o == r, s"q_cube diverges:\n$o\nvs\n$r")
    assert(opt.schema.map(f => (f.name, f.dataType)) ==
      ref.schema.map(f => (f.name, f.dataType)),
      s"q_cube dtype drift: ${opt.schema} vs ${ref.schema}")
  }

  test("dim broadcast gate: admits fixture-scale dims, rejects at-scale dims") {
    // the SF-proportional dimension hints are size-gated. Pure-function
    // pins of the admission boundary:
    val pool32g = Graph.unifiedPoolOf(32L << 30) // the probe standard's pool
    // sf0.1 customer ≈ 1 MB of scan bytes — admitted (plan unchanged)
    assert(TpcH.dimBroadcastable(BigInt(1L << 20), pool32g))
    // 100× customer ≈ 100 MB — still admitted (the 100× probe measured
    // broadcast as the win there; ×8 expansion = 800 MB ≤ pool/8 ≈ 2.4 GB)
    assert(TpcH.dimBroadcastable(BigInt(100L << 20), pool32g))
    // 1000×+ customer ≥ 1 GB scan bytes — REJECTED (×8 ≥ the 2 GiB absolute
    // cap and past pool/8): the join is left to AQE instead of a forced OOM
    assert(!TpcH.dimBroadcastable(BigInt(1L << 30), pool32g))
    // any estimate is rejected under a tiny pool (strategy follows memory)
    assert(!TpcH.dimBroadcastable(BigInt(100L << 20), Graph.unifiedPoolOf(1L << 30)))
    // and the fixture plans still broadcast through the gate: customer at
    // sf0.001 arrives hinted (the q18 join keeps its BroadcastHashJoin)
    val plan = TpcH.q18(spark, sf).queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"q18@sf0.001 lost its broadcast through the size gate:\n$plan")
  }

  test("q_unpivot: split-lane sum == direct Decimal(38,6) sum, bitwise") {
    val dir = "/root/testdata/sf0.01"
    val ref = Tables.lineitem(spark, dir)
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double").as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy("measure")
    val opt = Relational4.qUnpivot(spark, dir)
    val (o, r) = (rows(opt), rows(ref))
    assert(o.nonEmpty && o == r, s"q_unpivot diverges:\n$o\nvs\n$r")
    assert(opt.schema.map(f => (f.name, f.dataType)) ==
      ref.schema.map(f => (f.name, f.dataType)),
      s"q_unpivot dtype drift: ${opt.schema} vs ${ref.schema}")
  }
}
