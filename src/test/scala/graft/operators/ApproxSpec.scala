package graft.operators

import graft.SparkSpec

class ApproxSpec extends SparkSpec {

  test("approx sketches stay within tolerance of exact results") {
    val rows = Relational3.qApproxSketches(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.1,
        s"HLL off by >10%: approx=$approx exact=$exact")
      assert(r.getDouble(3) > 0) // approx median is positive price
      // the self-reported gates the driver reads must themselves hold
      assert(r.getBoolean(4), s"distinct_within_bound false: $r")
      assert(r.getBoolean(5), s"median_within_bound false: $r")
    }
  }

  test("q_sketch_gate_exact exposes the gate's exact core (round 12)") {
    val gate = Relational3.qSketchGateExact(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(gate.nonEmpty)
    // the exact columns agree with the sketch query's own embedded gate,
    // and the brackets straddle its approx median (both derive from the
    // same rank-selection machinery — the bracket VALUES at the discrete
    // ranks bound the interpolated gate bounds by monotonicity)
    Relational3.qApproxSketches(spark, sf).collect().foreach { r =>
      val g = gate(r.getString(0))
      assert(g.getLong(2) == r.getLong(2),
        s"exact_parts mismatch: gate=$g sketch=$r")
      assert(g.getDouble(3) <= g.getDouble(4), s"bracket inverted: $g")
      assert(r.getDouble(3) >= g.getDouble(3) && r.getDouble(3) <= g.getDouble(4),
        s"approx median outside exact bracket: sketch=$r gate=$g")
    }
  }

  test("stats power sums: split-long lanes are bit-identical to the Decimal(38,6) sums") {
    // the five power sums ride (div 1e9, mod 1e9) primitive-long lanes;
    // the reassembled group totals — and thus every derived var/stddev/
    // covar/corr double — must equal the direct decimal sums on every
    // row, BITWISE (both round each addend to the same HALF_UP 6-decimal
    // value; the lane split is an exact integer identity)
    import org.apache.spark.sql.functions._
    import Decimals.dsum
    val li = graft.Tables.lineitem(spark, sf)
    val q = col("l_quantity")
    val p = col("l_extendedprice")
    val split = Relational3.statsPowerSums(li)
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    val dec = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum(q).as("sq"), dsum(q * q).as("sqq"),
        dsum(p).as("sp"), dsum(p * p).as("spp"),
        dsum(q * p).as("sqp"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(split.nonEmpty && split == dec,
      s"split-long and decimal power sums must match bitwise:\n$split\nvs\n$dec")
  }

  test("split-lane addend cap is ENFORCED: 1e11 units raises, just under passes") {
    // round-16 advisor item: the lane-sum overflow analysis (Σhi safe to
    // ~9e10 rows, Σlo to ~9e9) assumes |addend| ≤ 1e11 units — the guard
    // must enforce exactly that bound, not the old ±2^63 µ cast-range
    // bound under which the analysis was fixture-luck
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ok = Seq(math.pow(10, 11) - 1, -(math.pow(10, 11) - 1)).toDF("a")
      .select(Decimals.splitDsumUs(col("a"), "a")).collect()
    assert(ok.map(_.getLong(0)).forall(v => math.abs(v) > 0))
    val boom = intercept[Exception] {
      Seq(math.pow(10, 11) + 1e6).toDF("a")
        .select(Decimals.splitDsumUs(col("a"), "a")).collect()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null && !Option(c.getMessage).exists(_.contains("lane bound")))
        c = c.getCause
      Option(c.getMessage).getOrElse("")
    }
    assert(rootMsg(boom).contains("lane bound"),
      s"over-cap addend must raise the named guard, got: $boom")
  }
}
