package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.SparkSpec

class VectorBucketizeSpec extends SparkSpec {

  private def thr(rows: (Double, Double)*): Seq[Array[Double]] =
    rows.map { case (a, b) => Array(a, b) }

  test("search counts thresholds lexicographically <= key") {
    val t = Array(1.0, 5.0, /**/ 2.0, 1.0, /**/ 2.0, 3.0, /**/ 4.0, 0.0)
    def s(k: Double*): Int = VectorBucketizeExpr.search(t, 2, k.toArray)
    assert(s(0.0, 0.0) == 0)
    assert(s(1.0, 5.0) == 1) // equal to first threshold -> counted
    assert(s(1.0, 4.9) == 0) // below on the tiebreak field
    assert(s(2.0, 2.0) == 2) // between (2,1) and (2,3)
    assert(s(2.0, 3.0) == 3)
    assert(s(9.0, -1.0) == 4)
  }

  test("codegen agrees with interpreted eval on random keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(2000)((rnd.nextInt(8).toDouble, rnd.nextInt(8).toDouble))
    val ts = thr((1.0, 6.0), (2.0, 2.0), (2.0, 5.0), (5.0, 0.0), (6.0, 7.0))
    val df = rows.toDF("a", "b")
    val out = df.select(col("a"), col("b"),
      VectorBucketizeExpr.vbucketize(Seq(col("a"), col("b")), ts).as("t")).collect()
    val flat = ts.flatten.toArray
    out.foreach { r =>
      val expected = VectorBucketizeExpr.search(flat, 2, Array(r.getDouble(0), r.getDouble(1)))
      assert(r.getInt(2) == expected, r.toString)
    }
  }

  test("BucketizeGrid bracket + searchColumnsIn == full-range searchColumnsIn") {
    val rnd = new scala.util.Random(11)
    val m = 3
    def mat(firsts: Array[Double]): Array[Double] = {
      // rows sorted lexicographically: ascending firsts, random tiebreaks
      // sorted within each tie run
      val rows = firsts.sorted.map(f => Array(f, rnd.nextDouble(), rnd.nextDouble()))
      val ord: Ordering[Array[Double]] = (a, b) => {
        var i = 0; var c = 0
        while (c == 0 && i < m) { c = java.lang.Double.compare(a(i), b(i)); i += 1 }
        c
      }
      java.util.Arrays.sort(rows, ord)
      rows.flatten
    }
    // first-field shapes the rank passes actually see: continuous,
    // low-cardinality ties (l_quantity-like), ulp-adjacent, denormal span
    val mats: Seq[Array[Double]] = Seq(
      mat(Array.fill(4000)(rnd.nextGaussian() * 100)),
      mat(Array.fill(4000)(rnd.nextInt(50).toDouble)),
      mat(Iterator.iterate(1.0)(math.nextUp).take(64).toArray),
      mat(Array(0.0, Double.MinPositiveValue)),
      mat(Array(2.5)),
      Array.empty[Double])
    val idx = Array(0, 1, 2)
    for (flat <- mats) {
      val t = flat.length / m
      val firsts = Array.tabulate(t)(i => flat(i * m))
      // the rank tokenizer's grid: over the split rows' first fields
      val gx = new BucketizeGrid(firsts)
      val probes = Iterator.fill(5000)(Array(
          rnd.nextGaussian() * 100, rnd.nextDouble(), rnd.nextDouble())) ++
        firsts.iterator.map(f => Array(f, rnd.nextDouble(), rnd.nextDouble())) ++
        firsts.iterator.map(f => Array(math.nextUp(f), 0.0, 0.0)) ++
        firsts.iterator.map(f => Array(math.nextDown(f), 1.0, 1.0)) ++
        Iterator(Array(Double.NegativeInfinity, 0.0, 0.0),
          Array(Double.PositiveInfinity, 0.0, 0.0),
          // a NaN first field must take the full-range fallback — the
          // grid's range tests are both false for NaN and an interior
          // bracket would disagree with the full-range search
          Array(Double.NaN, 0.5, 0.5))
      for (key <- probes) {
        // the key as row 1 of a decoded batch, one array per field
        val fields = key.map(v => Array(-1.0, v, -1.0))
        val full = VectorBucketizeExpr.searchColumnsIn(flat, m, fields, idx, 1, 0, t)
        val br = gx.bracket(key(0))
        val fast = VectorBucketizeExpr.searchColumnsIn(
          flat, m, fields, idx, 1, (br >>> 32).toInt, br.toInt)
        assert(fast == full, s"mismatch at key=${key.mkString(",")} t=$t")
      }
    }
  }

  test("null in any key field yields null") {
    import spark.implicits._
    val df = Seq((Some(1.0), Option.empty[Double]), (Some(1.0), Some(2.0)))
      .toDF("a", "b")
    val out = df.select(
      VectorBucketizeExpr.vbucketize(Seq(col("a"), col("b")), thr((0.0, 0.0)))).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getInt(0) == 1)
  }

  test("token = count of NTILE bucket-start keys at or below the row key") {
    // 10 rows keyed (v, id), 4 buckets: starts at positions 3, 6, 8 for
    // n=10 (sizes 3,3,2,2). Tokens must be 0,0,0,1,1,1,2,2,3,3 in order.
    import spark.implicits._
    val rows = (0 until 10).map(i => ((i / 3).toDouble, i.toDouble)) // ties in v
    val sorted = rows.sorted
    val starts = Seq(3, 6, 8).map(p => Array(sorted(p)._1, sorted(p)._2))
    val df = rows.toDF("v", "id")
    val out = df.select(col("id"),
        VectorBucketizeExpr.vbucketize(Seq(col("v"), col("id")), starts).as("t"))
      .orderBy("id").collect()
    val expected = Seq(0, 0, 0, 1, 1, 1, 2, 2, 3, 3)
    assert(out.map(_.getInt(1)).toSeq == expected)
  }
}
