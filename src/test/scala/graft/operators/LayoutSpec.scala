package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {

  test("morton code is a bijection on 16-bit pairs (spot grid)") {
    import spark.implicits._
    // 64x64 grid striped across the 16-bit domain, plus the corners
    val pts = ((for (i <- 0 until 64; j <- 0 until 64)
      yield (i * 1041 % 65536, j * 997 % 65536)) ++
      Seq((0, 0), (65535, 65535), (0, 65535), (65535, 0))).distinct
    val out = pts.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zvalue(col("a"), col("b")).as("z"))
      .collect()
    assert(out.map(_.getLong(2)).distinct.length == out.length, "z collision")
    out.foreach { r =>
      val (a, b, z) = (r.getInt(0), r.getInt(1), r.getLong(2))
      // decode: gather even bits -> a, odd bits -> b
      var (da, db) = (0L, 0L)
      for (i <- 0 until 16) {
        da |= ((z >> (2 * i)) & 1L) << i
        db |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(da == a && db == b, s"decode mismatch at ($a,$b): got ($da,$db)")
    }
  }

  test("every zpart is an exact axis-aligned quadrant of the key space") {
    // top 2*ZPartBits z-bits = ZPartBits leading bits of EACH dim: all rows
    // in a zpart share the same (a >> 14, b >> 14) high-bit pair
    val rows = Layout.qZorderCluster(spark, sf)
      .join(graft.Tables.lineitem(spark, sf), Seq("l_orderkey", "l_linenumber"))
      .select(col("zpart"),
        shiftright(col("l_partkey").cast("long").bitwiseAND(lit(0xFFFFL)), 14).as("ahi"),
        shiftright(col("l_suppkey").cast("long").bitwiseAND(lit(0xFFFFL)), 14).as("bhi"))
      .distinct().collect()
    val perPart = rows.groupBy(_.getInt(0))
    perPart.foreach { case (zp, rs) =>
      assert(rs.map(r => (r.getLong(1), r.getLong(2))).distinct.length == 1,
        s"zpart $zp spans more than one quadrant")
    }
  }
}
