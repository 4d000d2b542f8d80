package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GroupedQuantilesSpec extends SparkSpec {

  test("per-group rank selection equals driver-side sorted groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // skewed group sizes + heavy value ties to stress bucket degeneracy
    val rows = (0 until 20000).map { i =>
      val grp = if (i % 7 == 0) "a" else if (i % 3 == 0) "b" else "c"
      (grp, math.floor(rnd.nextGaussian() * 50) / 10.0, i)
    }
    val df = rows.toDF("g", "v", "id")
    def ranks(n: Long): Seq[Long] =
      Seq(0L, (n + 1) / 2 - 1, math.ceil(0.9 * n).toLong - 1, n - 1)
    // smallCollect = 0: the 20k rows take the sample/histogram/gather jobs,
    // not the driver sort; maxCollect 4 forces the distributed pick
    for (maxCollect <- Seq(64000000L, 4L)) {
      val res = GroupedQuantiles.selectByRank(df, "g", "v", ranks,
        numBuckets = 32, maxCollect = maxCollect, smallCollect = 0)
      val byGroup = rows.groupBy(_._1)
      assert(res.keySet == byGroup.keySet)
      byGroup.foreach { case (g, rs) =>
        val sorted = rs.map(_._2).sorted
        val (n, byRank) = res(g)
        assert(n == rs.size.toLong)
        ranks(n).foreach { r =>
          assert(byRank(r) == sorted(r.toInt), s"group $g rank $r (maxCollect=$maxCollect)")
        }
      }
    }
  }

  test("null values get no rank; counts are non-null counts") {
    import spark.implicits._
    val df = Seq(("a", Some(3.0)), ("a", None), ("a", Some(1.0)), ("b", Some(5.0)))
      .toDF("g", "v")
    val res = GroupedQuantiles.selectByRank(df, "g", "v", n => Seq(0L, n - 1))
    assert(res("a")._1 == 2 && res("a")._2(0L) == 1.0 && res("a")._2(1L) == 3.0)
    assert(res("b")._1 == 1 && res("b")._2(0L) == 5.0)
  }

  test("a NaN value fails with the value column named") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", Double.NaN), ("b", 2.0)).toDF("g", "price")
    val err = intercept[IllegalArgumentException] {
      GroupedQuantiles.selectByRank(df, "g", "price", n => Seq(0L), smallCollect = 0)
    }
    assert(err.getMessage.contains("1 NaN values in 'price'"), err.getMessage)
  }

  test("a null group key fails with the group column named") {
    import spark.implicits._
    val df = Seq((Some("a"), 1.0), (None, 2.0), (Some("b"), 3.0)).toDF("flag", "v")
    val err = intercept[IllegalArgumentException] {
      GroupedQuantiles.selectByRank(df, "flag", "v", n => Seq(0L), smallCollect = 0)
    }
    assert(err.getMessage.contains("null group key in 'flag'"), err.getMessage)
  }
}
