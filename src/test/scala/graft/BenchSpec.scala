package graft

/** Pins for the Bench harness's own arithmetic. */
class BenchSpec extends SparkSpec {

  test("calibration frame: same sum with ANSI mode on and off") {
    val rows = 100000L
    // reference sum in plain longs: every product and partial sum fits
    val expected = (0L until rows).map(id => (id * 2654435761L) % 1000000007L).sum
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    try {
      for (ansi <- Seq("true", "false")) {
        spark.conf.set(key, ansi)
        val got = Bench.calibFrame(spark, rows, 4).head().getLong(0)
        assert(got == expected, s"ansi=$ansi: $got != $expected")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
