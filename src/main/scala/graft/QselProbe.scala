package graft

import org.apache.spark.sql.functions.col

/** Dev-only decomposition of the exact-selection boundary phase: on the
  * reference workload (10 M×20 doubles), how much of the histogram /
  * gather passes is parquet decode (irreducible for any exact algorithm
  * that scans) vs the per-value bucket search? Usage:
  * tools/run.sh graft.QselProbe [dataDir]. Prints the decode wall (the
  * passes' own columnar source, every batch visited, no search), then two
  * warm quantileBoundsSelect calls with their [qsel] phase lines: count,
  * sample (job 1), splits (driver: split points, grids, broadcast),
  * hist (job 2), gather (job 3 and the driver's candidate sort). */
object QselProbe {
  def main(args: Array[String]): Unit = {
    // the [qsel] phase lines are gated off for contract queries; this
    // harness is their one consumer
    System.setProperty("graft.qsel.verbose", "true")
    val data = args.headOption.getOrElse("/tmp/refbench/massive_data.parquet")
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.read.parquet(data)
    val cols = df.columns.toSeq
    val proj = df.select(cols.map(c => col(c).cast("double")): _*)
    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe] $tag=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    // decode floor: pull every batch of the passes' source, touch one column
    for (i <- 1 to 3) time(s"decode_pass$i") {
      org.apache.spark.sql.graft.Bridge.columnarBatches(proj).foreachPartition { it =>
        var s = 0.0
        while (it.hasNext) {
          val b = it.next()
          val v = b.column(0)
          var r = 0
          while (r < b.numRows) { if (!v.isNullAt(r)) s += v.getDouble(r); r += 1 }
        }
      }
    }
    for (i <- 1 to 2) time(s"select_pass$i") {
      operators.Tokenize.quantileBoundsSelect(df, cols, operators.Tokenize.innerProbs(100))
    }
    spark.stop()
  }
}
