package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Tokenize

/** End-to-end reference-parity pipeline: the exact stage sequence of
  * /root/reference/etl_benchmark.py re-expressed Spark-first.
  *
  *   create_dummy_data (O1, :14-20) -> idempotent parquet write (O2, :15)
  *   -> scan (O3, :47) -> per-column quantile boundaries (O5, :74)
  *   -> bucketize-and-clamp every value (O6/O7, :76-82) -> token sink
  *
  * plus the reference's stage-timed report (O16, :87-91). Differences by
  * design (SURVEY §2A fine print): float64 end-to-end (no lossy float32
  * downcast), explicit null/NaN policy, and the per-column host loop
  * (etl_benchmark.py:70) becomes ONE fused select — Catalyst compiles all
  * column pipelines into a single whole-stage-codegen pass.
  */
object Pipeline {

  /** O1: wide i.i.d. standard-normal table, `col_0..col_{cols-1}`.
    * Deterministic per seed; generated distributed (spark.range). */
  def syntheticTable(spark: SparkSession, rows: Long, cols: Int, seed: Long = 42): DataFrame =
    spark.range(rows).select(
      (0 until cols).map(i => randn(seed + i).as(s"col_$i")): _*)

  /** O2/O4: write-once parquet (skip if the path already has data). */
  def writeIgnore(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Ignore).parquet(path)

  /** Full pipeline with per-stage wall-clock timings (O16). Returns
    * (tokenized row count, stage timings in seconds). Boundary `mode`:
    * "select" (exact, default) or "sample" (single-pass DKW-bounded
    * sampling — the fast approximate path). */
  /** `sink = true` persists tokens to parquet (the full-pipeline shape);
    * `sink = false` materializes every token through the noop sink without
    * writing — the REFERENCE-PARITY shape: etl_benchmark.py:66-81 computes
    * `tokenized_data` in memory and never persists it, so charging our run
    * a 10M x 20 parquet write the reference doesn't pay overstates the
    * gap (write-side variance on this host is also the noisiest stage). */
  def run(spark: SparkSession, workDir: String, rows: Long = 1000000, cols: Int = 8,
          bins: Int = Tokenize.DefaultBins, mode: String = "select",
          sink: Boolean = true): (Long, Map[String, Double]) = {
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def stage[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      timings(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val dataPath = s"$workDir/massive_data.parquet"
    val tokenPath = s"$workDir/tokens.parquet"
    // Execution-stack warmup, reported as its OWN stage (round 13): the
    // first job a fresh JVM runs pays SQL-stack class loading + codegen
    // bootstrap — ScanProbe measured a 10-row `range().count()` at 3.6 s
    // where the warm second one takes ~5 ms — and that one-time
    // environment cost was landing inside whichever pipeline stage ran
    // the first job (scan, usually), overstating it ~4×. The reference's
    // timings exclude the equivalent term by construction: its clock
    // starts after `import torch`/pandas have already loaded and JIT'd
    // their native stacks (etl_benchmark.py:1-5 imports; the first
    // timestamp is t0 inside cpu_etl_pandas, :26). No data is touched
    // here; the cost stays visible in the stage report under its honest
    // name instead of inflating "scan".
    stage("jvm_warmup") { spark.range(16).count() }
    stage("generate") {
      writeIgnore(syntheticTable(spark, rows, cols), dataPath)
    }
    var scanned = 0L
    val df = stage("scan") {
      val d = spark.read.parquet(dataPath)
      scanned = d.count() // materialize the scan for honest stage timing
      d
    }
    val tokenCols = df.columns.toSeq
    val bounds = stage("boundaries") {
      if (mode == "sample") Tokenize.quantileBoundsSample(df, tokenCols, Tokenize.innerProbs(bins))
      else Tokenize.quantileBoundsSelect(df, tokenCols, Tokenize.innerProbs(bins))
    }
    val n = stage(if (sink) "tokenize+sink" else "tokenize") {
      val tokens = tokenCols.map(c => Tokenize.discretize(col(c), bounds(c), bins).as(s"${c}_token"))
      if (sink) {
        df.select(tokens: _*).write.mode(SaveMode.Overwrite).parquet(tokenPath)
        spark.read.parquet(tokenPath).count()
      } else {
        df.select(tokens: _*).write.format("noop").mode("overwrite").save()
        // the MEASURED scan count, not the `rows` request: SaveMode.Ignore
        // reuses a pre-existing data parquet of any size
        scanned
      }
    }
    (n, timings.toMap)
  }
}
