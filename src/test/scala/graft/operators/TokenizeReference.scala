package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference implementations the tokenizer specs compare the engine's
  * paths against. Each follows Spark's own sort order in a few lines and
  * pays a sort of the whole column for it, which is why the engine runs
  * the selection paths instead:
  *  - [[tokenizeRank]], the window form of `Tokenize.tokenizeRankSelect`;
  *  - [[quantileBoundsExact]], the sort form of `Tokenize.quantileBoundsSelect`;
  *  - [[tokenizeByBounds]], the two-phase boundary tokenizer over it. */
object TokenizeReference {
  import Tokenize.{DefaultBins, discretize, innerProbs, interpolated, quantileRanks, round6d}

  /** Rank-based tokenizer: token_c = ntile(bins) over (c, tiebreak…) - 1.
    *
    * `tiebreak` must make the window order TOTAL over every column that can
    * differ between rows sharing the same tiebreak prefix — in the driver
    * data (l_orderkey, l_linenumber) is NOT unique (~23% duplicate keys),
    * so the default lineitem tiebreak is keys ++ all measure columns. The
    * output is ordered by tiebreak + token columns (fully deterministic:
    * rows tying on every sort field are bit-identical and interchangeable).
    */
  def tokenizeRank(df: DataFrame, cols: Seq[String], tiebreak: Seq[String],
                   bins: Int = DefaultBins): DataFrame = {
    val keyCols = tiebreak.map(col)
    val tokens = cols.map { c =>
      val w = Window.orderBy(col(c) +: keyCols: _*)
      (ntile(bins).over(w) - 1).as(s"${c}_token")
    }
    val outKeys = tiebreak.filterNot(cols.contains).map(col)
    val outOrder = outKeys ++ cols.map(c => col(s"${c}_token"))
    df.select(outKeys ++ tokens: _*).orderBy(outOrder: _*)
  }

  /** Exact quantiles by distributed sort + select-by-position, linearly
    * interpolated at pos = p*(n-1) — the same definition as np.percentile /
    * torch.quantile (etl_benchmark.py:74) and DuckDB quantile_cont. One
    * range-partitioned sort per column, then only the ~2×|probs| rows at
    * quantile positions are collected. NaN ranks last here for free —
    * Spark's sort order — which is the NaN policy the engine's boundary
    * paths match.
    */
  def quantileBoundsExact(df: DataFrame, cols: Seq[String],
                          probs: Seq[Double]): Map[String, Seq[Double]] = {
    import org.apache.spark.storage.StorageLevel
    val sc = df.sparkSession.sparkContext
    // one aggregation job for all per-column non-null counts
    val countRow = df.agg(count(col(cols.head)).as(cols.head),
      cols.tail.map(c => count(col(c)).as(c)): _*).head()
    val counts: Array[Long] = cols.indices.map(countRow.getLong).toArray
    cols.indices.foreach(i =>
      require(counts(i) > 0, s"quantileBoundsExact: no non-null values in ${cols(i)}"))
    // The sorted column is PERSISTED so zipWithIndex's two passes
    // (partition counts, then extraction of the quantile rows) reuse one
    // sort. Columns run concurrently with a small cap — each holds a
    // serialized cache of its column until released.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val es = java.util.concurrent.Executors.newFixedThreadPool(math.min(cols.size, 4))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(es)
    val futs = cols.indices.map { ci =>
      Future {
        val c = cols(ci)
        val vals = df.select(col(c).cast("double")).where(col(c).isNotNull)
        val neededB = sc.broadcast(quantileRanks(probs, counts(ci)).toSet)
        val sorted = vals.sort(c).rdd
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        val picked: Map[Long, Double] =
          try sorted.zipWithIndex()
            .filter { case (_, i) => neededB.value.contains(i) }
            .map { case (r, i) => (i, r.getDouble(0)) }
            .collectAsMap().toMap
          finally { sorted.unpersist(blocking = false); neededB.destroy() }
        c -> interpolated(probs, counts(ci))(picked)
      }
    }
    try Await.result(Future.sequence(futs), Duration.Inf).toMap
    finally es.shutdown()
  }

  /** Full two-phase boundary tokenizer over `cols`, keeping `keep` columns:
    * [[quantileBoundsExact]] inner boundaries, rounded to the shared
    * 6-decimal grid, then `Tokenize.discretize`. Keeps empty bins (torch
    * semantics), unlike `Tokenize.tokenizeQcutDrop`. */
  def tokenizeByBounds(df: DataFrame, cols: Seq[String], keep: Seq[String],
                       bins: Int = DefaultBins): DataFrame = {
    val bounds = quantileBoundsExact(df, cols, innerProbs(bins))
      .map { case (c, bs) => c -> bs.map(round6d) }
    val tokens = cols.map(c => discretize(col(c), bounds(c), bins).as(s"${c}_token"))
    df.select(keep.map(col) ++ tokens: _*)
  }
}
