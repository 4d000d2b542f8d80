package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact per-group order statistics WITHOUT per-group total sorts.
  *
  * The naive distributed plan for "median price per return flag" is a
  * window partitioned by the group key — but a LOW-cardinality key (3
  * flags) shuffles the whole fact table into 3 partitions and fully sorts
  * each on one task: correct, and a scale-killer at 100x. Here a group's
  * order statistics are the per-column order statistics of
  * `when(group = key, value)`, so the per-group quantiles ride the same
  * columnar selection as the quantile boundaries
  * ([[Tokenize.selectRanks]]):
  *
  *  1. one aggregation collects every group's key, non-null value count,
  *     NaN count and row count, and fails with the column named on a null
  *     key or a NaN value before any selection job or broadcast runs;
  *  2. the selection runs over one column per group key — small inputs
  *     are collected and sorted on the driver, larger ones take the
  *     sample / histogram / gather jobs, which gather only the values in
  *     the buckets that hold a needed rank.
  *
  * Ranks are 0-based positions in the group's value order; ties make the
  * position's VALUE well-defined regardless of any tiebreak, which is why
  * rank-selection queries (percentile_disc, median) need no composite keys.
  * NaN unsupported; null values ignored (they get no rank).
  *
  * Groups must be FEW: each is one selection column, so every row
  * evaluates one `when` per group in each job, and the flat histogram
  * holds up to `numBuckets` counts per group. This shape wins when
  * |rows|/|groups| dwarfs a task's comfortable sort size — the
  * q_group_median shape, 3 groups over the fact table, where each group
  * would otherwise be a single-task sort. A HIGH-cardinality key
  * (|groups| ≈ |rows| / small constant) takes a window partitioned by the
  * key, which is already well-parallelized — the q_window_dist shape
  * (per-customer partitions of ~10 rows).
  */
object GroupedQuantiles {

  /** For each group key: (non-null count, value at each requested 0-based
    * rank). `ranksOf` maps a group's count to the positions it needs. */
  def selectByRank(df: DataFrame, groupCol: String, valueCol: String,
                   ranksOf: Long => Seq[Long],
                   numBuckets: Int = 8192,
                   maxCollect: Long = 64000000L,
                   smallCollect: Long = 1000000L): Map[Any, (Long, Map[Long, Double])] = {
    val v = col(valueCol).cast("double")
    val groups = df.groupBy(col(groupCol))
      .agg(count(v), count(when(isnan(v), 1)), count(lit(1))).collect()
    require(groups.forall(!_.isNullAt(0)),
      s"selectByRank: null group key in '$groupCol' — filter null keys or coalesce them to a sentinel first")
    val nan = groups.map(_.getLong(2)).sum
    require(nan == 0,
      s"selectByRank: $nan NaN values in '$valueCol' — NaN has no rank; filter first")
    groups.foreach { g =>
      val n = g.getLong(1)
      require(ranksOf(n).forall(p => p >= 0 && p < n), s"rank out of range for group ${g.get(0)} (n=$n)")
    }
    val keys = groups.map(_.get(0))
    val proj = df.select(keys.indices.map(gi =>
      when(col(groupCol) === lit(keys(gi)), v).as(s"g$gi")): _*)
    val sel = Tokenize.selectRanks(proj, groups.map(_.getLong(3)).sum, (_, n) => ranksOf(n),
      numBuckets, maxCollect, smallCollect)
    keys.zip(sel).toMap
  }
}
