package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.vectorized.ColumnVector

import graft.functions.{BucketizeExpr, BucketizeGrid}

/** Quantile tokenization — the reference's core capability: per-column
  * quantile boundaries + discretization of every value into an integer bin id
  * in [0, bins-1] (see /root/reference/etl_benchmark.py:63-82 — torch.quantile
  * + torch.bucketize - 1 + clamp; and etl_benchmark_numba.py:39-50 — linear
  * boundary search kernel).
  *
  * Spark-first formulations, with different scale profiles:
  *
  *  1. '''Rank-based''' (`tokenizeRankSelect`) — `pd.qcut(labels=False)`
  *     semantics: token = NTILE(bins) - 1 over a total order (value,
  *     tiebreak…). The bucket-boundary rows are located by selection and
  *     the tokens are map-only; the window form `NTILE … OVER (ORDER BY …)`,
  *     one single-partition sort per column, stays in the tests as the
  *     reference the selection path is proved equal to.
  *
  *  2. '''Boundary-based, two-phase''' — the 100 TB path, mirroring the
  *     reference's precompute-boundaries-once design (etl_benchmark.py:74
  *     quantile; :79 bucketize; :82 clamp):
  *      - phase 1 computes per-column boundary vectors: exact via
  *        selection (`quantileBoundsSelect`), or approximate via single-pass
  *        sampling with a DKW rank bound (`quantileBoundsSample`) — either
  *        way cols × bins doubles, trivially collectable;
  *      - phase 2 folds the boundaries into the plan as a constant and
  *        discretizes '''map-only''' (`discretize`) with the codegen'd
  *        binary-search expression [[graft.functions.BucketizeExpr]] (both
  *        closure conventions). The fact table is never shuffled or sorted.
  *        `tokenizeQcutDrop` adds pandas' duplicates='drop' edge collapse.
  *
  * Closure convention (SURVEY §2A fine print 1): a value equal to a boundary
  * goes in the '''lower''' bin (strict `b < v` count), matching
  * torch.bucketize(right=False) - 1. Nulls: token null. NaN: '''top bin''':
  * NaN ranks LAST engine-wide, the np.digitize convention and Spark's own
  * sort/agg ordering (the reference has no NaN policy). Every boundary path
  * implements the same NaN-last order — see [[quantileBoundsSelect]] — so a
  * NaN-bearing column tokenizes exactly as if sorted by Spark and cut at the
  * same ranks.
  *
  * Every path sizes its input one way, [[inputRows]]: a bare parquet scan
  * from its footers, anything else with one `count()` job.
  *
  * The exact paths have one shape: `quantileBoundsSelect` (on its rank
  * level, `selectRanks`, which [[GroupedQuantiles]] shares) and
  * `tokenizeRankSelect` decode their input once per call into a cache of
  * primitive arrays and run a strided sample, a histogram and a gather
  * over it, under the call sites `boundaries.*` and `rank.*`. Each keeps
  * its own decode and inner loops (a double search, or a composite-key
  * search); [[RankSelection]] holds the rest: the call's broadcasts and
  * cache, the job names, the sample rule, rank location and the
  * collect-or-`reduceByKey` pick. Both bracket their per-value searches
  * with [[graft.functions.BucketizeGrid]], and both gathers search only
  * the values its candidate mask admits.
  */
object Tokenize {
  import RankSelection.underCallSite

  val DefaultBins = 100

  /** Default tokenizer targets (FIXTURES.md): lineitem numeric measures. */
  val LineitemCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val LineitemKeys: Seq[String] = Seq("l_orderkey", "l_linenumber")

  /** Rank tokenizer, selection-based — the contract `q_tokenize_rank`
    * plan. The fact table is NEVER globally sorted; instead the ~(bins-1)
    * NTILE bucket-boundary ROWS per column are located by position (the
    * same decode-once sample → histogram → gather shape as
    * [[quantileBoundsSelect]], lifted to composite (value, tiebreak…) keys
    * so ties split across buckets exactly as the window's total order
    * does), and every row's token is then a MAP-ONLY
    * [[graft.functions.VectorBucketizeExpr]] count of boundary keys at or
    * below its own key:
    *
    *   token(row) = #{ bucket starts j=1..bins-1 : key(start_j) <= key(row) }
    *
    * which is exactly the row's NTILE bucket because composite keys are
    * unique. No full sort of the fact table per column — the shape that
    * wins on a 1000-executor cluster (boundary keys broadcast as plan
    * constants).
    *
    *  - '''Source, decoded once per call.''' The tiebreak (which contains
    *    every tokenized column) cast to double is read as `ColumnarBatch`es
    *    ([[org.apache.spark.sql.graft.Bridge.columnarBatches]]) into one
    *    row-aligned `double[]` per field per batch, cached for the call
    *    ([[RankSelection.withCall]]). Column c's key is c, then the
    *    tiebreak, read through a field-index permutation.
    *  - '''Job 1, `rank.sample`.''' Decodes every task into the cache,
    *    counts the null and NaN sort fields over the full data, and
    *    returns every s-th row ([[RankSelection.stride]]). The driver fails
    *    on any null or NaN, naming the column, before any broadcast, and
    *    picks ≤ numBuckets − 1 equi-depth composite split points per column
    *    from the lex-sorted sample.
    *  - '''Job 2, `rank.hist`.''' Over the cache, one grid-bracketed
    *    composite search per (row, column) into a flat (column, bucket)
    *    histogram; the driver locates the bucket starts' positions in it.
    *  - '''Job 3, `rank.gather`.''' Over the cache, keeps the composite
    *    keys of the rows in the buckets that hold a bucket start and picks
    *    the starts ([[RankSelection.pick]]). A row is searched only if the
    *    column's candidate mask admits the grid cell of its first field:
    *    the composite search ends inside that cell's bracket, ends
    *    included, as the scalar one does, so the same mask
    *    ([[RankSelection.Located.candidateMasks]]) is exact here.
    *
    * Requirements: `tiebreak` must be a unique total order; all key
    * columns non-null, NaN-free, and order-preserving under a double cast
    * (integers < 2^53; the driver corpus qualifies). The output is ordered
    * by the tiebreak's non-token columns, then the tokens. Token equality
    * with the window form `NTILE(bins) OVER (ORDER BY c, tiebreak…) - 1` is
    * spec-proved. */
  def tokenizeRankSelect(df: DataFrame, cols: Seq[String], tiebreak: Seq[String],
                         bins: Int = DefaultBins, numBuckets: Int = 8192,
                         maxCollect: Long = 64000000L): DataFrame = {
    import graft.functions.VectorBucketizeExpr
    val sc = df.sparkSession.sparkContext
    val k = cols.size
    val t = tiebreak.size
    val m = 1 + t
    val proj = df.select(tiebreak.map(c => col(c).cast("double")): _*)
    val tbIdx = tiebreak.zipWithIndex.toMap
    val keyIdx: Array[Array[Int]] =
      cols.map(c => (tbIdx(c) +: tiebreak.indices).toArray).toArray
    val n = inputRows(df)
    require(n > 0, "tokenizeRankSelect: empty input")
    // 0-based global position of the first row of NTILE buckets 1..bins-1
    val base = n / bins
    val extra = n % bins
    val cutoff = extra * (base + 1)
    def startOf(j: Long): Long =
      if (j <= extra) j * (base + 1) else cutoff + (j - extra) * base
    val positions: Array[Long] =
      (1L until bins).map(startOf).filter(_ < n).distinct.sorted.toArray
    val lexOrd: Ordering[Array[Double]] = (a: Array[Double], b: Array[Double]) => {
      var f = 0
      var c = 0
      while (c == 0 && f < m) { c = java.lang.Double.compare(a(f), b(f)); f += 1 }
      c
    }
    val thresholds: Array[Map[Long, Array[Double]]] = RankSelection.withCall(sc) { call =>
      // per batch: each field's values, row-aligned (0 in a null slot),
      // and per field its null count, then its NaN count
      val decoded = call.cache(Bridge.columnarBatches(proj).map { batch =>
        val bad = new Array[Long](2 * t)
        val fields = Array.tabulate(t) { f =>
          val vec = batch.column(f)
          val a = new Array[Double](batch.numRows)
          var r = 0
          while (r < a.length) {
            if (vec.isNullAt(r)) bad(f) += 1
            else { a(r) = vec.getDouble(r); if (a(r) != a(r)) bad(t + f) += 1 }
            r += 1
          }
          a
        }
        (fields, bad)
      })
      val stride = RankSelection.stride(n, numBuckets)
      // job 1: decode into the cache; the task's null and NaN counts and
      // every stride-th row
      val firsts = underCallSite(sc, "rank.sample") {
        decoded.mapPartitions { it =>
          val bad = new Array[Long](2 * t)
          val rows = new mutable.ArrayBuilder.ofRef[Array[Double]]
          var next = stride / 2
          it.foreach { case (fields, b) =>
            b.indices.foreach(i => bad(i) += b(i))
            next = RankSelection.strided(fields(0).length, next, stride)(r => rows += fields.map(_(r)))
          }
          Iterator.single((bad, rows.result()))
        }.collect()
      }
      val bad = firsts.map(_._1).transpose.map(_.sum)
      tiebreak.indices.foreach { f =>
        require(bad(f) == 0, s"tokenizeRankSelect: ${bad(f)} rows have null sort columns " +
          s"('${tiebreak(f)}') — keys must be non-null")
        require(bad(t + f) == 0, s"tokenizeRankSelect: ${bad(t + f)} rows have NaN sort columns " +
          s"('${tiebreak(f)}') — binary search and Spark sort order disagree on NaN")
      }
      // composite split points per column (ties split across buckets
      // because the tiebreak participates in the comparison)
      val sample = firsts.flatMap(_._2)
      val splits: Array[Array[Double]] = Array.tabulate(k) { ci =>
        val keys = sample.map(row => keyIdx(ci).map(row(_)))
        java.util.Arrays.sort(keys, lexOrd)
        RankSelection.splitIndices(keys.length, numBuckets).flatMap(keys(_)).toArray
      }
      val flatOff: Array[Int] = splits.map(_.length / m + 1).scanLeft(0)(_ + _)
      val splitsB = call.broadcast(splits)
      val keyIdxB = call.broadcast(keyIdx)
      // Both passes bracket their lex search with a grid over the split
      // rows' FIRST fields (non-decreasing, as the rows are lex-sorted):
      // every split row below the bracket has a smaller first field, every
      // one from its end a larger one, so the search finishes inside it.
      // A plain search walks ~13 scattered cache lines of a ~450 KB split
      // matrix per (row, col).
      val gidx = splits.map(f => new BucketizeGrid(Array.tabulate(f.length / m)(i => f(i * m))))
      val gidxB = call.broadcast(gidx)
      // job 2: flat (col, bucket) histogram — one composite search and one
      // increment per (row, col) into a partition-local array
      val hist = underCallSite(sc, "rank.hist") {
        RankSelection.histogram(decoded, flatOff(k)) { case ((fields, _), acc) =>
          val (sp, ki, gx) = (splitsB.value, keyIdxB.value, gidxB.value)
          var ci = 0
          while (ci < k) {
            val idx = ki(ci)
            var r = 0
            while (r < fields(0).length) {
              val br = gx(ci).bracket(fields(idx(0))(r))
              acc(flatOff(ci) + VectorBucketizeExpr.searchColumnsIn(
                sp(ci), m, fields, idx, r, (br >>> 32).toInt, br.toInt)) += 1
              r += 1
            }
            ci += 1
          }
        }
      }
      val loc = new RankSelection.Located(hist, flatOff, (_, _) => positions.toSeq)
      val slotB = call.broadcast(loc.slots)
      val maskB = call.broadcast(loc.candidateMasks(gidx))
      // job 3: gather ONLY boundary-bucket rows' composite keys; searches
      // only the rows whose first field's cell the mask admits, and
      // allocates only per CANDIDATE (the m-double key)
      val cand = RankSelection.gather[(Array[Array[Double]], Array[Long]), Array[Double]](
          decoded, slotB) { case ((fields, _), bufs) =>
        val (sp, ki, gx, so, mx) =
          (splitsB.value, keyIdxB.value, gidxB.value, slotB.value, maskB.value)
        var ci = 0
        while (ci < k) {
          val idx = ki(ci)
          val g = gx(ci)
          val mk = mx(ci)
          val first = fields(idx(0))
          var r = 0
          while (r < first.length) {
            val v = first(r)
            if (mk(g.maskCell(v))) {
              val br = g.bracket(v)
              val j = so(ci)(VectorBucketizeExpr.searchColumnsIn(
                sp(ci), m, fields, idx, r, (br >>> 32).toInt, br.toInt))
              if (j >= 0) bufs(ci)(j) += Array.tabulate(m)(f => fields(idx(f))(r))
            }
            r += 1
          }
          ci += 1
        }
      }
      underCallSite(sc, "rank.gather") {
        RankSelection.pick(cand, loc, collect = loc.volume * m <= maxCollect,
          (a: Array[Array[Double]]) => java.util.Arrays.sort(a, lexOrd), call)
      }
    }
    // phase 2: MAP-ONLY tokens — boundary keys folded into the plan
    val tokens = cols.zipWithIndex.map { case (c, ci) =>
      val keyCols = (col(c) +: tiebreak.map(col)).map(_.cast("double"))
      // ascending by position = ascending by key
      VectorBucketizeExpr.vbucketize(keyCols, positions.toSeq.map(thresholds(ci)))
        .as(s"${c}_token")
    }
    // The output sort is ORDER BY keys ++ tokens-as-one-packed-long, the
    // convention of the bucketize/rightopen/qcut queries. Sorting by the
    // full raw tiebreak below the token projection would keep the tokens
    // single-evaluation but sort a 6–7-slot ≈ 56 B row (at the 100× probe
    // ~9 s of the query's 11.4 s wall); the packed form sorts 3 fields
    // ≈ 32 B (keys + one long) at the price of the range partitioner's
    // sampling pass re-evaluating the 4 binary searches, which is map-only
    // codegen and far cheaper than the wider exchange.
    //
    // Order equivalence vs the oracle: (l_orderkey, l_linenumber) is NOT
    // unique (60k rows / 45.8k distinct pairs), so keys + tokens is not
    // a total order — but every tie under (keys, all tokens) is a row
    // whose ENTIRE OUTPUT is identical (the output projects exactly keys
    // + tokens), so any tie order hashes the same. The oracle ORDER BY
    // carries the same keys + token aliases.
    val outKeys = tiebreak.filterNot(cols.contains)
    orderByKeysThenPackedTokens(df.select(outKeys.map(col) ++ tokens: _*),
      outKeys, cols.map(c => s"${c}_token"))
  }

  /** Inner quantile probabilities 1/bins … (bins-1)/bins. */
  def innerProbs(bins: Int): Seq[Double] = (1 until bins).map(_.toDouble / bins)

  /** The 0-based ranks the quantiles `probs` of `n` sorted values read:
    * floor and ceil of pos = p·(n−1) — the definition of np.percentile /
    * torch.quantile (etl_benchmark.py:74) and DuckDB quantile_cont. */
  private[operators] def quantileRanks(probs: Seq[Double], n: Long): Seq[Long] =
    probs.flatMap { p =>
      val pos = p * (n - 1)
      Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
    }

  /** The quantiles `probs` of `n` sorted values, linearly interpolated
    * between the values `at` gives for the [[quantileRanks]]. */
  private[operators] def interpolated(probs: Seq[Double], n: Long)(at: Long => Double): Seq[Double] =
    probs.map { p =>
      val pos = p * (n - 1)
      val l = at(math.floor(pos).toLong)
      val h = at(math.ceil(pos).toLong)
      l + (h - l) * (pos - math.floor(pos))
    }

  /** ORDER BY keys ++ token columns with the tokens riding the sort
    * exchange as ONE packed long, decoded in the projection ABOVE the Sort
    * (the q_fuzzy_pairs narrow-sort convention). An UnsafeRow
    * spends a full 8-byte slot per field, so 4 token ints cost 32 B of
    * sort row where one packed long costs 8: the 60 M-row contract sorts
    * shrink ~56 → 32 B/row, and the comparator walks 3 fields, not 6.
    *
    * Order is IDENTICAL to `orderBy(keys ++ toks)` by construction: each
    * token occupies its own 15-bit lane (disjoint bit ranges → lex order
    * over lanes == numeric order of the packed long) as `token + 1`, with
    * 0 reserved for null — 0 sorts below every real lane value, matching
    * Spark's ASC NULLS FIRST. Lanes are 15 bits, not 16, so even 4
    * fully-loaded lanes occupy bits 0–59 and the long's SIGN BIT is
    * structurally unreachable — with 16-bit lanes a first-lane
    * `token + 1 ≥ 32768` would set bit 63 and silently invert the
    * global order. Preconditions: ≤ 4 token columns (driver-side
    * `require`), each an integer in [0, 32766] so `token + 1` fits its
    * 15-bit lane — and the data-level bound IS runtime-enforced, because
    * the lanes combine with `+` and an out-of-range token would CARRY into
    * the neighboring lane and silently mis-order: each
    * lane value is checked per row with a codegen `when`/`raise_error`
    * before packing, so a future caller with bins > 32767 fails loudly
    * instead of producing a wrong global order. Cost: one branch per
    * token per row inside the pack projection, noise next to the sort
    * exchange it feeds (token ids are bins ≤ 100 everywhere today, so
    * the branch never fires). */
  private[operators] def orderByKeysThenPackedTokens(df: DataFrame,
      keys: Seq[String], toks: Seq[String]): DataFrame = {
    require(toks.nonEmpty && toks.size <= 4, s"1..4 token columns, got ${toks.size}")
    val enc = toks.zipWithIndex.map { case (c, i) =>
      val v = col(c).cast("long")
      // null condition → otherwise-branch → null → coalesce → 0 lane
      val checked = when(v < 0L || v > 32766L, raise_error(concat(
          lit(s"packed-token lane overflow: $c="), v.cast("string"),
          lit(" outside [0, 32766]"))).cast("long"))
        .otherwise(v)
      shiftleft(coalesce(checked + 1L, lit(0L)), 15 * (toks.size - 1 - i))
    }.reduce(_ + _).as("__tok")
    df.select(keys.map(col) :+ enc: _*)
      .orderBy(keys.map(col) :+ col("__tok"): _*)
      .select(keys.map(col) ++ toks.zipWithIndex.map { case (c, i) =>
        val lane = shiftright(col("__tok"), 15 * (toks.size - 1 - i))
          .bitwiseAND(lit(0x7FFFL))
        when(lane === 0, lit(null)).otherwise((lane - 1).cast("int")).as(c)
      }: _*)
  }

  /** Rows of `df` — the one sizing rule of every path here: summed from
    * the parquet footers of a bare parquet scan ([[graft.Tables.footerCount]],
    * no job), else one column-less `count()` job under the call site
    * `input.count`. */
  private def inputRows(df: DataFrame): Long =
    graft.Tables.footerCount(df).getOrElse(
      underCallSite(df.sparkSession.sparkContext, "input.count")(df.count()))

  /** Phase 1, exact, selection-based — the preferred scale path. Finds the
    * exact values at the quantile positions (pos = p·(n−1), interpolated
    * between floor and ceil) without a global sort:
    *
    *  - '''Sizing, driver.''' [[inputRows]]: a bare parquet scan is
    *    counted from its footers (no job); any other input pays one
    *    column-less `count()`.
    *    Inputs of at most `smallCollect` TOTAL rows (not non-null rows: a
    *    mostly-null wide input is still big to collect) are collected
    *    (`boundaries.collect`) and sorted on the driver, where three jobs
    *    would cost more than they save. Larger inputs take the three jobs
    *    below.
    *  - '''Source, decoded once per call.''' The cast projection is read as
    *    `ColumnarBatch`es ([[org.apache.spark.sql.graft.Bridge.columnarBatches]]:
    *    a vectorized parquet scan hands over its own double vectors, any
    *    other plan goes through Spark's `RowToColumnarExec`) and each batch
    *    becomes one exact-size `double[]` of non-null values per column,
    *    cached for the length of the call ([[RankSelection.withCall]]: it
    *    is unpersisted before the call returns or throws, and a block that
    *    does not fit is decoded again by its lineage). One array per
    *    batch, not one per column, keeps them far below the G1
    *    humongous-object size.
    *  - '''Job 1, `boundaries.sample`.''' Decodes every task into the
    *    cache and returns, per column, every s-th non-null value of the
    *    task, NaN dropped ([[RankSelection.stride]]: ~4 per bucket for a
    *    dense column). A sparse column yields fewer values and so fewer
    *    buckets, each holding about s values, so its buckets stay about as
    *    large as a dense column's. The driver picks ≤ numBuckets − 1
    *    distinct equi-depth split points per column and builds one
    *    [[graft.functions.BucketizeGrid]] per column. [[quantileBoundsSample]]
    *    keeps its full-scan Bernoulli sample because there the sample IS
    *    the answer.
    *  - '''Job 2, `boundaries.hist`.''' Over the cache, counts every
    *    column's values per bucket (grid-bracketed lower_bound) into a
    *    partition-local flat (col, bucket) array; tree-reduced. The
    *    per-column non-null counts are its row sums. The driver
    *    ([[RankSelection.Located]]) turns the cumulative counts into a
    *    (bucket, in-bucket offset) for every needed position.
    *  - '''Job 3, `boundaries.gather`.''' Over the cache, keeps only the
    *    values that fall in a needed bucket (≈ |probs|·n/B per column) as
    *    primitive arrays keyed by (col, gather slot). It decides membership
    *    before any comparison: each column's candidate mask
    *    ([[RankSelection.Located.candidateMasks]]) flags the grid cells
    *    whose widened bracket holds a needed bucket, and only the values
    *    of flagged cells (a few percent of them) are searched again. The
    *    histogram's search ends inside the bracket, so the mask never
    *    drops a candidate. Up to `maxCollect` candidates are collected and
    *    sorted per bucket on the driver; above it each bucket is sorted on
    *    the executors after a reduceByKey and only the needed offsets come
    *    back ([[RankSelection.pick]]).
    *
    * The three jobs run under those call sites (the names their stages
    * carry in listeners and the UI); the caller's call site is restored
    * afterwards. The counting and picking run at the rank level,
    * [[selectRanks]]; this method adds the floor/ceil interpolation.
    *
    * The result is byte-identical to the sort-based exact quantiles
    * (equality spec). Values equal to a split share a bucket, so ties never split
    * across buckets and a tie-heavy column degrades into a few big buckets.
    *
    * NaN ranks '''last''', as in Spark's sort and `Arrays.sort(double[])`:
    * the sample drops NaN so the splits stay finite and ordered; the grid
    * search sends NaN past every split, so the histogram counts it in the
    * top bucket where sort-last rows belong; the driver's `Arrays.sort`
    * puts it after every finite value of that bucket. Finite-rank quantiles
    * are therefore exact whatever the NaN count, and a position in the NaN
    * tail returns NaN, as the sort path does. Property-pinned in
    * TokenizeSpec against a NaN-last brute force.
    *
    * Every broadcast the call makes is destroyed before it returns or
    * throws, and its cache is unpersisted. */
  def quantileBoundsSelect(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                           numBuckets: Int = 8192,
                           maxCollect: Long = 64000000L,
                           smallCollect: Long = 1000000L): Map[String, Seq[Double]] = {
    val totalRows = inputRows(df)
    val proj = df.select(cols.map(c => col(c).cast("double")): _*)
    val sel = selectRanks(proj, totalRows, { (ci, n) =>
      require(n > 0, s"quantileBoundsSelect: no non-null values in ${cols(ci)}")
      quantileRanks(probs, n)
    }, numBuckets, maxCollect, smallCollect)
    cols.indices.map { ci =>
      val (n, at) = sel(ci)
      cols(ci) -> interpolated(probs, n)(at)
    }.toMap
  }

  /** The first `m` rows' non-null values of `vec`, in row order, as an
    * exact-size array. The nulls are counted over those rows, not read
    * from `numNulls`, which a constant vector reports for its capacity. */
  private def nonNullValues(vec: ColumnVector, m: Int): Array[Double] = {
    var nulls = 0
    var r = 0
    if (vec.hasNull) while (r < m) { if (vec.isNullAt(r)) nulls += 1; r += 1 }
    val out = new Array[Double](m - nulls)
    var j = 0
    r = 0
    while (r < m) {
      if (nulls == 0 || !vec.isNullAt(r)) { out(j) = vec.getDouble(r); j += 1 }
      r += 1
    }
    out
  }

  /** The rank level of exact selection, under [[quantileBoundsSelect]] and
    * [[GroupedQuantiles.selectByRank]]: for every column of `proj` (all
    * doubles; `totalRows` rows), its non-null count `n` and its value at
    * each 0-based rank `ranksOf(column index, n)` names, NaN last. Sizing,
    * the per-call cache, the three jobs and the NaN order are as
    * [[quantileBoundsSelect]] describes; the driver bookkeeping is
    * [[RankSelection]]'s. */
  private[operators] def selectRanks(proj: DataFrame, totalRows: Long,
      ranksOf: (Int, Long) => Seq[Long], numBuckets: Int,
      maxCollect: Long, smallCollect: Long): Array[(Long, Map[Long, Double])] = {
    val k = proj.columns.length
    val sc = proj.sparkSession.sparkContext
    if (totalRows <= smallCollect) {
      val rows = underCallSite(sc, "boundaries.collect")(proj.collect())
      Array.tabulate(k) { ci =>
        val vs = rows.iterator.filterNot(_.isNullAt(ci)).map(_.getDouble(ci)).toArray
        java.util.Arrays.sort(vs)
        val n = vs.length.toLong
        (n, ranksOf(ci, n).iterator.map(r => r -> vs(r.toInt)).toMap)
      }
    } else RankSelection.withCall(sc) { call =>
      // per batch, per column: the batch's non-null values
      val decoded = call.cache(Bridge.columnarBatches(proj).map { batch =>
        Array.tabulate(k)(ci => nonNullValues(batch.column(ci), batch.numRows))
      })
      val stride = RankSelection.stride(totalRows, numBuckets)
      // job 1: decode into the cache; per column, every stride-th non-null
      // value of the task (NaN splits would be unordered), sorted on the
      // executor
      val runs: Array[Array[Array[Double]]] = underCallSite(sc, "boundaries.sample") {
        decoded.mapPartitions { it =>
          val bufs = Array.fill(k)(new mutable.ArrayBuilder.ofDouble)
          val next = Array.fill(k)(stride / 2)
          while (it.hasNext) {
            val chunk = it.next()
            var ci = 0
            while (ci < k) {
              val a = chunk(ci)
              val buf = bufs(ci)
              next(ci) = RankSelection.strided(a.length, next(ci), stride) { p =>
                val v = a(p)
                if (v == v) buf += v
              }
              ci += 1
            }
          }
          Iterator.single(bufs.map { b =>
            val a = b.result()
            java.util.Arrays.sort(a)
            a
          })
        }.collect()
      }
      val grids: Array[BucketizeGrid] = Array.tabulate(k) { ci =>
        // Arrays.sort detects the concatenated sorted runs and merges them
        val vs = Array.concat(runs.map(_(ci)).toIndexedSeq: _*)
        java.util.Arrays.sort(vs)
        new BucketizeGrid(RankSelection.splitIndices(vs.length, numBuckets).map(vs(_))
          .toArray.distinct)
      }
      val flatOff: Array[Int] = grids.map(_.n + 1).scanLeft(0)(_ + _)
      val gridB = call.broadcast(grids)
      // job 2: flat (col, bucket) histogram — per value one grid-bracketed
      // search and one increment into a partition-local array
      val hist = underCallSite(sc, "boundaries.hist") {
        RankSelection.histogram(decoded, flatOff(k)) { (chunk, acc) =>
          val gx = gridB.value
          var ci = 0
          while (ci < k) {
            val a = chunk(ci)
            val g = gx(ci)
            val base = flatOff(ci)
            var r = 0
            while (r < a.length) {
              acc(base + BucketizeGrid.search(g, a(r), Int.MaxValue)) += 1
              r += 1
            }
            ci += 1
          }
        }
      }
      val loc = new RankSelection.Located(hist, flatOff, ranksOf)
      val slotB = call.broadcast(loc.slots)
      val maskB = call.broadcast(loc.candidateMasks(grids))
      // job 3: gather the candidate-bucket values; a value is searched only
      // if the mask admits its cell
      val cand = RankSelection.gather[Array[Array[Double]], Double](decoded, slotB) { (chunk, bufs) =>
        val (gx, slot, mx) = (gridB.value, slotB.value, maskB.value)
        var ci = 0
        while (ci < k) {
          val a = chunk(ci)
          val g = gx(ci)
          val sl = slot(ci)
          val mk = mx(ci)
          val bf = bufs(ci)
          var r = 0
          while (r < a.length) {
            val v = a(r)
            if (mk(g.maskCell(v))) {
              val j = sl(BucketizeGrid.search(g, v, Int.MaxValue))
              if (j >= 0) bf(j) += v
            }
            r += 1
          }
          ci += 1
        }
      }
      val picked = underCallSite(sc, "boundaries.gather") {
        RankSelection.pick(cand, loc, collect = loc.volume <= maxCollect,
          (a: Array[Double]) => java.util.Arrays.sort(a), call)
      }
      loc.counts.zip(picked)
    }
  }

  /** Memo cache for driver-contract queries: the same (sfDir, cols, bins)
    * boundary vectors are reused across q_tokenize_bucketize /
    * q_token_histogram / repeated bench invocations within a JVM.
    * Fingerprint-validated against the lineitem dir on every lookup
    * ([[graft.ModelState.validated]]): regenerated parquet rebuilds the
    * boundaries instead of tokenizing new data with old split points. */
  private val boundsCache = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[String], Int), (String, Map[String, Seq[Double]])]

  private def cachedLineitemBounds(spark: SparkSession, dir: String, cols: Seq[String],
                                   bins: Int): Map[String, Seq[Double]] =
    graft.ModelState.validated(boundsCache, (dir, cols, bins),
        Seq(s"$dir/lineitem.parquet"), "Tokenize.bounds")({
      quantileBoundsSelect(graft.Tables.lineitem(spark, dir), cols, innerProbs(bins))
        .map { case (c, bs) => c -> bs.map(round6d) }
    })

  /** Phase 1, approximate, ONE data pass: uniform row sample -> driver-side
    * per-column sorts -> interpolated quantiles of the sample.
    *
    * The scan is map-only: a Bernoulli keep over the projection's
    * columnar batches into packed per-partition primitive column buffers,
    * no Row boxing, no shuffle. Rank error: by Dvoretzky-Kiefer-Wolfowitz,
    * P(sup_p |rank(b_p)/n - p| > eps) <= 2·exp(-2·s·eps²) — at the default
    * s=1M, eps=0.003 holds with probability ~1-3e-8; property-tested in
    * TokenizeSpec. This is the 100 TB default when boundaries feed a
    * tokenizer (bin-edge jitter of ~eps rank is immaterial); exact
    * selection remains the bit-exact path. NaN sorts last in the driver
    * sort (`Arrays.parallelSort` IEEE-754 total order) — the engine-wide
    * NaN-last policy holds here with no extra code. The sample scan is the
    * only job: the sampling rate comes from [[inputRows]]. */
  def quantileBoundsSample(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                           sampleSize: Int = 1000000, seed: Long = 42): Map[String, Seq[Double]] = {
    val k = cols.size
    val n = inputRows(df)
    require(n > 0, "quantileBoundsSample: empty input")
    val proj = df.select(cols.map(c => col(c).cast("double")): _*)
    val rowFrac = math.min(1.0, sampleSize.toDouble / n)
    // pack per-partition primitive column buffers; collect returns
    // partitions-many packs of double[] per column
    val packs: Array[Array[Array[Double]]] =
      Bridge.columnarBatches(proj).mapPartitionsWithIndex { (idx, it) =>
        val rnd = new java.util.Random(seed ^ (idx * 0x9E3779B97F4A7C15L))
        val bufs = Array.fill(k)(new mutable.ArrayBuilder.ofDouble)
        it.foreach { batch =>
          var r = 0
          while (r < batch.numRows) {
            if (rowFrac >= 1.0 || rnd.nextDouble() < rowFrac) {
              var ci = 0
              while (ci < k) {
                val vec = batch.column(ci)
                if (!vec.isNullAt(r)) bufs(ci) += vec.getDouble(r)
                ci += 1
              }
            }
            r += 1
          }
        }
        Iterator.single(bufs.map(_.result()))
      }.collect()
    cols.indices.map { ci =>
      val total = packs.iterator.map(_(ci).length).sum
      require(total > 0, s"quantileBoundsSample: no non-null sample values in ${cols(ci)}")
      val vs = new Array[Double](total)
      var off = 0
      packs.foreach { p => System.arraycopy(p(ci), 0, vs, off, p(ci).length); off += p(ci).length }
      java.util.Arrays.parallelSort(vs)
      cols(ci) -> interpolated(probs, vs.length)(i => vs(i.toInt))
    }.toMap
  }

  /** Phase 2: map-only discretize against precomputed boundaries via the
    * codegen'd binary-search expression — O(log bins)/value, no shuffle. */
  def discretize(v: Column, bounds: Seq[Double], bins: Int = DefaultBins): Column =
    BucketizeExpr.bucketize(v.cast("double"), bounds, bins)

  /** Round to 6 decimals, decimal-exact (matches DuckDB round(x, 6) for any
    * value not within ~1e-9 of a .5e-6 grid boundary). Boundaries are rounded
    * before discretizing on BOTH engines: on low-cardinality columns (e.g.
    * l_discount, 11 distinct values) interpolated quantile boundaries land
    * exactly ON data values, and engine-level ulp differences in the
    * interpolation formula would otherwise flip strict `b < v` counts. */
  private[graft] def round6d(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `pd.qcut(duplicates='drop')` edge semantics (etl_benchmark.py:34): the
    * full bins+1 quantile EDGES (including min/max), rounded to the shared
    * 6-decimal grid, with duplicate edges COLLAPSED — on a low-cardinality
    * column (l_discount: 11 distinct values) many quantile edges coincide
    * and the surviving bins renumber densely, unlike the inner-boundary
    * tokenizers, which keep empty bins (torch semantics). */
  def qcutDropEdges(df: DataFrame, cols: Seq[String],
                    bins: Int = DefaultBins): Map[String, Seq[Double]] = {
    val probs = (0 to bins).map(_.toDouble / bins)
    quantileBoundsSelect(df, cols, probs)
      .map { case (c, es) => c -> es.map(round6d).distinct }
  }

  /** qcut-with-drop tokenizer: token = bin among the COLLAPSED `edges`
    * ([[qcutDropEdges]]). With edges e_0 < … < e_m, value v gets
    * `#{inner edge < v}` (right closed, the qcut interval convention;
    * `rightClosed = false` gives the Numba/Bucketizer left-closed
    * convention instead), clamped to [0, m-1]. A fully-constant column
    * collapses to a single edge and tokenizes to bin 0 (explicit policy;
    * pandas returns no bins). */
  def tokenizeQcutDrop(df: DataFrame, cols: Seq[String], keep: Seq[String],
                       edges: Map[String, Seq[Double]],
                       rightClosed: Boolean = true): DataFrame = {
    val tokens = cols.map { c =>
      val es = edges(c)
      val inner = es.slice(1, es.size - 1)
      BucketizeExpr.bucketize(col(c).cast("double"), inner,
        math.max(es.size - 1, 1), rightClosed).as(s"${c}_token")
    }
    df.select(keep.map(col) ++ tokens: _*)
  }

  // ---------------------------------------------------------------- queries

  /** Driver-contract queries (SparkEntry). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tokenize_rank" -> { (spark, dir) =>
      // contract plan = the selection formulation (no global sort of the
      // fact table, no single-partition window); tiebreak keys ++ all
      // measures is a unique tuple in the driver corpus (FIXTURES.md)
      tokenizeRankSelect(graft.Tables.lineitem(spark, dir), LineitemCols,
        LineitemKeys ++ LineitemCols)
    },
    "q_quantile_bounds" -> { (spark, dir) =>
      // (col_name, p_idx 0..100, boundary) rows — the exact shape of the
      // reference's boundary tensor (etl_benchmark.py:63:
      // torch.linspace(0,1,101) -> torch.quantile), computed by the
      // SELECTION-based exact quantile (sample→histogram→gather of only the
      // boundary-position rows; the fact table is never globally sorted)
      // and emitted driver-side (the result is always cols × (bins+1)
      // values — tiny).
      import spark.implicits._
      val li = graft.Tables.lineitem(spark, dir)
      val probs = (0 to DefaultBins).map(_.toDouble / DefaultBins)
      val bounds = quantileBoundsSelect(li, LineitemCols, probs)
      LineitemCols.flatMap { c =>
        bounds(c).zipWithIndex.map { case (b, i) => (c, i, round6d(b)) }
      }.toDF("col_name", "p_idx", "boundary")
        .orderBy("col_name", "p_idx")
    },
    "q_quantile_bounds_sample" -> { (spark, dir) =>
      // Contract entry for the sampled bounds path
      // ([[quantileBoundsSample]]: one map-only scan, DKW-bounded).
      // Hash-checkable against DuckDB
      // `quantile_cont` because at n <= sampleSize (every driver verify /
      // bench scale) the Bernoulli keep short-circuits (`rowFrac >= 1.0`
      // keeps EVERY row, no RNG draw), so the "sample" is deterministically
      // the full column and the driver-side interpolation — rank p·(n-1),
      // linear — is exactly quantile_cont. Above 1 M rows the path becomes
      // genuinely sampled and partition-layout-dependent; that regime is
      // covered by the DKW rank-error property spec in TokenizeSpec.
      import spark.implicits._
      val li = graft.Tables.lineitem(spark, dir)
      // Fail crisply if a larger fixture ever pushes this entry into the
      // genuinely-sampled regime: past 1M rows the boundaries become
      // partition-layout-dependent and the quantile_cont oracle would
      // flake as a silent hash mismatch. (The count is read from the
      // footers; the library path quantileBoundsSample itself stays total
      // at every scale — only this hash-checked contract entry pins the
      // deterministic regime.)
      val n = graft.Tables.rowCount(spark, dir, "lineitem")
      require(n <= 1000000L,
        s"q_quantile_bounds_sample's oracle is only deterministic at n <= sampleSize (1M); " +
          s"got n=$n — raise sampleSize in the entry or use the rows-only DKW-checked path")
      val probs = (0 to DefaultBins).map(_.toDouble / DefaultBins)
      val bounds = quantileBoundsSample(li, LineitemCols, probs)
      LineitemCols.flatMap { c =>
        bounds(c).zipWithIndex.map { case (b, i) => (c, i, round6d(b)) }
      }.toDF("col_name", "p_idx", "boundary")
        .orderBy("col_name", "p_idx")
    },
    "q_tokenize_bucketize" -> { (spark, dir) =>
      val li = graft.Tables.lineitem(spark, dir)
      val bounds = cachedLineitemBounds(spark, dir, LineitemCols, DefaultBins)
      val tokens = LineitemCols.map(c => discretize(col(c), bounds(c), DefaultBins).as(s"${c}_token"))
      orderByKeysThenPackedTokens(li.select(LineitemKeys.map(col) ++ tokens: _*),
        LineitemKeys, LineitemCols.map(c => s"${c}_token"))
    },
    "q_tokenize_rightopen" -> { (spark, dir) =>
      // the Numba kernel's closure (etl_benchmark_numba.py:47): a value
      // equal to a boundary goes to the UPPER bin — same cached boundaries
      // as q_tokenize_bucketize, opposite convention
      val li = graft.Tables.lineitem(spark, dir)
      val bounds = cachedLineitemBounds(spark, dir, LineitemCols, DefaultBins)
      val tokens = LineitemCols.map(c =>
        BucketizeExpr.bucketize(col(c).cast("double"), bounds(c), DefaultBins,
          rightClosed = false).as(s"${c}_token"))
      orderByKeysThenPackedTokens(li.select(LineitemKeys.map(col) ++ tokens: _*),
        LineitemKeys, LineitemCols.map(c => s"${c}_token"))
    },
    "q_tokenize_qcut" -> { (spark, dir) =>
      // duplicates='drop' collapse on the low-cardinality measures
      // (l_discount: 11 distinct values -> 11 surviving bins of 100)
      val li = graft.Tables.lineitem(spark, dir)
      val edges = graft.ModelState.validated(boundsCache,
          (dir + "#qcut", LineitemCols, DefaultBins),
          Seq(s"$dir/lineitem.parquet"), "Tokenize.qcutEdges")(
        qcutDropEdges(li, LineitemCols, DefaultBins))
      orderByKeysThenPackedTokens(
        tokenizeQcutDrop(li, LineitemCols, LineitemKeys, edges),
        LineitemKeys, LineitemCols.map(c => s"${c}_token"))
    },
    "q_token_histogram" -> { (spark, dir) =>
      // Downstream sanity aggregate: bin mass per token for one column —
      // near-uniform on continuous data (SURVEY §5.3 property).
      val li = graft.Tables.lineitem(spark, dir)
      val bounds = cachedLineitemBounds(spark, dir, LineitemCols, DefaultBins)
      li.select(discretize(col("l_extendedprice"), bounds("l_extendedprice"), DefaultBins).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy("token")
    },
    "q_tokenize_nan" -> { (spark, dir) =>
      // The NaN-last policy in the ORACLE LANE: the driver fixtures carry
      // no NaN, so without this query the policy is only property-tested.
      // NaN is injected DETERMINISTICALLY into the
      // tokenized value ((l_orderkey + l_linenumber) % 7 = 3, ~14% of
      // rows); boundaries derive from the CLEAN column — by design, and
      // provably necessarily: DuckDB's own quantile_cont over NaN-bearing
      // input is unreliable (measured: [1,2,3,NaN] at p=0.5 returns NaN
      // even though rank 1.5 interpolates two finite values), which is
      // exactly why the engine's boundary paths strip NaN before deriving
      // split points. Both tokenize conventions are exercised: Spark's
      // codegen `v != v` branch sends NaN to the top bin; DuckDB reaches
      // the same bin through its NaN total order (NaN > every finite
      // boundary, verified: 'nan' > 1e308 is TRUE), with NO special-casing
      // in the oracle SQL — the two engines agree because both define
      // NaN-last, which is the point of the policy. Output order is the
      // raw full tiebreak: a unique total order of CLEAN columns, sorted
      // below the projection.
      val li = graft.Tables.lineitem(spark, dir)
      val bounds = cachedLineitemBounds(spark, dir, LineitemCols, DefaultBins)
      val injected = when(
        pmod(col("l_orderkey") + col("l_linenumber"), lit(7)) === 3,
        lit(Double.NaN)).otherwise(col("l_extendedprice"))
      li.orderBy((LineitemKeys ++ LineitemCols).map(col): _*)
        .select(col("l_orderkey"), col("l_linenumber"),
          discretize(injected, bounds("l_extendedprice"), DefaultBins)
            .as("price_token"),
          BucketizeExpr.bucketize(injected.cast("double"),
            bounds("l_extendedprice"), DefaultBins, rightClosed = false)
            .as("price_token_ro"))
    }
  )

  private def probsSql(bins: Int, inner: Boolean): String = {
    val ps = if (inner) innerProbs(bins) else (0 to bins).map(_.toDouble / bins)
    ps.mkString("[", ",", "]")
  }

  /** DuckDB oracle SQL (driver t2 contract). */
  def oracleSql: Map[String, String] = {
    val fullTiebreak = (LineitemKeys ++ LineitemCols).mkString(", ")
    val tokenOrder = (LineitemKeys ++ LineitemCols.map(c => s"${c}_token")).mkString(", ")
    val tokenCols = LineitemCols
      .map(c => s"CAST(NTILE(100) OVER (ORDER BY $c, $fullTiebreak) - 1 AS INTEGER) AS ${c}_token")
      .mkString(", ")
    val boundsCtes = LineitemCols
      .map(c => s"list_transform(quantile_cont($c, ${probsSql(DefaultBins, inner = true)}), x -> round(x, 6)) AS b_$c")
      .mkString(", ")
    val bucketizeCols = LineitemCols
      .map(c => s"CAST(least(greatest(len(list_filter(b.b_$c, x -> l.$c > x)), 0), 99) AS INTEGER) AS ${c}_token")
      .mkString(", ")
    val boundsUnion = LineitemCols
      .map(c => s"SELECT '$c' AS col_name, quantile_cont($c, ${probsSql(DefaultBins, inner = false)}) AS bs FROM lineitem")
      .mkString(" UNION ALL ")
    // Shared by the exact-selection and full-keep-sample entries: both
    // reduce to rank-p(n-1) linear interpolation == quantile_cont at
    // verify/bench scale (see the q_quantile_bounds_sample query comment).
    val boundsSql =
      s"""WITH b AS ($boundsUnion)
         |SELECT col_name, CAST(gs - 1 AS INTEGER) AS p_idx, round(bs[gs], 6) AS boundary
         |FROM b, generate_series(1, ${DefaultBins + 1}) t(gs)
         |ORDER BY col_name, p_idx""".stripMargin
    Map(
      // ORDER BY keys + token aliases, matching the Spark side's
      // packed-token sort. Ties under
      // (keys, tokens) are rows whose entire projected output is
      // identical, so both engines hash the same regardless of tie order.
      "q_tokenize_rank" ->
        s"""SELECT l_orderkey, l_linenumber, $tokenCols
           |FROM lineitem ORDER BY $tokenOrder""".stripMargin,
      "q_quantile_bounds" -> boundsSql,
      "q_quantile_bounds_sample" -> boundsSql,
      "q_tokenize_bucketize" ->
        s"""WITH b AS (SELECT $boundsCtes FROM lineitem)
           |SELECT l.l_orderkey, l.l_linenumber, $bucketizeCols
           |FROM lineitem l CROSS JOIN b ORDER BY $tokenOrder""".stripMargin,
      "q_tokenize_rightopen" -> {
        val cols = LineitemCols
          .map(c => s"CAST(least(len(list_filter(b.b_$c, x -> l.$c >= x)), 99) AS INTEGER) AS ${c}_token")
          .mkString(", ")
        s"""WITH b AS (SELECT $boundsCtes FROM lineitem)
           |SELECT l.l_orderkey, l.l_linenumber, $cols
           |FROM lineitem l CROSS JOIN b ORDER BY $tokenOrder""".stripMargin
      },
      "q_tokenize_qcut" -> {
        val edgeCtes = LineitemCols
          .map(c => s"list_sort(list_distinct(list_transform(quantile_cont($c, ${probsSql(DefaultBins, inner = false)}), x -> round(x, 6)))) AS e_$c")
          .mkString(", ")
        val tokenExprs = LineitemCols
          .map(c => s"CAST(greatest(least(len(list_filter(e.e_$c[2:-2], x -> l.$c > x)), len(e.e_$c) - 2), 0) AS INTEGER) AS ${c}_token")
          .mkString(", ")
        s"""WITH e AS (SELECT $edgeCtes FROM lineitem)
           |SELECT l.l_orderkey, l.l_linenumber, $tokenExprs
           |FROM lineitem l CROSS JOIN e ORDER BY $tokenOrder""".stripMargin
      },
      "q_token_histogram" ->
        s"""WITH b AS (SELECT list_transform(quantile_cont(l_extendedprice, ${probsSql(DefaultBins, inner = true)}), x -> round(x, 6)) AS bs FROM lineitem),
           |t AS (SELECT CAST(least(greatest(len(list_filter(b.bs, x -> l.l_extendedprice > x)), 0), 99) AS INTEGER) AS token
           |      FROM lineitem l CROSS JOIN b)
           |SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY token ORDER BY token""".stripMargin,
      // q_tokenize_nan: NO NaN special-casing here — DuckDB's NaN total
      // order (NaN > every finite boundary) must land the top bin on its
      // own, mirroring the Spark side's codegen NaN-last branch.
      "q_tokenize_nan" ->
        s"""WITH b AS (SELECT list_transform(quantile_cont(l_extendedprice, ${probsSql(DefaultBins, inner = true)}), x -> round(x, 6)) AS bs FROM lineitem)
           |SELECT l.l_orderkey, l.l_linenumber,
           |  CAST(least(greatest(len(list_filter(b.bs, x -> (CASE WHEN (l.l_orderkey + l.l_linenumber) % 7 = 3 THEN 'nan'::DOUBLE ELSE l.l_extendedprice END) > x)), 0), 99) AS INTEGER) AS price_token,
           |  CAST(least(len(list_filter(b.bs, x -> (CASE WHEN (l.l_orderkey + l.l_linenumber) % 7 = 3 THEN 'nan'::DOUBLE ELSE l.l_extendedprice END) >= x)), 99) AS INTEGER) AS price_token_ro
           |FROM lineitem l CROSS JOIN b
           |ORDER BY $fullTiebreak""".stripMargin
    )
  }
}
