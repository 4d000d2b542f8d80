package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** `token(v) = clamp(#{b in bounds : b < v}, 0, bins-1)` via binary search
  * over a constant sorted boundary array — the Spark-native analog of
  * `torch.bucketize(v, boundaries) - 1` + clamp
  * (/root/reference/etl_benchmark.py:76-82).
  *
  * Closure convention (SURVEY §2A fine print 1) — the reference ships BOTH:
  *  - `rightClosed = true` (default): a value equal to a boundary goes to
  *    the LOWER bin (strict `b < v` count), matching
  *    `torch.bucketize(right=False) - 1` (etl_benchmark.py:79);
  *  - `rightClosed = false`: boundary-equal values go to the UPPER bin
  *    (`b <= v` count), matching the Numba kernel's `val < thresholds[i]`
  *    first-hit search (etl_benchmark_numba.py:47) and
  *    `ml.feature.Bucketizer`'s left-closed intervals.
  *
  * Why a custom Catalyst expression (SURVEY §7): the composable alternative
  * `size(filter(boundsLit, b -> v > b))` is a higher-order function that is
  * CodegenFallback — interpreted per row, allocating an array per value — and
  * measured ~40x slower at sf0.1. This expression participates in whole-stage
  * codegen: the generated Java is a tight branch-free-ish binary-search loop
  * over a referenced `double[]`, O(log bins) per value, zero allocation.
  *
  * Null -> null. NaN -> the TOP bin, `bins - 1` (round 12 — previously bin
  * 0, the accidental result of IEEE `<` never holding for NaN). NaN-last is
  * the np.digitize convention (NaN treated as larger than every boundary)
  * and, decisively, Spark's OWN sort/agg ordering — the engine's quantile
  * boundary paths (Tokenize.quantileBoundsSelect and friends, round 12)
  * rank NaN last, so the tokenizer must agree or a NaN-bearing column
  * would bucket its NaN opposite to where the boundary computation counted
  * them. The reference has no NaN policy (SURVEY §2A fine print); ours is
  * explicit, total, and property-tested (TokenizeSpec).
  */
case class BucketizeExpr(child: Expression, bounds: Seq[Double], bins: Int,
                         rightClosed: Boolean = true)
    extends UnaryExpression {

  private lazy val grid: BucketizeGrid = new BucketizeGrid(bounds.toArray)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bucketize"

  override def nullSafeEval(input: Any): Any =
    if (rightClosed) BucketizeGrid.search(grid, input.asInstanceOf[Double], bins)
    else BucketizeGrid.searchRightOpen(grid, input.asInstanceOf[Double], bins)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ONE search implementation for the interpreted and generated paths
    // (round 13): the generated Java is a static call into
    // [[BucketizeGrid]] — monomorphic and small, so C2 inlines it into the
    // whole-stage loop — instead of an inlined full-range binary search.
    // The grid bracket replaces ~log2(bins) scattered double-array probes
    // per value with one multiply + two int reads + a <=2-step search
    // (the same grid the selection passes search). Embedding the grid as
    // a referenced object also avoids re-materializing boundary literals
    // per codegen.
    val g = ctx.addReferenceObj("grid", grid, classOf[BucketizeGrid].getName)
    val fn = if (rightClosed) "search" else "searchRightOpen"
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BucketizeGrid.$fn($g, $v, $bins);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Grid-bracketed boundary search state, shared by [[BucketizeExpr]] and
  * the exact quantile selection passes (`Tokenize.quantileBoundsSelect`,
  * which calls [[BucketizeGrid.search]] unclamped). A plain binary search
  * over a large boundary array walks ~log2(n) scattered cache lines per
  * value; a uniform grid of G = 4n cells over [bounds.head, bounds.last]
  * with per-cell lower_bound brackets cuts that to one multiply, two int
  * reads and a ≤2-step search when the boundaries are spread like the
  * data (equi-depth splits are). Brackets are widened ±1 cell so fp
  * rounding at a cell edge can never exclude the true index: exactness
  * never depends on the grid. One instance serves BOTH closure
  * conventions: the bracket [bnd(gi−1), bnd(gi+2)) contains every index
  * whose boundary value could equal v (duplicates of v share v's cell, so
  * a run of equal boundaries never escapes the widened bracket), and the
  * convention's comparator runs only inside it. Falls back to the
  * full-range loop when cells are under one ulp wide (degenerate spans). */
final class BucketizeGrid(val bounds: Array[Double]) extends Serializable {
  val n: Int = bounds.length
  val lo0: Double = if (n > 0) bounds(0) else 0.0
  val hi0: Double = if (n > 0) bounds(n - 1) else 0.0
  val G: Int = math.max(1, math.min(1 << 16, 4 * n))
  val inv: Double = if (n > 0 && hi0 > lo0) G / (hi0 - lo0) else 0.0
  val gridOk: Boolean = java.lang.Double.isFinite(inv) && inv > 0.0 &&
    (hi0 - lo0) / G >= math.ulp(math.max(math.abs(lo0), math.abs(hi0)))
  /** bnd(g) = lower_bound(bounds, lower edge of cell g); bnd(G) pinned to n
    * unconditionally (fp rounding of the top edge must never cut the last
    * bracket short). */
  val bnd: Array[Int] = BucketizeGrid.cellLowerBounds(bounds, lo0, hi0, G)
}

object BucketizeGrid {
  /** The grid's `bnd` table in one forward sweep, O(G + n): the edge
    * expression is monotone in g (each fp step rounds monotonically), so
    * the lower_bound cursor never moves back. The one non-monotone edge is
    * NaN (a span overflowing to Infinity makes 0 × Inf at g = 0, and every
    * edge is NaN when lo0 is −Inf); `bounds(j) < NaN` never holds, so the
    * cursor stays where lower_bound puts it, 0, as nothing precedes those
    * cells. A method, not constructor code: the same loop in the
    * constructor ran ~13× slower on JDK 17 (20 grids of 8,191 bounds,
    * 4-core x86: ~120 ms vs ~9 ms). */
  private def cellLowerBounds(bounds: Array[Double], lo0: Double, hi0: Double,
                              G: Int): Array[Int] = {
    val n = bounds.length
    val b = new Array[Int](G + 1)
    var j = 0
    var g = 0
    while (g < G) {
      val edge = lo0 + g * (hi0 - lo0) / G
      while (j < n && bounds(j) < edge) j += 1
      b(g) = j
      g += 1
    }
    b(G) = n
    b
  }

  /** lower_bound count (strict `<`, right-closed bins) clamped to
    * [0, bins-1]; NaN → top bin. Bit-for-bit equal to
    * [[BucketizeExpr.search]] (property-pinned in TokenizeSpec). */
  def search(g: BucketizeGrid, v: Double, bins: Int): Int = {
    var lo = 0
    var hi = g.n
    if (v != v) lo = hi // NaN-last (BucketizeExpr class doc)
    else if (v <= g.lo0) return 0
    else if (v > g.hi0) lo = hi
    else {
      if (g.gridOk) {
        var gi = ((v - g.lo0) * g.inv).toInt
        if (gi < 0) gi = 0 else if (gi > g.G - 1) gi = g.G - 1
        lo = g.bnd(if (gi == 0) 0 else gi - 1)
        hi = g.bnd(if (gi + 2 > g.G) g.G else gi + 2)
      }
      val b = g.bounds
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (b(mid) < v) lo = mid + 1 else hi = mid
      }
    }
    if (lo > bins - 1) bins - 1 else lo
  }

  /** upper_bound count (`<=`, right-open bins) clamped; same NaN policy.
    * Bit-for-bit equal to [[BucketizeExpr.searchRightOpen]]. */
  def searchRightOpen(g: BucketizeGrid, v: Double, bins: Int): Int = {
    var lo = 0
    var hi = g.n
    if (v != v) lo = hi
    else if (v < g.lo0) return 0
    else if (v >= g.hi0) lo = hi
    else {
      if (g.gridOk) {
        var gi = ((v - g.lo0) * g.inv).toInt
        if (gi < 0) gi = 0 else if (gi > g.G - 1) gi = g.G - 1
        lo = g.bnd(if (gi == 0) 0 else gi - 1)
        hi = g.bnd(if (gi + 2 > g.G) g.G else gi + 2)
      }
      val b = g.bounds
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (b(mid) <= v) lo = mid + 1 else hi = mid
      }
    }
    if (lo > bins - 1) bins - 1 else lo
  }
}

object BucketizeExpr {
  /** lower_bound: #bounds strictly less than v, clamped to [0, bins-1]
    * (right-closed intervals: boundary-equal values take the lower bin).
    * NaN counts EVERY boundary as below it — NaN-last, class doc. */
  def search(bounds: Array[Double], v: Double, bins: Int): Int = {
    var lo = 0
    var hi = bounds.length
    if (v != v) lo = hi
    else while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) < v) lo = mid + 1 else hi = mid
    }
    if (lo > bins - 1) bins - 1 else lo
  }

  /** upper_bound: #bounds <= v, clamped (right-open intervals: boundary-equal
    * values take the upper bin — the Numba kernel's convention). Same
    * NaN-last policy as [[search]]. */
  def searchRightOpen(bounds: Array[Double], v: Double, bins: Int): Int = {
    var lo = 0
    var hi = bounds.length
    if (v != v) lo = hi
    else while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    if (lo > bins - 1) bins - 1 else lo
  }

  /** Column-level API. `bounds` must be sorted ascending; caller must ensure
    * the child column is DoubleType (cast upstream). */
  def bucketize(c: Column, bounds: Seq[Double], bins: Int,
                rightClosed: Boolean = true): Column =
    Bridge.column(BucketizeExpr(Bridge.expression(c), bounds, bins, rightClosed))
}
