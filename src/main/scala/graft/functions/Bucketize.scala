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
  * Null -> null. NaN -> the TOP bin, `bins - 1`, not the bin 0 that IEEE
  * `<` never holding for NaN would give. NaN-last is
  * the np.digitize convention (NaN treated as larger than every boundary)
  * and, decisively, Spark's OWN sort/agg ordering — the engine's quantile
  * boundary paths (Tokenize.quantileBoundsSelect and friends)
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
    // ONE search implementation for the interpreted and generated paths:
    // the generated Java is a static call into
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

/** Grid-bracketed boundary search state, shared by [[BucketizeExpr]], the
  * exact quantile selection passes (`Tokenize.quantileBoundsSelect`, which
  * calls [[BucketizeGrid.search]] unclamped) and the rank tokenizer's
  * composite-key passes (`Tokenize.tokenizeRankSelect`, over the split
  * rows' first fields, through [[bracket]]). A plain binary search over a
  * large boundary array walks ~log2(n) scattered cache lines per value; a
  * uniform grid over [bounds.head, bounds.last] with per-cell lower_bound
  * brackets cuts that to one multiply, two int reads and a ≤2-step search
  * when the boundaries are spread like the data (equi-depth splits are).
  * Brackets are widened ±1 cell so fp rounding at a cell edge can never
  * exclude the true index: exactness never depends on the grid. One
  * bracket serves every comparator: [bnd(gi−1), bnd(gi+2)) contains every
  * index whose boundary could equal v (duplicates of v share v's cell, so
  * a run of equal boundaries never escapes the widened bracket), and the
  * caller's comparator runs only inside it. Falls back to the full range
  * when cells are under one ulp wide (degenerate spans): there a cell
  * edge's 0.5-ulp rounding spans several cells and the ±1 margin could
  * exclude the true index.
  *
  * Cells: G = min(2^16, max(4n, 4096)). The selection grids (n = 8,191)
  * get 4n cells; 8n cells did not speed up their histogram. The floor is
  * for short bound lists: over the 99 bounds of a 100-bin tokenizer,
  * 4n = 396 cells leave most values a one- or two-step search with
  * branches the CPU cannot predict, while at 4,096 cells (a 16 KB `bnd`)
  * most values fall in a bracket that holds no bound, and the search loop
  * does not run.
  *
  * A gather that keeps only the values of a few needed buckets asks the
  * grid first ([[candidateMask]]): one cell computation and one mask read
  * per value, and only the values of flagged cells are searched.
  *
  * A grid serializes only its `bounds` and is rebuilt on read, so a
  * broadcast or a task binary does not carry the 4G + 4 byte `bnd`.
  * `bnd` is a plain val, not a lazy one: a lazy val would put an
  * initialization check in every per-value search. */
final class BucketizeGrid(val bounds: Array[Double]) extends Serializable {
  val n: Int = bounds.length
  val lo0: Double = if (n > 0) bounds(0) else 0.0
  val hi0: Double = if (n > 0) bounds(n - 1) else 0.0
  val G: Int = math.min(1 << 16, math.max(4 * n, 4096))
  val inv: Double = if (n > 0 && hi0 > lo0) G / (hi0 - lo0) else 0.0
  val gridOk: Boolean = java.lang.Double.isFinite(inv) && inv > 0.0 &&
    (hi0 - lo0) / G >= math.ulp(math.max(math.abs(lo0), math.abs(hi0)))
  /** bnd(g) = lower_bound(bounds, lower edge of cell g); bnd(G) pinned to n
    * unconditionally (fp rounding of the top edge must never cut the last
    * bracket short). */
  val bnd: Array[Int] = BucketizeGrid.cellLowerBounds(bounds, lo0, hi0, G)

  /** The cell of a v in [lo0, hi0] when `gridOk`; its bracket runs from
    * [[bracketLo]] until [[bracketHi]]: bounds below it are < v, bounds
    * from its end on are > v. Three small methods, not one packed result,
    * so the scalar searches inline them to the instructions of
    * written-out code. */
  private def cellOf(v: Double): Int = {
    val gi = ((v - lo0) * inv).toInt
    if (gi < 0) 0 else if (gi > G - 1) G - 1 else gi
  }
  private def bracketLo(gi: Int): Int = bnd(if (gi == 0) 0 else gi - 1)
  private def bracketHi(gi: Int): Int = bnd(if (gi + 2 > G) G else gi + 2)

  /** The bracket [lo, hi) for any v, packed as lo << 32 | hi so the
    * per-row loops allocate nothing: empty at 0 below lo0, empty at n above
    * hi0, and the whole range for NaN, which orders against no bound, or
    * when the grid is off. A search whose first comparison is on v — the
    * composite-key search, whose first field is v — equals its full-range
    * result when started on this bracket. */
  def bracket(v: Double): Long =
    if (v != v) n.toLong
    else if (v < lo0) 0L
    else if (v > hi0) (n.toLong << 32) | n
    else if (!gridOk) n.toLong
    else { val gi = cellOf(v); (bracketLo(gi).toLong << 32) | bracketHi(gi) }

  /** v's entry in a [[candidateMask]]: 0 for NaN, 1 for every other value
    * when the grid is off, else 1 + v's cell (values outside [lo0, hi0]
    * take the end cells, whose brackets reach buckets 0 and n). */
  def maskCell(v: Double): Int = if (v != v) 0 else if (!gridOk) 1 else 1 + cellOf(v)

  /** Which values a gather must search, decided before any comparison.
    * `slot(b) >= 0` marks bucket b (0..n) as needed. Entry 1 + gi is true
    * iff a needed bucket lies in cell gi's widened bracket, ends included:
    * a search started on that bracket, a plain lower_bound or a
    * composite-key search whose first field is v, ends inside it, so a
    * value whose entry is false never lands in a needed bucket. Entry 0,
    * NaN's, is true iff bucket n is needed ([[BucketizeGrid.search]] sends
    * NaN there). A grid that is off has one cell, always true. */
  def candidateMask(slot: Array[Int]): Array[Boolean] = {
    require(slot.length == n + 1, s"candidateMask: ${slot.length} slots for ${n + 1} buckets")
    // before(b) = the number of needed buckets below b
    val before = new Array[Int](n + 2)
    var b = 0
    while (b <= n) { before(b + 1) = before(b) + (if (slot(b) >= 0) 1 else 0); b += 1 }
    val mask = new Array[Boolean](if (gridOk) G + 1 else 2)
    mask(0) = slot(n) >= 0
    if (!gridOk) mask(1) = true
    else {
      var gi = 0
      while (gi < G) { mask(1 + gi) = before(bracketHi(gi) + 1) > before(bracketLo(gi)); gi += 1 }
    }
    mask
  }

  private def writeReplace(): AnyRef = new BucketizeGrid.Bounds(bounds)
}

object BucketizeGrid {
  /** A grid's serialized form: its bounds; reading it builds the grid. */
  @SerialVersionUID(1L)
  private final class Bounds(bounds: Array[Double]) extends Serializable {
    private def readResolve(): AnyRef = new BucketizeGrid(bounds)
  }

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
      if (g.gridOk) { val gi = g.cellOf(v); lo = g.bracketLo(gi); hi = g.bracketHi(gi) }
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
      if (g.gridOk) { val gi = g.cellOf(v); lo = g.bracketLo(gi); hi = g.bracketHi(gi) }
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
