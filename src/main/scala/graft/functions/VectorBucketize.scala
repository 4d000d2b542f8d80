package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** `count(t in thresholds : t <= key)` where `key` is the row's composite
  * sort key (m double children, e.g. value + tiebreak columns) and
  * `thresholds` is a constant, lexicographically-ascending T x m matrix —
  * binary search, O(log T · m) per row, codegen'd, zero shuffle.
  *
  * This is [[BucketizeExpr]] lifted to composite keys: it turns any
  * "position in the global (value, tiebreak…) sort order" question into a
  * map-only expression once the T boundary rows are known. Used by the
  * selection-based rank tokenizer, where thresholds are the first rows of
  * NTILE buckets 1..bins-1: the count of boundary rows at-or-below a key IS
  * the key's NTILE token (keys are unique — the tiebreak is a total order).
  *
  * Null in any child -> null. NaN in a key field is a PRECONDITION
  * violation, rejected LOUDLY upstream: the lexicographic compare treats
  * NaN as tying every threshold (IEEE `<`/`>` both false), which is not an
  * order, so Tokenize.tokenizeRankSelect's pass-1 histogram counts NaN sort
  * fields and aborts before this expression ever sees one (the scalar
  * paths define NaN-last instead — see Tokenize's NaN policy — but a
  * composite key has no single "last": NaN in a middle field would make
  * ordering non-transitive).
  */
case class VectorBucketizeExpr(children: Seq[Expression], thresholds: Array[Double])
    extends Expression {

  private val m = children.size
  require(m > 0 && thresholds.length % m == 0,
    s"flat threshold matrix length ${thresholds.length} not a multiple of key width $m")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_vbucketize"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.forall(_.dataType == DoubleType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_vbucketize needs double children, got ${children.map(_.dataType)}")
  }

  override def eval(input: InternalRow): Any = {
    val key = new Array[Double](m)
    var i = 0
    while (i < m) {
      val v = children(i).eval(input)
      if (v == null) return null
      key(i) = v.asInstanceOf[Double]
      i += 1
    }
    VectorBucketizeExpr.search(thresholds, m, key)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val thr = ctx.addReferenceObj("thr", thresholds, "double[]")
    val childGens = children.map(_.genCode(ctx))
    val anyNull =
      if (nullable) childGens.map(_.isNull).mkString(" || ") else "false"
    val childCode = childGens.map(_.code).reduce(_ + _)
    val lo = ctx.freshName("lo")
    val hi = ctx.freshName("hi")
    val mid = ctx.freshName("mid")
    val off = ctx.freshName("off")
    val cmp = ctx.freshName("cmp")
    val tv = ctx.freshName("tv")
    // unrolled lexicographic compare: early exit on the first differing
    // field (almost always field 0, the value), zero allocation per row
    val fieldCmps = childGens.zipWithIndex.map { case (g, f) =>
      val guard = if (f == 0) "" else s"if ($cmp == 0) "
      s"""$guard{ double $tv = $thr[$off + $f];
         |  if ($tv < ${g.value}) $cmp = -1; else if ($tv > ${g.value}) $cmp = 1; }""".stripMargin
    }.mkString("\n")
    val resultCode =
      code"""
        |$childCode
        |boolean ${ev.isNull} = $anyNull;
        |int ${ev.value} = -1;
        |if (!${ev.isNull}) {
        |  int $lo = 0;
        |  int $hi = ${thresholds.length / m};
        |  while ($lo < $hi) {
        |    int $mid = ($lo + $hi) >>> 1;
        |    int $off = $mid * $m;
        |    int $cmp = 0;
        |    $fieldCmps
        |    if ($cmp <= 0) { $lo = $mid + 1; } else { $hi = $mid; }
        |  }
        |  ${ev.value} = $lo;
        |}
       """.stripMargin
    ev.copy(code = resultCode)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object VectorBucketizeExpr {

  /** Count of threshold vectors lexicographically <= `key`. `thr` is the
    * row-major flat T x m matrix, rows ascending. */
  def search(thr: Array[Double], m: Int, key: Array[Double]): Int = {
    var lo = 0
    var hi = thr.length / m
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      var f = 0
      var cmp = 0
      while (cmp == 0 && f < m) {
        val t = thr(mid * m + f)
        val k = key(f)
        if (t < k) cmp = -1 else if (t > k) cmp = 1 else f += 1
      }
      if (cmp <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** InternalRow-based variant for aggregation passes over
    * `queryExecution.toRdd`: the key is read straight out of the unsafe row
    * via a field-index permutation — primitive reads, zero allocation. */
  def searchRow(thr: Array[Double], m: Int, row: InternalRow,
                idx: Array[Int]): Int =
    searchRowIn(thr, m, row, idx, 0, thr.length / m)

  /** [[searchRow]] restricted to a caller-proved bracket [lo0, hi0) — the
    * [[CompositeGridIndex]] fast path for the rank tokenizer's two
    * aggregation passes (round 11; same idea as [[BucketizeGrid]]): the
    * grid brackets by the FIRST key field, this finishes the lexicographic
    * search inside the bracket. Exactly equal to the full-range search for
    * any bracket containing the answer (property-pinned). */
  def searchRowIn(thr: Array[Double], m: Int, row: InternalRow,
                  idx: Array[Int], lo0: Int, hi0: Int): Int = {
    var lo = lo0
    var hi = hi0
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      var f = 0
      var cmp = 0
      while (cmp == 0 && f < m) {
        val t = thr(mid * m + f)
        val k = row.getDouble(idx(f))
        if (t < k) cmp = -1 else if (t > k) cmp = 1 else f += 1
      }
      if (cmp <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Grid bracket for [[searchRowIn]] over a lexicographically-ascending
    * flat T×m threshold matrix (round 11, the scalar [[BucketizeGrid]] lifted
    * to composite keys): first components are non-decreasing, so a uniform
    * grid over [first(0), first(T-1)] with per-cell lower_bound brackets
    * confines the lex search for any key to the cells its FIRST field can
    * land in (±1 cell so fp rounding at a cell edge never excludes the
    * answer; bnd(G) pinned to T unconditionally — the same two edge rules
    * the scalar BucketizeGrid carries). For a
    * continuous first field the bracket is a couple of entries; for a
    * low-cardinality first field it is that value's tie run — the lex
    * search then starts where the field-0 probes would have ended.
    * Degenerate spans (inv non-finite) fall back to the full range, and
    * so does a NaN first field (round-11 advisor item: the range tests
    * `v0 < lo0` / `v0 > hi0` are both false for NaN, so without the
    * guard the grid would hand back an arbitrary interior bracket that
    * disagrees with the full-range search — unreachable from
    * tokenizeRankSelect, whose pass 1 rejects NaN, but this class is
    * package-public). */
  final class CompositeGridIndex(flat: Array[Double], m: Int) extends Serializable {
    private val t = flat.length / m
    private val lo0 = if (t > 0) flat(0) else 0.0
    private val hi0 = if (t > 0) flat((t - 1) * m) else 0.0
    private val G = math.max(1, math.min(1 << 16, 4 * t))
    private val inv = if (t > 0 && hi0 > lo0) G / (hi0 - lo0) else 0.0
    // grid only when a cell is >= 1 ulp wide: below that a cell edge's
    // 0.5-ulp fp rounding spans multiple cells and the ±1-cell margin can
    // exclude the true index (caught by the round-11 property test on
    // ulp-adjacent firsts; same rule as BucketizeGrid)
    private val gridOk = java.lang.Double.isFinite(inv) && inv > 0.0 &&
      (hi0 - lo0) / G >= math.ulp(math.max(math.abs(lo0), math.abs(hi0)))
    private def lbFirst(v: Double): Int = {
      var lo = 0
      var hi = t
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (flat(mid * m) < v) lo = mid + 1 else hi = mid
      }
      lo
    }
    private val bnd: Array[Int] = {
      val b = new Array[Int](G + 1)
      var g = 0
      while (g < G) { b(g) = lbFirst(lo0 + g * (hi0 - lo0) / G); g += 1 }
      b(G) = t
      b
    }
    /** Bracket [lo, hi) for a key whose first field is v0, packed as
      * (lo << 32 | hi) — no allocation in the per-row hot loop. Every
      * threshold row below lo is lex <= the key, every row at/above hi is
      * lex > it, so searchRowIn(lo, hi) equals the full-range search. */
    def bracket(v0: Double): Long = {
      if (t == 0) return 0L
      if (v0 != v0) return t.toLong // NaN: full range (0, t)
      if (v0 < lo0) return 0L // all rows have first >= lo0 > v0
      if (v0 > hi0) return (t.toLong << 32) | t.toLong // all rows lex < key
      if (!gridOk) return t.toLong // (0, t)
      var gi = ((v0 - lo0) * inv).toInt
      if (gi < 0) gi = 0 else if (gi > G - 1) gi = G - 1
      val lo = bnd(if (gi == 0) 0 else gi - 1)
      val hi = bnd(if (gi + 2 > G) G else gi + 2)
      (lo.toLong << 32) | hi.toLong
    }
  }

  /** Column-level API: key children (cast to double upstream) against a
    * T x m threshold matrix given as row vectors. */
  def vbucketize(keyCols: Seq[Column], thresholds: Seq[Array[Double]]): Column = {
    val m = keyCols.size
    require(thresholds.forall(_.length == m), "threshold width != key width")
    val flat = new Array[Double](thresholds.length * m)
    thresholds.zipWithIndex.foreach { case (t, i) =>
      System.arraycopy(t, 0, flat, i * m, m)
    }
    Bridge.column(VectorBucketizeExpr(keyCols.map(Bridge.expression), flat))
  }
}
