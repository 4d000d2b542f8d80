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
  * order, so Tokenize.tokenizeRankSelect's first job counts the null and
  * NaN sort fields over the full data, and the call fails before any
  * search, here or in its own passes ([[VectorBucketizeExpr.searchColumnsIn]]),
  * sees one (the scalar paths define NaN-last instead — see Tokenize's
  * NaN policy — but a composite key has no single "last": NaN in a middle
  * field would make ordering non-transitive).
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

  /** [[search]] of row `r` of a decoded batch, one row-aligned `double[]`
    * per field: key field f is `fields(idx(f))(r)`, read with no
    * allocation. The search is restricted to a caller-proved bracket
    * [lo0, hi0): the rank tokenizer's passes take it from a
    * [[BucketizeGrid.bracket]] over the threshold rows' first fields, and
    * this finishes the lexicographic search inside it; (0, T) is the
    * full-range search. Exactly equal to the full-range search for any
    * bracket containing the answer (property-pinned). */
  def searchColumnsIn(thr: Array[Double], m: Int, fields: Array[Array[Double]],
                      idx: Array[Int], r: Int, lo0: Int, hi0: Int): Int = {
    var lo = lo0
    var hi = hi0
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      var f = 0
      var cmp = 0
      while (cmp == 0 && f < m) {
        val t = thr(mid * m + f)
        val k = fields(idx(f))(r)
        if (t < k) cmp = -1 else if (t > k) cmp = 1 else f += 1
      }
      if (cmp <= 0) lo = mid + 1 else hi = mid
    }
    lo
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
