package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Decimals.dsum

/** Differential fuzz harness against the DuckDB oracle (round-18 verdict
  * item 2). The 140+ contract queries are hand-written; this is the
  * correctness multiplier beyond them: a SEED-PINNED generator composes
  * random queries from a small grammar over the REAL fixture schemas —
  * scan/join source, predicate tree, projection with computed columns OR
  * grouped aggregation, deterministic total-order sort — and renders each
  * AST twice: once as the DataFrame plan the engine executes, once as
  * DuckDB SQL in the same oracle_sql.json format `Verify` emits, so
  * `tools/oracle_check.py` hash-compares cell-by-cell with zero new
  * comparison code.
  *
  * Reference tie (SURVEY §2A fine print): the reference's own blind spot
  * is that its three discretize variants disagree on boundary semantics
  * and it never cross-checks them; systematic cross-engine checking is
  * this engine's thesis, and fuzzing extends it from hand-picked to
  * adversarial query shapes.
  *
  * Determinism rules (the same conventions the hand-written oracles pin,
  * FIXTURES.md §3):
  *  - money sums/avgs decimal-accumulate then cast double ONCE — exact
  *    and associative on both engines; integral-double sums (quantity,
  *    size, keys) stay native double (exact); min/max/count are exact;
  *  - every query ends ORDER BY all output columns — rows identical
  *    under the full projection are interchangeable, everything else is
  *    totally ordered; Spark ASC = NULLS FIRST, so the SQL renders the
  *    explicit `NULLS FIRST`/`DESC NULLS LAST`;
  *  - predicate literals come from per-column pools drawn from the real
  *    value domains, so filters neither degenerate to empty nor pass
  *    everything;
  *  - no floating literal arithmetic whose decimal→double parse could
  *    differ: pools hold 2-decimal values, both parsers round-trip them
  *    to identical doubles.
  *
  * Usage: `tools/run.sh graft.Fuzz <sfDir> <outDir> [n] [seed]`, then
  * `python3 tools/oracle_check.py <outDir> <sfDir>`. A found mismatch =
  * minimize by re-running the single index (`[n]` start offset via seed
  * arithmetic is stable: query i depends only on (seed, i)), then pin the
  * minimized query as a contract regression entry.
  */
object Fuzz {

  // ------------------------------------------------------------ schema

  sealed trait Kind
  case object Money extends Kind    // 2-decimal double: sums via decimal
  case object NumD extends Kind     // double-typed integral values: native sums
  case object IntK extends Kind     // integer-typed: DuckDB sums need a BIGINT cast
  case object Str extends Kind
  case object Ts extends Kind

  /** Column with its literal pool (values that split the real domain). */
  final case class Col(name: String, kind: Kind, pool: Seq[String])

  final case class Tbl(name: String, cols: Seq[Col], unique: Seq[String])

  private def s(vs: String*): Seq[String] = vs.map(v => s"'$v'")

  val lineitem: Tbl = Tbl("lineitem", Seq(
    Col("l_orderkey", IntK, Seq("1000", "5000", "10000")),
    Col("l_partkey", IntK, Seq("200", "1000", "1800")),
    Col("l_suppkey", IntK, Seq("20", "50", "80")),
    Col("l_linenumber", IntK, Seq("2", "4", "6")),
    Col("l_quantity", NumD, Seq("5", "13", "25", "40", "48")),
    Col("l_extendedprice", Money, Seq("5000.0", "20000.0", "45000.0", "70000.0")),
    Col("l_discount", Money, Seq("0.02", "0.04", "0.06", "0.08")),
    Col("l_tax", Money, Seq("0.01", "0.03", "0.05", "0.07")),
    Col("l_returnflag", Str, s("A", "N", "R")),
    Col("l_linestatus", Str, s("O", "F")),
    Col("l_shipdate", Ts, s("1995-09-01 00:00:00", "1996-06-01 00:00:00",
      "1997-03-01 00:00:00", "1998-01-01 00:00:00", "1999-06-01 00:00:00"))),
    unique = Seq("l_orderkey", "l_linenumber"))

  val orders: Tbl = Tbl("orders", Seq(
    Col("o_orderkey", IntK, Seq("1000", "5000", "10000")),
    Col("o_custkey", IntK, Seq("300", "750", "1200")),
    Col("o_orderstatus", Str, s("O", "F", "P")),
    Col("o_totalprice", Money, Seq("40000.0", "120000.0", "250000.0")),
    Col("o_orderdate", Ts, s("1995-09-01 00:00:00", "1996-06-01 00:00:00",
      "1997-03-01 00:00:00", "1998-01-01 00:00:00")),
    Col("o_orderpriority", Str,
      s("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))),
    unique = Seq("o_orderkey"))

  val customer: Tbl = Tbl("customer", Seq(
    Col("c_custkey", IntK, Seq("300", "750", "1200")),
    Col("c_nationkey", IntK, Seq("5", "12", "19")),
    Col("c_acctbal", Money, Seq("-200.0", "1500.0", "4800.0", "8200.0")),
    Col("c_mktsegment", Str,
      s("MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"))),
    unique = Seq("c_custkey"))

  val part: Tbl = Tbl("part", Seq(
    Col("p_partkey", IntK, Seq("200", "1000", "1800")),
    Col("p_brand", Str, s("Brand#3", "Brand#8", "Brand#14", "Brand#21")),
    Col("p_type", Str, s("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
    Col("p_size", IntK, Seq("8", "17", "29", "41")),
    Col("p_retailprice", Money, Seq("400.0", "1100.0", "1700.0"))),
    unique = Seq("p_partkey"))

  val supplier: Tbl = Tbl("supplier", Seq(
    Col("s_suppkey", IntK, Seq("20", "50", "80")),
    Col("s_nationkey", IntK, Seq("5", "12", "19")),
    Col("s_acctbal", Money, Seq("-100.0", "2000.0", "6500.0"))),
    unique = Seq("s_suppkey"))

  val nation: Tbl = Tbl("nation", Seq(
    Col("n_nationkey", IntK, Seq("5", "12", "19")),
    Col("n_name", Str, s("NATION_2", "NATION_9", "NATION_17")),
    Col("n_regionkey", IntK, Seq("1", "2", "3"))),
    unique = Seq("n_nationkey"))

  /** 3-table FK compositions: (a, b, k1l, k1r, c, k2l, k2r) — three
    * chains plus one star (part and supplier both off lineitem). */
  val chains: Seq[(Tbl, Tbl, String, String, Tbl, String, String)] = Seq(
    (lineitem, orders, "l_orderkey", "o_orderkey", customer, "o_custkey", "c_custkey"),
    (lineitem, supplier, "l_suppkey", "s_suppkey", nation, "s_nationkey", "n_nationkey"),
    (orders, customer, "o_custkey", "c_custkey", nation, "c_nationkey", "n_nationkey"),
    (lineitem, part, "l_partkey", "p_partkey", supplier, "l_suppkey", "s_suppkey"))

  /** FK joins: (left, right, leftKey, rightKey). */
  val joins: Seq[(Tbl, Tbl, String, String)] = Seq(
    (lineitem, orders, "l_orderkey", "o_orderkey"),
    (lineitem, part, "l_partkey", "p_partkey"),
    (lineitem, supplier, "l_suppkey", "s_suppkey"),
    (orders, customer, "o_custkey", "c_custkey"),
    (customer, nation, "c_nationkey", "n_nationkey"),
    (supplier, nation, "s_nationkey", "n_nationkey"))

  // ------------------------------------------------------------ AST

  /** Both renderings of one expression; `kind` drives aggregate choice. */
  final case class Ex(spark: Column, sql: String, kind: Kind)

  /** One generated query: the executable plan and its oracle SQL. */
  final case class Gen(df: DataFrame, sql: String)

  // ------------------------------------------------------------ generator

  /** SplitMix64 finalizer: java.util.Random's own seed scramble (one
    * xor + mask) leaves the FIRST draw almost a function of the seed's
    * high bits, which a grammar keyed on sequential seeds
    * (seed*1000003 + i) hits head-on — a branch-distribution audit of
    * the early sweeps found seed=7 choosing the join source in 500/500
    * queries and seed=314 the single-table source in 466/500, i.e. each
    * sweep silently skipped whole grammar regions. Mixing the seed
    * through SplitMix64 (the avalanche finalizer java.util.SplittableRandom
    * uses) decorrelates the first draws; per-sweep branch counts now sit
    * at their nominal probabilities. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic per (seed, index): each query gets its own PRNG. */
  final class Rng(seed: Long) {
    private val r = new java.util.Random(mix64(seed))
    def int(n: Int): Int = r.nextInt(n)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def bool(p: Double): Boolean = r.nextDouble() < p
    def shuffle[A](xs: Seq[A]): Seq[A] = {
      val a = scala.collection.mutable.ArrayBuffer(xs: _*)
      var i = a.length
      while (i > 1) { val j = r.nextInt(i); i -= 1; val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
  }

  /** Source relation: table or one FK join (inner/left/semi/anti). After a
    * semi/anti join only LEFT columns survive; a left outer join makes the
    * right side NULLABLE (tracked for the oracle's null-ordering and so
    * computed columns stay null-safe on both engines). */
  private def genSource(rng: Rng, spark: SparkSession, dir: String)
      : (DataFrame, String, Seq[Col], Seq[String]) = {
    def load(t: Tbl): DataFrame = Tables(spark, dir, t.name)
    if (rng.bool(0.35)) {
      val t = rng.pick(Seq(lineitem, orders, customer, part, supplier, nation))
      (load(t), t.name, t.cols, t.unique)
    } else if (rng.bool(0.25)) {
      // 3-table FK composition (chain or star off one fact), inner only —
      // the join-ORDER surface a single join cannot stress; both engines
      // see the same left-deep ON text, Catalyst is free to reorder
      val (a, b, k1l, k1r, c3, k2l, k2r) = rng.pick(chains)
      val df = load(a).join(load(b), col(k1l) === col(k1r))
        .join(load(c3), col(k2l) === col(k2r))
      val cols = a.cols ++ b.cols.filterNot(_.name == k1r) ++
        c3.cols.filterNot(_.name == k2r)
      (df, s"${a.name} JOIN ${b.name} ON $k1l = $k1r " +
        s"JOIN ${c3.name} ON $k2l = $k2r", cols, a.unique)
    } else {
      val (lt, rt, lk, rk) = rng.pick(joins)
      val how = rng.pick(Seq("inner", "inner", "left", "left_semi", "left_anti"))
      val df = load(lt).join(load(rt), col(lk) === col(rk), how)
      val (cols, unique) = how match {
        case "left_semi" | "left_anti" => (lt.cols, lt.unique)
        case _ =>
          // drop the duplicated FK target from the visible column set; on
          // a left join the right side is nullable but pools/preds are
          // null-safe (comparisons yield NULL → filtered, aggs skip nulls)
          (lt.cols ++ rt.cols.filterNot(_.name == rk),
            lt.unique ++ (if (how == "left") Nil else rt.unique.filterNot(_ == rk)))
      }
      val sqlHow = how match {
        case "inner" => s"${lt.name} JOIN ${rt.name} ON $lk = $rk"
        case "left"  => s"${lt.name} LEFT JOIN ${rt.name} ON $lk = $rk"
        case "left_semi" =>
          s"${lt.name} WHERE EXISTS (SELECT 1 FROM ${rt.name} WHERE $lk = $rk)"
        case "left_anti" =>
          s"${lt.name} WHERE NOT EXISTS (SELECT 1 FROM ${rt.name} WHERE $lk = $rk)"
      }
      (df, sqlHow, cols, unique)
    }
  }

  /** Predicate tree over the visible columns: leaf comparisons / IN /
    * BETWEEN composed with AND/OR/NOT. Literal pools guarantee selectivity
    * is neither 0 nor 1 in the common case (both extremes still legal). */
  private def genPred(rng: Rng, cols: Seq[Col], depth: Int): (Column, String) = {
    if (depth > 0 && rng.bool(0.4)) {
      val (a, as) = genPred(rng, cols, depth - 1)
      val (b, bs) = genPred(rng, cols, depth - 1)
      if (rng.bool(0.5)) (a && b, s"($as AND $bs)") else (a || b, s"($as OR $bs)")
    } else if (depth > 0 && rng.bool(0.12)) {
      val (a, as) = genPred(rng, cols, depth - 1)
      (!a, s"(NOT $as)")
    } else {
      val c = rng.pick(cols)
      def lit0: String = rng.pick(c.pool)
      def sqlLit(l: String): String = c.kind match {
        case Ts => s"TIMESTAMP $l"
        case _ => l
      }
      def sparkLit(l: String): Column = c.kind match {
        case Ts => to_timestamp(lit(l.stripPrefix("'").stripSuffix("'")))
        case Str => lit(l.stripPrefix("'").stripSuffix("'"))
        case _ => lit(l.toDouble)
      }
      rng.int(if (c.kind == Str) 4 else 6) match {
        case 0 => val l = lit0; (col(c.name) === sparkLit(l), s"${c.name} = ${sqlLit(l)}")
        case 1 => val l = lit0; (col(c.name) =!= sparkLit(l), s"${c.name} <> ${sqlLit(l)}")
        case 2 =>
          // IN as an OR-chain of equalities on the Spark side: identical
          // three-valued-logic semantics under a filter, and it reuses the
          // literal rendering the other leaves already align
          val ls = rng.shuffle(c.pool).take(1 + rng.int(2))
          (ls.map(l => col(c.name) === sparkLit(l)).reduce(_ || _),
            s"${c.name} IN (${ls.map(sqlLit).mkString(", ")})")
        case 3 => val l = lit0; (col(c.name) < sparkLit(l), s"${c.name} < ${sqlLit(l)}")
        case 4 => val l = lit0; (col(c.name) >= sparkLit(l), s"${c.name} >= ${sqlLit(l)}")
        case _ =>
          // numeric pools order by value; quoted ISO timestamps order
          // lexicographically (same prefix/width — fz_0464's toDouble
          // crash on a Ts pool caught this)
          val both0 = rng.shuffle(c.pool).take(2)
          val both = if (c.kind == Ts) both0.sorted else both0.sortBy(_.toDouble)
          val (lo, hi) = (both.head, both.last)
          (col(c.name) >= sparkLit(lo) && col(c.name) <= sparkLit(hi),
            s"(${c.name} >= ${sqlLit(lo)} AND ${c.name} <= ${sqlLit(hi)})")
      }
    }
  }

  /** Computed projection column (beyond raw columns): arithmetic over
    * numerics, CASE WHEN, string length/upper — each with the identical
    * evaluation order on both engines. */
  private def genComputed(rng: Rng, cols: Seq[Col], idx: Int): Option[(Ex, String)] = {
    val nums = cols.filter(c => c.kind == Money || c.kind == NumD || c.kind == IntK)
    val strs = cols.filter(_.kind == Str)
    val name = s"e$idx"
    rng.int(4) match {
      case 0 if nums.size >= 2 =>
        val Seq(a, b) = rng.shuffle(nums).take(2)
        Some((Ex(col(a.name) + col(b.name), s"${a.name} + ${b.name}", Money), name))
      case 1 if nums.nonEmpty =>
        // the SQL side must cast the literal: DuckDB's bare 2.0 is
        // DECIMAL(2,1) and BIGINT * DECIMAL stays DECIMAL (dtype
        // mismatch vs Spark's double); scaling by 2.0/0.5 is exact,
        // 10.0 is one deterministic double product on both engines
        val a = rng.pick(nums)
        val k = rng.pick(Seq("2.0", "0.5", "10.0"))
        Some((Ex(col(a.name) * lit(k.toDouble),
          s"${a.name} * CAST($k AS DOUBLE)", Money), name))
      case 2 if nums.nonEmpty =>
        val a = rng.pick(nums)
        val l = rng.pick(a.pool)
        Some((Ex(when(col(a.name) > lit(l.toDouble), lit(1)).otherwise(lit(0)),
          s"CASE WHEN ${a.name} > $l THEN 1 ELSE 0 END", IntK), name))
      case 3 if strs.nonEmpty =>
        val a = rng.pick(strs)
        if (rng.bool(0.5))
          Some((Ex(length(col(a.name)).cast("int"),
            s"CAST(length(${a.name}) AS INTEGER)", IntK), name))
        else
          Some((Ex(upper(col(a.name)), s"upper(${a.name})", Str), name))
      case _ => None
    }
  }

  /** Aggregate over a column. Type alignment per kind: money
    * decimal-accumulates (exact) then casts double once; double-typed
    * integral values sum natively (exact — both engines' DOUBLE);
    * integer-typed sums need `CAST(SUM(x) AS BIGINT)` on the oracle side
    * (DuckDB widens to HUGEINT, whose pandas dtype would mismatch Spark's
    * int64); averages divide as doubles on both engines. */
  private def genAgg(rng: Rng, cols: Seq[Col], idx: Int): (Column, String, String) = {
    val name = s"a$idx"
    val nums = cols.filter(c => c.kind == Money || c.kind == NumD || c.kind == IntK)
    val any = cols
    rng.int(6) match {
      case 0 => (count(lit(1)).as(name), "CAST(COUNT(*) AS BIGINT)", name)
      case 1 =>
        val c = rng.pick(any)
        (countDistinct(col(c.name)).as(name), s"CAST(COUNT(DISTINCT ${c.name}) AS BIGINT)", name)
      case 2 =>
        val c = rng.pick(any)
        (min(col(c.name)).as(name), s"MIN(${c.name})", name)
      case 3 =>
        val c = rng.pick(any)
        (max(col(c.name)).as(name), s"MAX(${c.name})", name)
      case 4 if nums.nonEmpty =>
        val c = rng.pick(nums)
        c.kind match {
          case Money =>
            (dsum(col(c.name)).as(name),
              s"CAST(SUM(CAST(${c.name} AS DECIMAL(38,6))) AS DOUBLE)", name)
          case IntK =>
            (sum(col(c.name)).as(name), s"CAST(SUM(${c.name}) AS BIGINT)", name)
          case _ =>
            (sum(col(c.name)).as(name), s"SUM(${c.name})", name)
        }
      case _ =>
        val c = rng.pick(if (nums.nonEmpty) nums else any)
        c.kind match {
          case Money =>
            ((dsum(col(c.name)) / count(col(c.name))).as(name),
              s"CAST(SUM(CAST(${c.name} AS DECIMAL(38,6))) AS DOUBLE) / COUNT(${c.name})", name)
          case NumD =>
            ((sum(col(c.name)) / count(col(c.name))).as(name),
              s"SUM(${c.name}) / COUNT(${c.name})", name)
          case IntK =>
            ((sum(col(c.name)).cast("double") / count(col(c.name))).as(name),
              s"CAST(SUM(${c.name}) AS DOUBLE) / COUNT(${c.name})", name)
          case _ =>
            (count(col(c.name)).as(name), s"CAST(COUNT(${c.name}) AS BIGINT)", name)
        }
    }
  }

  /** Window column over a low-cardinality partition, ordered by EVERY
    * visible column (total modulo fully-identical rows — see the sort
    * rationale in the projection branch). row_number among identical rows
    * is arbitrary but lands on indistinguishable rows; rank/dense_rank tie
    * them identically; running sums use RANGE ... CURRENT ROW (both
    * engines' default with ORDER BY), so tied rows share one frame and
    * money stays decimal-exact; lag crosses identical neighbors with
    * identical values. Returns (spark column, sql expr, name). */
  private def genWin(rng: Rng, cols: Seq[Col]): Option[(Column, String, String)] = {
    val lowCard = cols.filter(c => c.kind == Str ||
      c.name.endsWith("nationkey") || c.name.endsWith("regionkey"))
    if (lowCard.isEmpty) return None
    val p = rng.pick(lowCard)
    val ord = cols.map(_.name)
    val w = Window.partitionBy(col(p.name)).orderBy(ord.map(col(_).asc): _*)
    val over =
      s"OVER (PARTITION BY ${p.name} ORDER BY ${ord.map(c => s"$c ASC NULLS FIRST").mkString(", ")})"
    val nums = cols.filter(c => c.kind == Money || c.kind == NumD || c.kind == IntK)
    rng.int(5) match {
      case 0 => Some((row_number().over(w), s"CAST(ROW_NUMBER() $over AS INTEGER)", "w0"))
      case 1 => Some((rank().over(w), s"CAST(RANK() $over AS INTEGER)", "w0"))
      case 2 => Some((dense_rank().over(w), s"CAST(DENSE_RANK() $over AS INTEGER)", "w0"))
      case 3 if nums.nonEmpty =>
        val c = rng.pick(nums)
        c.kind match {
          case Money => Some((sum(col(c.name).cast(DecimalType(38, 6))).over(w).cast("double"),
            s"CAST(SUM(CAST(${c.name} AS DECIMAL(38,6))) $over AS DOUBLE)", "w0"))
          case IntK => Some((sum(col(c.name)).over(w),
            s"CAST(SUM(${c.name}) $over AS BIGINT)", "w0"))
          case _ => Some((sum(col(c.name)).over(w), s"SUM(${c.name}) $over", "w0"))
        }
      case _ =>
        val c = rng.pick(cols)
        Some((lag(col(c.name), 1).over(w), s"LAG(${c.name}, 1) $over", "w0"))
    }
  }

  /** Generate query #i for `seed`: the pair (DataFrame, oracle SQL). */
  def gen(spark: SparkSession, dir: String, seed: Long, i: Int): Gen = {
    val rng = new Rng(seed * 1000003L + i)
    val (src0, fromSql, cols, unique) = genSource(rng, spark, dir)

    // WHERE
    val (df1, whereSql) =
      if (rng.bool(0.8)) {
        val (p, ps) = genPred(rng, cols, 2)
        (src0.filter(p), Some(ps))
      } else (src0, None)
    val whereJoin = if (fromSql.contains(" WHERE ")) " AND " else " WHERE "

    if (rng.bool(0.45)) {
      // ---- grouped aggregation (optionally HAVING-filtered)
      val lowCard = cols.filter(c => c.kind == Str ||
        c.name.endsWith("nationkey") || c.name.endsWith("regionkey") ||
        c.name == "l_linenumber" || c.name == "p_size")
      val keys = rng.shuffle(if (lowCard.nonEmpty) lowCard else cols.take(1))
        .take(1 + rng.int(2)).map(_.name).distinct
      val nAgg = 1 + rng.int(3)
      val aggs0 = (0 until nAgg).map(j => genAgg(rng, cols, j))
      // HAVING on a PROJECTED COUNT(*): integer-exact on both engines (no
      // double knife edge), and keeping h0 in the output means the compare
      // also checks the value the predicate gated on
      val havingK = if (rng.bool(0.3)) Some(1 + rng.int(5)) else None
      val aggs = aggs0 ++ havingK.map(_ =>
        (count(lit(1)).as("h0"), "CAST(COUNT(*) AS BIGINT)", "h0"))
      val grouped = df1.groupBy(keys.map(col): _*)
        .agg(aggs.head._1, aggs.tail.map(_._1): _*)
      val out = havingK.fold(grouped)(k => grouped.where(col("h0") > k))
        .orderBy(keys.map(k => col(k).asc): _*)
      val selSql = (keys ++ aggs.map(a => s"${a._2} AS ${a._3}")).mkString(", ")
      val sql =
        s"""SELECT $selSql FROM $fromSql${whereSql.map(w => whereJoin + w).getOrElse("")}
           |GROUP BY ${keys.mkString(", ")}${havingK.map(k => s"\nHAVING COUNT(*) > $k").getOrElse("")}
           |ORDER BY ${keys.map(k => s"$k ASC NULLS FIRST").mkString(", ")}""".stripMargin
      Gen(out, sql)
    } else if (rng.bool(0.22)) {
      // ---- set operation: two predicates over the SAME source, all
      // columns projected (ANSI: after a set op, ORDER BY may reference
      // only OUTPUT columns — so the projection must carry every sort
      // column). UNION ALL keeps duplicates (full-row sort makes
      // survivors interchangeable); EXCEPT/INTERSECT are DISTINCT
      // semantics on both engines (NULLs compare equal there, and the
      // distinct output makes the full-row sort a true total order).
      // df1/whereSql are intentionally unused here: each side draws its
      // own predicate over the raw source.
      val (p1, s1) = genPred(rng, cols, 2)
      val (p2, s2) = genPred(rng, cols, 2)
      val all = cols.map(_.name)
      val side1 = src0.filter(p1).select(all.map(col): _*)
      val side2 = src0.filter(p2).select(all.map(col): _*)
      val (combined, opSql) = rng.int(3) match {
        case 0 => (side1.union(side2), "UNION ALL")
        case 1 => (side1.except(side2), "EXCEPT")
        case _ => (side1.intersect(side2), "INTERSECT")
      }
      val out = combined.orderBy(all.map(k => col(k).asc): _*)
      val sideSql = (p: String) =>
        s"SELECT ${all.mkString(", ")} FROM $fromSql$whereJoin$p"
      val sql =
        s"""${sideSql(s1)} $opSql ${sideSql(s2)}
           |ORDER BY ${all.map(k => s"$k ASC NULLS FIRST").mkString(", ")}""".stripMargin
      Gen(out, sql)
    } else {
      // ---- projection (raw + computed + optional window), total-order sort
      val raw = rng.shuffle(cols).take(2 + rng.int(3)).map(_.name).distinct
      val computed = (0 until rng.int(3)).flatMap(j => genComputed(rng, cols, j))
      val win = if (rng.bool(0.4)) genWin(rng, cols) else None
      val sel: Seq[Column] = raw.map(col) ++
        computed.map { case (ex, nm) => ex.spark.as(nm) } ++
        win.map { case (c, _, nm) => c.as(nm) }
      // sort on EVERY visible column: the fixture's lineitem key
      // (l_orderkey, l_linenumber) is NOT unique (~23% duplicated pairs
      // at sf0.001 — the first sweep's fz_0054 found this), so only the
      // full row gives a total order; rows identical across all visible
      // columns are identical in the projection too (computed columns
      // are functions of them), hence interchangeable in the compare —
      // EXCEPT a row_number-style window value, which is assigned
      // arbitrarily among identical rows: the window column therefore
      // joins the output sort (the values {k, k+1} land on
      // indistinguishable rows, so sorting by them restores determinism)
      val sortCols = (raw ++ cols.map(_.name)).distinct
      val out = df1
        .select((sel ++ sortCols.filterNot(raw.contains).map(col)): _*)
        .orderBy(sortCols.map(k => col(k).asc) ++ win.map(w => col(w._3).asc): _*)
        .select(raw.map(col) ++ computed.map(c => col(c._2)) ++ win.map(w => col(w._3)): _*)
      val selSql = (raw ++ computed.map { case (ex, nm) => s"${ex.sql} AS $nm" } ++
        win.map { case (_, sq, nm) => s"$sq AS $nm" }).mkString(", ")
      // ORDER BY must sit in the OUTER query (ANSI lets it reference
      // non-projected FROM columns): a subquery's ORDER BY is not
      // guaranteed to survive the outer projection — DuckDB really does
      // reorder it (first sweep's fz_0054 caught exactly this)
      val orderSql = sortCols.map(k => s"$k ASC NULLS FIRST") ++
        win.map(w => s"${w._3} ASC NULLS FIRST")
      val sql =
        s"""SELECT $selSql FROM $fromSql${whereSql.map(w => whereJoin + w).getOrElse("")}
           |ORDER BY ${orderSql.mkString(", ")}""".stripMargin
      Gen(out, sql)
    }
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 100
    val seed = if (args.length > 3) args(3).toLong else 42L
    val only: Set[Int] = args.drop(4).map(_.toInt).toSet
    val spark = Sessions.local(Sessions.env("SPARK_GRAFT_CPUS", "8"), extra = Seq(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val entries = scala.collection.mutable.LinkedHashMap[String, String]()
    var failures = 0
    for (i <- 0 until n if only.isEmpty || only.contains(i)) {
      val name = f"fz_$i%04d"
      try {
        val g = gen(spark, sfDir, seed, i)
        g.df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        entries(name) = g.sql
        if (i % 25 == 0) System.err.println(s"[fuzz] $name done")
      } catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[fuzz] $name FAILED to run: ${e.getMessage}")
      }
    }
    val json = entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[fuzz] wrote ${entries.size} queries, $failures run-failures, seed=$seed")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
