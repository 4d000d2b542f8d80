package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The exact money-sum convention shared by every query module and the
  * fuzz harness (FIXTURES.md §3): each addend is rounded HALF_UP to 6
  * decimals by a cast to Decimal(38,6), the group sum accumulates in
  * decimal, and the total is cast to double once — bit-identical to
  * DuckDB's `CAST(... AS DECIMAL(38,6))` sums.
  *
  * [[dsum]] is the direct form. The split-lane form ([[splitDsumUs]],
  * [[splitDsum]], [[splitDsumOut]]) yields the same double on primitive
  * long lanes, for aggregates whose BigDecimal merge dominates. */
object Decimals {

  /** Exact money sum: decimal-accumulate then one deterministic double cast. */
  private[graft] def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast("double")

  /** The value's exact micros as a long: cast to Decimal(38,6) FIRST (the
    * same per-value HALF_UP rounding as [[dsum]]; `round(v * 1e6)` would
    * round an already-misrepresented double), then scale by 10⁶ exactly
    * in decimal space. A sum of these longs is the Decimal(38,6) sum
    * exactly, and sum/1e6 is the same double [[dsum]] returns while the
    * total stays under 2⁵³ µ (≈ 9.0e9 value units). Unguarded: callers
    * whose sum may leave that range use the split lanes below. */
  private[graft] def micros(c: Column): Column =
    (c.cast(DecimalType(38, 6)) * lit(1000000)).cast("long")

  /** The addend's exact micros-long, pre-projected under `<name>_us` —
    * the first half of the SPLIT-LANE exact Decimal(38,6) sum: the addend
    * is [[micros]], and the per-addend bound the lane-sum analysis assumes is
    * ENFORCED: addends are capped at |a| ≤ 10¹¹ units = 10¹⁷ µ (the
    * fixture's largest power-sum addend, p² ≈ 1.1×10¹⁰ units, sits an
    * order under the cap). An addend past the cap raises instead of
    * riding the non-ANSI long sum's silent wrap into a wrong-but-plausible
    * hash mismatch far from the cause.
    * [[splitDsum]] then splits per row into (div 1e9, mod 1e9): each
    * lane's group sum is a PRIMITIVE long aggregation — no BigDecimal
    * merge on the hot path — and cannot overflow under the enforced cap
    * (|hi_i| ≤ 10⁸ ⟹ Σhi safe to ~9×10¹⁰ rows; |lo_i| < 10⁹ ⟹ Σlo safe
    * to ~9×10⁹ rows — the binding term, still an order past 10⁹).
    * [[splitDsumOut]] reassembles the EXACT total with one decimal op per
    * GROUP: Σa = 1e9·Σhi + Σlo holds identically because Spark's `div`/`%`
    * are a truncation pair ((a div b)·b + a%b = a for any sign), and
    * total_us/10⁶ has exactly 6 decimal digits so the final decimal
    * division is representation, not rounding — the resulting double is
    * bit-identical to the direct decimal sum's (spec-pinned in ApproxSpec).
    * At 100× the q_stats_agg shape ran 5.63 s split vs 8.58 s decimal:
    * the BigDecimal merge was most of the query's cost, and ~0.5 s of the
    * split form is the per-row range check's price. */
  private[graft] def splitDsumUs(c: Column, name: String): Column = {
    val d = c.cast(DecimalType(38, 6))
    // the cap the lane-sum overflow analysis assumes — see the scaladoc
    when(abs(d) > lit(BigDecimal("100000000000")),
        raise_error(concat(lit(s"splitDsum($name): addend exceeds 1e11-unit lane bound: "),
          d.cast("string"))).cast("long"))
      .otherwise(micros(c))
      .as(s"${name}_us")
  }

  /** The two primitive-long lane sums over a pre-projected `<name>_us`. */
  private[operators] def splitDsum(name: String): Seq[Column] =
    Seq(sum(expr(s"${name}_us div 1000000000")).as(s"${name}_hi"),
      sum(col(s"${name}_us") % lit(1000000000L)).as(s"${name}_lo"))

  /** Reassembled group total as the same double [[dsum]] yields. */
  private[operators] def splitDsumOut(name: String): Column =
    ((col(s"${name}_hi").cast(DecimalType(38, 0)) * lit(1000000000L) +
      col(s"${name}_lo").cast(DecimalType(38, 0))) / lit(1000000))
      .cast("double").as(name)
}
