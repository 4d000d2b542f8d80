package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Z-order (Morton-curve) file-layout clustering: interleave the bits of two
  * query dimensions into one sort key, so range-partitioning on that single
  * key co-locates rows that are close in BOTH dimensions. At 100 TB this is
  * the difference between a scan that prunes on one predicate column and a
  * scan that prunes on either: every output file's parquet min/max footer
  * stats cover a small axis-aligned box of (dim_a, dim_b), so a filter on
  * EITHER dimension skips most row groups — the layout Delta/Iceberg
  * `OPTIMIZE ZORDER BY` builds, expressed here as a plain Spark plan
  * (`repartitionByRange` + `sortWithinPartitions` on the z-value; no custom
  * writer needed).
  *
  * The bit interleave uses the classic 5-step "spread" (shift-or-mask)
  * sequence rather than a 32-term per-bit sum: 10 integer ops per dimension,
  * all plain bitwise arithmetic, whole-stage-codegen'd on Spark and
  * bit-identical in the DuckDB oracle.
  */
object Layout {

  /** log2 of the range-partition count: top `2 * ZPartBits` z-bits select
    * the partition, i.e. `ZPartBits` leading bits of EACH dimension — every
    * partition is an exact axis-aligned quadrant of the key space. */
  val ZPartBits = 2

  /** Spread the low 16 bits of `x` to the even bit positions of a 32-bit
    * word: ...b2 b1 b0 -> ...0 b2 0 b1 0 b0. */
  private def spread(x: Column): Column = {
    val m = Seq(0x00FF00FFL, 0x0F0F0F0FL, 0x33333333L, 0x55555555L)
    val shifts = Seq(8, 4, 2, 1)
    shifts.zip(m).foldLeft(x.bitwiseAND(lit(0xFFFFL))) { case (acc, (s, mask)) =>
      acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(mask))
    }
  }

  /** 32-bit Morton code of (a, b): a's bits on even positions, b's on odd.
    * Inputs are masked to 16 bits; longs throughout (no sign issues). The
    * CONTRACT-query code (16-bit domain documented + oracle-matched); the
    * generic write path uses [[zvalue64]] so real key spaces don't alias. */
  def zvalue(a: Column, b: Column): Column =
    spread(a.cast("long")).bitwiseOR(shiftleft(spread(b.cast("long")), 1))

  /** Spread the low 32 bits of `x` to the even bit positions of a 64-bit
    * word — the 5-step ladder one rung wider than [[spread]]. */
  private def spread64(x: Column): Column = {
    val m = Seq(0x0000FFFF0000FFFFL, 0x00FF00FF00FF00FFL,
      0x0F0F0F0F0F0F0F0FL, 0x3333333333333333L, 0x5555555555555555L)
    val shifts = Seq(16, 8, 4, 2, 1)
    shifts.zip(m).foldLeft(x.bitwiseAND(lit(0xFFFFFFFFL))) { case (acc, (s, mask)) =>
      acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(mask))
    }
  }

  /** 62-bit Morton code for the generic write path: 31 bits PER DIMENSION
    * (~2.1 B distinct keys each — enough for any single-table surrogate key
    * at 100 TB), result always non-negative so long ordering == z ordering.
    * NON-NULL keys outside [0, 2^31) RAISE at runtime instead of silently
    * aliasing into a 16-bit torus the way the old masked path did; a NULL
    * key yields a NULL z-value (the row lands in the null range partition —
    * one dirty row must not kill a whole compaction job, and the
    * raise_error branch would otherwise null-propagate into a contentless
    * exception). */
  def zvalue64(a: Column, b: Column): Column = {
    val lim = 1L << 31
    def checked(c: Column): Column = {
      val l = c.cast("long")
      when(l.isNull, lit(null).cast("long"))
        .when(l >= 0 && l < lim, l)
        .otherwise(
          raise_error(concat(lit("zorder key out of [0, 2^31): "), l.cast("string"))))
    }
    spread64(checked(a)).bitwiseOR(shiftleft(spread64(checked(b)), 1))
  }

  /** Z-order clustering manifest over lineitem's (l_partkey, l_suppkey) —
    * the two join/filter dimensions a part-supplier workload prunes on.
    * Emits each row's z-value and its range-partition id (top 2·ZPartBits
    * z-bits). The partition id IS the file assignment: writing with
    * `repartitionByRange(zval)` puts each zpart in its own file(s), and the
    * quadrant property (see LayoutSpec) bounds every file's min/max stats. */
  def qZorderCluster(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        zvalue(col("l_partkey"), col("l_suppkey")).as("zval"))
      .withColumn("zpart", shiftright(col("zval"), 32 - 2 * ZPartBits).cast("int"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** The write path the manifest describes: range-partition by z-value into
    * ~2^(2·ZPartBits) files, z-sorted within each, so parquet footer stats
    * on BOTH dims are tight per row group. Used by LayoutSpec; at scale this
    * is the compaction job's output layout. */
  def zorderWrite(df: DataFrame, dimA: String, dimB: String, path: String): Unit =
    df.withColumn("__z", zvalue64(col(dimA), col(dimB)))
      .repartitionByRange(1 << (2 * ZPartBits), col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  // --------------------------------------------- hive-partitioned pruning

  /** Per-dir date-partitioned events copy: (path, min event date).
    * Fingerprint-validated against the SOURCE events dir (round-14 verdict
    * item 2 — the value is a derived layout, so freshness is the source's,
    * not the copy's): regenerated events rebuild the partitioned copy. */
  private val partRegistry = scala.collection.concurrent.TrieMap
    .empty[String, (String, (String, java.time.LocalDate))]

  /** Build (once per JVM per dir) a hive-partitioned copy of events laid
    * out by event DATE — the standard time-series warehouse layout. The
    * copy is narrow (only the query columns ride along: partition pruning
    * and column pruning compose) and `repartition(event_date)` before the
    * partitioned write gives one file per date directory instead of
    * tasks × dates slivers. */
  private def partitionedEvents(spark: SparkSession, dir: String): (String, java.time.LocalDate) =
    partRegistry.synchronized {
      // keyed by (SparkContext, dir): the layout files outlive a stopped
      // context, but a fresh context must not trust state computed by a
      // dead one (same convention as Bucketed/Graph)
      val ctxKey = s"${spark.sparkContext.applicationId}|$dir"
      // drop entries left by a stopped context (round-8 advisor item)
      graft.ModelState.evictStale(partRegistry, spark)(_ => ())
      graft.ModelState.validated(partRegistry, ctxKey,
          Seq(s"$dir/events.parquet"), "Layout.partitionedEvents")({
        // scratch NAME = (tag, dir) digest + owning pid — see Bucketed:
        // per-process liveness, crashed runs swept once their pid is gone
        val root = graft.ScratchDirs.freshRoot("partitioned", dir)
        val ev = Tables.events(spark, dir)
        val path = s"$root/events_by_date"
        ev.select(col("event_type"), col("value"), to_date(col("ts")).as("event_date"))
          .repartition(col("event_date"))
          .write.mode(SaveMode.Overwrite).partitionBy("event_date").parquet(path)
        val lo = java.time.LocalDate.parse(
          ev.agg(min(to_date(col("ts")))).head().get(0).toString)
        (path, lo)
      })
    }

  /** Daily per-type event rollup over the FIRST WEEK of the corpus, read
    * from the date-partitioned layout: the filter is on the partition
    * column only, so the scan lists 7 of ~30 date directories and never
    * opens the rest — `PartitionFilters` in the plan, zero data-file I/O
    * outside the window (plan-asserted in PlanSpec). At 100 TB this is the
    * first-order scan reducer for any time-windowed query: partition
    * pruning works on directory METADATA (no footer reads, unlike row-group
    * stats pruning), which is what makes a 30-day window over a 10-year
    * table cheap. The window bounds are per-dir model state (min event
    * date, one tiny aggregate at layout-build time) folded in as literals —
    * static pruning at plan time, the same constant-folding convention as
    * the tokenizer boundaries. */
  def qPartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Decimals.dsum
    val (path, lo) = partitionedEvents(spark, dir)
    val hi = lo.plusDays(6)
    spark.read.parquet(path)
      .filter(col("event_date") >= lit(java.sql.Date.valueOf(lo)) &&
        col("event_date") <= lit(java.sql.Date.valueOf(hi)))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy("event_date", "event_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_cluster" -> qZorderCluster,
    "q_partition_prune" -> qPartitionPrune
  )

  /** DuckDB spread(): same 5-step shift-or-mask ladder, 1-to-1. */
  private def spreadSql(x: String): String = {
    val steps = Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
    steps.foldLeft(s"($x & 65535)") { case (acc, (s, m)) =>
      s"((($acc | ($acc << $s)) & $m))"
    }
  }

  def oracleSql: Map[String, String] = Map(
    "q_zorder_cluster" -> {
      val z = s"(${spreadSql("CAST(l_partkey AS BIGINT)")} | (${spreadSql("CAST(l_suppkey AS BIGINT)")} << 1))"
      s"""SELECT l_orderkey, l_linenumber, CAST($z AS BIGINT) AS zval,
         |  CAST(($z >> ${32 - 2 * ZPartBits}) AS INTEGER) AS zpart
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    // the window is the first 7 days of the corpus; >= MIN is implied, so
    // the oracle only needs the upper bound (the Spark side keeps both — a
    // closed range is what a real time-window pushes into the listing)
    "q_partition_prune" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) <= (SELECT MIN(CAST(ts AS DATE)) + 6 FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
