package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.functions.TypeProbeExpr

/** Schema inference — the generalized form of the reference repo's title
  * capability. The reference's "schema inference" is parquet
  * footer-self-description (/root/reference/etl_benchmark.py:27, SURVEY
  * §1.3); for schemaless formats the CSV and JSONL lanes ([[CsvSource]],
  * [[JsonSource]]) run Spark's own samplers, and this object adds a custom
  * tightest-type inferencer for string columns and for semi-structured JSON
  * object columns.
  *
  * Scale: inference runs the candidate ladder on a BOUNDED SAMPLE (default
  * cap [[DefaultSampleCap]] rows), then FULL-SCAN-confirms only the winning
  * rung per column — one cheap predicate per column instead of the whole
  * ladder. The confirmed result is provably identical to a full-ladder run:
  * a rung failing on the sample fails on the full data (the sample is a
  * subset), so the tightest full-data rung always survives into the
  * candidate list and is reached in ladder order; nullable and decimal
  * (p,s) come from the confirm scan, never the sample. No driver-side row
  * loops; the only collected state is one agg row (columns × ladder counts).
  */
object SchemaInfer {

  /** Marker rung for fixed-point decimals: the concrete (p,s) is computed
    * from the data (max integer digits / max fraction digits) when this
    * rung wins. */
  private val DecimalMarker = DecimalType(38, 18)

  /** Candidate ladder, tightest first. DECIMAL sits between LONG and
    * DOUBLE: plain-notation numeric strings (money columns) are exact in
    * DECIMAL(p,s), while anything with an exponent falls through to DOUBLE
    * (genuinely floating data virtually always carries an E-form value).
    * DATE precedes TIMESTAMP (tightest first) and its rung is a STRICT
    * 'yyyy-MM-dd' shape check: Spark's cast string->date truncates
    * '2020-01-01 12:34:56' to a date while DuckDB rejects it, so a bare
    * try_cast rung would diverge between engines — and a date rung placed
    * after timestamp would be unreachable (every date string parses as
    * midnight timestamp in both engines). */
  private val Ladder: Seq[DataType] =
    Seq(LongType, DecimalMarker, DoubleType, BooleanType, DateType, TimestampNTZType)

  /** Default sample cap (rows) for the ladder pass. */
  val DefaultSampleCap = 1000000L

  /** The sampled path only engages above `SingleScanFactor × cap` rows.
    * Sample-then-confirm pays ≥2 full passes over the stringified columns
    * (the Bernoulli sample sits ABOVE the projection, so the casts run for
    * every row, and the confirm scan stringifies everything again), while
    * the single-scan path pays one. The per-value saving (1 confirmed rung
    * vs the 6-rung ladder) is small next to the cast-to-string cost, so the
    * crossover is well past the cap — measured at sf0.1 the sampled path
    * was 2.0× SLOWER than one full-ladder scan. */
  val SingleScanFactor = 10L

  /** The rung-shape grammar, stated as regexes. These are the SEMANTIC
    * ground truth — the DuckDB oracle runs them verbatim, and
    * TypeProbeSpec proves the codegen byte-walk
    * ([[graft.functions.TypeProbeExpr]], which the Spark side actually
    * executes) agrees with them bit for bit; the Spark plan itself no
    * longer evaluates regexes on this path. */

  /** Spark-ANSI-compatible integer strings (optional sign, digits, outer
    * whitespace trimmed). Shared verbatim with the DuckDB oracle. */
  val LongPattern = "^[+-]?[0-9]+$"

  /** Plain fixed-point decimal notation (no exponent). Shared verbatim
    * with the oracle; digit count additionally bounded to 38 in the rung. */
  val DecimalPattern = "^[+-]?[0-9]+(\\.[0-9]+)?$"

  /** Decimal/scientific doubles. Deliberately EXCLUDES 'NaN'/'Infinity'
    * (a column made of those should not infer numeric) — a documented
    * narrowing of Spark's cast grammar. Shared verbatim with the oracle. */
  val DoublePattern = "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  /** Strict date shape; validity (month/day ranges) is then checked with
    * try_cast, which both engines agree on for this exact shape. */
  val DatePattern = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"

  /** Spark's StringUtils true/false string set. */
  val BoolStrings: Seq[String] =
    Seq("t", "true", "y", "yes", "1", "f", "false", "n", "no", "0")

  /** abs(Long.MinValue) / Long.MaxValue as digit strings, for the
    * overflow guard below. */
  private val MaxNegDigits = "9223372036854775808"
  private val MaxPosDigits = "9223372036854775807"

  // The long in-range check (sign/zero-strip then length + lexicographic
  // compare against Long.MaxValue's digits — without it a 20-digit ID
  // column would "parse" as bigint and applyInferred's non-ANSI cast
  // would null every value, silent data loss), the significant-integer-
  // digit count ("0017.50" -> 2; "0.5" -> 0) and the fraction-digit count
  // with trailing zeros INCLUDED ("17.50" -> 2: fixed-scale money means
  // the rendered scale) all live inside the TypeProbeExpr byte-walk; the
  // DuckDB oracle below emulates them with the equivalent string ops, and
  // TypeProbeSpec holds the two formulations together.

  /** Does `c` parse at ladder rung index `i`, given `p` = the packed
    * [[graft.functions.TypeProbeExpr]] classification of `c`?
    *
    * All rungs are NON-THROWING. History of this hot path (it runs once
    * per value per column over the whole table): (1) try_cast rungs
    * unwound an exception per failing row — 30 s at sf0.1; (2) the regex
    * formulation (LongPattern/DecimalPattern/DoublePattern/DatePattern +
    * IN-list, kept below as spec/oracle ground truth) was ~20x cheaper —
    * 2.3 s with 5 rungs, but 8.6 s once the DECIMAL widths and the 6th
    * column arrived, 4 regexes + 2 regex extractions per value;
    * (3) every shape check folded into ONE codegen byte-walk
    * ([[graft.functions.TypeProbeExpr]], bit-tested here) — 1.5 s,
    * scan+cast floor, with a property spec proving bit-for-bit agreement
    * with the regex semantics the DuckDB oracle still runs. Date VALIDITY
    * (month/day ranges) stays with try_cast — both engines agree on the
    * strict shape — and timestamp stays a bare try_cast (Spark's
    * Option-based parser, measured at noise level). */
  private def rungFlag(i: Int, v: Column, p: Column): Column = Ladder(i) match {
    case LongType         => p.bitwiseAND(TypeProbeExpr.LongOk) =!= 0
    case DecimalMarker    => p.bitwiseAND(TypeProbeExpr.DecOk) =!= 0
    case DoubleType       => p.bitwiseAND(TypeProbeExpr.DblOk) =!= 0
    case BooleanType      => p.bitwiseAND(TypeProbeExpr.BoolOk) =!= 0
    case DateType         => (p.bitwiseAND(TypeProbeExpr.DateShape) =!= 0) &&
                               try_cast(v, DateType).isNotNull
    case _                => try_cast(v, TimestampNTZType).isNotNull
  }

  /** Significant-integer-digit / fraction-digit widths from the packed
    * probe, gated (like the regex formulation) on the decimal rung. */
  private def dipCol(p: Column): Column =
    when(p.bitwiseAND(TypeProbeExpr.DecOk) =!= 0,
      shiftright(p, TypeProbeExpr.DipShift).bitwiseAND(TypeProbeExpr.WidthMask).cast("int"))
  private def dscCol(p: Column): Column =
    when(p.bitwiseAND(TypeProbeExpr.DecOk) =!= 0,
      shiftright(p, TypeProbeExpr.DscShift).bitwiseAND(TypeProbeExpr.WidthMask).cast("int"))

  private def probeCol(v: Column): Column =
    Bridge.column(TypeProbeExpr(Bridge.expression(v)))

  /** Projection evaluated once per row below the ladder aggregation: each
    * value column plus its packed probe. */
  private def probeProj(cols: Seq[String], keep: Seq[Column] = Nil): Seq[Column] =
    keep ++ cols.flatMap(c => Seq(col(c), probeCol(col(c)).as(s"${c}__p")))

  /** Ladder aggregates for value column `name` (with its `name__p` probe
    * alongside, see [[probeProj]]): non-null count, one parse count per
    * rung, and the decimal digit-width maxes. */
  private def ladderAggs(name: String): Seq[Column] = {
    val v = col(name)
    val p = col(s"${name}__p")
    count(v).as(s"${name}__n") +:
      (Ladder.indices.map { i =>
        count(when(rungFlag(i, v, p), 1)).as(s"${name}__t$i")
      } ++ Seq(
        max(dipCol(p)).as(s"${name}__dip"),
        max(dscCol(p)).as(s"${name}__dsc")))
  }

  /** Winner from a row of [[ladderAggs]] outputs: first (tightest) rung
    * whose parse count covers every non-null value; the decimal marker is
    * concretized to DECIMAL(p = int digits + scale, s = max fraction
    * digits) from the same row. */
  private def winner(row: Row, name: String, n: Long): DataType =
    if (n == 0) StringType
    else Ladder.zipWithIndex
      .find { case (_, i) => row.getAs[Long](s"${name}__t$i") == n }
      .map {
        case (DecimalMarker, _) =>
          val dip = Option(row.getAs[Integer](s"${name}__dip")).fold(0)(_.intValue)
          val dsc = Option(row.getAs[Integer](s"${name}__dsc")).fold(0)(_.intValue)
          DecimalType(math.max(dip + dsc, 1), dsc)
        case (t, _) => t
      }
      .getOrElse(StringType)

  /** Full inference report — (inferred tightest type, nullable) per string
    * column. Runs the whole ladder in ONE aggregation when the table fits
    * [[SingleScanFactor]] × `sampleCap`; above that, the ladder runs on a
    * bounded sample and only each column's winning rung is confirmed on the
    * full scan (escalating to the next sample-passing rung on a confirm
    * miss — at most one extra scan in practice). Output is identical either
    * way; see the object scaladoc for the argument. */
  def inferReport(df: DataFrame, cols: Seq[String],
                  sampleCap: Long = DefaultSampleCap): Seq[(String, DataType, Boolean)] = {
    val total = df.count()
    if (total <= sampleCap * SingleScanFactor) {
      val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c => ladderAggs(c))
      val row = df.select(probeProj(cols): _*).agg(aggs.head, aggs.tail: _*).head()
      cols.map { c =>
        val n = row.getAs[Long](s"${c}__n")
        (c, winner(row, c, n), n < total)
      }
    } else sampledReport(df, cols, total, sampleCap)
  }

  private def sampledReport(df: DataFrame, cols: Seq[String], total: Long,
                            cap: Long): Seq[(String, DataType, Boolean)] = {
    val frac = math.min(1.0, cap.toDouble / total)
    val sAggs = count(lit(1)).as("__rows") +: cols.flatMap(c => ladderAggs(c))
    val srow = df.sample(frac, seed = 42)
      .select(probeProj(cols): _*)
      .agg(sAggs.head, sAggs.tail: _*).head()
    // Tightest-first candidate rungs per column. A rung that fails on the
    // sample has a counterexample row, so it fails on the full data too and
    // is safely dropped. A column with NO sampled values keeps the whole
    // ladder: the full scan decides from scratch (rare; stays correct).
    var candidates: Map[String, Seq[Int]] = cols.map { c =>
      val n = srow.getAs[Long](s"${c}__n")
      c -> (if (n == 0) Ladder.indices.toSeq
            else Ladder.indices.filter(i => srow.getAs[Long](s"${c}__t$i") == n))
    }.toMap
    var result = Map.empty[String, (DataType, Boolean)]
    var remaining = cols
    var guard = 0
    while (remaining.nonEmpty && guard <= Ladder.size) {
      guard += 1
      val aggs = count(lit(1)).as("__rows") +: remaining.flatMap { c =>
        val v = col(c)
        val p = col(s"${c}__p")
        count(v).as(s"${c}__n") +: candidates(c).headOption.toSeq.flatMap { i =>
          count(when(rungFlag(i, v, p), 1)).as(s"${c}__t$i") +:
            (if (Ladder(i) == DecimalMarker)
               Seq(max(dipCol(p)).as(s"${c}__dip"),
                   max(dscCol(p)).as(s"${c}__dsc"))
             else Nil)
        }
      }
      val row = df.select(probeProj(remaining): _*)
        .agg(aggs.head, aggs.tail: _*).head()
      val (done, retry) = remaining.partition { c =>
        candidates(c).headOption.forall { i =>
          val n = row.getAs[Long](s"${c}__n")
          n == 0 || row.getAs[Long](s"${c}__t$i") == n
        }
      }
      done.foreach { c =>
        val n = row.getAs[Long](s"${c}__n")
        val t = candidates(c).headOption match {
          case None                                      => StringType
          case Some(_) if n == 0                         => StringType
          case Some(i) if Ladder(i) == DecimalMarker =>
            val dip = Option(row.getAs[Integer](s"${c}__dip")).fold(0)(_.intValue)
            val dsc = Option(row.getAs[Integer](s"${c}__dsc")).fold(0)(_.intValue)
            DecimalType(math.max(dip + dsc, 1), dsc)
          case Some(i)                                   => Ladder(i)
        }
        result += c -> ((t, n < total))
      }
      retry.foreach(c => candidates += c -> candidates(c).tail)
      remaining = retry
    }
    cols.map { c => val (t, nul) = result(c); (c, t, nul) }
  }

  /** Tightest parseable type per string column. */
  def inferFromStrings(df: DataFrame, cols: Seq[String],
                       sampleCap: Long = DefaultSampleCap): Map[String, DataType] =
    inferReport(df, cols, sampleCap).map { case (c, t, _) => c -> t }.toMap

  /** Field inventory + tightest per-field type for a column of JSON
    * OBJECTS — the semi-structured form of the title capability (a props /
    * attributes column in an event stream). One pass: parse as
    * map<string,string> (field set discovered from the data, no schema
    * given), explode, and run the SAME ladder as [[inferReport]] in ONE
    * aggregation grouped by field — only (field, counts) partials shuffle,
    * never payloads. The collected state is one row per distinct field
    * (bounded model state: a real props schema has tens of fields).
    * nullable(field) := some row lacks a non-null value for it. */
  def inferJsonReport(df: DataFrame, jsonCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val total = df.count()
    val kv = df.select(explode(from_json(col(jsonCol), MapType(StringType, StringType)))
      .as(Seq("field", "f")))
    val aggs = ladderAggs("f")
    val rows = kv.select(probeProj(Seq("f"), keep = Seq(col("field"))): _*)
      .groupBy("field").agg(aggs.head, aggs.tail: _*).collect()
    rows.toSeq
      .map { r =>
        val n = r.getAs[Long]("f__n")
        (r.getAs[String]("field"), label(winner(r, "f", n)), n < total)
      }
      .toDF("field_name", "inferred_type", "nullable")
      .orderBy("field_name")
  }

  private def try_cast(c: Column, t: DataType): Column = c.try_cast(t.sql)

  /** Apply inferred types: returns df with string columns cast to their
    * tightest parseable type. */
  def applyInferred(df: DataFrame, inferred: Map[String, DataType]): DataFrame =
    df.select(df.columns.map { c =>
      inferred.get(c).filter(_ != StringType)
        .map(t => col(c).cast(t).as(c)).getOrElse(col(c))
    }.toSeq: _*)

  /** Engine-neutral label for the contract queries' output. */
  private def label(t: DataType): String = t match {
    case LongType          => "bigint"
    case d: DecimalType    => s"decimal(${d.precision},${d.scale})"
    case DoubleType        => "double"
    case BooleanType       => "boolean"
    case DateType          => "date"
    case TimestampNTZType  => "timestamp"
    case _                 => "string"
  }

  /** Contract query for the reference's TITLE capability (schema inference,
    * /root/reference/etl_benchmark.py:27): render six lineitem columns to
    * strings — a schemaless ingest stand-in, same shape as a headerless CSV
    * — and emit (column_name, inferred_type, nullable) from the
    * sample-then-confirm tightest-type ladder (cap 100k: past 10×cap the
    * ladder runs on ~100k rows and the full scan pays ONE predicate per
    * column; at bench scale — sf0.1 is 600k rows, under 10×cap — the whole
    * ladder runs in ONE scan, which is cheaper there because the
    * cast-to-string projection dominates the rung predicates). The DuckDB
    * oracle re-implements the ladder with SPARK's ANSI
    * parse semantics (digit-regex for longs/decimals, the exact true/false
    * string set for booleans, strict-shape dates): DuckDB's native TRY_CAST
    * rounds '1.5' to BIGINT 2 where Spark ANSI rejects it, so counts are
    * emulated rather than TRY_CAST everywhere. Expected winners here:
    * c_orderkey/c_linenumber bigint, c_quantity decimal(3,1) (exact money
    * rung — '17.0' strings), c_returnflag string, c_shipdate timestamp
    * (the rendered strings carry a time part), c_shipday date (strict
    * 'yyyy-MM-dd' — reachable because the date rung precedes timestamp). */
  def qSchemaInfer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, dir).select(
      col("l_orderkey").cast("string").as("c_orderkey"),
      col("l_linenumber").cast("string").as("c_linenumber"),
      col("l_quantity").cast("string").as("c_quantity"),
      col("l_returnflag").cast("string").as("c_returnflag"),
      col("l_shipdate").cast("string").as("c_shipdate"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("c_shipday"))
    inferReport(li, li.columns.toSeq, sampleCap = 100000L)
      .map { case (c, t, nul) => (c, label(t), nul) }
      .toDF("column_name", "inferred_type", "nullable")
      .orderBy("column_name")
  }

  /** Semi-structured contract query: infer the field set and tightest
    * per-field types of the events.props JSON objects. */
  def qSchemaInferJson(spark: SparkSession, dir: String): DataFrame =
    inferJsonReport(graft.Tables.events(spark, dir), "props")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_schema_infer" -> qSchemaInfer,
    "q_schema_infer_json" -> qSchemaInferJson
  )

  // ---- DuckDB oracle -------------------------------------------------

  /** Shared rung predicates in DuckDB SQL over a string expression `c`.
    * Same patterns/string ops as the Spark rungs, byte for byte. */
  private def duckRungs(c: String): (String, String, String, String, String, String) = {
    val boolList = BoolStrings.map(s => s"'$s'").mkString(",")
    val d = s"regexp_replace(trim($c), '^[+-]?0*', '')"
    val longOk =
      s"""(len($d) < 19 OR (len($d) = 19 AND
         |     CASE WHEN starts_with(trim($c), '-') THEN $d <= '$MaxNegDigits'
         |          ELSE $d <= '$MaxPosDigits' END))""".stripMargin
    val body = s"regexp_replace(trim($c), '^[+-]', '')"
    val ipLen = s"len(regexp_replace(regexp_extract($body, '^([0-9]+)', 1), '^0+', ''))"
    val fracLen = s"len(regexp_extract($body, '\\.([0-9]+)$$', 1))"
    (s"(regexp_matches(trim($c), '$LongPattern') AND $longOk)",
      s"(regexp_matches(trim($c), '$DecimalPattern') AND $ipLen + $fracLen <= 38)",
      s"regexp_matches(trim($c), '$DoublePattern')",
      s"lower(trim($c)) IN ($boolList)",
      s"(regexp_matches(trim($c), '$DatePattern') AND TRY_CAST($c AS DATE) IS NOT NULL)",
      s"TRY_CAST($c AS TIMESTAMP) IS NOT NULL")
  }

  /** Per-value aggregate list (DuckDB) matching [[ladderAggs]]. */
  private def duckAggs(prefix: String, c: String): String = {
    val (lng, dec, dbl, bool, date, ts) = duckRungs(c)
    val body = s"regexp_replace(trim($c), '^[+-]', '')"
    val ipLen = s"len(regexp_replace(regexp_extract($body, '^([0-9]+)', 1), '^0+', ''))"
    val fracLen = s"len(regexp_extract($body, '\\.([0-9]+)$$', 1))"
    s"""COUNT($c) AS ${prefix}_n,
       |  COUNT(CASE WHEN $lng THEN 1 END) AS ${prefix}_long,
       |  COUNT(CASE WHEN $dec THEN 1 END) AS ${prefix}_dec,
       |  MAX(CASE WHEN $dec THEN $ipLen END) AS ${prefix}_dip,
       |  MAX(CASE WHEN $dec THEN $fracLen END) AS ${prefix}_dsc,
       |  COUNT(CASE WHEN $dbl THEN 1 END) AS ${prefix}_dbl,
       |  COUNT(CASE WHEN $bool THEN 1 END) AS ${prefix}_bool,
       |  COUNT(CASE WHEN $date THEN 1 END) AS ${prefix}_date,
       |  COUNT(CASE WHEN $ts THEN 1 END) AS ${prefix}_ts""".stripMargin
  }

  /** Ladder CASE (DuckDB), tightest first — the same rung ORDER as
    * [[Ladder]]; rungs below each winner may diverge between engines
    * without affecting the hash. */
  private def duckVerdict(prefix: String): String =
    s"""CASE WHEN ${prefix}_n > 0 AND ${prefix}_long = ${prefix}_n THEN 'bigint'
       |     WHEN ${prefix}_n > 0 AND ${prefix}_dec  = ${prefix}_n THEN
       |       'decimal(' || CAST(GREATEST(${prefix}_dip + ${prefix}_dsc, 1) AS VARCHAR) ||
       |         ',' || CAST(${prefix}_dsc AS VARCHAR) || ')'
       |     WHEN ${prefix}_n > 0 AND ${prefix}_dbl  = ${prefix}_n THEN 'double'
       |     WHEN ${prefix}_n > 0 AND ${prefix}_bool = ${prefix}_n THEN 'boolean'
       |     WHEN ${prefix}_n > 0 AND ${prefix}_date = ${prefix}_n THEN 'date'
       |     WHEN ${prefix}_n > 0 AND ${prefix}_ts   = ${prefix}_n THEN 'timestamp'
       |     ELSE 'string' END""".stripMargin

  def oracleSql: Map[String, String] = {
    val cols = Seq("c_orderkey", "c_linenumber", "c_quantity", "c_returnflag",
      "c_shipdate", "c_shipday")
    def verdict(c: String): String =
      s"""SELECT '$c' AS column_name,
         |  ${duckVerdict(c)} AS inferred_type,
         |  ${c}_n < total AS nullable
         |FROM counts""".stripMargin
    Map(
      "q_schema_infer" ->
        s"""WITH s AS (
           |  SELECT CAST(l_orderkey AS VARCHAR) AS c_orderkey,
           |         CAST(l_linenumber AS VARCHAR) AS c_linenumber,
           |         CAST(l_quantity AS VARCHAR) AS c_quantity,
           |         CAST(l_returnflag AS VARCHAR) AS c_returnflag,
           |         CAST(l_shipdate AS VARCHAR) AS c_shipdate,
           |         strftime(l_shipdate, '%Y-%m-%d') AS c_shipday
           |  FROM lineitem),
           |counts AS (SELECT COUNT(*) AS total,
           |  ${cols.map(c => duckAggs(c, c)).mkString(",\n  ")}
           |FROM s)
           |${cols.map(verdict).mkString("\nUNION ALL\n")}
           |ORDER BY column_name""".stripMargin,
      // Field set discovered from the data (unnest(json_keys)); values
      // extracted per (row, field) with a dynamic path — the cross join is
      // |fields| passes over events, the direct twin of the exploded-map
      // group-by.
      "q_schema_infer_json" ->
        s"""WITH tot AS (SELECT COUNT(*) AS total FROM events),
           |flds AS (SELECT DISTINCT unnest(json_keys(props)) AS field FROM events),
           |kv AS (SELECT f.field, json_extract_string(e.props, '$$.' || f.field) AS v
           |       FROM events e CROSS JOIN flds f),
           |counts AS (SELECT field, ${duckAggs("f", "v")}
           |           FROM kv GROUP BY field)
           |SELECT field AS field_name, ${duckVerdict("f")} AS inferred_type,
           |       f_n < (SELECT total FROM tot) AS nullable
           |FROM counts
           |ORDER BY field_name""".stripMargin
    )
  }
}
