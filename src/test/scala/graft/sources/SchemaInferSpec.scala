package graft.sources

import org.apache.spark.sql.types._

import graft.SparkSpec

class SchemaInferSpec extends SparkSpec {

  test("tightest-type inference over string columns") {
    import spark.implicits._
    val df = Seq(
      ("1", "1.5", "2.5e3", "true", "2024-01-01 00:00:00", "2024-01-01", "abc", "1"),
      ("2", "2", "1e-2", "false", "2024-06-30 10:00:00", "2024-06-30", "1x", "2.5"),
      (null, "3.25", "0.5", null, null, null, "z", "xyz"))
      .toDF("longs", "decs", "doubles", "bools", "tss", "dates", "strs", "mixed")
    val inferred = SchemaInfer.inferFromStrings(df, df.columns.toSeq)
    assert(inferred("longs") == LongType)
    // plain fixed-point notation -> exact decimal: p = max int digits (1)
    // + max scale (2), s = max scale
    assert(inferred("decs") == DecimalType(3, 2))
    // an exponent form defeats the decimal rung -> double
    assert(inferred("doubles") == DoubleType)
    assert(inferred("bools") == BooleanType)
    assert(inferred("tss") == TimestampNTZType)
    // strict yyyy-MM-dd shape -> date (reachable now that the date rung
    // precedes timestamp; both engines parse these as timestamps too)
    assert(inferred("dates") == DateType)
    assert(inferred("strs") == StringType)
    assert(inferred("mixed") == StringType) // "xyz" defeats numeric
  }

  test("date rung is strict: strings with a time part stay timestamp") {
    import spark.implicits._
    val df = Seq("2024-01-01 00:00:00", "2024-06-30 10:00:00").toDF("c")
    assert(SchemaInfer.inferFromStrings(df, Seq("c"))("c") == TimestampNTZType)
    // invalid month: shape matches but try_cast rejects -> falls to string
    // (not a timestamp either)
    val bad = Seq("2024-13-01", "2024-01-02").toDF("c")
    assert(SchemaInfer.inferFromStrings(bad, Seq("c"))("c") == StringType)
  }

  test("long rung rejects out-of-range digit strings (overflow lands on exact decimal)") {
    import spark.implicits._
    val df = Seq(
      // 26-digit ID: syntactically integer, numerically > Long.MaxValue
      ("99999999999999999999999999", "9223372036854775807", "-9223372036854775808"),
      ("12345678901234567890", "42", "-1"),
      // leading zeros must not defeat the length check (value fits)
      ("00000000000000000000000001", "0000123", "-000009223372036854775808"))
      .toDF("overflow", "max_ok", "min_ok")
    val inferred = SchemaInfer.inferFromStrings(df, df.columns.toSeq)
    // overflow column: long's range check fails; the decimal rung holds the
    // full 26 digits exactly (decimal(26,0)), NOT a bigint whose cast would
    // null every row
    assert(inferred("overflow") == DecimalType(26, 0))
    assert(inferred("max_ok") == LongType)   // boundary values inclusive
    assert(inferred("min_ok") == LongType)
    // one past the boundary is rejected by long, held exactly by decimal
    val edge = Seq(("9223372036854775808", "-9223372036854775809")).toDF("pos", "neg")
    val e = SchemaInfer.inferFromStrings(edge, edge.columns.toSeq)
    assert(e("pos") == DecimalType(19, 0))
    assert(e("neg") == DecimalType(19, 0))
    // past 38 total digits even decimal gives up -> double
    val wide = Seq("9" * 39).toDF("w")
    assert(SchemaInfer.inferFromStrings(wide, Seq("w"))("w") == DoubleType)
  }

  test("sampled inference (cap < rows) matches the full-ladder result exactly") {
    import spark.implicits._
    val df = (1 to 1000).map { i =>
      (i.toString, f"$i%d.${i % 100}%02d", if (i % 2 == 0) "true" else "no",
        f"2024-01-${i % 28 + 1}%02d", if (i == 7) null else s"v$i")
    }.toDF("longs", "decs", "bools", "dates", "strs")
    val full = SchemaInfer.inferReport(df, df.columns.toSeq)
    val sampled = SchemaInfer.inferReport(df, df.columns.toSeq, sampleCap = 64)
    assert(sampled == full)
    assert(full.collect { case ("decs", t, _) => t } == Seq(DecimalType(6, 2)))
    // nullable must come from the full scan, not the sample
    assert(sampled.collect { case ("strs", _, nul) => nul } == Seq(true))
  }

  test("json object field inference: field set + tightest types from the data") {
    import spark.implicits._
    val df = Seq(
      """{"a": 1, "b": "1.50", "c": "x"}""",
      """{"a": 2, "b": "2.25"}""",
      """{"a": null, "b": "3.5", "c": "y", "d": "2024-01-01"}""")
      .toDF("props")
    val out = SchemaInfer.inferJsonReport(df, "props").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      ("a", "bigint", true),          // explicit null -> nullable
      ("b", "decimal(3,2)", false),   // mixed scale 2/1 -> s=2, p=3
      ("c", "string", true),          // absent in row 2 -> nullable
      ("d", "date", true)))
  }

  test("applyInferred casts in place") {
    import spark.implicits._
    val df = Seq(("1", "x"), ("2", "y")).toDF("n", "s")
    val out = SchemaInfer.applyInferred(df, SchemaInfer.inferFromStrings(df, Seq("n", "s")))
    assert(out.schema("n").dataType == LongType)
    assert(out.schema("s").dataType == StringType)
    assert(out.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) == 3L)
  }
}
