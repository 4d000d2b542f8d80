package graft

class EntrySpec extends SparkSpec {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; oracle-less queries are known") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle without query: ${o.diff(q)}")
    val rowsOnly = q.diff(o)
    // q_ann_pq: STATICALLY rows-only (codebooks are per-dir model state)
    // but covered by the dynamic lane below — Verify dumps oracleSqlFor.
    // q_approx_sketches: the one PERMANENT rows-only row — HLL/GK sketch
    // bytes are engine-specific by definition; its exact core is the
    // hash-checked q_sketch_gate_exact and the result carries its own
    // exact-vs-approx within_bound gates (ApproxSpec).
    assert(rowsOnly == Set("q_approx_sketches", "q_ann_pq"),
      s"unexpected rows-only: $rowsOnly")
    val dyn = SparkEntry.oracleSqlFor(spark, "/root/testdata/sf0.001").keySet
    assert(dyn.subsetOf(q), s"dynamic oracle without query: ${dyn.diff(q)}")
    assert(q.diff(dyn) == Set("q_approx_sketches"),
      "q_ann_pq must ride the dynamic oracle lane; only the sketch row stays rows-only")
  }

  test("model-state registries rebuild on regenerated parquet (round-14 verdict item 2, end-to-end)") {
    // Tables.rowCount is the count every layout/format derivation reads;
    // its footer cache checks freshness through ModelState.validatedBy,
    // the rule every registry shares, so this is the one end-to-end pin
    // needed on top of ModelStateSpec's helper-contract tests: regenerate
    // the parquet IN THE SAME app and the lookup must re-derive instead
    // of serving the old count.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_regen").toString
    (1L to 5L).toDF("k").coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.rowCount(spark, dir, "t") == 5L)
    (1L to 9L).toDF("k").coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.rowCount(spark, dir, "t") == 9L,
      "regenerated parquet must re-derive the footer count, not serve the cache")
  }

  test("query names are unique across modules (no silent map overwrites)") {
    // count SparkEntry's OWN module list (round 15: a hand-copied list
    // here drifted the moment a new module landed — the spec failed for
    // the wrong reason instead of guarding the right one)
    val total = SparkEntry.modules.map(_._1.size).sum
    assert(SparkEntry.queries.size == total, "duplicate query name across modules")
    val oracleTotal = SparkEntry.modules.map(_._2.size).sum
    assert(SparkEntry.oracleSql.size == oracleTotal,
      "duplicate oracle key across modules")
    // deliberate exact-count pin (round-15 follow-up review): the derived
    // total above can't see a module that exists but was never registered
    // in SparkEntry.modules, and it can't see an accidental removal. This
    // literal can — update it CONSCIOUSLY when the contract surface
    // changes, and check the module is in SparkEntry.modules when you do.
    // round 17: +q_json_scan (JsonSource module, registered) and
    // +q_rolling_tws_live (StreamOps) — both on the oracle lane
    // round 18: +16 TPC-H gauntlet queries (TpcH module, registered),
    // all on the static oracle lane (128+16=144 / 126+16=142); q_ann_pq
    // additionally rides the DYNAMIC oracle lane (oracleSqlFor), which
    // the static count deliberately excludes
    assert(SparkEntry.queries.size == 144,
      s"contract surface changed (${SparkEntry.queries.size} queries): update this " +
        "pin deliberately and confirm the new/removed module is registered in SparkEntry.modules")
    assert(SparkEntry.oracleSql.size == 142,
      s"oracle surface changed (${SparkEntry.oracleSql.size} keys): update this pin deliberately")
  }
}
