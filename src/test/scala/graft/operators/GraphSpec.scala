package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {

  test("pagerank: mass conserved within quantization, hubs outrank leaves") {
    val rows = Graph.qPagerank(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 > 0.0), "every rank strictly positive (teleport floor)")
    // per-node round-6 quantization drifts total mass by at most
    // n * 5e-7 * (1 + d + d^2) per the 3 rounds
    val mass = rows.map(_._2).sum
    val tol = rows.length * 5e-7 * 3 + 1e-6
    assert(math.abs(mass - 1.0) <= tol, s"rank mass $mass outside 1 +- $tol")
    // suppliers are hubs (every supplier serves many customers): the top
    // rank must be a supplier node and the mean supplier rank must exceed
    // the mean customer rank
    val (supp, cust) = rows.partition(_._1.startsWith("s"))
    assert(supp.nonEmpty && cust.nonEmpty)
    assert(rows.maxBy(_._2)._1.startsWith("s"), "top-ranked node must be a supplier hub")
    assert(supp.map(_._2).sum / supp.length > cust.map(_._2).sum / cust.length,
      "mean supplier rank must exceed mean customer rank")
  }

  test("serialized edge checkpoint yields byte-identical pagerank results") {
    // qPagerank picks the checkpoint's storage format from the estimated
    // footprint (Graph.edgeSerializedForPool) — at fixture scale that is
    // the deserialized form, so the serialized path would otherwise only
    // ever run at probe scale. Drive Graph.iterate (the production
    // iteration) over the production edge layout checkpointed serialized
    // via the same Bridge call and assert the ranks equal the production
    // path's exactly: the storage format must be invisible to the values.
    // This is ALSO the cross-STRATEGY equality pin: iterate here runs the
    // src-partitioned shuffle-hash shape (bcast = false) while the
    // production path at fixture |V| runs the broadcast/dst-partitioned
    // shape — the exact micro-unit long sums are associative under any
    // row order, so both must produce identical bytes.
    import org.apache.spark.sql.functions._
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    val (e, eRdd, d, dRdd) =
      try {
        spark.conf.set(coalesceKey, "false")
        val (e, eRdd) = org.apache.spark.sql.graft.Bridge
          .localCheckpointed(Graph.edgeLayout(spark, sf, bcast = false)._1, serialized = true)
        val (d, dRdd) = org.apache.spark.sql.graft.Bridge
          .localCheckpointed(e.groupBy("src").agg(count(lit(1)).as("deg")))
        (e, eRdd, d, dRdd)
      } finally spark.conf.set(coalesceKey, prev)
    try {
      assert(!eRdd.getStorageLevel.deserialized, "edge checkpoint must be serialized")
      val fromSer = Graph.iterate(e, d, dRdd.count()).collect().toSeq
      val production = Graph.qPagerank(spark, sf).collect().toSeq
      assert(fromSer == production,
        "serialized-format checkpoint must produce identical ranks")
    } finally Seq(eRdd, dRdd).foreach(_.unpersist(blocking = true))
  }

  test("materialized-broadcast tier yields byte-identical pagerank results (round 19)") {
    // the middle tier: per-round rank materialization under the
    // broadcast strategy (≤ 2 live hashed relations instead of PrRounds+1).
    // Strategy and materialization must be invisible to the values — the
    // exact micro-unit long sums are associative, and localCheckpoint
    // replays computed rows bit-for-bit.
    import org.apache.spark.sql.functions._
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    val (e, d, nn, rdds) =
      try {
        spark.conf.set(coalesceKey, "false")
        Graph.buildCheckpoint(spark, sf, bcast = true)
      } finally spark.conf.set(coalesceKey, prev)
    try {
      val mat = Graph.iterate(e, d, nn, bcast = true, materialize = true)
        .collect().toSeq
      val production = Graph.qPagerank(spark, sf).collect().toSeq
      assert(mat == production,
        "per-round materialization must produce identical ranks")
    } finally rdds.foreach(_.unpersist(blocking = true))
  }

  test("materialized tier admits the fused tier's r18 failure point (round 19)") {
    // the fused ×(PrRounds+1) budget rejects |V|=16M under the 32g pool
    // (the 1000× BroadcastExchange OOM) — the ×2 materialized budget
    // must ADMIT it (2.05 GB ≤ pool/8 = 2.38 GB), which is the whole point
    // of decoupling the live-relation count from PrRounds
    val heap32g = 32L << 30
    val unified = ((heap32g - (300L << 20)) * 0.6).toLong
    assert(!Graph.vertexBroadcastablePool(16000000L, Graph.unifiedPoolOf(heap32g)),
      "fused tier still rejects 16M at 32g")
    assert(Graph.vertexBroadcastableMaterializedPool(16000000L, unified),
      "materialized tier must admit 16M at 32g")
    assert(!Graph.vertexBroadcastableMaterializedPool(100000000L, unified),
      "100M rows > 64M absolute cap")
    assert(!Graph.vertexBroadcastableMaterializedPool(unified / 8 / 128 + 1, unified),
      "bytes estimate crossing pool/8 must flip to shuffle-hash")
    assert(Graph.vertexBroadcastableMaterializedPool(unified / 8 / 128, unified))
  }

  test("iteration strategy derives from the vertex-set footprint (round 12)") {
    // Broadcast iff the FULL working set — (PrRounds + 1) simultaneously
    // live |V|-row hashed relations at ~64 B/entry (the final action
    // executes every round's contribution broadcast plus the degree
    // broadcast in one plan) — fits in 1/8 of the unified pool AND under
    // a 64 M-row absolute cap; same pure-function convention as
    // edgeSerializedForPool, so re-invocations agree by construction.
    val heap32g = 32L << 30
    val unified = ((heap32g - (300L << 20)) * 0.6).toLong
    val perRow = 64L * (Graph.PrRounds + 1)
    def fits(vUpper: Long, heap: Long): Boolean =
      Graph.vertexBroadcastablePool(vUpper, Graph.unifiedPoolOf(heap))
    assert(fits(1600000L, heap32g), "100x |V|=1.6M at 32g")
    assert(fits(16000L, 8L << 30), "fixture |V| at dev 8g")
    assert(!fits(100000000L, heap32g), "100M rows > 64M cap")
    // 1000x probe: 16M vertices under the 32g (19GiB) pool DIED in the
    // BroadcastExchange build — the heuristic must say shuffle-hash
    assert(!fits(16000000L, heap32g),
      "1000x |V|=16M at 32g must flip to shuffle-hash (1000x probe failure)")
    assert(!fits(unified / 8 / perRow + 1, heap32g),
      "bytes estimate crossing pool/8 must flip to shuffle-hash")
    assert(fits(unified / 8 / perRow, heap32g))
  }
}
