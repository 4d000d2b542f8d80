package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over the star schema: PageRank power iteration
  * on the undirected customer–supplier purchase graph (an edge per distinct
  * (o_custkey, l_suppkey) pair in the order history). Quality/centrality
  * propagation over a relation graph is a standard corpus-curation signal
  * (authority-weighted sampling); the operator here is the canonical
  * distributed formulation: each iteration is one equi-join of a per-node
  * contribution frame onto the edge list plus one aggregation — no
  * collects, no adjacency materialization on the driver.
  *
  * Cross-engine determinism (the interesting part): a straight double sum
  * over neighbor contributions is shuffle-order-dependent. Every
  * contribution r(u)/deg(u) is therefore rounded to the shared 6-decimal
  * grid and summed EXACTLY — so Spark's shuffle order and DuckDB's scan
  * order cannot disagree — then the damping arithmetic (one multiply, one
  * add) and the final round-6 are identical single IEEE ops on both
  * engines. The exact sum is carried as micro-unit LONGS (the round-6
  * value times 1e6 is an integer; recovered via one correctly-rounded
  * double op per value on each side): an 8-byte primitive sum where the
  * DECIMAL(38,6) the oracle SQL writes is a 16-byte BigDecimal-backed
  * aggregation — same rational number, associative on both engines,
  * bit-identical after the cast to double. This quantized
  * PageRank differs from the fp-exact value by < 1e-6 per edge per round,
  * and is BIT-identical across engines (the same pattern as the money-sum
  * DECIMAL convention).
  *
  * 100 TB shape (the 100x probe showed the checkpoint materialization
  * bytes, not the exchange count, dominate): the
  * materialized edge list carries ONLY (src, dst) — degree lives in a
  * separate |V|-row checkpointed frame, so the per-edge row is two longs
  * instead of three, and the per-round division+rounding runs over |V|
  * rows, not 2|E| (r(u)/deg(u) is the same value for every edge out of u).
  * Each iteration: a co-partitioned |V|⋈|V| shuffle-hash join builds the
  * contribution frame, a co-partitioned shuffle-hash fan-out join streams
  * the edge list (probe side — never sorted, never re-shuffled; the
  * checkpoint carries hashpartitioning(src)), and the dst-aggregation is
  * the round's ONE exchange, map-side combined down to ≤ |V| long rows per
  * task. At cluster scale both checkpoints bucket by node id; the rank
  * frame is |V| rows — orders of magnitude smaller than the |E|-row edge
  * list that dominates the join. When |V| itself is broadcast-sized
  * ([[vertexBroadcastablePool]] — the common case: vertex sets are
  * typically orders of magnitude smaller than edge sets), the checkpoint
  * partitions by dst instead and each round runs with ZERO shuffle
  * exchanges: broadcast contribution fan-out + an aggregation that
  * inherits the checkpoint's dst-partitioning.
  */
object Graph {

  val Damping = 0.85

  /** Teleport numerator written as its own literal: Scala's `1.0 - 0.85`
    * is 0.15000000000000002 while DuckDB's DECIMAL `1.0 - 0.85` casts to
    * the double nearest 0.15 — one ulp apart, enough to flip a round-6
    * knife edge. Both engines parse the literal `0.15` to the identical
    * double. */
  val TeleportNum = 0.15
  val PrRounds = 3

  /** Undirected edge list, both directions, one row per (src, dst).
    * Node ids are PACKED LONGS — custkey*2 for customers, suppkey*2+1 for
    * suppliers (disjoint by parity) — not the user-facing 'c<custkey>' /
    * 's<suppkey>' strings: the edge list is the table every iteration
    * joins and the checkpoint materializes, and at 100x it is 120 M rows —
    * two ~8-byte longs per row shuffle, sort and hash ~3x smaller/faster
    * than two rendered strings. The string form exists only in
    * [[qPagerank]]'s final |V|-row projection (the 100x probe showed the
    * checkpoint materialization, not the exchanges, dominates at scale). */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("cust"),
        (col("l_suppkey").cast("long") * 2 + 1).as("supp"))
      .distinct()
    pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst")))
  }

  /** Render a packed node id back to the user-facing string id. */
  private def nodeLabel(id: Column): Column =
    when(id % 2 === 0, concat(lit("c"), (id / 2).cast("long")))
      .otherwise(concat(lit("s"), ((id - 1) / 2).cast("long")))

  /** The edge list as [[buildCheckpoint]] materializes it, LAZY: hash-
    * clustered on dst under the broadcast strategy, on src otherwise, into
    * [[edgePartitionsFor]] partitions; returned with the storage format
    * ([[edgeSerializedForPool]]) the checkpoint uses. The union's two
    * branches hang off the same distinct-pairs subplan, so the distinct
    * exchange is REUSED across branches (PlanSpec asserts it) and the
    * lineitem⋈orders source join runs once. No degree fold here: degree
    * is a property of the NODE, so materializing it per edge row would pay
    * 8 bytes × 2|E| and a window sort for a value the |V|-row degree frame
    * carries for free. */
  private[graft] def edgeLayout(spark: SparkSession, dir: String,
      bcast: Boolean): (DataFrame, Boolean) = {
    val liRows = Tables.rowCount(spark, dir, "lineitem") // footer metadata, no job
    val serialized = edgeSerializedForPool(liRows, clusterPools(spark)._1)
    val parts = edgePartitionsFor(liRows, spark.sparkContext.defaultParallelism, serialized)
    (edges(spark, dir).repartition(parts, col(if (bcast) "dst" else "src")), serialized)
  }

  /** The memory pools the footprint heuristics must respect, read from the
    * context's block-manager registry ([[org.apache.spark.sql.graft.Bridge
    * .memoryPools]]) instead of the driver JVM's Runtime.maxMemory — under
    * `local-cluster[2,16,8192]` the driver's 32 g heap says nothing about
    * the two 7 g executor pools that actually store the checkpoint:
    *  - `aggregate` = sum of EXECUTOR pools — what the spread-out edge
    *    checkpoint competes for ([[edgeSerializedForPool]] compares
    *    total-vs-total);
    *  - `minPerJvm` = min over driver AND executors — a broadcast relation
    *    must fit each executor's pool AND the driver (which collects the
    *    rows before rebroadcast), so the binding constraint is the
    *    smallest JVM ([[vertexBroadcastablePool]]).
    * In local mode the registry holds exactly the driver entry, whose
    * registered pool is the (heap − 300 MB) × 0.6 derivation of
    * [[unifiedPoolOf]] — both values collapse to it.
    * Split is a pure function ([[poolSplit]], spec-pinned); the fallback
    * (registry briefly empty at startup) derives the driver pool locally,
    * which under-estimates a cluster and thus fails CONSERVATIVE
    * (serialized storage, no broadcast). */
  private[graft] def clusterPools(spark: SparkSession): (Long, Long) =
    poolSplit(org.apache.spark.sql.graft.Bridge.memoryPools(spark),
      unifiedPoolOf(Runtime.getRuntime.maxMemory))

  private[graft] def poolSplit(pools: Seq[(String, Long)], fallback: Long): (Long, Long) = {
    val execs = pools.collect { case (id, m) if id != "driver" => m }
    val driver = pools.collectFirst { case ("driver", m) => m }.getOrElse(fallback)
    if (execs.isEmpty) (driver, driver)
    else (execs.sum, math.min(driver, execs.min))
  }

  /** (heap − 300 MB reserved) × 0.6 — Spark's default unified-pool size for
    * a JVM of `heapBytes`; the registered block-manager max is this same
    * number, so specs that pin the pool forms at a given heap size see
    * what the registry-based call sites see. */
  private[graft] def unifiedPoolOf(heapBytes: Long): Long =
    ((heapBytes - (300L << 20)) * 0.6).toLong

  /** Edge-checkpoint partition count. In the memory-comfortable
    * (deserialized) regime the count is simply the cluster-parallelism
    * floor, power-of-two rounded — extra partitions only add task-launch
    * overhead (measured: 128 vs 32 partitions cost ~25% per iteration at
    * 100x under a 32 GiB pool). In the memory-TIGHT (serialized) regime
    * the count is additionally row-derived at ~1 M edges (~40 MB
    * serialized) per partition, same convention as
    * `Bucketed.bucketCountFor`, because the target then BOUNDS what a
    * concurrent stage can pin: every task reading a cached partition
    * holds its block's read lock for the whole iteration, so a 32-wide
    * stage over a 32-partition checkpoint pins the ENTIRE edge list in
    * storage memory at once — at 100x (~100 M rows, ~4.2 GB serialized)
    * that made the unified pool non-evictable and starved the degree
    * aggregation's hash maps out of an 8 GiB JVM ("Unable to acquire
    * 262144 bytes"); at ~40 MB per partition, N concurrent readers pin
    * ≤ N×40 MB while the rest of the checkpoint evicts to disk.
    * lineitemRows is the cheap upper bound for the distinct pair count
    * (×2 for both directions); a pure function, spec-pinned, so
    * re-invocations agree by construction. */
  private[graft] def edgePartitionsFor(lineitemRows: Long, parallelism: Int,
      serialized: Boolean): Int = {
    val byRows =
      if (serialized)
        (2 * lineitemRows + TargetEdgesPerPartition - 1) / TargetEdgesPerPartition
      else 1L
    val floor = math.max(parallelism.toLong, byRows)
    Integer.highestOneBit(math.min(floor, 1L << 20).toInt - 1) * 2 match {
      case 0 => 1
      case p => p
    }
  }

  private val TargetEdgesPerPartition = 1000000L

  /** Whether the per-round contribution frame (|V| rows of two longs)
    * should be BROADCAST instead of shuffle-hash-joined. When it is, the
    * edge checkpoint partitions by DST and every iteration becomes
    * exchange-free: the fan-out is a map-side broadcast join streamed over
    * the checkpoint in place, and the dst-aggregation's required
    * distribution is already the checkpoint's partitioning — so the
    * per-round shuffle of partially-combined (dst, c) rows disappears
    * entirely (at 100× that exchange carried ~32 tasks × up-to-|V|
    * combiner rows ≈ half the edge count per round). Broadcast is only
    * sound while every JVM can hold a |V|-row hashed relation: ~64 B/entry
    * (dense long-key slot + 2-long UnsafeRow + headers) — and not one
    * relation but [[PrRounds]] + 1 of them AT ONCE: the final action
    * executes all rounds in a single plan, so every round's contribution
    * broadcast plus the degree broadcast are live in the block manager
    * simultaneously (ReuseExchange collapses the degree copies but each
    * round's contribution frame is distinct). The 1000× probe measured
    * exactly this: 16 M vertices under a 19 GiB pool — a single-relation
    * estimate (1.0 GiB ≤ pool/8 = 2.4 GiB) said broadcast, and the
    * BroadcastExchange build died with "Not enough memory to build and
    * broadcast" because 4 relations plus the collect/build transient had
    * to coexist with the serialized edge checkpoint saturating storage.
    * The (PrRounds+1)-relation working set is capped at 1/8 of the
    * unified pool so it never crowds the join/aggregation memory or the
    * checkpoint's storage residency, and at 64 M rows absolute (well under
    * Spark's 512 M-row / 8 GB broadcast hard limits). Above that the
    * src-partitioned shuffle-hash shape takes over — it scales to any |V|.
    *
    * vUpper is the customer+supplier footer row-count sum: every node is
    * one customer or one supplier, so it bounds |V| with no job.
    * `minJvmPoolBytes` is the SMALLEST unified pool the relations must fit
    * ([[clusterPools]]' minPerJvm): every executor, plus the driver, which
    * collects the rows before rebroadcast. The check is per-JVM, not
    * aggregate, because driver and executor pools are configured
    * independently. Pure function of (rows, pool) — spec-pinned,
    * re-invocations agree by construction. */
  private[graft] def vertexBroadcastablePool(vUpper: Long, minJvmPoolBytes: Long): Boolean = {
    val estBytes = vUpper * 64L * (PrRounds + 1)
    vUpper <= (64L << 20) && estBytes <= minJvmPoolBytes / 8
  }

  /** The MIDDLE tier: when each round's rank frame is MATERIALIZED
    * (localCheckpoint) before the next round plans, every executing job
    * holds at most TWO live hashed relations — the current round's
    * contribution frame plus the (reused) degree frame — instead of
    * [[PrRounds]] + 1, so the broadcast strategy's ×2 budget admits vertex
    * sets the fused-plan ×(PrRounds+1) budget rejects. The 1000× probe
    * measured exactly that boundary: |V| = 16 M under a 19 GiB pool died
    * in the fused plan's BroadcastExchange build (4 relations + the
    * collect/build transient co-resident with the edge checkpoint) but is
    * admissible at 2 — and the broadcast shape's zero-per-round-exchange
    * iteration (7.90 vs 11.71 s at 100×) becomes reachable one more decade
    * up. Same 1/8-of-pool margin and 64 M-row absolute cap as the fused
    * tier; the per-round materialization the tier pays for is a |V|-row
    * frame, orders below the 2|E| fan-out it buys back per round. Pure
    * function of (rows, pool) — spec-pinned. */
  private[graft] def vertexBroadcastableMaterializedPool(vUpper: Long,
      minJvmPoolBytes: Long): Boolean = {
    val estBytes = vUpper * 64L * 2
    vUpper <= (64L << 20) && estBytes <= minJvmPoolBytes / 8
  }

  /** Whether the edge checkpoint should store SERIALIZED blocks: true iff
    * the estimated deserialized footprint (~100 B per edge row: UnsafeRow
    * object + backing byte[] + array-slot headers around 24 payload bytes)
    * would take more than ~80% of `aggregatePoolBytes`, the summed unified
    * pools of the JVMs that store checkpoint blocks ([[clusterPools]]'
    * aggregate: the executors; the driver in local mode). The checkpoint
    * spreads across executors, so total bytes vs summed pools is the right
    * inequality on a cluster too. Measured A/B at 100x (~100 M edge rows):
    * deserialized is ~1.7x faster per iteration when it fits (11.8 s vs
    * 19.7 s at 32 GiB — zero-copy reads) but thrashes then dies when it
    * does not (87 s limp, then task failure at 8 GiB), while serialized
    * (~40 B/row, evictable to disk) runs everywhere — so the format
    * follows the resource constraint rather than either being hardcoded.
    * Pure function of (rows, pool) — spec-pinned, re-invocations agree by
    * construction. */
  private[graft] def edgeSerializedForPool(lineitemRows: Long, aggregatePoolBytes: Long): Boolean = {
    val estDeserialized = 2 * lineitemRows * 100L // upper bound: 2|E| <= 2*|lineitem|
    estDeserialized > aggregatePoolBytes * 8 / 10
  }

  /** Checkpointed (edge frame, degree frame, |V|) per (context, dir) —
    * built once per JVM and REUSED across invocations: the edge list is
    * deterministic per input dir, i.e. MODEL STATE, the same convention as
    * quantile boundaries, IVF centroids, and the bucketed layouts. One live
    * copy per (context, dir) bounds block-manager usage without a rebuild
    * per call — the dominant per-invocation cost — and returned frames
    * stay valid across re-invocations AS LONG AS the source dir's content
    * is unchanged. The entry is fingerprint-validated: regenerating the
    * source parquet makes the next invocation rebuild and unpersist the
    * stale blocks (onStale below) — frames built from the REPLACED data
    * are invalidated by design (serving them would resurrect deleted
    * data); consume prior results before regenerating inputs. */
  private val liveCkpt = scala.collection.concurrent.TrieMap.empty[String,
    (String, (DataFrame, DataFrame, Long, Boolean, Boolean, Seq[org.apache.spark.rdd.RDD[_]]))]

  /** Source tables the checkpoint derives from — the fingerprint scope of
    * the registry entry ([[graft.ModelState.validated]]): edges read
    * lineitem⋈orders; the format/strategy heuristics
    * read customer+supplier row counts. Regenerating any of the four
    * rebuilds the checkpoint (and unpersists the stale blocks). */
  private def ckptSources(dir: String): Seq[String] =
    Seq("lineitem", "orders", "customer", "supplier").map(t => s"$dir/$t.parquet")

  /** PageRank after [[PrRounds]] quantized power iterations. */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val ckptKey = s"${spark.sparkContext.applicationId}|$dir"
    // Two eager materializations, but the second is the |V|-row degree
    // frame — negligible next to the 2|E|-row edge list, and it buys every
    // iteration a degree lookup with NO re-scan of the edge checkpoint
    // (deriving degrees lazily would re-aggregate all 2|E| rows per round).
    // Both checkpoints must carry a PLAIN hashpartitioning(src, P): AQE
    // would otherwise coalesce the repartition exchange into a
    // CoalescedHashPartitioning, which no downstream exchange can be asked
    // to match (canCreatePartitioning = false) — every round's |E|-row
    // join side would re-shuffle. With coalescing off for these two
    // materializations, Bridge.localCheckpointed preserves the clean
    // partitioning and the per-round joins consume both frames in place.
    val (eCkpt, degD, n, bcast, mat) = liveCkpt.synchronized {
      // drop entries left by a stopped context; the unpersist is
      // best-effort — a dead context's blocks died with its BlockManager
      graft.ModelState.evictStale(liveCkpt, spark)(
        _._2._6.foreach(_.unpersist(blocking = false)))
      val (e, d, nn, bc, m, _) = graft.ModelState.validated(
          liveCkpt, ckptKey, ckptSources(dir), "Graph.checkpoint")({
        val vUpper = Tables.rowCount(spark, dir, "customer") +
          Tables.rowCount(spark, dir, "supplier") // footer metadata, no job
        val minPool = clusterPools(spark)._2
        // three admission tiers: fused broadcast (one plan,
        // PrRounds+1 live relations), per-round-MATERIALIZED broadcast
        // (2 live relations — admits another decade of |V|), shuffle-hash
        // (any |V|). Both broadcast tiers key the checkpoint by dst.
        val bcFused = vertexBroadcastablePool(vUpper, minPool)
        val m = !bcFused && vertexBroadcastableMaterializedPool(vUpper, minPool)
        val bc = bcFused || m
        val (e, d, nn, rdds) = buildCheckpoint(spark, dir, bc)
        (e, d, nn, bc, m, rdds)
      }, onStale = _._6.foreach(_.unpersist(blocking = false)))
      (e, d, nn, bc, m)
    }
    iterate(eCkpt, degD, n, bcast, mat)
  }

  /** Materialize the (edge checkpoint, degree frame, |V|) triple for one
    * iteration strategy over [[edgeLayout]]. Storage format is
    * FOOTPRINT-derived (see [[edgeSerializedForPool]]): serialized blocks
    * when the deserialized edge list would crowd the unified pool, the
    * zero-copy deserialized form otherwise; the partition count follows
    * the format (see [[edgePartitionsFor]]). The iteration STRATEGY fixes
    * the checkpoint's partitioning key (see [[vertexBroadcastablePool]]):
    * dst under broadcast so every round's aggregation is exchange-free,
    * src for the shuffle-hash shape. The degree frame stays deserialized (|V| rows): under
    * src-partitioning its groupBy key IS the carried partitioning key (no
    * exchange); under dst-partitioning the build pays ONE
    * map-side-combined |V|-bounded exchange — a one-time cost the
    * per-round savings repay [[PrRounds]]-fold. Split from [[qPagerank]]
    * so PagerankProbe can A/B both strategies over their native layouts. */
  private[graft] def buildCheckpoint(spark: SparkSession, dir: String, bcast: Boolean)
      : (DataFrame, DataFrame, Long, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val (layout, serialized) = edgeLayout(spark, dir, bcast)
      val (e, eRdd) = org.apache.spark.sql.graft.Bridge.localCheckpointed(layout, serialized)
      val (d, dRdd) = org.apache.spark.sql.graft.Bridge
        .localCheckpointed(e.groupBy("src").agg(count(lit(1)).as("deg")))
      (e, d, dRdd.count(), Seq(eRdd, dRdd)) // |V|: one row per distinct src
    } finally spark.conf.set(coalesceKey, prevCoalesce)
  }

  /** Leftover per-round rank checkpoints from the PREVIOUS materialized
    * iteration of each context: the last intermediate round's blocks stay
    * live in the lineage of the frame the caller is still consuming, so
    * they are reclaimed at the START of the next materialized iterate —
    * the same deterministic-unpersist convention as the dedup rounds.
    * CONSUMPTION CONTRACT: because the key is
    * per-context (not per-invocation — a per-invocation key would leak the
    * prior call's blocks forever), a second materialize=true iterate()
    * reclaims the previous call's final-round localCheckpoint blocks, and
    * localCheckpoint TRUNCATES lineage — a still-unconsumed frame from the
    * prior call then fails irrecoverably instead of recomputing. Same
    * consume-before-reinvoke contract as [[liveCkpt]] (whose scaladoc
    * states it for the edge checkpoint): fully consume a materialized
    * iterate's result before starting the next one on the same context.
    * Every in-repo caller (qPagerank via the bench/oracle single-action
    * paths, GraphSpec's sequential tier pins) already does. */
  private val lastRoundCkpt = scala.collection.concurrent.TrieMap
    .empty[String, Seq[org.apache.spark.rdd.RDD[_]]]

  /** The [[PrRounds]] power iterations + final projection over an already
    * materialized (edge checkpoint, degree frame, |V|) triple. Split from
    * [[qPagerank]] so the spec can drive the SAME iteration over a
    * checkpoint built with either storage format or partitioning and
    * assert result equality end-to-end (format and strategy must be
    * invisible to the values — both paths compute the identical exact
    * micro-unit long sums, associative under any row order).
    *
    * `bcast = false` (any |V|): the checkpoint carries
    * hashpartitioning(src); each round shuffle-hash-joins the |V|-row
    * contribution frame against it (edge side streamed in place, never
    * sorted) and pays one map-side-combined exchange for the
    * dst-aggregation.
    *
    * `bcast = true` (broadcast-sized |V|, see [[vertexBroadcastablePool]]):
    * the checkpoint carries hashpartitioning(dst); the contribution frame
    * broadcasts, the fan-out join is map-side over the checkpoint in
    * place, and the dst-aggregation inherits the checkpoint's partitioning
    * — ZERO shuffle exchanges per round (the 100× probe's per-round
    * decomposition put the combiner exchange at ~32 × |V| rows ≈ half the
    * edge count; the one-time degree-build exchange repays it threefold at
    * [[PrRounds]] = 3). */
  private[graft] def iterate(eCkpt: DataFrame, degD: DataFrame, n: Long,
      bcast: Boolean = false, materialize: Boolean = false): DataFrame = {
    val spark = eCkpt.sparkSession
    if (materialize) {
      val key = s"${spark.sparkContext.applicationId}|rounds"
      graft.ModelState.evictStale(lastRoundCkpt, spark)(
        _.foreach(_.unpersist(blocking = false)))
      lastRoundCkpt.remove(key).foreach(_.foreach(_.unpersist(blocking = false)))
    }
    var prevRoundRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    val teleport = TeleportNum / n
    val deg = if (bcast) broadcast(degD) else degD.hint("shuffle_hash")
    var ranks = degD.select(col("src").as("node"), round(lit(1.0 / n), 6).as("rank"))
    for (r <- 1 to PrRounds) {
      // Per-NODE contribution: round(rank/deg, 6) is identical for every
      // edge out of src, so divide+round once per node, not per edge. The
      // round-6 double times 1e6 is an integer; round(·, 0) recovers it
      // exactly (the product sits within ~1e-10 of the integer, never near
      // a .5 knife edge), so the fan-out carries an 8-byte long and the
      // aggregation is an exact primitive sum — associative, shuffle-order
      // independent, equal to the oracle's DECIMAL(38,6) sum as a rational.
      // (broadcast(degD) is one relation reused across all rounds:
      // identical subplans, ReuseExchange collapses them.)
      val contrib = ranks.join(deg, col("node") === col("src"))
        .select(col("node"),
          round(round(col("rank") / col("deg"), 6) * 1e6, 0).cast("long").as("c"))
      // Fan-out: the edge checkpoint is the streamed/probe side either
      // way — never sorted (an SMJ would re-sort 2|E| rows every round),
      // never re-shuffled (the join matches the carried partitioning, or
      // is map-side under broadcast).
      val fanIn = if (bcast) broadcast(contrib) else contrib.hint("shuffle_hash")
      ranks = eCkpt.join(fanIn, col("src") === col("node"))
        .groupBy(col("dst").as("node"))
        // k.toDouble / 1e6 is one correctly-rounded IEEE divide — the same
        // double DuckDB's CAST(DECIMAL(38,6) AS DOUBLE) produces for the
        // same exact sum k/1e6.
        .agg(round(lit(teleport) + lit(Damping) * (sum(col("c")).cast("double") / 1e6), 6)
          .as("rank"))
      // Materialized-broadcast tier: checkpoint every
      // INTERMEDIATE round's |V|-row rank frame so the next round's job
      // plans against a leaf — at most the CURRENT round's contribution
      // broadcast plus the degree broadcast are ever live (the ×2 budget
      // of [[vertexBroadcastableMaterializedPool]]). The final round stays
      // lazy: the caller's one action holds exactly 2 relations too. The
      // materialized values are bit-identical (localCheckpoint replays
      // computed rows), so strategy stays invisible to results —
      // GraphSpec pins all three tiers equal. Round r−1's blocks are
      // reclaimed the moment round r is materialized; the last
      // intermediate round's blocks stay for the caller's action and are
      // reclaimed on the next materialized iterate (see [[lastRoundCkpt]]).
      if (materialize && r < PrRounds) {
        val (ck, rdd) = org.apache.spark.sql.graft.Bridge.localCheckpointed(ranks)
        ranks = ck
        prevRoundRdd.foreach(_.unpersist(blocking = false))
        prevRoundRdd = Some(rdd)
      }
    }
    if (materialize) prevRoundRdd.foreach { last =>
      lastRoundCkpt(s"${spark.sparkContext.applicationId}|rounds") = Seq(last)
    }
    // |V|-row final projection: packed ids -> user-facing string ids,
    // ordered as the oracle orders them (string sort)
    ranks.select(nodeLabel(col("node")).as("node"), col("rank"))
      .orderBy("node")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> qPagerank
  )

  def oracleSql: Map[String, String] = {
    // every scalar is forced to DOUBLE: DuckDB evaluates bare `1.0 - 0.85`
    // in DECIMAL arithmetic, which would diverge from Spark's doubles
    val step = (i: Int) =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    round((SELECT tp FROM consts) + CAST($Damping AS DOUBLE) *
         |      CAST(SUM(CAST(round(r.rank / d.deg, 6) AS DECIMAL(38,6))) AS DOUBLE), 6) AS rank
         |  FROM e JOIN r${i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    Map(
      "q_pagerank" ->
        s"""WITH p AS (
           |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cust,
           |         's' || CAST(l_suppkey AS VARCHAR) AS supp
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |e AS (SELECT cust AS src, supp AS dst FROM p
           |      UNION ALL SELECT supp, cust FROM p),
           |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
           |consts AS (SELECT CAST($TeleportNum AS DOUBLE) / COUNT(*) AS tp,
           |                  COUNT(*) AS n FROM deg),
           |r0 AS (SELECT src AS node,
           |       round(CAST(1.0 AS DOUBLE) / (SELECT n FROM consts), 6) AS rank FROM deg),
           |${(1 to PrRounds).map(step).mkString(",\n")}
           |SELECT node, rank FROM r$PrRounds ORDER BY node""".stripMargin
    )
  }
}
