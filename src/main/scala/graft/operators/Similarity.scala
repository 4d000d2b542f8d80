package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over `embeddings` (SURVEY §2C / north star):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing as the scale path.
  *
  * 100 TB design:
  *  - brute force is O(Q x N) — correct only for small query sets; the fact
  *    side streams map-only (queries broadcast), so it scales with N but not
  *    with Q.
  *  - LSH bucketing is map-only per vector (8 fixed hyperplanes -> 8-bit
  *    bucket id); near-neighbor search then probes only matching buckets —
  *    an equi-join on bucket id instead of a cross join. The hyperplane sign
  *    matrix is a deterministic constant (md5-derived), identical across
  *    engines and executors, broadcast-free (folded into the plan).
  *
  * Determinism vs oracle: dot products accumulate left-to-right in array
  * index order with every element cast to double first, written identically
  * on both engines; similarity values are rounded to 6 before ranking, with
  * vec_id tiebreaks.
  */
object Similarity {

  val Dim = 64
  val TopK = 5
  val NQueries = 5

  /** LSH plane-count scaling (round-4): a FIXED plane count p gives 2^p
    * buckets forever, so within-bucket candidate pairs are O(n²/2^p) —
    * still quadratic in n. Instead the plane count grows with the corpus:
    * the smallest p in [MinPlanes, MaxPlanes] with n <= TargetBucket * 2^p,
    * i.e. p ≈ log2(n / TargetBucket), holding the EXPECTED bucket
    * occupancy at ~TargetBucket rows regardless of n — candidate pairs per
    * bucket stay O(TargetBucket²) and total candidates O(n · TargetBucket),
    * linear in n. The ladder is pure integer comparison (no log2 fp) so
    * Spark and the DuckDB oracle can never disagree at a boundary. */
  val TargetBucket = 64
  val MinPlanes = 8

  /** Ladder ceiling. 16 held the occupancy promise only to 64·2^16 ≈
    * 4.2 M vectors — the round-9 100× probe (6 M) crossed it silently,
    * occupancy drifting to ~91. 20 covers ~67 M vectors; past that a
    * real deployment re-derives the constant, it does not live with a
    * quadratic drift. No oracle-checked scale reaches 4.2 M, so every
    * gated result is unchanged; only the SQL ladder grows. */
  val MaxPlanes = 20

  def planesFor(n: Long): Int = {
    var p = MinPlanes
    while (p < MaxPlanes && n > (TargetBucket.toLong << p)) p += 1
    p
  }

  /** Deterministic ±1 hyperplane components: sign from the first hex digit
    * of md5("plane|dim"). Constant, engine-independent, reproducible. */
  lazy val planeSigns: Array[Array[Int]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(MaxPlanes, Dim) { (p, d) =>
      val h = mdig.digest(s"$p|$d".getBytes("UTF-8"))
      val firstHex = (h(0) >> 4) & 0xf
      if (firstHex < 8) 1 else -1
    }
  }

  /** Left-to-right double dot product of two float arrays — codegen'd
    * custom expression (the HOF zip_with/aggregate formulation is
    * CodegenFallback; fp semantics are identical, see DotProductSpec). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: queries = vec_id < NQueries, ranked among all
    * other vectors. Query side is tiny and broadcast; fact side streams. */
  def qCosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val sim = round(
      dot(col("q_emb"), col("embedding")) / (norm(col("q_emb")) * norm(col("embedding"))), 6)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), sim.as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select("query_id", "vec_id", "sim", "rn")
      .orderBy("query_id", "rn")
  }

  /** Signed projection of `embedding` onto plane `p`, as the codegen'd
    * [[graft.functions.DotProductExpr]] against the ±1f sign vector
    * (round 9 — the previous 64-term `element_at` tree × np planes was
    * the bench-visible cost of every LSH consumer; one fused loop per
    * plane replaces ~640-1024 expression nodes per row). Bit-identical
    * to the oracle's fixed-order ±CAST(embedding[d] AS DOUBLE) sum:
    * `(double) e_d * (double) ±1.0f` is exactly ±e_d, the accumulation
    * order is the same left fold, and the only representable difference
    * (−0.0 vs +0.0 when every term is a signed zero) is invisible to the
    * `> 0` bucket-bit comparison that consumes the projection. */
  private def projection(p: Int): Column =
    graft.functions.DotProductExpr.dot(
      col("embedding"), typedlit(planeSigns(p).map(_.toFloat)))

  /** Map-only size-scaled LSH bucket id: `np = planesFor(corpus count)`
    * planes — see the TargetBucket scaladoc for the O(n·TargetBucket)
    * candidate math. The count is one parquet-metadata job at plan build. */
  private def lshBucket(np: Int): Column =
    (0 until np)
      .map(p => when(projection(p) > 0, lit(1 << p)).otherwise(0))
      .reduce(_ + _)

  /** Corpus size per input dir — a pure data property cached for the JVM
    * (round 8; same convention as StreamOps.maxEventUs), so the four LSH
    * consumers stop paying a count job per invocation. Fingerprint-
    * validated on every lookup ([[graft.ModelState.validated]], round-14
    * verdict item 2): a regenerated embeddings table re-counts instead of
    * sizing the LSH plane count for a corpus that no longer exists. */
  private val nEmbCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]

  private def nEmbeddings(spark: SparkSession, dir: String): Long =
    graft.ModelState.validated(nEmbCache, dir,
      Seq(s"$dir/embeddings.parquet"), "Similarity.nEmbeddings")(
      Tables.embeddings(spark, dir).count())

  /** Bucket ids for an arbitrary embedding frame at an explicit plane count
    * (spec hook: proves the recall property survives higher plane counts). */
  private[graft] def bucketOf(df: DataFrame, np: Int): DataFrame =
    df.withColumn("bucket", lshBucket(np))

  /** LSH bucket assignment + bucket occupancy: map-only np-bit bucket id per
    * vector; the bucket histogram shows the partition-pruning structure a
    * 100 TB ANN probe would use. Occupancy is a groupBy (map-side combined,
    * 2^np tiny rows) broadcast-joined back — not a count-over-window, which
    * would shuffle every vector into per-bucket partitions. */
  def qAnnLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val bucket = lshBucket(planesFor(nEmbeddings(spark, dir)))
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), bucket.as("bucket"))
    val occ = e.groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
    e.join(broadcast(occ), "bucket")
      .select(col("vec_id"), col("bucket"), col("bucket_n"))
      .orderBy("vec_id")
  }

  /** Bucketed ANN probe: cosine top-3 within the query vector's own LSH
    * bucket (candidate pruning via equi-join on bucket id — the scale path;
    * recall vs brute force is property-tested in ScalaTest). */
  def qAnnLshProbe(spark: SparkSession, dir: String): DataFrame = {
    val bucket = lshBucket(planesFor(nEmbeddings(spark, dir)))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), bucket.as("bucket"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
    val sim = round(
      dot(col("q_emb"), col("embedding")) / (norm(col("q_emb")) * norm(col("embedding"))), 6)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    e.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), sim.as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("query_id", "vec_id", "sim", "rn")
      .orderBy("query_id", "rn")
  }

  /** Embedding-cosine near-duplicate pairs (the dedup-by-embedding member
    * of the north-star dedup family): candidate pairs = same LSH bucket
    * (equi-join, no O(n²) cross join), verified by cosine >= 0.3 (the corpus has no planted near-identical embeddings — max pairwise cosine ~0.51 — so the threshold selects the top-similarity tail). */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val bucket = lshBucket(planesFor(nEmbeddings(spark, dir)))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), bucket.as("bucket"))
    val a = e.as("a")
    val b = e.as("b")
    val sim = round(
      dot(col("a.embedding"), col("b.embedding")) /
        (norm(col("a.embedding")) * norm(col("b.embedding"))), 6)
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), sim.as("sim"))
      .filter(col("sim") >= 0.3)
      .orderBy("vec_a", "vec_b")
  }

  val NSeeds = 8
  val NProbe = 2
  val IvfQueryLo = 100

  /** IVF-style ANN (the other standard scale path besides LSH): a small set
    * of coarse centroids partitions the corpus into cells; a probe searches
    * only the `NProbe` cells nearest the query.
    *
    * Centroid choice is deterministic (the vectors with vec_id < NSeeds —
    * a stand-in for k-means output, which has no cross-engine oracle), and
    * centroids are collected once (NSeeds x Dim floats) and folded into the
    * plan as constants, so cell assignment is MAP-ONLY over the corpus —
    * exactly how a 100 TB scan assigns cells with broadcast centroids, with
    * no shuffle and no per-row join. The probe side is a broadcast equi-join
    * on cell id. Ranking: round-6 cosine, centroid/vector-id tiebreaks.
    */
  /** NSeeds x Dim centroid constants (vec_id < NSeeds — deterministic
    * k-means seed stand-in), collected once PER DIR and cached for the
    * JVM (round 9, same convention as [[nEmbCache]] — the per-invocation
    * collect was a small but repeated scan job charged to qAnnIvf,
    * qKmeansStep and qAnnRecall on every bench pass). */
  private val centCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Int, Array[Float])])]

  private def ivfCentroids(spark: SparkSession, dir: String): Array[(Int, Array[Float])] =
    // fingerprint-validated (round-14 verdict item 2): regenerated
    // embeddings re-collect the seed centroids instead of assigning cells
    // against a dead corpus's vectors
    graft.ModelState.validated(centCache, dir,
      Seq(s"$dir/embeddings.parquet"), "Similarity.ivfCentroids")(
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") < NSeeds)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .sortBy(_._1))

  private def centNorm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Map-only nearest-centroid cell id: round-6 cosine against each folded
    * centroid constant, argmax via struct `greatest` — each cosine subtree
    * evaluated once (a when-chain reduce would copy subtrees exponentially
    * and blow the 64 KB JVM codegen method limit). */
  private def cellExpr(cents: Array[(Int, Array[Float])])(emb: Column): Column = {
    def csim(p: Int): Column = {
      val (_, v) = cents(p)
      round(dot(emb, typedlit(v)) / (norm(emb) * lit(centNorm(v))), 6)
    }
    val best = greatest(cents.indices
      .map(p => struct(csim(p).as("s"), lit(-cents(p)._1).as("negid"))): _*)
    -best.getField("negid")
  }

  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val assigned = e.select(col("vec_id"), col("embedding"),
      cellExpr(cents)(col("embedding")).as("cell"))
    val q = assigned
      .filter(col("vec_id") >= IvfQueryLo && col("vec_id") < IvfQueryLo + NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // NProbe nearest cells per query (tiny: NQueries x NSeeds)
    val wP = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cent_id"))
    val probe = q.crossJoin(broadcast(
        spark.createDataFrame(cents.toSeq.map { case (id, v) => (id, v) })
          .toDF("cent_id", "c_emb")))
      .withColumn("csim", round(dot(col("q_emb"), col("c_emb")) /
        (norm(col("q_emb")) * norm(col("c_emb"))), 6))
      .withColumn("prn", row_number().over(wP))
      .filter(col("prn") <= NProbe)
      .select(col("query_id"), col("q_emb"), col("cent_id").as("cell"))
    val sim = round(
      dot(col("q_emb"), col("embedding")) / (norm(col("q_emb")) * norm(col("embedding"))), 6)
    val wR = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    assigned.join(broadcast(probe), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"), sim.as("sim"))
      .withColumn("rn", row_number().over(wR))
      .filter(col("rn") <= 3)
      .select("query_id", "vec_id", "cell", "sim", "rn")
      .orderBy("query_id", "rn")
  }

  /** Round-6 cosine similarity (higher = closer). */
  private def cosSim(q: Column, e0: Column): Column =
    round(dot(q, e0) / (norm(q) * norm(e0)), 6)

  /** Round-6 squared L2 distance expanded as |e|² + |q|² − 2·q·e over the
    * codegen dot (lower = closer) — the metric ADC approximates. */
  private def l2Sq(q: Column, e0: Column): Column =
    round(dot(e0, e0) + dot(q, q) - lit(2.0) * dot(q, e0), 6)

  /** Brute-force exact top-k for an arbitrary query id range (broadcast
    * query side, map-only fact side) — the ground truth for recall.
    * `score(q_emb, embedding)` picks the metric; `asc` its closeness
    * direction (cosine descending by default, L2 ascending). */
  private def bruteTopK(spark: SparkSession, dir: String, lo: Long, hi: Long,
                        k: Int, score: (Column, Column) => Column = cosSim,
                        asc: Boolean = false): DataFrame =
    bruteTopKIn(spark, dir, Seq((lo, hi)), k, score, asc)

  /** Multi-range variant: ONE corpus scan scores every query range at
    * once (round 8 — `qAnnRecall` needed two disjoint query sets, and two
    * bruteTopK calls meant two full corpus scans). Top-k stays the rank
    * WINDOW: a bounded typed-Aggregator top-k (map-side ≤ k rows per
    * partition) was built and MEASURED here and lost — the udaf path
    * deserializes every (sim, vec_id) row into JVM objects, which costs
    * more than the codegen'd sort it avoids at this k/corpus shape
    * (q_ann_recall 3.1 → 4.1 s, q_ann_pq 1.5 → 2.0 s; reverted). */
  private def bruteTopKIn(spark: SparkSession, dir: String,
                          ranges: Seq[(Long, Long)], k: Int,
                          score: (Column, Column) => Column = cosSim,
                          asc: Boolean = false): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val pred = ranges.map { case (lo, hi) =>
      col("vec_id") >= lo && col("vec_id") < hi }.reduce(_ || _)
    val q = e.filter(pred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val ordered = if (asc) col("sim").asc else col("sim").desc
    val w = Window.partitionBy("query_id").orderBy(ordered, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        score(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id")
  }

  /** Spec hook: the full-set brute top-k (DedupSimilaritySpec pins the
    * FULL-query-set recall property the subsampled driver gate no longer
    * exercises). */
  private[graft] def bruteTopKInSpec(spark: SparkSession, dir: String,
      ranges: Seq[(Long, Long)], k: Int): DataFrame =
    bruteTopKIn(spark, dir, ranges, k)

  /** True iff `id` is in the md5-subsampled recall-gate query set
    * (round-8 verdict item 3): selected when the first 4 hex chars of
    * md5("annrecall|<id>") mod 4 == 0. Over the contract's 10 fixed
    * candidate ids this keeps 1, 4 (lsh) and 103, 104 (ivf) — the query
    * ids are compile-time constants, so the subset is the SAME at every
    * scale, and the oracle SQL is generated from the same computed list,
    * sharing the subset with the Spark plan by construction (no
    * cross-engine md5 arithmetic in the hot path). */
  private def gateSelected(id: Long): Boolean = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"annrecall|$id".getBytes("UTF-8"))
    (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 4 == 0
  }

  /** The recall gate's md5-selected query ids, per method. */
  private[graft] lazy val lshGateIds: Seq[Long] =
    (0L until NQueries.toLong).filter(gateSelected)
  private[graft] lazy val ivfGateIds: Seq[Long] =
    (IvfQueryLo.toLong until (IvfQueryLo + NQueries).toLong).filter(gateSelected)

  /** Recall@3 of both ANN paths against exact brute-force top-3, per query
    * — the ScalaTest-only recall property promoted to a driver-visible
    * oracle check (both engines compute it deterministically: round-6 sims,
    * vec_id tiebreaks). LSH probes its own query set (vec_id < NQueries);
    * IVF probes vec_id in [IvfQueryLo, IvfQueryLo+NQueries).
    *
    * Round 8: the exact top-3 for BOTH query sets comes from ONE corpus
    * scan ([[bruteTopKIn]] with both ranges), and the plan references that
    * subplan exactly once — the brute frame (3 rows/query, every query
    * present) LEFT-joins the broadcast union of the two approx result
    * sets, so recall per (method, query) is `sum(hit)/3` in a single small
    * aggregation. The previous two-branch shape re-ran the brute scan per
    * method (a pushed-down range filter under each branch split the shared
    * exchange). Intersection symmetry makes the two formulations equal:
    * |brute ∩ approx| counted from either side, queries with no approx
    * rows coalesce to 0.
    *
    * Round 9: the gate runs on the md5-SUBSAMPLED query set
    * ([[lshGateIds]]/[[ivfGateIds]], ~40% of the 10 candidates) — the
    * brute scan is linear in queries × corpus, so gating a deterministic
    * subsample keeps the driver-visible recall check while shedding the
    * proportional scan cost (this query was the bench ceiling at 3.5 s).
    * The FULL-set recall property remains pinned at spec level
    * (DedupSimilaritySpec "ann recall full query set"); the subsample
    * filter also pushes into both approx subplans, so their probe work
    * shrinks to the gated queries too. */
  def qAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = bruteTopKIn(spark, dir,
      (lshGateIds ++ ivfGateIds).map(i => (i, i + 1)), 3)
      .withColumn("method",
        when(col("query_id") < NQueries, "lsh").otherwise("ivf"))
    val approx =
      qAnnLshProbe(spark, dir)
        .filter(col("query_id").isin(lshGateIds: _*))
        .select(lit("lsh").as("method"),
          col("query_id"), col("vec_id"), lit(1L).as("hit"))
        .unionAll(qAnnIvf(spark, dir)
          .filter(col("query_id").isin(ivfGateIds: _*))
          .select(lit("ivf").as("method"),
            col("query_id"), col("vec_id"), lit(1L).as("hit")))
    brute.join(broadcast(approx), Seq("method", "query_id", "vec_id"), "left")
      .groupBy("method", "query_id")
      .agg(round(sum(coalesce(col("hit"), lit(0L))) / 3.0, 6).as("recall"))
      .orderBy("method", "query_id")
  }

  /** One Lloyd/k-means iteration over the embedding corpus: map-only cell
    * assignment against the folded centroid constants, then the centroid
    * UPDATE as one aggregation — per (cell, dim) mean of the member
    * embeddings. Elements are rounded to the shared 6-decimal grid BEFORE
    * summing so the decimal sum (then one double division) is bit-identical
    * across engines regardless of accumulation order — the same
    * determinism pattern as the money sums. 100 TB shape: one scan, one
    * (cells x dims)-key aggregation with map-side combine; no shuffle of
    * the embedding column itself beyond the exploded (cell, dim, v) rows. */
  def qKmeansStep(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Decimals.dsum
    val e = Tables.embeddings(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val assigned = e.select(cellExpr(cents)(col("embedding")).as("cell"), col("embedding"))
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v0")))
      .select(col("cell"), (col("pos") + 1).as("dim"),
        round(col("v0").cast("double"), 6).as("v"))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"),
        round(dsum(col("v")) / count(lit(1)), 6).as("centroid"))
      .select("cell", "dim", "centroid", "n")
      .orderBy("cell", "dim")
  }

  // ------------------------------------------------- product quantization

  /** PQ geometry: Dim=64 split into M=16 subspaces of 4 dims, K=64
    * centroids per subspace -> 16 six-bit indices per vector (64 float32s
    * -> 12 bytes packed, ~21x compression; the coarser 8x16 geometry
    * measured recall@5 of only 0.08 on the i.i.d. fixture vs 0.48 for
    * this one). Codebooks train on the first PqTrainN vectors (a SAMPLE
    * is the production norm — codebooks are model state, like quantile
    * boundaries), K-means with PqIters Lloyd steps per subspace, all
    * driver-side doubles in fixed iteration order (deterministic; the
    * training set is PqTrainN x Dim floats, bounded). */
  val PqM = 16
  val PqSub = Dim / PqM
  val PqK = 64
  val PqIters = 3
  val PqTrainN = 512
  val PqQueryLo = 20L

  /** within_bound floor for q_ann_pq's in-query recall@5 gate. i.i.d.
    * random embeddings are the hard case for any quantizer (distance
    * concentration); measured recall_avg with the 16x64 geometry:
    * 0.48 at sf0.001, see DedupSimilaritySpec — the floor pins well above
    * the ~0.01 random-pick baseline, below measurement noise. */
  val PqRecallFloor = 0.3

  /** [m][j][d]: codebook centroid j of subspace m. Init = subvectors of the
    * first PqK training vectors (vec_id order); empty clusters keep their
    * previous centroid; assignment ties break to the lower j. */
  private[operators] def pqCodebooks(e: DataFrame): Array[Array[Array[Double]]] = {
    val train = e.filter(col("vec_id") < PqTrainN)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
    require(train.length >= PqK, s"PQ needs >= $PqK training vectors")
    Array.tabulate(PqM) { m =>
      val subs = train.map(v => java.util.Arrays.copyOfRange(v, m * PqSub, (m + 1) * PqSub))
      var cents = Array.tabulate(PqK)(j => subs(j).clone())
      for (_ <- 1 to PqIters) {
        val sums = Array.fill(PqK, PqSub)(0.0)
        val cnts = Array.fill(PqK)(0L)
        subs.foreach { s =>
          var (bj, bd) = (0, Double.MaxValue)
          for (j <- 0 until PqK) {
            var d2 = 0.0
            var d = 0
            while (d < PqSub) { val t = s(d) - cents(j)(d); d2 += t * t; d += 1 }
            if (d2 < bd) { bd = d2; bj = j }
          }
          var d = 0
          while (d < PqSub) { sums(bj)(d) += s(d); d += 1 }
          cnts(bj) += 1
        }
        cents = Array.tabulate(PqK)(j =>
          if (cnts(j) == 0) cents(j)
          else Array.tabulate(PqSub)(d => sums(j)(d) / cnts(j)))
      }
      cents
    }
  }

  /** Map-only PQ encoding via [[graft.functions.PqEncodeExpr]] — a
    * column-algebra argmin (struct-greatest over M·K distance subtrees)
    * expands past the 64 KB codegen method limit at the 16x64 geometry and
    * falls back to interpreted eval ~40x slower; the custom expression is
    * one static call over a referenced codebook array. */
  private def pqCodeExpr(cb: Array[Array[Array[Double]]])(emb: Column): Column =
    graft.functions.PqEncodeExpr.encodeCol(emb, cb)

  /** PQ ANN with asymmetric distance (ADC): encode the corpus to PqM
    * subspace indices map-only, then score each query against the CODES via
    * per-query lookup tables (LUT[m][j] = ||q_sub_m - c_mj||², folded as
    * constants) — distance = sum of PqM (16) array lookups per candidate
    * instead of 64 float multiplies, over ~20x less data. The scale path
    * when even one float
    * embedding column is too much memory traffic: IVF prunes candidates,
    * PQ compresses what remains (IVF-PQ = this plan composed with
    * [[qAnnIvf]]'s cell filter).
    *
    * One corpus scan: the 5 per-query distances ride one posexplode —
    * map-only before the rank window, join-free (plan-pinned in PlanSpec).
    * [[qAnnPq]] wraps this with the exact-recall self-gate; recall and
    * encoding invariants are spec-pinned (DedupSimilaritySpec). */
  private[graft] def pqAdcTop(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cb = pqCodebooks(e)
    val queries = e.filter(col("vec_id") >= PqQueryLo && col("vec_id") < PqQueryLo + NQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val luts: Array[Array[Array[Double]]] = queries.map { case (_, q) =>
      Array.tabulate(PqM, PqK) { (m, j) =>
        var d2 = 0.0
        var d = 0
        while (d < PqSub) { val t = q(m * PqSub + d) - cb(m)(j)(d); d2 += t * t; d += 1 }
        d2
      }
    }
    def adc(qi: Int)(code: Column): Column =
      (0 until PqM).map(m =>
        element_at(typedlit(luts(qi)(m).toSeq), element_at(code, m + 1) + 1))
        .reduce(_ + _)
    val enc = e.select(col("vec_id"), pqCodeExpr(cb)(col("embedding")).as("code"))
    val stacked = enc.select(col("vec_id"),
      posexplode(array(queries.indices.map(qi => adc(qi)(col("code"))): _*))
        .as(Seq("q_idx", "dist")))
      .select((col("q_idx").cast("long") + PqQueryLo).as("query_id"),
        col("vec_id"), round(col("dist"), 6).as("adc_dist"))
      .filter(col("vec_id") =!= col("query_id"))
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("vec_id"))
    stacked.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select("query_id", "vec_id", "adc_dist", "rn")
  }

  /** The PQ self-gate's exact core surfaced as its own oracle-checked
    * query (round-14 verdict item 3 — the `q_sketch_gate_exact` pattern
    * from round 12): exact squared-L2 top-k over the PQ query range, the
    * ground-truth frame [[qAnnPq]]'s recall gate joins against, now
    * hash-checked cell-by-cell against DuckDB instead of living only
    * inside a rows-only query's self-gate. Same plan shape as
    * [[bruteTopKIn]] (broadcast query side, one map-only corpus scan, rank
    * window) but KEEPS the distance and rank columns the recall join
    * drops — that projection difference is why this is a sibling, not a
    * call. Scale: linear in queries × corpus, the canonical ground-truth
    * scan shape. */
  def qPqGateExact(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") >= PqQueryLo && col("vec_id") < PqQueryLo + NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id").orderBy(col("l2_dist").asc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        l2Sq(col("q_emb"), col("embedding")).as("l2_dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select("query_id", "vec_id", "l2_dist", "rn")
      .orderBy("query_id", "rn")
  }

  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val pqTop = pqAdcTop(spark, dir)
    // Self-gate (the q_approx_sketches pattern, verdict r4 #7): exact float
    // L2 top-k over the same corpus in the same plan, then per-row
    // membership + the average recall@k against its spec-pinned floor — the
    // rows-only CORRECTNESS entry carries its own evidence instead of pure
    // trust. ADC approximates squared L2, so the ground truth metric is
    // [[l2Sq]], not cosine. The brute pass is one more broadcast-5-queries
    // scan of the corpus — the [[bruteTopK]] ground-truth shape
    // [[qAnnRecall]] uses, linear at any scale.
    val brute = bruteTopK(spark, dir, PqQueryLo, PqQueryLo + NQueries, TopK,
        score = l2Sq, asc = true)
      .withColumn("in_exact_topk", lit(true))
    val flagged = pqTop.join(broadcast(brute), Seq("query_id", "vec_id"), "left")
      .na.fill(false, Seq("in_exact_topk"))
    // Denominator = the ACTUAL PQ top-k row count, not NQueries*TopK: on a
    // corpus with fewer than TopK+1 vectors per query the constant would
    // under-report recall and flip within_bound spuriously (and disagree
    // with DedupSimilaritySpec's flagged/out.length recomputation).
    val recall = flagged.agg(
      round(sum(when(col("in_exact_topk"), 1.0).otherwise(0.0)) / count(lit(1)), 6)
        .as("recall_avg"))
    flagged.crossJoin(broadcast(recall))
      .withColumn("within_bound", col("recall_avg") >= PqRecallFloor)
      .select("query_id", "vec_id", "adc_dist", "rn",
        "in_exact_topk", "recall_avg", "within_bound")
      .orderBy("query_id", "rn")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans_step" -> qKmeansStep,
    "q_ann_pq" -> qAnnPq,
    "q_pq_gate_exact" -> qPqGateExact,
    "q_cosine_topk" -> qCosineTopk,
    "q_ann_lsh_buckets" -> qAnnLshBuckets,
    "q_ann_lsh_probe" -> qAnnLshProbe,
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_ann_ivf" -> qAnnIvf,
    "q_ann_recall" -> qAnnRecall
  )

  // ---------------------------------------------------------------- oracles

  /** Fixed-order SQL dot product a·b (same fp order as `dot`). */
  private def dotSql(a: String, b: String): String =
    (0 until Dim).map(d => s"CAST($a[${d + 1}] AS DOUBLE) * CAST($b[${d + 1}] AS DOUBLE)")
      .mkString("(", " + ", ")")

  private def projSql(p: Int): String =
    (0 until Dim).map { d =>
      val t = s"CAST(embedding[${d + 1}] AS DOUBLE)"
      if (planeSigns(p)(d) > 0) t else s"(-$t)"
    }.mkString("(", " + ", ")")

  /** The `planesFor` integer ladder as SQL — identical breakpoints, no fp. */
  private def nplanesCte: String = {
    val ladder = (MinPlanes until MaxPlanes)
      .map(p => s"WHEN n <= ${TargetBucket.toLong << p} THEN $p")
      .mkString(" ")
    s"nplanes AS (SELECT CASE $ladder ELSE $MaxPlanes END AS np FROM (SELECT COUNT(*) AS n FROM embeddings))"
  }

  /** Size-scaled bucket id: plane p contributes only when p < np. */
  private def bucketSql: String =
    (0 until MaxPlanes)
      .map(p => s"CASE WHEN $p < (SELECT np FROM nplanes) AND ${projSql(p)} > 0 THEN ${1 << p} ELSE 0 END")
      .mkString(" + ")

  def oracleSql: Map[String, String] = {
    val simSql =
      s"round(${dotSql("q.q_emb", "e.embedding")} / (sqrt(${dotSql("q.q_emb", "q.q_emb")}) * sqrt(${dotSql("e.embedding", "e.embedding")})), 6)"
    // exact fp mirror of l2Sq: ((e·e + q·q) − 2·q·e), round 6 — same
    // association order as the Column expression, fixed-order dot sums
    val l2Sql =
      s"round((${dotSql("e.embedding", "e.embedding")} + ${dotSql("q.q_emb", "q.q_emb")}) - 2.0 * ${dotSql("q.q_emb", "e.embedding")}, 6)"
    Map(
      "q_pq_gate_exact" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
           |           WHERE vec_id >= $PqQueryLo AND vec_id < ${PqQueryLo + NQueries}),
           |s AS (
           |  SELECT q.query_id, e.vec_id, $l2Sql AS l2_dist
           |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY l2_dist ASC NULLS FIRST, vec_id) AS rn FROM s)
           |SELECT query_id, vec_id, l2_dist, CAST(rn AS INTEGER) AS rn FROM r
           |WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin,
      "q_cosine_topk" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NQueries),
           |s AS (
           |  SELECT q.query_id, e.vec_id, $simSql AS sim
           |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC NULLS LAST, vec_id) AS rn FROM s)
           |SELECT query_id, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM r
           |WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin,
      "q_ann_lsh_buckets" ->
        s"""WITH $nplanesCte,
           |b AS (SELECT vec_id, CAST($bucketSql AS INTEGER) AS bucket FROM embeddings)
           |SELECT vec_id, bucket, CAST(COUNT(*) OVER (PARTITION BY bucket) AS BIGINT) AS bucket_n
           |FROM b ORDER BY vec_id""".stripMargin,
      "q_dedup_embedding" ->
        s"""WITH $nplanesCte,
           |b AS (SELECT vec_id, embedding, CAST($bucketSql AS INTEGER) AS bucket FROM embeddings),
           |s AS (
           |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
           |    round(${dotSql("x.embedding", "y.embedding")} /
           |      (sqrt(${dotSql("x.embedding", "x.embedding")}) * sqrt(${dotSql("y.embedding", "y.embedding")})), 6) AS sim
           |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
           |SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,
      "q_ann_ivf" -> {
        val csimSql =
          s"round(${dotSql("e.embedding", "c.c_emb")} / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("c.c_emb", "c.c_emb")})), 6)"
        val qsimSql =
          s"round(${dotSql("q.q_emb", "c.c_emb")} / (sqrt(${dotSql("q.q_emb", "q.q_emb")}) * sqrt(${dotSql("c.c_emb", "c.c_emb")})), 6)"
        val rsimSql =
          s"round(${dotSql("pp.q_emb", "a.embedding")} / (sqrt(${dotSql("pp.q_emb", "pp.q_emb")}) * sqrt(${dotSql("a.embedding", "a.embedding")})), 6)"
        s"""WITH c AS (SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings WHERE vec_id < $NSeeds),
           |asg0 AS (
           |  SELECT e.vec_id, e.embedding, c.cent_id, $csimSql AS csim
           |  FROM embeddings e CROSS JOIN c),
           |asg1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC NULLS LAST, cent_id) AS arn FROM asg0),
           |asg AS (SELECT vec_id, embedding, CAST(cent_id AS INTEGER) AS cell FROM asg1 WHERE arn = 1),
           |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
           |      WHERE vec_id >= $IvfQueryLo AND vec_id < ${IvfQueryLo + NQueries}),
           |p0 AS (
           |  SELECT q.query_id, q.q_emb, CAST(c.cent_id AS INTEGER) AS cell,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY $qsimSql DESC NULLS LAST, c.cent_id) AS prn
           |  FROM q CROSS JOIN c),
           |pp AS (SELECT query_id, q_emb, cell FROM p0 WHERE prn <= $NProbe),
           |s AS (
           |  SELECT pp.query_id, a.vec_id, a.cell, $rsimSql AS sim
           |  FROM asg a JOIN pp ON a.cell = pp.cell WHERE a.vec_id <> pp.query_id),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC NULLS LAST, vec_id) AS rn FROM s)
           |SELECT query_id, vec_id, cell, sim, CAST(rn AS INTEGER) AS rn FROM r
           |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin
      },
      "q_ann_lsh_probe" ->
        s"""WITH $nplanesCte,
           |b AS (SELECT vec_id, embedding, CAST($bucketSql AS INTEGER) AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b WHERE vec_id < $NQueries),
           |s AS (
           |  SELECT q.query_id, e.vec_id, $simSql AS sim
           |  FROM b e JOIN q ON e.bucket = q.bucket WHERE e.vec_id <> q.query_id),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC NULLS LAST, vec_id) AS rn FROM s)
           |SELECT query_id, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM r
           |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin,
      "q_kmeans_step" -> {
        val csimSql =
          s"round(${dotSql("e.embedding", "c.c_emb")} / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("c.c_emb", "c.c_emb")})), 6)"
        s"""WITH c AS (SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings WHERE vec_id < $NSeeds),
           |asg0 AS (SELECT e.vec_id, e.embedding, c.cent_id, $csimSql AS csim FROM embeddings e CROSS JOIN c),
           |asg1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC NULLS LAST, cent_id) AS arn FROM asg0),
           |asg AS (SELECT vec_id, embedding, CAST(cent_id AS INTEGER) AS cell FROM asg1 WHERE arn = 1),
           |ex AS (SELECT asg.cell, t.dim, round(CAST(embedding[t.dim] AS DOUBLE), 6) AS v
           |       FROM asg, generate_series(1, $Dim) t(dim))
           |SELECT cell, CAST(dim AS INTEGER) AS dim,
           |  round(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS centroid,
           |  CAST(COUNT(*) AS BIGINT) AS n
           |FROM ex GROUP BY cell, dim ORDER BY cell, dim""".stripMargin
      },
      "q_ann_recall" -> {
        val csimSql =
          s"round(${dotSql("e.embedding", "c.c_emb")} / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("c.c_emb", "c.c_emb")})), 6)"
        val qsimSql =
          s"round(${dotSql("q.q_emb", "c.c_emb")} / (sqrt(${dotSql("q.q_emb", "q.q_emb")}) * sqrt(${dotSql("c.c_emb", "c.c_emb")})), 6)"
        val rsimSql =
          s"round(${dotSql("pp.q_emb", "a.embedding")} / (sqrt(${dotSql("pp.q_emb", "pp.q_emb")}) * sqrt(${dotSql("a.embedding", "a.embedding")})), 6)"
        // the gate's md5-subsampled query ids, generated from the SAME
        // computed lists as the Spark plan (round 9)
        val lshIn = lshGateIds.mkString(", ")
        val ivfIn = ivfGateIds.mkString(", ")
        def brute(pref: String, ids: String): String =
          s"""${pref}q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
             |  WHERE vec_id IN ($ids)),
             |${pref}s AS (SELECT q.query_id, e.vec_id, $simSql AS sim
             |  FROM embeddings e CROSS JOIN ${pref}q q WHERE e.vec_id <> q.query_id),
             |${pref}r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC NULLS LAST, vec_id) AS rn FROM ${pref}s),
             |${pref}3 AS (SELECT query_id, vec_id FROM ${pref}r WHERE rn <= 3)""".stripMargin
        s"""WITH $nplanesCte,
           |lb AS (SELECT vec_id, embedding, CAST($bucketSql AS INTEGER) AS bucket FROM embeddings),
           |lq AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM lb WHERE vec_id IN ($lshIn)),
           |ls AS (SELECT q.query_id, e.vec_id, $simSql AS sim
           |  FROM lb e JOIN lq q ON e.bucket = q.bucket WHERE e.vec_id <> q.query_id),
           |lr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC NULLS LAST, vec_id) AS rn FROM ls),
           |l3 AS (SELECT query_id, vec_id FROM lr WHERE rn <= 3),
           |c AS (SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings WHERE vec_id < $NSeeds),
           |asg0 AS (SELECT e.vec_id, e.embedding, c.cent_id, $csimSql AS csim FROM embeddings e CROSS JOIN c),
           |asg1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC NULLS LAST, cent_id) AS arn FROM asg0),
           |asg AS (SELECT vec_id, embedding, CAST(cent_id AS INTEGER) AS cell FROM asg1 WHERE arn = 1),
           |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
           |      WHERE vec_id IN ($ivfIn)),
           |p0 AS (
           |  SELECT q.query_id, q.q_emb, CAST(c.cent_id AS INTEGER) AS cell,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY $qsimSql DESC NULLS LAST, c.cent_id) AS prn
           |  FROM q CROSS JOIN c),
           |pp AS (SELECT query_id, q_emb, cell FROM p0 WHERE prn <= $NProbe),
           |si AS (SELECT pp.query_id, a.vec_id, $rsimSql AS sim
           |  FROM asg a JOIN pp ON a.cell = pp.cell WHERE a.vec_id <> pp.query_id),
           |ri AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC NULLS LAST, vec_id) AS rn FROM si),
           |i3 AS (SELECT query_id, vec_id FROM ri WHERE rn <= 3),
           |${brute("b1", lshIn)},
           |${brute("b2", ivfIn)},
           |lhits AS (SELECT a.query_id, COUNT(*) AS cnt FROM l3 a
           |  JOIN b13 b ON a.query_id = b.query_id AND a.vec_id = b.vec_id GROUP BY 1),
           |ihits AS (SELECT a.query_id, COUNT(*) AS cnt FROM i3 a
           |  JOIN b23 b ON a.query_id = b.query_id AND a.vec_id = b.vec_id GROUP BY 1)
           |SELECT 'ivf' AS method, q0.query_id, round(COALESCE(h.cnt, 0) / 3.0, 6) AS recall
           |FROM (SELECT DISTINCT query_id FROM b2q) q0 LEFT JOIN ihits h USING (query_id)
           |UNION ALL
           |SELECT 'lsh' AS method, q0.query_id, round(COALESCE(h.cnt, 0) / 3.0, 6) AS recall
           |FROM (SELECT DISTINCT query_id FROM b1q) q0 LEFT JOIN lhits h USING (query_id)
           |ORDER BY method, query_id""".stripMargin
      }
    )
  }

  // ------------------------------------------------- dynamic oracle (r18)

  /** Per-dir oracle entries that embed MODEL-STATE LITERALS trained from
    * the target dir's data (round-18 verdict item 1). The static
    * `oracleSql` map cannot carry `q_ann_pq`: its codebooks are K-means
    * state trained on the first [[PqTrainN]] vectors OF THE DIR BEING
    * VERIFIED, so the literals differ per scale factor. `Verify` (which
    * writes oracle_sql.json and knows the dir) merges this map in at dump
    * time. Division of trust: the Lloyd TRAINING loop stays engine-side
    * (bounded driver arithmetic, spec-pinned in DedupSimilaritySpec) —
    * what DuckDB independently reproduces from the literals is everything
    * downstream: the nearest-centroid ENCODING of every corpus vector,
    * the ADC scoring, the top-k ranking, and the exact-L2 recall gate —
    * exactly the convention the boundary-literal tokenize oracles set. */
  def dynamicOracleSql(spark: SparkSession, dir: String): Map[String, String] =
    Map("q_ann_pq" -> pqOracleSql(spark, dir))

  /** DuckDB SQL reproducing [[qAnnPq]] bit-for-bit from codebook literals.
    *
    * FP-exactness argument, hunk by hunk (every sum is written in the
    * SAME association order as the Scala, so IEEE-754 double arithmetic
    * is bitwise deterministic across engines):
    *  - literals: `Double.toString` emits the shortest decimal that
    *    round-trips, and DuckDB's parser is correctly rounded, so each
    *    centroid re-materializes as the identical double;
    *  - encode: per-subspace distance lists via `list_transform`, each a
    *    left-assoc 4-term `(e-c)*(e-c)` sum matching
    *    [[graft.functions.PqEncodeExpr.encode]]'s `d2 += t*t` loop;
    *    `list_position(l, list_min(l)) - 1` is first-index-of-min =
    *    the Scala strict-`<` ties-to-lower-j argmin;
    *  - ADC: [[pqAdcTop]] precomputes LUT doubles driver-side and sums 16
    *    lookups left-assoc; the SQL recomputes each LUT cell inline with
    *    the same 4-term order and sums the 16 PARENTHESIZED subspace
    *    terms left-assoc — same doubles, same final sum;
    *  - gate: the exact-L2 side is the `q_pq_gate_exact` oracle's l2
    *    expression; recall_avg divides a double sum by a double count. */
  private[graft] def pqOracleSql(spark: SparkSession, dir: String): String = {
    val cb = pqCodebooks(Tables.embeddings(spark, dir))
    val cbLit = cb.map(_.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    // per-subspace distance list + argmin code (encode)
    val dlExprs = (0 until PqM).map { m =>
      val terms = (0 until PqSub).map { d =>
        val e = s"CAST(e.embedding[${m * PqSub + d + 1}] AS DOUBLE)"
        s"($e - ct[${d + 1}]) * ($e - ct[${d + 1}])"
      }.mkString(" + ")
      s"list_transform(c.cb[${m + 1}], ct -> $terms) AS dl$m"
    }.mkString(", ")
    val codeExprs = (0 until PqM)
      .map(m => s"list_position(dl$m, list_min(dl$m)) - 1 AS c$m")
      .mkString(", ")
    // ADC: each subspace term parenthesized, then left-assoc over m —
    // the reduce(_ + _) association of the Column sum in pqAdcTop
    val adc = (0 until PqM).map { m =>
      val cent = s"c.cb[${m + 1}][k.c$m + 1]"
      (0 until PqSub).map { d =>
        val q = s"CAST(q.q_emb[${m * PqSub + d + 1}] AS DOUBLE)"
        s"($q - $cent[${d + 1}]) * ($q - $cent[${d + 1}])"
      }.mkString("(", " + ", ")")
    }.mkString(" + ")
    val l2Sql =
      s"round((${dotSql("e.embedding", "e.embedding")} + ${dotSql("q.q_emb", "q.q_emb")}) - 2.0 * ${dotSql("q.q_emb", "e.embedding")}, 6)"
    s"""WITH cbt AS (SELECT $cbLit AS cb),
       |codes AS (
       |  SELECT vec_id, $codeExprs
       |  FROM (SELECT e.vec_id, $dlExprs FROM embeddings e CROSS JOIN cbt c)),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
       |      WHERE vec_id >= $PqQueryLo AND vec_id < ${PqQueryLo + NQueries}),
       |s AS (SELECT q.query_id, k.vec_id, round($adc, 6) AS adc_dist
       |      FROM codes k CROSS JOIN q CROSS JOIN cbt c
       |      WHERE k.vec_id <> q.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC NULLS FIRST, vec_id) AS rn FROM s),
       |pq AS (SELECT query_id, vec_id, adc_dist, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= $TopK),
       |bs AS (SELECT q.query_id, e.vec_id, $l2Sql AS l2
       |       FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |bb AS (SELECT query_id, vec_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY l2 ASC NULLS FIRST, vec_id) AS brn FROM bs)
       |       WHERE brn <= $TopK),
       |j AS (SELECT p.query_id, p.vec_id, p.adc_dist, p.rn,
       |        (b.vec_id IS NOT NULL) AS in_exact_topk
       |      FROM pq p LEFT JOIN bb b ON p.query_id = b.query_id AND p.vec_id = b.vec_id),
       |g AS (SELECT round(SUM(CASE WHEN in_exact_topk THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
       |               / CAST(COUNT(*) AS DOUBLE), 6) AS recall_avg FROM j)
       |SELECT j.query_id, j.vec_id, j.adc_dist, j.rn, j.in_exact_topk,
       |  g.recall_avg, (g.recall_avg >= CAST($PqRecallFloor AS DOUBLE)) AS within_bound
       |FROM j CROSS JOIN g ORDER BY j.query_id, j.rn""".stripMargin
  }
}
