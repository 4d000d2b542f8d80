package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{BucketizeExpr, BucketizeGrid}

class TokenizeSpec extends SparkSpec {
  import Tokenize._
  import TokenizeReference._

  /** Two bounds 100 ulps apart: grid-safe at 4n = 8 cells, under one ulp
    * per cell at the 4,096-cell floor, so the floor turns the grid off. */
  private val floorOffSpan = Array(1.0, 1.0 + 100 * math.ulp(1.0))

  private lazy val randDf = {
    val cols = (0 until 3).map(i => randn(42 + i).as(s"col_$i"))
    spark.range(20000).select(col("id") +: cols: _*)
  }

  test("bucketize tokens are within [0, bins-1]") {
    val df = tokenizeByBounds(randDf, Seq("col_0", "col_1"), Seq("id"))
    val row = df.agg(
      min(col("col_0_token")), max(col("col_0_token")),
      min(col("col_1_token")), max(col("col_1_token"))).head()
    assert(row.getInt(0) >= 0 && row.getInt(1) <= 99)
    assert(row.getInt(2) >= 0 && row.getInt(3) <= 99)
  }

  test("bucketize is monotone in the value") {
    val df = tokenizeByBounds(randDf, Seq("col_0"), Seq("id"))
      .join(randDf.select("id", "col_0"), "id")
    val pairs = df.orderBy("col_0").select("col_0_token").collect().map(_.getInt(0))
    assert(pairs.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("near-uniform bin mass on continuous data") {
    val df = tokenizeByBounds(randDf, Seq("col_0"), Seq("id"))
    val counts = df.groupBy("col_0_token").count().collect().map(_.getLong(1))
    val avg = 20000.0 / 100
    assert(counts.length == 100)
    assert(counts.max <= 2 * avg, s"max bin ${counts.max} vs avg $avg")
    assert(counts.min >= avg / 2, s"min bin ${counts.min} vs avg $avg")
  }

  test("constant column tokenizes to bin 0 (duplicate-edge collapse)") {
    val df = spark.range(1000).select(col("id"), lit(7.5).as("c"))
    val toks = tokenizeByBounds(df, Seq("c"), Seq("id"))
      .select("c_token").distinct().collect().map(_.getInt(0))
    assert(toks.toSeq == Seq(0))
  }

  test("closure conventions: boundary-equal values split lower vs upper bin") {
    // right-closed (torch.bucketize(right=False)-1): v == bound -> lower;
    // right-open (Numba `val < thresholds` first hit): v == bound -> upper
    val bounds = Array(1.0, 2.0, 2.0, 3.5)
    val cases = Seq(
      0.5 -> (0, 0), 1.0 -> (0, 1), 1.5 -> (1, 1), 2.0 -> (1, 3),
      3.0 -> (3, 3), 3.5 -> (3, 4), 9.9 -> (4, 4))
    cases.foreach { case (v, (closed, open)) =>
      assert(BucketizeExpr.search(bounds, v, 100) == closed, s"closed v=$v")
      assert(BucketizeExpr.searchRightOpen(bounds, v, 100) == open, s"open v=$v")
    }
    // exhaustive agreement between codegen and interpreted for both modes,
    // on a grid that lands exactly on every boundary
    val df = spark.range(80).select((col("id") / 10.0).as("v"))
    Seq(true, false).foreach { rc =>
      val out = df.select(col("v"),
        BucketizeExpr.bucketize(col("v"), bounds.toSeq, 100, rc).as("t")).collect()
      out.foreach { r =>
        val expected =
          if (rc) BucketizeExpr.search(bounds, r.getDouble(0), 100)
          else BucketizeExpr.searchRightOpen(bounds, r.getDouble(0), 100)
        assert(r.getInt(1) == expected, s"rc=$rc v=${r.getDouble(0)}")
      }
    }
  }

  test("qcut duplicates='drop' collapses duplicate edges like QuantileDiscretizer") {
    // low-cardinality 1-decimal grid: quantile edges land ON data values and
    // interpolation positions sit inside tie runs, so dropped-duplicate
    // edges equal QuantileDiscretizer's (relativeError=0) collapsed splits.
    // Its Bucketizer intervals are left-closed => compare rightClosed=false.
    val df = spark.range(20000)
      .select(col("id"), (floor(randn(7) * 1.5) / 10.0).as("v"))
    val ours = tokenizeQcutDrop(df, Seq("v"), Seq("id"), qcutDropEdges(df, Seq("v"), bins = 10),
      rightClosed = false)
    val qd = new org.apache.spark.ml.feature.QuantileDiscretizer()
      .setInputCol("v").setOutputCol("qd_bin").setNumBuckets(10).setRelativeError(0.0)
    val theirs = qd.fit(df).transform(df).select(col("id"), col("qd_bin").cast("int"))
    val joined = ours.join(theirs, "id")
    val total = joined.count()
    val agree = joined.filter(col("v_token") === col("qd_bin")).count()
    assert(total == 20000 && agree == total, s"agree $agree / $total")
    // and the collapse actually happened: far fewer than 10 bins survive
    val nBins = ours.select("v_token").distinct().count()
    assert(nBins < 10, s"expected collapsed bins, got $nBins")
  }

  test("null tokenizes to null; NaN to the top bin (NaN-last, round 12)") {
    val df = spark.range(100).select(col("id"),
      when(col("id") === 0, lit(Double.NaN))
        .when(col("id") === 1, lit(null).cast("double"))
        .otherwise(col("id").cast("double")).as("c"))
    val bounds = quantileBoundsExact(df.filter(col("id") >= 2), Seq("c"), innerProbs(100))
    val toks = df.select(col("id"), discretize(col("c"), bounds("c")).as("t"))
      .filter(col("id") <= 1).orderBy("id").collect()
    assert(toks(0).getInt(1) == 99) // NaN ranks past every boundary -> bins-1
    assert(toks(1).isNullAt(1)) // null
    // both closure conventions, interpreted and codegen
    assert(BucketizeExpr.search(Array(1.0, 2.0), Double.NaN, 10) == 2)
    assert(BucketizeExpr.searchRightOpen(Array(1.0, 2.0), Double.NaN, 10) == 2)
    val viaCodegen = df.filter(col("id") === 0)
      .select(BucketizeExpr.bucketize(col("c"), Seq(1.0, 2.0), 10, rightClosed = false).as("t"))
      .head().getInt(0)
    assert(viaCodegen == 2)
  }

  test("rank and bucketize tokenizers agree on continuous data (>=99%)") {
    val r = tokenizeRank(randDf, Seq("col_0"), Seq("id")).withColumnRenamed("col_0_token", "rank_t")
    val b = tokenizeByBounds(randDf, Seq("col_0"), Seq("id")).withColumnRenamed("col_0_token", "bucket_t")
    val agree = r.join(b, "id").filter(col("rank_t") === col("bucket_t")).count()
    assert(agree >= 19800, s"agreement $agree / 20000")
  }

  test("selection rank tokenizer equals the window formulation (incl. tie-heavy cols)") {
    // l_quantity/l_discount are massively tied (50/11 distinct values), so
    // NTILE boundaries fall INSIDE tie groups and the composite-key
    // selection must split ties exactly as the window's total order does.
    // Exercise the distributed gather path too (tiny maxCollect).
    val li = graft.Tables.lineitem(spark, sf)
    val tiebreak = Tokenize.LineitemKeys ++ Tokenize.LineitemCols
    val outCols = Seq("l_orderkey", "l_linenumber") ++
      Tokenize.LineitemCols.map(c => s"${c}_token")
    val a = tokenizeRank(li, Tokenize.LineitemCols, tiebreak)
      .select(outCols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    def selected(df: org.apache.spark.sql.DataFrame, numBuckets: Int, maxCollect: Long) =
      Tokenize.tokenizeRankSelect(df, Tokenize.LineitemCols, tiebreak,
          numBuckets = numBuckets, maxCollect = maxCollect)
        .select(outCols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    for (maxCollect <- Seq(64000000L, 8L)) {
      val b = selected(li, 64, maxCollect)
      assert(a.length == b.length && a.toSeq == b.toSeq, s"maxCollect=$maxCollect")
    }
    // value-clustered files: each holds one sorted range of the tie-heavy
    // l_quantity, so every task's strided sample covers only its own range
    val dir = java.nio.file.Files.createTempDirectory("rankclustered").toString
    li.repartitionByRange(4, col("l_quantity")).sortWithinPartitions("l_quantity")
      .write.parquet(s"$dir/t")
    val clustered = spark.read.parquet(s"$dir/t")
    assert(clustered.inputFiles.length == 4)
    for (numBuckets <- Seq(4, 64)) {
      val b = selected(clustered, numBuckets, 64000000L)
      assert(a.length == b.length && a.toSeq == b.toSeq,
        s"value-clustered files, numBuckets=$numBuckets")
    }
  }

  test("sample-based bounds are within the DKW rank-error envelope") {
    // s = 20k sample: DKW eps for delta=1e-6 is sqrt(ln(2/delta)/(2s)) ~
    // 0.019; assert with headroom at 0.03. Checked on a skewed mixture
    // (half gaussian, half exponential-ish tail) so value error would be
    // huge if the RANK bound were wrong.
    import org.apache.spark.sql.functions.{exp => fexp}
    val df = spark.range(200000).select(col("id"),
      when(col("id") % 2 === 0, randn(3)).otherwise(fexp(randn(5) * 2)).as("v"))
    val probs = Tokenize.innerProbs(100)
    val bounds = quantileBoundsSample(df, Seq("v"), probs, sampleSize = 20000)("v")
    val all = df.select("v").collect().map(_.getDouble(0)).sorted
    val n = all.length
    probs.zip(bounds).foreach { case (p, b) =>
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (all(mid) <= b) lo = mid + 1 else hi = mid
      }
      val rank = lo.toDouble / n
      assert(math.abs(rank - p) <= 0.03, s"p=$p boundary=$b rank=$rank")
    }
    // full-data fraction: sample >= n degenerates to the exact sort answer
    val small = spark.range(999).select(col("id").cast("double").as("v"))
    val exact = quantileBoundsSample(small, Seq("v"), Seq(0.25, 0.5), sampleSize = 10000)("v")
    assert(exact == Seq(249.5, 499.0))
  }

  test("q_quantile_bounds_sample == q_quantile_bounds below the sample size") {
    // The oracle contract for the sample entry: at n <= sampleSize the
    // full-keep path is deterministic (no RNG draw) and its rank-p(n-1)
    // interpolation is the same formula the exact-selection entry (and
    // DuckDB quantile_cont) computes — the two contract queries must be
    // bit-identical at any verify/bench scale.
    val a = Tokenize.queries("q_quantile_bounds")(spark, sf).collect().map(_.toSeq)
    val b = Tokenize.queries("q_quantile_bounds_sample")(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("exact sort-based quantiles match builtin percentile") {
    val probs = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)
    val mine = quantileBoundsExact(randDf, Seq("col_0"), probs)("col_0")
    val builtin = randDf.agg(percentile(col("col_0"), typedlit(probs))).head().getSeq[Double](0)
    mine.zip(builtin).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
  }

  test("BucketizeExpr.search = strict lower bound, clamped") {
    val bounds = Array(1.0, 2.0, 2.0, 3.0)
    assert(BucketizeExpr.search(bounds, 0.5, 100) == 0)
    assert(BucketizeExpr.search(bounds, 1.0, 100) == 0) // equal -> lower bin
    assert(BucketizeExpr.search(bounds, 1.5, 100) == 1)
    assert(BucketizeExpr.search(bounds, 2.0, 100) == 1) // duplicate edge, equal -> lower
    assert(BucketizeExpr.search(bounds, 2.5, 100) == 3)
    assert(BucketizeExpr.search(bounds, 9.9, 3) == 2) // clamp to bins-1
  }

  test("unclamped BucketizeGrid.search == BucketizeExpr.search") {
    val rnd = new scala.util.Random(7)
    // distributions the selection pass actually sees: gaussian (randn
    // fixtures), uniform, heavy ties, tiny arrays, singletons
    val splitSets: Seq[Array[Double]] = Seq(
      Array.fill(8191)(rnd.nextGaussian()).distinct.sorted,
      Array.fill(1000)(rnd.nextDouble() * 1e6).distinct.sorted,
      Array.tabulate(500)(i => (i / 50).toDouble).distinct.sorted, // few distinct
      Array(0.0),
      Array(-1.5, 2.5),
      (1 until 100).map(_ / 100.0).toArray,
      // round-10 advisor item: ulp-adjacent splits (fp rounding of the
      // grid's top-edge bracket must never exclude the true index) and a
      // denormal total span (inv overflows to Infinity -> plain
      // lower_bound fallback)
      Iterator.iterate(1.0)(math.nextUp).take(64).toArray,
      Array.tabulate(16)(i => 1.0 + i * math.ulp(1.0) * 3),
      Array(0.0, Double.MinPositiveValue),
      Iterator.iterate(Double.MinPositiveValue)(math.nextUp).take(8).toArray)
    for (splits <- splitSets) {
      val g = new BucketizeGrid(splits)
      val probes = Iterator.fill(20000)(rnd.nextGaussian() * 3) ++
        splits.iterator ++ // exact boundary hits -> lower bucket
        splits.iterator.map(v => math.nextUp(v)) ++
        splits.iterator.map(v => math.nextDown(v)) ++
        Iterator(Double.NegativeInfinity, Double.PositiveInfinity,
          -1e308, 1e308, 0.0, -0.0,
          Double.NaN) // round 12: both sides send NaN past every split
      for (v <- probes)
        assert(BucketizeGrid.search(g, v, Int.MaxValue) ==
          BucketizeExpr.search(splits, v, Int.MaxValue),
          s"mismatch at v=$v n=${splits.length}")
    }
  }

  test("BucketizeGrid == plain search for BOTH closure conventions on every input shape (round 13)") {
    // the grid-bracketed search that BucketizeExpr's interpreted AND
    // generated paths now share must be bit-for-bit the plain full-range
    // search — including on DUPLICATE-heavy bounds (unlike the selection
    // passes' distinct splits, quantile edges keep duplicates unless dropped:
    // a run of equal boundaries must never escape the widened bracket,
    // which is what makes one grid serve upper_bound too)
    val rnd = new scala.util.Random(13)
    val boundSets: Seq[Array[Double]] = Seq(
      Array.fill(99)(rnd.nextGaussian()).sorted,
      Array.fill(8191)(rnd.nextGaussian()).sorted,
      Array.fill(200)(rnd.nextInt(8).toDouble).sorted, // massive duplicate runs
      Array(1.0, 2.0, 2.0, 3.5),
      Array.fill(64)(7.5), // all-equal bounds (zero span -> full-range path)
      Array.empty[Double], // n = 0: the 4,096-cell floor over no bounds
      Array(0.0), // n = 1
      Array(-1.5, 2.5), // n = 2: 4,096 cells over two bounds
      floorOffSpan, // grid-safe at 4n cells, under one ulp per cell at 4,096
      Iterator.iterate(1.0)(math.nextUp).take(64).toArray, // ulp-adjacent
      Array(0.0, Double.MinPositiveValue), // denormal span
      (1 until 100).map(_ / 100.0).toArray)
    for (bounds <- boundSets; bins <- Seq(2, 100, Int.MaxValue)) {
      val g = new BucketizeGrid(bounds)
      val probes = Iterator.fill(20000)(rnd.nextGaussian() * 3) ++
        bounds.iterator ++
        bounds.iterator.map(math.nextUp) ++
        bounds.iterator.map(math.nextDown) ++
        Iterator(Double.NegativeInfinity, Double.PositiveInfinity,
          -1e308, 1e308, 0.0, -0.0, Double.NaN)
      for (v <- probes) {
        assert(BucketizeGrid.search(g, v, bins) ==
          BucketizeExpr.search(bounds, v, bins),
          s"closed mismatch v=$v n=${bounds.length} bins=$bins")
        assert(BucketizeGrid.searchRightOpen(g, v, bins) ==
          BucketizeExpr.searchRightOpen(bounds, v, bins),
          s"open mismatch v=$v n=${bounds.length} bins=$bins")
      }
    }
  }

  test("BucketizeExpr codegen agrees with interpreted eval") {
    val bounds = (1 until 100).map(_ / 100.0)
    val df = spark.range(5000).select((col("id") / 5000.0).as("v"))
    val viaExpr = df.select(BucketizeExpr.bucketize(col("v"), bounds, 100).as("t"))
      .agg(sum("t")).head().getLong(0)
    val viaScala = (0 until 5000).map(i => BucketizeExpr.search(bounds.toArray, i / 5000.0, 100).toLong).sum
    assert(viaExpr == viaScala)
  }

  test("selection-based exact quantiles are byte-identical to the sort path") {
    val probs = (0 to 100).map(_.toDouble / 100)
    // continuous randn (all-distinct) and the real lineitem measures
    // (low-cardinality l_discount/l_tax: ties, duplicate split points)
    val randDf = graft.Pipeline.syntheticTable(spark, 50000, 2, seed = 7)
    val a = quantileBoundsSelect(randDf, Seq("col_0", "col_1"), probs, numBuckets = 64, smallCollect = 0)
    val b = quantileBoundsExact(randDf, Seq("col_0", "col_1"), probs)
    Seq("col_0", "col_1").foreach { c =>
      assert(a(c) == b(c), s"select != sort for $c")
    }
    val li = graft.Tables.lineitem(spark, sf)
    val s1 = quantileBoundsSelect(li, LineitemCols, probs, numBuckets = 32, smallCollect = 0)
    val s2 = quantileBoundsExact(li, LineitemCols, probs)
    LineitemCols.foreach { c =>
      assert(s1(c) == s2(c), s"select != sort for lineitem $c")
    }
  }

  test("selection quantiles equal sort quantiles on adversarial tie-heavy data") {
    import org.apache.spark.sql.functions._
    val probs = (0 to 20).map(_.toDouble / 20)
    // heavy ties (values from a 7-element grid), nulls, and a constant block
    val df = spark.range(20000).select(
      (pmod(col("id") * 2654435761L, lit(7)) * 0.125).as("grid"),
      when(pmod(col("id"), lit(5)) === 0, lit(null).cast("double"))
        .otherwise(pmod(col("id") * 40503L, lit(3)).cast("double")).as("sparse"),
      lit(42.0).as("const"))
    val cols = Seq("grid", "sparse", "const")
    val a = quantileBoundsSelect(df, cols, probs, numBuckets = 16, smallCollect = 0)
    val b = quantileBoundsExact(df, cols, probs)
    val fast = quantileBoundsSelect(df, cols, probs) // small-collect fast path
    cols.foreach { c =>
      assert(a(c) == b(c), s"select != sort for $c")
      assert(fast(c) == b(c), s"small-collect path != sort for $c")
    }
  }

  test("selection quantiles size their collects by total rows, not non-null counts") {
    import org.apache.spark.sql.functions._
    // 200k rows but only ~2k non-null per column: sizing by the non-null
    // count would collect (or sample) the whole table
    val df = spark.range(200000).select(
      when(pmod(col("id"), lit(100)) === 0, col("id").cast("double")).as("a"),
      when(pmod(col("id"), lit(100)) === 50, (col("id") * 2).cast("double")).as("b"))
    val probs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val sel = quantileBoundsSelect(df, Seq("a", "b"), probs,
      numBuckets = 16, smallCollect = 10000, maxCollect = 100000)
    val exact = quantileBoundsExact(df, Seq("a", "b"), probs)
    Seq("a", "b").foreach(c => assert(sel(c) == exact(c), s"mostly-null $c"))
  }

  test("NaN ranks last in every boundary path; finite quantiles stay exact (round 12)") {
    import org.apache.spark.sql.functions._
    // ~10% NaN, ~10% null, the rest a permuted continuous ramp — large
    // enough that NaN occupies whole tail buckets in the selection pass
    val df = spark.range(30000).select(col("id"),
      when(pmod(col("id"), lit(10)) === 3, lit(Double.NaN))
        .when(pmod(col("id"), lit(10)) === 7, lit(null).cast("double"))
        .otherwise(pmod(col("id") * 2654435761L, lit(1000000)).cast("double")).as("v"))
    val probs = (0 to 20).map(_.toDouble / 20)
    // brute force: NaN-last total order (Arrays.sort) + the shared
    // pos = p*(n-1) interpolation — NaN counts as a (tail) value
    val vs = df.filter(col("v").isNotNull).select("v").collect().map(_.getDouble(0))
    java.util.Arrays.sort(vs) // IEEE-754 total order: NaN last
    val brute = probs.map { p =>
      val pos = p * (vs.length - 1)
      val l = vs(math.floor(pos).toInt)
      val h = vs(math.ceil(pos).toInt)
      l + (h - l) * (pos - math.floor(pos))
    }
    def sameSeq(a: Seq[Double], b: Seq[Double], label: String): Unit = {
      assert(a.size == b.size, label)
      a.zip(b).foreach { case (x, y) =>
        assert(x == y || (x.isNaN && y.isNaN), s"$label: $x != $y")
      }
    }
    // p=1.0 lands in the NaN tail -> NaN; p<=0.85 positions are finite and
    // must be EXACT despite the NaN presence (the round-11 verdict's
    // silent-wrong-bucket scenario: pre-fix, NaN fell in bucket 0 of the
    // histogram and shifted every finite rank)
    assert(brute.last.isNaN && !brute(17).isNaN)
    sameSeq(quantileBoundsExact(df, Seq("v"), probs)("v"), brute, "sort path")
    sameSeq(quantileBoundsSelect(df, Seq("v"), probs, numBuckets = 16,
      smallCollect = 0)("v"), brute, "selection path (bucketed)")
    sameSeq(quantileBoundsSelect(df, Seq("v"), probs)("v"), brute,
      "selection path (small-collect)")
    sameSeq(quantileBoundsSelect(df, Seq("v"), probs, numBuckets = 16,
      smallCollect = 0, maxCollect = 0)("v"), brute,
      "selection path (distributed gather fallback)")
    // the sample path's full-keep regime (n <= sampleSize) is deterministic
    // and shares the same NaN-last driver sort
    sameSeq(quantileBoundsSample(df, Seq("v"), probs)("v"), brute, "sample path")
    // all-NaN column: every quantile is NaN, no crash (degenerate but total)
    val allNaN = spark.range(5000).select(lit(Double.NaN).as("v"))
    quantileBoundsSelect(allNaN, Seq("v"), Seq(0.5), numBuckets = 8, smallCollect = 0)("v")
      .foreach(q => assert(q.isNaN))
  }

  test("BucketizeGrid's swept bnd equals the per-cell lower_bound on every cell") {
    val rnd = new scala.util.Random(21)
    def lowerBound(b: Array[Double], x: Double): Int = {
      var lo = 0
      var hi = b.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (b(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    val narrow = Iterator.iterate(1.0)(math.nextUp).take(64).toArray // < 1 ulp per cell
    assert(!new BucketizeGrid(narrow).gridOk)
    // the cell rule: 4n cells for the selection grids, a 4,096-cell floor
    assert(new BucketizeGrid(Array.tabulate(8191)(_.toDouble)).G == 4 * 8191)
    assert(new BucketizeGrid(Array.tabulate(99)(_.toDouble)).G == 4096)
    assert(new BucketizeGrid(Array(-1.5, 2.5)).gridOk)
    assert((floorOffSpan(1) - floorOffSpan(0)) / 8 >= math.ulp(floorOffSpan(1)))
    assert(!new BucketizeGrid(floorOffSpan).gridOk)
    val boundSets: Seq[Array[Double]] = Seq(
      Array.fill(8191)(rnd.nextGaussian()).sorted,
      Array.fill(5000)(rnd.nextDouble() * 1e6).sorted,
      Array.fill(2000)(rnd.nextInt(5).toDouble).sorted, // duplicate-heavy
      Array.fill(64)(7.5), // all equal: zero span
      Array(3.25), // single split, n = 1
      Array.empty[Double], // n = 0
      Array(-1.5, 2.5), // n = 2
      floorOffSpan,
      narrow,
      Array(0.0, Double.MinPositiveValue), // denormal span
      Array(-1e308, 0.0, 1e308), // span overflows to Infinity: NaN edge at cell 0
      Array(Double.NegativeInfinity, 0.0, 1.0), // every edge NaN
      Array(0.0, 1.0, Double.PositiveInfinity))
    for (bounds <- boundSets) {
      val g = new BucketizeGrid(bounds)
      for (c <- 0 until g.G) {
        val edge = g.lo0 + c * (g.hi0 - g.lo0) / g.G
        assert(g.bnd(c) == lowerBound(bounds, edge), s"cell $c of ${g.G}, n=${bounds.length}")
      }
      assert(g.bnd(g.G) == bounds.length)
    }
  }

  test("a BucketizeGrid serializes only its bounds and reads back equal") {
    def roundTrip(g: BucketizeGrid): (BucketizeGrid, Int) = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(g)
      out.close()
      val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      (in.readObject().asInstanceOf[BucketizeGrid], bytes.size)
    }
    val rnd = new scala.util.Random(31)
    for (bounds <- Seq(Array.fill(99)(rnd.nextGaussian()).sorted,
                       Array.fill(8191)(rnd.nextGaussian()).sorted,
                       Array.empty[Double], floorOffSpan)) {
      val g = new BucketizeGrid(bounds)
      val (r, size) = roundTrip(g)
      assert(r ne g)
      assert(r.bounds.sameElements(bounds))
      assert(r.G == g.G && r.gridOk == g.gridOk && r.bnd.sameElements(g.bnd))
      // the bounds and a few hundred bytes of framing, no bnd table
      assert(size < 8 * bounds.length + 1024, s"$size bytes for n=${bounds.length}")
      val probes = Iterator.fill(2000)(rnd.nextGaussian() * 3) ++ bounds.iterator ++
        Iterator(Double.NegativeInfinity, Double.PositiveInfinity, 0.0, -0.0, Double.NaN)
      for (v <- probes) {
        assert(BucketizeGrid.search(r, v, 100) == BucketizeGrid.search(g, v, 100))
        assert(BucketizeGrid.searchRightOpen(r, v, 100) == BucketizeGrid.searchRightOpen(g, v, 100))
        assert(r.bracket(v) == g.bracket(v))
      }
    }
  }

  test("a candidate mask admits every value whose bracket holds a needed bucket") {
    val rnd = new scala.util.Random(41)
    val grids: Seq[Array[Double]] = Seq(
      Array.fill(8191)(rnd.nextGaussian()).distinct.sorted, // random, selection-sized
      Array.fill(99)(rnd.nextGaussian()).sorted, // random, bucketize-sized
      Array.fill(500)(rnd.nextInt(6).toDouble).sorted, // duplicate-heavy
      Array.fill(40)(7.5), // all equal
      Array(3.25), // single split
      Array.empty[Double],
      floorOffSpan, // sub-ulp cells: the grid is off
      Iterator.iterate(1.0)(math.nextUp).take(64).toArray, // sub-ulp cells
      Array(-1e308, 0.0, 1e308), // span overflows to Infinity
      Array(Double.NegativeInfinity, 0.0, 1.0),
      Array(0.0, 1.0, Double.PositiveInfinity))
    for (bounds <- grids) {
      val g = new BucketizeGrid(bounds)
      val n = g.n
      val edges = if (!g.gridOk) Iterator.empty else (0 to g.G).iterator.flatMap { c =>
        val e = g.lo0 + c * (g.hi0 - g.lo0) / g.G
        Iterator(e, math.nextUp(e), math.nextDown(e))
      }
      val probes = (Iterator.fill(3000)(rnd.nextGaussian() * 3) ++
        bounds.iterator ++ bounds.iterator.map(math.nextUp) ++
        bounds.iterator.map(math.nextDown) ++ edges ++
        Iterator(0.0, -0.0, Double.NegativeInfinity, Double.PositiveInfinity, Double.NaN)).toArray
      // needed-bucket sets: none, each end alone, one random bucket, and
      // random sparse and dense subsets
      val one = rnd.nextInt(n + 1)
      val neededSets: Seq[Array[Boolean]] =
        Seq(Array.fill(n + 1)(false), Array.tabulate(n + 1)(_ == 0),
          Array.tabulate(n + 1)(_ == n), Array.tabulate(n + 1)(_ == one)) ++
        Seq(0.01, 0.1, 0.5).map(p => Array.fill(n + 1)(rnd.nextDouble() < p))
      for (needed <- neededSets) {
        val slot = Array.tabulate(n + 1)(b => if (needed(b)) b else -1)
        val mask = g.candidateMask(slot)
        for (v <- probes) {
          val admitted = mask(g.maskCell(v))
          val b = BucketizeGrid.search(g, v, Int.MaxValue)
          assert(!needed(b) || admitted, s"search: v=$v bucket $b n=$n")
          // the rank tokenizer's composite search may end anywhere in
          // the bracket, ends included (its first field is never NaN)
          if (v == v) {
            val br = g.bracket(v)
            for (c <- (br >>> 32).toInt to br.toInt)
              assert(!needed(c) || admitted, s"bracket: v=$v bucket $c n=$n")
          }
        }
      }
    }
    // the mask is what spares the gather its searches: with ~1% of the
    // buckets needed, few gaussian values are admitted
    val g = new BucketizeGrid(grids.head)
    val slot = Array.tabulate(g.n + 1)(b => if (b % 100 == 50) b else -1)
    val mask = g.candidateMask(slot)
    val admitted = Iterator.fill(20000)(rnd.nextGaussian()).count(v => mask(g.maskCell(v)))
    assert(admitted < 2000, s"$admitted of 20000 admitted")
  }

  test("selection quantiles read a columnar parquet source exactly, NaN last, as a row-rooted plan does") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("qselcolumnar").toString
    val cols = Seq("a", "b", "c")
    // per column a different mix: ~9% NaN + ~13% null over a permuted ramp;
    // 1/3 null over randn; a low-cardinality column with a NaN tail
    spark.range(60000).select(
      when(pmod(col("id"), lit(11)) === 3, lit(Double.NaN))
        .when(pmod(col("id"), lit(7)) === 2, lit(null).cast("double"))
        .otherwise(pmod(col("id") * 2654435761L, lit(100003)).cast("double") / 7).as("a"),
      when(pmod(col("id"), lit(3)) === 0, lit(null).cast("double"))
        .otherwise(randn(5)).as("b"),
      when(col("id") >= 58000, lit(Double.NaN))
        .otherwise(pmod(col("id"), lit(13)).cast("double")).as("c"))
      .repartition(3).write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    // the projection the passes read is a columnar scan converted to rows,
    // so they take the scan's own batches
    val plan = df.select(cols.map(c => col(c).cast("double")): _*).queryExecution.executedPlan
    assert(plan.children.exists(_.isInstanceOf[org.apache.spark.sql.execution.ColumnarToRowExec]),
      plan.treeString)
    val probs = (0 to 20).map(_.toDouble / 20)
    def brute(c: String): Seq[Double] = {
      val vs = df.filter(col(c).isNotNull).select(c).collect().map(_.getDouble(0))
      java.util.Arrays.sort(vs) // NaN last
      probs.map { p =>
        val pos = p * (vs.length - 1)
        val l = vs(math.floor(pos).toInt)
        val h = vs(math.ceil(pos).toInt)
        l + (h - l) * (pos - math.floor(pos))
      }
    }
    def same(a: Seq[Double], b: Seq[Double], label: String): Unit = {
      assert(a.size == b.size, label)
      a.zip(b).foreach { case (x, y) =>
        assert(x == y || (x.isNaN && y.isNaN), s"$label: $x != $y")
      }
    }
    val cached = persistentRdds
    val columnar = quantileBoundsSelect(df, cols, probs, numBuckets = 64, smallCollect = 0)
    val distributedGather = quantileBoundsSelect(df, cols, probs, numBuckets = 64,
      smallCollect = 0, maxCollect = 0)
    val rowRooted = quantileBoundsSelect(df.repartition(3), cols, probs, numBuckets = 64,
      smallCollect = 0)
    // the per-call decode cache is gone once each call returns
    assert(persistentRdds == cached)
    cols.foreach { c =>
      val b = brute(c)
      same(columnar(c), b, s"columnar source, $c")
      same(distributedGather(c), b, s"columnar source, distributed gather, $c")
      same(rowRooted(c), b, s"row-rooted plan, $c")
    }
    assert(columnar("c").last.isNaN && !columnar("c").head.isNaN)
    // value-clustered files: each holds one disjoint, sorted value range
    // (nulls in the first, NaN in the last), so a sample drawn from any
    // file's head is as biased as it can be; the splits only steer the
    // bucket sizes, so every bucket count must still be exact
    spark.read.parquet(s"$dir/t").repartitionByRange(4, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$dir/clustered")
    val clustered = spark.read.parquet(s"$dir/clustered")
    assert(clustered.inputFiles.length == 4)
    val clusteredBrute = brute("a")
    for (numBuckets <- Seq(4, 64, 8192))
      same(quantileBoundsSelect(clustered, Seq("a"), probs, numBuckets = numBuckets,
        smallCollect = 0)("a"), clusteredBrute, s"value-clustered files, numBuckets=$numBuckets")
    assert(persistentRdds == cached)
  }

  test("selection reads a partition column, one constant vector per file, exactly") {
    val dir = java.nio.file.Files.createTempDirectory("qselpartcol").toString
    spark.range(50000).select(col("id").cast("double").as("v"),
        when(pmod(col("id"), lit(5)) === 0, lit(null))
          .otherwise(pmod(col("id"), lit(7)).cast("double")).as("p"))
      .write.partitionBy("p").parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    // a double partition column needs no cast, so the passes read the
    // scan's own batches
    assert(df.schema("p").dataType == org.apache.spark.sql.types.DoubleType)
    val plan = df.select(col("v"), col("p")).queryExecution.executedPlan
    assert(plan.children.exists(_.isInstanceOf[org.apache.spark.sql.execution.ColumnarToRowExec]),
      plan.treeString)
    val probs = (0 to 20).map(_.toDouble / 20)
    val sel = quantileBoundsSelect(df, Seq("v", "p"), probs, numBuckets = 16, smallCollect = 0)
    val exact = quantileBoundsExact(df, Seq("v", "p"), probs)
    Seq("v", "p").foreach(c => assert(sel(c) == exact(c), s"select != sort for $c"))
  }

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("the selection jobs run under their phase names and restore the caller's call site") {
    val dir = java.nio.file.Files.createTempDirectory("qselphases").toString
    spark.range(30000).select(col("id"),
        pmod(col("id") * 2654435761L, lit(1000003)).cast("double").as("v"))
      .repartition(3).write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val sc = spark.sparkContext
    def restored(): Unit = {
      assert(sc.getLocalProperty("callSite.short") == "caller")
      assert(sc.getLocalProperty("callSite.long") == null)
    }
    sc.setCallSite("caller")
    try {
      // collected and distributed pick: the gather is one job either way
      for (maxCollect <- Seq(64000000L, 0L)) {
        val run = ran(quantileBoundsSelect(df, Seq("v"), Seq(0.1, 0.5, 0.9),
          smallCollect = 0, maxCollect = maxCollect))
        assert(run.jobs == Seq("boundaries.sample", "boundaries.hist", "boundaries.gather"), run)
        restored()
        val rank = ran(tokenizeRankSelect(df, Seq("v"), Seq("id", "v"), bins = 10,
          maxCollect = maxCollect))
        assert(rank.jobs == Seq("rank.sample", "rank.hist", "rank.gather"), rank)
        restored()
      }
      // the two Dataset actions: the count() that sizes an input that is
      // not a bare parquet scan, and the small-input collect
      val counted = ran(quantileBoundsSelect(df.filter(col("id") > 0), Seq("v"), Seq(0.5)))
      assert(counted.actions == Seq("count", "collect"), counted)
      assert(counted.jobs.toSet == Set("input.count", "boundaries.collect"), counted)
      restored()
    } finally sc.clearCallSite()
  }

  /** Bytes read through Hadoop's local file system by every thread of
    * this JVM (local-mode executors included). */
  @scala.annotation.nowarn("cat=deprecation")
  private def localBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  test("exact selection reads its parquet input once per call") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val dir = java.nio.file.Files.createTempDirectory("qselonce").toString
    // incompressible values in four files
    spark.range(400000).select((0 until 4).map(i => randn(60 + i).as(s"c$i")): _*)
      .repartition(4).write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val files = new java.io.File(s"$dir/t").listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    val size = files.map(_.length).sum
    // parquet's vectored reads bypass the file system's byte counters;
    // plain reads of the same column chunks are counted
    val hc = spark.sparkContext.hadoopConfiguration
    val vectored = "parquet.hadoop.vectored.io.enabled"
    val prev = Option(hc.get(vectored))
    // one decode serves the sample, histogram and gather jobs; re-reading
    // the files for each job reads at least twice their size
    def readOnce(what: String)(f: => Any): Unit = {
      val before = localBytesRead
      hc.setBoolean(vectored, false)
      try f finally prev.fold(hc.unset(vectored))(hc.set(vectored, _))
      val read = localBytesRead - before
      info(s"$what read $read bytes of a $size-byte table")
      assert(read > 0 && read < 1.5 * size, s"$what read $read bytes of a $size-byte table")
    }
    readOnce("quantileBoundsSelect") {
      quantileBoundsSelect(df, df.columns.toSeq, innerProbs(100), smallCollect = 0)
    }
    val broadcasts = userBroadcasts
    val cached = persistentRdds
    var run: Ran = null
    readOnce("tokenizeRankSelect") {
      run = ran(tokenizeRankSelect(df, Seq("c0", "c1"), df.columns.toSeq))
    }
    // no count and no Dataset sample: the three selection jobs only
    assert(run.jobs == Seq("rank.sample", "rank.hist", "rank.gather") && run.actions.isEmpty, run)
    assert(persistentRdds == cached, "the decode cache outlived the call")
    eventually(timeout(5.seconds)) {
      assert((userBroadcasts -- broadcasts).isEmpty)
    }
  }

  // broadcast value blocks made by code, not Spark's own: task binaries
  // (byte arrays) and a file scan's Hadoop configuration, both released
  // only by the context cleaner
  private def userBroadcasts: Set[org.apache.spark.storage.BlockId] = {
    val bm = org.apache.spark.SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case org.apache.spark.storage.BroadcastBlockId(_, "") => true
      case _ => false
    }.filter(id => bm.getLocalValues(id) // toList releases the read lock
      .exists(_.data.toList.exists {
        case _: Array[Byte] | _: org.apache.spark.util.SerializableConfiguration => false
        case _ => true
      })).toSet
  }

  /** Runs `f`, expecting an IllegalArgumentException, and checks that every
    * broadcast made and every RDD persisted meanwhile is released; returns
    * the message. */
  private def failsReleasingBroadcasts(f: => Any): String = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val before = userBroadcasts
    val cached = persistentRdds
    val err = intercept[IllegalArgumentException](f)
    assert(persistentRdds == cached, "an RDD persisted by the call outlived it")
    // destroy() removes the blocks asynchronously
    eventually(timeout(5.seconds)) {
      assert((userBroadcasts -- before).isEmpty)
    }
    err.getMessage
  }

  test("quantileBoundsSelect names an all-null column and releases its broadcasts") {
    import org.apache.spark.sql.functions._
    val df = spark.range(5000).select(col("id").cast("double").as("v"),
      lit(null).cast("double").as("empty"))
    val msg = failsReleasingBroadcasts {
      quantileBoundsSelect(df, Seq("v", "empty"), Seq(0.5), numBuckets = 8, smallCollect = 0)
    }
    assert(msg.contains("no non-null values in empty"), msg)
  }

  test("tokenizeRankSelect names a NaN or null key column and releases its broadcasts and cache") {
    import org.apache.spark.sql.functions._
    // one bad row in 20k, not a sampled one: the first job counts null and
    // NaN sort fields over the full data, and the call fails before the
    // histogram
    def withBad(bad: org.apache.spark.sql.Column) = spark.range(20000).select(col("id"),
      when(col("id") === 12345, bad)
        .otherwise(pmod(col("id") * 2654435761L, lit(1000003)).cast("double")).as("v"))
    var msg = ""
    val run = ran {
      msg = failsReleasingBroadcasts {
        tokenizeRankSelect(withBad(lit(Double.NaN)), Seq("v"), Seq("id", "v"), bins = 10,
          numBuckets = 8)
      }
    }
    assert(msg.contains("tokenizeRankSelect: 1 rows have NaN sort columns ('v')"), msg)
    // not a parquet scan: sized by the count() fallback
    assert(run.actions.contains("count"), run)
    // the three selection jobs stop at the first
    assert(run.jobs.count(_.startsWith("rank.")) == 1, run)
    val nullMsg = failsReleasingBroadcasts {
      tokenizeRankSelect(withBad(lit(null).cast("double")), Seq("v"), Seq("id", "v"),
        bins = 10, numBuckets = 8)
    }
    assert(nullMsg.contains("tokenizeRankSelect: 1 rows have null sort columns ('v')"), nullMsg)
  }

  test("a bare parquet scan is sized from its footers: no count job on any tokenizer path") {
    val dir = java.nio.file.Files.createTempDirectory("tokfooter").toString
    spark.range(30000).select(col("id"),
        pmod(col("id") * 2654435761L, lit(1000003)).cast("double").as("v"))
      .repartition(3).write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val probs = Seq(0.0, 0.5, 1.0)
    // the sample scan is the only job
    val sample = ran(quantileBoundsSample(df, Seq("v"), probs))
    assert(sample.jobs.size == 1 && sample.actions.isEmpty, sample)
    val select = ran(quantileBoundsSelect(df, Seq("v"), probs, smallCollect = 0))
    val rank = ran(tokenizeRankSelect(df, Seq("v"), Seq("id", "v"), bins = 10))
    for ((what, run) <- Seq("select" -> select, "rank" -> rank))
      assert(run.jobs.nonEmpty && !run.actions.contains("count"), s"$what: $run")
    // a filtered scan is not bare: the count() fallback sizes it
    val filtered = ran(quantileBoundsSample(df.filter(col("id") > 0), Seq("v"), probs))
    assert(filtered.actions == Seq("count"), filtered)
  }

  test("q_tokenize_nan: injected NaN lands the top bin, clean rows match the bucketize query (round 12)") {
    val nan = Tokenize.queries("q_tokenize_nan")(spark, sf).collect()
    assert(nan.nonEmpty)
    val (injected, clean) = nan.partition(r =>
      (r.getLong(0) + r.getInt(1)) % 7 == 3)
    assert(injected.nonEmpty, "the % 7 = 3 predicate must select rows")
    // every injected row: both closure conventions send NaN to bins - 1
    injected.foreach { r =>
      assert(r.getInt(2) == 99 && r.getInt(3) == 99, s"NaN row not top-binned: $r")
    }
    // every clean row carries a token q_tokenize_bucketize /
    // q_tokenize_rightopen assigns to the same key — (l_orderkey,
    // l_linenumber) is NOT unique (round-8 note), so compare per-key token
    // MULTISETS, which the key-dup rows must match exactly
    def byKey(rows: Array[org.apache.spark.sql.Row], tok: Int) =
      rows.groupBy(r => (r.getLong(0), r.getInt(1)))
        .map { case (k, rs) => k -> rs.map(_.getInt(tok)).sorted.toSeq }
    val rc = byKey(Tokenize.queries("q_tokenize_bucketize")(spark, sf).collect(), 3)
    val ro = byKey(Tokenize.queries("q_tokenize_rightopen")(spark, sf).collect(), 3)
    val cleanRc = byKey(clean, 2)
    val cleanRo = byKey(clean, 3)
    cleanRc.foreach { case (k, toks) =>
      assert(rc(k) == toks, s"right-closed tokens diverged at $k: ${rc(k)} vs $toks")
    }
    cleanRo.foreach { case (k, toks) =>
      assert(ro(k) == toks, s"right-open tokens diverged at $k: ${ro(k)} vs $toks")
    }
  }

  test("packed-token sort equals the raw multi-column sort across the full lane range (incl. nulls)") {
    // property pin for orderByKeysThenPackedTokens: random tokens spanning
    // the ENTIRE legal lane range [0, 32766] (not just bins<=100) plus
    // nulls must order identically to orderBy(keys ++ toks); full-row
    // comparison, so tie reordering among identical rows cannot flake
    import spark.implicits._
    val r = new scala.util.Random(7)
    def tok(): Option[Int] = if (r.nextInt(10) == 0) None else Some(r.nextInt(32767))
    val rows = Seq.fill(4000)((r.nextInt(40), r.nextInt(15), tok(), tok(), tok(), tok()))
    val df = rows.toDF("k1", "k2", "a_token", "b_token", "c_token", "d_token")
    val keys = Seq("k1", "k2")
    val toks = Seq("a_token", "b_token", "c_token", "d_token")
    val packed = Tokenize.orderByKeysThenPackedTokens(df, keys, toks).collect().toSeq
    val raw = df.select((keys ++ toks).map(col): _*)
      .orderBy((keys ++ toks).map(col): _*).collect().toSeq
    assert(packed == raw)
  }

  test("packed-token pack raises on out-of-range token ids (round-13 verdict item 2)") {
    // the lanes combine with +, so an unchecked token >= 32767 would CARRY
    // into the neighboring lane and silently mis-order; the pack must fail
    // loudly instead. Both overflow directions.
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    for (bad <- Seq(32767, -1)) {
      val df = Seq((1, 5), (2, bad)).toDF("k", "t_token")
      val e = intercept[Throwable] {
        Tokenize.orderByKeysThenPackedTokens(df, Seq("k"), Seq("t_token")).collect()
      }
      assert(messages(e).exists(_.contains("packed-token lane overflow")),
        s"token=$bad must trip the lane guard, got: ${messages(e).mkString(" | ")}")
    }
  }
}
