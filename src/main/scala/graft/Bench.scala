package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench harness (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints JSON lines on stdout — the LAST line is the
  * result the driver parses.
  *
  * Noise model this is built for: the host shows multi-second hypervisor
  * steal bursts (identical queries swing 1s -> 40s+ while the guest CPU sits
  * idle), and bursts can last longer than any single query. Back-to-back
  * samples all land inside the same burst, so instead the harness runs
  * ROUND-ROBIN passes — THREE full passes of all queries (round-8 verdict:
  * min-of-2 still swung ±30% between driver windows), each rotated so a
  * query occupies a different wall-clock region per pass, and takes the
  * per-query MIN. Queries whose samples still disagree badly (several
  * poisoned) get a fourth, later, sample. Pass 1 also absorbs
  * JIT/classloading/disk-cache warmup.
  *
  * Robustness contract (round-3 bench died rc 124 with ZERO data; never
  * again):
  *  - a provisional full JSON result line is printed after EVERY query, so
  *    an external kill at any moment still leaves a parseable last line with
  *    everything measured so far;
  *  - each query's time is logged to stderr the moment it finishes
  *    (`[bench] pass=N name=secs`), so a future stall is attributable to a
  *    named query — silence after `[bench] start q=X` means X is the stall;
  *  - a global wall budget (env SPARK_GRAFT_BENCH_BUDGET_S, default 900 s)
  *    skips later passes / third samples once exceeded — on a degraded host
  *    pass 1 alone suffices for a valid (if noisy) number;
  *  - a hard cap (env SPARK_GRAFT_BENCH_HARDCAP_S, default 3x budget)
  *    bounds even pass 1: once exceeded, remaining pass-1 queries are
  *    recorded as skipped in "errors" and the run self-terminates with the
  *    partial total (measured on this host: a degradation phase can inflate
  *    single queries 100x — 3.4 s -> ~450 s — so an unbounded pass 1 can
  *    outlive any external timeout, which is exactly round 3's rc-124 mode);
  *  - query errors are RECORDED in an "errors" JSON field (and the query is
  *    excluded from the total), never silently scored as ~0 s.
  *
  * The noop sink forces the FULL physical plan (count() would let Catalyst
  * prune expensive columns, e.g. the rank-tokenizer windows) with zero
  * write-side cost.
  */
object Bench {
  /** The calibration probe's fixed work: a codegen'd range+sum of `rows`
    * rows. Per-row product ≤ 2^28 × 2.65e9 ≈ 7e17 (fits a long under
    * ANSI); the modulus bounds each addend < 1e9+7 so the 2^28-row sum
    * tops out near 2.7e17 — no overflow at any cardinality we'd ever use,
    * so the result is the same with `spark.sql.ansi.enabled` on or off. */
  private[graft] def calibFrame(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    spark.range(0L, rows, 1L, partitions)
      .selectExpr("sum((id * 2654435761) % 1000000007) as s")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "900").toDouble
    val hardcapS = sys.env.getOrElse("SPARK_GRAFT_BENCH_HARDCAP_S", (budgetS * 3).toString).toDouble
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus) // the runner-session standard lives in Sessions
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    val names = SparkEntry.queries.keys.toSeq.sorted
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Dedicated host-phase calibration probe (round 20, r19 verdict item 6):
    // q1's min doubled as the cross-round normalizer (q1_norm), which held
    // the flagship query hostage — optimizing q1 would silently re-base
    // every cross-round comparison. calib_norm is FIXED work independent of
    // any contract query's implementation (a codegen'd range+sum of
    // constant cardinality — pure CPU phase, no I/O, no graft code), so it
    // keeps calibrating host speed across rounds no matter what the
    // engine's queries do. q1_norm stays emitted for continuity with
    // rounds <= 19 artifacts; cross-round normalization should prefer
    // calib_norm from round 20 on. min over one untimed-GC'd sample per
    // pass, same convention as the queries.
    val calibCores = cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors)
    var calibBest = Double.MaxValue
    def calibSample(): Unit =
      // a calib failure must never take the bench down with it — the
      // normalizer is telemetry, the queries are the contract
      try {
        HostMeter.untimedGc()
        val s0 = System.nanoTime()
        calibFrame(spark, 1L << 28, calibCores)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - s0) / 1e9
        calibBest = math.min(calibBest, sec)
        System.err.println(f"[bench] calib sample=$sec%.3f best=$calibBest%.3f")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] WARN calib sample failed: " +
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
      }
    val samples = scala.collection.mutable.HashMap.empty[String, List[Double]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Round 19 (optimization round, r18 verdict item 6): per-query record of
    // whether ANY sample ran in a clean host window (steal% across the
    // sample's own wall below CleanStealPct). The r18 driver artifact read
    // 98.0 s where the same HEAD's clean window read 80.85 s — every pass
    // was steal-contended, so every min was inflated and the artifact
    // masqueraded as a regression. Steal only ever ADDS wall time, so a
    // min over samples that include one clean-window sample is unbiased;
    // the adaptive passes below keep sampling queries that never got one.
    val cleanSample = scala.collection.mutable.HashSet.empty[String]
    val CleanStealPct = 1.0
    var passesDone = 0
    // Window-quality telemetry (round-16 verdict item 2): the r16 driver
    // artifact read 98 s vs the 77 s clean re-run and NOTHING in the file
    // let a reader classify the window — the load/steal HostMeter already
    // measures went to stderr only, so proving "contention, not
    // regression" cost a bisect. Now every pass's window (load at end,
    // steal% across it) and every query's sample SPREAD (max/min over its
    // round-robin samples) land in BENCH_DETAIL.json: a contended artifact
    // self-documents as one (steal% up, spreads wide on long queries)
    // instead of masquerading as a code regression.
    val passWindows = scala.collection.mutable.LinkedHashMap.empty[Int, (Double, Double)]
    var curPass = 1
    var curPassUsed = false
    var passStart = HostMeter.sample()
    def windowOf(b: HostMeter.Sample, a: HostMeter.Sample): (Double, Double) = {
      val dTot = math.max(a.totalTicks - b.totalTicks, 1L)
      (a.load, 100.0 * (a.stealTicks - b.stealTicks) / dTot)
    }
    def closePass(): Unit = {
      if (curPassUsed) passWindows(curPass) = windowOf(passStart, HostMeter.sample())
      curPass += 1
      curPassUsed = false
      passStart = HostMeter.sample()
    }

    def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    /** Provisional result emission — the driver parses the LAST stdout line
      * from a 2000-char tail capture, so the FINAL line must be compact: a
      * 106-query map at full double precision is ~4 KB and the tail capture
      * would start mid-JSON (round-5 failure mode: three rounds of rc-0
      * benches, parsed=null every time). Each emission therefore prints TWO
      * lines: the full per-query map (penultimate — for humans and for any
      * consumer reading whole stdout) and then a compact total-only line
      * (~150 bytes) that is always the last stdout line, at any kill point. */
    def emit(): Unit = {
      def r3(d: Double): Double = math.rint(d * 1000) / 1000
      val qs = best.toSeq.sortBy(_._1)
        .map { case (n, s) => s"${jsonStr(n)}:${r3(s)}" }.mkString("{", ",", "}")
      val es = errors.toSeq.sortBy(_._1)
        .map { case (n, m) => s"${jsonStr(n)}:${jsonStr(m)}" }.mkString("{", ",", "}")
      val total = r3(best.values.sum)
      // Host-phase normalizer (round-8 verdict item 2): the flagship q1's
      // min is a fixed-work calibration sample — cross-round totals divide
      // by it to cancel the 1.3-1.5x host-speed drift between driver
      // windows (round 7's +4.4% "regression" was entirely host phase).
      // null, not 0.0, when q1 was skipped or errored: a zero denominator
      // would silently poison any total/q1_norm arithmetic downstream
      val q1n = best.get("q1_pricing_summary").map(v => r3(v).toString).getOrElse("null")
      // gcConvention marks the TIMING CONVENTION of every number on this
      // line (round-14 advisor item): each sample pays accumulated GC debt
      // before its timer starts (adopted round 14), and since round 15 the
      // heap's committed size is pinned across those collections
      // (HostMeter.heapShrinkPinned — the r14 convention's own bias:
      // G1 uncommit charged page re-commit to allocation-heavy queries'
      // timed walls). Rounds ≤ 13 carried no marker, no pre-sample GC;
      // round 14 carried "untimed-presample-gc" semantics unmarked.
      // Regression/record claims must only compare same-convention
      // artifacts — the field makes a cross-convention diff detectable
      // instead of silently biased toward the newer runs.
      // windows: finalized passes + the IN-PROGRESS pass measured start→now,
      // so a mid-pass kill still leaves the current window classifiable
      val winEntries = (passWindows.toSeq ++
        (if (curPassUsed) Seq(curPass -> windowOf(passStart, HostMeter.sample()))
         else Nil))
        .map { case (p, (load, steal)) =>
          s""""p$p":{"load":${r3(load)},"steal_pct":${r3(steal)}}""" }
        .mkString("{", ",", "}")
      // per-query spread: max/min over this query's samples (>= 2 needed).
      // Read it WITH the pass windows: pass 1 is JIT/disk-cold, so every
      // query carries some spread — contention reads as wide spreads on
      // queries whose MIN landed in a high-steal pass, not as spread alone
      // ss.min > 0 guard (round-17 advice): a sub-resolution 0.0 sample
      // would print unquoted Infinity/NaN and break every JSON reader of
      // the detail artifact; such a query reports null instead.
      val spreads = samples.toSeq.sortBy(_._1).collect {
        case (n, ss) if ss.size >= 2 =>
          val v = if (ss.min > 0) r3(ss.max / ss.min).toString else "null"
          s"${jsonStr(n)}:$v"
      }.mkString("{", ",", "}")
      // measured queries whose samples ALL landed in steal-contended
      // windows — the residue the adaptive passes could not clear; a
      // reader should treat their minima as upper bounds (round 19)
      val noClean = best.keys.filterNot(cleanSample).toSeq.sorted
        .map(jsonStr).mkString("[", ",", "]")
      // calib_norm + cpus (round 20): the dedicated normalizer and the core
      // count the run used — BENCH_DETAIL.json used to be silently
      // overwritten by whichever core-count run finished last (r19 verdict
      // item 4), so the count now rides inside the artifact AND a
      // per-core-count sibling file is written below. Additions-only.
      val calib = if (calibBest < Double.MaxValue) r3(calibBest).toString else "null"
      val cpusJson = cpus.toIntOption.map(_.toString).getOrElse(jsonStr(cpus))
      val detail = s"""{"metric":"detail","value":$total,"unit":"sec","q1_norm":$q1n,"calib_norm":$calib,"cpus":$cpusJson,"gcConvention":"untimed-presample-gc-shrinkpinned","passWindows":$winEntries,"sampleSpread":$spreads,"noCleanSample":$noClean,"queries":$qs,"errors":$es,"passes":$passesDone,"measured":${best.size},"elapsed":${r3(elapsed)},"sf":${jsonStr(sfDir)}}"""
      println(detail)
      // Round-13 verdict item 5: the driver's BENCH_r{N}.json carries only a
      // 2000-char stdout tail, which cuts the ~3 KB detail line mid-dict
      // (~69 of 118 per-query entries survived in r12) — and 118 full query
      // names cannot fit any encoding of a 2000-char line. So the FULL
      // detail JSON is also written to a file in the repo on every emit
      // (atomic: temp + rename; crash-safe at any kill point, same contract
      // as the provisional stdout lines). The driver's end-of-round commit
      // picks it up, making the round-over-round per-query diff a tracked
      // artifact instead of stdout scrollback.
      try {
        // default derives from the working directory (round-13 advisor
        // item: a hardcoded /root/repo would silently write into a
        // foreign checkout); the driver launches Bench from the repo
        // root, so the artifact lands in the same place as before
        val path = sys.env.get("SPARK_GRAFT_BENCH_DETAIL")
          .map(java.nio.file.Paths.get(_))
          .getOrElse(java.nio.file.Paths.get("BENCH_DETAIL.json").toAbsolutePath)
        val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
        java.nio.file.Files.write(tmp, (detail + "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, path,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // per-core-count sibling (round 20, r19 verdict item 4): the c8
        // scaling run used to overwrite the 32-core detail — keep one
        // artifact per core count so round N+1's per-query comparison
        // cannot silently mix core counts. Same atomic-write contract.
        val byCpus = path.resolveSibling(
          path.getFileName.toString.replaceAll("\\.json$", "") + s"_c$cpus.json")
        val tmp2 = byCpus.resolveSibling(byCpus.getFileName.toString + ".tmp")
        java.nio.file.Files.write(tmp2, (detail + "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp2, byCpus,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] WARN detail-file write failed: $e")
      }
      // "queries" on the compact line carries only the 5 slowest (contract
      // shape preserved, line stays ~400 bytes); the full map is one line up.
      val top5 = best.toSeq.sortBy(-_._2).take(5)
        .map { case (n, s) => s"${jsonStr(n)}:${r3(s)}" }.mkString("{", ",", "}")
      println(s"""{"metric":"total","value":$total,"unit":"sec","q1_norm":$q1n,"calib_norm":$calib,"queries":$top5,"passes":$passesDone,"measured":${best.size},"errors":${errors.size},"elapsed":${r3(elapsed)},"sf":${jsonStr(sfDir)}}""")
      Console.out.flush()
    }

    /** One timed run of `name`. Returns the seconds on success; records the
      * error (and returns None) on failure. Always logs + emits. */
    def once(pass: Int, name: String): Option[Double] = {
      System.err.println(f"[bench] start pass=$pass q=$name elapsed=$elapsed%.1f")
      Console.err.flush()
      // Pay the GC debt UNTIMED before each sample (round 14, the
      // ScaleProbe convention): a full bench pass runs ~60 s, so the 60 s
      // periodic-GC tick phase-locks and can land a full-heap System.gc()
      // inside the SAME query's timed slot on every pass — min-of-passes
      // then records the artifact, not the query (measured: a constant
      // +6 s on one probe slot, gone with the tick moved). Collecting
      // here keeps the cleaner semantics and makes an in-slot tick
      // near-free; costs ~0.1 s untimed per sample at sf0.1. Round 15:
      // routed through HostMeter.untimedGc, which pins heap shrink off
      // first — the bare System.gc() UNCOMMITTED heap and charged the
      // re-commit to the next query's timed wall (the r13->r14 driver-
      // artifact regressions on q_stats_agg/q_unpivot; GcAB-measured).
      HostMeter.untimedGc()
      curPassUsed = true
      val hb = HostMeter.sample()
      val s0 = System.nanoTime()
      val res =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - s0) / 1e9)
        } catch {
          case e: Throwable =>
            val msg = s"pass$pass ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(200)
            // record the error ONLY when the query has no successful sample
            // yet (round-20 advisor item): a query that succeeded in earlier
            // passes but errors in a retry/adaptive pass would otherwise land
            // in BOTH the total and "errors", contradicting the header
            // contract that errored queries are excluded from the total.
            if (best.contains(name))
              System.err.println(s"[bench] WARN retry-pass error ignored " +
                s"(query has a prior successful sample) q=$name $msg")
            else {
              errors(name) = msg
              System.err.println(s"[bench] ERROR q=$name $msg")
            }
            None
        }
      res.foreach { sec =>
        best(name) = best.get(name).fold(sec)(math.min(_, sec))
        samples(name) = sec :: samples.getOrElse(name, Nil)
        val after = HostMeter.sample()
        // a sample is "clean" only when its window carried enough host
        // ticks to measure steal at all (round-20 advisor item: windowOf
        // clamps the tick delta to >= 1, so a sub-tick ~10 ms sample read
        // 0% steal and was spuriously exempted from the adaptive passes);
        // 16 ticks ≈ 5 ms of host time across 32 CPUs at 100 Hz — any
        // genuinely timed sf0.1 query clears it by orders of magnitude
        val ticksOk = after.totalTicks - hb.totalTicks >= 16
        if (ticksOk && windowOf(hb, after)._2 < CleanStealPct) cleanSample += name
        val host = HostMeter.describe(hb, after)
        System.err.println(f"[bench] done pass=$pass q=$name sec=$sec%.3f elapsed=$elapsed%.1f $host")
      }
      Console.err.flush()
      emit()
      res
    }

    // Pass 1: every query (the only pass guaranteed to run; per-query
    // emission keeps even a mid-pass kill parseable) — unless the wall hard
    // cap trips, in which case the remainder is disclosed as skipped and the
    // partial total still parses. One calibration sample leads each pass
    // (it also absorbs pass 1's first-job class-load, which q1 used to pay).
    calibSample()
    names.foreach { n =>
      if (elapsed < hardcapS) once(1, n)
      else {
        errors(n) = s"skipped: wall hardcap ${hardcapS}s exceeded in pass 1"
        System.err.println(s"[bench] SKIP q=$n (hardcap)")
        emit()
      }
    }
    passesDone = 1
    closePass()
    emit()

    // Pass 2: decorrelated second samples, budget permitting per query.
    // Order is ROTATED by half and reversed relative to pass 1: a single
    // multi-minute host-degradation window occupies the same wall-clock
    // region of every pass, so identical ordering would poison the SAME
    // queries' min in both passes (the round-4 artifact: a contiguous
    // alphabetical block inflated 10-100x in the final minima). Rotating
    // guarantees the window lands on different queries each pass.
    val pass2Order = {
      val (a, b) = names.splitAt(names.size / 2)
      (b ++ a).reverse
    }
    HostMeter.untimedGc() // untimed: let ContextCleaner reap pass-1 broadcast/shuffle blocks
    calibSample()
    for (n <- pass2Order if elapsed < budgetS) once(2, n)
    passesDone = 2
    closePass()
    emit()

    // Pass 3: a FULL third pass (round-8 verdict item 5 — the driver
    // windows showed same-HEAD per-query swings of ±30% even on the
    // min-of-2, so every query gets a genuine min-of-3, matching the
    // methodology of the hand-run regression tables). Rotation by a
    // QUARTER puts this pass's wall-clock position of each query away
    // from both earlier passes' positions.
    val pass3Order = {
      val (a, b) = names.splitAt(names.size / 4)
      b ++ a
    }
    HostMeter.untimedGc() // untimed: reap pass-2 blocks
    calibSample()
    for (n <- pass3Order if elapsed < budgetS) once(3, n)
    passesDone = 3
    closePass()
    emit()

    // Pass 4: only queries whose samples STILL disagree badly (several
    // poisoned by steal bursts) get a fourth, later, sample — budget
    // permitting.
    val noisy = names.filter { n =>
      samples.get(n) match {
        case Some(ss) if ss.size >= 2 =>
          ss.min > 1.0 && ss.max / ss.min > 2.0
        case _ => false
      }
    }
    HostMeter.untimedGc() // untimed: reap pass-3 blocks before the retry samples
    calibSample()
    for (n <- noisy if elapsed < budgetS) once(4, n)
    passesDone = 4
    closePass()
    emit()

    // Adaptive clean-window passes (round 19, r18 verdict item 6): queries
    // whose every sample so far landed in a steal-contended window
    // (per-sample steal ≥ CleanStealPct) get further rotated passes, up to
    // 8 passes total, budget permitting. In a clean driver window this adds
    // ZERO work (every query collects a clean sample in passes 1-3); in a
    // contended window (the r18 driver artifact: steal 2.4-3.9% on 2/4
    // passes, +17 s vs the same HEAD's clean record) the affected queries
    // keep sampling until the burst passes or the caps trip. The
    // methodology is unchanged — the per-query MIN over round-robin passes
    // — these are simply more of the same samples, and the artifact
    // discloses the residue ("noCleanSample" in BENCH_DETAIL.json).
    var extraPass = 5
    var remaining = names.filter(n => best.contains(n) && !cleanSample(n))
    while (remaining.nonEmpty && extraPass <= 8 && elapsed < budgetS) {
      System.err.println(s"[bench] adaptive pass=$extraPass: ${remaining.size} " +
        s"queries still lack a steal-clean sample")
      HostMeter.untimedGc()
      val rot = extraPass % math.max(remaining.size, 1)
      val (a, b) = remaining.splitAt(rot)
      for (n <- b ++ a if elapsed < budgetS) once(extraPass, n)
      passesDone = extraPass
      closePass()
      emit()
      extraPass += 1
      remaining = names.filter(n => best.contains(n) && !cleanSample(n))
    }
    spark.stop()
  }
}
