package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins the pure derivations that have no Spark surface of their
  * own: the scale-derived bucket count, the stale-registry eviction core,
  * and the dead-process scratch sweep. */
class BucketedCountSpec extends AnyFunSuite {

  test("bucketCountFor: parallelism floor, row growth, power-of-two nesting") {
    import Bucketed.bucketCountFor
    // fixture scales: rows never dominate, parallelism floors (pow2-rounded)
    assert(bucketCountFor(600_000L, 32) == 32)   // sf0.1, 32 cores
    assert(bucketCountFor(60_000L, 8) == 8)      // sf0.01, Verify's 8 cores
    assert(bucketCountFor(6_000L, 4) == 4)       // sf0.001, test session
    // corpus-dominated: ceil(rows/500k) then round UP to a power of two
    assert(bucketCountFor(60_000_000L, 32) == 128)  // 100x probe: 120 -> 128
    assert(bucketCountFor(100_000_000_000L, 4096) == 262144) // ~100 TB scale
    // boundary behavior: exactly at a power of two stays, one past steps up
    assert(bucketCountFor(500_000L * 64, 8) == 64)
    assert(bucketCountFor(500_000L * 64 + 1, 8) == 128)
    // successive scales nest: each count divides the next
    val counts = Seq(600_000L, 6_000_000L, 60_000_000L, 600_000_000L)
      .map(bucketCountFor(_, 32))
    assert(counts.zip(counts.tail).forall { case (a, b) => b % a == 0 })
    // degenerate floor
    assert(bucketCountFor(0L, 1) == 1)
  }

  test("edgePartitionsFor: parallelism floor; pinned-memory growth only when tight") {
    import Graph.edgePartitionsFor
    // fixture scales: parallelism floors (sf0.1 lineitem 600k -> 1.2M edges)
    assert(edgePartitionsFor(600_000L, 32, serialized = false) == 32)
    assert(edgePartitionsFor(60_000L, 8, serialized = false) == 8)
    // memory-comfortable regime: the floor regardless of rows (extra
    // partitions are pure task overhead — measured ~25%/iteration at 100x)
    assert(edgePartitionsFor(60_000_000L, 32, serialized = false) == 32)
    // memory-tight regime, 100x probe: 60M lineitem rows -> 120M edge
    // upper bound -> 120 -> 128 partitions, so a 32-wide stage read-pins
    // <= 32 x ~40MB of the serialized checkpoint, not all ~4.2GB of it
    assert(edgePartitionsFor(60_000_000L, 32, serialized = true) == 128)
    // ~100 TB scale, tight: bounded per-partition rows, cores-wide floor
    assert(edgePartitionsFor(100_000_000_000L, 4096, serialized = true) == 262144)
    // successive tight scales nest (same power-of-two convention as buckets)
    val counts = Seq(600_000L, 6_000_000L, 60_000_000L, 600_000_000L)
      .map(edgePartitionsFor(_, 32, serialized = true))
    assert(counts.zip(counts.tail).forall { case (a, b) => b % a == 0 })
    assert(edgePartitionsFor(0L, 1, serialized = true) == 1)
  }

  test("edgeSerializedFor: format follows footprint vs unified pool") {
    val gib = 1L << 30
    def edgeSerializedFor(lineitemRows: Long, heap: Long): Boolean =
      Graph.edgeSerializedForPool(lineitemRows, Graph.unifiedPoolOf(heap))
    // 100x probe corpus (60M lineitem rows -> ~12GB deserialized estimate):
    // must go serialized in the 8 GiB dev JVM (deserialized measured: task
    // death), deserialized in the 32 GiB probe JVM (measured 1.7x faster)
    assert(edgeSerializedFor(60_000_000L, 8 * gib))
    assert(!edgeSerializedFor(60_000_000L, 32 * gib))
    // marginal middle: 16 GiB unified ~9.4GB < 12GB estimate -> serialized
    assert(edgeSerializedFor(60_000_000L, 16 * gib))
    // fixture scales stay deserialized at the dev heap
    assert(!edgeSerializedFor(600_000L, 8 * gib))   // sf0.1
    assert(!edgeSerializedFor(6_000_000L, 8 * gib)) // 10x probe
  }

  test("evictStaleByApp drops only foreign-prefix entries; callback failures swallowed") {
    val m = scala.collection.concurrent.TrieMap(
      "app-1|/d1" -> 1, "app-1|/d2" -> 2, "dead-app|/d1" -> 3, "dead-app|/d2" -> 4)
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Int]
    graft.ModelState.evictStaleByApp(m, "app-1") { v =>
      evicted += v
      if (v == 4) sys.error("boom") // best-effort: must not abort the sweep
    }
    assert(m.keySet == Set("app-1|/d1", "app-1|/d2"))
    assert(evicted.toSet == Set(3, 4))
    // prefix must match on the full app id, not a substring
    val m2 = scala.collection.concurrent.TrieMap("app-10|/d" -> 1)
    graft.ModelState.evictStaleByApp(m2, "app-1")(_ => ())
    assert(m2.isEmpty, "app-10 is NOT app-1's entry and must be evicted")
  }

  test("poolSplit: local collapses to the driver pool; cluster sums executors and takes the min JVM") {
    // local mode: the registry holds exactly the driver entry — aggregate
    // and min are both that pool (old Runtime.maxMemory behavior)
    assert(Graph.poolSplit(Seq("driver" -> 100L), 7L) == (100L, 100L))
    // registry briefly empty at startup: the fallback (driver-derived)
    // stands in, which under-estimates a cluster -> conservative
    assert(Graph.poolSplit(Nil, 7L) == (7L, 7L))
    // cluster: aggregate = SUM of executor pools (what the spread-out
    // checkpoint competes for); min = smallest of driver AND executors
    // (what a broadcast relation must fit)
    assert(Graph.poolSplit(
      Seq("driver" -> 100L, "0" -> 40L, "1" -> 60L), 7L) == (100L, 40L))
    // small driver binds the broadcast even when executors are large
    assert(Graph.poolSplit(
      Seq("driver" -> 10L, "0" -> 40L, "1" -> 60L), 7L) == (100L, 10L))
  }

  test("dirFingerprint: stable on unchanged tree, moves on size/mtime, absent-safe (round-13 advisor)") {
    import java.nio.file.{Files, Paths}
    val d = Files.createTempDirectory("fpspec")
    val f = d.resolve("part-0.parquet")
    Files.writeString(f, "aaaa")
    val fp1 = graft.ModelState.dirFingerprint(d.toString)
    assert(fp1 == graft.ModelState.dirFingerprint(d.toString),
      "fingerprint must be deterministic on an unchanged tree")
    Files.writeString(f, "bbbbbbbb") // size changes
    assert(fp1 != graft.ModelState.dirFingerprint(d.toString),
      "size change must move the fingerprint")
    val fp2 = graft.ModelState.dirFingerprint(d.toString)
    Files.setLastModifiedTime(f, // same size, mtime-only change
      java.nio.file.attribute.FileTime.fromMillis(1234567890000L))
    assert(fp2 != graft.ModelState.dirFingerprint(d.toString),
      "mtime-only change must move the fingerprint")
    assert(graft.ModelState.dirFingerprint(d.resolve("gone").toString) == "absent")
  }

  test("scratch sweep reclaims dead-pid roots, never the live process's") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    // a root whose pid cannot be alive (pid_max is < 2^22 on Linux)
    val tag = "sweepspec"
    val live = graft.ScratchDirs.freshRoot(tag, "/spec/key")
    val digest = live.getFileName.toString
      .stripPrefix(s"graft_${tag}_").takeWhile(_ != '_')
    val stale = tmp.resolve(s"graft_${tag}_${digest}_p4999999")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("f"), "x")
    // re-creating the root sweeps the stale sibling, keeps the fresh root
    val again = graft.ScratchDirs.freshRoot(tag, "/spec/key")
    assert(again == live)
    assert(!java.nio.file.Files.exists(stale), "dead-pid root must be swept")
    assert(java.nio.file.Files.exists(again))
    graft.ScratchDirs.deleteRecursively(again)
  }
}
