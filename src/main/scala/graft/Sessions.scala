package graft

import org.apache.spark.sql.SparkSession

/** THE session standard for every graft runner main: one place, so a
  * session-wide setting cannot silently miss a harness (when the standard
  * lived as hand-copied session setup in each main, a codec change landed
  * in some mains and not others, and dev timers ran up to ~24% apart from
  * Bench on volume-bound sort exchanges).
  *
  * The standard itself, and why each line is on it:
  *  - `shuffle.partitions = cpus` — local[N] has no executor fan-out;
  *    more partitions than threads just adds scheduling overhead.
  *  - `codegen.cache.maxEntries = 5000` — the generated-class cache
  *    defaults to 100 entries; a 118-query round-robin evicts every
  *    query's classes between passes so EVERY pass pays full Janino
  *    recompilation (measured: q_pagerank 1.6 s isolated vs 3.3-3.5 s
  *    with three co-resident queries; raising the cache restored 1.8 s
  *    and shaved most queries 10-20%). ~Few hundred MB of class
  *    metadata at worst — cheap next to re-running the compiler.
  *  - `io.compression.codec = zstd` — round-13 one-window A/B: the
  *    volume-bound ~20 GB fuzzy sort exchange ran 34.6/36.9 s (zstd)
  *    vs 41.9/61.2 s (lz4); the small-shuffle sf0.1 regime measured
  *    neutral within the host band (CodecAB), so the tighter codec is
  *    free where it doesn't win.
  *  - `rdd.compress = true` — serialized-at-rest RDD blocks (the
  *    memory-tight-regime edge checkpoint in Graph, the sorted column in
  *    Tokenize.quantileBoundsExact — the ONLY serialized persists in the
  *    engine; deserialized MEMORY_AND_DISK blocks are untouched by this flag)
  *    compress through the session codec (zstd). Round 18: the 1000×
  *    pagerank checkpoint is ~29 GB raw serialized (1.2 B two-long edge
  *    rows) — mostly EVICTED to disk past the 19 GiB pool — vs ~4×
  *    smaller compressed; at that scale the per-read decompress is paid
  *    back by the disk-I/O cut on every one of the 3+1 checkpoint scans,
  *    and in the fits-in-memory regime (100×: 4.2 GB raw) it converts
  *    pool-crowding storage into execution headroom. 100× A/B
  *    (back-to-back min-of-3 ScaleProbe runs, clean passes): compressed
  *    9.32 s vs raw 8.57 s — ~8% per-read decompress cost where the raw
  *    form still fits; accepted for the capacity win one decade up. The
  *    deserialized fast path (sf0.1 regime) is unaffected by
  *    construction.
  *  - `session.timeZone = UTC` — deterministic cross-engine timestamp
  *    hashing vs the DuckDB oracle.
  *  - `legacy.parquet.nanosAsLong = true` — the testdata's INT64(nanos)
  *    event timestamps read as long micros-convertible values.
  *  - `cleaner.periodicGC.interval = 60s` — with a large heap the
  *    driver may never GC, so ContextCleaner never reaps broadcast/
  *    shuffle blocks and accumulated state inflates later queries. The
  *    tick can phase-lock with ~60 s deterministic multi-query passes and
  *    land in the same query's timed slot every pass, which is why every
  *    harness collects untimed before a sample ([[HostMeter.untimedGc]]).
  *  - UI off — headless runner.
  *
  * `extra` appends/overrides per-harness settings (Verify's parquet
  * timestamp type; an A/B of any standard value passes it here). The
  * driver's own contract session is built by the DRIVER, not here —
  * contract queries must stay correct under a default session; this
  * standard is about comparable MEASUREMENT, not correctness. */
object Sessions {
  val Standard: Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.io.compression.codec" -> "zstd",
    "spark.rdd.compress" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.cleaner.periodicGC.interval" -> "60s")

  /** Env lookup that treats an EMPTY value as unset: the shell idiom
    * `VAR= cmd` should mean "default", not pass "" straight into a Spark
    * conf parser and fail the session build. */
  private[graft] def env(name: String, default: String): String =
    envOpt(name).getOrElse(default)

  private def envOpt(name: String): Option[String] =
    sys.env.get(name).filter(_.trim.nonEmpty)

  /** The SPARK_GRAFT_CPUS override every runner shares (empty = unset,
    * same convention as the other env knobs). */
  def cpus: String = env("SPARK_GRAFT_CPUS", defaultCpus)

  /** Default thread count: min(host cores, 32) — round-13 advisor item:
    * a literal "32" default meant every runner that did NOT hand-clamp
    * (RefBench, …) got local[32] + 32 shuffle partitions on a
    * smaller host, oversubscribing it and skewing dev timings. The 32
    * ceiling matches the driver's contract environment (local[32],
    * 32 shuffle partitions) so big-host runs stay comparable. */
  def defaultCpus: String =
    math.min(Runtime.getRuntime.availableProcessors, 32).toString

  /** `SPARK_GRAFT_MASTER` overrides the master URL (round-14: the
    * multi-executor proof runs the same harnesses under
    * `local-cluster[2,16,8192]` — 2 executor JVMs — without forking any
    * runner). When the override is a local-cluster/standalone master the
    * executor JVMs are NOT this JVM: they need the graft classes on their
    * own classpath (`spark.executor.extraClassPath`; dev classpath is
    * passed through by tools/run.sh convention) and enough heap for the
    * 100× probe partitions. Plain `local[*]` ignores both settings. */
  def local(cpus: String = env("SPARK_GRAFT_CPUS", defaultCpus),
            extra: Seq[(String, String)] = Nil): SparkSession = {
    val master = env("SPARK_GRAFT_MASTER", s"local[$cpus]")
    var b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
    if (!master.startsWith("local[")) {
      // default: ship THIS JVM's classpath (the dev classes dir + spark
      // jars the executor already has — harmless duplicates) instead of a
      // hardcoded checkout path that breaks on any other clone location.
      // Entries are ABSOLUTIZED (round-14 advisor item): sbt/IDE launches
      // put relative entries (e.g. target/scala-2.13/classes) on
      // java.class.path, which would resolve against each EXECUTOR's own
      // working directory on a non-local master and silently drop the
      // graft classes there.
      b = b.config("spark.executor.extraClassPath",
        envOpt("SPARK_GRAFT_EXEC_CP").getOrElse(absolutizedClassPath()))
      envOpt("SPARK_GRAFT_EXEC_MEM").foreach { m =>
        b = b.config("spark.executor.memory", m)
      }
    }
    (Standard ++ extra).foreach { case (k, v) => b = b.config(k, v) }
    b.getOrCreate()
  }

  /** This JVM's classpath with every entry made absolute (pure core,
    * spec-pinned): relative entries resolve against the READER's cwd, and
    * an executor JVM's cwd is its own work dir, not the driver's. */
  private[graft] def absolutizedClassPath(
      raw: String = System.getProperty("java.class.path"),
      sep: String = java.io.File.pathSeparator): String =
    raw.split(java.util.regex.Pattern.quote(sep))
      .filter(_.nonEmpty)
      .map(e => new java.io.File(e).getAbsolutePath)
      .mkString(sep)
}
