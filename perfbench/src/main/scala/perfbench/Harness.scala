package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{HostMeter, Sessions, SparkEntry}

/** Benchmark harness: one client thread runs a workload's operations in a
  * closed loop on a `Sessions.local` session and writes the raw
  * measurements as JSON for `perfbench/run.py`, which derives the metrics.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --queries Q,Q,... --data DIR --work DIR --out FILE
  *   Harness --record FILE --data DIR
  *
  * Set-up (session bring-up, data generation, warm-up passes) comes
  * first; then S / (the workload's nominal pass time) whole passes, at
  * least three. With tracing on, passes alternate untraced/traced, starting
  * and ending untraced (at least three): the traced ones give spans and
  * listener counts, their untraced neighbours the tracing overhead.
  * Before each pass, untimed, a fixed-work job samples the host's speed.
  * `--record` runs every contract query once and writes its fingerprint. */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val exit =
      try {
        if (a.contains("record")) record(a("record"), a("data"))
        else run(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
          a.getOrElse("queries", "").split(',').toSeq.filter(_.nonEmpty), a("data"), a("work"),
          a("out"))
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    sys.exit(exit)
  }

  private val cores = Runtime.getRuntime.availableProcessors

  private def session(trace: Boolean): SparkSession = {
    val listeners =
      if (trace) Seq(
        "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
        "spark.sql.streaming.streamingQueryListeners" -> classOf[DrainListener].getName)
      else Nil
    val spark = Sessions.local(cores.toString, listeners)
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(new JobListener)
    spark
  }

  private def seconds(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def window(b: HostMeter.Sample, e: HostMeter.Sample): Map[String, Any] = {
    val ticks = math.max(e.totalTicks - b.totalTicks, 1L)
    Map("load" -> e.load, "steal_pct" -> 100.0 * (e.stealTicks - b.stealTicks) / ticks)
  }

  /** Peak resident set of this JVM (VmHWM), in bytes; 0 off Linux. */
  private def peakRss(): Long =
    scala.util.Try {
      val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/status")))
      s.linesIterator.find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong * 1024
    }.getOrElse(0L)

  private def fingerprintJson(fp: Fingerprint): Map[String, Any] =
    Map("rows" -> fp.rows, "hash" -> fp.hashHex, "min_bin" -> fp.minBin,
      "max_bin" -> fp.maxBin, "out_of_range" -> fp.outOfRange)

  /** Wall of a fixed job that touches no engine code (`graft.Bench`'s
    * calibration range-sum): how fast this host ran CPU work just before
    * a pass. */
  private def calibrate(spark: SparkSession): Double = {
    val s = Clock.now()
    spark.range(0L, 1L << 28, 1L, cores)
      .selectExpr("sum((id * 2654435761) % 1000000007) as s")
      .write.format("noop").mode("overwrite").save()
    seconds(s, Clock.now())
  }

  def run(name: String, seed: Long, budgetS: Double, trace: Boolean, queries: Seq[String],
      dataDir: String, workDir: String, out: String): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val runHost0 = HostMeter.sample()
    val t0 = Clock.now()
    val spark = session(trace)
    val t1 = Clock.now()
    val w = Workloads(name, seed, dataDir, workDir, queries)
    w.prepare(spark)
    val t2 = Clock.now()
    val tr = new Tracer(spark.sparkContext)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runOp(op: Op, pass: Int, traced: Boolean): Unit = {
      val s = Clock.now()
      val result =
        try Right(tr(op.name)(op.run(spark, tr)))
        catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val e = Clock.now()
      ops += Map("name" -> op.name, "module" -> op.module, "pass" -> pass, "traced" -> traced,
        "start_ns" -> s, "end_ns" -> e, "wall_s" -> seconds(s, e),
        "error" -> result.left.toOption.orNull,
        "fingerprint" -> result.toOption.map(fingerprintJson).orNull)
    }

    calibrate(spark) // the first run pays code generation
    for (_ <- 1 to w.warmupPasses) w.order(0).foreach(runOp(_, 0, traced = false))
    val t3 = Clock.now()

    // A fixed pass count for a given --seconds: passes keep getting faster
    // as the JIT warms, so a count that depended on how fast the run went
    // would move the medians by itself.
    // At least three, so that the reported median is a middle pass rather
    // than the mean of a slower and a faster one.
    val measured = math.max(3, math.round(budgetS / w.nominalPassS).toInt)
    val total = if (trace) math.max(3, measured | 1) else measured
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (pass <- 1 to total) {
      val traced = trace && pass % 2 == 0 // traced passes sit between untraced ones
      HostMeter.untimedGc()
      val calib = calibrate(spark)
      tr.on = traced
      Recorder.on = traced
      val h0 = HostMeter.sample()
      val g0 = gcMs()
      val s = Clock.now()
      val first = ops.size
      w.order(pass).foreach(runOp(_, pass, traced))
      val e = Clock.now()
      // listener events arrive asynchronously: let the traced pass's last
      // ones land before recording stops
      if (traced) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      tr.on = false
      Recorder.on = false
      passes += Map("pass" -> pass, "traced" -> traced, "start_ns" -> s, "end_ns" -> e,
        "wall_s" -> ops.drop(first).map(_("wall_s").asInstanceOf[Double]).sum,
        "gc_s" -> (gcMs() - g0) / 1000.0, "calib_s" -> calib,
        "host" -> window(h0, HostMeter.sample()))
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "setup" -> Map(
        "jvm_boot_s" -> seconds(jvmStart, t0),
        "session_s" -> seconds(t0, t1),
        "prepare_s" -> seconds(t1, t2),
        "warmup_s" -> seconds(t2, t3),
        "total_s" -> seconds(jvmStart, t3)),
      "ops" -> ops.toSeq,
      "passes" -> passes.toSeq,
      "host" -> window(runHost0, HostMeter.sample()),
      "peak_rss_bytes" -> peakRss())
    w match {
      case t: TokenizeRef =>
        result("rows") = t.rows
        result("cols") = t.cols
      case _ =>
    }
    if (trace) Recorder.synchronized {
      result("spans") = tr.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
      result("span_counts") = Recorder.counts.toSeq.map { case (span, c) =>
        Map("span" -> span, "jobs" -> c.jobs, "stages" -> c.stages,
          "single_task_stages" -> c.singleTaskStages, "tasks" -> c.tasks,
          "task_run_s" -> c.runMs / 1000.0, "task_cpu_s" -> c.cpuNs / 1e9,
          "task_gc_s" -> c.gcMs / 1000.0, "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "shuffle_read_bytes" -> c.shuffleReadBytes, "fetch_wait_s" -> c.fetchWaitMs / 1000.0,
          "spill_bytes" -> c.spillBytes)
      }
      result("plans") = Recorder.plans.toSeq.map(p => Map("execution" -> p.executionId,
        "func" -> p.func, "phases" -> p.phases.map { case (n, s, e) =>
          Map("name" -> n, "start_ns" -> s, "end_ns" -> e) }))
      result("progress") = Recorder.progress.toSeq.map(p => Map("run" -> p.runId,
        "batch" -> p.batchId, "start_ns" -> p.startNs, "durations_ms" -> p.durationsMs,
        "input_rows" -> p.inputRows, "state_rows" -> p.stateRows,
        "state_commit_ms" -> p.stateCommitMs))
    }
    spark.stop()
    Json.writeFile(out, result.toMap)
  }

  /** Fingerprint every contract query once, in name order. */
  def record(out: String, dataDir: String): Unit = {
    val spark = session(trace = false)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      val fp = FingerprintSink.write(fn(spark, dataDir))
      System.err.println(s"[record] $n rows=${fp.rows} hash=${fp.hashHex}")
      n -> Map("module" -> Workloads.moduleOf(fn), "rows" -> fp.rows, "hash" -> fp.hashHex)
    }
    spark.stop()
    Json.writeFile(out, Map("queries" -> rows.toMap))
  }
}

/** JSON output of the harness's maps, sequences and scalars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def writeFile(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)
}
