package graft

import org.apache.spark.sql.SparkSession

/** Decompose `q_pagerank`'s 100× wall and A/B the iteration strategies
  * over their native checkpoint layouts:
  *
  *  - `shj`   = src-partitioned checkpoint + per-round shuffle-hash joins +
  *    the dst-aggregation exchange (scales to any |V|);
  *  - `bcast` = dst-partitioned checkpoint + broadcast contribution fan-out
  *    + exchange-free aggregation (|V| must be broadcast-sized, see
  *    `Graph.vertexBroadcastablePool` — 1.6 M nodes at 100×);
  *  - `bcmat` = `bcast` with each round's rank frame materialized (see
  *    `Graph.vertexBroadcastableMaterializedPool`).
  *
  * Phases are timed separately: checkpoint build (once per strategy — the
  * two layouts cannot coexist, ~12 GB deserialized each against a ~19 GB
  * unified pool, so strategies run sequentially with an unpersist between,
  * not round-robin interleaved) and N iterate+sort passes per strategy.
  * Expects the 100× corpus at `probeDir/x100` (ScaleProbe generates it).
  */
object PagerankProbe {
  def main(args: Array[String]): Unit = {
    val probe = args.headOption.getOrElse("/root/repo/tmp/sfprobe100")
    // accept either a probe ROOT (x100 subdir convention) or a corpus dir
    // directly (the 1000× corpora live at tmp/sfprobe1000/x1000)
    val dir = if (new java.io.File(s"$probe/lineitem.parquet").exists()) probe
      else s"$probe/x100"
    val passes = if (args.length > 1) args(1).toInt else 3
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    require(new java.io.File(s"$dir/lineitem.parquet").exists(),
      s"no 100x corpus at $dir - run ScaleProbe with SPARK_GRAFT_PROBE_REPLICAS=100 first")
    ScaleProbe.requireCurrentDerivation(dir) // refuse a stale-derivation corpus
    ScaleProbe.warmDir(dir)

    // variants: shj (src-partitioned shuffle-hash), bcast (fused broadcast,
    // PrRounds+1 live relations), bcmat (broadcast with
    // per-round rank materialization, ≤2 live relations; the tier that
    // admits |V| the fused budget rejects). Optional arg 3 selects a
    // subset, e.g. `shj,bcmat` for the 1000× A/B where the fused build
    // is the known-OOM point.
    val variants = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(Seq("shj", "bcast", "bcmat"))
    // fail fast on unknown tokens: a typo like "bcmt" would otherwise run
    // as the FUSED broadcast tier (bcast=true, mat=false) — at the 1000×
    // probe that is the known-OOM configuration the variant arg exists to
    // avoid
    val known = Set("shj", "bcast", "bcmat")
    require(variants.forall(known), s"unknown variant(s) " +
      s"${variants.filterNot(known).mkString(",")} — expected a subset of ${known.mkString(",")}")
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (variant <- variants) {
      val bcast = variant != "shj"
      val mat = variant == "bcmat"
      var built: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        Long, Seq[org.apache.spark.rdd.RDD[_]]) = null
      // per-pass host-contention telemetry
      val (tBuild, hostB) = HostMeter.timed {
        built = operators.Graph.buildCheckpoint(spark, dir, bcast)
      }
      val (e, d, n, rdds) = built
      println(f"[pgprobe] $variant%-5s build   $tBuild%7.2fs  (|V|=$n)  $hostB")
      results(s"${variant}_build") = tBuild
      val iters = (1 to passes).map { p =>
        val (t, host) = HostMeter.timed {
          operators.Graph.iterate(e, d, n, bcast, mat)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[pgprobe] $variant%-5s pass=$p  $t%7.2fs  $host")
        t
      }
      results(s"${variant}_iter") = iters.min
      rdds.foreach(_.unpersist(blocking = true))
    }
    val body = results.map { case (k, v) => f""""$k%s":$v%.2f""" }.mkString(",")
    println(s"""{"probe":"pagerank-100x","passes":$passes,$body}""")
    spark.stop()
  }
}
