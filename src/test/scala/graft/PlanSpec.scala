package graft

/** Physical-plan shape assertions — locks in the scale posture so a
  * refactor can't silently lose predicate pushdown, column pruning, or
  * dimension broadcasting (SURVEY §4 / README scale notes). */
class PlanSpec extends SparkSpec {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q_filter_project pushes every predicate into the parquet scan") {
    val plan = formatted(operators.Relational.qFilterProject(spark, sf))
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"))
    assert(plan.contains("GreaterThan(l_quantity,45.0)"))
    assert(plan.contains("LessThanOrEqual(l_discount,0.02)"))
  }

  test("q_filter_project prunes the scan to referenced columns only") {
    val plan = formatted(operators.Relational.qFilterProject(spark, sf))
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema:")).get
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
    assert(readSchema.contains("l_quantity"))
  }

  test("q_orc_scan pushes predicates into the ORC reader and prunes its columns") {
    // format parity (round 15): the ORC scan must carry the same
    // pushdown/pruning posture as the parquet scans — search-argument
    // row-group skipping and a 3-column ReadSchema
    val plan = formatted(sources.OrcSource.qOrcScan(spark, sf))
    assert(plan.contains("Scan orc"), s"must read ORC, not parquet:\n$plan")
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("EqualTo(o_orderstatus,O)"), plan)
    assert(plan.contains("GreaterThan(o_totalprice,50000.0)"), plan)
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema:")).get
    assert(!readSchema.contains("o_custkey") && !readSchema.contains("o_orderpriority"),
      readSchema)
    assert(readSchema.contains("o_totalprice") && readSchema.contains("o_orderdate"),
      readSchema)
  }

  test("q_csv_scan pushes predicates to the CSV parser, prunes columns, and infers types") {
    // text-format parity (round 16): CSV carries the same posture —
    // PushedFilters reach the parser (SPARK-30323: non-matching rows are
    // skipped before full row construction) and unreferenced fields are
    // never converted. What CSV scans CANNOT push: there is no row-group
    // statistics skipping (text has no footer stats), so a pushed filter
    // still parses every line's referenced prefix — pruning I/O needs a
    // columnar format; this assertion pins what the text lane CAN do.
    val plan = formatted(sources.CsvSource.qCsvScan(spark, sf))
    assert(plan.contains("Scan csv"), s"must read CSV, not parquet:\n$plan")
    assert(plan.contains("EqualTo(p_type,PROMO)"), plan)
    assert(plan.contains("GreaterThan(p_size,25)"), plan)
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema:")).get
    assert(!readSchema.contains("p_brand"), s"unreferenced column must be pruned: $readSchema")
    // the INFERRED types are visible in-plan: integers landed as int (not
    // string, not bigint), the money column as double — the same types
    // the oracle CASTs the parquet source to
    assert(readSchema.contains("p_partkey:int") && readSchema.contains("p_size:int"),
      readSchema)
    assert(readSchema.contains("p_retailprice:double"), readSchema)
  }

  test("q_json_scan pushes the top-level filter, keeps the nested one, prunes, and infers types") {
    // JSONL-format parity (round 17, the format axis' last member): the
    // top-level equality reaches the JSON parser (SPARK-32346:
    // JsonFilters aborts row materialization on the first failing
    // pushed predicate), unreferenced top-level fields are never
    // converted (user_id absent from ReadSchema), and the INFERRED
    // types are visible in-plan — bigint/double/timestamp and the
    // NESTED struct<k:bigint> that CSV cannot express. The honest
    // limit, pinned as such: a predicate on a nested field
    // (props.k > 50) is NOT pushable into the JSON scan — it stays in
    // the Filter node — and like CSV there is no row-group statistics
    // skipping; pushed filters save row CONSTRUCTION, not I/O.
    val plan = formatted(sources.JsonSource.qJsonScan(spark, sf))
    assert(plan.contains("Scan json"), s"must read JSONL, not parquet:\n$plan")
    assert(plan.contains("EqualTo(event_type,purchase)"), plan)
    assert(!plan.contains("GreaterThan(props"),
      s"nested predicates must not claim pushdown:\n$plan")
    val filterLine = plan.linesIterator.find(_.trim.startsWith("Condition")).get
    assert(filterLine.contains("props") && filterLine.contains("> 50"),
      s"the nested predicate must survive in the Filter node: $filterLine")
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema:")).get
    assert(!readSchema.contains("user_id"),
      s"unreferenced column must be pruned: $readSchema")
    assert(readSchema.contains("event_id:bigint") &&
      readSchema.contains("props:struct<k:bigint>"), readSchema)
    assert(readSchema.contains("ts:timestamp") && readSchema.contains("value:double"),
      readSchema)
  }

  test("AQE posture pinned: assertions run adaptive, and the bucketed join survives finalization") {
    // The DRIVER's contract session runs Spark defaults, where
    // spark.sql.adaptive.enabled is TRUE — so every plan this suite
    // asserts must hold under runtime re-planning, and the spec session
    // must not quietly differ (round-15 verdict item 6: the engine never
    // asserted the AQE interaction either way). Pin the posture...
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "plan assertions must run under the driver-default ADAPTIVE posture")
    // ...and assert a representative shape on the FINAL adaptive plan,
    // after execution, not just the static one: AQE may re-plan joins at
    // runtime (broadcast flips, skew splits, partition coalescing), and
    // the bucketed join's zero-pre-join-exchange property must survive
    // that — a co-located scan AQE replaced with a shuffled one would
    // pass the static assertion above and still shuffle at runtime.
    val df = operators.Bucketed.qBucketedJoin(spark, sf)
    df.collect() // drive to completion so the adaptive plan finalizes
    val fin = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        assert(a.isFinalPlan, "plan must have finalized")
        a.executedPlan
      case p => p
    }
    // the finalized plan is STAGED: QueryStageExec wraps each materialized
    // subtree as a leaf, so a plain collect stops at stage boundaries —
    // descend through them
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val nodes = flatten(fin)
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(joins.nonEmpty, s"bucketed join must stay a merge join under AQE:\n$fin")
    val preJoinExchanges = joins.head.children.flatMap(flatten).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
    assert(preJoinExchanges.isEmpty,
      s"AQE-final plan must keep the bucketed join's inputs exchange-free:\n$fin")
  }

  test("q_join_star broadcasts the dims and merge-joins the bucketed facts shuffle-free") {
    val plan = formatted(operators.Relational.qJoinStar(spark, sf))
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
    // round 10: the fact⋈fact hop reads the bucketed layout — both fact
    // scans co-located on orderkey, merge join with ZERO pre-join
    // exchanges; the only exchanges left are the nation aggregation and
    // the output sort (count DETAIL headers, see q_bucketed_join)
    assert(plan.contains("SortMergeJoin"),
      s"fact join must stay a merge join over the bucketed scans:\n$plan")
    val bucketScans = plan.linesIterator.count(_.contains("SelectedBucketsCount"))
    assert(bucketScans >= 2, s"both fact inputs must be bucketed scans:\n$plan")
    val exchanges = plan.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 2,
      s"expected <=2 exchanges (agg + output sort), the fact join must be exchange-free:\n$plan")
  }

  test("q_fuzzy_best runs on the distinct-name funnel: corpus never self-joins (round 11)") {
    val df = operators.Relational4.qFuzzyBest(spark, sf)
    val plan = formatted(df)
    // levenshtein must appear ONLY in the D² distinct-name cross join —
    // the corpus-level joins are all broadcast equi-joins on precomputed
    // stats, so no SortMergeJoin/ShuffledHashJoin anywhere in the plan
    assert(plan.contains("levenshtein"), s"distance table must exist:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus joins must all be broadcast (stats/perName are bounded):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-(block,name) stats must broadcast onto the corpus:\n$plan")
    // the only non-broadcast join is the 64×64 name cross join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"distance table is a tiny cross join:\n$plan")
    // per-(block,name) argmin funnel: partial+final codegen HashAggregate
    // — the packed-long (dist << 48 | key) min exists precisely so the
    // argmin never falls back to a SortAggregate (round-10 advisor item:
    // assert the absence, not just a count). The grp/grp2 profile
    // aggregates run at construction (localCheckpoint) and are not in
    // this plan.
    assert(!plan.contains("SortAggregate"),
      s"packed-long argmin must stay a HashAggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"per-doc argmin must be an aggregate, not a window:\n$plan")
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate for perName:\n$plan")
    // the returned plan reads the corpus EXACTLY once (the map-only
    // resolution join); the two profile passes pre-materialized into
    // checkpointed ≤ blocks×D-row frames. Count the DETAIL headers —
    // FormattedMode prints each scan twice (tree line + detail header).
    val scans = plan.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected exactly one corpus scan, got $scans:\n$plan")
  }

  test("q1 aggregation is partial+final (map-side combine)") {
    val plan = formatted(operators.Relational.q1PricingSummary(spark, sf))
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate, got $aggs")
  }

  test("q_sample_hash shuffles only for the final output sort") {
    val plan = formatted(operators.PipelineOps.qSampleHash(spark, sf))
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges == 1, s"hash sampling must be map-only up to the ORDER BY, got $exchanges exchanges:\n$plan")
  }

  test("q_ann_ivf assigns cells map-only and probes via broadcast join") {
    val plan = formatted(operators.Similarity.qAnnIvf(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "probe must be a broadcast equi-join on cell id")
    // corpus side must not shuffle before the join: the only exchanges are
    // the two tiny query-side windows and the final output sort
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 3, s"unexpected shuffle on the corpus side ($exchanges exchanges):\n$plan")
  }

  test("q_text_normalize runs the byte walk once, above the output sort (round 8)") {
    val plan = SparkEntry.queries("q_text_normalize")(spark, sf)
      .queryExecution.executedPlan.toString
    // exactly one normalize call in the plan (never duplicated into the
    // length column), and it sits ABOVE the range exchange — parents print
    // first, so its line index must precede the Exchange's — which keeps
    // the sort-sampling pass on the bare pruned scan
    val norm = plan.linesIterator.indexWhere(_.contains("graft_normalize_text"))
    val exch = plan.linesIterator.indexWhere(_.contains("Exchange rangepartitioning"))
    assert(norm >= 0 && exch >= 0, plan)
    assert(norm < exch, s"normalize must evaluate after the exchange (post-sort stage):\n$plan")
    assert(plan.sliding("graft_normalize_text".length).count(_ == "graft_normalize_text") == 1,
      s"byte walk must appear exactly once in the plan:\n$plan")
  }

  test("q_tokenize_rank has no single-partition exchange anywhere (round 3)") {
    val plan = SparkEntry.queries("q_tokenize_rank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      "the selection rank tokenizer must never funnel through one partition")
  }

  test("tokenize quartet: token columns ride the contract sort as one packed long (round 12/13)") {
    // The q_fuzzy_pairs narrow-sort convention: an UnsafeRow spends a full
    // 8-byte slot per field, so the 4 token ints must be packed into one
    // long below the Sort (sort row ~56 -> 32 B at 60 M rows) and decoded
    // in the projection above it. The Sort's input schema must carry no
    // *_token column and exactly 3 fields (2 keys + the packed long) —
    // round 13 extends the pin from the trio to q_tokenize_rank, whose
    // sort previously carried the 6-column raw tiebreak (~9 s of its
    // 11.4 s 100x wall).
    for (q <- Seq("q_tokenize_rank", "q_tokenize_bucketize",
        "q_tokenize_rightopen", "q_tokenize_qcut")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sf))
      val sortInputs = plan.split("""\n\n""").toSeq
        .filter(_.linesIterator.nextOption.exists(_.matches("""\(\d+\) Sort.*""")))
        .flatMap(_.linesIterator.filter(_.trim.startsWith("Input")))
      assert(sortInputs.nonEmpty, s"$q: expected a Sort detail section:\n$plan")
      sortInputs.foreach { in =>
        assert(!in.contains("_token"),
          s"$q: sort row must carry the packed long, not token columns: $in")
        assert(in.trim.startsWith("Input [3]"),
          s"$q: sort row must be exactly (key, key, packed long): $in")
      }
    }
  }

  test("q_kmeans_step: map-only cell assignment, one combined aggregation") {
    val plan = formatted(operators.Similarity.qKmeansStep(spark, sf))
    // exchanges: the (cell, dim) aggregation shuffle + the output sort only —
    // the embedding column itself is never shuffled
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"cell assign must stay map-only ($exchanges exchanges):\n$plan")
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, "centroid update must map-side combine")
  }

  test("q_dedup_simhash candidates come from an equi-join, not a theta join") {
    val plan = formatted(operators.Dedup.qDedupSimhash(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "segment banding must make candidate generation an equi-join:\n" + plan)
  }

  test("q_decontaminate joins corpus grams against a broadcast benchmark set") {
    val plan = formatted(operators.TrainPrep.qDecontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the benchmark gram set must broadcast — the corpus side never shuffles for the overlap join:\n" + plan)
  }

  test("q_pack_sequences: distributed prefix sum on composite (source, bucket) key") {
    val plan = formatted(operators.TrainPrep.qPackSequences(spark, sf))
    // the fact-scale running-sum window must partition by the COMPOSITE
    // key, never by source alone (a handful of partitions at any scale)
    assert("hashpartitioning\\(source#\\d+, bucket#\\d+".r.findFirstIn(plan).isDefined,
      s"running sum must shuffle by (source, bucket):\n$plan")
    assert(plan.contains("Window"), "running offset must be a window, not a self-join")
    // the bucket-offsets side joins back as a broadcast, not a shuffle join
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back onto the fact rows:\n$plan")
  }

  test("q_rolling_quantile windows run on composite keys with bounded blocks") {
    val plan = formatted(operators.EventOps.qRollingQuantile(spark, sf))
    assert("hashpartitioning\\(event_type#\\d+, pb#\\d+".r.findFirstIn(plan).isDefined,
      s"local row_number must shuffle by (event_type, hour):\n$plan")
    assert("hashpartitioning\\(event_type#\\d+, blk#\\d+".r.findFirstIn(plan).isDefined,
      s"frame windows must shuffle by (event_type, block):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"hour offsets must broadcast back onto the event rows:\n$plan")
  }

  test("q_sample_reservoir ranks the corpus on (source, shard), source only on survivors") {
    val plan = formatted(operators.QualityOps.qSampleReservoir(spark, sf))
    assert("hashpartitioning\\(source#\\d+, shard#\\d+".r.findFirstIn(plan).isDefined,
      s"phase-1 rank must shuffle by (source, shard):\n$plan")
    // phase 2 re-shuffles by source ALONE (keys = exactly [source]; the
    // next token after source# is the partition count, not shard#) and
    // consumes only the lpick-filtered local survivors. Formatted-explain
    // details are listed leaf-first, so the inner (source, shard) exchange
    // must appear BEFORE the lpick window, which must appear BEFORE the
    // source-only exchange.
    val srcOnly = "hashpartitioning\\(source#\\d+, \\d+\\)".r.findFirstIn(plan)
    assert(srcOnly.isDefined, s"phase-2 rank must shuffle by source alone:\n$plan")
    val compositeExch = "hashpartitioning\\(source#\\d+, shard#\\d+".r
      .findFirstMatchIn(plan).get.start
    val lpickWindow = plan.indexOf("lpick")
    val srcOnlyExch = plan.indexOf(srcOnly.get)
    assert(lpickWindow >= 0, plan)
    assert(compositeExch < lpickWindow && lpickWindow < srcOnlyExch,
      s"lpick rank+filter must sit between the (source, shard) (inner) and source-only (outer) exchanges:\n$plan")
  }

  test("q_shard_assign sorts within shards, never globally before ranking") {
    val plan = formatted(operators.TrainPrep.qShardAssign(spark, sf))
    // the row_number window partitions by shard: its sort is partition-local
    // (the only global sort is the final output ORDER BY doc_id)
    val windowLine = plan.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.nonEmpty, "shard position must be a window rank")
    assert(!plan.contains("Exchange SinglePartition"),
      "shard ranking must never funnel through one partition:\n" + plan)
  }

  test("q_sample_weighted / q_doc_chunks shuffle only for the output sort") {
    for (q <- Seq(operators.QualityOps.qSampleWeighted(spark, sf),
                  operators.QualityOps.qDocChunks(spark, sf))) {
      val exchanges = formatted(q).linesIterator.count(_.contains(") Exchange"))
      assert(exchanges == 1, s"map-only up to the ORDER BY, got $exchanges exchanges")
    }
  }

  test("q_vocab_coverage joins tokens against a broadcast vocabulary") {
    val plan = formatted(operators.QualityOps.qVocabCoverage(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the tiny vocab must broadcast — the exploded token stream never shuffles for it:\n" + plan)
  }

  test("q_emb_hamming: map-only signatures, broadcast queries, <=2 shuffles") {
    val plan = formatted(operators.QualityOps.qEmbHamming(spark, sf))
    assert(plan.contains("Broadcast"), "the 5-row query side must broadcast")
    // shuffles: the per-query top-k window + the final output sort only —
    // the 64-bit signature stream itself never hash-shuffles
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"candidate stream must not shuffle ($exchanges exchanges):\n$plan")
  }

  test("q_pq_gate_exact: broadcast ground-truth scan — queries broadcast, corpus never shuffles pre-window") {
    val plan = formatted(operators.Similarity.qPqGateExact(spark, sf))
    assert(plan.contains("Broadcast"),
      "the 5-row query side must broadcast onto the corpus scan")
    // exchanges: the per-query rank window + the final output sort — the
    // corpus stream itself is scored map-side (the canonical linear
    // ground-truth shape at any scale)
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"corpus must not shuffle before the window ($exchanges exchanges):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "a 5-row side must never sort-merge against the corpus")
  }

  test("q_segment_dedup: segment shuffle + doc reassembly shuffle only") {
    val plan = formatted(operators.QualityOps.qSegmentDedup(spark, sf))
    // exchanges: hash by segment (first-occurrence window), hash by doc_id
    // (reassembly agg), final output sort — never a single partition
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      "cross-corpus dedup must never funnel through one partition")
  }

  test("boundary tokenizer is map-only over the fact table (no exchange)") {
    val li = Tables.lineitem(spark, sf)
    val bounds = operators.TokenizeReference.quantileBoundsExact(
      li, Seq("l_quantity"), operators.Tokenize.innerProbs(100))
    val df = li.select(operators.Tokenize.discretize(
      org.apache.spark.sql.functions.col("l_quantity"), bounds("l_quantity")).as("t"))
    val plan = formatted(df)
    assert(!plan.contains("Exchange"), "discretize phase must not shuffle")
    assert(plan.contains("* Project"), "discretize must stay inside codegen (starred ops)")
  }

  test("q_decontaminate_bloom probes the filter map-side BEFORE the confirm join") {
    val exec = operators.TrainPrep.qDecontaminateBloom(spark, sf)
      .queryExecution.executedPlan match {
      // AQE wraps the physical plan; traverse the inner plan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the Filter carrying might_contain must be a DESCENDANT of the
    // broadcast confirm join (i.e. it runs on the scan side, before the
    // join), not a post-join filter
    val joins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, "the exact-confirm join must broadcast the bench grams:\n" + exec)
    val probeBelowJoin = joins.exists(_.children.exists(c =>
      c.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("might_contain") => f
      }.nonEmpty))
    assert(probeBelowJoin,
      "bloom might_contain filter must sit BELOW the confirm join:\n" + exec)
  }

  test("q_mixture_sample: tiny rate table broadcasts back onto the doc scan") {
    val plan = formatted(operators.QualityOps.qMixtureSample(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "per-source rates must broadcast — docs never shuffle for the join:\n" + plan)
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, "source stats must map-side combine")
  }

  test("q_zorder_cluster is map-only up to the output sort") {
    val plan = formatted(operators.Layout.qZorderCluster(spark, sf))
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges == 1,
      s"z-value computation must not shuffle (only the ORDER BY may), got $exchanges:\n$plan")
    assert(!plan.contains("Join"), "no join anywhere in zorder clustering")
  }

  test("pagerank edge materialization computes the source join once") {
    // qPagerank checkpoints partitionedEdges in ONE job. The undirected
    // union's two branches hang off the same distinct-pairs subplan; they
    // stay byte-identical plans and the distinct exchange is reused — the
    // fact join must appear ONCE in the physical plan, not once per
    // branch. If reuse is lost, a 100 TB run pays the lineitem⋈orders
    // join (and its shuffle) twice per materialization.
    // Reuse fires during ADAPTIVE execution (the static explain still shows
    // both branches), so drive this queryExecution and read the final plan.
    val df = operators.Graph.partitionedEdges(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "expected the AQE final plan:\n" + plan)
    assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
      s"expected the distinct-pairs stage to be reused across union branches:\n$plan")
  }

  test("pagerank iterations: edge checkpoint streams in place — no sort, no re-shuffle (round 8)") {
    // The returned frame's plan is everything AFTER the two checkpoints:
    // PrRounds iterations + the final projection. At fixture scale |V| is
    // broadcast-sized, so the round-12 strategy applies: every per-round
    // join is a map-side BROADCAST join over the dst-partitioned
    // checkpoint, the dst-aggregation inherits that partitioning, and the
    // ONLY shuffle exchange in the whole plan is the final ORDER BY's
    // range partitioning over |V| rows. The edge scan is never sorted (an
    // SMJ would re-sort the edge list every round) and never exchanged.
    val df = operators.Graph.qPagerank(spark, sf)
    val plan = formatted(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"per-round joins must be broadcast at fixture |V|:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"an SMJ would re-sort the edge checkpoint every round:\n$plan")
    // tree-node form "Exchange (<id>)" only — the formatted detail section
    // repeats each node as "(<id>) Exchange", which would double-count
    val shuffles = plan.linesIterator.count(l =>
      l.matches(""".*[+:]- Exchange \(\d+\).*"""))
    assert(shuffles <= 1,
      s"only the final ORDER BY may shuffle (rounds are exchange-free), got $shuffles:\n$plan")
    val sorts = plan.linesIterator.count(l => l.contains(") Sort") && !l.contains("SortAggregate"))
    assert(sorts <= 1, s"only the final ORDER BY may sort, got $sorts:\n$plan")
  }

  test("no HOF lambda captures a split() independent of its lambda variable (round 5)") {
    // Higher-order functions (transform/filter/aggregate) are interpreted —
    // no codegen, no subexpression elimination — and re-evaluate every
    // captured expression PER ELEMENT. A lambda that captures split(text)
    // therefore re-splits the document once per output element: O(words²)
    // per doc. Measured on a 10x corpus probe: one such capture pinned a
    // core for 4 minutes in StringSplit before the fix (shingles/ngrams now
    // split into a projected attribute first). This walks every contract
    // query's optimized plan and fails on any lambda-independent split
    // inside a HOF body, so the bug class cannot come back.
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArraySort, Expression, HigherOrderFunction, LambdaFunction, Md5, NamedLambdaVariable, RegExpReplace, Sha2, StringSplit}
    def expensive(e: Expression): Boolean = e match {
      case _: StringSplit | _: RegExpReplace | _: Md5 | _: Sha2 |
           _: ArrayDistinct | _: ArraySort => true
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, mk) =>
      val plan = mk(spark, sf).queryExecution.optimizedPlan
      plan.flatMap(_.expressions).flatMap(_.collect { case h: HigherOrderFunction => h }).flatMap {
        hof =>
          hof.functions.collect { case lf: LambdaFunction =>
            val argIds = lf.arguments.map(_.exprId).toSet
            lf.function.collect {
              case s if expensive(s) && !s.exists {
                case v: NamedLambdaVariable => argIds(v.exprId)
                case _ => false
              } => s"$name: $s"
            }
          }.flatten
      }
    }
    assert(offenders.isEmpty,
      s"lambda-independent expensive expression captured inside a HOF body (re-evaluated per element):\n${offenders.mkString("\n")}")
  }

  test("q_ann_pq encodes map-only; the only exchanges are rank windows + sort") {
    // The ADC scoring core: join-free (LUTs are folded constants), map-only
    // before the per-query rank window.
    val core = formatted(operators.Similarity.pqAdcTop(spark, sf))
    assert(core.contains("graft_pq_encode") || core.contains("pq_encode"),
      "encode must be the custom codegen expression:\n" + core)
    assert(!core.contains("Join"), "ADC scoring must not join — LUTs are folded constants")
    val exchanges = core.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"PQ path must stay map-only before ranking, got $exchanges:\n$core")
    // The full contract query adds the exact-recall self-gate: every join it
    // introduces must be broadcast (tiny gate frames), never a shuffle join
    // of the corpus.
    val full = formatted(operators.Similarity.qAnnPq(spark, sf))
    assert(!full.contains("SortMergeJoin") && !full.contains("ShuffledHashJoin")
        && !full.contains("CartesianProduct"),
      s"self-gate joins must all be broadcast:\n$full")
  }

  test("q_fuzzy_pairs joins only close name pairs: compute is Θ(answer) (round 11)") {
    val df = operators.Relational4.qFuzzyPairs(spark, sf)
    val plan = formatted(df)
    // levenshtein runs ONLY in the D² distinct-name table (then filtered
    // to d ≤ 5); the corpus-level pair join verifies nothing — every
    // surviving row is an answer, so no per-candidate distance remains
    assert(plan.contains("levenshtein"), s"distance table must exist:\n$plan")
    // block counts and the close-name fan-out broadcast onto the corpus
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 2,
      s"counts + close-name table must broadcast onto the probe side:\n$plan")
    assert(!plan.contains("Window"),
      s"a window over the block key would serialize a hot block:\n$plan")
    // the distance table's cross join is names×names only — the corpus
    // side must never cartesian
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"distance table is a tiny cross join:\n$plan")
    // round 12: the contract ORDER BY is ~80% of the 100× wall and scales
    // with shuffle VOLUME — the sort row must stay the narrow
    // dictionary-coded form (no strings through the exchange; names
    // decode in the projection ABOVE the Sort)
    // (executedPlan is an unexecuted AdaptiveSparkPlanExec here, so read
    // the formatted detail sections instead of collecting SortExec nodes)
    val sortInputs = plan.split("""\n\n""").toSeq
      .filter(_.linesIterator.nextOption.exists(_.matches("""\(\d+\) Sort.*""")))
      .flatMap(_.linesIterator.filter(_.trim.startsWith("Input")))
    assert(sortInputs.nonEmpty, s"expected a Sort detail section:\n$plan")
    sortInputs.foreach { in =>
      assert(!in.contains("name"),
        s"sort row must be string-free (dictionary-coded names), got: $in")
    }
  }

  test("q_bucketed_join merge-joins co-located buckets with no pre-join exchange") {
    val df = operators.Bucketed.qBucketedJoin(spark, sf)
    val plan = formatted(df)
    assert(plan.contains("SortMergeJoin"),
      s"bucketed join must stay a merge join (broadcast would hide co-location):\n$plan")
    // both scans read the bucketed layout
    val bucketScans = plan.linesIterator.count(_.contains("SelectedBucketsCount"))
    assert(bucketScans >= 2, s"both join inputs must be bucketed scans:\n$plan")
    // the only exchanges left are the tiny priority aggregation and the
    // output sort — the join inputs themselves never shuffle. Count the
    // formatted-mode DETAIL headers ("(10) Exchange"), not tree lines,
    // or every node is double-counted.
    val exchanges = plan.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 2,
      s"expected <=2 exchanges (agg + output sort), the join must be exchange-free:\n$plan")
  }

  test("q_merge_upsert shuffles the delta, never the bucketed base") {
    val plan = formatted(operators.Bucketed.qMergeUpsert(spark, sf))
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      s"the merge expansion is a full-outer SMJ:\n$plan")
    assert(plan.linesIterator.count(_.contains("SelectedBucketsCount")) >= 1,
      s"the base side must read its bucketed layout:\n$plan")
    // delta shuffle + agg + output sort only: a 4th exchange means the
    // base stopped satisfying the join's distribution from its buckets
    val exchanges = plan.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 3,
      s"expected <=3 exchanges (delta, agg, sort) — base must not shuffle:\n$plan")
  }

  test("q_partition_prune scans only the window's date directories") {
    val df = operators.Layout.qPartitionPrune(spark, sf)
    val plan = formatted(df)
    val pf = plan.linesIterator.find(_.trim.startsWith("PartitionFilters:")).getOrElse("")
    assert(pf.contains("event_date"),
      s"the window filter must prune on the partition column:\n$plan")
    // the filter never reaches the data files — it is satisfied by the
    // directory listing alone (no pushed data filter on event_date)
    val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val selected = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters).length
    assert(selected == 7, s"expected 7 of ~30 date partitions selected, got $selected")
  }

  // ---- TPC-H gauntlet: plan shape on the 3 biggest plans (round 18) ----

  test("q_tpch_q5: all four dims broadcast, one fact shuffle pair, filters pushed, no cartesian") {
    val plan = formatted(operators.TpcH.q5(spark, sf))
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 4, s"customer/supplier/nation/region must broadcast, got $broadcasts:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the 6-table join order must never fall back to a product:\n$plan")
    // the date window reaches the orders parquet scan, the region name its scan
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
    assert(plan.contains("EqualTo(r_name,ASIA)"), plan)
  }

  test("q_tpch_q18: ONE lineitem scan, one aggregate serves HAVING and output, no cartesian") {
    // round 19 (optimization round): the HAVING subquery's per-order sum IS
    // the output's sum_qty, so the plan must aggregate lineitem exactly once
    // — no semi join, no second fact scan (the r18 1000× spill term)
    val plan = formatted(operators.TpcH.q18(spark, sf))
    assert(plan.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      s"lineitem must be scanned exactly once:\n$plan")
    assert(!plan.contains("LeftSemi"),
      s"the semi join is gone — the single aggregate serves both roles:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // exactly one partial+final aggregate pair (the per-order quantity sum);
    // count tree nodes only — each operator appears again in the detail list
    assert(plan.linesIterator.count(_.contains("- HashAggregate")) == 2,
      s"expected exactly the one partial+final per-order sum:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-100 must never full-sort:\n$plan")
  }

  test("q_tpch_q21: EXISTS legs fold into per-order window min/max, ONE lineitem scan, no cartesian") {
    // round 19 (optimization round): the semi+anti pair (three fact-wide
    // exchanges at 1000×) is replaced by four min/max window aggregates
    // over one pass of the joined fact — OptimizedFormsSpec holds the two
    // forms row-for-row equal
    val plan = formatted(operators.TpcH.q21(spark, sf))
    assert(plan.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      s"lineitem must be scanned exactly once:\n$plan")
    assert(plan.contains("Window"), s"the set predicates ride window min/max:\n$plan")
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 2, s"supplier and nation must broadcast, got $broadcasts:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no product anywhere:\n$plan")
    // the order-status filter reaches the orders scan
    assert(plan.contains("EqualTo(o_orderstatus,F)"), plan)
  }

  test("no contract query plans a cartesian product or an unaudited single-partition exchange") {
    // Exchange SinglePartition is legitimate only when it carries a global
    // scalar aggregate's partial rows (one row per upstream partition, never
    // the fact table): q_gap_fill's min/max hour bounds, q_tfidf's n_docs
    // denominator, q_scalar_subquery's scalars, the TPC-H one-row revenue
    // totals (q6/q14/q17/q19), q15's max-revenue scalar, q22's avg-balance
    // scalar and q_ann_pq's scalar gate. Any other single partition is a
    // window or sort with no partitioning, funnelling the query through one
    // task.
    val auditedScalarAgg = Set("q_gap_fill", "q_scalar_subquery", "q_tfidf",
      "q_tpch_q6", "q_tpch_q14", "q_tpch_q15", "q_tpch_q17", "q_tpch_q19",
      "q_tpch_q22", "q_ann_pq")
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      // the non-broadcast nested-loop join in Spark IS CartesianProduct
      val cartesian = plan.contains("CartesianProduct")
      val single = plan.contains("Exchange SinglePartition") && !auditedScalarAgg(name)
      if (cartesian || single) Some(s"$name: cartesian=$cartesian singlePartition=$single")
      else None
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
