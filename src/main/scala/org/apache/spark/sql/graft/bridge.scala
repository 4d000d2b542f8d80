package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Bridge into Spark 4's `private[sql]` Column <-> Catalyst Expression
  * conversion, needed to expose graft's custom expressions as `Column`s.
  * Standard extension-library technique (the converter and node types are
  * public bytecode, package-private only at the Scala level).
  */
object Bridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  /** Resolve a Column back to its Catalyst expression (classic backend). */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** The DataFrame's rows as `ColumnarBatch`es, one batch stream per
    * partition of `df.queryExecution.toRdd` (same partitions, same row
    * order). When
    * the executed plan only converts a columnar child to rows —
    * `WholeStageCodegen(ColumnarToRow(InputAdapter(child)))` or a bare
    * `ColumnarToRow(child)`, e.g. a vectorized parquet scan — the child's
    * batches are read directly and no row is ever built; any other plan
    * (including a scan that decodes rows itself: whole-stage codegen off,
    * or too many fields) is converted by Spark's own
    * `RowToColumnarExec`. Batches are reused: a consumer must be done with
    * one before it pulls the next. The plan nodes are built under the
    * frame's session so their conf and metrics bind to it. */
  def columnarBatches(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter,
      RowToColumnarExec, WholeStageCodegenExec}
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.withActive {
      val columnar = df.queryExecution.executedPlan match {
        case WholeStageCodegenExec(ColumnarToRowExec(InputAdapter(c))) => c
        case ColumnarToRowExec(c) => c
        case p => RowToColumnarExec(p)
      }
      columnar.executeColumnar()
    }
  }

  /** Eager localCheckpoint that HANDS BACK the checkpointed RDD.
    * `Dataset.localCheckpoint(true)` performs exactly these steps but keeps
    * the RDD internal, so the blocks can only be reclaimed after the frame
    * is GC'd AND ContextCleaner gets around to it — local-checkpoint blocks
    * must not be evicted (eviction would kill the truncated lineage), so
    * under repeated invocation they pile up until execution memory starves
    * (observed: q_pagerank's 100x probe OOM'd its third back-to-back run).
    * With the handle, an operator can unpersist its PREVIOUS invocation's
    * checkpoint deterministically. Same `private[sql]`-bytecode technique
    * as the Column bridge ([[internalCreateDataFrame]] is public bytecode). */
  def localCheckpointed(df: org.apache.spark.sql.DataFrame,
      serialized: Boolean = false)
      : (org.apache.spark.sql.DataFrame,
         org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    // copy: toRdd's unsafe rows are buffer-reused per partition iterator
    val rdd = df.queryExecution.toRdd.map(_.copy())
    // serialized: store the checkpoint blocks as serialized bytes instead
    // of deserialized row objects. A deserialized UnsafeRow block costs
    // ~100 B/row of heap for a 2-long row (row object + backing byte[] +
    // array-slot headers) where the serialized form is ~its 24 payload
    // bytes — measured 100 M-edge checkpoint: the deserialized form starves
    // a 8 GiB JVM's execution pool ("Can't acquire ... to build hash
    // relation, got 0 bytes") while the serialized form fits with room.
    // localCheckpoint() keeps a pre-set level's deserialized flag and only
    // forces useDisk on, so persisting first pins the serialized format.
    // The per-read deserialization cost is one Externalizable byte copy per
    // row — noise next to the join it feeds. Use for checkpoints that are
    // O(edges/rows-of-the-corpus); leave the default for small model-state
    // frames where object reuse across many reads wins.
    if (serialized)
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    rdd.localCheckpoint()
    rdd.count()
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // Carry the FINAL physical plan's output partitioning/ordering into
    // the checkpointed frame, so downstream joins on the partitioning key
    // skip re-shuffling the checkpointed data (q_pagerank joins its edge
    // list once per iteration on exactly the key its window stage
    // partitioned by). `LogicalRDD.fromDataset` (what
    // Dataset.localCheckpoint builds) reads
    // `queryExecution.executedPlan.outputPartitioning` — but under AQE
    // that is the AdaptiveSparkPlanExec WRAPPER, a leaf node reporting
    // UnknownPartitioning even once the final plan is materialized, so
    // Spark's own localCheckpoint silently drops partitioning whenever
    // AQE is on. The count() above forces the final plan; unwrap it and
    // rewrite its attribute ids to the logical output (same zip
    // fromDataset performs).
    import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
    val physical = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan
      case p => p
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case _ => p
    }
    val out = df.queryExecution.analyzed.output
    val rewrite: Map[Attribute, Attribute] =
      physical.output.zip(out).toMap
    def remap[E <: org.apache.spark.sql.catalyst.expressions.Expression](e: E): E =
      e.transform { case a: Attribute => rewrite.getOrElse(a, a) }.asInstanceOf[E]
    val partitioning = firstLeaf(physical.outputPartitioning) match {
      case e: org.apache.spark.sql.catalyst.expressions.Expression
          if e.references.subsetOf(org.apache.spark.sql.catalyst.expressions.AttributeSet(physical.output)) =>
        remap(e).asInstanceOf[Partitioning]
      case e: org.apache.spark.sql.catalyst.expressions.Expression =>
        // partitioning references non-output attrs — unsafe to carry
        org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(rdd.getNumPartitions)
      case p => p // non-expression partitionings carry no attributes
    }
    val ordering: Seq[SortOrder] = physical.outputOrdering.flatMap { so =>
      if (so.references.subsetOf(org.apache.spark.sql.catalyst.expressions.AttributeSet(physical.output)))
        Some(remap(so))
      else None
    }
    val logical = org.apache.spark.sql.execution.LogicalRDD(
      out, rdd, partitioning, ordering, isStreaming = false)(spark, None, None)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, logical), rdd)
  }

  /** (executorId, unified-pool bytes) for every block manager REGISTERED
    * with this context — the driver plus each executor JVM. The reported
    * max is what the JVM registered at startup (execution pool empty), i.e.
    * ≈ (heap − 300 MB reserved) × memoryFraction — exactly the derivation
    * graft's footprint heuristics would otherwise re-compute from the
    * DRIVER's Runtime.maxMemory, which is wrong the moment executors are
    * separate JVMs with their own heaps (`Graph.vertexBroadcastable` under
    * local-cluster). Reading the registry instead means the heuristics see the
    * actual per-JVM pools on ANY deployment: local (one driver entry),
    * local-cluster, or a standalone/YARN/K8s cluster.
    * `BlockManagerMaster.getMemoryStatus` is `private[spark]` — same
    * public-bytecode technique as the rest of this bridge. */
  def memoryPools(spark: org.apache.spark.sql.SparkSession): Seq[(String, Long)] =
    org.apache.spark.SparkEnv.get.blockManager.master.getMemoryStatus.toSeq
      .map { case (id, (max, _)) => (id.executorId, max) }
}
