package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided star schema (TESTDATA.md / FIXTURES.md).
  *
  * All tables are parquet; schema comes from the footer (the reference's
  * "schema inference on read", /root/reference/etl_benchmark.py:27). Reads are
  * lazy and vectorized; Catalyst pushes filters/column pruning into the scan.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's TimestampType (µs)
    * cannot hold; with spark.sql.legacy.parquet.nanosAsLong=true (set in
    * Verify/Bench sessions) it reads as epoch-nanos LongType and is
    * normalized here to µs TimestampType (integer div — the data is
    * µs-aligned, and int64 nanos exceed double precision so no float math). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = apply(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // cast to NTZ: the rest of the star schema reads as TimestampNTZ
        // (parquet isAdjustedToUTC=false), and tz-naive output parquet is
        // what the DuckDB oracle produces; session tz is pinned UTC.
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")

  private val rowCountCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]

  /** Row count of a fixture table, read from its parquet footers on the
    * driver ([[footerCount]]): no scan job, and no schema-inference job
    * either, because the read names an empty schema. The scale/layout
    * derivations ([[graft.operators.Bucketed]] bucket counts,
    * [[graft.operators.Graph]] checkpoint formats, the streaming pace)
    * only need the count as model state, so it is cached per path and
    * validated on every lookup against the table dir's content
    * fingerprint ([[graft.ModelState.validated]]): regenerated parquet is
    * counted again, not served from the cache. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    graft.ModelState.validated(rowCountCache, s"$sfDir/$name",
        Seq(s"$sfDir/$name.parquet"), "Tables.rowCount")({
      val path = s"$sfDir/$name.parquet"
      footerCount(spark.read.schema(new org.apache.spark.sql.types.StructType())
          .parquet(path))
        .getOrElse(throw new IllegalStateException(s"$path is not a parquet scan"))
    })

  /** Row count of `df` summed from parquet footers on the driver, when
    * `df` is a bare parquet scan; None for any other plan, whose callers
    * pay a `count()` job instead. A bare `LogicalRelation` is the exact
    * condition: column pruning cannot change the row count, a filter can.
    * The files are the ones the relation's own file index lists, so the
    * sum covers exactly what the scan reads: Spark skips hidden (`.x`)
    * and underscore (`_temporary/`, `_SUCCESS`) paths, and a plain
    * recursive listing would count them. At warehouse scale this is a
    * metadata read where `count()` is a cluster job. */
  def footerCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.queryExecution.optimizedPlan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val conf = df.sparkSession.sessionState.newHadoopConf()
          var total = 0L
          fs.location.listFiles(Nil, Nil).foreach(_.files.foreach { st =>
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st.fileStatus, conf))
            try total += rd.getRecordCount finally rd.close()
          })
          Some(total)
        case _ => None
      }
      case _ => None
    }
  }
}
