package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided star schema (TESTDATA.md / FIXTURES.md).
  *
  * All tables are parquet, and every read is given its schema, read on the
  * driver from the footer Spark's own inference would read: a
  * `_common_metadata` or `_metadata` summary if the table has one, else its
  * first data file by path. The footer is converted under the reading
  * session's SQL conf the way inference converts it (a Spark row-metadata
  * key wins), made nullable, and passed as `spark.read.schema(s)`. Without
  * a schema, `spark.read.parquet` runs a single-task job per read that opens
  * that same footer on an executor; contract queries read a table ~30 times
  * a pass, and the jobs' fixed cost was most of the build time. A layout
  * this does not mirror (a subdirectory, `mergeSchema` on) and any failure
  * (a missing path, an empty directory, a type the conversion rejects) go
  * to `spark.read.parquet` itself, so they behave, and fail, as Spark's.
  *
  * Footers are cached per file, keyed by path and checked on every lookup
  * against the length and modification time just listed (the freshness
  * rule of [[ModelState.validated]]), so a rewritten file is read again.
  * The cache holds parquet metadata, not a Spark schema, because the
  * conversion belongs to the session: `spark.sql.legacy.parquet.nanosAsLong`
  * decides what a NANOS timestamp becomes. The same entries give
  * [[rowCount]] and [[footerCount]] their row counts. Reads stay lazy and
  * vectorized; Catalyst pushes filters and column pruning into the scan.
  * Inference itself (CSV, JSON, `mergeSchema`) is a capability of
  * [[graft.sources]] and does not come through here.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  /** The events table with `ts` as µs `TimestampNTZ`. The fixtures store
    * `ts` as parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads
    * as `TimestampNTZ` under either `spark.sql.legacy.parquet.nanosAsLong`
    * value, and is returned as read. A TIMESTAMP(NANOS) input, which
    * Spark's µs types cannot hold, reads as epoch-nanos `LongType` with that
    * conf on (set by `Sessions`) and is normalized here by integer division
    * (int64 nanos exceed double precision, so no float math). */
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

  /** What the reads here use of one parquet footer. */
  private final case class Footer(meta: FileMetaData, rows: Long)

  /** path -> (length:mtime at the read, footer). */
  private val footers =
    scala.collection.concurrent.TrieMap.empty[String, (String, Footer)]

  /** Footers opened so far: cache misses (spec-pinned). */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong

  /** The footer of the listed file `st`, from the cache while the file's
    * length and modification time are those it was read at. `conf` is
    * only built on a miss. */
  private def footer(st: FileStatus, conf: => Configuration): Footer =
    ModelState.validatedBy(footers, st.getPath.toString,
        s"${st.getLen}:${st.getModificationTime}", "Tables.footer") {
      footerReads.incrementAndGet()
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try Footer(rd.getFooter.getFileMetaData, rd.getRecordCount) finally rd.close()
    }

  /** The schema `spark.read.parquet(path)` would infer, or None where the
    * read has to go through that inference: `mergeSchema` on, a missing
    * path, nothing to read, a subdirectory (partitions or nesting, which
    * Spark's own listing and discovery handle), a streaming sink's output,
    * or a footer that cannot be read or converted. The file is the one
    * `ParquetUtils.inferSchema` picks from Spark's listing with
    * `mergeSchema` off. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(root)
      val all = if (st.isDirectory) fs.listStatus(root).toSeq else Seq(st)
      val listed = all.filter(s => GraftFooterSchema.listed(s.getPath.getName))
        .sortBy(_.getPath.toString)
      def named(n: String) = listed.find(_.getPath.getName == n)
      // a streaming sink's output lists its files from `_spark_metadata`
      val file = if (listed.exists(_.isDirectory) ||
          all.exists(_.getPath.getName == "_spark_metadata")) None
        else named("_common_metadata").orElse(named("_metadata")).orElse(listed.find { s =>
          val n = s.getPath.getName
          n != "_common_metadata" && n != "_metadata"
        })
      file.map(s => GraftFooterSchema(s.getPath,
        footer(s, spark.sessionState.newHadoopConf()).meta, conf))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Row count of a fixture table, summed from its cached parquet footers
    * on the driver ([[footerCount]]): no scan job, and no schema-inference
    * job either, because the read names an empty schema. The scale/layout
    * derivations ([[graft.operators.Bucketed]] bucket counts,
    * [[graft.operators.Graph]] checkpoint formats, the streaming pace)
    * only need the count; a rewritten file is counted again. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val path = s"$sfDir/$name.parquet"
    footerCount(spark.read.schema(new StructType()).parquet(path))
      .getOrElse(throw new IllegalStateException(s"$path is not a parquet scan"))
  }

  /** Row count of `df` summed from parquet footers on the driver, when
    * `df` is a bare parquet scan; None for any other plan, whose callers
    * pay a `count()` job instead. A bare `LogicalRelation` is the exact
    * condition: column pruning cannot change the row count, a filter can.
    * The files are the ones the relation's own file index lists, so the
    * sum covers exactly what the scan reads: Spark skips hidden (`.x`)
    * and underscore (`_temporary/`, `_SUCCESS`) paths, and a plain
    * recursive listing would count them. Each file's count comes from the
    * footer cache, so a repeated count of an unchanged table (every
    * tokenizer call sizes its input here) opens no footer. At warehouse
    * scale this is a metadata read where `count()` is a cluster job. */
  def footerCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.queryExecution.optimizedPlan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          lazy val conf = df.sparkSession.sessionState.newHadoopConf()
          Some(fs.location.listFiles(Nil, Nil).iterator
            .flatMap(_.files).map(f => footer(f.fileStatus, conf).rows).sum)
        case _ => None
      }
      case _ => None
    }
  }
}
