package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge into the package-private half of Spark's parquet schema
  * inference, for driver-side reads of a footer ([[graft.Tables]]). Lives
  * in Spark's package for the same reason as `org.apache.spark.sql.graft.Bridge`:
  * the methods are public bytecode, package-private only at the Scala level.
  */
object GraftFooterSchema {

  /** The schema `ParquetFileFormat.mergeSchemasInParallel` reads from one
    * footer with `mergeSchema` off, made nullable as the relation makes it:
    * a Spark row-metadata key wins, else the parquet schema is converted by
    * a converter built from the same five session confs, the others at
    * their defaults. Throws what Spark's conversion throws, e.g. for a
    * NANOS timestamp with `spark.sql.legacy.parquet.nanosAsLong` off. */
  def apply(path: Path, meta: FileMetaData, conf: SQLConf): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(path, new ParquetMetadata(meta, java.util.Collections.emptyList())),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)).asNullable

  /** Whether Spark's file listing keeps a file or directory of this name
    * (`HadoopFSUtils.shouldFilterOutPathName`: hidden `.`/`_` names go,
    * except the `_metadata`/`_common_metadata` summaries). */
  def listed(name: String): Boolean =
    !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
