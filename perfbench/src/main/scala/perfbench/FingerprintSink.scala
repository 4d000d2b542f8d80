package perfbench

import java.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** What one write saw: row count, an order-insensitive hash (the wrapping
  * sum of per-row hashes), and for token outputs the smallest and largest
  * per-(column, bin) count plus the number of tokens outside [0, bins). */
final case class Fingerprint(rows: Long, hash: Long, minBin: Long = 0, maxBin: Long = 0,
    outOfRange: Long = 0) {
  def hashHex: String = f"$hash%016x"
}

/** A sink shaped like Spark's `noop` format (a V2 batch write that keeps
  * nothing) whose writers fingerprint the rows they are handed, so every
  * timed write also checks its output without a second action. */
final class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FingerprintTable(properties.get("key"), properties.getOrDefault("bins", "0").toInt)
}

object FingerprintSink {
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Fingerprint]()
  private val keys = new java.util.concurrent.atomic.AtomicLong()

  /** Write `df` to the sink and return its fingerprint. With `bins` > 0
    * every column must hold integer tokens and their bin counts are kept. */
  def write(df: DataFrame, bins: Int = 0): Fingerprint = {
    val key = keys.incrementAndGet().toString
    df.write.format(classOf[FingerprintSink].getName)
      .option("key", key).option("bins", bins.toString)
      .mode("overwrite").save()
    val fp = results.remove(key)
    require(fp != null, "fingerprint sink committed no result")
    fp
  }

  private[perfbench] def commit(key: String, fp: Fingerprint): Unit = results.put(key, fp)
}

private final class FingerprintTable(key: String, bins: Int) extends Table with SupportsWrite {
  override def name(): String = "fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new FingerprintBatch(key, bins, info.schema())
      }
    }
}

private final case class PartFingerprint(rows: Long, hash: Long, bins: Array[Long],
    outOfRange: Long) extends WriterCommitMessage

private final class FingerprintBatch(key: String, bins: Int, schema: StructType) extends BatchWrite {
  if (bins > 0) require(schema.fields.forall(_.dataType == IntegerType),
    s"token fingerprint needs integer columns, got ${schema.simpleString}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val (s, b) = (schema, bins)
    new DataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
        new FingerprintWriter(s, b)
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: PartFingerprint => p }
    val counts = new Array[Long](schema.length * bins)
    parts.foreach(p => if (p.bins != null) for (i <- counts.indices) counts(i) += p.bins(i))
    FingerprintSink.commit(key, Fingerprint(
      rows = parts.map(_.rows).sum,
      hash = parts.map(_.hash).sum,
      minBin = if (counts.isEmpty) 0 else counts.min,
      maxBin = if (counts.isEmpty) 0 else counts.max,
      outOfRange = parts.map(_.outOfRange).sum))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class FingerprintWriter(schema: StructType, bins: Int) extends DataWriter[InternalRow] {
  private val types = schema.fields.map(_.dataType)
  private val counts = if (bins > 0) new Array[Long](types.length * bins) else null
  private var rows, hash, outOfRange = 0L

  override def write(row: InternalRow): Unit = {
    rows += 1
    hash += (if (counts != null) tokenRowHash(row) else rowHash(row))
  }

  private def rowHash(row: InternalRow): Long = {
    var h = 42L
    var i = 0
    while (i < types.length) {
      // a null hashes as its column position, so [null, x] and [x, null] differ
      h = if (row.isNullAt(i)) XxHash64Function.hash(-1 - i, IntegerType, h)
          else XxHash64Function.hash(row.get(i, types(i)), types(i), h)
      i += 1
    }
    h
  }

  /** Token rows (integer columns) also feed the bin counts. Their hash is
    * cheaper than [[rowHash]], because the sink runs inside the timed
    * bucketize: a sum of the tokens with odd per-column weights, which any
    * single changed token changes, through a bijective 64-bit mix, so
    * the wrapping sum over rows still sees which tokens share a row. */
  private def tokenRowHash(row: InternalRow): Long = {
    var s = 0L
    var i = 0
    while (i < types.length) {
      val t = if (row.isNullAt(i)) -1 else row.getInt(i)
      s += (t + 2L) * FingerprintWriter.weight(i)
      if (t < 0 || t >= bins) outOfRange += 1 else counts(i * bins + t) += 1
      i += 1
    }
    FingerprintWriter.mix(s)
  }

  override def commit(): WriterCommitMessage = PartFingerprint(rows, hash, counts, outOfRange)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

private object FingerprintWriter {
  def weight(column: Int): Long = 0x9E3779B97F4A7C15L * (2L * column + 1)

  /** MurmurHash3's 64-bit finaliser: a bijection that spreads every bit. */
  def mix(v: Long): Long = {
    var h = v
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}
