package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  private lazy val media = Multimodal.asMedia(graft.Tables.documents(spark, sf))

  /** The byte-lane feature projection exactly as `qMultimodalFeatures`
    * writes it, over the same media rows. */
  private def features = media.select(col("media_id"),
    graft.functions.ByteFeaturesExpr.byteFeatures(col("payload"), Multimodal.FeatureDim)
      .as("features"))

  test("media schema: binary payload + typed metadata struct") {
    val schema = media.schema
    assert(schema("payload").dataType == org.apache.spark.sql.types.BinaryType)
    val meta = schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("mime", "size_bytes", "tag"))
  }

  test("byte-lane feature extraction is deterministic and fixed-width") {
    val f1 = features.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val f2 = features.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.length == Multimodal.FeatureDim))
    assert(f1.nonEmpty)
    // lane semantics: feature j = (exact long sum of bytes at p%dim==j)/255
    val payload0 = media.filter(col("media_id") === 0).head().getAs[Array[Byte]]("payload")
    val expect = Array.tabulate(Multimodal.FeatureDim) { j =>
      payload0.zipWithIndex.collect { case (b, p) if p % Multimodal.FeatureDim == j => (b & 0xff).toLong }
        .sum / 255.0
    }
    assert(f1(0L) == expect.toSeq, s"lane sums diverge: ${f1(0L)} vs ${expect.toSeq}")
  }

  test("feature extraction stays inside whole-stage codegen (no RDD break)") {
    val plan = features
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("graft_byte_features"), plan)
    assert(!plan.contains("Scan ExistingRDD"), "features must come from a projection, not an RDD:\n" + plan)
    assert(plan.contains("[codegen id"), "projection must be whole-stage codegen'd:\n" + plan)
  }

  test("frame sampling covers the payload in frame-size chunks") {
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, everyK = 2)
    val r = frames.filter(col("media_id") === 0)
      .orderBy("frame_idx").collect()
    assert(r.nonEmpty)
    // frame 0 = first 16 payload bytes
    val payload0 = media.filter(col("media_id") === 0).head().getAs[Array[Byte]]("payload")
    assert(r(0).getAs[Array[Byte]]("frame_bytes").toSeq == payload0.take(16).toSeq)
  }

  test("q_multimodal_features joins features with metadata per media row") {
    val out = Multimodal.qMultimodalFeatures(spark, sf).collect()
    assert(out.length == media.count())
    assert(out.forall(r => r.getDouble(3) > 0)) // byte sums are positive
  }

  test("fixture corpus is pure ASCII (q_frame_sample byte==char contract)") {
    // The q_frame_sample oracle slices TEXT at char offsets while the Spark
    // plan slices the utf-8 PAYLOAD at byte offsets; equivalence requires
    // every doc to be ASCII. If this ever fails, the oracle must move to
    // hex-pair arithmetic like q_multimodal_features.
    import org.apache.spark.sql.functions.{length => slen, octet_length}
    val nonAscii = graft.Tables.documents(spark, sf)
      .filter(octet_length(col("text")) =!= slen(col("text"))).count()
    assert(nonAscii == 0L, s"$nonAscii non-ASCII docs break byte==char offsets")
  }

  test("q_frame_sample emits every-4th 64-byte frame with stable indices") {
    val out = Multimodal.qFrameSample(spark, sf)
    val r = out.filter(col("media_id") === 0).orderBy("frame_idx").collect()
    assert(r.nonEmpty)
    assert(r.map(_.getInt(1)).toSeq == r.indices.toSeq, "frame_idx must be dense 0..n-1")
    // every frame except possibly the last is exactly 64 bytes
    assert(r.dropRight(1).forall(_.getInt(2) == 64))
    // md5 matches a directly-computed slice for the first frame
    val payload0 = media.filter(col("media_id") === 0).head().getAs[Array[Byte]]("payload")
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest(payload0.take(64)).map("%02x".format(_)).mkString
    assert(r(0).getString(3) == expect)
  }
}
