package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal column plumbing (SURVEY §2C): media as opaque `binary`
  * payloads + typed metadata structs, with decode / feature-extract /
  * frame-sample stages.
  *
  * No image/audio codec ships with the engine, so the "decode" is a
  * deterministic byte-lane feature extractor — but it is a REAL Catalyst
  * plan: a codegen [[graft.functions.ByteFeaturesExpr]] inside whole-stage
  * codegen, binary column in, fixed-width vector out, map-only (no RDD
  * mapPartitions stage with boxed Rows). A real codec with native
  * library state would instead ride `mapInPandas`/`mapPartitions` batches —
  * that shape stays documented here as the integration point — but
  * byte-level feature extraction itself belongs in an expression.
  *
  * Scale: payload bytes never shuffle — metadata/features are projected out
  * and the binary column is pruned from any aggregation. Feature extraction
  * is map-only.
  */
object Multimodal {

  val FeatureDim = 8

  /** Wrap documents as media rows: payload = utf-8 bytes of text (stand-in
    * for image/audio bytes), meta = typed struct. */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        col("n_chars").cast("long").as("size_bytes"),
        col("lang").as("tag")).as("meta"))

  /** Frame sampling: every k-th fixed-size chunk of the payload (the video
    * frame-sample shape: offset arithmetic only, no decode). */
  def sampleFrames(media: DataFrame, frameBytes: Int, everyK: Int): DataFrame = {
    val nFrames = floor(length(col("payload")) / frameBytes).cast("int")
    media.select(
      col("media_id"),
      posexplode(transform(
        sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(everyK)),
        i => substring(col("payload"), i * frameBytes + 1, lit(frameBytes))))
        .as(Seq("frame_idx", "frame_bytes")))
  }

  /** Media features + metadata summary, fully hash-checkable: one map-only
    * select (no join — features come from the same projection), feature_sum
    * added lane 0 -> dim-1 LEFT-ASSOCIATIVELY so the double adds happen in
    * the same order on both engines, then round-4. */
  def qMultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = asMedia(Tables.documents(spark, dir))
    val withFeatures = media.select(
      col("media_id"),
      col("meta.size_bytes").as("size_bytes"),
      col("meta.tag").as("tag"),
      graft.functions.ByteFeaturesExpr.byteFeatures(col("payload"), FeatureDim)
        .as("features"))
    val laneSum = (0 until FeatureDim).map(i => col("features")(i)).reduceLeft(_ + _)
    withFeatures
      .select(col("media_id"), col("size_bytes"), col("tag"),
        round(laneSum, 4).as("feature_sum"))
      .orderBy("media_id")
  }

  /** Contract view of [[sampleFrames]] — the video-style every-k-th-frame
    * sample as (frame_idx, byte length, content md5) rows. Map-only: one
    * generator over offset arithmetic; payload bytes never shuffle (the
    * final ORDER BY carries only the md5). frame_idx is the position in the
    * SAMPLED sequence (offset / everyK). The DuckDB twin slices the text
    * column at character offsets: the fixture corpus is pure ASCII
    * (byte == char offsets; asserted in MultimodalSpec), so both engines
    * hash identical frame bytes. */
  def qFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val media = asMedia(Tables.documents(spark, dir))
    sampleFrames(media, frameBytes = 64, everyK = 4)
      .select(
        col("media_id"), col("frame_idx"),
        length(col("frame_bytes")).as("n_bytes"),
        md5(col("frame_bytes")).as("frame_md5"))
      .orderBy("media_id", "frame_idx")
  }

  val ThumbLen = 8

  /** RESIZE stage ([[graft.functions.ResizeBytesExpr]]): fixed-width
    * average-pooling thumbnail of the payload byte stream — the multimodal
    * mandate's missing verb between decode and frame-sample. Map-only:
    * binary in, 8 pooled lanes out, rounded per lane; payload bytes never
    * leave the projection (only the thumbnail columns reach the output
    * sort). Exact long block sums + one divide keep every lane double
    * bit-identical to the DuckDB hex-pair twin. */
  def qMediaResize(spark: SparkSession, dir: String): DataFrame = {
    val media = asMedia(Tables.documents(spark, dir))
    val t = media.select(col("media_id"),
      length(col("payload")).as("n_bytes"),
      graft.functions.ResizeBytesExpr.resizeBytes(col("payload"), ThumbLen).as("thumb"))
    val lanes = (0 until ThumbLen).map(r => round(col("thumb")(r), 4).as(s"t$r"))
    t.select(col("media_id") +: col("n_bytes") +: lanes: _*)
      .orderBy("media_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_features" -> qMultimodalFeatures,
    "q_frame_sample" -> qFrameSample,
    "q_media_resize" -> qMediaResize
  )

  /** DuckDB twin: hex-pair byte extraction (DuckDB has no get_byte), exact
    * BIGINT lane sums, one divide per lane, the same left-associative lane
    * order, round-4. Byte source is identical — UTF-8 of the same parquet
    * text column. */
  def oracleSql: Map[String, String] = {
    val laneSums = (0 until FeatureDim).map { lane =>
      s"coalesce(list_sum([('0x' || substring(h, 2*x+1, 2))::BIGINT for x in range(0, length(h)//2) if x % $FeatureDim = $lane]), 0)"
    }
    val sum = laneSums.map(s => s"($s / 255.0)").mkString(" + ")
    Map(
      "q_multimodal_features" ->
        s"""WITH b AS (
           |  SELECT doc_id AS media_id, CAST(n_chars AS BIGINT) AS size_bytes,
           |         lang AS tag, hex(encode(text)) AS h
           |  FROM documents)
           |SELECT media_id, size_bytes, tag, round($sum, 4) AS feature_sum
           |FROM b ORDER BY media_id""".stripMargin,
      // Char-offset twin of the byte-offset Spark plan — equivalent because
      // the corpus is pure ASCII (spec-asserted).
      "q_frame_sample" ->
        """WITH d AS (
          |  SELECT doc_id AS media_id, text,
          |         greatest(len(text) // 64 - 1, 0) AS hi
          |  FROM documents),
          |f AS (
          |  SELECT media_id, text, unnest(range(0, hi + 1, 4)) AS i FROM d)
          |SELECT media_id,
          |       CAST(i // 4 AS INTEGER) AS frame_idx,
          |       CAST(len(substring(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS INTEGER) AS n_bytes,
          |       md5(substring(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS frame_md5
          |FROM f ORDER BY media_id, frame_idx""".stripMargin,
      // hex-pair twin of the average-pooling resize: same floor block
      // boundaries in BIGINT arithmetic, exact integer block sums, one
      // double divide per lane (ASCII corpus => byte offsets == hex pairs)
      "q_media_resize" -> {
        val lanes = (0 until ThumbLen).map { r =>
          val lo = s"(($r * n) // $ThumbLen)"
          val hi = s"((${r + 1} * n) // $ThumbLen)"
          s"""round(CASE WHEN $hi > $lo THEN
             |  CAST(list_sum([('0x' || substring(h, 2*x+1, 2))::BIGINT
             |                 for x in range($lo, $hi)]) AS DOUBLE) / ($hi - $lo)
             |  ELSE 0.0 END, 4) AS t$r""".stripMargin
        }.mkString(",\n")
        s"""WITH b AS (
           |  SELECT doc_id AS media_id, hex(encode(text)) AS h,
           |         octet_length(encode(text)) AS n
           |  FROM documents)
           |SELECT media_id, CAST(n AS INTEGER) AS n_bytes,
           |$lanes
           |FROM b ORDER BY media_id""".stripMargin
      }
    )
  }
}
