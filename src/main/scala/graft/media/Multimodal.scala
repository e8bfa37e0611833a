package graft.media

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.Kernels.q6Sql
import graft.gen.Fixtures

/**
 * Multimodal columns: media payloads are opaque BINARY columns with typed metadata.
 * The fixture `media` table carries a deterministic fake payload (an "IMG1;W=..;H=..;"
 * header + bytes) because no image/audio codecs ship in this environment — the DECODE
 * STEP IS A STUB (clearly marked below); the Spark-side plumbing (binary column IO,
 * schema, batch iteration shape, metadata extraction) is real and tested.
 */
object Multimodal {

  final case class MediaRow(media_ref: String, kind: String, content: Array[Byte])
  final case class MediaMeta(media_ref: String, kind: String, n_bytes: Int,
      width: Int, height: Int, content_md5: String)

  /** Expression-pipeline metadata extraction (oracle-checkable). */
  def mediaMetaQuery(spark: SparkSession, dir: String): DataFrame =
    Fixtures.table(spark, dir, "media")
      .withColumn("header", col("content").cast("string"))
      .select(
        col("media_ref"), col("kind"),
        length(col("content")).as("n_bytes"),
        regexp_extract(col("header"), "W=([0-9]+)", 1).cast("int").as("width"),
        regexp_extract(col("header"), "H=([0-9]+)", 1).cast("int").as("height"),
        md5(col("header")).as("content_md5")) // md5 over the utf-8 text form (DuckDB md5 is VARCHAR-only)

  /** Aspect-preserving resize bound (longest side after resize). */
  val MaxDim = 64

  /** Resize (q_media_resize): aspect-preserving fit of (width, height) into
   * MaxDim. The pixel resample itself is part of the stubbed codec; the
   * metadata arithmetic, schema, and per-row pipeline shape are real. */
  def resizeQuery(spark: SparkSession, dir: String): DataFrame =
    mediaMetaQuery(spark, dir)
      .withColumn("scale", expr(
        s"IF(greatest(width, height) > $MaxDim, CAST($MaxDim AS DOUBLE) / greatest(width, height), CAST(1.0 AS DOUBLE))"))
      .select(col("media_ref"), col("kind"), col("width"), col("height"),
        expr("CAST(floor(width * scale) AS INT)").as("new_w"),
        expr("CAST(floor(height * scale) AS INT)").as("new_h"))

  /** Frame sampling (q_media_frames) — the video-analog plumbing: sample up to 4
   * evenly-spaced "frames" from the payload (32-byte stride), each fingerprinted.
   * With a real container codec the stride becomes the frame index table. */
  def frameSampleQuery(spark: SparkSession, dir: String): DataFrame =
    Fixtures.table(spark, dir, "media")
      .withColumn("header", col("content").cast("string"))
      .withColumn("n_frames", expr("least(4, greatest(1, CAST(length(content) AS INT) div 32))"))
      .select(col("media_ref"), col("header"),
        posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("k", "frame_idx")))
      .select(col("media_ref"), col("frame_idx"),
        (col("frame_idx") * 32).as("frame_off"),
        md5(expr("substring(header, frame_idx * 32 + 1, 16)")).as("frame_md5"))

  /** Feature extraction (q_media_features): a deterministic 16-dim unit-scale
   * embedding from the content fingerprint — the stand-in for a CNN embedding;
   * the fixed-dim vector column + downstream ANN shape is the real pipeline. */
  def featureQuery(spark: SparkSession, dir: String): DataFrame = {
    val hexDig = "'0123456789abcdef'"
    def byteAt(j: Int): String =
      s"CAST((instr($hexDig, substring(h, ${j * 2 + 1}, 1)) - 1) * 16 + (instr($hexDig, substring(h, ${j * 2 + 2}, 1)) - 1) AS INT)"
    def fAt(j: Int): String = s"${byteAt(j)} / CAST(255.0 AS DOUBLE)"
    val checksum = (0 until 16)
      .map(j => q6Sql(fAt(j)))
      .mkString(" + ")
    Fixtures.table(spark, dir, "media")
      .withColumn("h", md5(col("content").cast("string")))
      .select(col("media_ref"),
        expr(fAt(0)).as("f0"), expr(fAt(1)).as("f1"),
        expr(fAt(2)).as("f2"), expr(fAt(3)).as("f3"),
        expr(s"($checksum)").as("feat_sum_q"))
  }

  /**
   * Batch decode via typed mapPartitions — the shape a real codec would use (one
   * library init per partition, batched row iteration). `decodeStub` stands in for
   * the codec: ??? in production; here a deterministic header parse so the plumbing
   * is testable.
   */
  def decodeBatch(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real pipeline: val codec = HeavyCodec.init()  // once per partition
      rows.map(r => decodeStub(r))
    }
  }

  /** STUB: stands in for image/audio decode (no codecs in this environment). */
  def decodeStub(r: MediaRow): MediaMeta = {
    val header = new String(r.content, "UTF-8")
    def num(k: String): Int = s"$k=([0-9]+)".r.findFirstMatchIn(header).map(_.group(1).toInt).getOrElse(-1)
    val md = java.security.MessageDigest.getInstance("MD5").digest(r.content)
    MediaMeta(r.media_ref, r.kind, r.content.length, num("W"), num("H"),
      md.map("%02x".format(_)).mkString)
  }
}
