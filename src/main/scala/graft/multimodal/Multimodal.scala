package graft.multimodal

import java.awt.image.BufferedImage
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline: media travels as an
  * opaque `binary` column with typed metadata alongside; decode /
  * feature-extract / resize / frame-sample run inside `mapPartitions`
  * over the binary payload (the Scala analogue of mapInPandas — one
  * JVM-side pass per batch of rows, no per-row driver involvement).
  *
  * What's real vs stubbed in this environment:
  *  - IMAGE decode/resize/features: REAL — JPEG/PNG via javax.imageio
  *    (in the JDK), resize via Graphics2D, features are luminance
  *    histograms + mean intensity.
  *  - AUDIO features: REAL for RIFF/PCM WAV and FLAC (pure-JVM [[Wav]]
  *    and [[Flac]] codecs — rms, zero-crossings, duration from actual
  *    samples); MP3 duration + coarse energy are REAL via the
  *    frame-header walk ([[Mp3]]), ADTS/AAC duration via [[Aac]];
  *    remaining lossy waveform features fall back to a clearly-marked
  *    deterministic stub.
  *  - VIDEO frame-sample: REAL for MJPEG in AVI or MP4 (pure-JVM
  *    [[Avi]]/[[Mp4]] container parses; each frame is a standalone
  *    JPEG) — sampled frames carry actual JPEG bytes and
  *    container-derived timestamps. Codec-bound formats (h264/vp9) keep a
  *    clearly-marked deterministic stub (byte-hash-derived values
  *    with the REAL schema, partitioning and batch shape) — swap
  *    `stubFrame` for a codec call on a real cluster.
  */
object Multimodal {

  val mediaSchema: StructType = new StructType()
    .add("media_id", LongType)
    .add("kind", StringType)          // image | video | audio
    .add("media_type", StringType)    // mime
    .add("content", BinaryType)
    .add("meta", MapType(StringType, StringType))

  val imageFeatureSchema: StructType = new StructType()
    .add("media_id", LongType)
    .add("width", IntegerType)
    .add("height", IntegerType)
    .add("mean_intensity", DoubleType)
    .add("histogram", ArrayType(LongType)) // 16-bin luminance

  /** REAL image decode + feature extraction: one pass per partition,
    * decoding each binary payload once and emitting typed features.
    */
  def imageFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(imageFeatureSchema)
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("content"))
      .mapPartitions { part =>
        part.flatMap { r =>
          val id = r.getLong(0)
          val img = ImageIO.read(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          if (img == null) None
          else {
            val hist = new Array[Long](16)
            var sum = 0.0
            for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
                (rgb & 0xFF) * 114) / 1000
              hist(lum / 16) += 1
              sum += lum
            }
            Some(Row(id, img.getWidth, img.getHeight,
              sum / (img.getWidth * img.getHeight), hist.toSeq))
          }
        }
      }(enc)
  }

  /** REAL image resize: binary → binary, same mapPartitions shape. */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(
      new StructType().add("media_id", LongType).add("content", BinaryType))
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("content"))
      .mapPartitions { part =>
        part.flatMap { r =>
          val img = ImageIO.read(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          if (img == null) None
          else {
            val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.drawImage(img.getScaledInstance(w, h, java.awt.Image.SCALE_SMOOTH),
              0, 0, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            ImageIO.write(out, "jpg", bos)
            Some(Row(r.getLong(0), bos.toByteArray))
          }
        }
      }(enc)
  }

  /** Pure-JVM container dispatch: MJPEG frames decode for real from
    * both mainstream containers (RIFF/AVI and ISO-BMFF/MP4).
    */
  private[graft] def decodeVideo(bytes: Array[Byte]): Option[VideoFrames] =
    Avi.decode(bytes).orElse(Mp4.decode(bytes))

  /** Video frame sampling. MJPEG payloads in AVI or MP4 containers
    * decode for REAL ([[Avi]]/[[Mp4]], pure JVM): `nFrames`
    * evenly-spaced frames per video, each row carrying the frame's
    * actual JPEG bytes (feedable straight into [[imageFeatures]]) and
    * its real timestamp from the container's sample timing. Codec-bound
    * formats (h264/vp9 — no codecs in this container) keep the
    * clearly-marked deterministic byte stand-in with duration from
    * metadata.
    */
  def sampleFrames(media: DataFrame, nFrames: Int): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(
      new StructType().add("media_id", LongType).add("frame_idx", IntegerType)
        .add("ts_ms", LongType).add("frame", BinaryType))
    // Captured at plan time on the driver: whether a video no container
    // walk recognizes may fall back to the deterministic byte stand-in.
    // DEFAULT OFF — a stand-in that returns plausible frame bytes is the
    // one place this engine could silently hand wrong pixels to a
    // training pipeline, so unknown codecs fail loudly instead.
    val allowStub = media.sparkSession.conf
      .get("spark.graft.video.allowStub", "false").toBoolean
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("content"),
        element_at(col("meta"), "duration_ms").cast("long").as("dur"))
      .mapPartitions { part =>
        part.flatMap { r =>
          val (id, content) = (r.getLong(0), r.getAs[Array[Byte]](1))
          decodeVideo(content) match {
            case Some(v) =>
              val n = v.nFrames
              (0 until nFrames).iterator.map { i =>
                val src = i * (n - 1) / math.max(nFrames - 1, 1)
                Row(id, i, src * v.usPerFrame / 1000, v.frame(src))
              }
            case None if allowStub =>
              val dur = if (r.isNullAt(2)) 1000L else r.getLong(2)
              (0 until nFrames).iterator.map { i =>
                Row(id, i, dur * i / math.max(nFrames - 1, 1),
                  stubFrame(content, i))
              }
            case None =>
              throw new IllegalArgumentException(
                s"media_id $id: video payload is not MJPEG in an AVI or " +
                  "MP4 container — the only codecs this engine decodes " +
                  "for real. Transcode to MJPEG first, or set " +
                  "spark.graft.video.allowStub=true to accept a " +
                  "deterministic NON-PIXEL byte stand-in per frame.")
          }
        }
      }(enc)
  }

  /** ??? — codec-bound (h264/vp9) PIXEL decode goes here; deterministic
    * stand-in, gated behind `spark.graft.video.allowStub` (default off).
    * MJPEG/AVI/MP4 decodes for real above. H.264 streams DO have a real
    * metadata path ([[Avc.probe]]: resolution/profile/entropy/slice mix
    * from any Annex B stream) and a lossless {I_PCM, P_Skip} subset
    * decoder ([[Avc.decode]], q145); what stays walled is CAVLC/CABAC
    * residual decoding — see Avc's class doc for the boundary argument.
    */
  private def stubFrame(content: Array[Byte], idx: Int): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(content ++ BigInt(idx).toByteArray)

  /** Audio feature extraction. RIFF/PCM WAV and FLAC payloads decode
    * for REAL (graft.multimodal.Wav / graft.multimodal.Flac — both
    * pure-JVM codecs): rms / zero-crossings / duration from the actual
    * mono-mixed samples. MP3 goes through the pure-JVM frame-header
    * walk ([[Mp3]]): duration is exact (frame count × samples/frame ÷
    * rate) and rms is a coarse energy proxy from the Layer III
    * side-info global gains — only zero crossings stay byte-derived.
    * ADTS/AAC goes through the pure-JVM header walk ([[Aac]]): duration
    * is exact (raw data blocks × 1024 ÷ rate); rms/zero crossings need
    * filterbank synthesis and stay byte-derived. Payloads no walk
    * recognizes keep the clearly-marked deterministic byte stand-in
    * with duration from metadata.
    */
  def audioFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(
      new StructType().add("media_id", LongType).add("duration_ms", LongType)
        .add("rms", DoubleType).add("zero_crossings", LongType))
    media.filter(col("kind") === "audio")
      .select(col("media_id"), col("content"),
        element_at(col("meta"), "duration_ms").cast("long").as("dur"))
      .mapPartitions { part =>
        part.map { r =>
          val content = r.getAs[Array[Byte]](1)
          Wav.decode(content).orElse(Flac.decode(content)) match {
            case Some(pcm) =>
              val n = pcm.samples.length
              var sumSq = 0.0
              var zc = 0L
              var i = 0
              while (i < n) {
                val s = pcm.samples(i)
                sumSq += s * s
                if (i > 0 && (s < 0) != (pcm.samples(i - 1) < 0)) zc += 1
                i += 1
              }
              Row(r.getLong(0), pcm.durationMs,
                math.sqrt(sumSq / math.max(n, 1)), zc)
            case None =>
              val zc = content.sliding(2).count(p =>
                p.length == 2 && ((p(0) < 0) != (p(1) < 0))).toLong
              Mp3.probe(content) match {
                case Some(info) =>
                  // REAL duration + coarse energy from the bitstream;
                  // zero crossings need synthesis → byte stand-in
                  Row(r.getLong(0), info.durationMs,
                    info.meanGlobalGain / 255.0, zc)
                case None =>
                  val rms = math.sqrt(content.map(b => (b & 0xFF).toDouble)
                    .map(v => v * v).sum / math.max(content.length, 1)) / 255.0
                  Aac.probe(content) match {
                    case Some(info) =>
                      // REAL duration from the ADTS frame walk;
                      // waveform features stay byte-derived
                      Row(r.getLong(0), info.durationMs, rms, zc)
                    case None =>
                      // ??? — lossy-codec synthesis goes here;
                      // byte-level stand-ins for now
                      Row(r.getLong(0),
                        if (r.isNullAt(2)) 0L else r.getLong(2), rms, zc)
                  }
              }
          }
        }
      }(enc)
  }
}
