package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.multimodal.Multimodal
import graft.pipeline.Thumbnail

/** Multimodal binary-column pipeline through the driver surface. Media
  * bytes are generated in-process (deterministic JPEGs from the
  * pipeline's own thumbnail encoder + stub video/audio payloads, sized
  * by the documents table so the row count scales with SF); the decoded
  * per-media features are dumped to parquet (Work.oracleDump) so DuckDB
  * independently recomputes the per-kind metric union — decode itself is
  * pinned by MultimodalSpec.
  */
object MultimodalQueries {

  val imagePipeline = QueryDef("q49_image_features",
    """SELECT media_id, 'image' AS kind,
      |  CAST(width * height AS BIGINT) AS metric
      |FROM read_parquet('/tmp/graft-oracle/q49_img/*.parquet')
      |UNION ALL
      |SELECT media_id, 'video' AS kind, count(*) AS metric
      |FROM read_parquet('/tmp/graft-oracle/q49_frames/*.parquet')
      |GROUP BY media_id
      |UNION ALL
      |SELECT media_id, 'audio' AS kind, zero_crossings AS metric
      |FROM read_parquet('/tmp/graft-oracle/q49_audio/*.parquet')
      |ORDER BY kind, media_id""".stripMargin,
    setup = { (s, d) =>
      val n = math.min(graft.Tables.rowCount(s, d, "documents"), 64L).toInt
      val rows = (0 until n).map { i =>
        val kind = i % 3 match {
          case 0 => "image"; case 1 => "video"; case 2 => "audio"
        }
        val content = kind match {
          case "image" => Thumbnail.jpeg(
            Array.tabulate(16, 16)((y, x) => (y * 16 + x + i).toDouble))
          case "video" =>
            // real MJPEG/AVI payload — the stub path is gated off by default
            graft.multimodal.Avi.write((0 until 4).map(fr => Thumbnail.jpeg(
              Array.tabulate(12, 12)((y, x) => (y * 12 + x + i + fr).toDouble))),
              12, 12, fps = 4)
          case _ => Array.tabulate[Byte](64)(b => ((b * (i + 3)) % 127).toByte)
        }
        Row(i.toLong, kind, s"$kind/x", content,
          Map("duration_ms" -> ((i + 1) * 500).toString))
      }
      val media = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4), Multimodal.mediaSchema)
      graft.Work.oracleDump(s, "q49_img", Multimodal.imageFeatures(media))
      graft.Work.oracleDump(s, "q49_frames",
        Multimodal.sampleFrames(media, 3).select("media_id", "frame_idx"))
      graft.Work.oracleDump(s, "q49_audio", Multimodal.audioFeatures(media))
    }) { (s, _) =>
    def dumped(tag: String) = s.read.parquet(graft.Work.oracleDumpPath(tag))
    val img = dumped("q49_img")
      .select(col("media_id"), lit("image").as("kind"),
        (col("width") * col("height")).cast("long").as("metric"))
    val vid = dumped("q49_frames")
      .groupBy(col("media_id")).agg(count(lit(1)).as("metric"))
      .select(col("media_id"), lit("video").as("kind"), col("metric"))
    val aud = dumped("q49_audio")
      .select(col("media_id"), lit("audio").as("kind"),
        col("zero_crossings").as("metric"))
    img.unionByName(vid).unionByName(aud)
  }

  /** Audio features over REAL codec decodes — the same signals rendered
    * as RIFF/PCM WAV (even ids) and FLAC (odd ids), decoded by the
    * pure-JVM codecs inside executor tasks. The decoded sample arrays
    * are dumped so DuckDB independently recomputes every feature (rms,
    * zero crossings, integer-division duration) from the raw samples —
    * the q46 pattern: decode pinned by FlacSpec/MultimodalSpec,
    * aggregation cross-engine-checked. A WAV/FLAC pair of the same
    * signal must produce identical features (lossless round-trip).
    */
  val audioPipeline: QueryDef = {
    import graft.multimodal.{Flac, Wav}
    def media(s: SparkSession) = {
      val n = 24
      val rows = (0 until n).map { i =>
        val len = 1200 + (i % 3) * 100
        val sig =
          Array.tabulate(len)(t => math.sin(t * (0.01 + i * 0.001)) * 0.7)
        val codec = if (i % 2 == 0) "wav" else "flac"
        val content =
          if (codec == "wav") Wav.write(sig, 8000) else Flac.write(sig, 8000)
        Row(i.toLong, "audio", s"audio/$codec", content,
          Map("duration_ms" -> "0"))
      }
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 4), Multimodal.mediaSchema)
    }
    QueryDef("q79_audio_features",
      """SELECT media_id, codec,
        |  CAST(len(vals) AS BIGINT) * 1000 // sample_rate AS duration_ms,
        |  round(sqrt(list_sum(list_transform(vals, x -> x * x)) / len(vals)), 6)
        |    AS rms,
        |  CAST(list_sum(list_transform(generate_series(2, len(vals)),
        |    i -> CASE WHEN (vals[i] < 0) <> (vals[i-1] < 0) THEN 1 ELSE 0 END))
        |    AS BIGINT) AS zero_crossings
        |FROM read_parquet('/tmp/graft-oracle/q79_samples/*.parquet')
        |ORDER BY media_id""".stripMargin,
      setup = { (s, _) =>
        import s.implicits._
        // the oracle starts from the decoded PCM, not from our own
        // feature values
        graft.Work.oracleDump(s, "q79_samples", media(s)
          .select(col("media_id"), col("media_type"), col("content"))
          .as[(Long, String, Array[Byte])]
          .map { case (id, mt, bytes) =>
            val pcm = Wav.decode(bytes).orElse(Flac.decode(bytes)).get
            (id, mt.stripPrefix("audio/"), pcm.sampleRate, pcm.samples)
          }.toDF("media_id", "codec", "sample_rate", "vals"))
      }) { (s, _) =>
      val m = media(s)
      val codecs = m.select(col("media_id"),
        regexp_replace(col("media_type"), "audio/", "").as("codec"))
      Multimodal.audioFeatures(m)
        .join(codecs, Seq("media_id"))
        .select(col("media_id"), col("codec"), col("duration_ms"),
          round(col("rms"), 6).as("rms"), col("zero_crossings"))
    }
  }

  /** Spectral audio features from REAL samples ([[graft.multimodal
    * .Dsp]]): decode → 1024-point FFT → one-sided power spectrum,
    * quantized to integer micro-units per bin AT THE DUMP — so the
    * oracle recomputes total power, the spectral-centroid numerator
    * (Σ k·p_u), the peak bin (min index among maxima — deterministic
    * tie-break) and active-bin count from the BINS, all in exact
    * integers. The FFT itself is pinned against a brute-force DFT and
    * Parseval in DspSpec; fixture sines sit ON bin centers, so each
    * medium's peak bin equals its generating frequency index by
    * construction.
    */
  val audioSpectrum = QueryDef("q124_audio_spectrum",
    """WITH b AS (
      |  SELECT media_id, sample_rate, generate_subscripts(bins, 1) - 1 AS k,
      |    unnest(bins) AS p
      |  FROM read_parquet('/tmp/graft-oracle/q124_bins/*.parquet'))
      |SELECT media_id,
      |  CAST(sum(p) AS BIGINT) AS total_pu,
      |  CAST(sum(k * p) AS BIGINT) AS centroid_num,
      |  CAST(min(CASE WHEN p = mp THEN k END) AS BIGINT) AS peak_bin,
      |  CAST(count(CASE WHEN p * 1000 > tp THEN 1 END) AS BIGINT)
      |    AS n_active
      |FROM (SELECT *, max(p) OVER (PARTITION BY media_id) AS mp,
      |        sum(p) OVER (PARTITION BY media_id) AS tp FROM b)
      |GROUP BY media_id ORDER BY media_id""".stripMargin,
    setup = { (s, _) =>
      import s.implicits._
      import graft.multimodal.{Dsp, Flac, Wav}
      val n = 16
      val fftN = 1024
      val rows = (0 until n).map { i =>
        val rate = 8000
        // bin-centered sine (k = 40 + 7i) + for odd ids a second tone
        val k1 = 40 + 7 * i
        val sig = Array.tabulate(1536) { t =>
          val w1 = math.sin(2 * math.Pi * k1 * t / fftN.toDouble) * 0.7
          val w2 = if (i % 2 == 1)
            math.sin(2 * math.Pi * (k1 + 100) * t / fftN.toDouble) * 0.3
          else 0.0
          w1 + w2
        }
        val codec = if (i % 2 == 0) "wav" else "flac"
        val content =
          if (codec == "wav") Wav.write(sig, rate) else Flac.write(sig, rate)
        Row(i.toLong, "audio", s"audio/$codec", content,
          Map("duration_ms" -> "0"))
      }
      val media = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4), Multimodal.mediaSchema)
      val bins = media.select(col("media_id"), col("content"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val pcm = Wav.decode(bytes).orElse(Flac.decode(bytes)).get
          val p = Dsp.powerSpectrum(pcm.samples, fftN)
          (id, pcm.sampleRate, p.map(v => math.floor(v * 1e6).toLong))
        }.toDF("media_id", "sample_rate", "bins")
      graft.Work.oracleDump(s, "q124_bins", bins)
    }) { (s, _) =>
    val withK = s.read.parquet(graft.Work.oracleDumpPath("q124_bins"))
      .select(col("media_id"), posexplode(col("bins")).as(Seq("k", "p")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("media_id")
    withK
      .withColumn("mp", max(col("p")).over(w))
      .withColumn("tp", sum(col("p")).over(w))
      .groupBy("media_id")
      .agg(sum(col("p")).cast("long").as("total_pu"),
        sum(col("k") * col("p")).cast("long").as("centroid_num"),
        min(when(col("p") === col("mp"), col("k"))).cast("long")
          .as("peak_bin"),
        count(when(col("p") * 1000 > col("tp"), 1)).cast("long")
          .as("n_active"))
      .orderBy("media_id")
  }

  /** Real video frame sampling over MJPEG in BOTH containers (RIFF/AVI
    * even ids, ISO-BMFF/MP4 odd ids, the MP4s multi-chunk) — the
    * sampling arithmetic is what the oracle independently recomputes:
    * container facts (frame count, frame interval) and per-frame
    * digests of EVERY source frame are dumped, and DuckDB re-derives
    * which source frame each sampled row must be (evenly-spaced index),
    * its timestamp, and the digest it must carry. A digest mismatch
    * means the operator picked the wrong frame; the decodes are pinned
    * by MultimodalSpec/Mp4Spec.
    */
  val videoPipeline: QueryDef = {
    import graft.multimodal.{Avi, Mp4}
    def media(s: SparkSession) = {
      val nVideos = 12
      val rows = (0 until nVideos).map { i =>
        val frames = (0 until 4 + i % 5).map(fr => Thumbnail.jpeg(
          Array.tabulate(12, 12)((y, x) =>
            (y * 12 + x + i * 100 + fr * 7).toDouble)))
        if (i % 2 == 0)
          Row(i.toLong, "video", "video/x-msvideo",
            Avi.write(frames, 12, 12, fps = 5 + i % 3),
            Map.empty[String, String])
        else
          Row(i.toLong, "video", "video/mp4",
            Mp4.write(frames, 12, 12, fps = 5 + i % 3,
              samplesPerChunk = 2 + i % 3,
              // every third MP4 carries the >4 GiB shapes (co64 chunk
              // offsets + largesize mdat) the reader must accept
              use64 = i % 3 == 0),
            Map.empty[String, String])
      }
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 4), Multimodal.mediaSchema)
    }
    // container facts + a digest of every source frame, decoded honestly
    // from the AVI/MP4 payloads inside tasks
    def perVideo(s: SparkSession, media: DataFrame) = {
      import s.implicits._
      media.select(col("media_id"), col("content"))
        .as[(Long, Array[Byte])]
        .flatMap { case (id, bytes) =>
          val v = Multimodal.decodeVideo(bytes).get
          (0 until v.nFrames).map { i =>
            (id, v.nFrames, v.usPerFrame, i,
              java.security.MessageDigest.getInstance("MD5").digest(v.frame(i))
                .map("%02x".format(_)).mkString)
          }
        }.toDF("media_id", "n_frames", "us_per_frame", "src_idx", "frame_md5")
    }
    QueryDef("q81_video_frames",
      """WITH f AS (SELECT * FROM read_parquet('/tmp/graft-oracle/q81_facts/*.parquet')),
        |a AS (SELECT * FROM read_parquet('/tmp/graft-oracle/q81_all/*.parquet')),
        |s AS (SELECT * FROM read_parquet('/tmp/graft-oracle/q81_sampled/*.parquet'))
        |SELECT s.media_id, s.frame_idx,
        |  CAST(s.frame_idx * (f.n_frames - 1) // 2 AS INT) AS src_idx,
        |  CAST(s.frame_idx * (f.n_frames - 1) // 2 * f.us_per_frame // 1000
        |    AS BIGINT) AS ts_ms,
        |  a.frame_md5
        |FROM s JOIN f USING (media_id)
        |JOIN a ON a.media_id = s.media_id
        |  AND a.src_idx = s.frame_idx * (f.n_frames - 1) // 2
        |ORDER BY s.media_id, s.frame_idx""".stripMargin,
      setup = { (s, _) =>
        val m = media(s)
        val pv = perVideo(s, m)
        graft.Work.oracleDump(s, "q81_facts",
          pv.select("media_id", "n_frames", "us_per_frame").distinct())
        graft.Work.oracleDump(s, "q81_all",
          pv.select("media_id", "src_idx", "frame_md5"))
        graft.Work.oracleDump(s, "q81_sampled", Multimodal.sampleFrames(m, 3)
          .select(col("media_id"), col("frame_idx"), col("ts_ms"),
            md5(col("frame")).as("frame_md5")))
      }) { (s, _) =>
      s.read.parquet(graft.Work.oracleDumpPath("q81_sampled")).join(
          perVideo(s, media(s))
            .select("media_id", "n_frames", "us_per_frame").distinct(),
          Seq("media_id"))
        .select(col("media_id"), col("frame_idx"),
          floor(col("frame_idx") * (col("n_frames") - 1) / 2).cast("int")
            .as("src_idx"),
          col("ts_ms"), col("frame_md5"))
    }
  }

  /** Lossy-audio header walks as parameter recovery: the generation
    * PARAMETERS (frame counts, rates, side-info gain) are dumped before
    * any payload exists, the payloads are then encoded from those
    * parameters (structurally valid MP3 / ADTS streams), and the probes
    * must recover the parameters from raw bytes inside tasks. The
    * oracle recomputes every expected output (duration from the
    * samples-per-frame arithmetic, gain) from the params dump alone —
    * a probe that miscounts frames, misreads the rate table, or walks
    * side-info bits at the wrong offset hash-mismatches.
    */
  val codecProbe: QueryDef = {
    import graft.multimodal.{Aac, Mp3}
    val aacRateIdx = Array(4 -> 44100, 3 -> 48000, 8 -> 16000, 11 -> 8000)
    // mp3 rows vary every recoverable side-info parameter: global_gain,
    // scalefac_compress, and the short-block granule count (0..4 of the
    // 4 per stereo frame → fraction in quarters)
    def params = (0 until 24).map { i =>
      if (i % 2 == 0)
        (i.toLong, "mp3", 20 + i, 1152, 44100, (100 + i).toDouble,
          (i % 16).toDouble, (i / 2 % 5) / 4.0)
      else {
        val (_, rate) = aacRateIdx((i / 2) % 4)
        (i.toLong, "aac", 30 + i, 1024, rate, 0.0, 0.0, 0.0)
      }
    }
    QueryDef("q87_codec_probe",
      """SELECT media_id, codec, n_frames,
        |  CAST(n_frames * spf * 1000 // rate AS BIGINT) AS duration_ms,
        |  round(gain, 3) AS mean_gain, round(sfc, 3) AS mean_sfc,
        |  round(short_frac, 3) AS short_frac
        |FROM read_parquet('/tmp/graft-oracle/q87_params/*.parquet')
        |ORDER BY media_id""".stripMargin,
      setup = { (s, _) =>
        import s.implicits._
        graft.Work.oracleDump(s, "q87_params", params
          .toDF("media_id", "codec", "n_frames", "spf", "rate", "gain", "sfc",
            "short_frac"))
      }) { (s, _) =>
      import s.implicits._
      val payloads = params.map { case (id, codec, nFrames, _, _, gain, sfc, sf) =>
        val i = id.toInt
        val content =
          if (codec == "mp3") Mp3.fixture(nFrames, gain.toInt, id3 = i % 4 == 0,
            scalefacCompress = sfc.toInt, shortGranules = (sf * 4).toInt)
          else Aac.fixture(nFrames, sampleRateIdx = aacRateIdx((i / 2) % 4)._1,
            channels = 1 + i % 2, id3 = i % 3 == 0,
            // every fifth AAC stream carries CRC-protected (9-byte)
            // headers; duration math is unchanged, the walk must be
            withCrc = i % 5 == 0)
        (id, codec, content)
      }
      s.sparkContext.parallelize(payloads, 4).toDF("media_id", "codec", "content")
        .as[(Long, String, Array[Byte])]
        .map { case (id, codec, bytes) =>
          if (codec == "mp3") {
            val p = Mp3.probe(bytes).get
            (id, codec, p.nFrames, p.durationMs, p.meanGlobalGain,
              p.meanScalefacCompress, p.shortBlockFrac)
          } else {
            val p = Aac.probe(bytes).get
            (id, codec, p.nFrames, p.durationMs, 0.0, 0.0, 0.0)
          }
        }.toDF("media_id", "codec", "n_frames", "duration_ms", "mean_gain",
          "mean_sfc", "short_frac")
        .withColumn("mean_gain", round(col("mean_gain"), 3))
        .withColumn("mean_sfc", round(col("mean_sfc"), 3))
        .withColumn("short_frac", round(col("short_frac"), 3))
    }
  }

  /** q145 — H.264 bitstream probe + subset decode as parameter
    * recovery (the q79 lossy-audio pattern, now for video): the
    * generation parameters — resolution, GOP structure (IDR runs vs
    * repeated frames), and the luma mass of every generated frame —
    * are dumped BEFORE any payload exists; the payloads are then
    * encoded as real H.264 Annex B streams ([[graft.multimodal.Avc]]:
    * SPS/PPS + I_PCM IDR slices + P_Skip slices), and inside tasks the
    * probe must recover resolution/profile/entropy/slice-mix from raw
    * bytes while the subset decoder must reproduce every frame's luma
    * sum EXACTLY (P_Skip frames inherit their reference's mass — a
    * wrong reference copy or a mis-placed PCM macroblock shifts
    * y_total and hash-mismatches the oracle's recompute from the
    * params dump). Probe facts that never touch the decoder (profile,
    * entropy mode) are literals on the oracle side — a misparse breaks
    * the join columns, not just the sums.
    */
  val avcProbe: QueryDef = {
    import graft.multimodal.Avc
    val nVideos = 10
    // generation parameters first: geometry, GOP run lengths, per-frame
    // luma mass (unsigned-byte sum over the generated plane)
    def specs = (0 until nVideos).map { i =>
      val w = 16 * (1 + i % 3)
      val h = 16 * (1 + (i / 2) % 2)
      val nFrames = 3 + i % 4
      val runLen = 1 + i % 2 // 2 -> every other frame repeats (P_Skip)
      val frames = (0 until nFrames).map { j =>
        val src = j - j % runLen // repeated frames reuse the run head
        Avc.Frame(w, h,
          Array.tabulate(w * h)(p => (p * 7 + src * 13 + i * 31).toByte),
          Array.tabulate(w / 2 * h / 2)(p => (p * 5 + src * 3 + i).toByte),
          Array.tabulate(w / 2 * h / 2)(p => (p * 11 + src + i * 2).toByte))
      }
      val ySum = frames.map(_.y.map(b => (b & 0xFF).toLong).sum).sum
      val nIdr = (0 until nFrames).count(j => j % runLen == 0)
      (i.toLong, w, h, nFrames, nIdr, nFrames - nIdr, ySum, frames)
    }
    QueryDef("q145_avc_probe",
      """SELECT media_id, width, height, 66 AS profile, FALSE AS cabac,
        |  n_frames, n_idr, n_pskip, y_total
        |FROM read_parquet('/tmp/graft-oracle/q145_params/*.parquet')
        |ORDER BY media_id""".stripMargin,
      setup = { (s, _) =>
        import s.implicits._
        graft.Work.oracleDump(s, "q145_params",
          specs.map { case (id, w, h, nf, ni, np, ys, _) =>
            (id, w, h, nf.toLong, ni.toLong, np.toLong, ys)
          }.toDF("media_id", "width", "height", "n_frames", "n_idr",
            "n_pskip", "y_total"))
      }) { (s, _) =>
      import s.implicits._
      // now the payloads: real Annex B streams, probed + decoded in tasks
      val media = specs.map { case (id, _, _, _, _, _, _, frames) =>
        (id, Avc.encode(frames))
      }.toDF("media_id", "content").repartition(4)
      media.as[(Long, Array[Byte])].map { case (id, bytes) =>
        val p = Avc.probe(bytes).getOrElse(
          throw new IllegalArgumentException(s"media $id: not H.264"))
        val frames = Avc.decode(bytes)
        val ySum = frames.map(_.y.map(b => (b & 0xFF).toLong).sum).sum
        (id, p.width, p.height, p.profile, p.entropyCabac,
          (p.nI + p.nP).toLong, p.nIdr.toLong, p.nP.toLong, ySum)
      }.toDF("media_id", "width", "height", "profile", "cabac",
        "n_frames", "n_idr", "n_pskip", "y_total")
        .orderBy("media_id")
    }
  }

  /** q154 — MP4/avcC H.264 probe: q145's bitstream layer reaching the
    * container real-world video actually ships in. The fixtures are
    * avc1 MP4s ([[graft.multimodal.Mp4.writeAvc]]: SPS/PPS out-of-band
    * in the avcC record, 4-byte length-prefixed sample NALs, stss sync
    * table, chunked sample maps and a 64-bit-shape file mixed in), and
    * the generation parameters — geometry, GOP mix, per-stream luma
    * mass, container duration — are dumped BEFORE muxing. Inside tasks
    * [[graft.multimodal.Mp4.probeAvc]] must recover resolution/profile/
    * entropy from the OUT-OF-BAND parameter sets (there are no start
    * codes to find — a probe that only knows Annex B returns nothing
    * here), the GOP mix from the length-prefixed sample walk
    * cross-checked against stss, duration from stts/mdhd, and the
    * de-mux must feed the subset decoder to the exact luma sum. The
    * oracle recomputes everything from the params dump.
    */
  val mp4AvcProbe: QueryDef = {
    import graft.multimodal.{Avc, Mp4}
    val nVideos = 10
    def specs = (0 until nVideos).map { i =>
      val w = 16 * (1 + i % 3)
      val h = 16 * (1 + (i / 2) % 2)
      val nFrames = 3 + i % 4
      val runLen = 1 + i % 2
      val fps = 2 + i % 3
      val frames = (0 until nFrames).map { j =>
        val src = j - j % runLen
        Avc.Frame(w, h,
          Array.tabulate(w * h)(p => (p * 7 + src * 13 + i * 31).toByte),
          Array.tabulate(w / 2 * h / 2)(p => (p * 5 + src * 3 + i).toByte),
          Array.tabulate(w / 2 * h / 2)(p => (p * 11 + src + i * 2).toByte))
      }
      val ySum = frames.map(_.y.map(b => (b & 0xFF).toLong).sum).sum
      val nIdr = (0 until nFrames).count(j => j % runLen == 0)
      (i.toLong, w, h, nFrames, nIdr, fps, ySum, frames)
    }
    QueryDef("q154_mp4_avc_probe",
      """SELECT media_id, width, height, 66 AS profile, FALSE AS cabac,
        |  n_frames, n_idr, n_pskip, duration_ms, y_total
        |FROM read_parquet('/tmp/graft-oracle/q154_params/*.parquet')
        |ORDER BY media_id""".stripMargin,
      setup = { (s, _) =>
        import s.implicits._
        graft.Work.oracleDump(s, "q154_params",
          specs.map { case (id, w, h, nf, ni, fps, ys, _) =>
            (id, w, h, nf.toLong, ni.toLong, (nf - ni).toLong,
              nf.toLong * 1000L / fps, ys)
          }.toDF("media_id", "width", "height", "n_frames", "n_idr",
            "n_pskip", "duration_ms", "y_total"))
      }) { (s, _) =>
      import s.implicits._
      // mux AFTER the dump: varying fps, chunk splits, and one 64-bit
      // shape so the sample-map walk is exercised, not just one layout
      val media = specs.map { case (id, _, _, _, _, fps, _, frames) =>
        (id, Mp4.writeAvc(Avc.encode(frames), fps = fps,
          samplesPerChunk = 1 + (id % 3).toInt, use64 = id == 7))
      }.toDF("media_id", "content").repartition(4)
      media.as[(Long, Array[Byte])].map { case (id, bytes) =>
        val info = Mp4.probeAvc(bytes).getOrElse(
          throw new IllegalArgumentException(s"media $id: not an avc1 MP4"))
        val p = info.probe
        require(info.nSync == p.nIdr,
          s"media $id: stss lists ${info.nSync} sync samples, " +
            s"probe found ${p.nIdr} IDRs")
        val frames = Avc.decode(Mp4.avcToAnnexB(bytes).get)
        val ySum = frames.map(_.y.map(b => (b & 0xFF).toLong).sum).sum
        (id, p.width, p.height, p.profile, p.entropyCabac,
          (p.nI + p.nP).toLong, p.nIdr.toLong, p.nP.toLong,
          info.durationMs, ySum)
      }.toDF("media_id", "width", "height", "profile", "cabac",
        "n_frames", "n_idr", "n_pskip", "duration_ms", "y_total")
        .orderBy("media_id")
    }
  }

  val all: Seq[QueryDef] =
    Seq(imagePipeline, audioPipeline, audioSpectrum, videoPipeline,
      codecProbe, avcProbe, mp4AvcProbe)
}
