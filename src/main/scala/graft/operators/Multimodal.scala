package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines.
  *
  * Media are opaque `binary` columns plus a typed metadata struct.
  * ALL THREE modalities decode through REAL pure-JVM codecs:
  * [[PpmCodec]] parses binary P6 PPM (header + RGB payload),
  * [[WavCodec]] parses RIFF/WAVE PCM16 (chunk walk + sample decode),
  * and [[PpmStreamCodec]] parses PPM frame streams (the ffmpeg
  * `image2pipe -vcodec ppm` container: consecutive P6 frames) with true
  * frame extraction. Each reduces decoded pixels/samples/frames to an
  * 8-dim pooled feature vector behind the same [[MediaCodec]]
  * interface; [[StubCodec]] remains the opaque-payload fallback.
  *
  * Scale design: decode runs inside mapPartitions so a real codec
  * amortizes per-partition init (model load, JNI handles) across rows —
  * the same batching contract a vectorized pandas-UDF bridge gives Python
  * codecs. No driver-side collection at any point.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Int, content_hash: Long,
      feature: Array[Float])

  val FeatureDim = 8

  /** Kind+magic-dispatching codec surface (Serializable: instances ride
    * into the mapPartitions closure). */
  trait MediaCodec extends Serializable {
    def decode(kind: String, content: Array[Byte]): Array[Float]
  }

  /** Binary P6 PPM decoder (the netpbm format: `P6 <w> <h> <maxval>`
    * header tokens with `#` comments, then w*h RGB byte triples).
    * Features: mean R, mean G, mean B, mean luma (ITU-R 601 weights),
    * then mean luma of 4 equal horizontal stripes — all normalized by
    * maxval, so a decoded all-white image is all-1s. */
  object PpmCodec {
    /** (width, height, maxval, raster offset). ONE parser for the strict
      * and transform paths — decode and resize previously duplicated it,
      * which is how their validation drifted. 8-bit samples only: a
      * 16-bit P6 (maxval ≥ 256 ⇒ 2 bytes/sample per the netpbm spec) is
      * rejected rather than silently decoded as interleaved bytes. */
    private[operators] def parseHeader(content: Array[Byte],
                                       start: Int = 0): (Int, Int, Int, Int) = {
      var pos = start
      def skipWs(): Unit = {
        var inComment = false
        while (pos < content.length &&
               (inComment || content(pos).toChar.isWhitespace || content(pos) == '#')) {
          if (content(pos) == '#') inComment = true
          else if (content(pos) == '\n') inComment = false
          pos += 1
        }
      }
      def token(): String = {
        skipWs()
        val start = pos
        while (pos < content.length && !content(pos).toChar.isWhitespace) pos += 1
        new String(content, start, pos - start, "US-ASCII")
      }
      require(token() == "P6", "not a binary PPM")
      val w = token().toInt; val h = token().toInt; val maxval = token().toInt
      pos += 1 // single whitespace after maxval, then raster
      require(w > 0 && h > 0 && maxval > 0 && maxval < 256,
        "bad PPM header (only 8-bit P6 supported)")
      require(content.length - pos >= w.toLong * h * 3, "truncated PPM raster")
      (w, h, maxval, pos)
    }

    def decode(content: Array[Byte]): Array[Float] = {
      val (w, h, maxval, pos) = parseHeader(content)
      val f = new Array[Float](FeatureDim)
      val stripeLuma = new Array[Double](4)
      val stripeN = new Array[Long](4)
      var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0
      var y = 0
      while (y < h) {
        val stripe = math.min(3, y * 4 / h)
        var x = 0
        while (x < w) {
          val o = pos + (y * w + x) * 3
          val r = content(o) & 0xff; val g = content(o + 1) & 0xff
          val b = content(o + 2) & 0xff
          val luma = 0.299 * r + 0.587 * g + 0.114 * b
          sr += r; sg += g; sb += b; sl += luma
          stripeLuma(stripe) += luma; stripeN(stripe) += 1
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h; val mv = maxval.toDouble
      f(0) = (sr / n / mv).toFloat; f(1) = (sg / n / mv).toFloat
      f(2) = (sb / n / mv).toFloat; f(3) = (sl / n / mv).toFloat
      (0 until 4).foreach { s =>
        f(4 + s) = if (stripeN(s) == 0) 0f else (stripeLuma(s) / stripeN(s) / mv).toFloat
      }
      f
    }

    /** Exact raster accessor: (width, packed pixels) with each pixel
      * r·65536 + g·256 + b — the integer wire bytes, zero floats, so an
      * aux dump of the exploded frame is re-derivable by any engine
      * (the WavCodec.samples analogue for images). */
    def pixels(content: Array[Byte]): (Int, Array[Int]) = {
      val (w, h, _, pos) = parseHeader(content)
      val out = new Array[Int](w * h)
      var i = 0
      while (i < out.length) {
        val o = pos + i * 3
        out(i) = ((content(o) & 0xff) << 16) | ((content(o + 1) & 0xff) << 8) |
          (content(o + 2) & 0xff)
        i += 1
      }
      (w, out)
    }

    /** Deterministic P6 encoder (tests + synthetic corpus): pixel bytes
      * cycle through the seed string. */
    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3)
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      header ++ rgb
    }

    /** Nearest-neighbor resize: decode the raster, sample source pixels
      * at (y*h/h2, x*w/w2), re-encode. Returns a valid P6 of w2×h2. */
    def resize(content: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
      require(w2 > 0 && h2 > 0)
      val (w, h, _, pos) = parseHeader(content)
      val out = new Array[Byte](w2 * h2 * 3)
      var y = 0
      while (y < h2) {
        val sy = y * h / h2
        var x = 0
        while (x < w2) {
          val sx = x * w / w2
          val so = pos + (sy * w + sx) * 3
          val to = (y * w2 + x) * 3
          out(to) = content(so); out(to + 1) = content(so + 1)
          out(to + 2) = content(so + 2)
          x += 1
        }
        y += 1
      }
      encode(w2, h2, out)
    }
  }

  /** RIFF/WAVE PCM16 decoder: walks the chunk list (fmt / data, skipping
    * others), validates PCM16, decodes little-endian samples normalized
    * to [-1, 1). Features: mean |s| of 8 equal sample segments (channel-
    * interleaved — per-channel pooling would just re-index the same
    * arithmetic). */
  object WavCodec {
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

    /** Parsed fmt + data chunk locations. */
    private[operators] final case class WavInfo(
        channels: Int, sampleRate: Int, bitsPerSample: Int,
        dataOff: Int, dataLen: Int)

    /** ONE chunk walker for decode and resample (previously duplicated,
      * with diverging validation). Guards: a negative or non-advancing
      * chunk size is corruption and throws (the old walk looped forever
      * on size −8 because pos += 8 + sz + pad advanced by zero);
      * PCM16 is validated here so every consumer gets it. */
    private[operators] def parseChunks(content: Array[Byte]): WavInfo = {
      require(content.length >= 44 &&
        new String(content, 0, 4, "US-ASCII") == "RIFF" &&
        new String(content, 8, 4, "US-ASCII") == "WAVE", "not a RIFF/WAVE file")
      var pos = 12
      var channels = -1; var rate = -1; var bits = -1
      var dataOff = -1; var dataLen = -1
      while (pos + 8 <= content.length && (bits < 0 || dataOff < 0)) {
        val id = new String(content, pos, 4, "US-ASCII")
        val sz = le32(content, pos + 4)
        require(sz >= 0 && pos + 8 + sz >= pos + 8, s"corrupt chunk size $sz")
        if (id == "fmt ") {
          require(sz >= 16 && pos + 24 <= content.length, "truncated fmt chunk")
          require(le16(content, pos + 8) == 1, "only PCM supported")
          channels = le16(content, pos + 10)
          rate = le32(content, pos + 12)
          bits = le16(content, pos + 22)
          require(bits == 16, "only PCM16 supported")
          require(channels >= 1 && rate > 0, "bad fmt chunk")
        } else if (id == "data") { dataOff = pos + 8; dataLen = sz }
        pos += 8 + sz + (sz & 1) // chunks are word-aligned
      }
      require(bits > 0 && dataOff >= 0, "missing fmt/data chunk")
      require(dataOff + dataLen <= content.length, "truncated data chunk")
      WavInfo(channels, rate, bits, dataOff, dataLen)
    }

    def decode(content: Array[Byte]): Array[Float] = {
      val info = parseChunks(content)
      val dataOff = info.dataOff
      val nSamples = info.dataLen / 2
      val f = new Array[Float](FeatureDim)
      if (nSamples == 0) return f
      val sums = new Array[Double](FeatureDim)
      val counts = new Array[Long](FeatureDim)
      var i = 0
      while (i < nSamples) {
        val s = le16(content, dataOff + i * 2).toShort
        val seg = math.min(FeatureDim - 1, i * FeatureDim / nSamples)
        sums(seg) += math.abs(s / 32768.0)
        counts(seg) += 1
        i += 1
      }
      (0 until FeatureDim).foreach { s =>
        f(s) = if (counts(s) == 0) 0f else (sums(s) / counts(s)).toFloat
      }
      f
    }

    /** Decimation resample by an integer factor: keep every `factor`-th
      * sample (a real resampler low-passes first; decimation is the
      * deterministic dependency-free variant). MONO PCM16 only — on a
      * stereo stream keeping every Nth interleaved value would split
      * channels, so multi-channel input is rejected (→ transcode
      * passthrough) rather than silently corrupted. Returns a valid
      * PCM16 mono WAV at rate/factor. */
    def resample(content: Array[Byte], factor: Int): Array[Byte] = {
      require(factor >= 1)
      val info = parseChunks(content)
      require(info.channels == 1, "resample supports mono only")
      require(info.sampleRate / factor >= 1, s"factor $factor exceeds sample rate")
      val n = info.dataLen / 2
      val kept = Array.tabulate((n + factor - 1) / factor)(i =>
        le16(content, info.dataOff + i * factor * 2).toShort)
      encode(info.sampleRate / factor, kept)
    }

    /** Raw PCM16 sample values as Ints — the EXACT integers on the
      * wire, no float normalization, so downstream relational analysis
      * (silence segmentation, clipping audits) is bit-deterministic and
      * SQL-re-derivable from an aux dump. */
    def samples(content: Array[Byte]): Array[Int] = {
      val info = parseChunks(content)
      Array.tabulate(info.dataLen / 2)(i =>
        le16(content, info.dataOff + i * 2).toShort.toInt)
    }

    /** Minimal PCM16 mono encoder (tests + synthetic corpus). */
    def encode(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
  }

  /** PPM-stream video decoder: the format ffmpeg emits for
    * `-f image2pipe -vcodec ppm` — consecutive binary P6 frames, nothing
    * between them. A real, public, library-free container; every frame
    * is itself a decodable PPM, so frame extraction composes with the
    * whole image pipeline (decode / resize / dedup).
    *
    * Features (8-dim contract): mean R, G, B, luma over ALL frames, then
    * mean luma of 4 equal TEMPORAL segments — the time-axis analogue of
    * the image codec's spatial stripes, so a static clip has f4≈f5≈f6≈f7
    * and a fade-in ramps them. */
  object PpmStreamCodec {
    /** (headerOff, rasterOff, w, h, maxval) per frame. */
    private[operators] def frameOffsets(content: Array[Byte]): Seq[(Int, Int, Int, Int, Int)] = {
      val frames = Seq.newBuilder[(Int, Int, Int, Int, Int)]
      var pos = 0
      var n = 0
      while (pos < content.length) {
        val (w, h, maxval, rasterOff) = PpmCodec.parseHeader(content, pos)
        frames += ((pos, rasterOff, w, h, maxval))
        pos = rasterOff + w * h * 3
        n += 1
        require(n <= MaxFrames, s"more than $MaxFrames frames")
      }
      require(n > 0, "empty PPM stream")
      frames.result()
    }
    private val MaxFrames = 100000

    def decode(content: Array[Byte]): Array[Float] = {
      val fs = frameOffsets(content)
      val nFrames = fs.size
      val f = new Array[Float](FeatureDim)
      var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0; var nPix = 0L
      val segLuma = new Array[Double](4)
      val segN = new Array[Long](4)
      var fi = 0
      while (fi < nFrames) {
        val (_, rasterOff, w, h, maxval) = fs(fi)
        val seg = math.min(3, fi * 4 / nFrames)
        val mv = maxval.toDouble
        var p = 0
        val n = w * h
        while (p < n) {
          val o = rasterOff + p * 3
          val r = content(o) & 0xff; val g = content(o + 1) & 0xff
          val b = content(o + 2) & 0xff
          val luma = 0.299 * r + 0.587 * g + 0.114 * b
          sr += r / mv; sg += g / mv; sb += b / mv; sl += luma / mv
          segLuma(seg) += luma / mv; segN(seg) += 1
          p += 1
        }
        nPix += n
        fi += 1
      }
      f(0) = (sr / nPix).toFloat; f(1) = (sg / nPix).toFloat
      f(2) = (sb / nPix).toFloat; f(3) = (sl / nPix).toFloat
      (0 until 4).foreach { s =>
        f(4 + s) = if (segN(s) == 0) 0f else (segLuma(s) / segN(s)).toFloat
      }
      f
    }

    /** Concatenate standalone P6 frames into a stream (each input is
      * validated — garbage in the middle of a stream is unrecoverable). */
    def encode(frames: Seq[Array[Byte]]): Array[Byte] = {
      frames.foreach(fr => PpmCodec.parseHeader(fr))
      frames.flatten.toArray
    }
  }

  /** Production codec: image → PPM, audio → WAV, video → PPM frame
    * stream (each verified by magic bytes — a P6 magic under kind=video
    * is the stream's first frame).
    *
    * Failure tolerance: a payload whose magic matches but whose body is
    * corrupt (truncated raster, bad chunk sizes) degrades to the stub
    * features instead of throwing — at corpus scale one bad file must
    * not kill the extraction job. Corruption is still observable:
    * the raw payload stays in `content` (q301's md5 dedup keys on it),
    * and a validity flag can be recovered by re-running the strict
    * decoder on suspects. */
  object RealCodec extends MediaCodec {
    def decode(kind: String, content: Array[Byte]): Array[Float] =
      if (content == null || content.isEmpty) new Array[Float](FeatureDim)
      else try kind match {
        case "image" if content.length >= 2 && content(0) == 'P' && content(1) == '6' =>
          PpmCodec.decode(content)
        case "audio" if content.length >= 4 &&
            new String(content, 0, 4, "US-ASCII") == "RIFF" =>
          WavCodec.decode(content)
        case "video" if content.length >= 2 && content(0) == 'P' && content(1) == '6' =>
          PpmStreamCodec.decode(content)
        case _ => StubCodec.decode(kind, content)
      } catch {
        // NonFatal, not an exception enumeration: a corrupt payload can
        // surface as any parse-time exception (the first list missed
        // StringIndexOutOfBounds from a negative chunk offset)
        case scala.util.control.NonFatal(_) => StubCodec.decode(kind, content)
      }
  }

  /** STUB decode → feature vector: deterministic bytes → pseudo-features.
    * Retained as the opaque-payload / corrupt-payload fallback. */
  object StubCodec extends MediaCodec {
    val FeatureDim = Multimodal.FeatureDim
    def decode(kind: String, content: Array[Byte]): Array[Float] = {
      // deterministic fake: chunked byte sums, normalized — stands in for
      // a pooled embedding; ??? is NOT used so pipelines run end-to-end
      val f = new Array[Float](FeatureDim)
      if (content != null && content.nonEmpty) {
        var i = 0
        while (i < content.length) {
          f(i % FeatureDim) += (content(i) & 0xff) / 255.0f
          i += 1
        }
        val n = math.max(1, content.length / FeatureDim)
        (0 until FeatureDim).foreach(j => f(j) /= n)
      }
      f
    }
  }

  private def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Partition-parallel decode + feature extraction. */
  def extractFeatures(media: DataFrame,
                      codec: MediaCodec = RealCodec): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "content").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init happens HERE for a codec with heavy setup
        it.map { case (id, kind, content) =>
          val bytes = if (content == null) Array.emptyByteArray else content
          MediaFeatures(id, kind, bytes.length, fnv1a(bytes),
            codec.decode(kind, bytes))
        }
      }
  }

  private val transcodeUdf = udf(
    (kind: String, content: Array[Byte], imgW: Int, imgH: Int, audioFactor: Int) =>
      if (content == null || content.isEmpty) content
      else try kind match {
        case "image" if content.length >= 2 && content(0) == 'P' && content(1) == '6' =>
          PpmCodec.resize(content, imgW, imgH)
        case "audio" if content.length >= 4 &&
            new String(content, 0, 4, "US-ASCII") == "RIFF" =>
          WavCodec.resample(content, audioFactor)
        case _ => content
      } catch {
        // corrupt-after-magic payloads pass through untouched rather than
        // failing the whole transcode job (NonFatal: see RealCodec)
        case scala.util.control.NonFatal(_) => content
      })

  /** Partition-parallel transcode — the resize/resample stage of a media
    * pipeline: images nearest-neighbor-resized to imgW×imgH, audio
    * decimated by audioFactor, video/opaque rows passed through. Output
    * is the same schema with re-encoded (still valid PPM/WAV) content,
    * so transcode composes with [[extractFeatures]] and exact payload
    * dedup. */
  def transcode(media: DataFrame, imgW: Int, imgH: Int,
                audioFactor: Int): DataFrame =
    media.withColumn("content",
      transcodeUdf(col("kind"), col("content"),
        lit(imgW), lit(imgH), lit(audioFactor)))

  /** Frame sampling contract for video rows: every `everyMs` timestamp in
    * [0, duration) — pure Catalyst sequence, one row per sampled frame. */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame =
    media.filter(col("kind") === "video" && col("meta.duration_ms").isNotNull)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("meta.duration_ms") - 1, lit(everyMs)))
          .as("frame_ts_ms"))

  private val extractFramesUdf = udf((content: Array[Byte], everyK: Int) =>
    if (content == null || content.isEmpty) Seq.empty[(Int, Array[Byte])]
    else try {
      // one header walk for the whole stream, then O(1) slices — a
      // per-frame lookup would re-walk all headers each time (O(F²))
      val offsets = PpmStreamCodec.frameOffsets(content)
      (0 until offsets.size by everyK).map { i =>
        val (headerOff, rasterOff, w, h, _) = offsets(i)
        (i, java.util.Arrays.copyOfRange(content, headerOff, rasterOff + w * h * 3))
      }
    } catch {
      case scala.util.control.NonFatal(_) => Seq.empty[(Int, Array[Byte])]
    })

  /** REAL frame extraction for PPM-stream video rows: every `everyK`-th
    * frame decoded out of the container as a standalone valid P6 — one
    * output row per sampled frame, so the result feeds straight back
    * into the image pipeline ([[extractFeatures]], [[transcode]],
    * exact content dedup via [[Dedup.exactSurvivors]]). Non-stream/
    * corrupt payloads yield no rows (same degrade-don't-kill policy as
    * [[RealCodec]]). */
  def extractFrames(media: DataFrame, everyK: Int = 1): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(extractFramesUdf(col("content"), lit(everyK))).as("fr"))
      .select(col("media_id"), col("fr._1").as("frame_idx"),
        col("fr._2").as("frame_content"))

  private val pcmSamplesUdf = udf((content: Array[Byte]) =>
    if (content == null || content.isEmpty) Array.empty[Int]
    else try WavCodec.samples(content)
    catch { case scala.util.control.NonFatal(_) => Array.empty[Int] })

  /** REAL per-sample PCM frame of the audio rows: (media_id, idx, amp)
    * with amp the exact 16-bit integer — the row-local decode stage of
    * any sample-level audio analysis (silence segmentation, clipping
    * audits). No floats anywhere, so an aux dump of this frame is
    * SQL-re-derivable downstream (the q43 convention). Corrupt payloads
    * yield no rows (the RealCodec degrade-don't-kill policy). */
  def pcmFrame(media: DataFrame): DataFrame =
    media.filter(col("kind") === "audio")
      .select(col("media_id"),
        posexplode(pcmSamplesUdf(col("content"))).as(Seq("idx", "amp")))
      .select(col("media_id"), col("idx").cast("long").as("idx"),
        col("amp"))

  private val pixelsUdf = udf((content: Array[Byte]) =>
    if (content == null || content.isEmpty) (0, Array.empty[Int])
    else try PpmCodec.pixels(content)
    catch { case scala.util.control.NonFatal(_) => (0, Array.empty[Int]) })

  /** REAL per-pixel frame of the image rows: (media_id, w, idx, px)
    * with px the packed exact r·65536+g·256+b wire integer — the
    * row-local decode stage of any pixel-level image analysis (tile
    * stats, banding audits). No floats, so an aux dump is the shared
    * codec stage both engines can re-derive from (the pcmFrame
    * convention). Corrupt payloads degrade to zero rows, mirroring the
    * StubCodec contract. */
  def pixelFrame(media: DataFrame): DataFrame =
    media.filter(col("kind") === "image")
      .select(col("media_id"), pixelsUdf(col("content")).as("_p"))
      .select(col("media_id"), col("_p._1").cast("long").as("w"),
        posexplode(col("_p._2")).as(Seq("idx", "px")))
      .select(col("media_id"), col("w"), col("idx").cast("long").as("idx"),
        col("px").cast("long").as("px"))

  /** Per-tile integer RGB sums over a [[pixelFrame]]: tiles are
    * `tile`×`tile` pixel blocks in raster coordinates (x = idx % w,
    * y = idx div w — all floor arithmetic on non-negatives, safe
    * cross-engine). One map-side-combined aggregate; never a window.
    * Output (media_id, ty, tx, n_px, sum_r, sum_g, sum_b). */
  def tileStats(px: DataFrame, tile: Int): DataFrame = {
    require(tile >= 1, s"tile must be >= 1: $tile")
    px
      .select(col("media_id"),
        expr(s"(idx div w) div $tile").as("ty"),
        expr(s"(idx % w) div $tile").as("tx"),
        expr("px div 65536").as("r"),
        expr("(px div 256) % 256").as("g"),
        expr("px % 256").as("b"))
      .groupBy("media_id", "ty", "tx")
      .agg(count(lit(1)).as("n_px"), sum(col("r")).as("sum_r"),
        sum(col("g")).as("sum_g"), sum(col("b")).as("sum_b"))
  }

  /** Silence segmentation over a [[pcmFrame]]: maximal runs of
    * consecutive samples with |amp| < threshold, kept when the run is
    * at least `minLen` samples — the audio analogue of sessionization,
    * via the islands trick (idx − row_number is constant exactly on a
    * consecutive run). Output (media_id, seg_start, seg_len). The
    * window partitions by media — never global; cost is one sort of
    * the below-threshold frame. */
  def silenceSegments(pcm: DataFrame, threshold: Int,
                      minLen: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("idx")
    pcm.filter(abs(col("amp")) < threshold)
      .withColumn("_grp", col("idx") - row_number().over(w))
      .groupBy(col("media_id"), col("_grp"))
      .agg(min(col("idx")).as("seg_start"), count(lit(1)).as("seg_len"))
      .filter(col("seg_len") >= minLen)
      .select(col("media_id"), col("seg_start"), col("seg_len"))
  }

  /** Deterministic payload generator: image rows get a REAL binary P6
    * PPM, audio rows a REAL RIFF PCM16 WAV, video rows a REAL 4-frame
    * PPM stream with per-frame brightness variation (all derived from
    * the seed string, so the corpus is reproducible at any scale factor
    * and all three real codecs are exercised end-to-end). */
  private[operators] def mediaBytes(kind: String, seed: String): Array[Byte] = {
    val s = if (seed == null || seed.isEmpty) "x" else seed
    kind match {
      case "image" =>
        val w = 16
        val h = math.max(1, math.min(32, s.length / 4))
        val rgb = Array.tabulate(w * h * 3)(i => s.charAt(i % s.length).toByte)
        PpmCodec.encode(w, h, rgb)
      case "audio" =>
        val n = math.max(8, math.min(2048, s.length * 4))
        val samples = Array.tabulate(n) { i =>
          (((s.charAt(i % s.length).toInt * 523 + i * 31) % 65536) - 32768).toShort
        }
        WavCodec.encode(8000, samples)
      case "video" =>
        val w = 8; val h = 8
        val frames = (0 until 4).map { fi =>
          val rgb = Array.tabulate(w * h * 3) { i =>
            ((s.charAt((i + fi) % s.length).toInt + fi * 20) % 256).toByte
          }
          PpmCodec.encode(w, h, rgb)
        }
        PpmStreamCodec.encode(frames)
      case _ => s.getBytes("UTF-8")
    }
  }

  private val mediaBytesUdf =
    udf((kind: String, seed: String) => mediaBytes(kind, seed))

  /** Deterministic synthetic media table for tests/demos: real PPM/WAV
    * payloads derived from a seed column (documents text, say). */
  def syntheticMedia(spark: SparkSession, src: DataFrame,
                     idCol: String, seedCol: String): DataFrame =
    src.select(
      col(idCol).cast("long").as("media_id"),
      element_at(typedlit(Seq("image", "audio", "video")),
        (col(idCol) % 3 + 1).cast("int")).as("kind"),
      col(seedCol).as("__seed"))
      .select(
        col("media_id"), col("kind"),
        mediaBytesUdf(col("kind"), col("__seed")).as("content"),
        struct(
          when(col("kind") === "image", lit("image/x-portable-pixmap"))
            .when(col("kind") === "audio", lit("audio/wav"))
            .when(col("kind") === "video", lit("video/x-ppm-stream"))
            .otherwise(lit("application/octet-stream")).as("mime"),
          length(col("__seed")).cast("int").as("width"),
          lit(16).as("height"),
          // floor at one frame's worth: an empty seed must not produce
          // duration 0, which would crash sampleFrames' sequence(0, -1)
          (greatest(length(col("__seed")), lit(1)) * 40L).as("duration_ms")).as("meta"))
}
