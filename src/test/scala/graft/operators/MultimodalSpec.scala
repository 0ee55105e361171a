package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def media = {
    import spark.implicits._
    val docs = Seq(
      (0L, "hello world"), (1L, "audio content here"), (2L, "video payload bytes"),
      (3L, "hello world")) // same content as 0
      .toDF("doc_id", "text")
    Multimodal.syntheticMedia(spark, docs, "doc_id", "text")
  }

  test("schema plumbing: binary content + typed metadata struct") {
    val m = media
    assert(m.schema("content").dataType.typeName == "binary")
    assert(m.schema("meta").dataType.typeName == "struct")
    val kinds = m.select("kind").collect().map(_.getString(0)).toSeq
    assert(kinds == Seq("image", "audio", "video", "image")) // id % 3 rotation
  }

  test("feature extraction is partition-parallel, deterministic, typed") {
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media.repartition(3)).collect().sortBy(_.media_id)
    assert(f1.map(_.content_hash).toSeq == f2.map(_.content_hash).toSeq)
    assert(f1.forall(_.feature.length == Multimodal.FeatureDim))
    // identical bytes → identical features & hash
    assert(f1(0).content_hash == f1(3).content_hash)
    assert(f1(0).feature.toSeq == f1(3).feature.toSeq)
    assert(f1(0).n_bytes == Multimodal.mediaBytes("image", "hello world").length)
  }

  test("WAV codec: encode → decode recovers per-segment mean |amplitude|") {
    val samples = Array[Short](0, 16384, -16384, 32767, -32768, 8192, -8192, 0)
    val wav = Multimodal.WavCodec.encode(8000, samples)
    assert(new String(wav, 0, 4, "US-ASCII") == "RIFF")
    val f = Multimodal.WavCodec.decode(wav)
    val expected = samples.map(s => math.abs(s / 32768.0).toFloat)
    assert(f.length == 8)
    f.zip(expected).foreach { case (a, e) => assert(math.abs(a - e) < 1e-6f) }
  }

  test("WAV codec: chunk walk skips unknown chunks before data") {
    val samples = Array[Short](16384, 16384)
    val wav = Multimodal.WavCodec.encode(8000, samples)
    // splice a 6-byte LIST chunk (odd→word-aligned) between fmt and data
    val fmtEnd = 12 + 8 + 16
    val junk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ Array[Byte](1, 2, 3, 4, 5, 0)
    val spliced = wav.take(fmtEnd) ++ junk ++ wav.drop(fmtEnd)
    val f = Multimodal.WavCodec.decode(spliced)
    // 2 samples land in segments 0 and 4 (i*8/n)
    assert(math.abs(f(0) - 0.5f) < 1e-6f && math.abs(f(4) - 0.5f) < 1e-6f)
  }

  test("PPM codec: 2x2 red image gives exact channel/luma/stripe means") {
    val rgb = Array.fill(4)(Array[Byte](255.toByte, 0, 0)).flatten
    val ppm = Multimodal.PpmCodec.encode(2, 2, rgb)
    val f = Multimodal.PpmCodec.decode(ppm)
    // rows 0,1 land in stripes 0,2 (y*4/h); empty stripes are 0
    val expected = Seq(1f, 0f, 0f, 0.299f, 0.299f, 0f, 0.299f, 0f)
    f.zip(expected).foreach { case (a, e) => assert(math.abs(a - e) < 1e-6f) }
  }

  test("PPM codec: header comments are skipped") {
    val rgb = Array[Byte](0, 255.toByte, 0)
    val ppm = "P6\n# a comment line\n1 1\n255\n".getBytes("US-ASCII") ++ rgb
    val f = Multimodal.PpmCodec.decode(ppm)
    assert(math.abs(f(1) - 1f) < 1e-6f && math.abs(f(3) - 0.587f) < 1e-6f)
  }

  test("PPM resize: nearest-neighbor picks exact source pixels, output re-decodes") {
    // 2x2: red, green / blue, white — resize to 1x1 keeps the top-left
    val rgb = Array[Byte](
      255.toByte, 0, 0, 0, 255.toByte, 0,
      0, 0, 255.toByte, 255.toByte, 255.toByte, 255.toByte)
    val small = Multimodal.PpmCodec.resize(Multimodal.PpmCodec.encode(2, 2, rgb), 1, 1)
    val f = Multimodal.PpmCodec.decode(small)
    assert(math.abs(f(0) - 1f) < 1e-6f && f(1) == 0f && f(2) == 0f)
    // upscale 1x1 red → 4x4 all red
    val big = Multimodal.PpmCodec.resize(small, 4, 4)
    val fb = Multimodal.PpmCodec.decode(big)
    assert(math.abs(fb(0) - 1f) < 1e-6f && math.abs(fb(3) - 0.299f) < 1e-6f)
  }

  test("WAV resample: decimation keeps every Nth sample, halves the rate") {
    val samples = Array[Short](100, 200, 300, 400, 500, 600, 700, 800)
    val wav = Multimodal.WavCodec.encode(8000, samples)
    val down = Multimodal.WavCodec.resample(wav, 2)
    // decoded features see |s|/32768 of samples 100,300,500,700
    val f = Multimodal.WavCodec.decode(down)
    val expected = Array[Short](100, 300, 500, 700).map(s => (s / 32768.0).toFloat)
    // 4 samples land in segments 0,2,4,6
    assert(math.abs(f(0) - expected(0)) < 1e-6f)
    assert(math.abs(f(6) - expected(3)) < 1e-6f)
    assert(down.length == 44 + 8) // 4 samples
  }

  test("transcode operator: images shrink, audio decimates, video untouched") {
    val out = Multimodal.transcode(media, imgW = 4, imgH = 2, audioFactor = 2)
    val byId = out.collect().map(r =>
      r.getAs[Long]("media_id") -> r.getAs[Array[Byte]]("content")).toMap
    // image rows are now 4x2 PPMs
    assert(new String(byId(0L), 0, 2, "US-ASCII") == "P6")
    assert(byId(0L).length == "P6\n4 2\n255\n".length + 4 * 2 * 3)
    // audio rows halved in sample count (still valid WAV)
    val origAudio = media.filter(col("media_id") === 1).collect()
      .head.getAs[Array[Byte]]("content")
    assert(byId(1L).length < origAudio.length)
    assert(Multimodal.WavCodec.decode(byId(1L)).length == 8)
    // video passthrough
    val origVideo = media.filter(col("media_id") === 2).collect()
      .head.getAs[Array[Byte]]("content")
    assert(byId(2L).sameElements(origVideo))
    // composes with feature extraction
    assert(Multimodal.extractFeatures(out).count() == 4)
  }

  test("negative chunk sizes degrade instead of hanging the chunk walk") {
    // RIFF header + a chunk declaring size -8: the old walk advanced pos
    // by 8 + (-8) + 0 = 0 and spun forever
    val bb = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(40)
      .put("WAVE".getBytes("US-ASCII"))
      .put("JUNK".getBytes("US-ASCII")).putInt(-8)
    val evil = bb.array()
    val f = Multimodal.RealCodec.decode("audio", evil) // must return, not hang
    assert(f.toSeq == Multimodal.StubCodec.decode("audio", evil).toSeq)
    // transcode likewise passes it through
    import spark.implicits._
    val out = Multimodal.transcode(
      Seq((1L, "audio", evil)).toDF("media_id", "kind", "content"), 2, 2, 2)
      .collect().head.getAs[Array[Byte]]("content")
    assert(out.sameElements(evil))
  }

  test("16-bit PPM (maxval >= 256) is rejected, not mis-decoded") {
    val ppm16 = "P6\n1 1\n65535\n".getBytes("US-ASCII") ++ Array[Byte](0, 1, 2, 3, 4, 5)
    assertThrows[IllegalArgumentException](Multimodal.PpmCodec.decode(ppm16))
    // and through the tolerant path it degrades to the stub
    assert(Multimodal.RealCodec.decode("image", ppm16).toSeq ==
      Multimodal.StubCodec.decode("image", ppm16).toSeq)
  }

  test("stereo WAV resample is rejected (passthrough), not channel-split") {
    // hand-build a stereo PCM16 header + 4 interleaved samples
    val bb = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 8)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2).putInt(8000).putInt(8000 * 4)
      .putShort(4).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(8)
    Seq[Short](100, -100, 200, -200).foreach(bb.putShort)
    val stereo = bb.array()
    assertThrows[IllegalArgumentException](Multimodal.WavCodec.resample(stereo, 2))
    import spark.implicits._
    val out = Multimodal.transcode(
      Seq((1L, "audio", stereo)).toDF("media_id", "kind", "content"), 2, 2, 2)
      .collect().head.getAs[Array[Byte]]("content")
    assert(out.sameElements(stereo))
    // decode still pools the interleaved samples (documented behavior)
    assert(Multimodal.WavCodec.decode(stereo).length == 8)
  }

  test("RealCodec dispatches by kind + magic; opaque video falls back to stub") {
    val img = Multimodal.mediaBytes("image", "some seed text")
    assert(Multimodal.RealCodec.decode("image", img).toSeq ==
      Multimodal.PpmCodec.decode(img).toSeq)
    val wav = Multimodal.mediaBytes("audio", "some seed text")
    assert(Multimodal.RealCodec.decode("audio", wav).toSeq ==
      Multimodal.WavCodec.decode(wav).toSeq)
    val vid = Multimodal.mediaBytes("video", "some seed text")
    assert(Multimodal.RealCodec.decode("video", vid).toSeq ==
      Multimodal.PpmStreamCodec.decode(vid).toSeq)
    // a video payload without the P6 stream magic stays on the stub path
    val opaque = "not a stream".getBytes("US-ASCII")
    assert(Multimodal.RealCodec.decode("video", opaque).toSeq ==
      Multimodal.StubCodec.decode("video", opaque).toSeq)
    // corrupt magic on a typed kind degrades to the stub, never throws
    assert(Multimodal.RealCodec.decode("image", "nonsense".getBytes).length == 8)
  }

  test("PPM stream codec: temporal pooling over hand-built solid frames") {
    def solid(r: Int, g: Int, b: Int) = Multimodal.PpmCodec.encode(2, 2,
      Array.tabulate(12)(i => Seq(r, g, b)(i % 3).toByte))
    val stream = Multimodal.PpmStreamCodec.encode(
      Seq(solid(255, 0, 0), solid(255, 255, 255)))
    assert(Multimodal.PpmStreamCodec.frameOffsets(stream).size == 2)
    val f = Multimodal.PpmStreamCodec.decode(stream)
    assert(math.abs(f(0) - 1.0f) < 1e-6)            // mean R
    assert(math.abs(f(1) - 0.5f) < 1e-6)            // mean G
    assert(math.abs(f(2) - 0.5f) < 1e-6)            // mean B
    assert(math.abs(f(3) - (0.299f + 1.0f) / 2) < 1e-6) // mean luma
    // temporal segments: frame0 → seg0, frame1 → seg2 (fi*4/nFrames)
    assert(math.abs(f(4) - 0.299f) < 1e-6 && f(5) == 0f)
    assert(math.abs(f(6) - 1.0f) < 1e-6 && f(7) == 0f)
  }

  test("PPM stream: extractFrames round-trips standalone decodable frames") {
    import spark.implicits._
    val frames = (0 until 3).map(i => Multimodal.PpmCodec.encode(2, 1,
      Array.fill(6)((40 * i).toByte)))
    val stream = Multimodal.PpmStreamCodec.encode(frames)
    val got = Multimodal.extractFrames(
        Seq((1L, "video", stream)).toDF("media_id", "kind", "content"))
      .collect().map(r => r.getInt(1) -> r.getAs[Array[Byte]]("frame_content"))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0, 1, 2))
    got.foreach { case (i, fr) =>
      assert(fr.sameElements(frames(i)))
      assert(Multimodal.PpmCodec.decode(fr).length == Multimodal.FeatureDim)
    }
    // garbage after a valid frame is corruption → RealCodec degrades to stub
    val corrupt = stream ++ "garbage".getBytes("US-ASCII")
    assert(Multimodal.RealCodec.decode("video", corrupt).toSeq ==
      Multimodal.StubCodec.decode("video", corrupt).toSeq)
  }

  test("extractFrames: every Kth frame as rows that feed the image pipeline") {
    import spark.implicits._
    val vid = Multimodal.mediaBytes("video", "frame sampling seed") // 4 frames
    val opaque = "not a stream".getBytes("US-ASCII")
    val df = Seq((1L, "video", vid), (2L, "video", opaque),
      (3L, "image", Multimodal.mediaBytes("image", "img")))
      .toDF("media_id", "kind", "content")
    val frames = Multimodal.extractFrames(df, everyK = 2).collect()
    assert(frames.map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 0), (1L, 2))) // image row excluded, opaque video yields none
    frames.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("frame_content")
      assert(Multimodal.PpmCodec.decode(bytes).length == Multimodal.FeatureDim)
    }
  }

  test("corrupt-after-magic payloads degrade, never kill the job") {
    // valid P6 magic, truncated raster
    val truncated = "P6\n4 4\n255\nab".getBytes("US-ASCII")
    val f = Multimodal.RealCodec.decode("image", truncated)
    assert(f.toSeq == Multimodal.StubCodec.decode("image", truncated).toSeq)
    // valid RIFF magic, garbage chunk structure
    val badWav = "RIFFxxxxWAVEgarbagegarbagegarbagegarbagegarbage".getBytes("US-ASCII")
    assert(Multimodal.RealCodec.decode("audio", badWav).length == 8)
    // transcode passes both through unchanged instead of throwing
    import spark.implicits._
    val dirty = Seq((1L, "image", truncated), (2L, "audio", badWav))
      .toDF("media_id", "kind", "content")
    val out = Multimodal.transcode(dirty, 2, 2, 2).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("content")).toMap
    assert(out(1L).sameElements(truncated) && out(2L).sameElements(badWav))
  }

  test("frame sampling: one row per everyMs in [0, duration)") {
    val frames = Multimodal.sampleFrames(media, everyMs = 100)
    // only the video row (id 2, duration = len("video payload bytes")*40 = 760ms)
    val rows = frames.collect()
    assert(rows.forall(_.getLong(0) == 2L))
    assert(rows.length == 8) // 0,100,...,700
  }

  test("binary dedup collapses identical content") {
    // the min-id-per-md5 survivor rule over the binary payload column
    // (q301 groups media payloads by md5 the same way)
    val deduped = Dedup.exactSurvivors(media, "content", "media_id")
    assert(deduped.count() == 3)
    val ids = deduped.select("media_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L)) // min id survives for the dup pair
  }

  test("PCM frame: exact wire integers; silence islands segment correctly") {
    import spark.implicits._
    // samples() recovers the encoded shorts exactly
    val pcmIn = Array[Short](100, -5000, 0, 32767, -32768, 7)
    assert(Multimodal.WavCodec.samples(Multimodal.WavCodec.encode(8000, pcmIn))
      .sameElements(pcmIn.map(_.toInt)))
    // hand case: |amp| < 100 runs — idx 1..3 (len 3) and idx 6..7
    // (len 2) qualify at minLen 2; the lone idx 9 does not
    val hand = Array[Short](500, 10, -20, 0, 900, -900, 50, 60, 500, 5)
    val media = Seq((1L, "audio",
        Multimodal.WavCodec.encode(8000, hand)))
      .toDF("media_id", "kind", "content")
    val segs = Multimodal.silenceSegments(
        Multimodal.pcmFrame(media), threshold = 100, minLen = 2L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(segs === Set((1L, 3L), (6L, 2L)))
    // corrupt payload: no rows, no crash
    val bad = Seq((2L, "audio", Array[Byte](1, 2, 3)))
      .toDF("media_id", "kind", "content")
    assert(Multimodal.pcmFrame(bad).count() === 0L)
  }

  test("pixel frame: exact packed wire bytes; tile sums match a driver walk") {
    import spark.implicits._
    // 6x2 image, pixel (x,y) = (x*40+y, x, y*7) — distinct per position
    val w = 6; val h = 2
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      rgb(o) = (x * 40 + y).toByte; rgb(o + 1) = x.toByte; rgb(o + 2) = (y * 7).toByte
    }
    val content = Multimodal.PpmCodec.encode(w, h, rgb)
    // exact accessor round-trip
    val (pw, px) = Multimodal.PpmCodec.pixels(content)
    assert(pw === w && px.length === w * h)
    assert(px(1 * w + 2) === ((2 * 40 + 1) << 16 | 2 << 8 | 7))
    val mediaDf = Seq((1L, "image", content)).toDF("media_id", "kind", "content")
    val frame = Multimodal.pixelFrame(mediaDf)
    assert(frame.count() === (w * h).toLong)
    val got = Multimodal.tileStats(frame, tile = 4).collect()
      .map(r => (r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // brute tiles from the same rgb array
    val expect = (for (y <- 0 until h; x <- 0 until w) yield (y / 4, x / 4) ->
      (x, y)).groupBy(_._1).map { case (t, ps) =>
      (t._1.toLong, t._2.toLong) -> ((ps.size.toLong,
        ps.map { case (_, (x, y)) => (x * 40 + y).toLong }.sum,
        ps.map { case (_, (x, _)) => x.toLong }.sum,
        ps.map { case (_, (_, y)) => (y * 7).toLong }.sum))
    }
    assert(got === expect)
    // corrupt payload: no rows, no crash; audio rows excluded
    val bad = Seq((2L, "image", Array[Byte](80, 54, 9)),
      (3L, "audio", content)).toDF("media_id", "kind", "content")
    assert(Multimodal.pixelFrame(bad).count() === 0L)
  }
}
