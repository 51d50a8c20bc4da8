package graft

import org.apache.spark.sql.functions._

import graft.multimodal.MultimodalOps
import graft.multimodal.MultimodalOps.{MediaRow, MediaFeatures}

class MultimodalSpec extends SparkSuite {

  /** Deterministic AVI fixture encoder, MJPEG frames: each frame is a real
    * JPEG (ImageIO writer) of a solid gray — a true lossy codec inside the
    * same container as [[MultimodalOps.encodeAviRawGray]], for the
    * tolerance law below. */
  private def encodeAviMjpeg(w: Int, h: Int, frameGrays: Array[Int],
                             fps: Int = 10): Array[Byte] = {
    val frames = frameGrays.map { g =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = ((g & 0xff) << 16) | ((g & 0xff) << 8) | (g & 0xff)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      MultimodalOps.chunk("00dc", bos.toByteArray)
    }
    val maxF = frames.map(_.length).max
    MultimodalOps.assembleAvi(w, h, frameGrays.length, fps, "MJPG", 0x47504a4d,
      maxF, frames)
  }

  private def media = {
    val s = spark
    import s.implicits._
    Seq(
      MediaRow(0L, "image", Array[Byte](10, 20, 30), "fake", 640, 480, 0L),
      MediaRow(1L, "audio", Array[Byte](-1, 1), "fake", 0, 0, 2000L),
      MediaRow(2L, "video", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), "fake", 1920, 1080, 3000L),
      MediaRow(3L, "image", Array.emptyByteArray, "fake", 10, 10, 0L)).toDS()
  }

  test("extractFeatures: deterministic stub stats, empty payload safe") {
    val f = MultimodalOps.extractFeatures(media, batchSize = 2).collect()
      .map(x => x.doc_id -> x).toMap
    assert(f(0L).n_bytes == 3 && f(0L).mean_byte == 20.0)
    assert(f(1L).mean_byte == (255 + 1) / 2.0) // unsigned byte semantics
    assert(f(3L).n_bytes == 0 && f(3L).mean_byte == 0.0)
    // determinism across batch sizes (batch boundary must not affect values)
    val g = MultimodalOps.extractFeatures(media, batchSize = 1).collect()
      .map(x => x.doc_id -> x.checksum).toMap
    assert(f.view.mapValues(_.checksum).toMap == g)
  }

  test("resizeMeta scales the long edge to maxDim, never upscales") {
    val out = MultimodalOps.resizeMeta(media.toDF(), 256).collect()
      .map(r => r.getLong(0) -> (r.getInt(7), r.getInt(8))).toMap
    assert(out(0L) == (256, 192))   // 640x480 → 256x192
    assert(out(2L) == (256, 144))   // 1920x1080 → 256x144
    assert(out(3L) == (10, 10))     // already small: untouched
  }

  test("sampleFrames: one row per everyMs for videos only") {
    val frames = MultimodalOps.sampleFrames(media, 1000L).collect()
    assert(frames.forall(_.doc_id == 2L))
    assert(frames.map(_.frame_idx).sorted.toSeq == Seq(0, 1, 2))
    assert(frames.forall(_.payload.length <= 4))
  }

  test("syntheticMedia: 16-byte md5 payload, modality round-robin") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "hello", 5L), (1L, "world", 5L), (2L, "!", 1L))
      .toDF("doc_id", "text", "n_chars")
    val m = MultimodalOps.syntheticMedia(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getAs[Array[Byte]](2).length)).toMap
    assert(m(0L) == ("image", 16) && m(1L) == ("audio", 16) && m(2L) == ("video", 16))
  }

  test("decodeImages: REAL ImageIO decode of generated PNG/JPEG, stub fallback for garbage") {
    val s = spark
    import s.implicits._
    // gradient PNG: 4x2, row y has luma 10 + 100*y in all channels
    val grad = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4) {
      val c = 10 + 100 * y
      grad.setRGB(x, y, (c << 16) | (c << 8) | c)
    }
    val gradOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grad, "png", gradOut)
    val jpgOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grad, "jpg", jpgOut)
    val rows = Seq(
      MediaRow(0L, "image", MultimodalOps.encodePng(7, 3, 0x404040), "png", 7, 3, 0L),
      MediaRow(1L, "image", gradOut.toByteArray, "png", 4, 2, 0L),
      MediaRow(2L, "image", jpgOut.toByteArray, "jpeg", 4, 2, 0L),
      MediaRow(3L, "image", Array[Byte](1, 2, 3, 4), "not-an-image", 0, 0, 0L)).toDS()
    val f = MultimodalOps.decodeImages(rows, batchSize = 2).collect()
      .map(x => x.doc_id -> x).toMap
    // solid PNG: exact dims and exact channel mean (lossless)
    assert(f(0L).decoded && f(0L).img_width == 7 && f(0L).img_height == 3)
    assert(f(0L).mean_luma == 64.0)
    // gradient PNG: exact mean of the two row lumas
    assert(f(1L).decoded && f(1L).img_width == 4 && f(1L).img_height == 2)
    assert(f(1L).mean_luma == 60.0)
    // JPEG is lossy: real decode, dims exact, mean near the PNG truth
    assert(f(2L).decoded && f(2L).img_width == 4 && f(2L).img_height == 2)
    assert(math.abs(f(2L).mean_luma - 60.0) < 16.0)
    // garbage bytes: deterministic stub fallback, flagged undecoded
    assert(!f(3L).decoded && f(3L).img_width == -1 && f(3L).n_bytes == 4)
  }

  test("decodeAudio: REAL WAV decode recovers format + exact RMS, stub fallback for garbage") {
    val s = spark
    import s.implicits._
    // constant-amplitude signal: RMS is exactly the amplitude (sqrt of a
    // perfect square — both exactly representable doubles)
    val const = Array.fill[Short](32)(300)
    // ramp 0..7: sum of squares 140, RMS = sqrt(140/8) exactly as IEEE ops
    val ramp = Array.tabulate[Short](8)(_.toShort)
    val rows = Seq(
      MediaRow(0L, "audio", MultimodalOps.encodeWav(8000, const), "wav", 0, 0, 0L),
      MediaRow(1L, "audio", MultimodalOps.encodeWav(44100, ramp), "wav", 0, 0, 0L),
      MediaRow(2L, "audio", Array[Byte](1, 2, 3, 4), "not-audio", 0, 0, 0L)).toDS()
    val f = MultimodalOps.decodeAudio(rows, batchSize = 2).collect()
      .map(x => x.doc_id -> x).toMap
    assert(f(0L).decoded && f(0L).sample_rate == 8000 && f(0L).channels == 1)
    assert(f(0L).n_samples == 32 && f(0L).rms == 300.0)
    assert(f(1L).decoded && f(1L).sample_rate == 44100)
    assert(f(1L).n_samples == 8 && f(1L).rms == math.sqrt(140.0 / 8))
    // garbage bytes: deterministic stub fallback, flagged undecoded
    assert(!f(2L).decoded && f(2L).sample_rate == -1 && f(2L).n_samples == 4)
    // negative samples square correctly (sign-extension path)
    val neg = Array[Short](-300, -300)
    val g = MultimodalOps.decodeAudioFeatures(
      MediaRow(9L, "audio", MultimodalOps.encodeWav(8000, neg), "wav", 0, 0, 0L))
    assert(g.decoded && g.rms == 300.0)
  }

  test("decodeVideoFeatures: REAL animated-GIF demux+decode, exact cross-frame mean") {
    import MultimodalOps.MediaRow
    // 3 frames, 2×2, solid grays 10/20/40 → mean = (10+20+40)/3
    val colors = Array(10, 20, 40).map(c => (c << 16) | (c << 8) | c)
    val gif = MultimodalOps.encodeAnimatedGif(2, 2, colors, 10)
    val v = MultimodalOps.decodeVideoFeatures(
      MediaRow(0L, "video", gif, "gif", 2, 2, 300L))
    assert(v.decoded && v.n_frames == 3)
    assert(v.vid_width == 2 && v.vid_height == 2)
    assert(v.mean_luma == (10.0 + 20 + 40) / 3)
    // single frame degenerates to the still-image statistics
    val one = MultimodalOps.decodeVideoFeatures(MediaRow(1L, "video",
      MultimodalOps.encodeAnimatedGif(3, 1, Array(0x505050), 10), "gif", 3, 1, 100L))
    assert(one.decoded && one.n_frames == 1 && one.mean_luma == 80.0)
    // garbage bytes: deterministic stub fallback, flagged undecoded
    val bad = MultimodalOps.decodeVideoFeatures(
      MediaRow(2L, "video", Array[Byte](9, 9, 9, 9), "gif", 0, 0, 0L))
    assert(!bad.decoded && bad.n_frames == -1)
  }

  test("decodeAviVideoFeatures: RIFF demux + raw-DIB exact decode, MJPEG within JPEG tolerance") {
    import MultimodalOps.MediaRow
    // raw DIB, odd width (w=3 → stride 12, real row padding) + per-frame
    // gradient: every pixel recovered exactly through the bottom-up layout
    val w = 3; val h = 2
    val frames = Array.tabulate(2) { k =>
      Array.tabulate(w * h)(i => (40 * k + 10 * i) % 256)
    }
    val avi = MultimodalOps.encodeAviRawGray(w, h, frames)
    val v = MultimodalOps.decodeAviVideoFeatures(
      MediaRow(0L, "video", avi, "avi", w, h, 200L))
    assert(v.decoded && v.n_frames == 2)
    assert(v.vid_width == w && v.vid_height == h)
    val want = frames.flatten.map(_.toLong).sum.toDouble / (w * h * 2)
    assert(v.mean_luma == want)
    // MJPEG through the SAME demuxer: a real lossy codec — frame count
    // and dimensions exact, solid-frame luma within JPEG quantization
    // tolerance (solid blocks quantize to near-DC-exact values)
    val mj = encodeAviMjpeg(8, 8, Array(64, 128, 192))
    val m = MultimodalOps.decodeAviVideoFeatures(
      MediaRow(1L, "video", mj, "avi", 8, 8, 300L))
    assert(m.decoded && m.n_frames == 3)
    assert(m.vid_width == 8 && m.vid_height == 8)
    assert(math.abs(m.mean_luma - 128.0) < 4.0, s"mjpeg luma ${m.mean_luma}")
    // garbage bytes and non-AVI payloads: deterministic stub fallback
    val bad = MultimodalOps.decodeAviVideoFeatures(
      MediaRow(2L, "video", Array[Byte](9, 9, 9, 9), "avi", 0, 0, 0L))
    assert(!bad.decoded && bad.n_frames == -1)
    val gif = MultimodalOps.encodeAnimatedGif(2, 2, Array(0x101010), 10)
    assert(!MultimodalOps.decodeAviVideoFeatures(
      MediaRow(3L, "video", gif, "gif", 2, 2, 100L)).decoded)
  }

  test("decodeDHash: bits match the encoded pattern exactly; strict 9x8 contract") {
    // a hand-built 9x8 pattern whose dHash is computable by eye per row:
    // row y alternates ramps so bit(x,y) = [lum(x+1,y) > lum(x,y)] is known
    val lumas = Array.tabulate(8 * 9) { idx =>
      val y = idx / 9; val x = idx % 9
      if (y % 2 == 0) x * 10 else 100 - x * 10 // even rows rise, odd fall
    }
    val row = MediaRow(5L, "image",
      MultimodalOps.encodePngGray(9, 8, lumas), "png", 9, 8, 0L)
    val h = MultimodalOps.decodeDHash(row)
    assert(h.decoded)
    // even rows: all 8 bits set; odd rows: none → bands alternate per two rows
    // band 0 covers bits 0..15 = rows 0 (set) + 1 (clear) => 0x00FF
    assert(h.b0 == 0x00FF && h.b1 == 0x00FF && h.b2 == 0x00FF && h.b3 == 0x00FF)
    // non-9x8 image: strict contract refuses (decoded = false)
    val wrong = MediaRow(6L, "image",
      MultimodalOps.encodePng(4, 4, 0x808080), "png", 4, 4, 0L)
    assert(!MultimodalOps.decodeDHash(wrong).decoded)
    // garbage bytes: refused
    val bad = MediaRow(7L, "image", Array[Byte](1, 2, 3), "png", 0, 0, 0L)
    assert(!MultimodalOps.decodeDHash(bad).decoded)
  }

  test("decodeAudioFingerprint: envelope bits match the encoded samples; strict contract") {
    // a hand-built envelope whose bits are computable by eye: frame f's
    // four samples all equal amp(f), so E(f) = 4·amp(f)² and bit f =
    // [|amp(f+1)| > |amp(f)|]. Alternate rising/falling pairs per 16-frame
    // band exactly like the dHash pattern test.
    def wav(amps: Array[Int]): Array[Byte] = {
      require(amps.length == 65)
      val samples = Array.tabulate[Short](65 * 4)(i => amps(i / 4).toShort)
      MultimodalOps.encodeWav(8000, samples)
    }
    // amp rises 0,10,20,...: every adjacent energy comparison is >, all 64
    // bits set → every band = 0xFFFF
    val rising = MultimodalOps.decodeAudioFingerprint(
      MediaRow(1L, "audio", wav(Array.tabulate(65)(f => 10 * f)), "wav", 0, 0, 0L))
    assert(rising.decoded)
    assert(rising.b0 == 0xFFFF && rising.b1 == 0xFFFF &&
      rising.b2 == 0xFFFF && rising.b3 == 0xFFFF)
    // amp falls: no bit set
    val falling = MultimodalOps.decodeAudioFingerprint(
      MediaRow(2L, "audio", wav(Array.tabulate(65)(f => 10 * (64 - f))), "wav", 0, 0, 0L))
    assert(falling.decoded)
    assert(falling.b0 == 0 && falling.b1 == 0 && falling.b2 == 0 && falling.b3 == 0)
    // constant amp: ties are NOT >, no bit set (deterministic tie rule)
    val flat = MultimodalOps.decodeAudioFingerprint(
      MediaRow(3L, "audio", wav(Array.fill(65)(100)), "wav", 0, 0, 0L))
    assert(flat.decoded && flat.b0 == 0 && flat.b1 == 0 && flat.b2 == 0 && flat.b3 == 0)
    // ENERGY compares magnitude: sign flips don't move bits
    val signFlip = MultimodalOps.decodeAudioFingerprint(
      MediaRow(4L, "audio", wav(Array.tabulate(65)(f => if (f % 2 == 0) 10 * f else -10 * f)),
        "wav", 0, 0, 0L))
    assert(signFlip.decoded && signFlip.b0 == 0xFFFF && signFlip.b3 == 0xFFFF)
    // wrong sample count: strict contract refuses
    val short = MultimodalOps.encodeWav(8000, Array.tabulate[Short](64 * 4)(_ => 1))
    assert(!MultimodalOps.decodeAudioFingerprint(
      MediaRow(5L, "audio", short, "wav", 0, 0, 0L)).decoded)
    // garbage bytes: refused
    assert(!MultimodalOps.decodeAudioFingerprint(
      MediaRow(6L, "audio", Array[Byte](1, 2, 3), "wav", 0, 0, 0L)).decoded)
    // pigeonhole law behind the q155 banded join: flipping ≤3 bits leaves
    // at least one band identical
    val base = rising
    val flip3 = MultimodalOps.decodeAudioFingerprint(
      MediaRow(7L, "audio", wav(Array.tabulate(65)(f =>
        // spike frame 1 above frame 2: bit 1 (E2 > E1) flips off, the
        // other 63 comparisons are unchanged
        if (f == 1) 50 else 10 * f)), "wav", 0, 0, 0L))
    assert(flip3.decoded && flip3.b0 != base.b0)
    val sameBands = Seq(
      base.b0 == flip3.b0, base.b1 == flip3.b1,
      base.b2 == flip3.b2, base.b3 == flip3.b3).count(identity)
    assert(sameBands >= 1)
  }
}
