package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (north-star surface): image/audio/video
  * handled as OPAQUE `binary` payloads with typed metadata, exactly as a
  * 100 TB training-data pipeline carries them — the engine never interprets
  * media bytes except inside an explicit decode stage.
  *
  * IMAGE and AUDIO decode are REAL: [[decodeImageFeatures]] runs the JDK's
  * own `javax.imageio.ImageIO` (PNG/JPEG/BMP/GIF readers ship with Java —
  * zero external dependencies) and emits true pixel dimensions + channel
  * statistics; [[decodeAudioFeatures]] runs `javax.sound.sampled` (WAV/
  * AIFF/AU readers likewise ship with the JDK) and emits the true sample
  * rate, channel count, and exact-integer RMS. VIDEO remains the one
  * stubbed modality (no JDK codec). Payloads in formats the runtime has no
  * reader for fall back to DETERMINISTIC byte-stat pseudo-features flagged
  * `decoded = false`, and the Spark-side plumbing —
  * schema, encoders, batched `mapPartitions` (the JVM analog of
  * `mapInPandas`: one iterator per partition, processed in fixed-size
  * batches as a vectorized codec would), partition sizing, frame explosion
  * — is identical on both paths.
  *
  * Scale notes: payloads never enter a shuffle key; metadata-only transforms
  * are pure column expressions (codegen); decode is per-partition streaming
  * with bounded memory (`batchSize` rows in flight).
  */
object MultimodalOps {

  /** One media row: opaque payload + typed metadata. */
  case class MediaRow(doc_id: Long, modality: String, payload: Array[Byte],
                      format: String, width: Int, height: Int,
                      duration_ms: Long)

  /** Stub decode output: per-payload pseudo-features. */
  case class MediaFeatures(doc_id: Long, modality: String, n_bytes: Int,
                           mean_byte: Double, checksum: Long)

  /** A sampled video frame (plumbing for frame-level training data). */
  case class Frame(doc_id: Long, frame_idx: Int, offset_ms: Long,
                   payload: Array[Byte])

  /** STUB — deterministic pseudo-decode: byte statistics standing in for
    * pixel statistics. Replace with a real codec (jpeg/PNG) to productionize;
    * signature and batch shape stay identical. */
  def decodeStub(row: MediaRow): MediaFeatures = {
    val bytes = row.payload
    var sum = 0L
    var crc = 1L
    var i = 0
    while (i < bytes.length) {
      sum += bytes(i) & 0xff
      crc = crc * 31 + (bytes(i) & 0xff)
      i += 1
    }
    MediaFeatures(row.doc_id, row.modality, bytes.length,
      if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length, crc)
  }

  /** Batched per-partition decode: the mapInPandas-shaped entry point. The
    * iterator is consumed in `batchSize` groups so a vectorized codec can
    * process arrays-of-payloads without materializing the partition. */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // batch boundary = where a real codec would run one vectorized call
        batch.iterator.map(decodeStub)
      }
    }
  }

  /** Real image decode output: true pixel dimensions + channel mean when the
    * JDK carries a reader for the format (`decoded = true`), byte-stat
    * fallback otherwise (img_width/img_height = -1, mean = mean byte). */
  case class ImageFeatures(doc_id: Long, decoded: Boolean, img_width: Int,
                           img_height: Int, mean_luma: Double, n_bytes: Int)

  /** REAL decode via `javax.imageio.ImageIO` — PNG/JPEG/BMP/GIF/WBMP readers
    * ship with the JDK. `mean_luma` is the mean of (r+g+b)/3 over all pixels
    * computed in exact integer sums (so a solid-color fixture decodes to its
    * exact channel value — oracle-derivable without a decoder on the oracle
    * side). Undecodable payloads (absent codec, truncated file) keep the
    * deterministic stub path with `decoded = false`. */
  def decodeImageFeatures(row: MediaRow): ImageFeatures = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.payload))
      catch { case _: Exception => null }
    if (img == null) {
      val f = decodeStub(row)
      ImageFeatures(row.doc_id, decoded = false, -1, -1, f.mean_byte, f.n_bytes)
    } else {
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      ImageFeatures(row.doc_id, decoded = true, w, h,
        if (n == 0) 0.0 else sum.toDouble / (3.0 * n), row.payload.length)
    }
  }

  /** Batched per-partition REAL image decode — same batch shape as
    * [[extractFeatures]], kernel swapped for ImageIO. */
  def decodeImages(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.iterator.map(decodeImageFeatures))
    }
  }

  /** Deterministic grayscale-pattern PNG encoder: `lumas` is the row-major
    * w×h luma grid (0–255; pixel rgb = c·0x010101). PNG is lossless, so
    * decode recovers every pixel exactly — the q67 fixture idea extended
    * from solid colors to arbitrary patterns, which is what a PERCEPTUAL
    * hash needs (a solid image hashes to all-zero bits). */
  def encodePngGray(w: Int, h: Int, lumas: Array[Int]): Array[Byte] = {
    require(lumas.length == w * h, "encodePngGray: lumas must be w*h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val c = lumas(y * w + x) & 0xff
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** dHash output: the 64-bit difference hash carried as FOUR 16-bit band
    * ints (b0..b3, bit i = y·8+x lives in band i/16 at offset i%16) —
    * sign-free on both engines, and the bands ARE the LSH blocking keys:
    * by pigeonhole, two hashes within Hamming distance 3 agree on at least
    * one of the 4 bands, so the banded candidate join is EXACT (zero
    * recall loss) for the ≤3 near-dup contract. */
  case class DHashRow(doc_id: Long, decoded: Boolean,
                      b0: Int, b1: Int, b2: Int, b3: Int)

  /** REAL perceptual difference-hash (dHash) via ImageIO: decode the 9×8
    * grayscale fixture, bit (y·8+x) = 1 iff the 3-channel pixel sum grows
    * left→right — pure integer comparisons on losslessly-recovered pixels,
    * so a deterministic fixture's hash is oracle-derivable arithmetically.
    * Non-9×8 or undecodable payloads return decoded = false with -1 bands
    * (strict: the hash contract is defined on the canonical dHash grid;
    * resampling arbitrary sizes would put a float resize kernel between
    * the oracle and the bits). */
  def decodeDHash(row: MediaRow): DHashRow = {
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.payload))
      if (img == null || img.getWidth != 9 || img.getHeight != 8)
        throw new IllegalArgumentException("not a 9x8 dHash grid")
      def sum3(x: Int, y: Int): Int = {
        val rgb = img.getRGB(x, y)
        ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      }
      val bands = new Array[Int](4)
      var i = 0
      while (i < 64) {
        val x = i % 8
        val y = i / 8
        if (sum3(x + 1, y) > sum3(x, y)) bands(i / 16) |= (1 << (i % 16))
        i += 1
      }
      DHashRow(row.doc_id, decoded = true, bands(0), bands(1), bands(2), bands(3))
    } catch {
      case _: Exception => DHashRow(row.doc_id, decoded = false, -1, -1, -1, -1)
    }
  }

  /** Batched per-partition dHash — the q67/q132/q144 batch shape. */
  def decodeDHashes(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[DHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.iterator.map(decodeDHash))
    }
  }

  /** Real audio decode output: container-reported format + exact sample
    * statistics when the JDK carries a reader (`decoded = true`), byte-stat
    * fallback otherwise (sample_rate/channels = -1, rms = mean byte). */
  case class AudioFeatures(doc_id: Long, decoded: Boolean, sample_rate: Int,
                           channels: Int, n_samples: Long, rms: Double)

  /** REAL decode via `javax.sound.sampled.AudioSystem` — WAV/AIFF/AU
    * readers ship with the JDK (zero external dependencies), mirroring the
    * ImageIO image path. 16-bit PCM samples are squared and summed as exact
    * BIGINTs, so a deterministic fixture's RMS is oracle-derivable
    * arithmetically: the integer sum is order-free and exact (< 2^53), and
    * `sqrt` of the same double is correctly rounded on both engines.
    * Undecodable payloads (absent codec, truncated header, non-16-bit
    * encodings) keep the deterministic stub path with `decoded = false`. */
  def decodeAudioFeatures(row: MediaRow): AudioFeatures = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in =
      try AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(row.payload))
      catch { case _: Exception => null }
    def fallback = {
      val f = decodeStub(row)
      AudioFeatures(row.doc_id, decoded = false, -1, -1, f.n_bytes.toLong, f.mean_byte)
    }
    if (in == null) fallback
    else try {
      val fmt = in.getFormat
      if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16) fallback
      else {
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        var ss = 0L
        var i = 0
        while (i < n) {
          val s =
            if (fmt.isBigEndian) (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)
            else (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
          ss += s.toLong * s
          i += 1
        }
        AudioFeatures(row.doc_id, decoded = true,
          fmt.getSampleRate.toInt, fmt.getChannels,
          if (fmt.getChannels == 0) 0L else n.toLong / fmt.getChannels,
          if (n == 0) 0.0 else math.sqrt(ss.toDouble / n))
      }
    } finally in.close()
  }

  /** Batched per-partition REAL audio decode — same batch shape as
    * [[extractFeatures]], kernel swapped for the sampled-audio reader. */
  def decodeAudio(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.iterator.map(decodeAudioFeatures))
    }
  }

  /** Audio fingerprint output: 64 energy-envelope difference bits carried
    * as FOUR 16-bit band ints — the audio twin of [[DHashRow]], with the
    * same pigeonhole blocking contract: two fingerprints within Hamming
    * distance 3 agree on at least one of the 4 bands, so a banded candidate
    * join is EXACT (zero recall loss) for the ≤3 near-dup threshold. */
  case class AudioFingerprintRow(doc_id: Long, decoded: Boolean,
                                 b0: Int, b1: Int, b2: Int, b3: Int)

  /** REAL energy-envelope fingerprint via the JDK's sampled-audio reader:
    * decode the mono 16-bit PCM stream, partition it into 65 frames of
    * `frameSize` samples, frame energy = exact BIGINT sum of squared
    * samples, bit f = 1 iff E(f+1) > E(f) — difference-coding of a frame
    * feature in the Haitsma–Kalker (2002) audio-fingerprint shape, with
    * the exact integer frame energy standing in for the filterbank band
    * energy (an FFT is a float transform that would put a numeric kernel
    * between the oracle and the bits; the envelope keeps every bit
    * arithmetically derivable from the encoded samples, the same
    * loss-free-oracle rule as [[decodeDHash]]'s 9×8 grid). Strict grid
    * contract: exactly 65·frameSize mono 16-bit samples, else
    * decoded = false with -1 bands. */
  def decodeAudioFingerprint(row: MediaRow, frameSize: Int = 4): AudioFingerprintRow = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in =
      try AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(row.payload))
      catch { case _: Exception => null }
    def fail = AudioFingerprintRow(row.doc_id, decoded = false, -1, -1, -1, -1)
    if (in == null) fail
    else try {
      val fmt = in.getFormat
      if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) fail
      else {
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        if (n != 65 * frameSize) fail
        else {
          val energies = new Array[Long](65)
          var i = 0
          while (i < n) {
            val s =
              if (fmt.isBigEndian) (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)
              else (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
            energies(i / frameSize) += s.toLong * s
            i += 1
          }
          val bands = new Array[Int](4)
          var f = 0
          while (f < 64) {
            if (energies(f + 1) > energies(f)) bands(f / 16) |= (1 << (f % 16))
            f += 1
          }
          AudioFingerprintRow(row.doc_id, decoded = true,
            bands(0), bands(1), bands(2), bands(3))
        }
      }
    } finally in.close()
  }

  /** Batched per-partition audio fingerprinting — the q67/q132/q144 batch
    * shape with the envelope-fingerprint kernel. */
  def decodeAudioFingerprints(media: Dataset[MediaRow],
                              batchSize: Int = 64): Dataset[AudioFingerprintRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.iterator.map(r => decodeAudioFingerprint(r)))
    }
  }

  /** Deterministic WAV fixture encoder: mono 16-bit little-endian PCM.
    * WAV is lossless, so decode recovers every sample exactly — letting a
    * DuckDB oracle predict real-decode RMS arithmetically (the audio twin
    * of [[encodePng]]). */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic PNG fixture encoder: a solid-color `w`×`h` RGB image.
    * PNG is lossless, so decode recovers width/height/color exactly —
    * letting a DuckDB oracle predict real-decode output arithmetically. */
  def encodePng(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Real video decode output: frame count + per-frame-exact statistics
    * when the payload is a multi-frame format the JDK can read
    * (`decoded = true`), byte-stat fallback otherwise. */
  case class VideoFeatures(doc_id: Long, decoded: Boolean, n_frames: Int,
                           vid_width: Int, vid_height: Int,
                           mean_luma: Double, n_bytes: Int)

  /** REAL multi-frame decode via `javax.imageio` — the JDK ships no
    * MP4/H.264 codec (that share of the modality stays a documented
    * stub), but it DOES fully decode animated GIF, a real, lossless,
    * multi-frame motion format — so the frame-sequence plumbing
    * (demux → per-frame decode → cross-frame statistics) runs against a
    * true codec with an arithmetic oracle, exactly like q67's image path
    * and q132's audio path. Frame pixel sums are exact integers across
    * ALL frames; payloads without a multi-frame reader fall back to the
    * deterministic stub with `decoded = false`. */
  def decodeVideoFeatures(row: MediaRow): VideoFeatures = {
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(row.payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) throw new IllegalArgumentException("no reader")
        val r = readers.next()
        try {
          r.setInput(iis, false)
          val nf = r.getNumImages(true)
          if (nf < 1) throw new IllegalArgumentException("no frames")
          var sum = 0L
          var npix = 0L
          var w0 = 0
          var h0 = 0
          var k = 0
          while (k < nf) {
            val img = r.read(k)
            if (k == 0) { w0 = img.getWidth; h0 = img.getHeight }
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            npix += img.getWidth.toLong * img.getHeight
            k += 1
          }
          VideoFeatures(row.doc_id, decoded = true, nf, w0, h0,
            if (npix == 0) 0.0 else sum.toDouble / (3.0 * npix),
            row.payload.length)
        } finally r.dispose()
      } finally iis.close()
    } catch {
      case _: Exception =>
        val f = decodeStub(row)
        VideoFeatures(row.doc_id, decoded = false, -1, -1, -1,
          f.mean_byte, f.n_bytes)
    }
  }

  /** Batched per-partition REAL video decode — the q67/q132 batch shape. */
  def decodeVideos(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.iterator.map(decodeVideoFeatures))
    }
  }

  /** Deterministic animated-GIF fixture encoder: `frameColors(k)` is frame
    * k's solid RGB. GIF palettes are lossless for solid frames, so decode
    * recovers every frame's exact color — the oracle predicts cross-frame
    * means arithmetically, no decoder needed on the oracle side. Each
    * frame carries a GraphicControlExtension delay so the payload is a
    * well-formed animation, not just a multi-image container. */
  def encodeAnimatedGif(w: Int, h: Int, frameColors: Array[Int],
                        delayCs: Int): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val out = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frameColors.foreach { rgb =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), writer.getDefaultWriteParam)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        val gce = {
          var found: IIOMetadataNode = null
          val kids = root.getChildNodes
          var i = 0
          while (i < kids.getLength && found == null) {
            if (kids.item(i).getNodeName == "GraphicControlExtension")
              found = kids.item(i).asInstanceOf[IIOMetadataNode]
            i += 1
          }
          if (found == null) {
            val n = new IIOMetadataNode("GraphicControlExtension")
            root.appendChild(n); n
          } else found
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("transparentColorIndex", "0")
        gce.setAttribute("delayTime", delayCs.toString)
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
    } finally { ios.close(); writer.dispose() }
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // AVI (RIFF) video: a real container demuxer + two codecs.
  //
  // The video modality's PERMANENT engine boundary (SURVEY.md §2): the JVM
  // ships no inter-frame compressed codec (MP4/H.264/VP9), so that share
  // stays out of the engine — model-inference embedding's sibling. What IS
  // in the engine, and real: container demux (this RIFF/AVI parser walks
  // the actual chunk tree: hdrl → strh/strf stream headers, movi → frame
  // chunks) and intra-only codecs — raw bottom-up BGR DIB (lossless,
  // hence ORACLE-EXACT: every pixel of a fixture is predicted
  // arithmetically in DuckDB, the q67/q132/q144 discipline) and MJPEG
  // (each frame a real JPEG through ImageIO — a true lossy codec, so it
  // is law-pinned in MultimodalSpec rather than hash-gated: frame
  // count/dimensions exact, solid-frame luma within JPEG quantization
  // tolerance).
  // ---------------------------------------------------------------------

  private def le32(v: Int): Array[Byte] =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def le16(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >> 8).toByte)
  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private[graft] def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
    fourcc(id) ++ le32(body.length) ++ body ++ pad
  }
  private def list(kind: String, body: Array[Byte]): Array[Byte] =
    chunk("LIST", fourcc(kind) ++ body)

  /** Row stride of a 24-bpp DIB scanline (rows pad to 4 bytes). */
  private def dibStride(w: Int): Int = ((w * 3) + 3) / 4 * 4

  /** Deterministic AVI fixture encoder, raw 24-bpp DIB frames:
    * `frameLumas(k)(y*w+x)` is frame k's gray level at (x, y), stored
    * bottom-up BGR exactly per the BITMAPINFOHEADER contract
    * (biCompression = 0). The payload is a standards-complete AVI — avih
    * main header, vids/DIB stream header pair, movi frame list, idx1
    * index — playable by any player, and losslessly decodable, so the
    * oracle predicts every pixel arithmetically. */
  def encodeAviRawGray(w: Int, h: Int, frameLumas: Array[Array[Int]],
                       fps: Int = 10): Array[Byte] = {
    val stride = dibStride(w)
    val frames = frameLumas.map { lum =>
      val body = new Array[Byte](stride * h)
      var y = 0
      while (y < h) {
        val row = (h - 1 - y) * stride // bottom-up
        var x = 0
        while (x < w) {
          val c = (lum(y * w + x) & 0xff).toByte
          body(row + x * 3) = c; body(row + x * 3 + 1) = c
          body(row + x * 3 + 2) = c
          x += 1
        }
        y += 1
      }
      chunk("00db", body)
    }
    assembleAvi(w, h, frameLumas.length, fps, "DIB ", 0, stride * h, frames)
  }

  private[graft] def assembleAvi(w: Int, h: Int, nf: Int, fps: Int,
                                 handler: String, biCompression: Int,
                                 bufSize: Int,
                                 frames: Array[Array[Byte]]): Array[Byte] = {
    val avih = chunk("avih",
      le32(1000000 / fps) ++ le32(bufSize * fps) ++ le32(0) ++
        le32(0x10) /* HASINDEX */ ++ le32(nf) ++ le32(0) ++ le32(1) ++
        le32(bufSize) ++ le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++
        le32(0) ++ le32(0))
    val strh = chunk("strh",
      fourcc("vids") ++ fourcc(handler) ++ le32(0) ++ le16(0) ++ le16(0) ++
        le32(0) ++ le32(1) ++ le32(fps) ++ le32(0) ++ le32(nf) ++
        le32(bufSize) ++ le32(-1) ++ le32(0) ++
        le16(0) ++ le16(0) ++ le16(w) ++ le16(h))
    val strf = chunk("strf",
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
        le32(biCompression) ++ le32(dibStride(w) * h) ++ le32(0) ++
        le32(0) ++ le32(0) ++ le32(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val moviBody = frames.flatten
    val movi = list("movi", moviBody)
    // idx1: one entry per frame — fourcc, flags (KEYFRAME), offset from
    // movi's 'movi' fourcc, chunk size
    var off = 4
    val idxBody = frames.flatMap { f =>
      val e = fourcc(new String(f.take(4), "US-ASCII")) ++ le32(0x10) ++
        le32(off) ++ le32(rdLe32(f, 4))
      off += f.length
      e
    }
    val idx1 = chunk("idx1", idxBody)
    val riffBody = fourcc("AVI ") ++ hdrl ++ movi ++ idx1
    fourcc("RIFF") ++ le32(riffBody.length) ++ riffBody
  }

  private def rdLe32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xff) << 24)
  private def rdCc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** REAL AVI demux + decode: walks the RIFF chunk tree (no ImageIO
    * involvement for the container), reads the vids stream's
    * BITMAPINFOHEADER, then decodes every movi frame chunk — raw DIB
    * (biCompression 0: bottom-up padded BGR scanlines) with exact integer
    * channel sums, MJPEG ('MJPG': each frame through the JDK JPEG
    * decoder). Same VideoFeatures contract as [[decodeVideoFeatures]];
    * non-AVI or unsupported-codec payloads fall back to the deterministic
    * stub with `decoded = false`. */
  def decodeAviVideoFeatures(row: MediaRow): VideoFeatures = {
    try {
      val b = row.payload
      require(b.length >= 12 && rdCc(b, 0) == "RIFF" && rdCc(b, 8) == "AVI ",
        "not an AVI")
      var w = 0; var h = 0; var comp = 0
      var sum = 0L; var npix = 0L; var nf = 0
      def walk(from: Int, to: Int): Unit = {
        var o = from
        while (o + 8 <= to) {
          val id = rdCc(b, o)
          val sz = rdLe32(b, o + 4)
          val body = o + 8
          id match {
            case "LIST" => walk(body + 4, body + sz) // skip the list kind
            case "strf" =>
              if (w == 0) {
                w = rdLe32(b, body + 4); h = rdLe32(b, body + 8)
                comp = rdLe32(b, body + 16)
              }
            case fcc if fcc.length == 4 && fcc.charAt(0).isDigit &&
                fcc.charAt(1).isDigit &&
                (fcc.endsWith("db") || fcc.endsWith("dc")) =>
              nf += 1
              if (comp == 0) {
                val stride = dibStride(w)
                var y = 0
                while (y < h) {
                  val rowOff = body + (h - 1 - y) * stride
                  var x = 0
                  while (x < w) {
                    sum += (b(rowOff + x * 3) & 0xff) +
                      (b(rowOff + x * 3 + 1) & 0xff) +
                      (b(rowOff + x * 3 + 2) & 0xff)
                    x += 1
                  }
                  y += 1
                }
                npix += w.toLong * h
              } else { // MJPG: a real JPEG per frame
                val img = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(b, body, sz))
                require(img != null, "frame decode failed")
                var y = 0
                while (y < img.getHeight) {
                  var x = 0
                  while (x < img.getWidth) {
                    val rgb = img.getRGB(x, y)
                    sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                      (rgb & 0xff)
                    x += 1
                  }
                  y += 1
                }
                npix += img.getWidth.toLong * img.getHeight
              }
            case _ => ()
          }
          o = body + sz + (sz % 2) // chunks pad to even
        }
      }
      walk(12, 8 + rdLe32(b, 4))
      require(nf > 0 && w > 0 && h > 0, "no frames")
      VideoFeatures(row.doc_id, decoded = true, nf, w, h,
        if (npix == 0) 0.0 else sum.toDouble / (3.0 * npix),
        b.length)
    } catch {
      case _: Exception =>
        val f = decodeStub(row)
        VideoFeatures(row.doc_id, decoded = false, -1, -1, -1,
          f.mean_byte, f.n_bytes)
    }
  }

  /** Batched per-partition AVI decode — the q67/q132/q144 batch shape. */
  def decodeAviVideos(media: Dataset[MediaRow],
                      batchSize: Int = 64): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.iterator.map(decodeAviVideoFeatures))
    }
  }

  /** Metadata-only resize: pure expression work, payload untouched (a real
    * resize would pair this with a decode→scale→encode kernel). */
  def resizeMeta(media: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxDim) / greatest(col("width"), col("height"), lit(1)))
    media
      .withColumn("out_width", ceil(col("width") * scale).cast("int"))
      .withColumn("out_height", ceil(col("height") * scale).cast("int"))
  }

  /** Frame sampling plumbing: one row per sampled frame every `everyMs`
    * (payload sliced deterministically as the stub "frame"). */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.modality == "video").flatMap { row =>
      val n = math.max(1L, row.duration_ms / everyMs).toInt
      (0 until n).iterator.map { i =>
        val off = i * everyMs
        val b = row.payload
        val slice = if (b.isEmpty) b
          else b.slice((i * 4) % b.length, math.min(b.length, (i * 4) % b.length + 4))
        Frame(row.doc_id, i, off, slice)
      }
    }
  }

  /** Deterministic synthetic media table derived from `documents` — the
    * fixture builder for environments with no real media: payload = md5
    * bytes of the text (16-byte "image"), metadata derived from doc stats.
    * Mirrored 1:1 by the DuckDB oracle (unhex(md5(text))). */
  def syntheticMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("modality"),
      unhex(md5(col("text"))).as("payload"),
      lit("fake").as("format"),
      (col("n_chars") % 640).cast("int").as("width"),
      (col("n_chars") % 480).cast("int").as("height"),
      (col("n_chars") * 10).cast("long").as("duration_ms"))
}
