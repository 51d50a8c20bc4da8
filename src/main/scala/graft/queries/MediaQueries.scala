package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.MultimodalOps
import graft.similarity.BlockedJoin

/** Multimodal plumbing query (north-star surface): synthetic media table
  * over `documents` — binary payload construction, typed metadata, and the
  * metadata-only resize transform, all DuckDB-mirrorable. The stub decode
  * path (mapPartitions) is covered by MultimodalSpec instead (not
  * SQL-expressible).
  */
object MediaQueries {

  /** Near-dup pairs at Hamming ≤ 3 over decoded 64-bit media fingerprints
    * held as four 16-bit words (b0..b3), for q154/q155: the
    * [[BlockedJoin]] self form with one band per word — exact by
    * pigeonhole, since 3 differing bits touch at most 3 of the 4 words.
    * The four words ride the candidate exchange as the payload, so the
    * verify needs no join-back. Output: (da, db, hamming), ordered. */
  private def wordPairs(decoded: DataFrame): DataFrame = {
    val words = Seq("b0", "b1", "b2", "b3")
    val fps = decoded.filter(col("decoded"))
      .localCheckpoint() // feeds both band sides
    def hamming(x: Column, y: Column) =
      words.map(w => BlockedJoin.hamming(x.getField(w), y.getField(w))).reduce(_ + _)
    BlockedJoin.self(fps, col("doc_id"), words.map(col), struct(words.map(col): _*), hamming)
      .select(col("a").as("da"), col("b").as("db"), col("score").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("da"), col("db"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_media_meta" -> ((s, d) =>
      MultimodalOps.resizeMeta(
          MultimodalOps.syntheticMedia(Tables.documents(s, d)), 256)
        .select(col("doc_id"), col("modality"),
          octet_length(col("payload")).as("n_bytes"),
          col("width"), col("height"), col("duration_ms"),
          col("out_width"), col("out_height"))
        .orderBy(col("doc_id"))),

    // REAL image decode through the JDK's ImageIO: each document becomes a
    // deterministic solid-gray PNG (w = 1+id%8, h = 1+id%5, luma = id%256),
    // the batched mapPartitions decode recovers true pixel dimensions and
    // the exact channel mean, and the oracle predicts the decode output
    // arithmetically (PNG is lossless) — no decoder needed on the oracle
    // side. Proves the decode path end-to-end: encode → bytes → ImageIO →
    // pixel stats.
    "q67_image_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (1 + id % 8).toInt
          val h = (1 + id % 5).toInt
          val c = (id % 256).toInt
          MultimodalOps.MediaRow(id, "image",
            MultimodalOps.encodePng(w, h, (c << 16) | (c << 8) | c),
            "png", w, h, 0L)
        }
      MultimodalOps.decodeImages(media).toDF()
        .select(col("doc_id"), col("decoded"), col("img_width"),
          col("img_height"), col("mean_luma"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio decode through the JDK's sampled-audio reader: each
    // document becomes a deterministic mono 16-bit PCM WAV (n = 8 + id%16
    // samples at 8 kHz, sample i = (id + 7i) % 2048 - 1024), the batched
    // mapPartitions decode recovers the container format and the exact
    // sample stream, and the oracle predicts the RMS arithmetically (WAV is
    // lossless; the sum of squares is an exact BIGINT on both engines and
    // sqrt of the same double is correctly rounded). The audio twin of q67.
    "q132_audio_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val n = (8 + id % 16).toInt
          val samples = Array.tabulate[Short](n)(i =>
            (((id + 7L * i) % 2048) - 1024).toShort)
          MultimodalOps.MediaRow(id, "audio",
            MultimodalOps.encodeWav(8000, samples), "wav", 0, 0, 0L)
        }
      MultimodalOps.decodeAudio(media).toDF()
        .select(col("doc_id"), col("decoded"), col("sample_rate"),
          col("channels"), col("n_samples"), col("rms"))
        .orderBy(col("doc_id"))
    }),

    // REAL multi-frame VIDEO decode through javax.imageio's animated-GIF
    // reader — the one true multi-frame codec the JDK ships (MP4/H.264
    // remain a documented stub). Each document becomes a deterministic
    // nf-frame solid-gray animation (frame k's gray = (31·id + 17·k) %
    // 256), the batched mapPartitions decode demuxes and decodes every
    // frame, and the oracle predicts frame count, dimensions and the
    // cross-frame mean arithmetically (GIF is lossless for solid frames;
    // the pixel sum is an exact BIGINT, the final division mirrors the
    // decoder's sum/(3.0·npix) op order). The motion twin of q67/q132.
    "q144_video_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (1 + id % 4).toInt
          val h = (1 + id % 3).toInt
          val nf = (1 + id % 5).toInt
          val colors = Array.tabulate(nf) { k =>
            val c = ((31L * id + 17L * k) % 256).toInt
            (c << 16) | (c << 8) | c
          }
          MultimodalOps.MediaRow(id, "video",
            MultimodalOps.encodeAnimatedGif(w, h, colors, 10),
            "gif", w, h, nf * 100L)
        }
      MultimodalOps.decodeVideos(media).toDF()
        .select(col("doc_id"), col("decoded"), col("n_frames"),
          col("vid_width"), col("vid_height"), col("mean_luma"))
        .orderBy(col("doc_id"))
    }),

    // REAL AVI (RIFF) container demux + raw-DIB decode — video's second
    // container/codec pair next to q144's animated GIF, and the engine's
    // OWN demuxer (the RIFF chunk walker in MultimodalOps — ImageIO never
    // touches the container). Each document becomes a deterministic
    // multi-frame 24-bpp uncompressed AVI (frame k's pixel (x,y) luma =
    // (7·id + 13·k + 31·x + 17·y) % 256 — a per-frame GRADIENT, so the
    // bottom-up scanline order and the 4-byte row padding are actually
    // exercised, not just solid fills), the batched mapPartitions decode
    // demuxes hdrl/strf/movi and accumulates exact integer channel sums,
    // and the oracle predicts every pixel arithmetically (raw DIB is
    // lossless). MJPEG-in-AVI — a real lossy codec through the same
    // demuxer — is law-pinned in MultimodalSpec instead (JPEG
    // quantization is decoder-exact but not SQL-predictable). MP4/H.264
    // stay the documented engine boundary: no JVM codec exists.
    "q180_avi_video_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (2 + id % 5).toInt
          val h = (1 + id % 4).toInt
          val nf = (1 + id % 6).toInt
          val frames = Array.tabulate(nf) { k =>
            Array.tabulate(w * h) { idx =>
              val y = idx / w
              val x = idx % w
              ((7L * id + 13L * k + 31L * x + 17L * y) % 256L).toInt
            }
          }
          MultimodalOps.MediaRow(id, "video",
            MultimodalOps.encodeAviRawGray(w, h, frames), "avi", w, h,
            nf * 100L)
        }
      MultimodalOps.decodeAviVideos(media).toDF()
        .select(col("doc_id"), col("decoded"), col("n_frames"),
          col("vid_width"), col("vid_height"), col("mean_luma"))
        .orderBy(col("doc_id"))
    }),

    // Frame-sampling MANIFEST (relational twin of MultimodalOps.sampleFrames'
    // schedule): one row per sampled frame of each video every 1000 ms —
    // the generate runs map-side off metadata; the byte-slicing stub decode
    // stays in the Dataset path (MultimodalSpec).
    "q57_frame_manifest" -> ((s, d) =>
      MultimodalOps.syntheticMedia(Tables.documents(s, d))
        .filter(col("modality") === "video")
        .select(col("doc_id"), col("duration_ms"),
          greatest(lit(1L), floor(col("duration_ms") / 1000)).as("n_frames"))
        .select(col("doc_id"), col("duration_ms"), col("n_frames"),
          explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_id"))
        .withColumn("offset_ms", col("frame_id") * 1000)
        .orderBy(col("doc_id"), col("frame_id"))),

    // IMAGE NEAR-DUP DETECTION via REAL perceptual hashing: each document
    // becomes a deterministic 9×8 grayscale-pattern PNG (group g = id/20
    // sets the base pattern, variant v = id%2 perturbs one pixel), the
    // batched mapPartitions decode computes the 64-bit dHash from
    // losslessly-recovered pixels, and pairs within Hamming distance 3 are
    // found through 16-bit BAND BLOCKING that is EXACT by pigeonhole (3
    // differing bits touch ≤3 of the 4 bands, so every ≤3 pair shares a
    // band) — a near-dup join with zero recall loss and no all-pairs scan.
    // The oracle predicts every pixel (PNG lossless), hence every hash bit,
    // hence every pair, arithmetically — the whole encode → decode → hash →
    // block → Hamming pipeline under one hash gate. Same-group/same-variant
    // images collide at Hamming 0 (exact image dups); cross-variant at ≤2.
    "q154_image_phash_pairs" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id")).as[Long]
        .map { id =>
          // BLOCK-LOCAL groups (consecutive-id blocks of 20, ~constant
          // group size at ANY corpus size) rather than a fixed modulus: a
          // modulus fixes the group COUNT, so group sizes — and true-pair
          // mass — grow quadratically with the corpus, and ScaleBench's
          // id-strided replicas all land in the same groups (the ×M
          // corpus degenerates to M× denser cliques, pairs ~M²). Block
          // groups keep ~190 pairs per 20-doc block forever, and replicas
          // in disjoint id ranges are automatically similarity-breaking —
          // the honest "more data, same dup rate" shape.
          val g = id / 20
          val v = (id % 2).toInt
          // md5-derived per-pixel luma (first digest byte): genuinely
          // independent bits, so cross-group Hamming is ~Binomial(64, ½)
          // and never ≤3 — the near-dup set is exactly the within-group
          // one. Arithmetic mixes tried first (linear ramps, Knuth-product
          // low/middle bits) leave adjacent-pixel DIFFERENCES near-constant
          // and flooded the ≤3 band with cross-group pairs (6.4k of 6.7k).
          val md = java.security.MessageDigest.getInstance("MD5")
          val lumas = Array.tabulate(8 * 9) { idx =>
            val y = idx / 9; val x = idx % 9
            val h = md.digest(s"$g|$x|$y".getBytes("UTF-8"))(0) & 0xff
            if (v == 1 && x == 0 && y == 0) (h + 17) % 256 else h
          }
          MultimodalOps.MediaRow(id, "image",
            MultimodalOps.encodePngGray(9, 8, lumas), "png", 9, 8, 0L)
        }
      wordPairs(MultimodalOps.decodeDHashes(media).toDF())
    }),

    // AUDIO NEAR-DUP DETECTION via REAL fingerprinting — q154's triangle
    // leg for sound, closing text (q52) / image (q154) / audio: each
    // document becomes a deterministic 260-sample mono PCM WAV (group
    // g = id/20 sets the waveform — q154's block-local geometry, see the
    // rationale there; variant v = id%2 perturbs one sample of frame 0),
    // the batched mapPartitions decode computes the
    // 64-bit energy-envelope fingerprint from losslessly-recovered
    // samples (bit f = frame f+1's exact integer energy exceeds frame
    // f's), and pairs within Hamming distance 3 are found through the
    // same pigeonhole-EXACT 16-bit band blocking as q154 — no all-pairs
    // scan, zero recall loss at the ≤3 contract. Per-sample amplitudes
    // are md5-derived, so cross-group envelope bits are independent fair
    // coins (Hamming ~ Binomial(64, ½), never ≤3) and the near-dup set
    // is exactly the within-group one: same-group/same-variant at
    // Hamming 0, cross-variant at ≤1 (only frame 0's energy moves).
    "q155_audio_fp_pairs" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val g = id / 20
          val v = (id % 2).toInt
          val md = java.security.MessageDigest.getInstance("MD5")
          val samples = Array.tabulate[Short](65 * 4) { idx =>
            val f = idx / 4
            val j = idx % 4
            val a0 = md.digest(s"$g|$f|$j".getBytes("UTF-8"))(0) & 0xff
            val a = if (v == 1 && f == 0 && j == 0) (a0 + 17) % 256 else a0
            ((a - 128) * 64).toShort
          }
          MultimodalOps.MediaRow(id, "audio",
            MultimodalOps.encodeWav(8000, samples), "wav", 0, 0, 0L)
        }
      wordPairs(MultimodalOps.decodeAudioFingerprints(media).toDF())
    }))

  def oracles: Map[String, String] = Map(
    "q37_media_meta" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |    unhex(md5(text)) AS payload,
        |    CAST(n_chars % 640 AS INTEGER) AS width,
        |    CAST(n_chars % 480 AS INTEGER) AS height,
        |    CAST(n_chars * 10 AS BIGINT) AS duration_ms
        |  FROM documents),
        |r AS (
        |  SELECT *, least(CAST(1.0 AS DOUBLE),
        |           256 / greatest(width, height, 1)) AS scale
        |  FROM m)
        |SELECT doc_id, modality, CAST(octet_length(payload) AS INTEGER) AS n_bytes,
        |  width, height, duration_ms,
        |  CAST(ceil(width * scale) AS INTEGER) AS out_width,
        |  CAST(ceil(height * scale) AS INTEGER) AS out_height
        |FROM r ORDER BY doc_id""".stripMargin,
    "q67_image_decode" ->
      """SELECT doc_id, true AS decoded,
        |  CAST(1 + doc_id % 8 AS INTEGER) AS img_width,
        |  CAST(1 + doc_id % 5 AS INTEGER) AS img_height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_luma
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Video: per-frame solid grays sum exactly; the mean mirrors the
    // decoder's CAST(sum AS DOUBLE) / (3.0 * npix) op order, where
    // sum = 3·w·h·Σc and npix = w·h·nf.
    "q144_video_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    1 + doc_id % 4 AS w, 1 + doc_id % 3 AS h,
        |    1 + doc_id % 5 AS nf
        |  FROM documents),
        |f AS (SELECT doc_id, w, h, nf, unnest(range(nf)) AS k FROM d),
        |c AS (SELECT doc_id, w, h, nf, (31 * doc_id + 17 * k) % 256 AS gray
        |      FROM f),
        |a AS (
        |  SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
        |    any_value(nf) AS nf,
        |    CAST(3 * any_value(w) * any_value(h) * SUM(gray) AS BIGINT) AS s
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, true AS decoded,
        |  CAST(nf AS INTEGER) AS n_frames,
        |  CAST(w AS INTEGER) AS vid_width, CAST(h AS INTEGER) AS vid_height,
        |  CAST(s AS DOUBLE) / (3.0 * CAST(w * h * nf AS BIGINT)) AS mean_luma
        |FROM a ORDER BY doc_id""".stripMargin,
    "q132_audio_decode" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 16 AS n FROM documents),
        |s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM d),
        |q AS (SELECT doc_id, n, (doc_id + 7 * i) % 2048 - 1024 AS v FROM s),
        |a AS (SELECT doc_id, any_value(n) AS n, sum(v * v) AS ss
        |      FROM q GROUP BY doc_id)
        |SELECT doc_id, true AS decoded,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(n AS BIGINT) AS n_samples,
        |  sqrt(CAST(ss AS DOUBLE) / n) AS rms
        |FROM a ORDER BY doc_id""".stripMargin,
    "q57_frame_manifest" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(n_chars * 10 AS BIGINT) AS duration_ms
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, duration_ms,
        |    greatest(CAST(1 AS BIGINT), duration_ms // 1000) AS n_frames
        |  FROM m)
        |SELECT doc_id, duration_ms, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(unnest(range(0, n_frames)) AS BIGINT) AS frame_id,
        |  CAST(unnest(range(0, n_frames)) * 1000 AS BIGINT) AS offset_ms
        |FROM f ORDER BY doc_id, frame_id""".stripMargin,
    // AVI raw-DIB mirror: uncompressed frames are lossless, so every pixel
    // of the per-frame gradient — hence the exact channel sum and the
    // decoder's sum/(3·npix) division — is predicted arithmetically.
    "q180_avi_video_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    2 + doc_id % 5 AS w, 1 + doc_id % 4 AS h,
        |    1 + doc_id % 6 AS nf
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, nf,
        |    (7 * doc_id + 13 * k + 31 * x + 17 * y) % 256 AS l
        |  FROM d
        |  CROSS JOIN range(0, 6) tk(k)
        |  CROSS JOIN range(0, 7) tx(x)
        |  CROSS JOIN range(0, 4) ty(y)
        |  WHERE k < nf AND x < w AND y < h),
        |a AS (
        |  SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
        |    any_value(nf) AS nf,
        |    CAST(3 * SUM(l) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS npix
        |  FROM px GROUP BY doc_id)
        |SELECT doc_id, true AS decoded,
        |  CAST(nf AS INTEGER) AS n_frames,
        |  CAST(w AS INTEGER) AS vid_width, CAST(h AS INTEGER) AS vid_height,
        |  CAST(s AS DOUBLE) / (3.0 * npix) AS mean_luma
        |FROM a ORDER BY doc_id""".stripMargin,

    // dHash mirror: PNG is lossless, so every pixel of the pattern fixture
    // — hence every hash bit, band key, candidate, and Hamming distance —
    // is predicted arithmetically from (g, v).
    "q154_image_phash_pairs" ->
      """WITH d0 AS (
        |  SELECT doc_id, doc_id // 20 AS g, doc_id % 2 AS v
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, (y * 8 + x) AS i,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(g AS VARCHAR) || '|' || CAST(x + 1 AS VARCHAR) || '|' || CAST(y AS VARCHAR)), 1, 2) AS BIGINT)
        |           > (CAST('0x' || substr(md5(CAST(g AS VARCHAR) || '|' || CAST(x AS VARCHAR) || '|' || CAST(y AS VARCHAR)), 1, 2) AS BIGINT)
        |              + (CASE WHEN v = 1 AND x = 0 AND y = 0 THEN 17 ELSE 0 END)) % 256
        |         THEN 1 ELSE 0 END AS b
        |  FROM d0
        |  CROSS JOIN range(0, 8) tx(x)
        |  CROSS JOIN range(0, 8) ty(y)),
        |bandv AS (
        |  SELECT doc_id, i // 16 AS band,
        |    CAST(SUM(b * (1 << (i % 16))) AS INTEGER) AS key
        |  FROM bits GROUP BY 1, 2),
        |hash AS (
        |  SELECT doc_id,
        |    MAX(CASE WHEN band = 0 THEN key END) AS b0,
        |    MAX(CASE WHEN band = 1 THEN key END) AS b1,
        |    MAX(CASE WHEN band = 2 THEN key END) AS b2,
        |    MAX(CASE WHEN band = 3 THEN key END) AS b3
        |  FROM bandv GROUP BY doc_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM bandv a JOIN bandv b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT c.da, c.db,
        |  CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
        |     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
        |    AS INTEGER) AS hamming
        |FROM cand c
        |JOIN hash ha ON ha.doc_id = c.da
        |JOIN hash hb ON hb.doc_id = c.db
        |WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
        |    + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 3
        |ORDER BY da, db""".stripMargin,
    // Audio-fingerprint mirror: WAV is lossless, so every 16-bit sample of
    // the md5-derived fixture — hence every exact frame energy, envelope
    // bit, band key, candidate, and Hamming distance — is predicted
    // arithmetically from (g, v). Same band/hash/cand tail as q154.
    "q155_audio_fp_pairs" ->
      """WITH d0 AS (
        |  SELECT doc_id, doc_id // 20 AS g, doc_id % 2 AS v
        |  FROM documents),
        |raw AS (
        |  SELECT doc_id, f, j, v,
        |    CAST('0x' || substr(md5(CAST(g AS VARCHAR) || '|' || CAST(f AS VARCHAR) || '|' || CAST(j AS VARCHAR)), 1, 2) AS BIGINT) AS a0
        |  FROM d0
        |  CROSS JOIN range(0, 65) tf(f)
        |  CROSS JOIN range(0, 4) tj(j)),
        |sm AS (
        |  SELECT doc_id, f,
        |    ((CASE WHEN v = 1 AND f = 0 AND j = 0 THEN (a0 + 17) % 256
        |           ELSE a0 END) - 128) * 64 AS s
        |  FROM raw),
        |en AS (SELECT doc_id, f, SUM(s * s) AS e FROM sm GROUP BY 1, 2),
        |bits AS (
        |  SELECT doc_id, i, b FROM (
        |    SELECT doc_id, f AS i,
        |      CASE WHEN LEAD(e) OVER (PARTITION BY doc_id ORDER BY f) > e
        |           THEN 1 ELSE 0 END AS b
        |    FROM en) t
        |  WHERE i < 64),
        |bandv AS (
        |  SELECT doc_id, i // 16 AS band,
        |    CAST(SUM(b * (1 << (i % 16))) AS INTEGER) AS key
        |  FROM bits GROUP BY 1, 2),
        |hash AS (
        |  SELECT doc_id,
        |    MAX(CASE WHEN band = 0 THEN key END) AS b0,
        |    MAX(CASE WHEN band = 1 THEN key END) AS b1,
        |    MAX(CASE WHEN band = 2 THEN key END) AS b2,
        |    MAX(CASE WHEN band = 3 THEN key END) AS b3
        |  FROM bandv GROUP BY doc_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM bandv a JOIN bandv b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT c.da, c.db,
        |  CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
        |     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
        |    AS INTEGER) AS hamming
        |FROM cand c
        |JOIN hash ha ON ha.doc_id = c.da
        |JOIN hash hb ON hb.doc_id = c.db
        |WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
        |    + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 3
        |ORDER BY da, db""".stripMargin
  )
}
