package graft.registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.MultimodalOps
import Fixtures._

/** Multimodal plumbing: image, audio and video decode, features and
  * near-duplicate pairs (decode stubbed; schema and batching real).
  */
object MultimodalQueries extends Family {

  query("media_decode") { (s, dir) =>
    // all three decode paths under oracle: every 5th doc carries a
    // REAL PNG header (signature + IHDR) hitting the true IHDR parse,
    // every 5th-plus-one a REAL JPEG prefix (SOI + APP0 + SOF0)
    // hitting the true marker walk - both with dims from doc_id
    // arithmetic, emitted spec-compliant by synthPng/JpegHeader; the
    // rest carry raw text payloads hitting the md5-derived stand-in.
    // The oracle replays the real-format dims from the same doc_id
    // arithmetic and the raw dims from its own md5.
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").withColumn("payload",
        when(col("doc_id") % 5 === 0,
          MultimodalOps.synthPngHeader(
            lit(1) + col("doc_id") % 1024,
            lit(1) + (col("doc_id") * 7) % 1024))
          .when(col("doc_id") % 5 === 1,
            MultimodalOps.synthJpegHeader(
              lit(1) + (col("doc_id") * 3) % 2048,
              lit(1) + (col("doc_id") * 11) % 2048))
          .otherwise(encode(col("text"), "utf-8"))),
      "doc_id", "payload", "image")
    MultimodalOps.decodeAndFeaturize(media)
      .select(col("media_id"), col("width"), col("height"), col("format"),
        size(col("features")).as("n_features"))
  }(
    """SELECT doc_id AS media_id,
      |       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 + doc_id % 1024
      |                 WHEN doc_id % 5 = 1 THEN 1 + (doc_id * 3) % 2048
      |                 WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 0
      |                 ELSE 64 + (('0x' || substr(md5(text), 1, 8))::BIGINT % 1920) END AS INT) AS width,
      |       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 + (doc_id * 7) % 1024
      |                 WHEN doc_id % 5 = 1 THEN 1 + (doc_id * 11) % 2048
      |                 WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 0
      |                 ELSE 64 + (('0x' || substr(md5(text), 9, 8))::BIGINT % 1080) END AS INT) AS height,
      |       CASE WHEN doc_id % 5 = 0 THEN 'png'
      |            WHEN doc_id % 5 = 1 THEN 'jpeg'
      |            WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 'empty' ELSE 'raw' END AS format,
      |       CAST(16 AS INT) AS n_features
      |FROM documents""".stripMargin)
  query("media_resize") { (s, dir) =>
    // decode -> fit-in-box resize planning (256x256, aspect preserved,
    // no upscale). Dimension math is exact IEEE double arithmetic on
    // the md5 pseudo-dims, so the oracle replays decode AND resize.
    val media = MultimodalOps.asMedia(
      tbl(s, dir, "documents").withColumn("payload", encode(col("text"), "utf-8")),
      "doc_id", "payload", "image")
    MultimodalOps.resizeMeta(
        MultimodalOps.decodeAndFeaturize(media), targetW = 256, targetH = 256)
      .select(col("media_id"), col("width"), col("height"),
        col("out_w"), col("out_h"), col("scale"))
  }(
    """WITH dims AS (
      |  SELECT doc_id AS media_id,
      |         CAST(CASE WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 0
      |                   ELSE 64 + (('0x' || substr(md5(text), 1, 8))::BIGINT % 1920) END AS INT) AS width,
      |         CAST(CASE WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 0
      |                   ELSE 64 + (('0x' || substr(md5(text), 9, 8))::BIGINT % 1080) END AS INT) AS height
      |  FROM documents
      |), scaled AS (
      |  SELECT media_id, width, height,
      |         width > 0 AND height > 0 AS valid,
      |         CASE WHEN width > 0 AND height > 0
      |              THEN least(256 / width::DOUBLE, 256 / height::DOUBLE, 1.0)
      |              ELSE 1.0 END AS s
      |  FROM dims
      |)
      |SELECT media_id, width, height,
      |       CAST(CASE WHEN valid THEN greatest(1, floor(width * s)) ELSE 0 END AS INT) AS out_w,
      |       CAST(CASE WHEN valid THEN greatest(1, floor(height * s)) ELSE 0 END AS INT) AS out_h,
      |       round(s, 6) AS scale
      |FROM scaled""".stripMargin)
  query("media_features") { (s, dir) =>
    // the REAL encoder (PatchProjectionModel): fixed-weight byte conv
    // + mod-residual nonlinearity + dense ReLU head, all integer so
    // the Float outputs are exact and the oracle replays the entire
    // forward pass from hex(payload) byte extraction in SQL
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").withColumn("payload", encode(col("text"), "utf-8")),
      "doc_id", "payload", "image")
    val feats = MultimodalOps.decodeAndFeaturize(
      media, MultimodalOps.PatchProjectionModel)
    feats.select(col("media_id") +:
      (0 until 8).map(j => element_at(col("features"), j + 1).as(s"f$j")): _*)
  } {
    // full replay of PatchProjectionModel's forward pass: bytes from
    // hex(payload) pairs, then the shared ppForwardCtes tail - all
    // integer, so REAL outputs match the JVM floats bit-for-bit
    val outer = (0 until 8).map(j =>
      s"coalesce(f$j, CAST(0 AS REAL)) AS f$j").mkString(", ")
    s"""WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |         least(octet_length(encode(text)), 256) AS n
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, hx, unnest(generate_series(0, CAST(n AS INT) - 1)) AS i FROM b
      |), bv AS (
      |  SELECT doc_id, i % 8 AS u,
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT AS byte
      |  FROM idx
      |), $ppForwardCtes
      |SELECT d.doc_id AS media_id, $outer
      |FROM documents d LEFT JOIN piv USING (doc_id)""".stripMargin
  }
  query("media_pixels") { (s, dir) =>
    // PIXEL-level path: real PNGs (deflate-compressed scanlines, CRC'd
    // chunks, written by the library's own minimal encoder) -> real
    // inflate + defilter decode -> nearest-neighbor 8x8 resample ->
    // integer pixel stats. The oracle replays the stats from the
    // per-pixel formula, never touching the compressed representation.
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 24).toInt
          val h = 8 + ((id * 3) % 24).toInt
          (id, MultimodalOps.synthPngImageBytes(id, w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "image")
    MultimodalOps.decodeResizePixels(media, outW = 8, outH = 8)
      .select(col("media_id"), col("width"), col("height"), col("channels"),
        col("px_sum"), col("px_tl"), col("px_tr"), col("px_bl"), col("px_br"))
  }(
    // pixel-formula replay: resampled pixel (i,j) reads source pixel
    // (sy, sx) = ((i*h)//8, (j*w)//8) whose value is
    // (sx*7 + sy*13 + doc_id) % 256 - all integer
    """WITH d AS (
      |  SELECT doc_id, CAST(8 + doc_id % 24 AS INT) AS w,
      |         CAST(8 + (doc_id * 3) % 24 AS INT) AS h
      |  FROM documents
      |), px AS (
      |  SELECT doc_id, w, h, i, j,
      |         ((((j * w) // 8) * 7 + ((i * h) // 8) * 13 + doc_id) % 256) AS p
      |  FROM d
      |  CROSS JOIN generate_series(0, 7) ii(i)
      |  CROSS JOIN generate_series(0, 7) jj(j)
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(p) AS BIGINT) AS px_sum,
      |         CAST(MAX(CASE WHEN i = 0 AND j = 0 THEN p END) AS INT) AS px_tl,
      |         CAST(MAX(CASE WHEN i = 0 AND j = 7 THEN p END) AS INT) AS px_tr,
      |         CAST(MAX(CASE WHEN i = 7 AND j = 0 THEN p END) AS INT) AS px_bl,
      |         CAST(MAX(CASE WHEN i = 7 AND j = 7 THEN p END) AS INT) AS px_br
      |  FROM px GROUP BY doc_id
      |)
      |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height,
      |       CAST(1 AS INT) AS channels,
      |       a.px_sum, a.px_tl, a.px_tr, a.px_bl, a.px_br
      |FROM d JOIN agg a USING (doc_id)""".stripMargin)
  query("media_audio_fp") { (s, dir) =>
    // audio fingerprint: real WAV decode -> 65 window energies ->
    // 64-bit difference hash; the oracle replays the hash from the
    // integer sample formula
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val seed = id % 29
          val n = 325 + (seed % 7).toInt * 50
          (id, MultimodalOps.synthWavPcmBytes(seed, 8000, n))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "audio")
    MultimodalOps.audioDHash(media).select(col("media_id"), col("afp"))
  }(
    // audio fingerprint replay: sample i of seed s is
    // ((i*37 + s*11) % 4096) - 2048 (synthWavPcmBytes); window of
    // sample i is (i*65)//n; bit k set iff window k+1 is louder than
    // window k. Same min-BIGINT literal rule for bit 63.
    """WITH d AS (
      |  SELECT doc_id, doc_id % 29 AS seed,
      |         CAST(325 + (doc_id % 29 % 7) * 50 AS INT) AS n
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, CAST((i * 65) // n AS INT) AS w,
      |         abs(((i * 37 + seed * 11) % 4096) - 2048) AS a
      |  FROM (SELECT doc_id, seed, n,
      |          unnest(generate_series(0, n - 1)) AS i FROM d)
      |), e AS (
      |  SELECT doc_id, w, CAST(SUM(a) AS BIGINT) AS nrg
      |  FROM s GROUP BY doc_id, w
      |), b AS (
      |  SELECT lo.doc_id,
      |    CASE WHEN hi.nrg > lo.nrg
      |         THEN (CASE WHEN lo.w = 63 THEN (-9223372036854775807 - 1)
      |                    ELSE (1::BIGINT << lo.w) END)
      |         ELSE 0::BIGINT END AS bit
      |  FROM e lo JOIN e hi ON lo.doc_id = hi.doc_id AND hi.w = lo.w + 1
      |)
      |SELECT doc_id AS media_id, bit_or(bit) AS afp
      |FROM b GROUP BY doc_id""".stripMargin)
  query("media_audio_dup") { (s, dir) =>
    // audio near-dup pairs: seeds collide mod 29, the pigeonhole
    // Hamming join finds every pair within radius 2 losslessly
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val seed = id % 29
          val n = 325 + (seed % 7).toInt * 50
          (id, MultimodalOps.synthWavPcmBytes(seed, 8000, n))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "audio")
    MultimodalOps.audioDupPairs(media, maxHamming = 2)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }(
    """WITH d AS (
      |  SELECT doc_id, doc_id % 29 AS seed,
      |         CAST(325 + (doc_id % 29 % 7) * 50 AS INT) AS n
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, CAST((i * 65) // n AS INT) AS w,
      |         abs(((i * 37 + seed * 11) % 4096) - 2048) AS a
      |  FROM (SELECT doc_id, seed, n,
      |          unnest(generate_series(0, n - 1)) AS i FROM d)
      |), e AS (
      |  SELECT doc_id, w, CAST(SUM(a) AS BIGINT) AS nrg
      |  FROM s GROUP BY doc_id, w
      |), b AS (
      |  SELECT lo.doc_id,
      |    CASE WHEN hi.nrg > lo.nrg
      |         THEN (CASE WHEN lo.w = 63 THEN (-9223372036854775807 - 1)
      |                    ELSE (1::BIGINT << lo.w) END)
      |         ELSE 0::BIGINT END AS bit
      |  FROM e lo JOIN e hi ON lo.doc_id = hi.doc_id AND hi.w = lo.w + 1
      |), hsh AS (
      |  SELECT doc_id, bit_or(bit) AS afp FROM b GROUP BY doc_id
      |)
      |SELECT a.doc_id AS id_a, z.doc_id AS id_b,
      |       CAST(bit_count(xor(a.afp, z.afp)) AS INT) AS hamming
      |FROM hsh a JOIN hsh z
      |  ON a.doc_id < z.doc_id
      | AND bit_count(xor(a.afp, z.afp)) <= 2""".stripMargin)
  query("media_dhash") { (s, dir) =>
    // perceptual image fingerprint: real PNG decode -> 9x8 luma grid
    // -> 64-bit difference hash, all integer; the oracle replays the
    // hash from the pixel formula (bit 63 via the min-BIGINT literal)
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 24).toInt
          val h = 8 + ((id * 3) % 24).toInt
          (id, MultimodalOps.synthPngImageBytes(id, w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "image")
    MultimodalOps.imageDHash(media).select(col("media_id"), col("dhash"))
  }(
    // dHash bit x of row y is set iff the 9x8 luma grid's pixel (x+1)
    // beats pixel x; grid pixel (y, xx) reads source ((y*h)//8, (xx*w)//9)
    // whose gray value is the synth formula. Bit 63 cannot be built as
    // 1<<63 in DuckDB (signed overflow raise) - the min-BIGINT literal
    // IS that bit pattern.
    """WITH d AS (
      |  SELECT doc_id, CAST(8 + doc_id % 24 AS INT) AS w,
      |         CAST(8 + (doc_id * 3) % 24 AS INT) AS h
      |  FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    CASE WHEN ((((x + 1) * w) // 9) * 7 + ((y * h) // 8) * 13 + doc_id) % 256 >
      |              (((x * w) // 9) * 7 + ((y * h) // 8) * 13 + doc_id) % 256
      |         THEN (CASE WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
      |                    ELSE (1::BIGINT << CAST(y * 8 + x AS INT)) END)
      |         ELSE 0::BIGINT END AS bit
      |  FROM d
      |  CROSS JOIN generate_series(0, 7) yy(y)
      |  CROSS JOIN generate_series(0, 7) xx(x)
      |)
      |SELECT doc_id AS media_id, bit_or(bit) AS dhash
      |FROM b GROUP BY doc_id""".stripMargin)
  query("media_dup_pairs") { (s, dir) =>
    // image near-dup pairs: payload seeds collide mod 37, so ~1/37 of
    // the corpus shares each image byte-for-byte; the pigeonhole
    // Hamming join finds every pair within radius 2 LOSSLESSLY, which
    // is exactly what the oracle's O(n^2) replay computes
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val seed = id % 37
          val w = 8 + (seed % 24).toInt
          val h = 8 + ((seed * 3) % 24).toInt
          (id, MultimodalOps.synthPngImageBytes(seed, w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "image")
    MultimodalOps.imageDupPairs(media, maxHamming = 2)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }(
    """WITH d AS (
      |  SELECT doc_id, doc_id % 37 AS seed,
      |         CAST(8 + (doc_id % 37) % 24 AS INT) AS w,
      |         CAST(8 + ((doc_id % 37) * 3) % 24 AS INT) AS h
      |  FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    CASE WHEN ((((x + 1) * w) // 9) * 7 + ((y * h) // 8) * 13 + seed) % 256 >
      |              (((x * w) // 9) * 7 + ((y * h) // 8) * 13 + seed) % 256
      |         THEN (CASE WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
      |                    ELSE (1::BIGINT << CAST(y * 8 + x AS INT)) END)
      |         ELSE 0::BIGINT END AS bit
      |  FROM d
      |  CROSS JOIN generate_series(0, 7) yy(y)
      |  CROSS JOIN generate_series(0, 7) xx(x)
      |), hsh AS (
      |  SELECT doc_id, bit_or(bit) AS dhash FROM b GROUP BY doc_id
      |)
      |SELECT a.doc_id AS id_a, e.doc_id AS id_b,
      |       CAST(bit_count(xor(a.dhash, e.dhash)) AS INT) AS hamming
      |FROM hsh a JOIN hsh e
      |  ON a.doc_id < e.doc_id
      | AND bit_count(xor(a.dhash, e.dhash)) <= 2""".stripMargin)
  query("media_jpeg_pixels") { (s, dir) =>
    // JPEG pixel path: real baseline JPEGs (canonical Huffman entropy
    // coding, DC prediction, byte stuffing, written by the library's
    // own encoder with block-constant content + unit quant tables, so
    // the lossy format round-trips EXACTLY) -> real Huffman+IDCT
    // decode -> the same resample + integer stats as media_pixels.
    // The oracle replays the stats from the per-BLOCK formula.
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 24).toInt
          val h = 8 + ((id * 3) % 24).toInt
          (id, MultimodalOps.synthJpegImageBytes(id, w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "image")
    MultimodalOps.decodeResizePixels(media, outW = 8, outH = 8)
      .select(col("media_id"), col("width"), col("height"), col("channels"),
        col("px_sum"), col("px_tl"), col("px_tr"), col("px_bl"), col("px_br"))
  }(
    // block-formula replay: resampled pixel (i,j) reads source pixel
    // (sy, sx) = ((i*h)//8, (j*w)//8), whose 8x8 BLOCK carries the
    // constant ((sx//8)*7 + (sy//8)*13 + doc_id) % 256 - the DC-only
    // + unit-quant construction makes the lossy codec exact
    """WITH d AS (
      |  SELECT doc_id, CAST(8 + doc_id % 24 AS INT) AS w,
      |         CAST(8 + (doc_id * 3) % 24 AS INT) AS h
      |  FROM documents
      |), px AS (
      |  SELECT doc_id, w, h, i, j,
      |         (((((j * w) // 8) // 8) * 7 + (((i * h) // 8) // 8) * 13 + doc_id) % 256) AS p
      |  FROM d
      |  CROSS JOIN generate_series(0, 7) ii(i)
      |  CROSS JOIN generate_series(0, 7) jj(j)
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(p) AS BIGINT) AS px_sum,
      |         CAST(MAX(CASE WHEN i = 0 AND j = 0 THEN p END) AS INT) AS px_tl,
      |         CAST(MAX(CASE WHEN i = 0 AND j = 7 THEN p END) AS INT) AS px_tr,
      |         CAST(MAX(CASE WHEN i = 7 AND j = 0 THEN p END) AS INT) AS px_bl,
      |         CAST(MAX(CASE WHEN i = 7 AND j = 7 THEN p END) AS INT) AS px_br
      |  FROM px GROUP BY doc_id
      |)
      |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height,
      |       CAST(1 AS INT) AS channels,
      |       a.px_sum, a.px_tl, a.px_tr, a.px_bl, a.px_br
      |FROM d JOIN agg a USING (doc_id)""".stripMargin)
  query("media_video_frames") { (s, dir) =>
    // the video frame path: real MJPEG-in-MP4 containers (full ISO
    // BMFF box tree by the library's own writer), the sample-table
    // walk (stsd/stsz/stsc/stco) pulls each frame's JPEG bytes, the
    // baseline decoder yields pixels, and the same 8x8 resample
    // stats as media_jpeg_pixels come out PER FRAME. The oracle
    // replays the per-frame block formula - container and codec
    // bytes never enter the compare.
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 24).toInt
          val h = 8 + ((id * 3) % 24).toInt
          val n = 2 + (id % 3).toInt
          (id, MultimodalOps.synthMjpegVideoBytes(
            (0 until n).map(f => id * 4 + f), w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "video")
    MultimodalOps.decodeResizePixels(MultimodalOps.videoFrames(media),
        outW = 8, outH = 8)
      .select(col("media_id"), col("frame_idx"), col("width"), col("height"),
        col("px_sum"), col("px_tl"), col("px_br"))
  }(
    // per-frame block-formula replay: frame f of doc's video carries
    // seed doc_id*4+f; the 8x8 resample reads source ((i*h)//8,(j*w)//8)
    // whose block value is ((sx//8)*7 + (sy//8)*13 + seed) % 256
    """WITH d AS (
      |  SELECT doc_id, CAST(8 + doc_id % 24 AS INT) AS w,
      |         CAST(8 + (doc_id * 3) % 24 AS INT) AS h,
      |         CAST(2 + doc_id % 3 AS INT) AS n
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, w, h, CAST(f AS INT) AS f, doc_id * 4 + f AS seed
      |  FROM d CROSS JOIN generate_series(0, 3) ff(f)
      |  WHERE f < n
      |), px AS (
      |  SELECT doc_id, f, w, h, i, j,
      |         (((((j * w) // 8) // 8) * 7 +
      |           (((i * h) // 8) // 8) * 13 + seed) % 256) AS p
      |  FROM fr
      |  CROSS JOIN generate_series(0, 7) ii(i)
      |  CROSS JOIN generate_series(0, 7) jj(j)
      |)
      |SELECT doc_id AS media_id, f AS frame_idx, w AS width, h AS height,
      |       CAST(SUM(p) AS BIGINT) AS px_sum,
      |       CAST(MAX(CASE WHEN i = 0 AND j = 0 THEN p END) AS INT) AS px_tl,
      |       CAST(MAX(CASE WHEN i = 7 AND j = 7 THEN p END) AS INT) AS px_br
      |FROM px GROUP BY doc_id, f, w, h""".stripMargin)
  query("media_video_features") { (s, dir) =>
    // frame-level video embeddings: MJPEG demux -> per-frame JPEG
    // pixel decode -> 16x16 resample -> PatchProjection forward pass
    // OVER FRAME PIXELS, frame_idx riding the media frame through
    // the whole chain - the video counterpart of
    // media_pixel_features, sharing its forward-pass oracle tail
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 24).toInt
          val h = 8 + ((id * 3) % 24).toInt
          val n = 2 + (id % 3).toInt
          (id, MultimodalOps.synthMjpegVideoBytes(
            (0 until n).map(f => id * 4 + f), w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "video")
    MultimodalOps.decodeResizeFeaturize(MultimodalOps.videoFrames(media),
        outW = 16, outH = 16, model = MultimodalOps.PatchProjectionModel)
      .select(Seq(col("media_id"), col("frame_idx"), col("width"), col("height")) ++
        (0 until 8).map(j => element_at(col("features"), j + 1).as(s"f$j")): _*)
  }(
    // per-frame replay keyed on the frame seed (doc_id*4+f) riding
    // through the shared PatchProjection forward-pass tail as its
    // surrogate doc_id
    s"""WITH d AS (
      |  SELECT doc_id, CAST(8 + doc_id % 24 AS INT) AS w,
      |         CAST(8 + (doc_id * 3) % 24 AS INT) AS h,
      |         CAST(2 + doc_id % 3 AS INT) AS n
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, w, h, CAST(f AS INT) AS f, doc_id * 4 + f AS seed
      |  FROM d CROSS JOIN generate_series(0, 3) ff(f)
      |  WHERE f < n
      |), bv AS (
      |  SELECT seed AS doc_id, (i * 16 + j) % 8 AS u,
      |         (((((j * w) // 16) // 8) * 7 +
      |           (((i * h) // 16) // 8) * 13 + seed) % 256) AS byte
      |  FROM fr
      |  CROSS JOIN generate_series(0, 15) ii(i)
      |  CROSS JOIN generate_series(0, 15) jj(j)
      |), $ppForwardCtes
      |SELECT fr.doc_id AS media_id, fr.f AS frame_idx,
      |       fr.w AS width, fr.h AS height,
      |       p.f0, p.f1, p.f2, p.f3, p.f4, p.f5, p.f6, p.f7
      |FROM fr JOIN piv p ON p.doc_id = fr.seed""".stripMargin)
  query("media_video_dup") { (s, dir) =>
    // video near-dup: frame seeds collide mod 97 (frame f of any two
    // same-class videos is byte-identical), frame dHashes pair
    // through the shared pigeonhole Hamming engine, matches fold to
    // the video pair with the frame-match count - near-dup closure
    // across all four modalities (text, image, audio, video). Seeds
    // sit in the wrap-heavy 160..255 band: DC-only block-constant
    // frames carry coarse gradients, and only the mod-256 wrap makes
    // dHash seed-sensitive; radius 0 keeps the (still deliberately
    // broad) collision families deterministic on both engines.
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val vs = id % 97
          val w = 16 + (vs % 7).toInt * 8
          val h = 16 + ((vs * 3) % 5).toInt * 8
          val n = 2 + (id % 3).toInt
          (id, MultimodalOps.synthMjpegVideoBytes(
            (0 until n).map(f => 160 + (vs * 4 + f) * 31 % 96), w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "video")
    MultimodalOps.videoDupPairs(media, maxHamming = 0)
  }(
    // frame dHash replay + O(n^2) frame-pair join folded to video
    // pairs - the composite-key order (doc*65536+f) with doc_a <>
    // doc_b reduces to doc_a < doc_b
    """WITH d AS (
      |  SELECT doc_id, doc_id % 97 AS vs,
      |         CAST(16 + ((doc_id % 97) % 7) * 8 AS INT) AS w,
      |         CAST(16 + (((doc_id % 97) * 3) % 5) * 8 AS INT) AS h,
      |         CAST(2 + doc_id % 3 AS INT) AS n
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, CAST(f AS INT) AS f, w, h,
      |         160 + (vs * 4 + f) * 31 % 96 AS seed
      |  FROM d CROSS JOIN generate_series(0, 3) ff(f)
      |  WHERE f < n
      |), b AS (
      |  SELECT doc_id, f,
      |    CASE WHEN (((((x + 1) * w) // 9) // 8) * 7 +
      |               (((y * h) // 8) // 8) * 13 + seed) % 256 >
      |              ((((x * w) // 9) // 8) * 7 +
      |               (((y * h) // 8) // 8) * 13 + seed) % 256
      |         THEN (CASE WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
      |                    ELSE (1::BIGINT << CAST(y * 8 + x AS INT)) END)
      |         ELSE 0::BIGINT END AS bit
      |  FROM fr
      |  CROSS JOIN generate_series(0, 7) yy(y)
      |  CROSS JOIN generate_series(0, 7) xx(x)
      |), hsh AS (
      |  SELECT doc_id, f, bit_or(bit) AS dh FROM b GROUP BY doc_id, f
      |)
      |SELECT a.doc_id AS id_a, z.doc_id AS id_b,
      |       CAST(count(*) AS BIGINT) AS n_frame_matches
      |FROM hsh a JOIN hsh z
      |  ON a.doc_id < z.doc_id
      | AND bit_count(xor(a.dh, z.dh)) <= 0
      |GROUP BY a.doc_id, z.doc_id""".stripMargin)
  query("media_video_scenes") { (s, dir) =>
    // shot-boundary detection: consecutive-frame dHash Hamming
    // distance over the same MJPEG fixture as media_video_dup (the
    // 31-step seed walk makes real cuts); frame 0 always opens a
    // scene. ONE per-video window after the embarrassingly-parallel
    // decode.
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val vs = id % 97
          val w = 16 + (vs % 7).toInt * 8
          val h = 16 + ((vs * 3) % 5).toInt * 8
          val n = 2 + (id % 3).toInt
          (id, MultimodalOps.synthMjpegVideoBytes(
            (0 until n).map(f => 160 + (vs * 4 + f) * 31 % 96), w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "video")
    MultimodalOps.videoSceneChanges(media, threshold = 8)
  }(
    // the media_video_dup dHash replay chain + a per-video lag window
    """WITH d AS (
      |  SELECT doc_id, doc_id % 97 AS vs,
      |         CAST(16 + ((doc_id % 97) % 7) * 8 AS INT) AS w,
      |         CAST(16 + (((doc_id % 97) * 3) % 5) * 8 AS INT) AS h,
      |         CAST(2 + doc_id % 3 AS INT) AS n
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, CAST(f AS INT) AS f, w, h,
      |         160 + (vs * 4 + f) * 31 % 96 AS seed
      |  FROM d CROSS JOIN generate_series(0, 3) ff(f)
      |  WHERE f < n
      |), b AS (
      |  SELECT doc_id, f,
      |    CASE WHEN (((((x + 1) * w) // 9) // 8) * 7 +
      |               (((y * h) // 8) // 8) * 13 + seed) % 256 >
      |              ((((x * w) // 9) // 8) * 7 +
      |               (((y * h) // 8) // 8) * 13 + seed) % 256
      |         THEN (CASE WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
      |                    ELSE (1::BIGINT << CAST(y * 8 + x AS INT)) END)
      |         ELSE 0::BIGINT END AS bit
      |  FROM fr
      |  CROSS JOIN generate_series(0, 7) yy(y)
      |  CROSS JOIN generate_series(0, 7) xx(x)
      |), hsh AS (
      |  SELECT doc_id, f, bit_or(bit) AS dh FROM b GROUP BY doc_id, f
      |), lg AS (
      |  SELECT doc_id, f, dh,
      |         lag(dh) OVER (PARTITION BY doc_id ORDER BY f) AS pdh
      |  FROM hsh
      |)
      |SELECT doc_id AS media_id, f AS frame_idx,
      |  CAST(CASE WHEN pdh IS NULL THEN NULL
      |       ELSE bit_count(xor(dh, pdh)) END AS INT) AS hamming_prev,
      |  (pdh IS NULL OR bit_count(xor(dh, pdh)) >= 8) AS scene_change
      |FROM lg""".stripMargin)
  query("media_pixel_features") { (s, dir) =>
    // the full inference shape: real PNG encode -> pixel decode ->
    // resample to the encoder's 16x16 (= 256-byte receptive field) ->
    // PatchProjection forward pass OVER PIXELS. The oracle replays
    // pixels from the formula and the forward pass from the weights -
    // compressed bytes never enter the feature math.
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 24).toInt
          val h = 8 + ((id * 3) % 24).toInt
          (id, MultimodalOps.synthPngImageBytes(id, w, h))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "image")
    MultimodalOps.decodeResizeFeaturize(media, outW = 16, outH = 16,
        model = MultimodalOps.PatchProjectionModel)
      .select(Seq(col("media_id"), col("width"), col("height")) ++
        (0 until 8).map(j => element_at(col("features"), j + 1).as(s"f$j")): _*)
  } {
    // chained replay: pixel formula -> 16x16 nearest resample ->
    // the shared ppForwardCtes tail (u = byte index mod 8)
    s"""WITH d AS (
      |  SELECT doc_id, CAST(8 + doc_id % 24 AS INT) AS w,
      |         CAST(8 + (doc_id * 3) % 24 AS INT) AS h
      |  FROM documents
      |), bv AS (
      |  SELECT doc_id, (i * 16 + j) % 8 AS u,
      |         ((((j * w) // 16) * 7 + ((i * h) // 16) * 13 + doc_id) % 256) AS byte
      |  FROM d
      |  CROSS JOIN generate_series(0, 15) ii(i)
      |  CROSS JOIN generate_series(0, 15) jj(j)
      |), $ppForwardCtes
      |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height,
      |       p.f0, p.f1, p.f2, p.f3, p.f4, p.f5, p.f6, p.f7
      |FROM d JOIN piv p USING (doc_id)""".stripMargin
  }
  query("media_audio_features") { (s, dir) =>
    // sample-level audio path: real PCM WAV encode -> real 16-bit LE
    // sample decode -> integer signal features (energy, zero
    // crossings, peak). The oracle replays the sample formula and the
    // window arithmetic; compressed/container bytes never enter it.
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, MultimodalOps.synthWavPcmBytes(id, 8000, (500 + id % 1000).toInt))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "audio")
    MultimodalOps.decodeAudioFeatures(media)
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("energy"), col("zero_crossings"), col("peak"))
  }(
    // per-sample replay: v_i = ((i*37 + doc_id*11) % 4096) - 2048,
    // energy/zero-crossing/peak via the same integer window arithmetic
    """WITH d AS (
      |  SELECT doc_id, CAST(500 + doc_id % 1000 AS INT) AS n FROM documents
      |), s AS (
      |  SELECT doc_id, unnest(generate_series(0, n - 1)) AS i, n FROM d
      |), sv AS (
      |  SELECT doc_id, i, ((i * 37 + doc_id * 11) % 4096) - 2048 AS v FROM s
      |), sl AS (
      |  SELECT doc_id, v,
      |         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |  FROM sv
      |), feat AS (
      |  SELECT doc_id,
      |         CAST(SUM(v * v) AS BIGINT) AS energy,
      |         CAST(SUM(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS INT) AS zero_crossings,
      |         CAST(MAX(abs(v)) AS INT) AS peak
      |  FROM sl GROUP BY doc_id
      |)
      |SELECT d.doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
      |       d.n AS n_samples, f.energy, f.zero_crossings, f.peak
      |FROM d JOIN feat f USING (doc_id)""".stripMargin)
  query("media_sniff") { (s, dir) =>
    // trust-the-bytes content typing: six REAL container classes
    // (every generator here writes spec-compliant bytes) dispatched
    // purely on magic prefixes - declared Content-Type never enters.
    // The oracle replays the class formula; the sniff itself is the
    // thing under test.
    import s.implicits._
    val blobs = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val payload = (id % 6) match {
          case 0 => MultimodalOps.synthPngImageBytes(id, 8, 8)
          case 1 => MultimodalOps.synthJpegImageBytes(id, 8, 8)
          case 2 => MultimodalOps.synthWavPcmBytes(id, 8000, 100)
          case 3 => MultimodalOps.synthMjpegVideoBytes(Seq(id), 8, 8)
          case 4 =>
            val bos = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(s"doc $id".getBytes("UTF-8")); gz.close()
            bos.toByteArray
          case _ => s"<html><body>doc $id</body></html>".getBytes("UTF-8")
        }
        (id, payload)
      }).toDF("doc_id", "payload")
    blobs.select(col("doc_id"),
      MultimodalOps.sniffMime(col("payload")).as("mime"))
  }(
    // the class formula; the Spark side must SNIFF its way back to it
    """SELECT doc_id,
      |  CASE doc_id % 6
      |    WHEN 0 THEN 'image/png'
      |    WHEN 1 THEN 'image/jpeg'
      |    WHEN 2 THEN 'audio/wav'
      |    WHEN 3 THEN 'video/mp4'
      |    WHEN 4 THEN 'application/gzip'
      |    ELSE 'text/html' END AS mime
      |FROM documents""".stripMargin)
  query("media_audio_segments") { (s, dir) =>
    // silence-based segmentation (VAD-lite): gated PCM fixture -
    // every third 100-sample block silent - windows of 100, energy
    // floor, gaps-and-islands segment ids. Decode embarrassingly
    // parallel; ONE per-clip window.
    import s.implicits._
    val media = MultimodalOps.asMedia(
      tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, MultimodalOps.synthWavPcmGatedBytes(
            id, 8000, (500 + id % 1000).toInt, 100))
        }).toDF("doc_id", "payload"),
      "doc_id", "payload", "audio")
    MultimodalOps.audioSegments(media,
        windowSamples = 100, silenceEnergy = 1000000L)
      .select(col("media_id"), col("win_idx"), col("energy"),
        col("is_silent"), col("segment_id"))
  }(
    // gated sample formula replayed per (window, offset); the gate
    // block size equals the window size, so silence IS win_idx%3=2;
    // two window stages (lag nested in a running SUM is illegal)
    """WITH d AS (
      |  SELECT doc_id, CAST(500 + doc_id % 1000 AS INT) AS n FROM documents
      |), w AS (
      |  SELECT doc_id, CAST(wi AS INT) AS win_idx
      |  FROM d CROSS JOIN generate_series(0, 14) ww(wi)
      |  WHERE (wi + 1) * 100 <= n
      |), smp AS (
      |  SELECT doc_id, win_idx,
      |    CASE WHEN win_idx % 3 = 2 THEN 0
      |         ELSE ((win_idx * 100 + k) * 37 + doc_id * 11) % 4096 - 2048
      |    END AS v
      |  FROM w CROSS JOIN generate_series(0, 99) kk(k)
      |), e AS (
      |  SELECT doc_id, win_idx, CAST(SUM(v * v) AS BIGINT) AS energy
      |  FROM smp GROUP BY 1, 2
      |), t AS (
      |  SELECT doc_id, win_idx, energy, energy < 1000000 AS is_silent,
      |    coalesce(lag(energy < 1000000)
      |      OVER (PARTITION BY doc_id ORDER BY win_idx), true) AS prev_silent
      |  FROM e
      |), g AS (
      |  SELECT doc_id, win_idx, energy, is_silent,
      |    SUM(CASE WHEN NOT is_silent AND prev_silent THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY win_idx) AS seg
      |  FROM t
      |)
      |SELECT doc_id AS media_id, win_idx, energy, is_silent,
      |  CAST(CASE WHEN is_silent THEN NULL ELSE seg - 1 END AS INT) AS segment_id
      |FROM g""".stripMargin)
  query("media_av_decode") { (s, dir) =>
    // audio/video metadata decode, all four paths under oracle: every
    // 3rd doc a REAL 44-byte WAV header (RIFF + PCM fmt + data size)
    // hitting the true chunk walk, every 3rd-plus-one a REAL 232-byte
    // MP4 (ftyp + moov(mvhd, trak(tkhd))) hitting the true box walk -
    // both with fields from doc_id arithmetic, emitted spec-compliant
    // by synthWav/Mp4Header; the rest raw text ('unknown'/'empty').
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").withColumn("payload",
        when(col("doc_id") % 3 === 0,
          MultimodalOps.synthWavHeader(
            lit(8000) * (lit(1) + col("doc_id") % 6),
            lit(1) + col("doc_id") % 2,
            lit(1000) + (col("doc_id") * 13) % 100000))
          .when(col("doc_id") % 3 === 1,
            MultimodalOps.synthMp4Header(
              lit(16) + col("doc_id") % 640,
              lit(16) + (col("doc_id") * 3) % 480,
              lit(600) * (lit(1) + col("doc_id") % 5),
              (col("doc_id") * 7) % 1000000))
          .otherwise(encode(col("text"), "utf-8"))),
      "doc_id", "payload", "av")
    MultimodalOps.decodeAv(media)
      .select(col("media_id"), col("format"), col("sample_rate"),
        col("channels"), col("duration_ms"), col("width"), col("height"))
  }(
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'wav'
      |       WHEN doc_id % 3 = 1 THEN 'mp4'
      |       WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 'empty'
      |       ELSE 'unknown' END AS format,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8000 * (1 + doc_id % 6) ELSE 0 END AS INT) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 2 ELSE 0 END AS INT) AS channels,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN
      |         ((1000 + (doc_id * 13) % 100000) * 1000)
      |           // (8000 * (1 + doc_id % 6) * (1 + doc_id % 2) * 2)
      |       WHEN doc_id % 3 = 1 THEN
      |         (((doc_id * 7) % 1000000) * 1000) // (600 * (1 + doc_id % 5))
      |       ELSE 0 END AS BIGINT) AS duration_ms,
      |  CAST(CASE WHEN doc_id % 3 = 1 THEN 16 + doc_id % 640 ELSE 0 END AS INT) AS width,
      |  CAST(CASE WHEN doc_id % 3 = 1 THEN 16 + (doc_id * 3) % 480 ELSE 0 END AS INT) AS height
      |FROM documents""".stripMargin)
  query("media_pipeline") { (s, dir) =>
    // the END-TO-END multimodal pipeline, mirroring docs_pipeline:
    // synthesize mixed payloads (real PNG headers + raw bytes) ->
    // decode -> featurize through the REAL encoder -> near-dup bucket
    // on the quantized embedding -> keep-best (min id) per bucket.
    // Every stage is individually oracled; this query oracles the
    // COMPOSITION - the DuckDB replay chains header construction,
    // byte-level forward pass, quantization, and survivor selection.
    val media = MultimodalOps.asMedia(
      tbl(s, dir, "documents").withColumn("payload",
        when(col("doc_id") % 5 === 0,
          MultimodalOps.synthPngHeader(
            lit(1) + col("doc_id") % 1024,
            lit(1) + (col("doc_id") * 7) % 1024))
          .otherwise(encode(col("text"), "utf-8"))),
      "doc_id", "payload", "image")
    val feats = MultimodalOps.decodeAndFeaturize(
      media, MultimodalOps.PatchProjectionModel)
    // embedding quantization: features are exact integers, so >> 6 is
    // a deterministic 64-wide bucket - ANN-style near-dup at coarse
    // resolution, replayable bit-for-bit
    val bucketed = feats.select(Seq(col("media_id"), col("width"),
      col("height"), col("format")) ++
      (0 until 8).map(j =>
        shiftright(element_at(col("features"), j + 1).cast(LongType), 6)
          .as(s"b$j")): _*)
    bucketed
      .groupBy(col("format") +: (0 until 8).map(j => col(s"b$j")): _*)
      .agg(
        min(col("media_id")).as("media_id"),
        count(lit(1)).as("n_members"),
        min_by(col("width"), col("media_id")).as("width"),
        min_by(col("height"), col("media_id")).as("height"))
      .select(col("media_id"), col("n_members"), col("width"),
        col("height"), col("format"))
  } {
    // chained replay: PNG-header hex construction (same lpad(hex())
    // encoding synthPngHeader uses) -> the PatchProjectionModel
    // forward pass from hex pairs -> decode dims -> quantized-bucket
    // keep-best
    val qb = (0 until 8).map(j =>
      s"CAST(coalesce(f$j, CAST(0 AS REAL)) AS BIGINT) >> 6 AS b$j").mkString(", ")
    val bs = (0 until 8).map(j => s"b$j").mkString(", ")
    s"""WITH pay AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 5 = 0 THEN
      |           '89504E470D0A1A0A0000000D49484452' ||
      |           lpad(hex(1 + doc_id % 1024), 8, '0') ||
      |           lpad(hex(1 + (doc_id * 7) % 1024), 8, '0') ||
      |           '080600000000000000'
      |         ELSE hex(encode(text)) END AS hx,
      |         CASE WHEN doc_id % 5 = 0 THEN 'png'
      |              WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 'empty'
      |              ELSE 'raw' END AS format,
      |         CAST(CASE WHEN doc_id % 5 = 0 THEN 1 + doc_id % 1024
      |                   WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 0
      |                   ELSE 64 + (('0x' || substr(md5(text), 1, 8))::BIGINT % 1920) END AS INT) AS width,
      |         CAST(CASE WHEN doc_id % 5 = 0 THEN 1 + (doc_id * 7) % 1024
      |                   WHEN coalesce(octet_length(encode(text)), 0) = 0 THEN 0
      |                   ELSE 64 + (('0x' || substr(md5(text), 9, 8))::BIGINT % 1080) END AS INT) AS height
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, hx,
      |         unnest(generate_series(0, CAST(least(length(hx) // 2, 256) AS INT) - 1)) AS i
      |  FROM pay
      |), bv AS (
      |  SELECT doc_id, i % 8 AS u,
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT AS byte
      |  FROM idx
      |), $ppForwardCtes, buck AS (
      |  SELECT p.doc_id, p.format, p.width, p.height, $qb
      |  FROM pay p LEFT JOIN piv USING (doc_id)
      |)
      |SELECT min(doc_id) AS media_id, count(*) AS n_members,
      |       min_by(width, doc_id) AS width, min_by(height, doc_id) AS height,
      |       format
      |FROM buck GROUP BY format, $bs""".stripMargin
  }
  query("media_chunks") { (s, dir) =>
    // frame-sampling plumbing: every 2nd 64-byte chunk; output is
    // chunk METADATA (id, index, byte count) so the whole explode/
    // substring pipeline is oracle-checkable without binary compares
    val media = MultimodalOps.asMedia(
      tblS(s, dir, "documents").withColumn("payload", encode(col("text"), "utf-8")),
      "doc_id", "payload", "video")
    MultimodalOps.sampleChunks(media, chunkBytes = 64, stride = 2)
      .select(col("media_id"),
        col("chunk_idx").cast(IntegerType).as("chunk_idx"),
        length(col("chunk")).cast(IntegerType).as("chunk_bytes"))
  }(
    """WITH b AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
      |), c AS (
      |  SELECT doc_id, n,
      |         unnest(generate_series(0, CAST(ceil(n / 64.0) AS INT) - 1)) AS idx
      |  FROM b
      |)
      |SELECT doc_id AS media_id, CAST(idx AS INT) AS chunk_idx,
      |       CAST(least(64, n - idx * 64) AS INT) AS chunk_bytes
      |FROM c WHERE idx % 2 = 0""".stripMargin)

  /** acc/outj/piv CTE tail of the PatchProjectionModel forward-pass
    * replay (conv sum, mod-9973 residual, dense ReLU head pivoted to
    * f0..f7 REAL columns). Expects a preceding CTE `bv(doc_id, u, byte)`
    * - byte values with their position-mod-8 kernel row. ONE builder
    * shared by the three media oracles (features / pixel_features /
    * pipeline) so the replays cannot drift from each other when the
    * model changes - same rule as the quantile CTE builder.
    */
  private lazy val ppForwardCtes: String = {
    val f = (0 until 8).map(j =>
      s"CAST(greatest(coalesce(MAX(CASE WHEN j = $j THEN o END), 0), 0) AS REAL) AS f$j")
      .mkString(",\n         ")
    s"""acc AS (
      |  SELECT doc_id, k, SUM(byte * (((u * 31 + k * 17 + 7) % 13) - 6)) AS a
      |  FROM bv CROSS JOIN generate_series(0, 7) ks(k)
      |  GROUP BY doc_id, k
      |), outj AS (
      |  SELECT doc_id, j,
      |         SUM((((a % 9973) + 9973) % 9973) * (((k * 7 + j * 5 + 1) % 11) - 5)) AS o
      |  FROM acc CROSS JOIN generate_series(0, 7) js(j)
      |  GROUP BY doc_id, j
      |), piv AS (
      |  SELECT doc_id,
      |         $f
      |  FROM outj GROUP BY doc_id
      |)""".stripMargin
  }
}
