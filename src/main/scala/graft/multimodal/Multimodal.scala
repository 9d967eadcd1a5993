package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.hash.Fnv1a32
import graft.oracle.Ora

/** A multimodal asset row: opaque binary payload + typed metadata. At scale
  * this is the schema for image/audio/video columns — payloads stay opaque
  * `binary`, metadata is columnar and prunable, and decode runs batched per
  * partition so a real decoder amortizes init cost across a partition. */
case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte],
    width: Int, height: Int)

/** Features extracted by the (stubbed) decoder. */
case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
    byte_sum: Long, checksum: Long)

/** Per-asset frame-sampling summary (video pipeline). */
case class FrameSample(doc_id: Long, n_frames: Long, n_sampled: Long,
    checksum_sum: Long)

/** Per-asset resize summary (image pipeline). */
case class ResizedImage(doc_id: Long, out_w: Int, out_h: Int,
    pixel_sum: Long)

/** Per-image output of the REAL P6 decoder: parsed header fields plus
  * per-channel pixel statistics — every value read out of actual
  * container bytes by [[Ppm.parse]]. */
case class PpmDecoded(doc_id: Long, ok: Boolean, width: Long, height: Long,
    max_val: Long, n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long)

/** Per-asset output of the REAL WAV decoder: the parsed fmt fields plus
  * amplitude statistics folded over the data chunk (amplitude = sample
  * − 128, the 8-bit PCM midline). */
case class WavDecoded(doc_id: Long, ok: Boolean, sample_rate: Long,
    n_samples: Long, sum_abs_dev: Long, sum_sq_dev: Long,
    zero_crossings: Long)

/** Per-asset output of the REAL Y4M decoder: parsed header dims, frame
  * count, and the sampled-frame luma statistics. */
case class Y4mDecoded(doc_id: Long, ok: Boolean, width: Long, height: Long,
    n_frames: Long, n_sampled: Long, luma_sum: Long)

/** One frame-boundary row of the scene-cut detector: the L1 luma+chroma
  * delta between a frame and its predecessor, and the cut decision. */
case class SceneCut(doc_id: Long, frame: Long, delta_sum: Long,
    is_cut: Boolean)

/** Per-clip audio fingerprint: the energy-contour bits (bit w set when
  * window w+1 is louder than window w) packed into one long. */
case class AudioFp(doc_id: Long, n_windows: Long, fingerprint: Long)

/** Multimodal-column plumbing: schema, partitioning, and batched decode.
  *
  * Every modality is real end-to-end: assets carry actual binary
  * containers — PPM (`P6`) images, RIFF/WAVE PCM audio, YUV4MPEG2
  * video — synthesized deterministically from the document text (the
  * fixtures ship no media), and each is decoded by a REAL pure-JVM
  * parser ([[Ppm.parse]], [[Wav.parse]], [[Y4m.parse]]) whose outputs
  * (header fields, pixel/sample/frame statistics) feed the queries.
  * The codec seam now covers only COMPRESSED formats (JPEG/MP3/H.264…),
  * which genuinely need native libraries this container lacks —
  * [[decodeStub]] remains as the labeled byte-stat fallback for them.
  * The plumbing around the parsers is the part a 100 TB pipeline must
  * get right regardless of codec: the binary column derivation, the
  * typed-metadata schema, the per-partition batch shape
  * (`mapPartitions` over a `Dataset[MediaRow]`, the Scala analog of a
  * vectorized/pandas UDF), the media-type partitioning, the quarantine
  * routing, and the downstream aggregation.
  */
object Multimodal extends graft.QueryModule {

  /** CODEC SEAM (audio/video only — images go through [[Ppm.parse]]):
    * derives features deterministically from the payload bytes so the
    * pipeline stays oracle-checkable without native codecs. */
  def decodeStub(r: MediaRow): MediaFeatures = {
    var byteSum = 0L
    var i = 0
    while (i < r.payload.length) {
      byteSum += r.payload(i) & 0xff
      i += 1
    }
    MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, byteSum,
      Fnv1a32.hashBytes(r.payload))
  }

  /** Catalog of media assets derived from `documents`: payload = the raw
    * text bytes standing in for encoded media; metadata deterministic. */
  def catalog(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (substring(col("source"), 4, 10).cast("int") % 3 + 1).cast("int"))
        .as("media_type"),
      col("text").cast("binary").as("payload"),
      (lit(64) + (col("doc_id") % 16) * 32).cast("int").as("width"),
      (lit(48) + (col("doc_id") % 9) * 24).cast("int").as("height"))

  // -- the real image path: deterministic PPM assets + a real parser ------

  /** Real-PPM asset geometry: thumbnail-sized so the byte-exact oracle
    * (which rebuilds every container byte in SQL) stays cheap at sf0.1 —
    * 8..15 x 6..11 pixels, ~200-500 container bytes per asset. */
  def ppmW(docId: Long): Int = (8 + docId % 8).toInt
  def ppmH(docId: Long): Int = (6 + docId % 6).toInt

  /** Build the actual P6 container for an image asset. The raster is a
    * deterministic function of the document text (the fixtures carry no
    * real media): R cycles through the text bytes, G is the photographic
    * negative 255-R, B is a per-asset constant — chosen so every channel
    * statistic has a closed-form DuckDB derivation while the bytes on
    * the wire remain a fully valid image any PPM viewer opens. */
  def encodePpm(docId: Long, text: Array[Byte]): Array[Byte] = {
    val w = ppmW(docId)
    val h = ppmH(docId)
    val pixels = new Array[Byte](3 * w * h)
    val len = text.length
    val b = (docId % 256).toByte
    var p = 0
    while (p < w * h) {
      val r = if (len == 0) 0 else text(p % len) & 0xff
      pixels(3 * p) = r.toByte
      pixels(3 * p + 1) = (255 - r).toByte
      pixels(3 * p + 2) = b
      p += 1
    }
    Ppm.encode(w, h, pixels)
  }

  // -- the real audio path: deterministic WAV assets + a real parser ------

  /** WAV asset geometry: 200-596 samples per asset — the same
    * keep-the-byte-exact-oracle-cheap sizing rule as the PPM path. */
  val WavRate = 8000
  def wavN(docId: Long): Int = (200 + (docId % 100) * 4).toInt

  /** The 8-bit PCM samples for an audio asset: the text bytes cycled
    * with a position ramp, so the waveform crosses the midline (the
    * zero-crossing statistic has signal) while every sample stays a
    * two-op derivation DuckDB can rebuild. */
  def wavSamples(docId: Long, text: Array[Byte]): Array[Byte] = {
    val len = text.length
    Array.tabulate(wavN(docId)) { i =>
      (((if (len == 0) 0 else text(i % len) & 0xff) + i) % 256).toByte
    }
  }

  def encodeWavAsset(docId: Long, text: Array[Byte]): Array[Byte] =
    Wav.encode(WavRate, wavSamples(docId, text))

  // -- the real video path: deterministic Y4M assets + a real parser ------

  /** Y4M asset geometry: 4-7 × 3-5 px, 4-11 frames — tiny for the same
    * byte-exact-oracle reason as the PPM/WAV paths. */
  def y4mW(docId: Long): Int = (4 + docId % 4).toInt
  def y4mH(docId: Long): Int = (3 + docId % 3).toInt
  def y4mFrames(docId: Long): Int = (4 + docId % 8).toInt

  /** Plane byte at position `p` of frame `f`: the text bytes cycled,
    * shifted by the frame index — every frame differs, every byte has a
    * two-op DuckDB derivation. */
  def y4mPlaneByte(text: Array[Byte], f: Int, p: Int): Int = {
    val len = text.length
    ((if (len == 0) 0 else text(p % len) & 0xff) + f) % 256
  }

  def encodeY4mAsset(docId: Long, text: Array[Byte]): Array[Byte] = {
    val w = y4mW(docId)
    val h = y4mH(docId)
    val frames = (0 until y4mFrames(docId)).map { f =>
      Array.tabulate(3 * w * h)(p => y4mPlaneByte(text, f, p).toByte)
    }
    Y4m.encode(w, h, frames)
  }

  // -- segmented synthesis: the round-9 revival of the two ops dropped in
  // round 8 as fixture-vacuous. The plain assets' frame bytes are
  // (text[p] + f) % 256 — a uniform +1/frame ramp with NO scene
  // structure (every frame delta identical → scene cuts undetectable),
  // and the plain audio ramp collapsed the energy contour to ~80
  // distinct values over 175 clips. These SEGMENTED variants jump the
  // text read offset every few frames/samples, giving each clip real
  // internal structure (cuts at known boundaries, a text-dependent
  // loudness contour) while every byte keeps a closed-form DuckDB
  // derivation — the same discipline as the plain assets.

  /** Frames per scene segment and the per-segment text-offset jump. */
  val SegLen = 4
  val SegJump = 7

  /** A frame boundary is a CUT when the mean per-byte delta clears this
    * factor: within a segment the delta is exactly 1 per byte (the +f
    * ramp, never wrapping — text bytes ≤ 0xF4 + f ≤ 10 < 256), across a
    * segment boundary it is text-difference-sized. */
  val CutFactor = 8L

  def y4mCutPlaneByte(text: Array[Byte], f: Int, p: Int): Int = {
    val len = text.length
    ((if (len == 0) 0
      else text((p + SegJump * (f / SegLen)) % len) & 0xff) + f) % 256
  }

  def encodeY4mCutAsset(docId: Long, text: Array[Byte]): Array[Byte] = {
    val w = y4mW(docId)
    val h = y4mH(docId)
    Y4m.encode(w, h, (0 until y4mFrames(docId)).map { f =>
      Array.tabulate(3 * w * h)(p => y4mCutPlaneByte(text, f, p).toByte)
    })
  }

  /** Samples per audio segment and its text-offset jump. */
  val FpSegSamples = 50
  val FpSegJump = 11

  def wavFpSample(text: Array[Byte], i: Int): Int = {
    val len = text.length
    ((if (len == 0) 0
      else text((i + FpSegJump * (i / FpSegSamples)) % len) & 0xff) + i) % 256
  }

  def encodeWavFpAsset(docId: Long, text: Array[Byte]): Array[Byte] =
    Wav.encode(WavRate,
      Array.tabulate(wavN(docId))(i => wavFpSample(text, i).toByte))

  /** The catalog with REAL payloads: every modality carries an actual
    * container — PPM images, RIFF/WAVE audio, YUV4MPEG2 video — each
    * parsed by a real pure-JVM decoder downstream. The codec seam now
    * covers only COMPRESSED formats (JPEG/MP3/H.264...), which
    * genuinely need native libraries this container lacks. */
  def mediaAssets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    catalog(s, dir).as[MediaRow].mapPartitions(_.map { r =>
      r.media_type match {
        case "image" =>
          r.copy(payload = encodePpm(r.doc_id, r.payload),
            width = ppmW(r.doc_id), height = ppmH(r.doc_id))
        case "audio" => r.copy(payload = encodeWavAsset(r.doc_id, r.payload))
        case _ =>
          r.copy(payload = encodeY4mAsset(r.doc_id, r.payload),
            width = y4mW(r.doc_id), height = y4mH(r.doc_id))
      }
    }).toDF()
  }

  /** Every [[CorruptEvery]]-th validatable asset arrives damaged in the
    * quarantine exercise. */
  val CorruptEvery = 13

  /** Token-budget geometry: ViT-style PatchW x PatchH pixel patches and
    * an [[AudioHop]]-sample audio frame hop. */
  val PatchW = 2
  val PatchH = 2
  val AudioHop = 10

  /** Real-pixel thumbnail geometry (media_thumbnail). */
  val ThumbW = 4
  val ThumbH = 3

  /** Frame-energy gate for the VAD-style audio activity query: a frame
    * of [[AudioHop]] samples is "active" when its squared-amplitude sum
    * clears this (integer-exact) threshold. */
  val VadThreshold = 40000L

  /** Tokens for a w x h raster: ceil-div patches per axis. */
  def patches(w: Long, h: Long): Long =
    ((w + PatchW - 1) / PatchW) * ((h + PatchH - 1) / PatchH)

  /** The quarantine fixture: [[mediaAssets]] with a deterministic
    * corruption — the last byte truncated on every CorruptEvery-th
    * asset (the interrupted upload). One missing byte is guaranteed
    * fatal to all three parsers: PPM requires the raster to exactly
    * fill the remaining bytes, WAV's RIFF size field no longer matches
    * the payload, and Y4M's final frame plane comes up short. */
  def corruptedAssets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaAssets(s, dir).as[MediaRow].mapPartitions(_.map { r =>
      if (r.doc_id % CorruptEvery == 0)
        r.copy(payload = java.util.Arrays.copyOf(r.payload,
          math.max(0, r.payload.length - 1)))
      else r
    }).toDF()
  }

  /** REAL image decode: parse the container, read the header, fold the
    * raster's per-channel sums. A parse failure poisons the row with -1s
    * (loud in every downstream compare) rather than crashing the stage. */
  def decodePpm(r: MediaRow): PpmDecoded = Ppm.parse(r.payload) match {
    case Some(img) =>
      var sr = 0L; var sg = 0L; var sb = 0L
      var p = 0
      while (p < img.pixels.length) {
        sr += img.pixels(p) & 0xff
        sg += img.pixels(p + 1) & 0xff
        sb += img.pixels(p + 2) & 0xff
        p += 3
      }
      PpmDecoded(r.doc_id, ok = true, img.width.toLong, img.height.toLong,
        img.maxVal.toLong, img.width.toLong * img.height, sr, sg, sb)
    case None =>
      PpmDecoded(r.doc_id, ok = false, -1, -1, -1, -1, -1, -1, -1)
  }

  /** Image features for the per-type decode stats, computed from the
    * REAL parse: n_bytes is the container size, byte_sum the decoded
    * raster's bytes (header excluded — it's pixel statistics, not file
    * statistics), checksum the engine hash of the container. */
  def decodeImage(r: MediaRow): MediaFeatures = {
    val d = decodePpm(r)
    MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong,
      if (d.ok) d.sum_r + d.sum_g + d.sum_b else -1L,
      Fnv1a32.hashBytes(r.payload))
  }

  /** dHash geometry: [[DhRows]]×[[DhCols]] horizontal gray comparisons
    * over a ([[DhCols]]+1)-column nearest-neighbor sample grid — 64 bits,
    * carried as two non-negative 32-bit halves so neither engine's
    * BIGINT arithmetic ever touches the sign bit. */
  val DhRows = 8
  val DhCols = 8

  /** Near-dup gate on the 64-bit dHash: ≤ 3 differing bits. With the
    * hash split into 4 16-bit blocks, d ≤ 3 pigeonholes at least one
    * block equal — the exact-cover candidate rule the banded join uses. */
  val PhashHammingMax = 3

  /** Perceptual hashes (difference hash) over the REAL decoded rasters:
    * sample a ([[DhCols]]+1)×[[DhRows]] nearest-neighbor grid of
    * BT.601 integer luma (299R+587G+114B — no division, so the
    * comparisons are exact), set bit (r,c) when gray strictly decreases
    * left-to-right, and pack the 64 bits as (hash_hi, hash_lo). Parse
    * failures poison with -1s like every other decode. Map-only: one
    * pass over the image assets, no shuffle until the caller's sort. */
  private[graft] def imagePhash(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    mediaAssets(s, dir).filter(col("media_type") === "image")
      .repartition(DecodeParallelism, col("media_type"),
        pmod(hash(col("doc_id")), lit(DecodeParallelism)))
      .as[MediaRow]
      .mapPartitions(_.map { r =>
        Ppm.parse(r.payload) match {
          case Some(img) =>
            def gray(sx: Int, sy: Int): Long = {
              val p = 3 * (sy * img.width + sx)
              299L * (img.pixels(p) & 0xff) +
                587L * (img.pixels(p + 1) & 0xff) +
                114L * (img.pixels(p + 2) & 0xff)
            }
            var hi = 0L; var lo = 0L
            var row = 0
            while (row < DhRows) {
              val sy = row * img.height / DhRows
              var c = 0
              while (c < DhCols) {
                if (gray(c * img.width / (DhCols + 1), sy) >
                    gray((c + 1) * img.width / (DhCols + 1), sy)) {
                  val idx = row * DhCols + c
                  if (idx < 32) lo |= 1L << idx
                  else hi |= 1L << (idx - 32)
                }
                c += 1
              }
              row += 1
            }
            (r.doc_id, img.width.toLong, img.height.toLong, hi, lo)
          case None => (r.doc_id, -1L, -1L, -1L, -1L)
        }
      })
      .toDF("doc_id", "width", "height", "hash_hi", "hash_lo")
  }

  /** REAL audio decode: walk the RIFF chunks, validate the PCM fmt, and
    * fold the amplitude statistics over the data chunk. Same poison-on-
    * parse-failure contract as [[decodePpm]]. */
  def decodeWav(r: MediaRow): WavDecoded = Wav.parse(r.payload) match {
    case Some(a) =>
      var absDev = 0L; var sqDev = 0L; var zc = 0L
      var prevNeg = false
      var i = 0
      while (i < a.samples.length) {
        val amp = (a.samples(i) & 0xff) - 128
        absDev += math.abs(amp)
        sqDev += amp.toLong * amp
        val neg = amp < 0
        if (i > 0 && neg != prevNeg) zc += 1
        prevNeg = neg
        i += 1
      }
      WavDecoded(r.doc_id, ok = true, a.sampleRate.toLong,
        a.samples.length.toLong, absDev, sqDev, zc)
    case None => WavDecoded(r.doc_id, ok = false, -1, -1, -1, -1, -1)
  }

  /** Audio features for the per-type decode stats, from the REAL parse:
    * byte_sum is the data chunk's sample bytes (header excluded),
    * mirroring the image rule. */
  def decodeAudio(r: MediaRow): MediaFeatures = Wav.parse(r.payload) match {
    case Some(a) =>
      var s = 0L
      var i = 0
      while (i < a.samples.length) { s += a.samples(i) & 0xff; i += 1 }
      MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, s,
        Fnv1a32.hashBytes(r.payload))
    case None =>
      MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, -1L,
        Fnv1a32.hashBytes(r.payload))
  }

  /** REAL video decode: parse the Y4M stream and fold the frame-sample
    * statistics — header dims, frame count, and the luma (Y-plane) sum
    * of every [[FrameStep]]-th frame, the thumbnail-strip extraction a
    * video pipeline runs per asset. */
  def decodeY4m(r: MediaRow): Y4mDecoded = Y4m.parse(r.payload) match {
    case Some(v) =>
      val planeLen = v.width * v.height // the Y plane leads each frame
      var luma = 0L
      var sampled = 0L
      var f = 0
      while (f < v.frames.length) {
        if (f % FrameStep == 0) {
          var p = 0
          while (p < planeLen) { luma += v.frames(f)(p) & 0xff; p += 1 }
          sampled += 1
        }
        f += 1
      }
      Y4mDecoded(r.doc_id, ok = true, v.width.toLong, v.height.toLong,
        v.frames.length.toLong, sampled, luma)
    case None => Y4mDecoded(r.doc_id, ok = false, -1, -1, -1, -1, -1)
  }

  /** Video features for the per-type decode stats, from the REAL parse:
    * byte_sum is the decoded plane bytes across all frames (headers and
    * FRAME markers excluded), mirroring the image/audio rule. */
  def decodeVideo(r: MediaRow): MediaFeatures = Y4m.parse(r.payload) match {
    case Some(v) =>
      var s = 0L
      v.frames.foreach { fr =>
        var p = 0
        while (p < fr.length) { s += fr(p) & 0xff; p += 1 }
      }
      MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, s,
        Fnv1a32.hashBytes(r.payload))
    case None =>
      MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, -1L,
        Fnv1a32.hashBytes(r.payload))
  }

  /** Decode-stage parallelism. Repartitioning by `media_type` alone would
    * cap the stage at #media-types tasks (3) no matter the corpus size — a
    * serialization point at scale. At 100 TB set this to the cluster's
    * total core count. */
  val DecodeParallelism = 32

  /** The batched decode pipeline: repartition on a composite
    * (media_type, hash-salt) key for full parallelism, then sort each
    * partition by media type so rows of one type are contiguous — a real
    * decoder is (re)initialized only on type change, at most #types times
    * per partition, while the stage runs [[DecodeParallelism]]-wide. */
  def decoded(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaAssets(s, dir)
      .repartition(DecodeParallelism, col("media_type"),
        pmod(hash(col("doc_id")), lit(DecodeParallelism)))
      .sortWithinPartitions("media_type")
      .as[MediaRow]
      .mapPartitions(_.map(r => r.media_type match {
        case "image" => decodeImage(r)
        case "audio" => decodeAudio(r)
        case "video" => decodeVideo(r)
        case _ => decodeStub(r) // unknown type: byte-stat fallback
      }))
  }

  /** Frame geometry for the sampling stub: fixed-size byte "frames",
    * every [[FrameStep]]-th one decoded. A real video pipeline swaps the
    * frame boundaries for container keyframes and the checksum for a
    * decoded-frame feature; the Spark shape (filter pushdown on
    * media_type, batched per-partition extraction, per-asset summary) is
    * the part that must be right at 100 TB. */
  val FrameBytes = 16
  val FrameStep = 4

  /** REAL FRAME DECODER GOES HERE — deterministic byte-level stand-in. */
  def sampleFrames(r: MediaRow): FrameSample = {
    val len = r.payload.length
    val nFrames = (len + FrameBytes - 1) / FrameBytes
    var i = 0
    var sampled = 0L
    var sum = 0L
    while (i < nFrames) {
      if (i % FrameStep == 0) {
        val start = i * FrameBytes
        val end = math.min(start + FrameBytes, len)
        sum += Fnv1a32.hashBytes(
          java.util.Arrays.copyOfRange(r.payload, start, end))
        sampled += 1
      }
      i += 1
    }
    FrameSample(r.doc_id, nFrames.toLong, sampled, sum)
  }

  /** Resize target (a thumbnail). */
  val OutW = 32
  val OutH = 24
  // training-crop geometry: <= the catalog's minimum width/height, so
  // every image admits at least one crop position
  val CropW = 64
  val CropH = 48

  /** REAL RESIZE GOES HERE — nearest-neighbor over the payload treated as
    * a `width`×`height` byte grid (wrapping past the payload end, since
    * the stub's metadata dims are synthetic). The real thing decodes
    * pixels; the Spark-side shape — metadata-driven geometry, typed
    * batched execution, one summary row per asset — is what the pipeline
    * has to get right. */
  def resizeStub(r: MediaRow): ResizedImage = {
    val len = r.payload.length
    // zero-byte payload: nothing to sample — pixel_sum 0, not a crash
    // (the oracle's `% 0` would yield NULL; both engines pin 0 instead)
    if (len == 0) return ResizedImage(r.doc_id, OutW, OutH, 0L)
    var sum = 0L
    var ty = 0
    while (ty < OutH) {
      val srcY = ty * r.height / OutH
      var tx = 0
      while (tx < OutW) {
        val srcX = tx * r.width / OutW
        val pos = (srcY * r.width + srcX) % len
        sum += r.payload(pos) & 0xff
        tx += 1
      }
      ty += 1
    }
    ResizedImage(r.doc_id, OutW, OutH, sum)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the typed catalog: binary payload + prunable metadata
    "media_catalog" -> ((s, dir) =>
      catalog(s, dir)
        .select(col("doc_id"), col("media_type"),
          length(col("payload")).cast("long").as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy("doc_id")),

    // thumbnail resize over the image subset: metadata (width/height)
    // drives the geometry, extraction runs batched per partition
    "media_resize" -> ((s, dir) => {
      import s.implicits._
      catalog(s, dir).filter(col("media_type") === "image")
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map(resizeStub))
        .toDF()
        .orderBy("doc_id")
    }),

    // frame sampling over the video subset: media_type filter pushes to
    // the catalog scan, extraction runs batched per partition, output is
    // one summary row per asset
    "media_frame_sample" -> ((s, dir) => {
      import s.implicits._
      catalog(s, dir).filter(col("media_type") === "video")
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map(sampleFrames))
        .toDF()
        .orderBy("doc_id")
    }),

    // the REAL image decode, per asset: every output value is read out
    // of actual P6 container bytes by Ppm.parse — header dims/maxval
    // from the ASCII header, channel sums folded over the raster
    "media_ppm_decode" -> ((s, dir) => {
      import s.implicits._
      mediaAssets(s, dir).filter(col("media_type") === "image")
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map(decodePpm))
        .toDF()
        .orderBy("doc_id")
    }),

    // the REAL video decode, per asset: Y4M header + frame iteration +
    // sampled-frame luma extraction (the thumbnail strip)
    "media_y4m_frames" -> ((s, dir) => {
      import s.implicits._
      mediaAssets(s, dir).filter(col("media_type") === "video")
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map(decodeY4m))
        .toDF()
        .orderBy("doc_id")
    }),

    // REAL-pixel thumbnailing: geometry from the PARSED header, pixels
    // from the PARSED raster — nearest-neighbor to ThumbW x ThumbH with
    // per-channel sums (media_resize remains the opaque-blob exhibit;
    // this is the decoded-path version a real image pipeline runs)
    "media_thumbnail" -> ((s, dir) => {
      import s.implicits._
      mediaAssets(s, dir).filter(col("media_type") === "image")
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map { r =>
          Ppm.parse(r.payload) match {
            case Some(img) =>
              var sr = 0L; var sg = 0L; var sb = 0L
              var ty = 0
              while (ty < ThumbH) {
                val srcY = ty * img.height / ThumbH
                var tx = 0
                while (tx < ThumbW) {
                  val srcX = tx * img.width / ThumbW
                  val p = 3 * (srcY * img.width + srcX)
                  sr += img.pixels(p) & 0xff
                  sg += img.pixels(p + 1) & 0xff
                  sb += img.pixels(p + 2) & 0xff
                  tx += 1
                }
                ty += 1
              }
              (r.doc_id, ThumbW.toLong, ThumbH.toLong, sr, sg, sb)
            case None => (r.doc_id, -1L, -1L, -1L, -1L, -1L)
          }
        })
        .toDF("doc_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    }),

    // dHash perceptual signatures from the real rasters — the image-side
    // fingerprint every visual-dedup pipeline starts from
    "media_image_phash" -> ((s, dir) =>
      imagePhash(s, dir).orderBy("doc_id")),

    // Perceptual near-dup pairs: 4×16-bit banded candidate join over the
    // dHashes (d ≤ HammingMax pigeonholes ≥1 equal block, so the band
    // join is exact-cover, never corpus²), then the exact 64-bit
    // hamming verify on the candidate pairs only — the image twin of
    // the SimHash text dedup, sharing its scale shape
    "media_phash_neardup" -> ((s, dir) => {
      val ph = imagePhash(s, dir)
        .filter(col("hash_hi") >= 0) // drop poisoned parse failures
        .transform(graft.Materialize(_))
      val bands = ph.select(col("doc_id"),
        posexplode(array(
          expr("hash_lo & 65535"), expr("(hash_lo >> 16) & 65535"),
          expr("hash_hi & 65535"), expr("(hash_hi >> 16) & 65535")))
          .as(Seq("band", "bv")))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(ph.select(col("doc_id").as("doc_a"),
          col("hash_hi").as("hi_a"), col("hash_lo").as("lo_a")), "doc_a")
        .join(ph.select(col("doc_id").as("doc_b"),
          col("hash_hi").as("hi_b"), col("hash_lo").as("lo_b")), "doc_b")
        .withColumn("hamming",
          (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
            .cast("long"))
        .filter(col("hamming") <= PhashHammingMax)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }),

    // Tri-modal agreement measurement: for TEXT near-dup pairs whose
    // documents are both image-typed, what does the VISUAL hash say?
    // The honest answer on this fixture — and in any pipeline that
    // renders the same text at different geometries — is that dHash
    // agreement requires matching render dims (the raster cycles the
    // text through a doc-specific w×h), which is exactly what the
    // same_dims flag exposes. The companion measurement to
    // crossmodal_dup_agreement (text vs embedding); pair set is the
    // near-dup ledger's, so the join is pair-sized, never corpus²
    "crossmodal_visual_agreement" -> ((s, dir) => {
      val pairs = graft.dedup.DedupQueries
        .queries("dedup_ngram_jaccard")(s, dir)
      val ph = imagePhash(s, dir)
        .filter(col("hash_hi") >= 0) // drop poisoned parse failures —
        // the closed-form oracle assumes every image decodes, so a
        // -1-sentinel row entering the pair join would silently diverge
        // (ADVICE r8); matching media_phash_neardup's gate
        .transform(graft.Materialize(_))
      pairs
        .join(ph.select(col("doc_id").as("doc_a"),
          col("hash_hi").as("hi_a"), col("hash_lo").as("lo_a"),
          col("width").as("w_a"), col("height").as("h_a")), "doc_a")
        .join(ph.select(col("doc_id").as("doc_b"),
          col("hash_hi").as("hi_b"), col("hash_lo").as("lo_b"),
          col("width").as("w_b"), col("height").as("h_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
            .cast("long").as("hamming"),
          (col("w_a") === col("w_b") && col("h_a") === col("h_b"))
            .as("same_dims"))
        .orderBy("doc_a", "doc_b")
    }),

    // VAD-style activity detection over the REAL samples: frame the
    // decoded PCM into AudioHop-sample windows, integer frame energy
    // (sum of squared amplitudes), count frames clearing the gate —
    // the silence-trim / speech-segmentation primitive every audio
    // curation pipeline runs before anything expensive touches a clip
    "media_audio_vad" -> ((s, dir) => {
      import s.implicits._
      mediaAssets(s, dir).filter(col("media_type") === "audio")
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map { r =>
          Wav.parse(r.payload) match {
            case Some(a) =>
              val n = a.samples.length
              val nFrames = (n + AudioHop - 1) / AudioHop
              var active = 0L
              var total = 0L
              var f = 0
              while (f < nFrames) {
                var e = 0L
                var j = f * AudioHop
                val end = math.min(j + AudioHop, n)
                while (j < end) {
                  val amp = (a.samples(j) & 0xff) - 128
                  e += amp.toLong * amp
                  j += 1
                }
                if (e > VadThreshold) active += 1
                total += e
                f += 1
              }
              (r.doc_id, nFrames.toLong, active, total)
            case None => (r.doc_id, -1L, -1L, -1L)
          }
        })
        .toDF("doc_id", "n_frames", "n_active", "total_energy")
        .orderBy("doc_id")
    }),

    // gaps-and-islands over the VAD frames: contiguous active runs
    // (speech segments), the longest run, and the first/last active
    // frame (the trim points) — the segmentation step between raw VAD
    // and clip extraction in an audio curation pipeline. One pass over
    // the decoded samples per asset; run-length state is per-asset
    // local, so the stage stays map-only.
    "media_vad_segments" -> ((s, dir) => {
      import s.implicits._
      mediaAssets(s, dir).filter(col("media_type") === "audio")
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map { r =>
          Wav.parse(r.payload) match {
            case Some(a) =>
              val n = a.samples.length
              val nFrames = (n + AudioHop - 1) / AudioHop
              var active = 0L; var segments = 0L
              var cur = 0L; var longest = 0L
              var first = -1L; var last = -1L
              var f = 0
              while (f < nFrames) {
                var e = 0L
                var j = f * AudioHop
                val end = math.min(j + AudioHop, n)
                while (j < end) {
                  val amp = (a.samples(j) & 0xff) - 128
                  e += amp.toLong * amp
                  j += 1
                }
                if (e > VadThreshold) {
                  active += 1
                  if (cur == 0) segments += 1
                  cur += 1
                  if (cur > longest) longest = cur
                  if (first < 0) first = f.toLong
                  last = f.toLong
                } else cur = 0
                f += 1
              }
              (r.doc_id, nFrames.toLong, active, segments, longest,
                first, last)
            case None => (r.doc_id, -1L, -1L, -1L, -1L, -1L, -1L)
          }
        })
        .toDF("doc_id", "n_frames", "n_active", "n_segments",
          "longest_run", "first_active", "last_active")
        .orderBy("doc_id")
    }),

    // the REAL audio decode, per asset: RIFF chunk walk + fmt
    // validation + amplitude statistics over the data chunk
    "media_wav_decode" -> ((s, dir) => {
      import s.implicits._
      mediaAssets(s, dir).filter(col("media_type") === "audio")
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map(decodeWav))
        .toDF()
        .orderBy("doc_id")
    }),

    // ingest validation with error ROUTING: a deterministic fraction of
    // assets arrives corrupted (one byte truncated — the classic
    // interrupted-upload), the real parsers reject them — all three
    // modalities now validate — and the rejects route to a quarantine
    // relation instead of poisoning the pipeline or killing the stage.
    "media_quarantine" -> ((s, dir) => {
      import s.implicits._
      corruptedAssets(s, dir)
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.flatMap { r =>
          val ok = r.media_type match {
            case "image" => Ppm.parse(r.payload).isDefined
            case "audio" => Wav.parse(r.payload).isDefined
            // video AND any unknown type: mediaAssets falls back to the
            // Y4M encoder for both, so validate with that parser —
            // nothing bypasses quarantine unvalidated
            case _ => Y4m.parse(r.payload).isDefined
          }
          if (ok) None
          else Some((r.doc_id, r.media_type, r.payload.length.toLong))
        })
        .toDF("doc_id", "media_type", "n_bytes")
        .orderBy("doc_id")
    }),

    // training-token accounting over the PARSED geometry — the budget
    // a multimodal training mix is planned against: images cost one
    // token per PatchW x PatchH patch (ViT-style), audio one per
    // AudioHop samples, video its sampled frames x patches. Every
    // width/height/sample/frame count comes out of the real parsers,
    // not the catalog metadata — a mis-encoded asset would mis-budget,
    // which is exactly what this query exists to catch.
    "media_token_budget" -> ((s, dir) => {
      import s.implicits._
      val perAsset = mediaAssets(s, dir)
        .repartition(DecodeParallelism, col("media_type"),
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map { r =>
          val tokens = r.media_type match {
            case "image" =>
              val d = decodePpm(r)
              patches(d.width, d.height)
            case "audio" =>
              val d = decodeWav(r)
              (d.n_samples + AudioHop - 1) / AudioHop
            case _ =>
              val d = decodeY4m(r)
              d.n_sampled * patches(d.width, d.height)
          }
          (r.doc_id, r.media_type, tokens)
        })
        .toDF("doc_id", "media_type", "n_tokens")
      perAsset.groupBy("media_type")
        .agg(count(lit(1)).as("n_assets"),
          sum("n_tokens").as("total_tokens"),
          min("n_tokens").as("min_tokens"),
          max("n_tokens").as("max_tokens"))
        .orderBy("media_type")
    }),

    // batched decode — real parsers for all three modalities (PPM
    // images, WAV audio, Y4M video) — then aggregate per media type
    "media_decode_stats" -> ((s, dir) =>
      decoded(s, dir).groupBy("media_type").agg(
        count("*").as("n_assets"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("byte_sum")).as("total_byte_sum"),
        min(col("checksum")).as("min_checksum"),
        max(col("checksum")).as("max_checksum"))
        .orderBy("media_type")),

    // deterministic augmentation plan (epoch 0) for the image subset:
    // flip / crop offset / brightness jitter all derive from the engine
    // hash of (salt, param, doc_id) — the reproducibility contract of a
    // training run with NO RNG state: any worker, any partitioning, any
    // restart deals the same augmentation to the same image, and the
    // next epoch is just a different salt. Each parameter gets its own
    // hash, xor-folded before the modulus (fnv1a32's low bits are
    // parity-structured; fold mixes the high bits in — same rule the
    // hyperplane and bloom derivations follow). Crop ranges are
    // metadata-driven: x in [0, width-64], y in [0, height-48].
    "media_augment_plan" -> ((s, dir) => {
      def xf(salt: String) = {
        val h = Fnv1a32.fnv1a32(
          concat(lit(s"aug:e0:$salt:"), col("doc_id").cast("string")))
        h.bitwiseXOR(shiftright(h, 16))
      }
      catalog(s, dir).filter(col("media_type") === "image")
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          (xf("flip") % 2).as("flip"),
          (xf("x") % (col("width") - lit(CropW) + lit(1))).as("crop_x"),
          (xf("y") % (col("height") - lit(CropH) + lit(1))).as("crop_y"),
          (xf("b") % 21 - lit(10)).as("brightness_pct"))
        .orderBy("doc_id")
    }),

    // Scene-cut detection over REAL decoded video (round-9 revival):
    // segmented Y4M assets (see encodeY4mCutAsset), one L1 delta per
    // consecutive frame pair from the parsed planes, cut when the delta
    // clears CutFactor bytes/pixel-byte. Map-only after the decode
    // repartition — per-asset state never leaves its task, the 100 TB
    // shape is (decode parallelism) × (frames/asset), and the fixture's
    // segment geometry guarantees both cut and non-cut boundaries exist
    // (non-vacuity spec-pinned).
    "media_scene_cuts" -> ((s, dir) => {
      import s.implicits._
      catalog(s, dir).filter(col("media_type") === "video")
        .repartition(DecodeParallelism,
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.flatMap { r =>
          val payload = encodeY4mCutAsset(r.doc_id, r.payload)
          Y4m.parse(payload) match {
            case Some(v) =>
              val planeBytes = 3L * v.width * v.height
              (1 until v.frames.length).map { f =>
                val a = v.frames(f - 1)
                val b = v.frames(f)
                var d = 0L
                var p = 0
                while (p < a.length) {
                  d += math.abs((b(p) & 0xff) - (a(p) & 0xff))
                  p += 1
                }
                SceneCut(r.doc_id, f.toLong, d, d > CutFactor * planeBytes)
              }
            case None => Seq(SceneCut(r.doc_id, -1L, -1L, is_cut = false))
          }
        })
        .toDF().orderBy("doc_id", "frame")
    }),

    // Energy-contour audio fingerprinting over REAL decoded WAV
    // (round-9 revival): segmented PCM assets, AudioHop-sample window
    // energies, contour bit w = [window w+1 louder than window w],
    // packed into one BIGINT — the shazam-style clip dedup key. Same
    // map-only decode shape as the VAD query; discriminative on this
    // fixture (distinctness spec-pinned, the round-8 vacuity measure).
    "media_audio_fingerprint" -> ((s, dir) => {
      import s.implicits._
      catalog(s, dir).filter(col("media_type") === "audio")
        .repartition(DecodeParallelism,
          pmod(hash(col("doc_id")), lit(DecodeParallelism)))
        .as[MediaRow]
        .mapPartitions(_.map { r =>
          Wav.parse(encodeWavFpAsset(r.doc_id, r.payload)) match {
            case Some(a) =>
              val n = a.samples.length
              val nW = n / AudioHop // full windows only
              val e = Array.tabulate(nW) { w =>
                var s = 0L
                var j = w * AudioHop
                val end = j + AudioHop
                while (j < end) {
                  val c = (a.samples(j) & 0xff) - 128
                  s += c.toLong * c
                  j += 1
                }
                s
              }
              var fp = 0L
              var w = 0
              while (w < nW - 1 && w < 63) {
                if (e(w + 1) > e(w)) fp |= 1L << w
                w += 1
              }
              AudioFp(r.doc_id, nW.toLong, fp)
            case None => AudioFp(r.doc_id, -1L, -1L)
          }
        })
        .toDF().orderBy("doc_id")
    }),
  )

  private val mediaTypeSql =
    "(['image', 'audio', 'video'])[CAST(substr(source, 4) AS INT) % 3 + 1]"

  /** Little-endian u32 as a 4-element byte list — for rebuilding the
    * WAV header's binary size fields in SQL. */
  private def le32Sql(x: String): String =
    s"[($x) % 256, ($x) // 256 % 256, ($x) // 65536 % 256, " +
      s"($x) // 16777216 % 256]"
  private val le32SqlRiffSize = le32Sql("36 + n")
  private val le32SqlDataSize = le32Sql("n")

  /** dHash oracle plumbing: the fixture raster is R = cycled text byte,
    * G = 255−R, B = doc_id%256, so BT.601 integer luma has the closed
    * form 299R + 587(255−R) + 114B = 149685 − 288R + 114·(doc_id%256).
    * Each of the 64 comparison bits is unrolled as one CASE over two
    * nearest-neighbor samples, summed into the same two 32-bit halves
    * Spark packs. */
  private def phashHalfSql(bits: Range): String = {
    def gray(sx: String, sy: String) =
      s"(149685 - 288 * (CASE WHEN len = 0 THEN 0 ELSE " +
        s"unicode(substr(text, CAST((($sy) * w + ($sx)) % len + 1 AS INT)" +
        s", 1)) END) + 114 * (doc_id % 256))"
    bits.map { i =>
      val (row, c) = (i / DhCols, i % DhCols)
      val sy = s"($row * h // $DhRows)"
      val sx1 = s"($c * w // ${DhCols + 1})"
      val sx2 = s"(${c + 1} * w // ${DhCols + 1})"
      s"CASE WHEN ${gray(sx1, sy)} > ${gray(sx2, sy)} " +
        s"THEN ${1L << (i % 32)}::BIGINT ELSE 0::BIGINT END"
    }.mkString("(", "\n      + ", ")")
  }

  /** Shared `imgs` + `ph` CTEs for both phash oracles (MATERIALIZED:
    * ph is referenced several times and each reference carries the 64
    * unrolled CASE bits). */
  private[graft] lazy val phashCtes =
    s"""imgs AS (
       |  SELECT doc_id, text, length(text) AS len,
       |         CAST(8 + doc_id % 8 AS BIGINT) AS w,
       |         CAST(6 + doc_id % 6 AS BIGINT) AS h
       |  FROM documents WHERE $mediaTypeSql = 'image'
       |),
       |ph AS MATERIALIZED (
       |  SELECT doc_id, w AS width, h AS height,
       |         ${phashHalfSql(32 until 64)} AS hash_hi,
       |         ${phashHalfSql(0 until 32)} AS hash_lo
       |  FROM imgs
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "media_image_phash" ->
      s"""WITH $phashCtes
         |SELECT doc_id, width, height, hash_hi, hash_lo
         |FROM ph ORDER BY doc_id""".stripMargin,

    "media_phash_neardup" ->
      s"""WITH $phashCtes,
         |bands AS MATERIALIZED (
         |  SELECT doc_id, b.band,
         |         CASE b.band
         |           WHEN 0 THEN hash_lo & 65535
         |           WHEN 1 THEN (hash_lo >> 16) & 65535
         |           WHEN 2 THEN hash_hi & 65535
         |           ELSE (hash_hi >> 16) & 65535 END AS bv
         |  FROM ph, (SELECT unnest([0, 1, 2, 3]) AS band) b
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT doc_a, doc_b,
         |         CAST(bit_count(xor(pa.hash_hi, pb.hash_hi))
         |            + bit_count(xor(pa.hash_lo, pb.hash_lo)) AS BIGINT)
         |           AS hamming
         |  FROM cand JOIN ph pa ON pa.doc_id = cand.doc_a
         |            JOIN ph pb ON pb.doc_id = cand.doc_b
         |) WHERE hamming <= $PhashHammingMax
         |ORDER BY doc_a, doc_b""".stripMargin,

    "crossmodal_visual_agreement" -> (
      s"WITH ${graft.dedup.DedupQueries.jaccardPairsSql},\n" +
      s"""$phashCtes
         |SELECT j.doc_a, j.doc_b, j.jaccard,
         |       CAST(bit_count(xor(pa.hash_hi, pb.hash_hi))
         |          + bit_count(xor(pa.hash_lo, pb.hash_lo)) AS BIGINT)
         |         AS hamming,
         |       (pa.width = pb.width AND pa.height = pb.height)
         |         AS same_dims
         |FROM jac j
         |JOIN ph pa ON j.doc_a = pa.doc_id
         |JOIN ph pb ON j.doc_b = pb.doc_id
         |WHERE j.jaccard >= ${graft.dedup.DedupQueries.JaccardThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin),

    "media_augment_plan" -> {
      def fnvOf(salt: String) = Ora.fnv(s"'aug:e0:$salt:' || doc_id")
      s"""WITH imgs AS (
         |  SELECT doc_id,
         |         CAST(64 + (doc_id % 16) * 32 AS BIGINT) AS width,
         |         CAST(48 + (doc_id % 9) * 24 AS BIGINT) AS height
         |  FROM documents WHERE $mediaTypeSql = 'image'
         |),
         |h AS (
         |  SELECT doc_id, width, height,
         |         ${fnvOf("flip")} AS hf, ${fnvOf("x")} AS hx,
         |         ${fnvOf("y")} AS hy, ${fnvOf("b")} AS hb
         |  FROM imgs
         |)
         |SELECT doc_id, width, height,
         |       xor(hf, hf >> 16) % 2 AS flip,
         |       xor(hx, hx >> 16) % (width - $CropW + 1) AS crop_x,
         |       xor(hy, hy >> 16) % (height - $CropH + 1) AS crop_y,
         |       xor(hb, hb >> 16) % 21 - 10 AS brightness_pct
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "media_catalog" ->
      s"""SELECT doc_id, $mediaTypeSql AS media_type,
         |  CAST(length(text) AS BIGINT) AS n_bytes,
         |  CAST(64 + (doc_id % 16) * 32 AS BIGINT) AS width,
         |  CAST(48 + (doc_id % 9) * 24 AS BIGINT) AS height
         |FROM documents ORDER BY doc_id""".stripMargin,

    "media_resize" ->
      s"""WITH imgs AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         64 + (doc_id % 16) * 32 AS w, 48 + (doc_id % 9) * 24 AS h
         |  FROM documents WHERE $mediaTypeSql = 'image'
         |),
         |px AS (
         |  SELECT i.doc_id,
         |         CASE WHEN i.len = 0 THEN 0 ELSE
         |           unicode(substr(i.text,
         |             CAST((((ty.y * i.h) // 24) * i.w + ((tx.x * i.w) // 32))
         |                  % i.len + 1 AS INT), 1)) END AS v
         |  FROM imgs i,
         |       (SELECT range AS y FROM range(24)) ty,
         |       (SELECT range AS x FROM range(32)) tx
         |)
         |SELECT doc_id, 32 AS out_w, 24 AS out_h,
         |       CAST(sum(v) AS BIGINT) AS pixel_sum
         |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "media_frame_sample" ->
      s"""SELECT doc_id,
         |  CAST(ceil(length(text) / 16.0) AS BIGINT) AS n_frames,
         |  CAST(ceil(ceil(length(text) / 16.0) / 4.0) AS BIGINT) AS n_sampled,
         |  CAST(list_sum(list_transform(
         |    list_filter(range(CAST(ceil(length(text) / 16.0) AS BIGINT)),
         |                i -> i % 4 = 0),
         |    i -> ${Ora.fnv("substr(text, CAST(i * 16 + 1 AS INT), 16)")}))
         |    AS BIGINT) AS checksum_sum
         |FROM documents WHERE $mediaTypeSql = 'video'
         |ORDER BY doc_id""".stripMargin,

    // the oracle REBUILDS every container byte in SQL for ALL THREE
    // modalities — PPM header ASCII + R/G/B raster, WAV RIFF chunks +
    // PCM samples (audagg), Y4M stream/frame headers + YUV planes
    // (vidagg) — so n_bytes/byte_sum/checksum are byte-exact against
    // the real encoder+parser round trips.
    "media_decode_stats" ->
      s"""WITH m AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         $mediaTypeSql AS media_type
         |  FROM documents
         |),
         |imgb AS (
         |  SELECT doc_id,
         |    list_transform(
         |      string_split('P6' || chr(10) || w || ' ' || h || chr(10)
         |                   || '255' || chr(10), ''),
         |      c -> unicode(c)::BIGINT) AS hdr,
         |    flatten(list_transform(range(w * h), p -> [
         |      CASE WHEN len = 0 THEN 0::BIGINT
         |           ELSE unicode(substr(text, CAST(p % len + 1 AS INT), 1))::BIGINT END,
         |      255 - CASE WHEN len = 0 THEN 0::BIGINT
         |           ELSE unicode(substr(text, CAST(p % len + 1 AS INT), 1))::BIGINT END,
         |      (doc_id % 256)::BIGINT])) AS pix
         |  FROM (SELECT doc_id, text, len,
         |               8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h
         |        FROM m WHERE media_type = 'image')
         |),
         |imgf AS (
         |  SELECT doc_id, len(hdr) + len(pix) AS n_bytes,
         |         list_sum(pix) AS byte_sum,
         |         ${Ora.fnvBytes("hdr || pix")} AS checksum
         |  FROM imgb
         |),
         |imgagg AS (
         |  SELECT 'image' AS media_type, count(*) AS n_assets,
         |         CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |         CAST(sum(byte_sum) AS BIGINT) AS total_byte_sum,
         |         min(checksum) AS min_checksum,
         |         max(checksum) AS max_checksum
         |  FROM imgf GROUP BY 1
         |),
         |audb AS (
         |  SELECT doc_id,
         |    [82,73,70,70] || $le32SqlRiffSize || [87,65,86,69]
         |      || [102,109,116,32] || [16,0,0,0] || [1,0] || [1,0]
         |      || [64,31,0,0] || [64,31,0,0] || [1,0] || [8,0]
         |      || [100,97,116,97] || $le32SqlDataSize AS hdr,
         |    list_transform(range(n), i ->
         |      ((CASE WHEN len = 0 THEN 0
         |             ELSE unicode(substr(text, CAST(i % len + 1 AS INT), 1))
         |        END + i) % 256)::BIGINT) AS samp
         |  FROM (SELECT doc_id, text, len,
         |               CAST(200 + (doc_id % 100) * 4 AS BIGINT) AS n
         |        FROM m WHERE media_type = 'audio')
         |),
         |audagg AS (
         |  SELECT 'audio' AS media_type, count(*) AS n_assets,
         |         CAST(sum(44 + len(samp)) AS BIGINT) AS total_bytes,
         |         CAST(sum(list_sum(samp)) AS BIGINT) AS total_byte_sum,
         |         min(${Ora.fnvBytes("hdr || samp")}) AS min_checksum,
         |         max(${Ora.fnvBytes("hdr || samp")}) AS max_checksum
         |  FROM audb GROUP BY 1
         |),
         |vidb AS (
         |  SELECT doc_id, nf,
         |    list_transform(string_split('YUV4MPEG2 W' || w || ' H' || h
         |      || ' F25:1 Ip A1:1 C444' || chr(10), ''),
         |      c -> unicode(c)::BIGINT) AS hdr,
         |    flatten(list_transform(range(nf), f ->
         |      [70,82,65,77,69,10] ||
         |      list_transform(range(3 * w * h), p ->
         |        ((CASE WHEN len = 0 THEN 0
         |               ELSE unicode(substr(text, CAST(p % len + 1 AS INT), 1))
         |          END + f) % 256)::BIGINT))) AS body
         |  FROM (SELECT doc_id, text, len, 4 + doc_id % 4 AS w,
         |               3 + doc_id % 3 AS h, 4 + doc_id % 8 AS nf
         |        FROM m WHERE media_type = 'video')
         |),
         |vidagg AS (
         |  SELECT 'video' AS media_type, count(*) AS n_assets,
         |         CAST(sum(len(hdr) + len(body)) AS BIGINT) AS total_bytes,
         |         -- plane bytes only: body minus nf FRAME markers
         |         -- (ascii sum 70+82+65+77+69+10 = 373 each)
         |         CAST(sum(list_sum(body) - nf * 373) AS BIGINT)
         |           AS total_byte_sum,
         |         min(${Ora.fnvBytes("hdr || body")}) AS min_checksum,
         |         max(${Ora.fnvBytes("hdr || body")}) AS max_checksum
         |  FROM vidb GROUP BY 1
         |)
         |SELECT * FROM imgagg UNION ALL SELECT * FROM audagg
         |UNION ALL SELECT * FROM vidagg
         |ORDER BY media_type""".stripMargin,

    // nearest-neighbor source positions over the R = cycled-text-byte
    // rule; G = 255 - R and B = const per asset give the other channels
    // in closed form from sum_r
    "media_thumbnail" ->
      s"""WITH imgs AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         CAST(8 + doc_id % 8 AS BIGINT) AS w,
         |         CAST(6 + doc_id % 6 AS BIGINT) AS h
         |  FROM documents WHERE $mediaTypeSql = 'image'
         |),
         |sums AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(range(${ThumbW * ThumbH}), i ->
         |      CASE WHEN len = 0 THEN 0::BIGINT ELSE
         |        unicode(substr(text, CAST(
         |          (((i // $ThumbW) * h // $ThumbH) * w
         |            + ((i % $ThumbW) * w // $ThumbW)) % len + 1 AS INT),
         |          1))::BIGINT END)) AS sum_r
         |  FROM imgs
         |)
         |SELECT doc_id, $ThumbW::BIGINT AS out_w, $ThumbH::BIGINT AS out_h,
         |       CAST(sum_r AS BIGINT) AS sum_r,
         |       CAST(${ThumbW * ThumbH} * 255 - sum_r AS BIGINT) AS sum_g,
         |       ${ThumbW * ThumbH} * (doc_id % 256) AS sum_b
         |FROM sums ORDER BY doc_id""".stripMargin,

    // geometry is deterministic per asset, so the budget has a pure
    // closed form — which is the point of checking it against the
    // parsed-geometry Spark side: they only agree if every container
    // round-trips its dims exactly
    "media_token_budget" ->
      s"""WITH m AS (
         |  SELECT doc_id, $mediaTypeSql AS media_type FROM documents
         |),
         |tok AS (
         |  SELECT doc_id, media_type,
         |    CASE media_type
         |      WHEN 'image' THEN
         |        ((8 + doc_id % 8 + ${PatchW - 1}) // $PatchW)
         |          * ((6 + doc_id % 6 + ${PatchH - 1}) // $PatchH)
         |      WHEN 'audio' THEN
         |        (200 + (doc_id % 100) * 4 + ${AudioHop - 1}) // $AudioHop
         |      ELSE
         |        ((4 + doc_id % 8 + 3) // 4)
         |          * ((4 + doc_id % 4 + ${PatchW - 1}) // $PatchW)
         |          * ((3 + doc_id % 3 + ${PatchH - 1}) // $PatchH)
         |    END AS n_tokens
         |  FROM m
         |)
         |SELECT media_type, count(*) AS n_assets,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         |       CAST(max(n_tokens) AS BIGINT) AS max_tokens
         |FROM tok GROUP BY 1 ORDER BY media_type""".stripMargin,

    // sampled-frame luma statistics from the rebuilt Y planes — the
    // Y plane is the first w*h bytes of each frame's C444 payload
    "media_y4m_frames" ->
      s"""WITH vids AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         CAST(4 + doc_id % 4 AS BIGINT) AS w,
         |         CAST(3 + doc_id % 3 AS BIGINT) AS h,
         |         CAST(4 + doc_id % 8 AS BIGINT) AS nf
         |  FROM documents WHERE $mediaTypeSql = 'video'
         |)
         |SELECT doc_id, true AS ok, w AS width, h AS height,
         |  nf AS n_frames,
         |  CAST((nf + 3) // 4 AS BIGINT) AS n_sampled,
         |  CAST(list_sum(flatten(list_transform(
         |    list_filter(range(nf), f -> f % 4 = 0), f ->
         |    list_transform(range(w * h), p ->
         |      ((CASE WHEN len = 0 THEN 0
         |             ELSE unicode(substr(text, CAST(p % len + 1 AS INT), 1))
         |        END + f) % 256)::BIGINT)))) AS BIGINT) AS luma_sum
         |FROM vids ORDER BY doc_id""".stripMargin,

    // which assets the parsers reject is closed-form: exactly the
    // truncated ones (image container = header + 3wh bytes, audio
    // container = 44 + n bytes, video = header + nf·(6 + 3wh) bytes,
    // each minus the dropped byte)
    "media_quarantine" ->
      s"""WITH m AS (
         |  SELECT doc_id, $mediaTypeSql AS media_type
         |  FROM documents
         |)
         |SELECT doc_id, media_type,
         |  CASE media_type
         |    WHEN 'image' THEN
         |      CAST(length('P6' || chr(10) || (8 + doc_id % 8) || ' '
         |                  || (6 + doc_id % 6) || chr(10) || '255'
         |                  || chr(10)) AS BIGINT)
         |        + 3 * (8 + doc_id % 8) * (6 + doc_id % 6) - 1
         |    WHEN 'audio' THEN 44 + (200 + (doc_id % 100) * 4) - 1
         |    ELSE
         |      CAST(length('YUV4MPEG2 W' || (4 + doc_id % 4) || ' H'
         |                  || (3 + doc_id % 3) || ' F25:1 Ip A1:1 C444'
         |                  || chr(10)) AS BIGINT)
         |        + (4 + doc_id % 8)
         |            * (6 + 3 * (4 + doc_id % 4) * (3 + doc_id % 3)) - 1
         |  END AS n_bytes
         |FROM m
         |WHERE doc_id % $CorruptEvery = 0
         |ORDER BY doc_id""".stripMargin,

    // frame energies over the rebuilt sample list, the activity count a
    // list_filter away
    "media_audio_vad" ->
      s"""WITH auds AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         CAST(200 + (doc_id % 100) * 4 AS BIGINT) AS n
         |  FROM documents WHERE $mediaTypeSql = 'audio'
         |),
         |samps AS (
         |  SELECT doc_id, n,
         |    list_transform(range(n), i ->
         |      ((CASE WHEN len = 0 THEN 0
         |             ELSE unicode(substr(text, CAST(i % len + 1 AS INT), 1))
         |        END + i) % 256)::BIGINT) AS samp
         |  FROM auds
         |),
         |frames AS (
         |  SELECT doc_id, n,
         |    list_transform(range((n + ${AudioHop - 1}) // $AudioHop), f ->
         |      list_sum(list_transform(
         |        range(f * $AudioHop, least((f + 1) * $AudioHop, n)), i ->
         |        (samp[CAST(i + 1 AS INT)] - 128)
         |          * (samp[CAST(i + 1 AS INT)] - 128)))) AS es
         |  FROM samps
         |)
         |SELECT doc_id,
         |  CAST((n + ${AudioHop - 1}) // $AudioHop AS BIGINT) AS n_frames,
         |  CAST(len(list_filter(es, e -> e > $VadThreshold)) AS BIGINT)
         |    AS n_active,
         |  CAST(list_sum(es) AS BIGINT) AS total_energy
         |FROM frames ORDER BY doc_id""".stripMargin,

    // run-length analytics over the same rebuilt frame energies: segment
    // starts are active frames whose predecessor is inactive; the
    // longest run folds through list_reduce with (cur, best) packed into
    // one BIGINT (cur*2^20 + best — frame counts are <= 60, far under
    // the 2^20 field width); trim points are min/max active index
    "media_vad_segments" ->
      s"""WITH auds AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         CAST(200 + (doc_id % 100) * 4 AS BIGINT) AS n
         |  FROM documents WHERE $mediaTypeSql = 'audio'
         |),
         |samps AS (
         |  SELECT doc_id, n,
         |    list_transform(range(n), i ->
         |      ((CASE WHEN len = 0 THEN 0
         |             ELSE unicode(substr(text, CAST(i % len + 1 AS INT), 1))
         |        END + i) % 256)::BIGINT) AS samp
         |  FROM auds
         |),
         |frames AS (
         |  SELECT doc_id, n,
         |    list_transform(range((n + ${AudioHop - 1}) // $AudioHop), f ->
         |      list_sum(list_transform(
         |        range(f * $AudioHop, least((f + 1) * $AudioHop, n)), i ->
         |        (samp[CAST(i + 1 AS INT)] - 128)
         |          * (samp[CAST(i + 1 AS INT)] - 128)))) AS es
         |  FROM samps
         |),
         |acts AS (
         |  SELECT doc_id, n,
         |    list_transform(es, e ->
         |      CASE WHEN e > $VadThreshold THEN 1 ELSE 0 END) AS act
         |  FROM frames
         |)
         |SELECT doc_id,
         |  CAST((n + ${AudioHop - 1}) // $AudioHop AS BIGINT) AS n_frames,
         |  CAST(list_sum(act) AS BIGINT) AS n_active,
         |  CAST(len(list_filter(range(len(act)), f ->
         |    act[CAST(f + 1 AS INT)] = 1
         |    AND (f = 0 OR act[CAST(f AS INT)] = 0))) AS BIGINT)
         |    AS n_segments,
         |  CAST(list_reduce(list_prepend(0, act), (acc, x) ->
         |    CASE WHEN x = 1
         |         THEN (acc // 1048576 + 1) * 1048576
         |              + greatest(acc % 1048576, acc // 1048576 + 1)
         |         ELSE acc % 1048576 END) % 1048576 AS BIGINT)
         |    AS longest_run,
         |  CAST(coalesce(list_min(list_filter(range(len(act)), f ->
         |    act[CAST(f + 1 AS INT)] = 1)), -1) AS BIGINT) AS first_active,
         |  CAST(coalesce(list_max(list_filter(range(len(act)), f ->
         |    act[CAST(f + 1 AS INT)] = 1)), -1) AS BIGINT) AS last_active
         |FROM acts ORDER BY doc_id""".stripMargin,

    // per-asset amplitude statistics from the rebuilt sample list —
    // closed over the same (text-cycled + position ramp) % 256 rule the
    // encoder uses; amplitude = sample - 128
    "media_wav_decode" ->
      s"""WITH auds AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         CAST(200 + (doc_id % 100) * 4 AS BIGINT) AS n
         |  FROM documents WHERE $mediaTypeSql = 'audio'
         |),
         |samps AS (
         |  SELECT doc_id, n,
         |    list_transform(range(n), i ->
         |      ((CASE WHEN len = 0 THEN 0
         |             ELSE unicode(substr(text, CAST(i % len + 1 AS INT), 1))
         |        END + i) % 256)::BIGINT) AS samp
         |  FROM auds
         |)
         |SELECT doc_id, true AS ok, 8000::BIGINT AS sample_rate,
         |  n AS n_samples,
         |  CAST(list_sum(list_transform(samp, s -> abs(s - 128)))
         |    AS BIGINT) AS sum_abs_dev,
         |  CAST(list_sum(list_transform(samp, s -> (s - 128) * (s - 128)))
         |    AS BIGINT) AS sum_sq_dev,
         |  CAST(list_sum(list_transform(range(1, n), i ->
         |    CASE WHEN (samp[CAST(i AS INT)] < 128)
         |              <> (samp[CAST(i + 1 AS INT)] < 128)
         |         THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
         |FROM samps ORDER BY doc_id""".stripMargin,

    // closed forms for the parsed-header and channel-sum outputs: R
    // cycles the text bytes (full cycles x text byte-sum + a prefix),
    // G = 255 - R pixelwise, B constant per asset
    "media_ppm_decode" ->
      s"""WITH imgs AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         CAST(8 + doc_id % 8 AS BIGINT) AS w,
         |         CAST(6 + doc_id % 6 AS BIGINT) AS h
         |  FROM documents WHERE $mediaTypeSql = 'image'
         |),
         |sums AS (
         |  SELECT doc_id, w, h, w * h AS n,
         |    CASE WHEN len = 0 THEN 0::BIGINT ELSE
         |      (w * h // len) * list_sum(list_transform(string_split(text, ''),
         |         c -> unicode(c)::BIGINT))
         |      + CASE WHEN w * h % len = 0 THEN 0::BIGINT ELSE
         |          list_sum(list_transform(
         |            string_split(substr(text, 1, CAST(w * h % len AS INT)), ''),
         |            c -> unicode(c)::BIGINT)) END
         |    END AS sum_r
         |  FROM imgs
         |)
         |SELECT doc_id, true AS ok, w AS width, h AS height,
         |       255::BIGINT AS max_val, n AS n_pixels,
         |       CAST(sum_r AS BIGINT) AS sum_r,
         |       CAST(255 * n - sum_r AS BIGINT) AS sum_g,
         |       n * (doc_id % 256) AS sum_b
         |FROM sums ORDER BY doc_id""".stripMargin,

    // the segmented-asset frame bytes rebuilt closed-form (the engine
    // decodes the REAL container; the oracle recomputes the synthesis —
    // the media-family discipline), then the same L1 delta + threshold
    "media_scene_cuts" ->
      s"""WITH vids AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         CAST(4 + doc_id % 4 AS BIGINT) AS w,
         |         CAST(3 + doc_id % 3 AS BIGINT) AS h,
         |         CAST(4 + doc_id % 8 AS BIGINT) AS nf
         |  FROM documents WHERE $mediaTypeSql = 'video'
         |),
         |fr AS (SELECT doc_id, text, len, w, h, nf,
         |              unnest(range(1, nf)) AS f FROM vids)
         |SELECT doc_id, f AS frame,
         |  CAST(list_sum(list_transform(range(3 * w * h), p ->
         |    abs(((CASE WHEN len = 0 THEN 0 ELSE unicode(substr(text,
         |           CAST((p + $SegJump * (f // $SegLen)) % len + 1
         |             AS INT), 1)) END + f) % 256)
         |      - ((CASE WHEN len = 0 THEN 0 ELSE unicode(substr(text,
         |           CAST((p + $SegJump * ((f - 1) // $SegLen)) % len + 1
         |             AS INT), 1)) END + f - 1) % 256)))) AS BIGINT)
         |    AS delta_sum,
         |  CAST(list_sum(list_transform(range(3 * w * h), p ->
         |    abs(((CASE WHEN len = 0 THEN 0 ELSE unicode(substr(text,
         |           CAST((p + $SegJump * (f // $SegLen)) % len + 1
         |             AS INT), 1)) END + f) % 256)
         |      - ((CASE WHEN len = 0 THEN 0 ELSE unicode(substr(text,
         |           CAST((p + $SegJump * ((f - 1) // $SegLen)) % len + 1
         |             AS INT), 1)) END + f - 1) % 256)))) AS BIGINT)
         |    > $CutFactor * 3 * w * h AS is_cut
         |FROM fr ORDER BY doc_id, frame""".stripMargin,

    // the segmented PCM rebuilt closed-form, window energies over the
    // same AudioHop grid, contour bits packed into one BIGINT
    "media_audio_fingerprint" ->
      s"""WITH auds AS (
         |  SELECT doc_id, text, length(text) AS len,
         |         CAST(200 + (doc_id % 100) * 4 AS BIGINT) AS n
         |  FROM documents WHERE $mediaTypeSql = 'audio'
         |),
         |samps AS (
         |  SELECT doc_id, n // $AudioHop AS nw,
         |    list_transform(range(n), i ->
         |      ((CASE WHEN len = 0 THEN 0
         |             ELSE unicode(substr(text,
         |               CAST((i + $FpSegJump * (i // $FpSegSamples))
         |                 % len + 1 AS INT), 1))
         |        END + i) % 256)::BIGINT) AS smp
         |  FROM auds
         |),
         |en AS (
         |  SELECT doc_id, nw,
         |    list_transform(range(nw), w ->
         |      CAST(list_sum(list_transform(range($AudioHop), j ->
         |        (smp[CAST(w * $AudioHop + j + 1 AS INT)] - 128)
         |          * (smp[CAST(w * $AudioHop + j + 1 AS INT)] - 128)))
         |        AS BIGINT)) AS e
         |  FROM samps
         |)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
         |  CAST(coalesce(list_sum(list_transform(range(least(nw - 1, 63)),
         |    w -> CASE WHEN e[CAST(w + 2 AS INT)] > e[CAST(w + 1 AS INT)]
         |              THEN 1::BIGINT << w ELSE 0::BIGINT END)), 0)
         |    AS BIGINT) AS fingerprint
         |FROM en ORDER BY doc_id""".stripMargin,
  )
}
