package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline: media as opaque
  * `binary` payloads + typed metadata, with decode/feature-extract as
  * batched per-partition transforms.
  *
  * Design (mirrors the mapInPandas pattern in Scala types): media bytes
  * NEVER deserialize on the driver; partitions stream through a batched
  * iterator transform so a decode library amortizes per-batch setup.
  * The decode itself is a STUB — deterministic fake features derived
  * from the bytes (this container has no image/audio codecs); the
  * Spark-side contract (schema, batch shape, partition balance,
  * spill-free streaming) is real and tested, and a production decoder
  * drops into [[DecodeStub.decode]] unchanged.
  */
object MediaSchema {
  /** Typed metadata carried next to every payload. */
  val metaType: StructType = StructType(Seq(
    StructField("modality", StringType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))

  val mediaType: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", metaType, nullable = false)))
}

case class MediaRecord(doc_id: Long, payload: Array[Byte],
    modality: String, format: String)

case class MediaFeatures(doc_id: Long, width: Int, height: Int,
    mean_byte: Double, embedding: Array[Float])

case class AudioFeatures(doc_id: Long, sample_rate: Int, channels: Int,
    frames: Long, duration_s: Double, rms: Double, embedding: Array[Float])

case class VideoMeta(doc_id: Long, container: String, width: Int,
    height: Int, duration_s: Double, n_tracks: Int)

case class AudioMeta(doc_id: Long, format: String, sample_rate: Int,
    channels: Int, duration_s: Double, bitrate_kbps: Int)

case class PerceptualHash(doc_id: Long, ahash: Long, dhash: Long)

case class AudioHash(doc_id: Long, chash: Long)

case class VideoHash(doc_id: Long, vhash: Long)

/** Decoder: REAL in-JDK image decode via `javax.imageio` (PNG / BMP /
  * GIF / JPEG — the formats the JDK ships readers for, no new
  * dependency), with the deterministic byte-derived fake as the
  * fallback for payloads ImageIO does not recognize (text stand-ins,
  * audio/video — codecs a real deployment drops in here via JNI/FFI).
  * Both paths are pure functions of the payload bytes so tests and
  * reruns agree; everything upstream/downstream is format-agnostic. */
object DecodeStub {
  val embeddingDim = 8

  // ImageIO's default stream cache writes temp FILES per decode —
  // executor-local disk churn for zero benefit when the source is
  // already an in-memory byte array
  javax.imageio.ImageIO.setUseCache(false)

  /** Pixel-count cap for the real-decode path: a crafted header can
    * declare absurd dimensions (a decompression bomb), so the cap is
    * checked against the HEADER dimensions before any raster is
    * allocated — an over-cap payload takes the fallback without ever
    * paying (or OOMing on) the decode. 64 MP ≈ 256 MB transient. */
  val maxDecodePixels: Long = 64L * 1024 * 1024

  def decode(payload: Array[Byte]): (Int, Int, Double, Array[Float]) = {
    require(payload.nonEmpty, "empty payload")
    // NonFatal, not just IOException: JDK readers throw runtime
    // exceptions (NegativeArraySize, IllegalArgument, …) on payloads
    // whose leading bytes merely LOOK like an image (“BM…” text sniffs
    // as BMP) — one bad record must fall back, never kill the job
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      if (iis == null) return fallback(payload)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return fallback(payload)
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          // header-only probe: getWidth/getHeight parse metadata, they
          // do NOT decode pixels — the bomb never allocates
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h > maxDecodePixels)
            fallback(payload)
          else decodeImage(reader.read(0))
        } finally reader.dispose()
      } finally iis.close()
    } catch {
      case scala.util.control.NonFatal(_) => fallback(payload)
    }
  }

  /** True decode: real dimensions, mean 0–255 luminance (ITU-R BT.601
    * integer weights), embedding = evenly-spaced row-major luminance
    * taps scaled to [0, 1]. */
  private def decodeImage(
      img: java.awt.image.BufferedImage): (Int, Int, Double, Array[Float]) = {
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    def gray(argb: Int): Int = {
      val r = (argb >> 16) & 0xFF; val g = (argb >> 8) & 0xFF
      val b = argb & 0xFF
      (r * 299 + g * 587 + b * 114) / 1000
    }
    var sum = 0L
    var i = 0
    while (i < px.length) { sum += gray(px(i)); i += 1 }
    val mean = sum.toDouble / px.length
    val emb = Array.tabulate(embeddingDim) { k =>
      val idx = (k.toLong * (px.length - 1) / math.max(1, embeddingDim - 1)).toInt
      gray(px(idx)) / 255.0f
    }
    (w, h, mean, emb)
  }

  /** REAL in-JDK audio decode via `javax.sound.sampled` (WAV / AIFF /
    * AU — the formats the JDK ships readers for), with a byte-derived
    * deterministic fallback for anything else (mp3/ogg need external
    * codecs a deployment drops in here). Returns
    * (sampleRate, channels, frames, rms, embedding): rms is the mean
    * signal power root over all channels in [0, 1]; the embedding is an
    * [[embeddingDim]]-segment RMS energy envelope — the crude
    * time-domain signature that lets downstream similarity/dedup group
    * recordings before any model runs.
    *
    * Memory-bounded by construction: samples stream through a fixed
    * 64 KiB buffer — a crafted header declaring absurd frame counts
    * cannot allocate anything proportional to its claim (reading stops
    * at the real payload end; segments the data never reaches stay 0,
    * deterministically). */
  /** Container magics of the formats the JDK ships readers for: WAV
    * (RIFF····WAVE), AIFF (FORM), AU (.snd). Checked BEFORE asking
    * AudioSystem: the provider lookup throws internally on every
    * non-audio payload, and at corpus scale that is an exception per
    * row for data that was never audio. When a deployment drops in
    * codec provider jars (mp3/ogg SPIs), [[extraAudioReaders]] detects
    * them and probe misses fall through to AudioSystem anyway — the
    * short-circuit only applies when the JDK readers are all there is,
    * where a probe miss is definitive. */
  private def looksLikeAudio(p: Array[Byte]): Boolean =
    p.length >= 12 && (
      (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') ||
      (p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M') ||
      (p(0) == '.' && p(1) == 's' && p(2) == 'n' && p(3) == 'd'))

  /** True when AudioFileReader providers beyond the JDK's built-ins
    * (`com.sun.media.sound.*`) are on the classpath — the drop-in-codec
    * deployment path. Computed once per JVM (executors each evaluate it
    * on first decode). */
  private lazy val extraAudioReaders: Boolean = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    var extra = false
    while (!extra && it.hasNext)
      extra = !it.next().getClass.getName.startsWith("com.sun.media.sound.")
    extra
  }

  def decodeAudio(payload: Array[Byte]): (Int, Int, Long, Double, Array[Float]) = {
    require(payload.nonEmpty, "empty payload")
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    if (!looksLikeAudio(payload) && !extraAudioReaders)
      return audioFallback(payload)
    try {
      val raw = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val f = raw.getFormat
        // header-declared frame count; unknown (-1) → not seekable
        // enough to segment deterministically, use the fallback
        // sampleRate <= 0 included: a fmt chunk declaring 0 Hz parses
        // fine when the payload is already 16-bit PCM (no converter
        // runs to reject it) and would yield duration = Infinity
        val declaredFrames = raw.getFrameLength
        if (declaredFrames <= 0 || f.getChannels <= 0 || f.getSampleRate <= 0)
          return audioFallback(payload)
        // normalize every encoding (u-law, a-law, unsigned 8-bit, any
        // endianness) to signed 16-bit little-endian PCM so the sample
        // loop reads ONE wire format
        val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          f.getSampleRate, 16, f.getChannels, f.getChannels * 2,
          f.getSampleRate, false)
        val pcm = AudioSystem.getAudioInputStream(pcmFmt, raw)
        try {
          val channels = f.getChannels
          val sampleRate = math.round(f.getSampleRate)
          val segs = Array.fill(embeddingDim)(0.0)
          val segN = Array.fill(embeddingDim)(0L)
          var sumSq = 0.0
          var n = 0L
          val samplesPerFrame = channels.toLong
          val totalSamples = declaredFrames * samplesPerFrame
          val buf = new Array[Byte](65536 - 65536 % (channels * 2))
          var read = pcm.read(buf)
          while (read > 0) {
            var i = 0
            while (i + 1 < read) {
              val s = ((buf(i) & 0xFF) | (buf(i + 1) << 8)).toShort
              val v = s / 32768.0
              val seg = math.min(embeddingDim - 1,
                (n * embeddingDim / math.max(1L, totalSamples)).toInt)
              segs(seg) += v * v
              segN(seg) += 1
              sumSq += v * v
              n += 1
              i += 2
            }
            read = pcm.read(buf)
          }
          if (n == 0) return audioFallback(payload)
          val rms = math.sqrt(sumSq / n)
          val emb = Array.tabulate(embeddingDim)(k =>
            if (segN(k) == 0) 0.0f
            else math.sqrt(segs(k) / segN(k)).toFloat)
          (sampleRate, channels, n / samplesPerFrame, rms, emb)
        } finally pcm.close()
      } finally raw.close()
    } catch {
      // UnsupportedAudioFileException for non-audio bytes, plus the
      // same runtime-exception surface as ImageIO on lookalike headers
      case scala.util.control.NonFatal(_) => audioFallback(payload)
    }
  }

  /** Fallback audio "decode" for unrecognized formats — pure function
    * of the bytes, and (deliberately) expressible in ANSI SQL so the
    * query over it is oracle-checked: rate/channels from edge bytes,
    * one "frame" per byte, rms from the INTEGER byte² sum (exact in
    * any engine; the only FP steps — one divide, one sqrt, one scale —
    * run on identical inputs everywhere). */
  private def audioFallback(payload: Array[Byte]): (Int, Int, Long, Double, Array[Float]) = {
    val sampleRate = 8000 + ((payload(0) & 0xFF) % 8) * 1000
    val channels = 1 + ((payload(payload.length - 1) & 0xFF) % 2)
    val n = payload.length
    var sumSq = 0L
    var i = 0
    while (i < n) { val b = payload(i) & 0xFF; sumSq += b.toLong * b; i += 1 }
    val rms = math.sqrt(sumSq.toDouble / n) / 255.0
    val emb = Array.tabulate(embeddingDim) { k =>
      val from = (k.toLong * n / embeddingDim).toInt
      val until = ((k + 1).toLong * n / embeddingDim).toInt max (from + 1)
      var s = 0L
      var j = from
      while (j < until && j < n) { val b = payload(j) & 0xFF; s += b.toLong * b; j += 1 }
      (math.sqrt(s.toDouble / (until - from)) / 255.0).toFloat
    }
    (sampleRate, channels, n.toLong, rms, emb)
  }

  /** Segment count for the audio perceptual hash: 65 energy windows →
    * 64 contour bits. */
  val AudioHashSegs = 65

  /** Audio perceptual near-dup hash — the energy-CONTOUR signature
    * (chromaprint-lite): the signal splits into [[AudioHashSegs]]
    * time windows and bit i records whether mean energy RISES from
    * window i to window i+1 — robust to volume scaling (a gain change
    * multiplies every window alike, the comparisons don't move) and to
    * re-encoding noise, which is what makes it a near-dup key rather
    * than a checksum. Real WAV/AIFF/AU payloads hash their decoded PCM
    * ([[decodeAudio]]'s streaming loop at hash granularity); anything
    * else takes the byte²-energy fallback — integer-exact
    * cross-multiplied comparisons, so the SQL oracle replays it
    * bit-for-bit. Packs MSB-first like the image hashes; pairs come
    * from the same pigeonhole chunk blocking. */
  def audioPerceptualHash(payload: Array[Byte]): Long = {
    require(payload.nonEmpty, "empty payload")
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    if (!looksLikeAudio(payload) && !extraAudioReaders)
      return audioHashFallback(payload)
    try {
      val raw = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val f = raw.getFormat
        val declaredFrames = raw.getFrameLength
        if (declaredFrames <= 0 || f.getChannels <= 0 || f.getSampleRate <= 0)
          return audioHashFallback(payload)
        val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          f.getSampleRate, 16, f.getChannels, f.getChannels * 2,
          f.getSampleRate, false)
        val pcm = AudioSystem.getAudioInputStream(pcmFmt, raw)
        try {
          val channels = f.getChannels
          val segs = new Array[Double](AudioHashSegs)
          val segN = new Array[Long](AudioHashSegs)
          var n = 0L
          val totalSamples = declaredFrames * channels.toLong
          val buf = new Array[Byte](65536 - 65536 % (channels * 2))
          var read = pcm.read(buf)
          while (read > 0) {
            var i = 0
            while (i + 1 < read) {
              val s = ((buf(i) & 0xFF) | (buf(i + 1) << 8)).toShort
              val v = s / 32768.0
              val seg = math.min(AudioHashSegs - 1,
                (n * AudioHashSegs / math.max(1L, totalSamples)).toInt)
              segs(seg) += v * v
              segN(seg) += 1
              n += 1
              i += 2
            }
            read = pcm.read(buf)
          }
          if (n == 0) return audioHashFallback(payload)
          packBits(Array.tabulate(64) { i =>
            // mean-energy rise, cross-multiplied (empty windows = 0)
            segs(i + 1) * segN(i) > segs(i) * segN(i + 1)
          })
        } finally pcm.close()
      } finally raw.close()
    } catch {
      case scala.util.control.NonFatal(_) => audioHashFallback(payload)
    }
  }

  /** Fallback contour hash over raw bytes: byte²-energy per slice
    * (`[k·n/65, max(from+1, (k+1)·n/65))` — the [[audioFallback]]
    * envelope convention), comparisons via exact integer
    * cross-multiplication promoted through BigInt so multi-GB payloads
    * can't silently overflow where the oracle's HUGEINT wouldn't. */
  private def audioHashFallback(p: Array[Byte]): Long = {
    val n = p.length
    val e = new Array[Long](AudioHashSegs)
    val len = new Array[Long](AudioHashSegs)
    var k = 0
    while (k < AudioHashSegs) {
      val from = (k.toLong * n / AudioHashSegs).toInt
      val until = math.max(from + 1, ((k + 1).toLong * n / AudioHashSegs).toInt)
      var s = 0L
      var j = from
      while (j < until) { val b = p(j) & 0xFF; s += b.toLong * b; j += 1 }
      e(k) = s
      len(k) = until - from
      k += 1
    }
    packBits(Array.tabulate(64)(i =>
      BigInt(e(i + 1)) * len(i) > BigInt(e(i)) * len(i + 1)))
  }

  // ——— video container probes: METADATA TIER ONLY ———
  // Parse MP4/ISO-BMFF box headers and Matroska/WebM EBML elements for
  // (container, dimensions, duration, track count) WITHOUT decoding a
  // single frame — the JDK ships no video codecs, but container
  // structure is plain big-endian arithmetic, so video payloads get
  // first-class metadata while frame decode stays a deployment drop-in.

  /** Big-endian unsigned read of `n` ≤ 8 bytes. */
  private def be(p: Array[Byte], o: Int, n: Int): Long = {
    var v = 0L; var i = 0
    while (i < n) { v = (v << 8) | (p(o + i) & 0xFFL); i += 1 }
    v
  }
  private def fourcc(p: Array[Byte], o: Int): String =
    new String(p, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Container metadata probe: (container, width, height, duration_s,
    * n_tracks). MP4 and Matroska/WebM parse for real; anything else —
    * or a corrupt header — takes the deterministic byte-derived
    * fallback. Bounds-checked throughout: a crafted size field can
    * only stop the walk, never read past the payload or allocate. */
  def probeVideo(payload: Array[Byte]): (String, Int, Int, Double, Int) = {
    require(payload.nonEmpty, "empty payload")
    try {
      if (payload.length >= 16 && fourcc(payload, 4) == "ftyp")
        probeMp4(payload).getOrElse(videoFallback(payload))
      else if (payload.length >= 8 && be(payload, 0, 4) == 0x1A45DFA3L)
        probeMatroska(payload).getOrElse(videoFallback(payload))
      else videoFallback(payload)
    } catch {
      case scala.util.control.NonFatal(_) => videoFallback(payload)
    }
  }

  /** Segment count for the video content hash: 65 payload windows →
    * 64 contour bits (the [[AudioHashSegs]] convention). */
  val VideoHashSegs = 65

  /** Video content-level near-dup hash — chunked payload hash windows
    * over the container's MEDIA DATA range: the byte-mean contour of
    * [[VideoHashSegs]] equal windows, bit i set when the mean RISES
    * from window i to i+1 (cross-multiplied, integer-exact — and mean
    * comparisons make the signature invariant under a uniform byte
    * shift, the same robustness argument as the audio energy contour).
    *
    * The hashed range is what makes this CONTENT-level rather than a
    * file checksum: for MP4/ISO-BMFF it is the first top-level `mdat`
    * box's payload — two files with identical media data but edited
    * metadata atoms (title, timestamps, brand) hash IDENTICALLY and
    * dedup as the near-copies they are; for Matroska/WebM everything
    * from the first Cluster (0x1A45DFA3-headed files, cluster id
    * 0x1F43B675); unrecognized payloads hash their full byte range —
    * the deterministic fallback path the SQL oracle replays
    * bit-for-bit. Frame DECODE stays a deployment drop-in (the JDK
    * ships no video codecs); a decoder upgrade swaps the window source
    * from payload bytes to keyframe rasters without touching the
    * blocking machinery. Packs MSB-first like every sibling hash;
    * pairs come from the same pigeonhole chunk blocking. */
  def videoPerceptualHash(payload: Array[Byte]): Long = {
    require(payload.nonEmpty, "empty payload")
    val (from, until) =
      try videoContentRange(payload)
      catch { case scala.util.control.NonFatal(_) => (0, payload.length) }
    byteContour(payload, from, until)
  }

  /** The media-data byte range [[videoPerceptualHash]] hashes. Bounds-
    * checked like [[probeVideo]]'s walks: a crafted size field can only
    * fall back to the whole payload, never read out of bounds. */
  private def videoContentRange(p: Array[Byte]): (Int, Int) = {
    if (p.length >= 16 && fourcc(p, 4) == "ftyp") {
      // top-level box walk only — mdat is a top-level box by spec
      var o = 0L
      val to = p.length.toLong
      while (o + 8 <= to) {
        var size = be(p, o.toInt, 4)
        val typ = fourcc(p, o.toInt + 4)
        var hdr = 8L
        if (size == 1 && o + 16 <= to) { size = be(p, o.toInt + 8, 8); hdr = 16 }
        else if (size == 0) size = to - o
        if (size < hdr || size > to - o) return (0, p.length)
        if (typ == "mdat" && size > hdr)
          return ((o + hdr).toInt, (o + size).toInt)
        o += size
      }
      (0, p.length)
    } else if (p.length >= 8 && be(p, 0, 4) == 0x1A45DFA3L) {
      var i = 0
      while (i <= p.length - 4) {
        if ((p(i) & 0xFF) == 0x1F && (p(i + 1) & 0xFF) == 0x43 &&
            (p(i + 2) & 0xFF) == 0xB6 && (p(i + 3) & 0xFF) == 0x75)
          return (i, p.length)
        i += 1
      }
      (0, p.length)
    } else (0, p.length)
  }

  /** Byte-mean contour over [from, until) — the window index formula
    * of [[audioHashFallback]], sums of raw byte values (means compare
    * via cross-multiplication; BigInt guards the product range). */
  private def byteContour(p: Array[Byte], from: Int, until: Int): Long = {
    val n = math.max(1, until - from)
    val s = new Array[Long](VideoHashSegs)
    val len = new Array[Long](VideoHashSegs)
    var k = 0
    while (k < VideoHashSegs) {
      val a = (k.toLong * n / VideoHashSegs).toInt
      val b = math.max(a + 1, ((k + 1).toLong * n / VideoHashSegs).toInt)
      var sum = 0L
      var j = a
      while (j < b) { sum += p(from + j) & 0xFF; j += 1 }
      s(k) = sum
      len(k) = b - a
      k += 1
    }
    packBits(Array.tabulate(64)(i =>
      BigInt(s(i + 1)) * len(i) > BigInt(s(i)) * len(i + 1)))
  }

  /** ISO BMFF walk (ISO/IEC 14496-12): moov→mvhd gives
    * duration/timescale; each trak→tkhd carries 16.16 fixed-point
    * presentation dimensions (zero for audio tracks — the first
    * nonzero pair wins). 64-bit largesize and size==0 ("to end of
    * file") both honored. */
  private def probeMp4(p: Array[Byte]): Option[(String, Int, Int, Double, Int)] = {
    val brand = fourcc(p, 8).trim
    var durS = 0.0
    var w = 0; var h = 0; var tracks = 0
    def walk(from: Long, to: Long, depth: Int): Unit = {
      var o = from
      var ok = depth < 8
      while (ok && o + 8 <= to) {
        var size = be(p, o.toInt, 4)
        val typ = fourcc(p, o.toInt + 4)
        var hdr = 8L
        if (size == 1 && o + 16 <= to) { size = be(p, o.toInt + 8, 8); hdr = 16 }
        else if (size == 0) size = to - o
        if (size < hdr || size > to - o) ok = false
        else {
          val cFrom = o + hdr
          val cTo = o + size
          typ match {
            case "moov" => walk(cFrom, cTo, depth + 1)
            case "trak" => tracks += 1; walk(cFrom, cTo, depth + 1)
            case "mvhd" if cTo - cFrom >= 20 =>
              val v = p(cFrom.toInt) & 0xFF
              if (v == 1 && cTo - cFrom >= 32) {
                val ts = be(p, cFrom.toInt + 20, 4)
                if (ts > 0) durS = be(p, cFrom.toInt + 24, 8).toDouble / ts
              } else if (v == 0) {
                val ts = be(p, cFrom.toInt + 12, 4)
                if (ts > 0) durS = be(p, cFrom.toInt + 16, 4).toDouble / ts
              }
            case "tkhd" if w == 0 =>
              val v = p(cFrom.toInt) & 0xFF
              val wOff = cFrom + 4 + (if (v == 1) 32 else 20) + 52
              if (wOff + 8 <= cTo) {
                val tw = (be(p, wOff.toInt, 4) >> 16).toInt
                val th = (be(p, wOff.toInt + 4, 4) >> 16).toInt
                if (tw > 0 && th > 0) { w = tw; h = th }
              }
            case _ => ()
          }
          o = cTo
        }
      }
    }
    walk(0, p.length.toLong, 0)
    if (durS > 0 || w > 0 || tracks > 0) Some((s"mp4/$brand", w, h, durS, tracks))
    else None
  }

  /** EBML walk (RFC 8794 / Matroska): Segment→Info carries
    * TimestampScale (ns per unit, default 10⁶) and a float Duration in
    * those units; Segment→Tracks→TrackEntry→Video carries
    * PixelWidth/PixelHeight. The EBML header's DocType distinguishes
    * webm from matroska. Unknown-size elements (all VINT data bits
    * set — live streams) extend to the parent's end. */
  private def probeMatroska(p: Array[Byte]): Option[(String, Int, Int, Double, Int)] = {
    var docType = "matroska"
    var tsScale = 1000000L
    var durUnits = 0.0
    var w = 0; var h = 0; var tracks = 0
    def readId(o: Int): (Long, Int) = {
      val b0 = p(o) & 0xFF
      val len = if ((b0 & 0x80) != 0) 1 else if ((b0 & 0x40) != 0) 2
        else if ((b0 & 0x20) != 0) 3 else if ((b0 & 0x10) != 0) 4 else -1
      if (len < 0 || o + len > p.length) (-1L, -1) else (be(p, o, len), len)
    }
    def readSize(o: Int): (Long, Int) = {
      val b0 = p(o) & 0xFF
      var len = 1; var mask = 0x80
      while (len <= 8 && (b0 & mask) == 0) { len += 1; mask >>= 1 }
      if (len > 8 || o + len > p.length) (-1L, -1)
      else {
        var v = (b0 & (mask - 1)).toLong
        var i = 1
        while (i < len) { v = (v << 8) | (p(o + i) & 0xFFL); i += 1 }
        (if (v == (1L << (7 * len)) - 1) -2L else v, len) // -2 = unknown
      }
    }
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var o = from
      var ok = depth < 8
      while (ok && o < to) {
        val (id, il) = readId(o)
        if (il < 0) ok = false
        else {
          val (sz0, sl) = readSize(o + il)
          if (sl < 0) ok = false
          else {
            val cFrom = o + il + sl
            val sz = if (sz0 == -2L) (to - cFrom).toLong else sz0
            if (sz < 0 || cFrom + sz > to) ok = false
            else {
              val cTo = (cFrom + sz).toInt
              id match {
                case 0x1A45DFA3L | 0x18538067L | 0x1549A966L |
                     0x1654AE6BL | 0xE0L =>
                  walk(cFrom, cTo, depth + 1) // hdr/Segment/Info/Tracks/Video
                case 0xAEL =>
                  tracks += 1; walk(cFrom, cTo, depth + 1) // TrackEntry
                case 0x4282L => // DocType
                  docType = new String(p, cFrom, sz.toInt,
                    java.nio.charset.StandardCharsets.ISO_8859_1)
                    .takeWhile(_ != 0)
                case 0x2AD7B1L if sz >= 1 && sz <= 8 =>
                  tsScale = be(p, cFrom, sz.toInt) // TimestampScale
                case 0x4489L => // Duration (float32/float64)
                  if (sz == 4) durUnits =
                    java.lang.Float.intBitsToFloat(be(p, cFrom, 4).toInt).toDouble
                  else if (sz == 8) durUnits =
                    java.lang.Double.longBitsToDouble(be(p, cFrom, 8))
                case 0xB0L if w == 0 && sz >= 1 && sz <= 8 =>
                  w = be(p, cFrom, sz.toInt).toInt // PixelWidth
                case 0xBAL if h == 0 && sz >= 1 && sz <= 8 =>
                  h = be(p, cFrom, sz.toInt).toInt // PixelHeight
                case _ => ()
              }
              o = cTo
            }
          }
        }
      }
    }
    walk(0, p.length, 0)
    if (w > 0 || tracks > 0 || durUnits > 0)
      Some((docType, w, h, durUnits * tsScale / 1e9, tracks))
    else None
  }

  /** Fallback video "probe" for unrecognized containers — pure
    * function of the bytes, same contract as the image/audio
    * fallbacks. */
  private def videoFallback(payload: Array[Byte]): (String, Int, Int, Double, Int) = {
    val w = 16 * (1 + ((payload(0) & 0xFF) % 120))                   // 16…1920
    val h = 16 * (1 + ((payload(payload.length - 1) & 0xFF) % 68))   // 16…1088
    ("unknown", w, h, payload.length / 1024.0, 0)
  }

  // ——— compressed-audio container probes: METADATA TIER ONLY ———
  // MP3 frame headers (+Xing/Info VBR tag), FLAC STREAMINFO, and
  // Ogg (Vorbis/Opus) identification headers are plain integer
  // arithmetic over a few header bytes — no codec needed for
  // (format, rate, channels, duration, bitrate). The PCM formats
  // (WAV/AIFF/AU) already decode for real via decodeAudio; this tier
  // makes the COMPRESSED formats first-class metadata the same way
  // probeVideo did for MP4/Matroska.

  /** Little-endian unsigned read of `n` ≤ 8 bytes. */
  private def leu(p: Array[Byte], o: Int, n: Int): Long = {
    var v = 0L; var i = n - 1
    while (i >= 0) { v = (v << 8) | (p(o + i) & 0xFFL); i -= 1 }
    v
  }

  /** Compressed-audio metadata probe: (format, sample_rate, channels,
    * duration_s, bitrate_kbps). MP3 / FLAC / Ogg-Vorbis / Ogg-Opus
    * parse for real; anything else — including the PCM formats, which
    * have a richer REAL decode path — takes the deterministic
    * byte-derived fallback. Bounds-checked: crafted length fields can
    * only stop the parse. */
  def probeAudio(payload: Array[Byte]): (String, Int, Int, Double, Int) = {
    require(payload.nonEmpty, "empty payload")
    try {
      val p = payload
      if (p.length >= 42 && p(0) == 'f' && p(1) == 'L' && p(2) == 'a' &&
          p(3) == 'C')
        probeFlac(p).getOrElse(audioMetaFallback(p))
      else if (p.length >= 28 && p(0) == 'O' && p(1) == 'g' &&
          p(2) == 'g' && p(3) == 'S')
        probeOgg(p).getOrElse(audioMetaFallback(p))
      else probeMp3(p).getOrElse(audioMetaFallback(p))
    } catch {
      case scala.util.control.NonFatal(_) => audioMetaFallback(payload)
    }
  }

  // MPEG audio tables (ISO/IEC 11172-3): bitrate kbps by
  // (version, layer, index); sample rate by (version, index).
  private val mp3BitrateV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96,
    112, 128, 160, 192, 224, 256, 320, -1)
  private val mp3BitrateV2L3 = Array(0, 8, 16, 24, 32, 40, 48, 56,
    64, 80, 96, 112, 128, 144, 160, -1)
  private val mp3RateV1 = Array(44100, 48000, 32000, -1)

  /** MPEG-1/2/2.5 Layer III: skip an ID3v2 tag (syncsafe size), sync
    * on the first valid frame header, read version / bitrate / rate /
    * channel mode; a Xing/Info tag (at the version-and-mode-dependent
    * side-info offset) gives the exact VBR frame count, else duration
    * is the CBR estimate audioBytes·8 / bitrate. Sync search is
    * bounded to the first 64 KiB past the tag — a text payload that
    * merely contains 0xFF bytes cannot cost a full scan. */
  private def probeMp3(p: Array[Byte]): Option[(String, Int, Int, Double, Int)] = {
    var o = 0
    if (p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3') {
      val sz = ((p(6) & 0x7FL) << 21) | ((p(7) & 0x7FL) << 14) |
        ((p(8) & 0x7FL) << 7) | (p(9) & 0x7FL)
      o = (10L + sz).min(p.length.toLong).toInt
    }
    val limit = math.min(p.length - 4, o + 65536)
    var found = -1
    while (found < 0 && o < limit) {
      if ((p(o) & 0xFF) == 0xFF && (p(o + 1) & 0xE0) == 0xE0) found = o
      else o += 1
    }
    if (found < 0) return None
    val h1 = p(found + 1) & 0xFF
    val h2 = p(found + 2) & 0xFF
    val h3 = p(found + 3) & 0xFF
    val verBits = (h1 >> 3) & 0x3   // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    val layerBits = (h1 >> 1) & 0x3 // 1=Layer III
    if (verBits == 1 || layerBits != 1) return None
    val v1 = verBits == 3
    val bitrate = (if (v1) mp3BitrateV1L3 else mp3BitrateV2L3)((h2 >> 4) & 0xF)
    val rateBase = mp3RateV1((h2 >> 2) & 0x3)
    if (bitrate <= 0 || rateBase <= 0) return None
    val rate = verBits match {
      case 3 => rateBase; case 2 => rateBase / 2; case _ => rateBase / 4
    }
    val mono = ((h3 >> 6) & 0x3) == 3
    val channels = if (mono) 1 else 2
    val spf = if (v1) 1152 else 576
    // Xing/Info VBR tag sits after the side info block
    val sideInfo = (v1, mono) match {
      case (true, false) => 32; case (true, true) => 17
      case (false, false) => 17; case (false, true) => 9
    }
    val x = found + 4 + sideInfo
    val xingFrames =
      if (x + 12 <= p.length &&
          ((p(x) == 'X' && p(x + 1) == 'i' && p(x + 2) == 'n' && p(x + 3) == 'g') ||
           (p(x) == 'I' && p(x + 1) == 'n' && p(x + 2) == 'f' && p(x + 3) == 'o')) &&
          (be(p, x + 4, 4) & 0x1L) != 0)
        be(p, x + 8, 4)
      else 0L
    val duration =
      if (xingFrames > 0) xingFrames.toDouble * spf / rate
      else (p.length - found).toDouble * 8 / (bitrate * 1000)
    Some(("mp3", rate, channels, duration, bitrate))
  }

  /** FLAC STREAMINFO (the mandatory first metadata block): 20-bit
    * sample rate, 3-bit channels−1, 36-bit total samples starting at
    * byte 18 of the stream. Container-level bitrate = size·8/duration. */
  private def probeFlac(p: Array[Byte]): Option[(String, Int, Int, Double, Int)] = {
    if ((p(4) & 0x7F) != 0 || be(p, 5, 3) < 34) return None
    val rate = ((be(p, 18, 2) << 4) | ((p(20) & 0xF0L) >> 4)).toInt
    val channels = (((p(20) >> 1) & 0x7) + 1).toInt
    val totalSamples = ((p(21) & 0x0FL) << 32) | be(p, 22, 4)
    if (rate <= 0) return None
    val duration = totalSamples.toDouble / rate
    val kbps =
      if (duration > 0) math.round(p.length * 8 / duration / 1000).toInt
      else 0
    Some(("flac", rate, channels, duration, kbps))
  }

  /** Ogg: the first page's payload is the codec id header —
    * `vorbis` (channels, LE32 rate) or `OpusHead` (channels,
    * LE16 pre-skip; output rate fixed at 48 kHz). Duration comes from
    * the LAST page's granule position (PCM sample count), found by a
    * bounded backward scan for the `OggS` capture pattern. */
  private def probeOgg(p: Array[Byte]): Option[(String, Int, Int, Double, Int)] = {
    val nSegs = p(26) & 0xFF
    val off = 27 + nSegs
    if (off + 19 > p.length) return None
    // granule needs 14 bytes past the capture pattern, not a whole
    // 27-byte page header — a minimal trailing page (nSegs = 0) sits
    // exactly 27 from the end
    var last = p.length - 14
    while (last > 0 && !(p(last) == 'O' && p(last + 1) == 'g' &&
        p(last + 2) == 'g' && p(last + 3) == 'S')) last -= 1
    val granule = if (last >= 0) leu(p, last + 6, 8) else 0L
    if (p(off) == 1 && p(off + 1) == 'v' && p(off + 2) == 'o' &&
        p(off + 3) == 'r' && p(off + 4) == 'b' && p(off + 5) == 'i' &&
        p(off + 6) == 's') {
      val channels = p(off + 11) & 0xFF
      val rate = leu(p, off + 12, 4).toInt
      if (rate <= 0 || channels <= 0) return None
      val duration = if (granule > 0) granule.toDouble / rate else 0.0
      val kbps = if (duration > 0)
        math.round(p.length * 8 / duration / 1000).toInt else 0
      Some(("ogg-vorbis", rate, channels, duration, kbps))
    } else if (off + 19 <= p.length && p(off) == 'O' && p(off + 1) == 'p' &&
        p(off + 2) == 'u' && p(off + 3) == 's' && p(off + 4) == 'H' &&
        p(off + 5) == 'e' && p(off + 6) == 'a' && p(off + 7) == 'd') {
      val channels = p(off + 9) & 0xFF
      val preSkip = leu(p, off + 10, 2)
      if (channels <= 0) return None
      val duration =
        if (granule > preSkip) (granule - preSkip).toDouble / 48000 else 0.0
      val kbps = if (duration > 0)
        math.round(p.length * 8 / duration / 1000).toInt else 0
      Some(("ogg-opus", 48000, channels, duration, kbps))
    } else None
  }

  /** Fallback audio-metadata "probe" for unrecognized formats — the
    * same byte-derived scheme as [[decodeAudio]]'s fallback (rate and
    * channels from edge bytes, one "frame" per byte), expressible in
    * ANSI SQL so the query over a text corpus is oracle-checked. */
  private def audioMetaFallback(p: Array[Byte]): (String, Int, Int, Double, Int) = {
    val rate = 8000 + ((p(0) & 0xFF) % 8) * 1000
    val channels = 1 + ((p(p.length - 1) & 0xFF) % 2)
    ("unknown", rate, channels, p.length.toDouble / rate, 0)
  }

  /** Perceptual near-dup hashes: aHash (mean-threshold bits over an
    * 8×8 luminance grid) and dHash (horizontal-gradient bits over a
    * 9×8 grid) — the standard image near-duplicate signatures
    * (Krawetz's average/difference hash). Real images decode through
    * the same guarded ImageIO path as [[decode]] and box-average the
    * actual raster into the grids; non-image payloads take grids of
    * evenly-spaced byte taps (the [[fallback]] convention) —
    * deterministic and integer-exact, so the SQL oracle replays them.
    * Both hashes pack row-major, MSB-first, as unsigned 64-bit longs.
    * Thresholds are integer-exact (`g·64 > Σg` instead of a float
    * mean), so any engine derives identical bits. */
  def perceptualHash(payload: Array[Byte]): (Long, Long) = {
    require(payload.nonEmpty, "empty payload")
    val (ga, gd): (Array[Int], Array[Int]) =
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        if (iis == null) fallbackGrids(payload)
        else try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) fallbackGrids(payload)
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis, true, true)
              val w = reader.getWidth(0)
              val h = reader.getHeight(0)
              if (w <= 0 || h <= 0 || w.toLong * h > maxDecodePixels)
                fallbackGrids(payload)
              else {
                val img = reader.read(0)
                (lumaGrid(img, 8, 8), lumaGrid(img, 9, 8))
              }
            } finally reader.dispose()
          }
        } finally iis.close()
      } catch {
        case scala.util.control.NonFatal(_) => fallbackGrids(payload)
      }
    (ahashOf(ga), dhashOf(gd))
  }

  private def fallbackGrids(p: Array[Byte]): (Array[Int], Array[Int]) =
    (fallbackTaps(p, 64), fallbackTaps(p, 72))

  /** Evenly-spaced byte taps — the same index formula as the fallback
    * embedding, so the oracle's `(k·(len−1))//(n−1)` replays it. */
  private def fallbackTaps(p: Array[Byte], n: Int): Array[Int] =
    Array.tabulate(n)(k =>
      p((k.toLong * (p.length - 1) / (n - 1)).toInt) & 0xFF)

  /** Box-averaged luminance grid (gh rows × gw cols, row-major):
    * integer mean of BT.601 gray over each box; boxes clamp to ≥ 1
    * pixel so any image ≥ 1×1 fills every cell. */
  private def lumaGrid(img: java.awt.image.BufferedImage,
      gw: Int, gh: Int): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    def gray(argb: Int): Int = {
      val r = (argb >> 16) & 0xFF; val g = (argb >> 8) & 0xFF
      val b = argb & 0xFF
      (r * 299 + g * 587 + b * 114) / 1000
    }
    Array.tabulate(gh * gw) { i =>
      val r = i / gw; val c = i % gw
      val x0 = c * w / gw; val x1 = math.max(x0 + 1, (c + 1) * w / gw)
      val y0 = r * h / gh; val y1 = math.max(y0 + 1, (r + 1) * h / gh)
      var s = 0L; var cnt = 0
      var y = y0
      while (y < y1) {
        var x = x0
        while (x < x1) { s += gray(px(y * w + x)); cnt += 1; x += 1 }
        y += 1
      }
      (s / cnt).toInt
    }
  }

  /** Row-major MSB-first 64-bit packing: byte j carries bits 8j..8j+7
    * with in-byte weight `1 << (7−c)` — exactly the hex-byte layout
    * the oracle renders. */
  private def packBits(bits: Array[Boolean]): Long = {
    var hash = 0L
    var j = 0
    while (j < 8) {
      var b = 0
      var c = 0
      while (c < 8) { if (bits(j * 8 + c)) b |= 1 << (7 - c); c += 1 }
      hash = (hash << 8) | b
      j += 1
    }
    hash
  }

  private[multimodal] def ahashOf(g: Array[Int]): Long = {
    var sum = 0L
    var i = 0
    while (i < g.length) { sum += g(i); i += 1 }
    packBits(Array.tabulate(64)(i => g(i).toLong * 64 > sum))
  }

  // canonical dHash bit: set when luminance INCREASES left → right
  private[multimodal] def dhashOf(g: Array[Int]): Long =
    packBits(Array.tabulate(64)(i =>
      g(i / 8 * 9 + i % 8) < g(i / 8 * 9 + i % 8 + 1)))

  /** Fallback "decode" for unrecognized formats: dimensions from
    * leading bytes, per-byte mean, an 8-dim embedding from
    * evenly-spaced taps. Pure function of bytes. */
  private def fallback(payload: Array[Byte]): (Int, Int, Double, Array[Float]) = {
    val width = 1 + (payload(0) & 0xFF) % 640
    val height = 1 + (payload(payload.length - 1) & 0xFF) % 480
    var sum = 0L
    var i = 0
    while (i < payload.length) { sum += (payload(i) & 0xFF); i += 1 }
    val mean = sum.toDouble / payload.length
    val emb = Array.tabulate(embeddingDim) { k =>
      val idx = (k.toLong * (payload.length - 1) / math.max(1, embeddingDim - 1)).toInt
      ((payload(idx) & 0xFF) / 255.0f)
    }
    (width, height, mean, emb)
  }
}

object Multimodal {

  /** Attach a binary payload + metadata struct to a text corpus (the
    * testdata stand-in for real media files; a production source reads
    * `spark.read.format("binaryFile")`). */
  def withPayload(docs: DataFrame, contentCol: String = "content"): DataFrame =
    docs
      .withColumn("payload", encode(col(contentCol), "UTF-8").cast(BinaryType))
      .withColumn("meta", struct(
        lit("text").as("modality"),
        lit("utf-8").as("format"),
        octet_length(col("payload")).cast(LongType).as("size_bytes")))

  /** Size-aware repartition: balance partitions by cumulative payload
    * BYTES, not row count — media rows are wildly non-uniform (a 4 KB
    * thumbnail vs a 40 MB video); at 100 TB this is the difference
    * between a straggler-free decode stage and one 40×-skewed task.
    *
    * Two-tier assignment with a STRUCTURAL driver bound:
    *  - Outlier rows (size ≥ target/8, where target = totalBytes/parts)
    *    are collected as a slim (id, size) list and greedily LPT-packed
    *    descending onto the lightest bin (within 4/3 of optimal). The
    *    mass bound makes the driver state safe at ANY corpus size: at
    *    most totalBytes / (target/8) = 8·parts rows can qualify,
    *    whatever the distribution — a thousand-partition cluster
    *    collects at most 8,000 entries.
    *  - Everything below the threshold hash-spreads by `idCol`; each
    *    bin's small-row mass concentrates at smallTotal/parts with
    *    per-bin deviation bounded by the threshold itself.
    * The bin rides back on ONE broadcast join (corpus rows never
    * shuffle for the lookup) and the payload moves exactly once, in a
    * final exchange routed EXACTLY to the bin's partition (murmur3
    * preimages — see below). Earlier spellings that
    * range-partition on `size DESC` do the OPPOSITE of balancing when
    * outliers are rare — the whole heavy head lands in partition 0
    * (measured by `graft.stress.MultimodalStress`; naive hash placement
    * clusters them Poisson-style instead).
    *
    * Contract + cost notes (ADVICE r13): `idCol` must be UNIQUE and
    * NON-NULL among outlier-sized rows — the bin rides back on an
    * equi-join keyed by it, so a duplicate id would multiply rows and
    * a null id would never join; both are CHECKED on the collected
    * (≤ 8·parts) outlier list, cheaply, before the join can corrupt
    * cardinality. The temp columns are suffixed with a nonce so a
    * same-named user column can't collide. The input is evaluated up
    * to THREE times (total-size aggregate, outlier collect, final
    * shuffle) — callers with expensive upstream lineage should
    * localCheckpoint/cache `df` first; for the cheap scan-shaped
    * inputs of the decode pipeline the three passes are columnar scans
    * of one file set. */
  def repartitionBySizeHint(df: DataFrame, parts: Int,
      sizeCol: String, idCol: String = "doc_id"): DataFrame = {
    require(parts >= 1, s"parts must be positive: $parts")
    val spark = df.sparkSession
    val head = df.agg(
      sum(col(sizeCol).cast(LongType)), count(lit(1))).head()
    val total = if (head.isNullAt(0)) 0L else head.getLong(0)
    if (total <= 0L) return df.repartition(parts)
    val target = math.max(1L, total / parts)
    val thresh = math.max(1L, target / 8)
    val outliers = df.filter(col(sizeCol).cast(LongType) >= thresh)
      .select(col(idCol), col(sizeCol).cast(LongType))
      .collect()
    // enforce the join-key contract on the driver-bounded outlier list
    // (≤ 8·parts rows by the mass bound): a duplicate or null id here
    // would silently change row cardinality through the bin join
    require(outliers.forall(!_.isNullAt(0)),
      s"repartitionBySizeHint: null $idCol among outlier-sized rows")
    require(outliers.iterator.map(_.get(0)).toSet.size == outliers.length,
      s"repartitionBySizeHint: duplicate $idCol among outlier-sized rows " +
        "— the id contract is unique ids")
    // deterministic temp names that cannot collide with user columns
    // (a same-named __bin in the input would previously be dropped)
    def fresh(base: String): String = {
      var c = base
      while (df.columns.contains(c)) c += "_"
      c
    }
    val binCol = fresh("__bin")
    val oidCol = fresh("__oid")
    val obinCol = fresh("__obin")
    val smallBin = pmod(hash(col(idCol)), lit(parts))
    val binned =
      if (outliers.isEmpty) df.withColumn(binCol, smallBin)
      else {
        val loads = new Array[Long](parts)
        val assign = outliers.sortBy(-_.getLong(1)).map { r =>
          var b = 0
          var i = 1
          while (i < parts) { if (loads(i) < loads(b)) b = i; i += 1 }
          loads(b) += r.getLong(1)
          org.apache.spark.sql.Row(r.get(0), b)
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          df.schema(idCol).copy(name = oidCol),
          org.apache.spark.sql.types.StructField(obinCol,
            org.apache.spark.sql.types.IntegerType, nullable = false)))
        val binDf = spark.createDataFrame(
          java.util.Arrays.asList(assign: _*), schema)
        df.join(broadcast(binDf), col(idCol) === col(oidCol), "left")
          .withColumn(binCol, coalesce(col(obinCol), smallBin))
          .drop(oidCol, obinCol)
      }
    // EXACT bin → partition placement: `repartition(n, expr)` routes a
    // row to pmod(murmur3(expr), n), so map each bin to a precomputed
    // murmur3 PREIMAGE and the hash lands every bin exactly where the
    // LPT put it. A range exchange here re-introduces sampler jitter:
    // its boundaries drift by O(inputRows/sampleSize) rows, and one
    // boundary crossing one outlier costs a whole outlier of balance
    // (measured 1.4–1.9× on the graft.stress.MultimodalStress corpus;
    // exact placement reproduces the per-bin 1.02×).
    val preimage: Array[Int] = {
      val out = new Array[Int](parts)
      val seen = new Array[Boolean](parts)
      var found = 0
      var x = 0
      while (found < parts) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42)
        val p = ((h % parts) + parts) % parts
        if (!seen(p)) { seen(p) = true; out(p) = x; found += 1 }
        x += 1
      }
      out
    }
    binned
      .repartition(parts,
        element_at(array(preimage.map(lit).toSeq: _*), col(binCol) + 1))
      .drop(binCol)
  }

  /** Batched per-partition feature extraction — the Scala analog of
    * mapInPandas: each partition iterator is consumed in `batchSize`
    * groups, the decoder runs once per record but any per-batch setup
    * (model load, codec context) amortizes across the batch. Streaming
    * iterator in/out — no partition-sized materialization. */
  def extractFeatures(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup would init the codec/model here (stubbed)
        batch.iterator.map { r =>
          val (w, h, mean, emb) = DecodeStub.decode(r.payload)
          MediaFeatures(r.doc_id, w, h, mean, emb)
        }
      }
    }
  }

  /** Audio twin of [[extractFeatures]]: same batched streaming
    * partition iterator, audio feature schema (rate / channels /
    * frames / duration / rms / energy-envelope embedding). WAV, AIFF
    * and AU payloads decode for real ([[DecodeStub.decodeAudio]]);
    * anything else takes the deterministic fallback. */
  def extractAudioFeatures(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (rate, ch, frames, rms, emb) = DecodeStub.decodeAudio(r.payload)
          AudioFeatures(r.doc_id, rate, ch, frames,
            frames.toDouble / rate, rms, emb)
        }
      }
    }
  }

  /** Video twin at the METADATA tier ([[DecodeStub.probeVideo]]): MP4
    * and Matroska/WebM container headers parse for real (dimensions,
    * duration, track count — no frame ever decodes; the JDK ships no
    * video codecs and none are needed for this tier); unrecognized
    * payloads take the deterministic fallback. Same batched streaming
    * partition contract as [[extractFeatures]]. */
  def probeVideoMeta(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (c, w, h, d, t) = DecodeStub.probeVideo(r.payload)
          VideoMeta(r.doc_id, c, w, h, d, t)
        }
      }
    }
  }

  /** Compressed-audio twin at the METADATA tier
    * ([[DecodeStub.probeAudio]]): MP3 frame headers (+Xing VBR tag),
    * FLAC STREAMINFO and Ogg Vorbis/Opus id headers parse for real —
    * format, rate, channels, duration, bitrate without any codec;
    * unrecognized payloads take the deterministic fallback. Same
    * batched streaming partition contract as [[extractFeatures]]. */
  def probeAudioMeta(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (f, rate, ch, dur, kbps) = DecodeStub.probeAudio(r.payload)
          AudioMeta(r.doc_id, f, rate, ch, dur, kbps)
        }
      }
    }
  }

  /** Perceptual aHash/dHash per record ([[DecodeStub.perceptualHash]]):
    * real rasters box-average into the hash grids, non-images take the
    * deterministic byte-tap grids. Same batched streaming partition
    * contract as [[extractFeatures]]. */
  def perceptualHashes(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[PerceptualHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (a, d) = DecodeStub.perceptualHash(r.payload)
          PerceptualHash(r.doc_id, a, d)
        }
      }
    }
  }

  /** Image near-duplicate pairs at dHash hamming ≤ `maxHamming` (< 4):
    * the SimHash pigeonhole machinery over the perceptual hash — 4
    * 16-bit chunks equi-join (pigeonhole-complete for maxHamming ≤ 3),
    * `bit_count(xor)` verify. Candidate pairs only, never the n²
    * cross product — the [[graft.dedup.Dedup]] scale argument applies
    * unchanged to image corpora. */
  def imageNearDuplicates(hashes: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int = 3,
      maxChunkGroup: Int = 0): DataFrame =
    graft.dedup.Dedup.hammingPairs(
      hashes.select(col(idCol).as("__id"), col(hashCol).as("__sim")),
      chunkBits = 16, nChunks = 4, maxHamming = maxHamming,
      maxChunkGroup = maxChunkGroup)

  /** Audio energy-contour hash per record
    * ([[DecodeStub.audioPerceptualHash]]): real WAV/AIFF/AU payloads
    * hash their decoded PCM, anything else the deterministic
    * byte²-energy fallback. Same batched streaming partition contract
    * as [[extractFeatures]]. */
  def audioPerceptualHashes(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[AudioHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          AudioHash(r.doc_id, DecodeStub.audioPerceptualHash(r.payload))
        }
      }
    }
  }

  /** Audio near-duplicate pairs at contour-hash hamming ≤ `maxHamming`
    * (< 4) — [[imageNearDuplicates]]'s pigeonhole blocking applied to
    * the audio signature; the 64-bit hash shape is identical, so the
    * same 4×16-bit chunk join bounds candidates. */
  def audioNearDuplicates(hashes: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int = 3,
      maxChunkGroup: Int = 0): DataFrame =
    imageNearDuplicates(hashes, idCol, hashCol, maxHamming, maxChunkGroup)

  /** Video content hash per record ([[DecodeStub.videoPerceptualHash]]):
    * MP4 payloads hash their mdat media data, Matroska from the first
    * Cluster, anything else the whole-payload contour fallback. Same
    * batched streaming partition contract as [[extractFeatures]]. */
  def videoPerceptualHashes(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[VideoHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          VideoHash(r.doc_id, DecodeStub.videoPerceptualHash(r.payload))
        }
      }
    }
  }

  /** Video near-duplicate pairs at contour-hash hamming ≤ `maxHamming`
    * (< 4) — the same 4×16-bit pigeonhole chunk blocking as
    * [[imageNearDuplicates]]; the 64-bit hash shape is shared across
    * all three media signatures by design. */
  def videoNearDuplicates(hashes: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int = 3,
      maxChunkGroup: Int = 0): DataFrame =
    imageNearDuplicates(hashes, idCol, hashCol, maxHamming, maxChunkGroup)

  /** Interleaved multimodal documents (the MMC4/OBELICS layout:
    * running text with inline image references, consumed by
    * interleaved image-text training): split each document into an
    * ORDERED sequence of segments at `<img:ID>` markers — one row per
    * segment, `(doc_id, seg_idx, kind ∈ text|image, media_id,
    * content)`. Text segments carry their trimmed text; image segments
    * carry the referenced media id for [[attachMedia]] to resolve.
    * Pure map-side column ops (regex + one compiled split/trim pass
    * ([[graft.functions.TrimSegmentsExpr]]) + posexplode) — codegen,
    * no UDF, no shuffle — and every step engine-portable, so the SQL
    * oracle replays the segmentation byte-for-byte. The earlier
    * `filter(transform(split(...)))` spelling (retained in
    * [[interleaveSegmentsReference]] as the parity pin) interpreted
    * two lambdas per SEGMENT per row — ArrayFilter/ArrayTransform are
    * CodegenFallback and segment count grows with document length,
    * the data-sized-array tax class the compiled gates retired. */
  def interleaveSegments(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    interleaveFrom(docs, idCol, textCol, (marked, sep) =>
      graft.functions.NativeText.trimSegments(marked, sep))

  /** HOF reference spelling of [[interleaveSegments]] (parity tests
    * only — interpreted). */
  private[graft] def interleaveSegmentsReference(docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    interleaveFrom(docs, idCol, textCol, (marked, sep) =>
      filter(transform(split(marked, sep, -1), s => trim(s)),
        s => s =!= ""))

  private def interleaveFrom(docs: DataFrame, idCol: String,
      textCol: String, segs: (Column, String) => Column): DataFrame = {
    val sep = "\u001f"
    val markerFull = "^<img:\\d+>$"
    val marked = regexp_replace(col(textCol),
      "(<img:\\d+>)", sep + "$1" + sep)
    docs.select(col(idCol).as("doc_id"),
        posexplode(segs(marked, sep)).as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx").cast(IntegerType).as("seg_idx"),
        when(col("seg").rlike(markerFull), lit("image"))
          .otherwise(lit("text")).as("kind"),
        when(col("seg").rlike(markerFull),
          regexp_extract(col("seg"), "^<img:(\\d+)>$", 1).cast(LongType))
          .as("media_id"),
        when(!col("seg").rlike(markerFull), col("seg")).as("content"))
  }

  /** Resolve image segments against a media table `(media_id, …)`:
    * LEFT join so a dangling reference keeps its segment row with NULL
    * media columns and a `resolved` flag — dropped or quarantined by
    * the caller's policy, never silently vanished. One key join; text
    * segments pass through untouched. */
  def attachMedia(segments: DataFrame, media: DataFrame,
      mediaIdCol: String): DataFrame = {
    // explicit presence marker: inferring a match from "some payload
    // column is non-null" breaks on a key-only media table (no column
    // left to test) and on genuinely-null payload columns
    val m = media.withColumnRenamed(mediaIdCol, "media_id")
      .withColumn("__present", lit(true))
    segments.join(m, Seq("media_id"), "left")
      .withColumn("resolved",
        (col("kind") === "text") || col("__present").isNotNull)
      .drop("__present")
  }

  /** Deterministic "frame sampling": `n` evenly-spaced fixed-width
    * windows per payload — the shape of video frame-grab / audio
    * chunking, expressed as pure column ops (codegen, no UDF). One
    * projection + explode; no shuffle. */
  def sampleFrames(docs: DataFrame, contentCol: String, n: Int,
      frameLen: Int): DataFrame = {
    val len = length(col(contentCol))
    val frames = (0 until n).map { i =>
      val off = greatest(lit(1L),
        floor((len - frameLen) * lit(i) / lit(n - 1.0)).cast(LongType) + 1L)
      struct(lit(i).as("frame_idx"),
        md5(encode(substr(col(contentCol), off, lit(frameLen)), "UTF-8"))
          .as("frame_hash"))
    }
    docs.select(col("doc_id"), explode(array(frames: _*)).as("frame"))
      .select(col("doc_id"), col("frame.frame_idx"), col("frame.frame_hash"))
  }
}
