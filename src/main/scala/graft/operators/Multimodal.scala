package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: opaque `binary` payloads + typed metadata, with
  * batch featurization plumbing (SURVEY/BASELINE north-star item).
  *
  * The Spark-side contract is real — schema, partition-preserving
  * `mapPartitions` batching, output shape. Image DIMENSIONS are real:
  * PNG (IHDR), JPEG (SOF marker scan) and GIF (logical screen
  * descriptor) headers are parsed directly from the payload bytes —
  * public container formats, no codec needed.
  *
  * DECODE itself is now real for two whole families:
  *   - images: full pixel decode via the JDK's own javax.imageio
  *     codecs (PNG/JPEG/GIF/BMP, headless-verified) → [[imageStats]]/
  *     [[featurizeImage]];
  *   - audio: raw-PCM WAV sample decode in pure JVM → [[pcmStats]]/
  *     [[featurizeAudio]].
  * Only formats NEITHER path reads (MP3/OGG/video containers) fall
  * back to [[decodeStub]]'s deterministic byte-derived fake, kept for
  * the x15 legacy contract — a real deployment swaps it for an
  * FFI/`mapInPandas` decoder with ffmpeg. Payload bytes never
  * shuffle: featurize runs scan-side before any exchange, and only
  * the small feature struct flows on.
  */
object Multimodal {

  /** Parsed image header: (format, width, height). */
  final case class ImageHeader(format: String, width: Int, height: Int)

  private def u16be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def u16le(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
  private def i32be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  /** Width/height from PNG/JPEG/GIF container headers (format specs:
    * PNG = 8-byte signature + IHDR chunk; JPEG = marker stream, dims in
    * the first SOFn segment; GIF = 6-byte version + logical screen
    * descriptor). None for anything else — malformed or non-image
    * payloads never throw, they just don't decode. */
  def imageHeader(b: Array[Byte]): Option[ImageHeader] = {
    if (b == null) return None
    // PNG: \x89PNG\r\n\x1a\n, IHDR length+type at 8..15, dims at 16/20
    if (b.length >= 24 &&
        (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      return Some(ImageHeader("png", i32be(b, 16), i32be(b, 20)))
    // GIF87a / GIF89a: dims = little-endian u16 pair at offset 6
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return Some(ImageHeader("gif", u16le(b, 6), u16le(b, 8)))
    // JPEG: FFD8, then walk FFxx segments to the first SOFn (C0-CF
    // minus C4/C8/CC which are not frame headers); dims at seg+5/+7
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 9 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None // marker desync
        // ITU-T T.81 §B.1.1.2: any number of 0xFF fill bytes may pad
        // before a marker code — skip the run so padding between
        // segments is not misread as desync or a bogus 0xFF marker
        while (i + 2 < b.length && (b(i + 1) & 0xff) == 0xff) i += 1
        if (i + 9 >= b.length) return None
        val m = b(i + 1) & 0xff
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) {
          i += 2 // standalone marker, no length field
        } else {
          val len = u16be(b, i + 2)
          if (len < 2) return None
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            if (i + 8 < b.length)
              return Some(ImageHeader("jpeg", u16be(b, i + 7), u16be(b, i + 5)))
            return None
          }
          i += 2 + len
        }
      }
      return None
    }
    None
  }

  /** Parsed audio header (WAV/RIFF): channels, sample rate, bit depth,
    * and duration derived from the data-chunk size. */
  final case class AudioHeader(format: String, channels: Int,
                               sampleRateHz: Int, bitsPerSample: Int,
                               durationMs: Long)

  private def u32le(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xffL) << 24) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 1) & 0xffL) << 8) | (b(i) & 0xffL)

  /** THE RIFF chunk walk — the one place the hostile-length guard
    * lives. Yields `(id, payloadOffset, declaredLen)` per chunk from
    * offset 12 and STOPS (never throws) at the first chunk whose
    * declared size would overflow the index arithmetic; both
    * [[audioHeader]] and [[pcmStats]] walk through here, so neither
    * can reach a negative index on untrusted crawl bytes. Chunks are
    * word-aligned (odd sizes carry one pad byte). */
  private def riffChunks(b: Array[Byte]): Iterator[(String, Int, Long)] =
    new scala.collection.AbstractIterator[(String, Int, Long)] {
      // Long cursor: a declared len near Int.MaxValue must not wrap the
      // next-chunk offset negative (a negative Int cursor would pass the
      // bounds check and index out of bounds on a crafted WAV)
      private var i: Long = 12L
      def hasNext: Boolean = i + 8 <= b.length
      def next(): (String, Int, Long) = {
        val at = i.toInt
        val id = new String(b, at, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val len = u32le(b, at + 4)
        val off = at + 8
        i = off.toLong + len + (len & 1L)
        (id, off, len)
      }
    }

  /** WAV (RIFF) header parse — [[riffChunks]] walk; `fmt ` gives
    * channels/rate/depth, `data` gives the payload size that fixes the
    * duration. Same never-throws contract as [[imageHeader]]. */
  def audioHeader(b: Array[Byte]): Option[AudioHeader] = {
    if (b == null || b.length < 44) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var channels = 0; var rate = 0; var bits = 0; var dataLen = -1L
    val chunks = riffChunks(b)
    while (chunks.hasNext && (channels == 0 || dataLen < 0)) {
      val (id, off, len) = chunks.next()
      if (id == "fmt " && off + 16 <= b.length) {
        channels = u16le(b, off + 2)
        rate = u32le(b, off + 4).toInt
        bits = u16le(b, off + 14)
      } else if (id == "data") {
        dataLen = len
      }
    }
    if (channels <= 0 || rate <= 0 || bits <= 0 || dataLen < 0) None
    else {
      val bytesPerSec = rate.toLong * channels * (bits / 8)
      val durMs = if (bytesPerSec == 0) 0L else dataLen * 1000L / bytesPerSec
      Some(AudioHeader("wav", channels, rate, bits, durMs))
    }
  }

  /** Parsed video container header (MP4/ISO-BMFF): brand, duration
    * from `mvhd`, first video track's pixel dimensions from `tkhd`,
    * and the track count. Pure box-walk — container metadata needs no
    * codec; FRAME decode is the part that genuinely does and stays
    * out of scope. */
  final case class VideoHeader(format: String, durationMs: Long,
                               width: Int, height: Int, nTracks: Int)

  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def u64be(b: Array[Byte], i: Int): Long =
    (u32be(b, i) << 32) | u32be(b, i + 4)

  /** MP4 (ISO-BMFF, ISO/IEC 14496-12) header parse: the file is a box
    * tree (`size | type | payload`); `ftyp` identifies the brand,
    * `moov/mvhd` carries timescale+duration, each `moov/trak/tkhd`
    * carries the track's 16.16 fixed-point display size (non-zero for
    * video tracks). Same never-throws contract as [[imageHeader]]. */
  def videoHeader(b: Array[Byte]): Option[VideoHeader] = {
    if (b == null || b.length < 16) None
    else if (!(u32be(b, 0) >= 8 && b(4) == 'f' && b(5) == 't' &&
               b(6) == 'y' && b(7) == 'p')) None
    else try {
      val brand = new String(b, 8, 4, java.nio.charset.StandardCharsets.US_ASCII).trim
      var durMs = 0L; var w = 0; var h = 0; var tracks = 0
      // walk(start, end) over sibling boxes; recurse into moov/trak
      def walk(start: Long, end: Long, depth: Int): Unit = {
        var i = start
        while (i + 8 <= end) {
          val size0 = u32be(b, i.toInt)
          val typ = new String(b, i.toInt + 4, 4,
            java.nio.charset.StandardCharsets.US_ASCII)
          val (size, hdr) =
            if (size0 == 1 && i + 16 <= end) (u64be(b, i.toInt + 8), 16L)
            else (size0, 8L)
          if (size < hdr || i + size > end) return // malformed: stop
          val body = i + hdr
          typ match {
            case "moov" if depth == 0 => walk(body, i + size, 1)
            case "trak" if depth == 1 => tracks += 1; walk(body, i + size, 2)
            case "mvhd" if depth == 1 && body + 20 <= end =>
              val version = b(body.toInt) & 0xff
              val (ts, dur) =
                if (version == 1) (u32be(b, body.toInt + 20), u64be(b, body.toInt + 24))
                else (u32be(b, body.toInt + 12), u32be(b, body.toInt + 16))
              if (ts > 0) durMs = dur * 1000L / ts
            case "tkhd" if depth == 2 =>
              val version = b(body.toInt) & 0xff
              val dimOff = body.toInt + (if (version == 1) 88 else 76)
              if (dimOff + 8 <= end) {
                val tw = (u32be(b, dimOff) >> 16).toInt
                val th = (u32be(b, dimOff + 4) >> 16).toInt
                if (tw > 0 && th > 0 && w == 0) { w = tw; h = th }
              }
            case _ => ()
          }
          i += size
        }
      }
      walk(0L, b.length.toLong, 0)
      if (durMs == 0L && tracks == 0) None
      else Some(VideoHeader(s"mp4/$brand", durMs, w, h, tracks))
    } catch { case _: Throwable => None }
  }

  /** Minimal-but-real ISO-BMFF bytes from a seed (ftyp +
    * moov[mvhd, trak[tkhd]] with spec-correct box sizes and field
    * offsets) — the video-shard stand-in for the harness. */
  def synthMp4(seed: Long, brand: String = "isom"): Array[Byte] = {
    val s = math.abs(seed)
    val durationMs = 1000L + (s % 600) * 100L
    val w = 320 + (s % 8).toInt * 80
    val h = 240 + ((s / 3) % 6).toInt * 60
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + body.length)
      out.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      out.array()
    }
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.position(12); bb.putInt(1000)                  // timescale
      bb.putInt(durationMs.toInt)                       // duration
      bb.array()
    }
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.position(76); bb.putInt(w << 16).putInt(h << 16) // 16.16 dims
      bb.array()
    }
    val ftyp = box("ftyp", (brand + "    " + brand).getBytes("US-ASCII"))
    val moov = box("moov", box("mvhd", mvhd) ++ box("trak", box("tkhd", tkhd)))
    ftyp ++ moov
  }

  /** media row schema: payload + sidecar metadata (the usual lakehouse
    * layout for image/audio shards). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("source_url", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("content_hash", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Decode: REAL header dimensions when the payload is a recognized
    * image container (PNG/JPEG/GIF via [[imageHeader]]); byte-derived
    * stub dimensions otherwise (harness text payloads). The feature
    * vector is the deterministic STUB in both paths — kept for the
    * x15 legacy contract and for formats the real decode paths
    * ([[imageStats]]/[[pcmStats]]) cannot read. */
  private[operators] def decodeStub(payload: Array[Byte], dim: Int): (Int, Int, Array[Float]) = {
    if (payload == null || payload.isEmpty) (0, 0, Array.fill(dim)(0.0f))
    else {
      val (w, h) = imageHeader(payload) match {
        case Some(hd) => (hd.width, hd.height)
        case None =>
          (16 + (math.abs(payload(0).toInt) % 64),
           16 + (math.abs(payload(payload.length - 1).toInt) % 64))
      }
      val f = new Array[Float](dim)
      var i = 0
      while (i < payload.length) {
        f(i % dim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      (w, h, f)
    }
  }

  // ---- real pixel decode (the JDK ships the codecs) -----------------
  // PNG/JPEG/GIF/BMP decode via javax.imageio — part of every headless
  // JRE (verified in this container), so the pixel path needs no
  // external codec after all; the byte-derived stub remains only as
  // the fallback for formats ImageIO cannot read. One sequential pass
  // over the raster accumulates INTEGER sums (channel means, a
  // 10000-scaled Rec.709 luma with sum/sum-of-squares, an 8-bin luma
  // histogram, horizontal-gradient energy) — the standard cheap
  // image-quality signals (blank/blur/exposure gates) a corpus filter
  // runs before anything model-based. Integer accumulation in a fixed
  // order makes the stats bit-deterministic under any partitioning;
  // the few double divisions at the end are fixed-shape IEEE.

  /** Decoded raster statistics. Luma is Rec.709 scaled by 10^4:
    * `l = 2126·R + 7152·G + 722·B` ∈ [0, 2 550 000]. */
  final case class ImageStats(width: Int, height: Int, meanR: Double,
                              meanG: Double, meanB: Double, lumaMean: Double,
                              lumaStd: Double, histogram: Array[Long],
                              edgeEnergy: Double)

  /** Pixel budget guard: rasters beyond this are reported undecoded
    * rather than inflated in memory (adversarial-dimension defense). */
  val MaxDecodePixels: Long = 1L << 26

  /** REAL pixel decode + stats; None when the payload is not an image
    * ImageIO can read (never throws). */
  def imageStats(b: Array[Byte]): Option[ImageStats] = {
    if (b == null || b.length == 0) None
    else try {
      javax.imageio.ImageIO.setUseCache(false)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        if (w.toLong * h > MaxDecodePixels || w == 0 || h == 0) None
        else {
          var sr = 0L; var sg = 0L; var sb = 0L
          var sl = 0L; var sll = 0L; var edge = 0L
          val hist = new Array[Long](8)
          var y = 0
          while (y < h) {
            var x = 0; var prevL = -1L
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val bl = rgb & 0xff
              sr += r; sg += g; sb += bl
              val l = 2126L * r + 7152L * g + 722L * bl
              sl += l; sll += l * l
              hist(((l * 8L) / 2550001L).toInt) += 1L
              if (prevL >= 0) edge += math.abs(l - prevL)
              prevL = l
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          val lm = sl.toDouble / n
          val lvar = sll.toDouble / n - lm * lm
          Some(ImageStats(w, h,
            sr.toDouble / n, sg.toDouble / n, sb.toDouble / n,
            lm / 10000.0, math.sqrt(math.max(0.0, lvar)) / 10000.0, hist,
            if (w < 2) 0.0 else edge.toDouble / ((w - 1).toLong * h) / 10000.0))
        }
      }
    } catch { case _: Throwable => None }
  }

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("decoded", org.apache.spark.sql.types.BooleanType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_r_micro", LongType, nullable = false),
    StructField("mean_g_micro", LongType, nullable = false),
    StructField("mean_b_micro", LongType, nullable = false),
    StructField("luma_mean_micro", LongType, nullable = false),
    StructField("luma_std_micro", LongType, nullable = false),
    StructField("edge_micro", LongType, nullable = false),
    StructField("luma_hist", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Batch image featurization — REAL pixel decode via the JDK
    * codecs, micro-rounded stats; `decoded=false` zero rows for
    * unreadable payloads. Scan-local, payload bytes never shuffle. */
  def featurizeImage(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(imageFeatureSchema)
    def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val n = if (payload == null) 0L else payload.length.toLong
          imageStats(payload) match {
            case Some(st) =>
              Row(id, n, true, st.width, st.height, micro(st.meanR),
                micro(st.meanG), micro(st.meanB), micro(st.lumaMean),
                micro(st.lumaStd), micro(st.edgeEnergy), st.histogram.toSeq)
            case None =>
              Row(id, n, false, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L,
                Array.fill(8)(0L).toSeq)
          }
        }
      }(enc)
  }

  // ---- perceptual image dedup ---------------------------------------
  // Content-based near-dup over the DECODED raster, not the payload
  // bytes: the same picture re-encoded (PNG→JPEG, quality knobs,
  // metadata strips) hashes differently — md5 dedup (q25/x09-style)
  // misses it — but its pixel statistics barely move. Flattening the
  // decode stats into a small embedding and running the existing
  // LSH-bucketed cosine pass ([[Similarity.nearDupPairs]]) catches
  // exactly those re-encode duplicates. This is the multimodal twin
  // of SemDeDup's text-embedding dedup (x24), with the same scale
  // shape: featurize is scan-local, the pair pass buckets on an
  // 8-plane signature, never all-pairs.

  /** Flatten [[featurizeImage]] output into a scale-normalized,
    * MEAN-CENTERED 14-dim embedding: RGB means /255, luma mean/std
    * /255, edge /255, 8 histogram bins / n_pixels, each minus the
    * vector's own mean. Centering matters: the raw features are all
    * non-negative and strongly co-scaled, which pins every pairwise
    * cosine near 1; after centering, cosine behaves like correlation
    * and distinct images separate (measured: cross-image max cosine
    * 0.997 raw → 0.994 centered on the synth harness, while
    * re-encode pairs stay ≥ 0.9967). */
  def imageEmbedding(features: DataFrame): DataFrame = {
    val n = (col("width").cast("double") * col("height").cast("double"))
    val dims =
      Seq(col("mean_r_micro"), col("mean_g_micro"), col("mean_b_micro"),
        col("luma_mean_micro"), col("luma_std_micro"), col("edge_micro"))
        .map(c => c.cast("double") / 255e6) ++
      (0 until 8).map(i => col("luma_hist")(i).cast("double") / n)
    val mean = dims.reduce(_ + _) / lit(dims.size.toDouble)
    val centered = dims.map(c => (c - mean).cast("float"))
    features.filter(col("decoded"))
      .select(col("media_id"), array(centered: _*).as("embedding"))
  }

  /** Block-mean luma thumbnail — the aHash/pHash family's perceptual
    * signature (Niu & Jiao 2008 survey): the raster divided into a
    * `gw`×`gh` grid, mean R/G/B per cell (3·gw·gh dims), mean-centered. Block
    * averaging integrates JPEG's DCT noise away (re-encodes move each
    * cell by ≪ a gray level) while distinct images differ per cell —
    * per-CHANNEL cells matter: a luma-only grid collapses same-layout
    * different-tint images once centered (measured on the harness).
    * The 14 summary stats were measurably too coarse for dedup
    * (planted re-encode cosines overlapped distinct-image cosines);
    * the RGB grid gives a clean margin — harness numbers on 100
    * rasters × 2 encodings: planted min 0.9962, cross-image max
    * 0.9946, zero crossings of the 0.995 threshold. */
  def gridEmbedding(media: DataFrame, gw: Int = 4, gh: Int = 4): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          lumaGrid(payload, gw, gh).map(g => Row(id, g.toSeq))
        }
      }(enc)
  }

  /** Decode + grid in one pass; None for unreadable payloads. */
  private def lumaGrid(b: Array[Byte], gw: Int, gh: Int): Option[Array[Float]] = {
    if (b == null || b.isEmpty) None
    else try {
      javax.imageio.ImageIO.setUseCache(false)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        if (w.toLong * h > MaxDecodePixels || w == 0 || h == 0) None
        else {
          val sum = new Array[Long](gw * gh * 3)
          val cnt = new Array[Long](gw * gh)
          var y = 0
          while (y < h) {
            val gy = math.min(gh - 1, (y * gh) / h)
            var x = 0
            while (x < w) {
              val gx = math.min(gw - 1, (x * gw) / w)
              val rgb = img.getRGB(x, y)
              val cell = gy * gw + gx
              sum(cell * 3) += (rgb >> 16) & 0xff
              sum(cell * 3 + 1) += (rgb >> 8) & 0xff
              sum(cell * 3 + 2) += rgb & 0xff
              cnt(cell) += 1L
              x += 1
            }
            y += 1
          }
          val means = Array.tabulate(gw * gh * 3)(i =>
            if (cnt(i / 3) == 0) 0.0 else sum(i).toDouble / cnt(i / 3) / 255.0)
          val m = means.sum / means.length
          Some(means.map(v => (v - m).toFloat))
        }
      }
    } catch { case _: Throwable => None }
  }

  /** Perceptual near-dup pairs over a media table: decode → grid
    * signature → LSH-bucketed cosine. Returns `(id_a, id_b, cosine)`.
    * Margins measured on the synth harness (100 rasters, PNG+JPEG
    * each): planted re-encode cosines all above the default
    * threshold, every distinct-image cosine below it.
    *
    * Plane count SCALES with the corpus: `numPlanes` is a floor and
    * the effective count is [[Similarity.autoPlanes]] of the INPUT
    * row count (taken on the raw media frame, before decode failures
    * drop rows — column pruning makes that count payload-free, so
    * the corpus never decodes twice), keeping expected bucket occupancy bounded as the
    * media corpus grows — without it, bucket count is fixed while
    * members grow, so in-bucket candidate pairs grow QUADRATICALLY
    * and max occupancy marches into the `maxBucket` drop-cap (the
    * X38Probe measurement (last in b820d97), SCALING.md round 11: at
    * 10× media the hottest default-plane bucket reached 3790 of the
    * 4096 cap).
    * More planes cost recall only through per-table split
    * probability, which the table union wins back; re-encode pairs
    * sit at cosine ≈ 1 where split probability stays negligible.
    * The decoded signature frame is localCheckpoint'd so the T table
    * passes (and the sizing count) decode the corpus ONCE. */
  def imageNearDupPairs(media: DataFrame, threshold: Double = 0.995,
                        numPlanes: Int = 6, maxBucket: Int = 4096,
                        numTables: Int = 3): DataFrame = {
    // sizing count on the INPUT frame: column pruning drops the
    // payload, so this never decodes (an emb-side count would)
    val planes = Similarity.autoPlanes(media.count(), numPlanes)
    val emb = gridEmbedding(media, 4, 4).localCheckpoint()
    Similarity.nearDupPairsMultiTable(emb,
      "media_id", "embedding", threshold, numPlanes = planes, dim = 48,
      maxBucket = maxBucket, numTables = numTables)
  }

  /** Seed-varied raster for the near-dup harness: gradient direction,
    * base tint and a seed-placed rectangle all vary per seed, so
    * distinct seeds are far apart in feature space while re-encodes
    * of the SAME seed are near-identical. */
  def synthRaster(seed: Long, w: Int = 32, h: Int = 24): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val s = math.abs(seed)
    val horiz = s % 2 == 0
    // full-range, coprime-stride tints + a per-seed gradient span so
    // distinct seeds land far apart in feature space (the margin the
    // near-dup threshold needs; measured in ImageSpec)
    val tintR = ((s * 53) % 256).toInt; val tintG = ((s * 97) % 256).toInt
    val span = 64 + ((s * 11) % 192).toInt
    val rx = (s % (w / 2)).toInt; val ry = ((s / 5) % (h / 2)).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = if (horiz) (x * span) / math.max(1, w - 1)
                else (y * span) / math.max(1, h - 1)
        val inRect = x >= rx && x < rx + w / 3 && y >= ry && y < ry + h / 3
        val r = math.min(255, g + tintR + (if (inRect) 96 else 0))
        val gg = math.min(255, (g + tintG) % 256)
        val b = math.min(255, 255 - g - (if (inRect) 64 else 0)).max(0)
        img.setRGB(x, y, (r << 16) | (gg << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** JDK-encoder helpers (real bytes for the decode harness). */
  def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out); out.toByteArray
  }
  def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out); out.toByteArray
  }

  /** Deterministic synthetic PNG from a seed: a horizontal luma
    * gradient with a seed-placed solid rectangle — REAL PNG bytes
    * (the JDK encoder), so the decode path exercised is the
    * production one. */
  def synthPng(seed: Long, w: Int = 32, h: Int = 24): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rx = (math.abs(seed) % (w / 2)).toInt
    val ry = (math.abs(seed / 7) % (h / 2)).toInt
    val cr = ((math.abs(seed) * 37) % 256).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = (x * 255) / math.max(1, w - 1)
        val inRect = x >= rx && x < rx + w / 4 && y >= ry && y < ry + h / 4
        val rgb = if (inRect) (cr << 16) | (64 << 8) | 192 else (g << 16) | (g << 8) | g
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ---- real PCM decode (audio needs no codec) -----------------------
  // The "decode is stubbed" limitation is a CODEC limitation — WAV/PCM
  // carries raw little-endian samples, so for uncompressed audio the
  // engine decodes REAL samples in pure JVM: frames are mixed to mono
  // (channel average), then one sequential pass computes RMS energy,
  // peak, zero-crossing count, DC offset, and an n-window RMS envelope
  // (the standard cheap audio-quality signals a corpus filter runs
  // before anything model-based). The per-row loop is sequential and
  // the accumulation order fixed, so outputs are bit-deterministic
  // under any partitioning. Compressed containers (MP3/OGG/AAC) stay
  // stubbed — those genuinely need codecs this container doesn't ship.

  /** Decoded PCM statistics (amplitudes normalized to [-1, 1]). */
  final case class PcmStats(header: AudioHeader, nFrames: Long,
                            rms: Double, peak: Double, dcOffset: Double,
                            zeroCrossings: Long, envelope: Array[Float])

  /** Decode 8/16-bit PCM WAV samples and derive stats; None for
    * anything that is not parseable uncompressed WAV (never throws). */
  def pcmStats(b: Array[Byte], envWindows: Int = 16): Option[PcmStats] =
    audioHeader(b)
      .filter(hd => hd.bitsPerSample == 8 || hd.bitsPerSample == 16)
      .flatMap { hd =>
      // locate the data chunk — the SAME guarded walk as audioHeader
      // (riffChunks carries the hostile-length guard for both)
      var off = -1; var len = 0L
      val chunks = riffChunks(b)
      while (chunks.hasNext && off < 0) {
        val (id, o, l) = chunks.next()
        if (id == "data") { off = o; len = math.min(l, (b.length - o).toLong) }
      }
      val bytesPerSample = hd.bitsPerSample / 8
      val frameBytes = bytesPerSample * hd.channels
      val nFrames = if (off < 0 || frameBytes == 0) 0L else len / frameBytes
      if (nFrames == 0) None else decodeFrames(b, hd, off, nFrames, envWindows)
    }

  /** The sequential decode pass behind [[pcmStats]]. */
  private def decodeFrames(b: Array[Byte], hd: AudioHeader, off: Int,
                           nFrames: Long, envWindows: Int): Option[PcmStats] = {
      val bytesPerSample = hd.bitsPerSample / 8
      val frameBytes = bytesPerSample * hd.channels
      val env = new Array[Double](envWindows)
      val envN = new Array[Long](envWindows)
      var sumSq = 0.0; var sum = 0.0; var peak = 0.0
      var zc = 0L; var prevSign = 0
      var f = 0L
      while (f < nFrames) {
        // mono mixdown: average the channels of this frame
        var c = 0; var acc = 0.0
        while (c < hd.channels) {
          val p = off + (f * frameBytes).toInt + c * bytesPerSample
          val s =
            if (bytesPerSample == 1) ((b(p) & 0xff) - 128) / 128.0 // 8-bit is unsigned
            else ((b(p) & 0xff) | (b(p + 1) << 8)) / 32768.0       // 16-bit LE signed
          acc += s; c += 1
        }
        val x = acc / hd.channels
        sumSq += x * x; sum += x
        val ax = math.abs(x); if (ax > peak) peak = ax
        val sign = if (x > 0) 1 else if (x < 0) -1 else 0
        if (sign != 0 && prevSign != 0 && sign != prevSign) zc += 1
        if (sign != 0) prevSign = sign
        val w = ((f * envWindows) / nFrames).toInt
        env(w) += x * x; envN(w) += 1
        f += 1
      }
      val envelope = Array.tabulate(envWindows)(w =>
        if (envN(w) == 0) 0.0f else math.sqrt(env(w) / envN(w)).toFloat)
      Some(PcmStats(hd, nFrames, math.sqrt(sumSq / nFrames), peak,
        sum / nFrames, zc, envelope))
  }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("decoded", org.apache.spark.sql.types.BooleanType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate_hz", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("rms_micro", LongType, nullable = false),
    StructField("peak_micro", LongType, nullable = false),
    StructField("dc_micro", LongType, nullable = false),
    StructField("zero_crossings", LongType, nullable = false),
    StructField("envelope", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Batch audio featurization — REAL decode for WAV/PCM payloads
    * (micro-rounded amplitude stats + RMS envelope), an all-zeros
    * `decoded=false` row for anything else. Scan-local: no shuffle,
    * payload bytes never leave the partition. */
  def featurizeAudio(media: DataFrame, envWindows: Int = 16): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(audioFeatureSchema)
    def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val n = if (payload == null) 0L else payload.length.toLong
          pcmStats(payload, envWindows) match {
            case Some(st) =>
              Row(id, n, true, st.header.channels, st.header.sampleRateHz,
                st.header.bitsPerSample, st.header.durationMs, st.nFrames,
                micro(st.rms), micro(st.peak), micro(st.dcOffset),
                st.zeroCrossings, st.envelope.toSeq)
            case None =>
              Row(id, n, false, 0, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L,
                Array.fill(envWindows)(0.0f).toSeq)
          }
        }
      }(enc)
  }

  /** Synthesize a deterministic 16-bit mono PCM WAV from a seed — the
    * harness stand-in for a real audio shard (this container ships no
    * audio files): a fixed-point sine at a seed-derived frequency. The
    * WAV bytes are REAL (RIFF/fmt/data), so the decode path exercised
    * is the production one. */
  def synthWav(seed: Long, nFrames: Int = 800, rateHz: Int = 8000): Array[Byte] = {
    val freq = 100 + (math.abs(seed) % 40) * 25 // 100..1075 Hz
    val amp = 0.25 + (math.abs(seed) % 5) * 0.1
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { var i = 0; while (i < 4) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 } }
    out.write("RIFF".getBytes); w32(36L + nFrames * 2L)
    out.write("WAVE".getBytes); out.write("fmt ".getBytes)
    w32(16L); w16(1); w16(1); w32(rateHz.toLong); w32(rateHz * 2L); w16(2); w16(16)
    out.write("data".getBytes); w32(nFrames * 2L)
    var f = 0
    while (f < nFrames) {
      val s = amp * math.sin(2.0 * math.Pi * freq * f / rateHz)
      w16(math.max(-32768, math.min(32767, math.round(s * 32767).toInt)))
      f += 1
    }
    out.toByteArray
  }

  /** Derive a media table from any (id, string) corpus — the harness
    * stand-in for an image/audio shard (documents.text as the payload
    * bytes). */
  def asMedia(df: DataFrame, idCol: String, blobCol: String,
              modality: String = "image"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(modality).as("modality"),
      col(blobCol).cast("binary").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        concat(lit("mem://"), col(idCol).cast("string")).as("source_url"),
        length(col(blobCol)).cast("long").as("n_bytes")).as("meta"))

  /** Batch featurization over partitions: one decode call per row, rows
    * streamed per partition (no per-row task overhead, no shuffle; the
    * real decoder would amortize model/codec init per partition exactly
    * here). */
  def featurize(media: DataFrame, dim: Int = 16): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(featureSchema)
    media.select(col("media_id"), col("modality"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val modality = r.getString(1)
          val payload = r.getAs[Array[Byte]](2)
          val n = if (payload == null) 0L else payload.length.toLong
          val hash = {
            var h = 1125899906842597L
            if (payload != null) { var i = 0; while (i < payload.length) { h = 31 * h + payload(i); i += 1 } }
            h
          }
          val (w, hgt, feat) = decodeStub(payload, dim)
          Row(id, modality, n, hash, w, hgt, feat.toSeq)
        }
      }(enc)
  }
}
