package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `BINARY` with typed
  * metadata (BASELINE.json north star). The Spark-side plumbing — schema,
  * batched per-partition processing, feature shapes, partitioning — is
  * real, and so is the codec: [[JdkDecoder]] decodes PNG/BMP/GIF/JPEG via
  * `javax.imageio`, WAV/AIFF/AU via `javax.sound.sampled` (both ship in
  * every JDK), and derives video metadata AND features from pure
  * container-structure parsing — ISO-BMFF box walking for MP4/MOV/M4V
  * ([[Mp4Probe]]) and an EBML walk for MKV/WebM ([[EbmlProbe]]). Video
  * FEATURES are the per-window encoded-sample-size (bitrate) envelope —
  * a real motion/complexity proxy derived from the `stsz` table /
  * Matroska block sizes, no codec required. Containers we cannot parse
  * return the explicit could-not-decode signal `(0, 0, 0)` / zero
  * vector — never pseudo-data. The decode `catch`es below are these
  * DATA-LEVEL defaults: bytes a codec rejects are a property of the row
  * (dead-lettered downstream), not a fault of the program, so they map
  * to the documented signal instead of failing the task. Only
  * `Exception`s are caught; fatal JVM errors still propagate.
  */
object Multimodal {

  /** media table schema: the `d`-section analog for binary payloads. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = true),
    StructField("format", StringType, nullable = true)))

  /** Decoder SPI. Implementations MUST be deterministic per byte content
    * for reproducible pipelines. */
  trait MediaDecoder extends Serializable {
    /** → (width, height, n_frames) */
    def probe(bytes: Array[Byte], format: String): (Int, Int, Int)
    /** → fixed-length feature vector */
    def features(bytes: Array[Byte], format: String, dim: Int): Array[Float]
    /** → (out_width, out_height, re-encoded bytes) with the long edge
      * capped at `maxDim` (aspect preserved; never upscales), or None
      * when the modality/decoder cannot resize. */
    def resize(bytes: Array[Byte], format: String,
               maxDim: Int): Option[(Int, Int, Array[Byte])] = None
  }

  /** Container-parsed video track: dimensions plus the per-sample encoded
    * byte sizes (the `stsz` table / Matroska block sizes) — the basis of
    * the codec-free bitrate/motion envelope. */
  private[operators] final case class VideoTrack(
    width: Int, height: Int, frames: Int, sampleSizes: Array[Int])

  /** REAL decoder over the JDK's own codecs and hand-rolled container
    * parsers — no external libraries. Probe semantics:
    *  - image: (width, height, n_frames) — n_frames > 1 for animated GIF;
    *  - audio: (sample_rate, channels, sample_frames);
    *  - video: (width, height, n_samples) from the container metadata.
    * Features are real content features:
    *  - image: `dim`-bucket luminance histogram of the decoded pixels
    *    (first frame), L1-normalized;
    *  - audio: `dim`-window RMS energy envelope of the PCM samples
    *    (canonicalized to signed 16-bit little-endian first, so AIFF/AU
    *    big-endian and mu-law inputs decode correctly), peak-normalized;
    *  - video: `dim`-window mean encoded-sample-size envelope from the
    *    container's sample-size table, peak-normalized — a bitrate /
    *    motion-complexity proxy needing no codec.
    * Anything undecodable → (0, 0, 0) / zero vector, the explicit
    * could-not-decode signal (callers route those to the dead-letter
    * channel, never crash the job). */
  object JdkDecoder extends MediaDecoder {
    import javax.imageio.ImageIO
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    import java.io.ByteArrayInputStream

    private def isAudio(fmt: String): Boolean =
      Set("wav", "wave", "aiff", "au").contains(fmt.toLowerCase)
    private def isVideo(fmt: String): Boolean =
      Set("mp4", "mkv", "avi", "mov", "m4v", "webm", "mpeg", "mpg")
        .contains(fmt.toLowerCase)

    /** Container-structure parse for the formats we can walk; None for
      * the rest (no JDK codec, no pure-parse structure we support). */
    private[operators] def videoTrack(bytes: Array[Byte], fmt: String): Option[VideoTrack] =
      fmt.toLowerCase match {
        case "mp4" | "mov" | "m4v" => Mp4Probe.parse(bytes)
        case "mkv" | "webm" => EbmlProbe.parse(bytes)
        case "avi" => AviProbe.parse(bytes)
        case _ => None
      }

    def probe(bytes: Array[Byte], format: String): (Int, Int, Int) = {
      if (bytes.isEmpty) return (0, 0, 0)
      if (isVideo(format))
        // same catch-all as the image/audio branches: corrupt container
        // bytes must yield the could-not-decode signal, never a thrown
        // error that kills the task (callers dead-letter these rows)
        return try videoTrack(bytes, format)
          .map(t => (t.width, t.height, t.frames)).getOrElse((0, 0, 0))
        catch { case _: Exception => (0, 0, 0) } // data-level default
      try {
        if (isAudio(format)) {
          val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
          try {
            val f = in.getFormat
            // getFrameLength may be NOT_SPECIFIED (-1) — clamp, don't
            // emit a negative count
            (f.getSampleRate.toInt, f.getChannels,
              math.max(0L, in.getFrameLength).toInt)
          } finally in.close()
        } else {
          val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
          try {
            val readers = ImageIO.getImageReaders(iis)
            if (!readers.hasNext) return (0, 0, 0)
            val r = readers.next()
            r.setInput(iis)
            try (r.getWidth(0), r.getHeight(0),
              math.max(1, r.getNumImages(true)))
            finally r.dispose()
          } finally iis.close()
        }
      } catch { case _: Exception => (0, 0, 0) } // data-level default
    }

    def features(bytes: Array[Byte], format: String, dim: Int): Array[Float] = {
      if (bytes.isEmpty) return Array.fill(dim)(0f)
      if (isVideo(format))
        return try videoTrack(bytes, format)
          .map(t => sizeEnvelope(t.sampleSizes, dim))
          .getOrElse(Array.fill(dim)(0f))
        catch { case _: Exception => Array.fill(dim)(0f) } // data-level default
      try {
        if (isAudio(format)) audioEnvelope(bytes, dim)
        else imageHistogram(bytes, dim)
      } catch { case _: Exception => Array.fill(dim)(0f) } // data-level default
    }

    /** Pure-JDK image resize: decode, scale the long edge down to
      * `maxDim` (integer target dims, aspect preserved, never
      * upscales), repaint into an RGB canvas, re-encode as PNG.
      * Deterministic per byte content — the same pixels come out on any
      * executor, so a resized corpus is reproducible. */
    override def resize(bytes: Array[Byte], format: String,
                        maxDim: Int): Option[(Int, Int, Array[Byte])] = {
      if (isAudio(format) || isVideo(format) || bytes.isEmpty) return None
      try {
        val img = ImageIO.read(new ByteArrayInputStream(bytes))
        if (img == null) return None
        val (w, h) = (img.getWidth, img.getHeight)
        val long0 = math.max(w, h)
        val (nw, nh) =
          if (long0 <= maxDim) (w, h)
          else (math.max(1, w * maxDim / long0), math.max(1, h * maxDim / long0))
        val out = new java.awt.image.BufferedImage(nw, nh,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img.getScaledInstance(nw, nh,
          java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null)
        finally g.dispose()
        val baos = new java.io.ByteArrayOutputStream()
        ImageIO.write(out, "png", baos)
        Some((nw, nh, baos.toByteArray))
      } catch { case _: Exception => None } // data-level default
    }

    /** L1-normalized luminance histogram of the decoded pixels. */
    private def imageHistogram(bytes: Array[Byte], dim: Int): Array[Float] = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) Array.fill(dim)(0f)
      else {
        val hist = new Array[Float](dim)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            hist(lum * dim / 256) += 1f
            x += 1
          }
          y += 1
        }
        val n = (img.getWidth * img.getHeight).toFloat
        hist.map(_ / n)
      }
    }

    /** RMS energy per window over the PCM samples — the canonical
      * decode itself (endianness / mu-law / 8-bit normalization) lives
      * in the shared [[Multimodal.decodePcm]] so the feature envelope
      * and the [[Multimodal.afp64]] fingerprint can never drift apart
      * on decoding rules. Window math is Long to survive hour-scale
      * sample counts. */
    private def audioEnvelope(bytes: Array[Byte], dim: Int): Array[Float] =
      decodePcm(bytes) match {
        case None => Array.fill(dim)(0f)
        case Some(s) =>
          val env = new Array[Double](dim)
          val cnt = new Array[Int](dim)
          var i = 0
          while (i < s.length) {
            val w = (i.toLong * dim / s.length).toInt
            env(w) += s(i) * s(i)
            cnt(w) += 1
            i += 1
          }
          val rms = env.indices.map(w =>
            if (cnt(w) == 0) 0.0 else math.sqrt(env(w) / cnt(w))).toArray
          val peak = rms.max
          rms.map(v => if (peak == 0) 0f else (v / peak).toFloat)
      }

    /** Peak-normalized mean encoded-sample-size per window — the video
      * feature vector. Large windows = high-bitrate (complex / fast-
      * motion) spans; I-frame spikes and static spans show directly. */
    private def sizeEnvelope(sizes: Array[Int], dim: Int): Array[Float] = {
      if (sizes.isEmpty) return Array.fill(dim)(0f)
      val env = new Array[Double](dim)
      val cnt = new Array[Int](dim)
      var i = 0
      while (i < sizes.length) {
        // Long window math: i * dim wraps Int for ~33M-sample tables
        val w = (i.toLong * dim / sizes.length).toInt
        env(w) += sizes(i)
        cnt(w) += 1
        i += 1
      }
      val mean = env.indices.map(w =>
        if (cnt(w) == 0) 0.0 else env(w) / cnt(w)).toArray
      val peak = mean.max
      mean.map(v => if (peak == 0) 0f else (v / peak).toFloat)
    }
  }

  /** Real MP4/MOV (ISO base media file format) container probe — pure
    * byte-structure parsing, no codec: walks the box tree
    * (`moov → trak → mdia → minf → stbl`) PER TRACK, accepting only the
    * video track (mdia `hdlr` type `vide`, or nonzero tkhd dimensions
    * when no hdlr is present) so a leading audio track cannot donate its
    * sample count. Reads tkhd 16.16 fixed-point width/height, sums the
    * `stts` sample counts for the frame count, and extracts the `stsz`
    * per-sample byte sizes — the basis of the codec-free bitrate
    * envelope. */
  object Mp4Probe {
    private def i32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    private def boxType(b: Array[Byte], o: Int): String =
      new String(b, o + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
    private val Containers = Set("moov", "mdia", "minf", "stbl")
    /** stsz entry-count ceiling: 1M samples ≈ 9h of 30fps video; above
      * that, keep the count but stop materializing sizes. */
    private val MaxSizes = 1 << 20

    private final class TrakState {
      var w = 0; var h = 0; var handler = ""; var frames = 0
      var sizes: Array[Int] = Array.empty
      def isVideo: Boolean = handler == "vide" || (handler.isEmpty && w > 0)
    }

    def probe(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      parse(bytes).map(t => (t.width, t.height, t.frames))

    /** → the video track's parsed metadata when a moov/trak walk
      * succeeds. */
    def parse(bytes: Array[Byte]): Option[VideoTrack] = {
      var video: Option[VideoTrack] = None
      def walk(from: Int, to: Int, trak: TrakState): Unit = {
        var o = from
        while (o + 8 <= to) {
          val size0 = i32(bytes, o)
          val tpe = boxType(bytes, o)
          // size 1 → 64-bit largesize; size 0 → box extends to EOF
          val (size, hdr) =
            if (size0 == 1 && o + 16 <= to) {
              val big = (i32(bytes, o + 8).toLong << 32) |
                (i32(bytes, o + 12).toLong & 0xffffffffL)
              (big, 16)
            } else if (size0 == 0) ((to - o).toLong, 8)
            else (size0.toLong, 8)
          if (size < hdr || o + size > to) return // malformed — stop
          val end = o + size.toInt
          tpe match {
            case "trak" =>
              // per-track state: only a video track's stts/stsz count
              val t = new TrakState
              walk(o + hdr, end, t)
              if (video.isEmpty && t.isVideo && (t.w > 0 || t.frames > 0))
                video = Some(VideoTrack(t.w, t.h, t.frames, t.sizes))
            case c if Containers.contains(c) => walk(o + hdr, end, trak)
            case "hdlr" if trak != null =>
              // FullBox: version/flags(4) pre_defined(4) handler_type(4)
              val p = o + hdr
              if (p + 12 <= end)
                trak.handler = new String(bytes, p + 8, 4,
                  java.nio.charset.StandardCharsets.US_ASCII)
            case "tkhd" if trak != null && trak.w == 0 && o + hdr < end =>
              val p = o + hdr
              val version = bytes(p) & 0xff
              // v0: ctime..duration are 32-bit (20 bytes); v1: 8+8+4+4+8 (32)
              val fixed = p + 4 + (if (version == 1) 32 else 20) +
                8 + 2 + 2 + 2 + 2 + 36 // reserved, layer, altgroup, volume, reserved, matrix
              if (fixed + 8 <= end) {
                val tw = i32(bytes, fixed) >>> 16     // 16.16 fixed point
                val th = i32(bytes, fixed + 4) >>> 16
                if (tw > 0 && th > 0) { trak.w = tw; trak.h = th }
              }
            case "stts" if trak != null && trak.frames == 0 =>
              val p = o + hdr
              if (p + 8 <= end) {
                val entries = i32(bytes, p + 4)
                var e = 0; var total = 0; var q = p + 8
                while (e < entries && q + 8 <= end) {
                  total += i32(bytes, q) // sample_count
                  e += 1; q += 8
                }
                trak.frames = total
              }
            case "stsz" if trak != null && trak.sizes.isEmpty =>
              // FullBox: version/flags(4) sample_size(4) sample_count(4)
              val p = o + hdr
              if (p + 12 <= end) {
                val uniform = i32(bytes, p + 4)
                val count = i32(bytes, p + 8)
                if (count > 0) {
                  val n = math.min(count, MaxSizes)
                  if (uniform != 0) trak.sizes = Array.fill(n)(uniform)
                  else {
                    val out = new Array[Int](n)
                    var e = 0; var q = p + 12
                    while (e < n && q + 4 <= end) {
                      out(e) = i32(bytes, q); e += 1; q += 4
                    }
                    trak.sizes = if (e == n) out else out.take(e)
                  }
                }
              }
            case _ => ()
          }
          o = end
        }
      }
      walk(0, bytes.length, null)
      video
    }
  }

  /** Real Matroska/WebM (EBML) container probe — pure parse of the EBML
    * element tree: `Segment → Tracks → TrackEntry` for the video track's
    * TrackNumber + PixelWidth/PixelHeight, then `Segment → Cluster →
    * SimpleBlock/BlockGroup` counting the video track's blocks (frame
    * count) and collecting their byte sizes (the bitrate-envelope
    * source, the `stsz` analog). Matroska spec element IDs; variable-
    * length integers per RFC 8794. */
  object EbmlProbe {
    // element IDs (with marker bits, as they appear on the wire)
    private val Segment = 0x18538067L
    private val Tracks = 0x1654AE6BL
    private val TrackEntry = 0xAEL
    private val TrackNumber = 0xD7L
    private val TrackType = 0x83L
    private val VideoEl = 0xE0L
    private val PixelWidth = 0xB0L
    private val PixelHeight = 0xBAL
    private val Cluster = 0x1F43B675L
    private val SimpleBlock = 0xA3L
    private val BlockGroup = 0xA0L
    private val Block = 0xA1L
    private val MaxSizes = 1 << 20

    /** (value-with-marker, byteLen) or (−1, 0) on malformed input. */
    private def readId(b: Array[Byte], o: Int, to: Int): (Long, Int) = {
      if (o >= to) return (-1L, 0)
      val first = b(o) & 0xff
      if (first == 0) return (-1L, 0)
      val len = Integer.numberOfLeadingZeros(first) - 23 // 1..8
      if (len > 4 || o + len > to) return (-1L, 0)
      var v = first.toLong; var i = 1
      while (i < len) { v = (v << 8) | (b(o + i) & 0xff); i += 1 }
      (v, len)
    }

    /** (size, byteLen); size −2 = "unknown" (extends to parent end). */
    private def readSize(b: Array[Byte], o: Int, to: Int): (Long, Int) = {
      if (o >= to) return (-1L, 0)
      val first = b(o) & 0xff
      if (first == 0) return (-1L, 0)
      val len = Integer.numberOfLeadingZeros(first) - 23
      if (len > 8 || o + len > to) return (-1L, 0)
      var v = (first & (0xff >>> len)).toLong; var i = 1
      while (i < len) { v = (v << 8) | (b(o + i) & 0xff); i += 1 }
      val allOnes = (1L << (7 * len)) - 1
      (if (v == allOnes) -2L else v, len)
    }

    private def readUInt(b: Array[Byte], o: Int, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (b(o + i) & 0xff); i += 1 }
      v
    }

    def probe(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      parse(bytes).map(t => (t.width, t.height, t.frames))

    def parse(bytes: Array[Byte]): Option[VideoTrack] = {
      var w = 0; var h = 0
      var videoTrackNum = -1L
      var frames = 0
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]

      // one TrackEntry: is it the video track? capture number + dims
      def trackEntry(from: Int, to: Int): Unit = {
        var num = -1L; var tpe = -1L; var tw = 0; var th = 0
        var o = from
        while (o < to) {
          val (id, il) = readId(bytes, o, to)
          if (il == 0) return
          val (sz, sl) = readSize(bytes, o + il, to)
          if (sl == 0) return
          val p = o + il + sl
          // size arithmetic in Long: a declared size ≥ 2^31 must fail the
          // bound check, not wrap negative and walk out of the buffer
          val endL = if (sz == -2L) to.toLong else p.toLong + sz
          if (sz != -2L && (sz < 0 || endL > to)) return
          val end = endL.toInt
          id match {
            case TrackNumber => num = readUInt(bytes, p, (end - p).min(8))
            case TrackType => tpe = readUInt(bytes, p, (end - p).min(8))
            case VideoEl =>
              var q = p
              while (q < end) {
                val (vid, vl) = readId(bytes, q, end)
                if (vl == 0) return
                val (vsz, vsl) = readSize(bytes, q + vl, end)
                if (vsl == 0) return
                val vp = q + vl + vsl
                val vendL = if (vsz == -2L) end.toLong else vp.toLong + vsz
                if (vsz != -2L && (vsz < 0 || vendL > end)) return
                val vend = vendL.toInt
                vid match {
                  case PixelWidth => tw = readUInt(bytes, vp, (vend - vp).min(8)).toInt
                  case PixelHeight => th = readUInt(bytes, vp, (vend - vp).min(8)).toInt
                  case _ => ()
                }
                q = vend
              }
            case _ => ()
          }
          o = end
        }
        if (tpe == 1 && videoTrackNum < 0) { // 1 = video
          videoTrackNum = num; w = tw; h = th
        }
      }

      // a Block/SimpleBlock: leading vint is the track number
      def block(from: Int, to: Int): Unit = {
        val (tn, tl) = readSize(bytes, from, to) // track num is a plain vint
        if (tl == 0) return
        if (tn == videoTrackNum) {
          frames += 1
          if (sizes.length < MaxSizes) sizes += (to - from)
        }
      }

      def walk(from: Int, to: Int, inCluster: Boolean, inGroup: Boolean): Unit = {
        var o = from
        while (o < to) {
          val (id, il) = readId(bytes, o, to)
          if (il == 0) return
          val (sz, sl) = readSize(bytes, o + il, to)
          if (sl == 0) return
          val p = o + il + sl
          val endL = if (sz == -2L) to.toLong else p.toLong + sz
          if (sz != -2L && (sz < 0 || endL > to)) return
          val end = endL.toInt
          id match {
            case Segment => walk(p, end, inCluster = false, inGroup = false)
            case Tracks => walkTracks(p, end)
            case Cluster => walk(p, end, inCluster = true, inGroup = false)
            case BlockGroup if inCluster => walk(p, end, inCluster, inGroup = true)
            case SimpleBlock if inCluster => block(p, end)
            case Block if inGroup => block(p, end)
            case _ => ()
          }
          o = end
        }
      }
      def walkTracks(from: Int, to: Int): Unit = {
        var o = from
        while (o < to) {
          val (id, il) = readId(bytes, o, to)
          if (il == 0) return
          val (sz, sl) = readSize(bytes, o + il, to)
          if (sl == 0) return
          val p = o + il + sl
          val endL = if (sz == -2L) to.toLong else p.toLong + sz
          if (sz != -2L && (sz < 0 || endL > to)) return
          val end = endL.toInt
          if (id == TrackEntry) trackEntry(p, end)
          o = end
        }
      }

      walk(0, bytes.length, inCluster = false, inGroup = false)
      if (videoTrackNum >= 0 && (w > 0 || frames > 0))
        Some(VideoTrack(w, h, frames, sizes.toArray))
      else None
    }
  }

  /** Real AVI (RIFF) container probe — pure chunk-structure parsing:
    * `RIFF('AVI ' LIST('hdrl' avih …) LIST('movi' ##dc/##db …))`. The
    * `avih` main header carries dwTotalFrames + dwWidth/dwHeight
    * (little-endian), and the `movi` list's compressed/uncompressed
    * video frame chunks (`##dc`/`##db`) supply the per-frame byte sizes
    * for the bitrate envelope — the stsz analog. */
  object AviProbe {
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    private val MaxSizes = 1 << 20

    def probe(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      parse(bytes).map(t => (t.width, t.height, t.frames))

    def parse(bytes: Array[Byte]): Option[VideoTrack] = {
      if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
          fourcc(bytes, 8) != "AVI ") return None
      var w = 0; var h = 0; var headerFrames = 0
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      def walk(from: Int, to: Int): Unit = {
        var o = from
        while (o + 8 <= to) {
          val id = fourcc(bytes, o)
          val sz = le32(bytes, o + 4)
          val data = o + 8
          val end = data + sz
          if (sz < 0 || end > to) return // malformed — stop
          if (id == "LIST" && sz >= 4) walk(data + 4, end)
          else if (id == "avih" && sz >= 40) {
            headerFrames = le32(bytes, data + 16) // dwTotalFrames
            w = le32(bytes, data + 32)            // dwWidth
            h = le32(bytes, data + 36)            // dwHeight
          } else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
              id(2) == 'd' && (id(3) == 'c' || id(3) == 'b')) {
            if (sizes.length < MaxSizes) sizes += sz // a video frame chunk
          }
          o = end + (sz & 1) // RIFF chunks pad to even offsets
        }
      }
      walk(12, bytes.length)
      val frames = if (headerFrames > 0) headerFrames else sizes.length
      if (w > 0 || frames > 0) Some(VideoTrack(w, h, frames, sizes.toArray))
      else None
    }
  }

  /** Decode/probe pass: per-partition batched iteration (the
    * `mapInPandas` batch-shape analog in Scala — one decoder instance per
    * partition, rows streamed, never materialized wholesale). */
  def probeAll(media: DataFrame, decoder: MediaDecoder = JdkDecoder): DataFrame = {
    val outSchema = media.schema
      .add("width", IntegerType).add("height", IntegerType)
      .add("n_frames", IntegerType)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.empty)
        val fmt = Option(r.getAs[String]("format")).getOrElse("")
        val (w, h, f) = decoder.probe(bytes, fmt)
        Row.fromSeq(r.toSeq ++ Seq(w, h, f))
      }
    }(enc)
  }

  /** Feature-extraction pass → embedding column ready for VectorOps. */
  def extractFeatures(media: DataFrame, dim: Int = 64,
                      decoder: MediaDecoder = JdkDecoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.empty)
        val fmt = Option(r.getAs[String]("format")).getOrElse("")
        Row(r.getAs[Long]("media_id"), decoder.features(bytes, fmt, dim).toSeq)
      }
    }(enc)
  }

  /** Distributed image resize: each image's long edge capped at
    * `maxDim`, re-encoded, with before/after dims beside the new bytes
    * (null bytes + zero dims for rows the decoder cannot resize — the
    * same explicit could-not-decode contract as [[probeAll]]). Runs in
    * the partition, no driver involvement; output bytes are ~maxDim²
    * regardless of input size, so a resize sweep SHRINKS the corpus it
    * scans. */
  def resizeImages(media: DataFrame, maxDim: Int,
                   decoder: MediaDecoder = JdkDecoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("out_width", IntegerType),
      StructField("out_height", IntegerType),
      StructField("out_content", BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.empty)
        val fmt = Option(r.getAs[String]("format")).getOrElse("")
        decoder.resize(bytes, fmt, maxDim) match {
          case Some((w, h, out)) => Row(r.getAs[Long]("media_id"), w, h, out)
          case None => Row(r.getAs[Long]("media_id"), 0, 0, null)
        }
      }
    }(enc)
  }

  /** Frame-sampling plan for video: positions of frames to decode —
    * pure metadata arithmetic, no codec needed. */
  def frameSamplePlan(media: DataFrame, everyN: Int,
                      decoder: MediaDecoder = JdkDecoder): DataFrame =
    probeAll(media, decoder)
      .filter(col("modality") === "video")
      .select(col("media_id"),
        sequence(lit(0), col("n_frames") - 1, lit(everyN)).as("frame_indices"))

  // ---- perceptual-hash image dedup -----------------------------------

  /** 64-bit perceptual hash of decoded pixels (pHash, the DCT form):
    * decode → luma → integer area-average to 32×32 → 2-D DCT-II → the
    * 8×8 low-frequency block with the DC term EXCLUDED (63
    * coefficients), each thresholded against their lower median →
    * sign bits 0..62 (bit 63 fixed 0). Content-identical images hash
    * identically regardless of container format (the hash sees pixels,
    * not bytes — a PNG and its BMP re-encode collide at hamming 0),
    * mild noise/edits move a few bits, unrelated images sit near 32.
    * Pure JDK decode + IEEE-double DCT: bit-deterministic, so the gate
    * pins literal hamming values. */
  def phash64(bytes: Array[Byte]): Option[Long] = {
    val img =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None } // data-level default
    img.map(phashOfImage)
  }

  /** [[phash64]] over an ALREADY-DECODED image — the decode-once entry
    * for kernels that need dimensions AND hash from one pass
    * ([[imageProbeHash]]). */
  private def phashOfImage(im: java.awt.image.BufferedImage): Long = {
    {
      val w = im.getWidth; val h = im.getHeight
      val n = 32
      val g = Array.ofDim[Double](n, n)
      var j = 0
      while (j < n) {
        val y0 = j * h / n; val y1 = math.max(y0 + 1, (j + 1) * h / n)
        var i = 0
        while (i < n) {
          val x0 = i * w / n; val x1 = math.max(x0 + 1, (i + 1) * w / n)
          var sum = 0L; var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = im.getRGB(x, y)
              // integer luma (77R + 151G + 28B) >> 8 — exact everywhere
              sum += (77 * ((rgb >> 16) & 0xFF) + 151 * ((rgb >> 8) & 0xFF) +
                28 * (rgb & 0xFF)) >> 8
              x += 1
            }
            y += 1
          }
          g(j)(i) = sum.toDouble / ((y1 - y0).toLong * (x1 - x0))
          i += 1
        }
        j += 1
      }
      // 2-D DCT-II of the 8×8 low-frequency corner (scale factors
      // drop out of a sign-vs-median comparison)
      val coef = new Array[Double](64)
      var v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          var s = 0.0; var y = 0
          while (y < n) {
            var x = 0
            while (x < n) {
              s += g(y)(x) *
                math.cos((2 * x + 1) * u * math.Pi / (2.0 * n)) *
                math.cos((2 * y + 1) * v * math.Pi / (2.0 * n))
              x += 1
            }
            y += 1
          }
          coef(v * 8 + u) = s
          u += 1
        }
        v += 1
      }
      val ac = (1 until 64).map(coef).sorted
      val median = ac(31) // lower median of the 63 AC coefficients
      var hash = 0L; var k = 1
      while (k < 64) {
        if (coef(k) > median) hash |= 1L << (k - 1)
        k += 1
      }
      hash
    }
  }

  // ---- video perceptual fingerprint ----------------------------------

  /** 64-bit video perceptual fingerprint over the container's encoded
    * per-sample byte sizes — the codec-free bitrate/motion envelope the
    * feature extractor already derives ([[JdkDecoder]] sizeEnvelope),
    * coded like [[afp64]]: 65 equal time windows of the sample-size
    * sequence, bit i = mean(window i+1) > mean(window i). First
    * differences are invariant to any constant size offset and positive
    * scaling, so the SAME frame-size sequence carried in a different
    * container (MP4 `stsz` ↔ Matroska block payloads ↔ AVI chunk sizes,
    * which disagree by fixed per-sample header offsets) fingerprints
    * identically; a re-encoded scene moves the bits of the windows it
    * touches; unrelated videos sit near 32. Pure integer/IEEE window
    * means over pure byte-structure parsing: bit-deterministic. None
    * for unparseable containers or tracks with fewer samples than
    * windows (too short for a 64-bit envelope to mean anything). */
  def vfp64(bytes: Array[Byte], format: String): Option[Long] = {
    val track =
      try JdkDecoder.videoTrack(bytes, Option(format).getOrElse(""))
      catch { case _: Exception => None } // data-level default
    track.filter(_.sampleSizes.length >= 65).map { t =>
      val s = t.sampleSizes
      val wins = 65
      val sum = new Array[Double](wins)
      val cnt = new Array[Int](wins)
      var i = 0
      while (i < s.length) {
        // Long window math: i * 65 wraps Int past ~33M samples
        val w = (i.toLong * wins / s.length).toInt
        sum(w) += s(i); cnt(w) += 1; i += 1
      }
      var hash = 0L
      var k = 0
      while (k < 64) {
        if (sum(k + 1) / cnt(k + 1) > sum(k) / cnt(k)) hash |= 1L << k
        k += 1
      }
      hash
    }
  }

  // ---- audio perceptual fingerprint ----------------------------------

  /** First-channel PCM samples in [-1, 1], canonicalized to signed
    * 16-bit first (same discipline as the feature envelope: AIFF is
    * big-endian, AU mu-law, 8-bit WAV unsigned — raw-byte reads would
    * fingerprint byte-swapped garbage). None when undecodable. */
  private def decodePcm(bytes: Array[Byte]): Option[Array[Double]] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    if (bytes.isEmpty) return None
    try {
      val raw = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val src = raw.getFormat
        val canonical = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          src.getSampleRate, 16, src.getChannels, src.getChannels * 2,
          src.getSampleRate, false)
        val in = AudioSystem.getAudioInputStream(canonical, raw)
        try {
          val frameBytes = canonical.getFrameSize
          val data = in.readAllBytes()
          val n = data.length / math.max(1, frameBytes)
          if (n == 0) None
          else {
            val out = new Array[Double](n)
            var i = 0
            while (i < n) {
              val off = i * frameBytes
              out(i) = ((data(off) & 0xff) | (data(off + 1) << 8)) / 32768.0
              i += 1
            }
            Some(out)
          }
        } finally in.close()
      } finally raw.close()
    } catch { case _: Exception => None } // data-level default
  }

  /** Goertzel power of one normalized frequency (cycles/sample) over a
    * sample window — a single-bin DFT, O(window) and allocation-free. */
  private def goertzelPower(s: Array[Double], from: Int, until: Int,
                            freq: Double): Double = {
    val coeff = 2.0 * math.cos(2.0 * math.Pi * freq)
    var s1 = 0.0; var s2 = 0.0
    var i = from
    while (i < until) {
      val s0 = s(i) + coeff * s1 - s2
      s2 = s1; s1 = s0; i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** 64-bit audio perceptual fingerprint (the energy-difference scheme
    * of Haitsma & Kalker 2002, "A Highly Robust Audio Fingerprinting
    * System", sized to one long): decode to canonical 16-bit PCM →
    * 17 equal time frames × 5 log-spaced spectral bands (Goertzel at
    * normalized frequencies 0.02/0.04/0.08/0.16/0.30 cycles per
    * sample) → bit(n,m) = sign of the TIME-versus-BAND second
    * difference (E(n,m)−E(n,m+1)) − (E(n−1,m)−E(n−1,m+1)) over
    * n∈1..16, m∈0..3. Sign-of-difference coding is invariant under
    * global gain, so container re-encodes of the same samples (WAV ↔
    * AIFF; both canonicalize to identical 16-bit PCM) collide at
    * hamming 0, a regional edit moves the bits of the frames it
    * touches, unrelated audio sits near 32. Pure JDK decode +
    * IEEE-double recurrences: bit-deterministic, so gates pin literal
    * hamming values. None for undecodable or sub-frame-length audio. */
  def afp64(bytes: Array[Byte]): Option[Long] =
    decodePcm(bytes).filter(_.length >= 17).map { s =>
      val frames = 17
      val bands = Array(0.02, 0.04, 0.08, 0.16, 0.30)
      val e = Array.ofDim[Double](frames, bands.length)
      var n = 0
      while (n < frames) {
        // Long frame math: n * s.length wraps Int past ~126M samples
        // (~48 min mono at 44.1 kHz) — the kernel must hash, not throw
        val from = (n.toLong * s.length / frames).toInt
        val until = ((n + 1).toLong * s.length / frames).toInt
        var m = 0
        while (m < bands.length) {
          e(n)(m) = goertzelPower(s, from, until, bands(m))
          m += 1
        }
        n += 1
      }
      var hash = 0L
      n = 1
      while (n < frames) {
        var m = 0
        while (m < 4) {
          val d = (e(n)(m) - e(n)(m + 1)) - (e(n - 1)(m) - e(n - 1)(m + 1))
          if (d > 0) hash |= 1L << ((n - 1) * 4 + m)
          m += 1
        }
        n += 1
      }
      hash
    }

  /** Shared per-row 64-bit-hash kernel: (media_id, phash), null where
    * `hasher(bytes, format)` cannot decode the row. Map-side, no
    * shuffle. A missing `format` column resolves to "" ONCE here, so
    * hashers that ignore the container format (image/audio decode by
    * content sniffing) keep accepting minimal (media_id, content)
    * frames. */
  private def hashFrame(media: DataFrame,
                        hasher: (Array[Byte], String) => Option[Long]): DataFrame = {
    // the ACTUAL matched column name rides into the row lookup: the
    // detection is case-insensitive, so the read must use the found
    // spelling, not the literal "format" (a frame with "Format" would
    // pass the check and then throw per row)
    val formatCol = media.columns.find(_.equalsIgnoreCase("format"))
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("phash", LongType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.empty)
        val fmt = formatCol
          .flatMap(c => Option(r.getAs[String](c))).getOrElse("")
        Row(r.getAs[Long]("media_id"),
          hasher(bytes, fmt).map(java.lang.Long.valueOf).orNull)
      }
    }(enc)
  }

  /** Perceptual hashes for an image corpus: (media_id, phash) — null
    * for rows the decoder cannot read (the explicit could-not-decode
    * contract of [[probeAll]]). Map-side, no shuffle; at lake scale
    * this is the write-once signature column an image dedup tier keeps
    * beside the bytes, like the text tiers' shingle store. */
  def imagePHash(media: DataFrame): DataFrame =
    hashFrame(media, (b, _) => phash64(b))

  /** Audio fingerprints for an audio corpus: (media_id, phash), null
    * for undecodable rows — the audio twin of [[imagePHash]]. */
  def audioFingerprints(media: DataFrame): DataFrame =
    hashFrame(media, (b, _) => afp64(b))

  /** ONE-decode probe + hash for an image corpus: (media_id, width,
    * height, phash) — dimensions and the perceptual hash from a single
    * ImageIO decode per row (image decode dominates a media pipeline's
    * cost; a probe pass followed by a hash pass would decode the whole
    * corpus twice). Undecodable rows → (0, 0, null). */
  def imageProbeHash(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("phash", LongType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.empty)
        val img =
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes)))
          catch { case _: Exception => None } // data-level default
        img match {
          case Some(im) => Row(r.getAs[Long]("media_id"),
            im.getWidth, im.getHeight, java.lang.Long.valueOf(phashOfImage(im)))
          case None => Row(r.getAs[Long]("media_id"), 0, 0, null)
        }
      }
    }(enc)
  }

  /** Video fingerprints for a video corpus: (media_id, phash), null
    * for unparseable rows — the video twin of [[imagePHash]], over the
    * container's bitrate envelope ([[vfp64]]). */
  def videoFingerprints(media: DataFrame): DataFrame =
    hashFrame(media, (b, f) => vfp64(b, f))

  /** Image near-dup pairs by perceptual hash: (id_a, id_b, hamming)
    * with hamming ≤ `maxHamming`, id_a < id_b. EXACT, not approximate:
    * candidates come from a RADIUS-ADAPTIVE pigeonhole self-join
    * ([[bandsOf]]: 4×16-bit / 8×8-bit / 16×4-bit bands for radius
    * ≤ 3 / ≤ 7 / ≤ 15 — two hashes within the radius MUST agree on at
    * least one band) and the verify re-checks the true bit distance,
    * so the output equals the quadratic all-pairs scan (spec-pinned
    * per structure). Work is per-bucket; the DEFAULT radius is 7 — the
    * widest the ~linear 8×8-bit banding covers (every measured true
    * edit across the image/audio/video fixture families is ≤ 6 bits,
    * while ScaleProbe10Main measured the 16×4 structure a radius of
    * 8-15 selects going near-quadratic on hash-uniform corpora). Pass
    * a larger radius explicitly to opt into the 16×4 bands.
    *
    * COMPATIBILITY BREAK (round 11): the default was 10 through round
    * 10 — a caller that relied on it silently loses pairs at hamming
    * 8-10 and should pass `maxHamming = 10` explicitly; an incremental
    * store probed at the old default no longer matches new one-shot
    * runs until its callers pin the radius. The flip is deliberate: 10
    * selected the near-quadratic 16×4 banding as the DEPLOYMENT
    * DEFAULT, a scale hazard on exactly the corpora this tier targets.
    * Applies to all nine entry points (image/audio/video one-shot,
    * incremental, and streamed). */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int = 7): DataFrame =
    hashNearDupPairs(imagePHash(media), maxHamming)

  /** Audio near-dup pairs by perceptual fingerprint — the audio twin of
    * [[imageNearDupPairs]]: (id_a, id_b, hamming) with hamming ≤
    * `maxHamming`, id_a < id_b, EXACT for maxHamming ≤ 15 via the same
    * radius-adaptive pigeonhole join over [[afp64]] fingerprints. */
  def audioNearDupPairs(media: DataFrame, maxHamming: Int = 7): DataFrame =
    hashNearDupPairs(audioFingerprints(media), maxHamming)

  /** Video near-dup pairs by bitrate-envelope fingerprint — the video
    * twin of [[imageNearDupPairs]] over [[vfp64]]. */
  def videoNearDupPairs(media: DataFrame, maxHamming: Int = 7): DataFrame =
    hashNearDupPairs(videoFingerprints(media), maxHamming)

  /** Near-dup pairs of any (media_id, phash) 64-bit hash frame — the
    * shared banded self-join kernel behind the image and audio tiers. */
  def hashNearDupPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"pigeonhole guarantee covers maxHamming <= 15, got $maxHamming")
    val ph = hashes.filter(col("phash").isNotNull)
    val banded = bandsOf(ph, maxHamming)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        col("x.phash").as("ph_a"), col("y.phash").as("ph_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** RADIUS-ADAPTIVE pigeonhole bands of a (media_id, phash) frame —
    * derived on the fly wherever needed (the explode of one LONG is
    * cheaper to recompute than to store, unlike the text tier's
    * shingle sets — which also means the banding can change per query
    * radius with no store migration). Pigeonhole: hamming ≤ h pairs
    * must agree on ≥ 1 of m bands whenever m ≥ h+1, so the WIDEST
    * bands the radius allows are chosen — band width is what kills
    * quadratic candidate volume on hash-uniform corpora:
    *
    *   h ≤ 3  → 4 bands × 16 bits (2^16 buckets; P(chance band
    *            collision per pair) ≈ 4/65536)
    *   h ≤ 7  → 8 bands × 8 bits (256 buckets; ≈ 8/256 — the text
    *            SimHash structure, Dedup.simhashPairs)
    *   h ≤ 15 → 16 bands × 4 bits (16 buckets; ≈ 16/16 — candidates
    *            approach all-pairs on uniform hashes: correct, but a
    *            LAST RESORT; measured in ScaleProbe10Main/SCALE.md)
    *
    * The gated true edits measure hamming ≤ 6 across all three
    * modalities, so h ≤ 7 (8 × 8-bit bands) is the recommended lake-
    * scale radius; both sides of every join derive bands with the
    * SAME h, so candidates stay consistent. */
  private def bandsOf(ph: DataFrame, maxHamming: Int): DataFrame = {
    val width = if (maxHamming <= 3) 16 else if (maxHamming <= 7) 8 else 4
    val bands = 64 / width
    val mask = (1L << width) - 1
    ph.select(col("media_id"), col("phash"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("phash"), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  // ---- live pHash store: the image landing-zone dedup tier ----------
  // The image-side twin of the text signature store (Dedup.
  // seedDedupStoreBatched): arriving image batches hash once, pair
  // against everything already registered, and register themselves —
  // the old corpus is never re-decoded. The store is just (media_id,
  // phash) in batch-partitioned parquet: 12 bytes a row, so a billion
  // images is a ~12 GB table scanned per batch (and band-bucketable
  // on write if even that scan grows too hot).

  /** Seed an empty batch-partitioned pHash store (`phashes/batch=seed`)
    * so the first micro-batch's incremental probe reads a valid (empty)
    * store. OVERWRITE-per-batch registration makes replay exact, as in
    * [[graft.operators.Dedup.seedDedupStoreBatched]]. */
  def seedPhashStoreBatched(spark: SparkSession, dir: String): Unit = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("phash", LongType)))
    graft.core.BatchStore.seed(
      spark.createDataFrame(new java.util.ArrayList[Row](), schema),
      s"$dir/phashes")
  }

  /** The highest batch id a compaction has folded into the store
    * (-1 = never compacted) — the [[graft.core.BatchStore]] horizon:
    * registration of a batch at or below it is a no-op, so an
    * uncommitted micro-batch replaying after a compaction cannot
    * duplicate its rows (they already live in `batch=compacted`). */
  def phashCompactedThrough(dir: String): Long =
    graft.core.BatchStore.compactedThrough(s"$dir/phashes")

  /** Register a processed batch's hashes under `batch=batchId`
    * (overwrite — a crash-replayed batch replaces its registration; a
    * batch at or below the compaction horizon is skipped). */
  def appendPhashStoreBatch(ph: DataFrame, dir: String,
                            batchId: Long): Unit =
    graft.core.BatchStore.registerBatch(ph.select("media_id", "phash"),
      s"$dir/phashes", batchId)

  /** Near-dup pairs a NEW image batch forms with the stored corpus and
    * with itself — (id_a, id_b, hamming), id_a < id_b, the
    * [[imageNearDupPairs]] contract. The stored side anti-joins the
    * batch's OWN ids, so a micro-batch replayed AFTER its store append
    * recomputes identical pairs (the same crash window the text store
    * handles). Returns the pair frame plus the batch's hash frame so a
    * streaming caller registers exactly what it paired. */
  def incrementalImagePairs(newMedia: DataFrame, dir: String,
                            maxHamming: Int = 7): (DataFrame, DataFrame) = {
    val newPh = imagePHash(newMedia).filter(col("phash").isNotNull)
    (incrementalHashPairs(newPh, dir, maxHamming), newPh)
  }

  /** Audio twin of [[incrementalImagePairs]]: a new audio batch's pairs
    * vs the stored fingerprint corpus plus itself, and the batch's hash
    * frame for registration. */
  def incrementalAudioPairs(newMedia: DataFrame, dir: String,
                            maxHamming: Int = 7): (DataFrame, DataFrame) = {
    val newPh = audioFingerprints(newMedia).filter(col("phash").isNotNull)
    (incrementalHashPairs(newPh, dir, maxHamming), newPh)
  }

  /** Video twin of [[incrementalImagePairs]]. */
  def incrementalVideoPairs(newMedia: DataFrame, dir: String,
                            maxHamming: Int = 7): (DataFrame, DataFrame) = {
    val newPh = videoFingerprints(newMedia).filter(col("phash").isNotNull)
    (incrementalHashPairs(newPh, dir, maxHamming), newPh)
  }

  /** Store-probe kernel shared by the image and audio tiers: pairs a
    * new batch's (media_id, phash) frame forms with the stored corpus
    * and with itself. The stored side anti-joins the batch's own ids
    * (post-append replay exact), and a half-swapped compaction is
    * recovered before the read ([[graft.core.Fs.recoverSwap]]). */
  def incrementalHashPairs(newPh: DataFrame, dir: String,
                           maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"pigeonhole guarantee covers maxHamming <= 15, got $maxHamming")
    val spark = newPh.sparkSession
    graft.core.Fs.recoverSwap(s"$dir/phashes")
    // the batch side is hinted as the broadcast side of all three joins
    // while it fits under the session's broadcast ceiling
    // ([[graft.core.DriverSet]]) — the planner otherwise schedules
    // SortMergeJoins whose exchanges are one AQE job each per trigger
    // (guide §3.1 + §1.2); over the ceiling AQE picks the sides
    val nb = bandsOf(newPh, maxHamming)
    val batchBytes = graft.core.DriverSet.planBytes(nb)
    def side(df: DataFrame): DataFrame =
      graft.core.DriverSet.broadcastIfFits(df, batchBytes)
    val stored = spark.read.parquet(s"$dir/phashes")
      .select("media_id", "phash")
      .join(side(newPh.select("media_id")), Seq("media_id"), "left_anti")
    val cross = bandsOf(stored, maxHamming).as("y")
      .join(side(nb.as("x")),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.media_id") =!= col("y.media_id"))
      .select(least(col("x.media_id"), col("y.media_id")).as("id_a"),
        greatest(col("x.media_id"), col("y.media_id")).as("id_b"),
        col("x.phash").as("ph_a"), col("y.phash").as("ph_b"))
    val self = nb.as("x").join(side(nb.as("y")),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        col("x.phash").as("ph_a"), col("y.phash").as("ph_b"))
    cross.unionByName(self).distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** One streamed micro-batch of the image dedup tier: emit the batch's
    * pairs (vs store + self) into `pairsDir/batch_id=N`, then register
    * its hashes under `batch=N` — both OVERWRITE, so replay replaces.
    * The union of per-batch emissions equals [[imageNearDupPairs]] over
    * the whole corpus (each unordered pair lands exactly once, in its
    * later side's batch; spec-pinned). */
  def streamBatchImageDedup(batch: DataFrame, storeDir: String,
                            pairsDir: String, batchId: Long,
                            maxHamming: Int = 7): Unit =
    streamBatchHashDedup(
      imagePHash(batch).filter(col("phash").isNotNull),
      storeDir, pairsDir, batchId, maxHamming)

  /** Audio twin of [[streamBatchImageDedup]]: one streamed micro-batch
    * of the audio dedup tier — pairs into `batch_id=N`, fingerprints
    * registered under `batch=N`, both overwrite, replay exact. */
  def streamBatchAudioDedup(batch: DataFrame, storeDir: String,
                            pairsDir: String, batchId: Long,
                            maxHamming: Int = 7): Unit =
    streamBatchHashDedup(
      audioFingerprints(batch).filter(col("phash").isNotNull),
      storeDir, pairsDir, batchId, maxHamming)

  /** Video twin of [[streamBatchImageDedup]]. */
  def streamBatchVideoDedup(batch: DataFrame, storeDir: String,
                            pairsDir: String, batchId: Long,
                            maxHamming: Int = 7): Unit =
    streamBatchHashDedup(
      videoFingerprints(batch).filter(col("phash").isNotNull),
      storeDir, pairsDir, batchId, maxHamming)

  private def streamBatchHashDedup(newPh: DataFrame, storeDir: String,
                                   pairsDir: String, batchId: Long,
                                   maxHamming: Int): Unit = {
    val hashes = newPh.persist()
    // no eager count: the per-micro-batch extra job measured as serial
    // wall (+0.4-0.6 s on the streamed media gates) while the racing
    // duplicate decodes ran on idle task slots
    graft.core.BatchStore.emitAndRegister(
      incrementalHashPairs(hashes, storeDir, maxHamming),
      hashes.select("media_id", "phash"), s"$storeDir/phashes",
      pairsDir, batchId)
    hashes.unpersist()
    ()
  }

  /** Offline store maintenance for the batch-partitioned hash store
    * ([[seedPhashStoreBatched]]/[[appendPhashStoreBatch]] — image and
    * audio tiers share the layout): every micro-batch adds a `batch=N`
    * directory forever, so months of live batches splinter the store
    * and each incremental probe pays per-file open overhead on the
    * stored-hash read. Collapse to `filesPerTable` files under ONE
    * `batch=compacted` partition (the [[graft.operators.Dedup
    * .compactDedupStore]] discipline: flattening `batch` into a data
    * column would break partition discovery for later appends). Row
    * content unchanged — identical pair results, spec-pinned with a
    * part-file-count assertion. Write-to-temp then RENAME-ONLY swap
    * ([[graft.core.Fs.swapDir]]); readers recover a half-swapped dir
    * via [[graft.core.Fs.recoverSwap]]. Run only while the stream is
    * STOPPED and its checkpoint fully committed. */
  def compactPhashStore(spark: SparkSession, dir: String,
                        filesPerTable: Int = 1): Unit =
    graft.core.BatchStore.compact(spark, s"$dir/phashes", filesPerTable)
}
