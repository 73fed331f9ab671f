package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.embed.HashEmbeddingBackend

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata. The Spark-side mechanics — schema, batch iteration,
  * partition-local processing, feature vectors — are real and tested.
  * Container/codec HEADER parsing (PNG IHDR, JPEG SOFn, WAV fmt/data) is
  * REAL pure-JVM code ([[HeaderCodec]]); uncompressed PCM WAV gets REAL
  * sample decode + frame-level DSP features ([[PcmCodec]],
  * [[audioFrameFeatures]]); and PNG gets REAL pixel decode — inflate +
  * all five scanline filters, every 8-bit color type — via [[PngCodec]]
  * ([[imagePixelStats]]); JPEG/BMP/GIF pixels decode through the JDK's
  * own `javax.imageio` readers ([[decodeImage]] — part of the JDK, not an
  * external library). MP3 frame headers (sample rate, channel mode, frame
  * count via the frame-chain walk) and MP4/ISO-BMFF boxes (tkhd
  * dimensions, mvhd timescale, track count) are REAL parses too, and
  * MPEG-1 LAYERS I, II **and III** decode for real ([[Mp1Codec]] /
  * [[Mp2Codec]] / [[Mp3Codec]] — requantization is analytic in all
  * three; Layer II's B.2 allocation tables and Layer III's side-info/
  * scalefactor/Huffman structure are bitstream FORMAT, not empirical
  * constants — feeding [[mp1EnergyFingerprintDF]] /
  * [[mp2EnergyFingerprintDF]] / [[mp3SpectralFingerprintDF]]; Layer III
  * ships Huffman big-values tables 0–3, 5–10, 12 and 13 + both count1
  * tables, window switching (short/start/stop/mixed blocks) and every
  * joint-stereo mode (MS, intensity, combined) — see Mp3Codec's
  * provenance note for the scoped remainder, tables 11/15/16–31);
  * baseline JPEG pixels decode through our own [[JpegCodec]] (T.81
  * Huffman + IDCT), AVI video frames decode for real both
  * uncompressed-DIB and MJPEG ([[AviCodec]]), and MPEG-1 VIDEO decodes
  * I-, P- AND B-pictures with real forward/bidirectional motion
  * compensation and presentation reordering ([[Mpeg1Codec]]). Video codec
  * families we don't parse at all (H.26x/MP4-payload pixels — the MP4
  * box walk itself is real) decode to nothing — a documented README
  * descope; swap in a real decoder (e.g. javacv) to productionize.
  *
  * Scale notes: media bytes never leave their partition (mapPartitions, no
  * shuffle); metadata extraction is projection-shaped; feature vectors are
  * small so downstream similarity ops shuffle features, not media.
  */
object Multimodal {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),      // images; null for audio
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),   // audio sample frames; 1 for stills
    StructField("sample_rate", IntegerType), // audio; null for images
    StructField("channels", IntegerType)))

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) | ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  /** Walk the chunks of a RIFF/WAVE container, calling `chunk(id, offset,
    * size)` for each one whose 8-byte chunk header lies in `b`; anything
    * that is not RIFF/WAVE has no chunks. Chunk sizes are UNSIGNED u32 and
    * attacker-controlled: the walk keeps Long offsets, so a size near 2^32
    * ends it (offset past length) instead of wrapping Int-negative and
    * re-entering at a garbage offset (out-of-bounds throw on hostile input).
    */
  private def riffChunks(b: Array[Byte])(chunk: (String, Int, Long) => Unit): Unit =
    if (b.length >= 12 && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      var i = 12L
      while (i + 8 <= b.length) {
        val o = i.toInt
        val size = le32(b, o + 4).toLong & 0xFFFFFFFFL
        chunk(new String(b, o, 4, "US-ASCII"), o, size)
        i += 8 + size + (size & 1L) // chunks are word-aligned
      }
    }

  /** ======= REAL header parsing (no external libs) =======
    * Best-effort: the format is sniffed from magic bytes; fields that can't
    * be parsed out of a truncated/malformed header stay null rather than
    * failing the row (a 100 TB media crawl always contains garbage).
    */
  object HeaderCodec {
    def sniffFormat(bytes: Array[Byte]): String =
      if (bytes.length >= 4 && bytes(0) == 0x89.toByte && bytes(1) == 'P') "png"
      else if (bytes.length >= 2 && bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
      else if (bytes.length >= 4 && bytes(0) == 'R' && bytes(1) == 'I') "wav"
      else if (bytes.length >= 8 && bytes(4) == 'f' && bytes(5) == 't' &&
        bytes(6) == 'y' && bytes(7) == 'p') "mp4"
      else if (bytes.length >= 3 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') "mp3"
      else if (bytes.length >= 4 && isMp3FrameHeader(bytes, 0)) "mp3"
      else if (bytes.length >= 4 && bytes(0) == 0 && bytes(1) == 0 &&
        bytes(2) == 1 && bytes(3) == 0xB3.toByte) "mpeg1v"
      else "bin"

    /** Full 4-byte MPEG Layer III frame-header validation — a bare sync
      * prefix (0xFF + 3 bits) matches too much (a UTF-16LE BOM, random
      * binaries), so the sniff demands valid version/layer/bitrate/rate
      * fields, same rule the frame walk applies.
      */
    private def isMp3FrameHeader(b: Array[Byte], o: Int): Boolean = {
      if ((b(o) & 0xFF) != 0xFF) return false
      val h1 = b(o + 1) & 0xFF; val h2 = b(o + 2) & 0xFF
      (h1 & 0xE0) == 0xE0 &&
        ((h1 >> 3) & 3) != 1 &&       // version not reserved
        ((h1 >> 1) & 3) == 1 &&       // Layer III
        (h2 >> 4) != 0 && (h2 >> 4) != 15 && // bitrate index valid
        ((h2 >> 2) & 3) != 3          // sample-rate index valid
    }

    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    private def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) | ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)

    /** PNG: 8-byte signature, then the IHDR chunk (must be first): 4-byte
      * length, "IHDR", width/height as big-endian u32 (PNG spec §11.2.2).
      */
    private def png(b: Array[Byte]): Row =
      if (b.length >= 24 && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Row("png", be32(b, 16), be32(b, 20), 1, null, null)
      else Row("png", null, null, null, null, null)

    /** JPEG: walk the marker segments from offset 2; any SOFn
      * (C0-CF except C4/C8/CC) carries precision(1), height(2), width(2)
      * big-endian after the 2-byte segment length (ITU T.81 §B.2.2).
      */
    private def jpeg(b: Array[Byte]): Row = {
      var i = 2
      while (i + 3 < b.length && (b(i) & 0xFF) == 0xFF) {
        val m = b(i + 1) & 0xFF
        if (m == 0xFF) i += 1                      // fill byte
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD9)) i += 2 // stand-alone
        else {
          val len = be16(b, i + 2)
          if (len < 2) return Row("jpeg", null, null, null, null, null)
          val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
          if (isSof && i + 9 < b.length)
            return Row("jpeg", be16(b, i + 7), be16(b, i + 5), 1, null, null)
          i += 2 + len
        }
      }
      Row("jpeg", null, null, null, null, null)
    }

    /** WAV: RIFF/WAVE container; "fmt " chunk carries channels (u16 LE) and
      * sample rate (u32 LE), block align at +12; "data" chunk size /
      * blockAlign = sample-frame count (RIFF WAVE spec).
      */
    private def wav(b: Array[Byte]): Row = {
      var channels: Any = null; var rate: Any = null; var frames: Any = null
      var blockAlign = 0
      riffChunks(b) { (id, o, size) =>
        if (id == "fmt " && o + 8 + 16 <= b.length) {
          channels = le16(b, o + 10)
          rate = le32(b, o + 12)
          blockAlign = le16(b, o + 20)
        } else if (id == "data" && blockAlign > 0) {
          frames = math.min(size / blockAlign, Int.MaxValue.toLong).toInt // header-declared count
        }
      }
      Row("wav", null, null, frames, rate, channels)
    }

    /** MP3 (MPEG-1/2/2.5 audio): skip an ID3v2 tag (10-byte header with a
      * syncsafe u28 size), find the first valid Layer III frame sync, read
      * sample rate and channel mode from the 4-byte frame header (ISO
      * 11172-3 §2.4.1.3 layout), then WALK the frame chain via the layer-III
      * frame-length formula to count frames — n_frames · 1152 (or 576)
      * samples over sample_rate gives duration without decoding a sample.
      *
      * VBR files: encoders stamp the declared frame count into the FIRST
      * frame — a Xing/Info tag right after the layer-III side info
      * (LAME/Xing convention: 32 bytes for MPEG-1 stereo, 17 mono; 17/9
      * for MPEG-2; flags bit 0 = frame-count-present), or a VBRI tag at a
      * fixed 32-byte offset (Fraunhofer). When present, the declared count
      * is authoritative (exact even when the tail is truncated mid-chain)
      * and the walk is skipped; the count convention is the tag's raw
      * `frames` field, which every mainstream encoder writes as the total
      * audio-frame count.
      */
    private def mp3(b: Array[Byte]): Row = {
      val v1Rates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
      val v2Rates = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
      var off = 0L
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
        off = 10L + (((b(6) & 0x7F) << 21) | ((b(7) & 0x7F) << 14) |
          ((b(8) & 0x7F) << 7) | (b(9) & 0x7F))
      // resync scan: tags can be followed by padding before the first frame
      while (off + 4 <= b.length &&
        !((b(off.toInt) & 0xFF) == 0xFF && (b(off.toInt + 1) & 0xE0) == 0xE0)) off += 1
      var rate: Any = null; var channels: Any = null
      var frames = 0
      var ok = off + 4 <= b.length
      while (ok && off + 4 <= b.length) {
        val o = off.toInt
        val h1 = b(o + 1) & 0xFF; val h2 = b(o + 2) & 0xFF; val h3 = b(o + 3) & 0xFF
        val versionBits = (h1 >> 3) & 3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
        val layerBits = (h1 >> 1) & 3   // 1=Layer III
        val bitrateIdx = h2 >> 4
        val rateIdx = (h2 >> 2) & 3
        val padding = (h2 >> 1) & 1
        val valid = (b(o) & 0xFF) == 0xFF && (h1 & 0xE0) == 0xE0 &&
          versionBits != 1 && layerBits == 1 && bitrateIdx != 0 && bitrateIdx != 15 &&
          rateIdx != 3
        if (!valid) ok = false
        else {
          val sr = (versionBits match {
            case 3 => Array(44100, 48000, 32000)
            case 2 => Array(22050, 24000, 16000)
            case _ => Array(11025, 12000, 8000)
          })(rateIdx)
          val kbps = (if (versionBits == 3) v1Rates else v2Rates)(bitrateIdx)
          if (frames == 0) {
            rate = sr
            val mono = ((h3 >> 6) & 3) == 3
            channels = if (mono) 1 else 2
            // VBR header probe inside the first frame
            val sideInfo =
              if (versionBits == 3) { if (mono) 17 else 32 } else { if (mono) 9 else 17 }
            def tag4(off: Int, t: String): Boolean =
              off + 12 <= b.length && (0 until 4).forall(k => b(off + k) == t(k).toByte)
            // protection bit 0 = a 2-byte CRC sits between header and side
            // info (ISO 11172-3 §2.4.1.3) — the VBR tags ride after it
            val crc = if ((h1 & 1) == 0) 2 else 0
            val xo = o + 4 + crc + sideInfo
            if ((tag4(xo, "Xing") || tag4(xo, "Info")) && (be32(b, xo + 4) & 1) != 0)
              return Row("mp3", null, null, be32(b, xo + 8), rate, channels)
            val vo = o + 4 + crc + 32
            if (tag4(vo, "VBRI") && vo + 18 <= b.length)
              return Row("mp3", null, null, be32(b, vo + 14), rate, channels)
          }
          val factor = if (versionBits == 3) 144 else 72
          val len = factor * kbps * 1000 / sr + padding
          if (len <= 4) ok = false
          else { frames += 1; off += len }
        }
      }
      if (frames == 0) Row("mp3", null, null, null, null, null)
      else Row("mp3", null, null, frames, rate, channels)
    }

    /** MP4 / ISO base media file format: recursive box walk (u32 BE size +
      * fourcc, 64-bit sizes honored). moov/mvhd yields the movie timescale
      * (reported as sample_rate), each trak counts toward `channels`
      * (track count), and the first non-zero tkhd width/height (16.16
      * fixed point) yields the visual dimensions — real container-level
      * metadata without any codec work (ISO/IEC 14496-12 §8.2-8.3).
      */
    private def mp4(b: Array[Byte]): Row = {
      var width: Any = null; var height: Any = null
      var timescale: Any = null; var tracks = 0
      def be64(i: Int): Long =
        ((be32(b, i).toLong & 0xFFFFFFFFL) << 32) | (be32(b, i + 4).toLong & 0xFFFFFFFFL)
      def walk(start: Long, end: Long, depth: Int): Unit = {
        if (depth > 8) return
        var i = start
        var live = true
        while (live && i + 8 <= end) {
          val o = i.toInt
          var size = be32(b, o).toLong & 0xFFFFFFFFL
          val typ = new String(b, o + 4, 4, "ISO-8859-1")
          var hdr = 8L
          if (size == 0) size = end - i // box runs to end of enclosing space
          else if (size == 1) {
            if (i + 16 > end) return
            size = be64(o + 8); hdr = 16L
          }
          if (size < hdr || i + size > end) live = false
          else {
            typ match {
              case "moov" | "trak" | "mdia" => walk(i + hdr, i + size, depth + 1)
              case "mvhd" if timescale == null && i + hdr + 16 <= end =>
                val version = b((i + hdr).toInt) & 0xFF
                val tsOff = if (version == 1) i + hdr + 4 + 16 else i + hdr + 4 + 8
                if (tsOff + 4 <= end) timescale = be32(b, tsOff.toInt)
              case "tkhd" =>
                tracks += 1
                // width/height are the box's last 8 bytes, 16.16 fixed point
                if (width == null && size >= hdr + 80) {
                  val w = be32(b, (i + size - 8).toInt) >>> 16
                  val h = be32(b, (i + size - 4).toInt) >>> 16
                  if (w > 0 && h > 0) { width = w; height = h }
                }
              case _ => ()
            }
            i += size
          }
        }
      }
      walk(0L, b.length.toLong, 0)
      Row("mp4", width, height, null, timescale, if (tracks > 0) tracks else null)
    }

    def decodeMeta(bytes: Array[Byte]): Row = sniffFormat(bytes) match {
      case "png"    => png(bytes)
      case "jpeg"   => jpeg(bytes)
      case "wav"    => wav(bytes)
      case "mp3"    => mp3(bytes)
      case "mp4"    => mp4(bytes)
      case "mpeg1v" => mpeg1v(bytes)
      case f        => Row(f, null, null, null, null, null)
    }

    /** MPEG-1 video elementary stream: dimensions from the sequence
      * header (12+12 bits after the B3 start code), n_frames = picture
      * start codes in the stream (all coding types — a metadata count,
      * unlike [[Mpeg1Codec]]'s decoded-keyframe output).
      */
    private def mpeg1v(b: Array[Byte]): Row = {
      if (b.length < 8) return Row("mpeg1v", null, null, null, null, null)
      val w = ((b(4) & 0xFF) << 4) | ((b(5) & 0xFF) >> 4)
      val h = ((b(5) & 0x0F) << 8) | (b(6) & 0xFF)
      var pics = 0
      var i = 4
      while (i + 3 < b.length) {
        if (b(i) == 0 && b(i + 1) == 0 && b(i + 2) == 1) {
          if (b(i + 3) == 0) pics += 1
          i += 4
        } else i += 1
      }
      Row("mpeg1v", if (w > 0) w else null, if (h > 0) h else null,
        if (pics > 0) pics else null, null, null)
    }
  }

  /** ======= REAL PCM audio decode (no external libs) =======
    * Uncompressed WAV (format 1 integer PCM at 8/16/24/32 bits, format 3
    * IEEE float32) is fully specified by the RIFF header — decode and
    * frame-level feature extraction here are REAL signal processing, not a
    * stub. MPEG-1 Layer I/II/III audio and MPEG-1 video decode for real
    * too ([[Mp1Codec]]/[[Mp2Codec]]/[[Mp3Codec]]/[[Mpeg1Codec]]); only
    * H.26x/MP4-payload video pixels are not decoded.
    */
  object PcmCodec {
    final case class Pcm(channels: Int, sampleRate: Int, bitsPerSample: Int,
                         samples: Array[Float]) // interleaved, normalized [-1, 1]

    private final case class Header(fmt: Int, channels: Int, rate: Int,
                                    bits: Int, dataOff: Int, dataLen: Int)

    private def parseHeader(b: Array[Byte]): Option[Header] = {
      if (HeaderCodec.sniffFormat(b) != "wav") return None
      var fmt = 0; var channels = 0; var rate = 0; var bits = 0
      var dataOff = -1; var dataLen = 0
      riffChunks(b) { (id, o, size) =>
        if (id == "fmt " && o + 8 + 16 <= b.length) {
          fmt = le16(b, o + 8); channels = le16(b, o + 10)
          rate = le32(b, o + 12); bits = le16(b, o + 22)
        } else if (id == "data") {
          dataOff = o + 8; dataLen = math.min(size, (b.length - dataOff).toLong).toInt
        }
      }
      // integer PCM (format 1): 8-bit unsigned, 16/24/32-bit signed LE;
      // IEEE float PCM (format 3): 32-bit LE — the full uncompressed WAV
      // family a media crawl actually contains
      val supported = (fmt == 1 && (bits == 8 || bits == 16 || bits == 24 || bits == 32)) ||
        (fmt == 3 && bits == 32)
      if (!supported || channels <= 0 || dataOff < 0) None
      else Some(Header(fmt, channels, rate, bits, dataOff, dataLen))
    }

    /** None for anything that is not an uncompressed PCM WAV. */
    def decode(b: Array[Byte]): Option[Pcm] = parseHeader(b).map { h =>
      val bytesPer = h.bits / 8
      val n = h.dataLen / bytesPer
      val out = new Array[Float](n)
      var j = 0
      while (j < n) {
        val o = h.dataOff + j * bytesPer
        out(j) = h.bits match {
          case 8  => ((b(o) & 0xFF) - 128).toFloat / 128f
          case 16 => le16(b, o).toShort.toFloat / 32768f
          case 24 =>
            val u = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) | ((b(o + 2) & 0xFF) << 16)
            (if ((u & 0x800000) != 0) u - 0x1000000 else u).toFloat / 8388608f
          case _ =>
            if (h.fmt == 3) java.lang.Float.intBitsToFloat(le32(b, o))
            else le32(b, o).toFloat / 2147483648f
        }
        j += 1
      }
      Pcm(h.channels, h.rate, h.bits, out)
    }

    /** Interleaved INTEGER samples at a common 16-bit reference scale
      * (8-bit recentred then <<8, 24/32-bit arithmetic-shifted down, float
      * PCM rounded and clamped to the 16-bit range). Integer-exact for the
      * integer formats, so downstream fingerprints are replayable by an SQL
      * oracle; None for anything that is not an uncompressed PCM WAV.
      */
    final case class IntPcm(channels: Int, sampleRate: Int, bitsPerSample: Int,
                            samples: Array[Long])
    def decodeInt16(b: Array[Byte]): Option[IntPcm] = parseHeader(b).map { h =>
      val bytesPer = h.bits / 8
      val n = h.dataLen / bytesPer
      val out = new Array[Long](n)
      var j = 0
      while (j < n) {
        val o = h.dataOff + j * bytesPer
        out(j) = h.bits match {
          case 8  => (((b(o) & 0xFF) - 128) << 8).toLong
          case 16 => le16(b, o).toShort.toLong
          case 24 =>
            val u = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) | ((b(o + 2) & 0xFF) << 16)
            (if ((u & 0x800000) != 0) u - 0x1000000 else u).toLong >> 8
          case _ =>
            if (h.fmt == 3) {
              val v = java.lang.Float.intBitsToFloat(le32(b, o))
              math.max(-32768L, math.min(32767L, math.rint(v * 32768f).toLong))
            } else le32(b, o).toLong >> 16
        }
        j += 1
      }
      IntPcm(h.channels, h.rate, h.bits, out)
    }

    /** Per-frame features over `frameSize` sample-frame windows (channel-
      * interleaved input; mono-mixed first): RMS energy, zero-crossing
      * rate, peak amplitude — the classic cheap audio descriptors.
      */
    def frameFeatures(p: Pcm, frameSize: Int): Seq[(Int, Float, Float, Float)] = {
      val mono: Array[Float] =
        if (p.channels == 1) p.samples
        else {
          val n = p.samples.length / p.channels
          Array.tabulate(n) { i =>
            var s = 0f; var c = 0
            while (c < p.channels) { s += p.samples(i * p.channels + c); c += 1 }
            s / p.channels
          }
        }
      mono.grouped(frameSize).zipWithIndex.map { case (w, fi) =>
        var sumSq = 0.0; var zc = 0; var peak = 0f
        var i = 0
        while (i < w.length) {
          val x = w(i)
          sumSq += x.toDouble * x.toDouble
          if (math.abs(x) > peak) peak = math.abs(x)
          if (i > 0 && ((w(i - 1) >= 0) != (x >= 0))) zc += 1
          i += 1
        }
        (fi, math.sqrt(sumSq / math.max(1, w.length)).toFloat,
          if (w.length > 1) zc.toFloat / (w.length - 1) else 0f, peak)
      }.toSeq
    }
  }

  /** Extract typed metadata from a binary media column by REAL header
    * parsing ([[HeaderCodec]]). Partition-local; batch-shaped like a
    * Pandas-UDF `mapInPandas` (iterator of batches in, iterator out) but in
    * JVM-native form.
    */
  def extractMeta(df: DataFrame, binaryCol: String = "media"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("meta", mediaMetaSchema))
    val idx = df.schema.fieldIndex(binaryCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        // per-row Try: one hostile header must not fail the whole scan —
        // fall back to format sniff (bounds-safe) with null fields
        val meta =
          if (bytes == null) null
          else scala.util.Try(HeaderCodec.decodeMeta(bytes)).getOrElse(
            Row(HeaderCodec.sniffFormat(bytes), null, null, null, null, null))
        Row.fromSeq(r.toSeq :+ meta)
      }
    }
  }

  /** The scaffold of every per-blob decode operator: each row's
    * `binaryCol` blob becomes the rows `perBlob(id, bytes)` returns, under
    * the schema `idCol` +: `fields`. A null blob yields no rows — the one
    * place that rule lives. Partition-local: the media bytes never cross a
    * shuffle, only the small output rows flow on.
    */
  private def blobRows(df: DataFrame, idCol: String, binaryCol: String,
                       fields: Seq[StructField])(
                       perBlob: (Any, Array[Byte]) => Iterator[Row]): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binaryCol)
    implicit val enc = RowEncoder.encoderFor(StructType(df.schema(idCol) +: fields))
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null) Iterator.empty else perBlob(r.get(idIdx), bytes)
      }
    }
  }

  /** Shared REAL video-frame decode: AVI (uncompressed DIB or MJPEG,
    * [[AviCodec]]) and ANIMATED GIF (full-canvas composited frames,
    * [[GifCodec.decodeFrames]] — a web "video" format in practice). None
    * for other codecs.
    */
  private def videoFrames(bytes: Array[Byte]): Option[Array[PngCodec.Image]] =
    AviCodec.decode(bytes).map(_.frames)
      .orElse(GifCodec.decodeFrames(bytes).map(_.frames))
      .orElse(Mpeg1Codec.decode(bytes).map(_.frames)) // I + P (forward MC)

  /** Frame sampling for "video" bytes: one output row per sampled frame
    * (every `everyN`th) of a decodable video ([[videoFrames]]: AVI, animated
    * GIF, MPEG-1), the frame bytes being its top-down RGB pixels. Media
    * expansion happens within the partition; only (id, frame_index, frame)
    * rows flow on. Undecodable, empty and null blobs yield no rows.
    */
  def sampleFrames(df: DataFrame, idCol: String, binaryCol: String = "media",
                   everyN: Int = 4): DataFrame =
    blobRows(df, idCol, binaryCol, Seq(
        StructField("frame_index", IntegerType),
        StructField("frame", BinaryType))) { (id, bytes) =>
      videoFrames(bytes).iterator.flatMap { frames =>
        (0 until frames.length by everyN).iterator.map(f => Row(id, f, frames(f).pixels))
      }
    }

  /** REAL per-frame pixel stats over decodable videos — uncompressed-DIB
    * / MJPEG AVI and animated GIF ([[videoFrames]]): one row per sampled
    * frame (every `everyN`th) with the [[imagePixelStats]] column shape
    * plus `frame_index` — frame sampling + feature extraction as one
    * in-partition pass, only ~48 B/frame ever leaving the partition.
    * Undecodable/corrupt/null rows yield nothing.
    */
  def videoFrameStats(df: DataFrame, idCol: String, binaryCol: String = "media",
                      everyN: Int = 1): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1: $everyN")
    blobRows(df, idCol, binaryCol, Seq(
      StructField("frame_index", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("n_px", LongType),
      StructField("px_sum", LongType),
      // byte-index-weighted sum Σ i·b_i — ORDER-SENSITIVE where px_sum is
      // not: a bottom-up/top-down or stride slip changes it (the gate's
      // row-order evidence)
      StructField("px_wsum", LongType),
      StructField("px_min", LongType),
      StructField("px_max", LongType))) { (id, bytes) =>
      videoFrames(bytes).iterator.flatMap { frames =>
        (0 until frames.length by everyN).iterator.map { f =>
          val img = frames(f)
          var sum = 0L; var wsum = 0L; var mn = 255L; var mx = 0L
          var i = 0
          while (i < img.pixels.length) {
            val v = (img.pixels(i) & 0xFF).toLong
            sum += v
            wsum += i * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          Row(id, f.toLong, img.width.toLong, img.height.toLong,
            img.pixels.length.toLong, sum, wsum, mn, mx)
        }
      }
    }
  }

  /** Feature extraction stub: embed the media bytes' hex digest with the
    * deterministic hash embedder — a stand-in for a CLIP-style encoder with
    * the same shape (binary → fixed-dim float vector, batched per partition).
    */
  def extractFeatures(df: DataFrame, binaryCol: String = "media", dims: Int = 64): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val idx = df.schema.fieldIndex(binaryCol)
    val backend = HashEmbeddingBackend(dims)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.grouped(64).flatMap { batch =>
        val texts = batch.map { r =>
          val bytes = r.getAs[Array[Byte]](idx)
          if (bytes == null) "" else java.util.Base64.getEncoder.encodeToString(bytes)
        }
        val vecs = backend.embedBatch(texts)
        batch.lazyZip(vecs).map { (r, v) => Row.fromSeq(r.toSeq :+ v.toSeq) }
      }
    }
  }

  /** REAL audio feature extraction over PCM WAV bytes: one row per analysis
    * frame with (rms, zero-crossing rate, peak). Decode and DSP happen
    * inside the partition; only small (id, frame, 3-float) rows flow on —
    * the audio bytes never cross a shuffle. Non-PCM rows yield no frames
    * (a 100 TB crawl mixes codecs; unsupported ones are someone else's
    * decoder, surfaced by [[extractMeta]]'s format column).
    */
  def audioFrameFeatures(df: DataFrame, idCol: String, binaryCol: String = "media",
                         frameSize: Int = 1024): DataFrame =
    blobRows(df, idCol, binaryCol, Seq(
        StructField("frame_index", IntegerType),
        StructField("rms", FloatType),
        StructField("zcr", FloatType),
        StructField("peak", FloatType))) { (id, bytes) =>
      // per-row Try: a corrupt container yields no frames, not a job failure
      scala.util.Try(PcmCodec.decode(bytes)).toOption.flatten.iterator.flatMap { pcm =>
        PcmCodec.frameFeatures(pcm, frameSize).iterator.map {
          case (fi, rms, zcr, peak) => Row(id, fi, rms, zcr, peak)
        }
      }
    }

  /** Full image decode, all four still formats through OUR OWN codecs:
    * PNG ([[PngCodec]] — inflate + unfilter), baseline JPEG
    * ([[JpegCodec]] — T.81 Huffman + IDCT), GIF ([[GifCodec]] — LZW +
    * palette), BMP ([[BmpCodec]] — DIB rows); every one deterministic and
    * oracle-gated. The JDK's `javax.imageio` remains only as the fallback
    * for the documented descopes (progressive JPEG, RLE/bitfield BMP).
    * Returns 8-bit channel-interleaved samples.
    */
  def decodeImage(bytes: Array[Byte]): Option[PngCodec.Image] =
    PngCodec.decode(bytes).orElse(JpegCodec.decode(bytes))
      .orElse(GifCodec.decode(bytes)).orElse(BmpCodec.decode(bytes))
      .orElse(scala.util.Try {
      val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (decoded == null) None
      else {
        // indexed rasters (GIF, indexed BMP) carry palette INDICES in their
        // bands, and >8-bit samples would truncate — convert through the
        // color model to true 8-bit RGB first so stats are pixel VALUES
        val needsConvert =
          decoded.getColorModel.isInstanceOf[java.awt.image.IndexColorModel] ||
            decoded.getColorModel.getComponentSize.exists(_ > 8)
        val img = if (!needsConvert) decoded else {
          val conv = new java.awt.image.BufferedImage(
            decoded.getWidth, decoded.getHeight, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val g = conv.createGraphics()
          try g.drawImage(decoded, 0, 0, null) finally g.dispose()
          conv
        }
        val raster = img.getRaster
        val ch = raster.getNumBands
        val w = img.getWidth
        val h = img.getHeight
        val out = new Array[Byte](w * h * ch)
        val buf = new Array[Int](ch)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.getPixel(x, y, buf)
            var c = 0
            while (c < ch) { out((y * w + x) * ch + c) = (buf(c) & 0xFF).toByte; c += 1 }
            x += 1
          }
          y += 1
        }
        Some(PngCodec.Image(w, h, ch, out))
      }
    }.toOption.flatten)

  /** REAL image pixel statistics ([[decodeImage]]: own PNG codec, JDK
    * ImageIO for JPEG/BMP/GIF): per image the decoded dimensions, channel
    * count, and pixel-value aggregates over every 8-bit sample. Decode
    * happens inside the partition; only the small stats row flows on (the
    * 100 TB discipline: media bytes never cross a shuffle). Unsupported /
    * corrupt rows yield nothing, like [[audioFrameFeatures]].
    */
  def imagePixelStats(df: DataFrame, idCol: String, binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, Seq(
        StructField("width", LongType),
        StructField("height", LongType),
        StructField("channels", LongType),
        StructField("n_px", LongType),
        StructField("px_sum", LongType),
        StructField("px_min", LongType),
        StructField("px_max", LongType))) { (id, bytes) =>
      decodeImage(bytes).iterator.map { img =>
        var sum = 0L; var mn = 255L; var mx = 0L
        var i = 0
        while (i < img.pixels.length) {
          val v = (img.pixels(i) & 0xFF).toLong
          sum += v; if (v < mn) mn = v; if (v > mx) mx = v
          i += 1
        }
        Row(id, img.width.toLong, img.height.toLong, img.channels.toLong,
          (img.pixels.length / img.channels).toLong, sum, mn, mx)
      }
    }

  /** 64-bit dHash (difference hash — the published perceptual-hash
    * construction popularized by Krawetz's "Kind of Like That"; the one
    * image-dedup hash that needs no DCT): integer luma → 9×8 box-mean
    * downscale → one bit per horizontal gradient (`cell < right neighbour`).
    * Everything is EXACT integer arithmetic (luma = (299r+587g+114b)/1000,
    * box mean = floor(sum/count)), so the DuckDB oracle replays the hash
    * bit-for-bit from the fixture generator formula. Identical images
    * collide exactly; light recompression/resize lands within a small
    * Hamming distance.
    */
  private[ops] def dhash64(img: PngCodec.Image): Long = {
    val w = img.width; val h = img.height; val c = img.channels
    def luma(x: Int, y: Int): Long = {
      val o = (y * w + x) * c
      if (c >= 3)
        (299L * (img.pixels(o) & 0xFF) + 587L * (img.pixels(o + 1) & 0xFF) +
          114L * (img.pixels(o + 2) & 0xFF)) / 1000L
      else (img.pixels(o) & 0xFF).toLong
    }
    val cells = Array.ofDim[Long](8, 9)
    var ty = 0
    while (ty < 8) {
      val sy0 = ty * h / 8; val sy1 = math.max(sy0 + 1, (ty + 1) * h / 8)
      var tx = 0
      while (tx < 9) {
        val sx0 = tx * w / 9; val sx1 = math.max(sx0 + 1, (tx + 1) * w / 9)
        var sum = 0L; var n = 0L
        var y = sy0
        while (y < sy1) {
          var x = sx0
          while (x < sx1) { sum += luma(x, y); n += 1; x += 1 }
          y += 1
        }
        cells(ty)(tx) = sum / n
        tx += 1
      }
      ty += 1
    }
    var hash = 0L
    ty = 0
    while (ty < 8) {
      var tx = 0
      while (tx < 8) {
        if (cells(ty)(tx) < cells(ty)(tx + 1)) hash |= 1L << (ty * 8 + tx)
        tx += 1
      }
      ty += 1
    }
    hash
  }

  /** Per-image dHash rows: (id, width, height, dhash). Decode + hash run
    * inside the partition — only 28 bytes per image flow on (media bytes
    * never cross a shuffle); undecodable rows yield nothing.
    */
  def imageDHash(df: DataFrame, idCol: String, binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, Seq(
        StructField("width", LongType),
        StructField("height", LongType),
        StructField("dhash", LongType))) { (id, bytes) =>
      decodeImage(bytes).iterator.map(img =>
        Row(id, img.width.toLong, img.height.toLong, dhash64(img)))
    }

  /** Image-level perceptual dedup: group by dHash, keeper = min id — the
    * image twin of [[Dedup.exact]]. The group stats are WINDOW functions
    * over the hash (count/min over the unbounded partition), not a
    * groupBy + join-back: that shape referenced the hashed subtree twice
    * and re-ran the DECODE pass for each reference (measured in the r13
    * plan audit — a broadcast join materializes both sides
    * independently); the window shuffles the ~24-byte hash rows ONCE and
    * decodes once. This is the OPPOSITE trade from
    * [[TextAnalysis.cleanPipeline]]'s agg+join canonicality (r5 rule:
    * don't window a hot key) — here the re-evaluated side would re-run
    * the decode (the dominant cost), and the co-located rows are 24-byte
    * fingerprints, so even a million-fold duplicated asset is ~24 MB in
    * one task. For corpora where ONE identical asset exceeds ~100M
    * copies (tracking-pixel scale), pre-aggregate by byte digest
    * ([[mediaStats]]' md5) before decoding. Output: (id, dhash_hi,
    * dhash_lo, n_dups, canonical_id); the hash rides as two non-negative
    * 32-bit halves so integer replays never touch the sign bit.
    */
  def imageDedup(df: DataFrame, idCol: String, binaryCol: String = "media"): DataFrame = {
    val hashed = imageDHash(df, idCol, binaryCol)
      .select(col(idCol), shiftrightunsigned(col("dhash"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("dhash_hi"),
        col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("dhash_lo"))
    val w = Window.partitionBy("dhash_hi", "dhash_lo")
    hashed
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .select(col(idCol), col("dhash_hi"), col("dhash_lo"),
        col("n_dups"), col("canonical_id"))
  }

  /** Band a 64-bit perceptual hash into `maxHamming + 1` contiguous bit
    * ranges — the pigeonhole exact cover: a pair differing in at most
    * `maxHamming` bits must agree on at least one intact band, whatever
    * bits differ. Deriving the band count from the radius (instead of a
    * fixed 4×16) keeps the cover guarantee for ANY requested radius; the
    * trade is visible, not silent — more bands = narrower buckets = more
    * collisions, which the hot-bucket cap then bounds. `maxHamming` is
    * capped at 15 (16 bands of ≥4 bits) because beyond that the buckets
    * are so coarse the blocking does no work.
    */
  private[ops] def hammingCoverBands(hashed: DataFrame, hashCol: String,
                                     maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (16 bands of >= 4 bits): $maxHamming")
    val nBands = maxHamming + 1
    (0 until nBands).map { bnd =>
      val lo = bnd * 64 / nBands
      val hi = (bnd + 1) * 64 / nBands
      val mask = if (hi - lo >= 64) -1L else (1L << (hi - lo)) - 1L
      hashed.select(col("doc_id"), lit(bnd.toLong).as("band"),
        shiftrightunsigned(col(hashCol), lo).bitwiseAND(lit(mask)).as("bucket"))
    }.reduce(_.unionByName(_))
  }

  /** Near-duplicate image pairs by dHash Hamming distance: the 64-bit hash
    * is banded into `maxHamming + 1` ranges ([[hammingCoverBands]] — an
    * exact cover at any radius), bands block candidates, capped hot
    * buckets, exact popcount verify. The image twin of
    * [[Dedup.simhashPairs]], same scale posture. Pass `saturation` for
    * hot-bucket overflow telemetry ([[Dedup.cappedBucketPairs]]).
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, binaryCol: String = "media",
                        maxHamming: Int = 3, hotBucketCap: Int = 64,
                        saturation: Option[Observation] = None): DataFrame = {
    val hashed = imageDHash(df, idCol, binaryCol)
      .select(col(idCol).as("doc_id"), col("dhash"))
    val bands = hammingCoverBands(hashed, "dhash", maxHamming)
    val cand = Dedup.cappedBucketPairs(bands, hotBucketCap, saturation)
    val ha = hashed.select(col("doc_id").as("id_a"), col("dhash").as("__ha"))
    val hb = hashed.select(col("doc_id").as("id_b"), col("dhash").as("__hb"))
    cand.join(ha, Seq("id_a")).join(hb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit audio difference-fingerprint — the audio twin of [[dhash64]]
    * (energy envelope instead of luma grid): interleaved 16-bit-reference
    * integer samples are mono-mixed by per-frame channel SUM (no division —
    * replayable), split into 65 equal time windows (window of frame i =
    * `i*65/n`, integer arithmetic), each window's energy = Σ (frame sum)²,
    * and bit b says `energy[b] < energy[b+1]`. Like dHash, comparing
    * ADJACENT windows makes the fingerprint invariant to uniform gain
    * (scaling every sample scales every energy by the same factor) and to
    * container/bit-depth re-encodes of the same signal, while reorderings
    * and different material flip bits. Everything is exact Long arithmetic
    * (worst case: |frame sum| ≤ 2¹⁵·ch, squared ≤ 2³⁰·ch², summed over a
    * window — 2⁵² at a million frames stereo), so the q_audio_dedup DuckDB
    * oracle replays the hash bit-for-bit from the fixture generator.
    * Returns 0 for an empty sample stream.
    */
  private[ops] def audioFingerprint64(samples: Array[Long], channels: Int): Long = {
    val n = samples.length / math.max(1, channels)
    if (n == 0) return 0L
    val energy = new Array[Long](65)
    var i = 0
    while (i < n) {
      var s = 0L
      var c = 0
      while (c < channels) { s += samples(i * channels + c); c += 1 }
      energy(((i.toLong * 65L) / n).toInt) += s * s
      i += 1
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      if (energy(b) < energy(b + 1)) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** Per-clip fingerprint rows: (id, sample_rate, n_frames, afp). Decode +
    * hash run inside the partition — only ~28 bytes per clip flow on (the
    * audio bytes never cross a shuffle); non-PCM/corrupt rows yield
    * nothing, like [[audioFrameFeatures]].
    */
  def audioFingerprintDF(df: DataFrame, idCol: String, binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, Seq(
        StructField("sample_rate", LongType),
        StructField("n_frames", LongType),
        StructField("afp", LongType))) { (id, bytes) =>
      scala.util.Try(PcmCodec.decodeInt16(bytes)).toOption.flatten.iterator.map { p =>
        Row(id, p.sampleRate.toLong, (p.samples.length / math.max(1, p.channels)).toLong,
          audioFingerprint64(p.samples, p.channels))
      }
    }

  /** Audio-level perceptual dedup: group by fingerprint — the audio twin of
    * [[imageDedup]], same posture (ONE exchange of ~24-byte hash rows and
    * ONE decode pass via window-function group stats, keeper = min id;
    * the hash rides as two non-negative 32-bit halves so integer replays
    * never touch the sign bit).
    */
  def audioDedup(df: DataFrame, idCol: String, binaryCol: String = "media"): DataFrame = {
    val hashed = audioFingerprintDF(df, idCol, binaryCol)
      .select(col(idCol), shiftrightunsigned(col("afp"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("afp_hi"),
        col("afp").bitwiseAND(lit(0xFFFFFFFFL)).as("afp_lo"))
    val w = Window.partitionBy("afp_hi", "afp_lo")
    hashed
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .select(col(idCol), col("afp_hi"), col("afp_lo"),
        col("n_dups"), col("canonical_id"))
  }

  /** Near-duplicate audio pairs by fingerprint Hamming distance:
    * `maxHamming + 1` bands block candidates ([[hammingCoverBands]] — an
    * exact cover at any radius), capped hot buckets, exact popcount
    * verify — the audio twin of [[imageNearDupPairs]].
    */
  def audioNearDupPairs(df: DataFrame, idCol: String, binaryCol: String = "media",
                        maxHamming: Int = 3, hotBucketCap: Int = 64,
                        saturation: Option[Observation] = None): DataFrame = {
    val hashed = audioFingerprintDF(df, idCol, binaryCol)
      .select(col(idCol).as("doc_id"), col("afp"))
    val bands = hammingCoverBands(hashed, "afp", maxHamming)
    val cand = Dedup.cappedBucketPairs(bands, hotBucketCap, saturation)
    val ha = hashed.select(col("doc_id").as("id_a"), col("afp").as("__ha"))
    val hb = hashed.select(col("doc_id").as("id_b"), col("afp").as("__hb"))
    cand.join(ha, Seq("id_a")).join(hb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Build a Bloom filter over a REFERENCE media corpus's perceptual
    * fingerprints — the media analog of
    * [[Dedup.buildFingerprintBloom]]: persist once per accepted dump,
    * probe every later ingest at scan speed. The filter keys are
    * `"kind:fingerprint"` strings so audio and image identities never
    * cross; undecodable assets (null fingerprint) contribute nothing.
    */
  def buildMediaFingerprintBloom(refMedia: DataFrame, kind: String,
                                 expectedItems: Long = 1L << 20, fpp: Double = 0.01,
                                 binaryCol: String = "media"): Array[Byte] = {
    val bf = withMediaFingerprint(refMedia, binaryCol, "__fp", kind)
      .filter(col("__fp").isNotNull)
      .select(concat_ws(":", lit(kind), col("__fp")).as("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Bloom-prefiltered EXACT cross-corpus media dedup: flag NEW assets
    * whose perceptual fingerprint (audio energy hash / image dHash)
    * already exists in a REFERENCE corpus — "drop media we already
    * accepted in a previous dump". Same two-layer shape as
    * [[Dedup.crossCorpusExactDedupBloom]]: per-row bloom probe at scan
    * speed, then an exact verification semi-join against the distinct
    * reference fingerprints, so only probe survivors (matches + fpp
    * share) ever shuffle and the output is exact. Decode runs once per
    * side, in-partition; media bytes never cross an exchange. Returns one
    * row per NEW asset: (idCol, fp_hi, fp_lo — null when undecodable,
    * dup — undecodable is never a dup, it has no identity).
    */
  def crossCorpusMediaDedup(newMedia: DataFrame, refMedia: DataFrame,
                            filterBytes: Array[Byte], kind: String,
                            idCol: String, binaryCol: String = "media"): DataFrame = {
    def keyed(df: DataFrame) = withMediaFingerprint(df, binaryCol, "__fp", kind)
      .select(col(idCol), col("__fp"),
        concat_ws(":", lit(kind), col("__fp")).as("__k"))
    val probed = keyed(newMedia)
      .withColumn("__cand", col("__fp").isNotNull &&
        graft.functions.textkernel.bloom_might_contain(col("__k"), filterBytes))
    val verified = probed.filter(col("__cand"))
      .join(keyed(refMedia).filter(col("__fp").isNotNull).select("__k").distinct(),
        Seq("__k"), "left_semi")
      .select(col(idCol), lit(true).as("__dup"))
    probed.select(col(idCol),
        shiftrightunsigned(col("__fp"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("fp_hi"),
        col("__fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
      .join(verified, Seq(idCol), "left")
      .select(col(idCol), col("fp_hi"), col("fp_lo"),
        coalesce(col("__dup"), lit(false)).as("dup"))
  }

  /** Append the 64-bit perceptual fingerprint as a COLUMN, preserving all
    * other columns — the row-preserving (and therefore streaming-friendly)
    * form of [[audioFingerprintDF]] / [[imageDHash]]: `kind = "audio"`
    * energy-fingerprints PCM WAV, `kind = "image"` dHashes decodable
    * images. Undecodable/corrupt/null rows get a null fingerprint (no
    * dedup identity); decode runs inside the partition, bytes never
    * shuffle.
    */
  def withMediaFingerprint(df: DataFrame, binaryCol: String = "media",
                           outCol: String = "media_fp",
                           kind: String = "audio"): DataFrame = {
    require(kind == "audio" || kind == "image", s"unknown media kind: $kind")
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = true))
    val binIdx = df.schema.fieldIndex(binaryCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val fp: Any =
          if (bytes == null) null
          else if (kind == "audio")
            scala.util.Try(PcmCodec.decodeInt16(bytes)).toOption.flatten
              .map(p => audioFingerprint64(p.samples, p.channels)).orNull
          else
            scala.util.Try(decodeImage(bytes)).toOption.flatten
              .map(dhash64).orNull
        Row.fromSeq(r.toSeq :+ fp)
      }
    }
  }

  /** 64-bit adjacent-window envelope hash over a non-negative energy
    * sequence — the [[audioFingerprint64]] comparison discipline one level
    * up (inputs are already energies, not samples): 65 equal windows over
    * the sequence (window of value i = i·65/n), each window's energy the
    * Long sum of its members, bit b = `energy[b] < energy[b+1]`. Exact
    * integer arithmetic end-to-end, so DuckDB oracles replay it. 0 for an
    * empty sequence.
    */
  private[ops] def envelopeHash64(values: Array[Long]): Long = {
    val n = values.length
    if (n == 0) return 0L
    val energy = new Array[Long](65)
    var i = 0
    while (i < n) {
      energy(((i.toLong * 65L) / n).toInt) += values(i)
      i += 1
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      if (energy(b) < energy(b + 1)) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** The output fields of the compressed-audio fingerprints, one row per
    * clip: sample rate, frame count, granule count and the
    * [[envelopeHash64]] of the granule energies.
    */
  private val granuleFpFields: Seq[StructField] = Seq(
    StructField("sample_rate", LongType),
    StructField("n_frames", LongType),
    StructField("n_granules", LongType),
    StructField("afp", LongType))

  private def granuleFpRow(id: Any, sampleRate: Int, nFrames: Int, nGranules: Int,
                           energies: Array[Long]): Row =
    Row(id, sampleRate.toLong, nFrames.toLong, nGranules.toLong, envelopeHash64(energies))

  /** Per-slice energies: Σ v² over every value of a slice, ×`scale`,
    * rounded to a Long — the subband slices of Layer I/II (all subbands ×
    * channels, ×50176) and the per-channel spectra of Layer III (×4096).
    */
  private def sliceEnergies(slices: Array[Array[Double]], scale: Double): Array[Long] =
    slices.map { g =>
      var e = 0.0
      var i = 0
      while (i < g.length) { e += g(i) * g(i); i += 1 }
      math.round(e * scale)
    }

  /** Per-channel subband slice energies ×50176, channel-minor
    * ((s0, ch0), (s0, ch1), (s1, ch0), …) over Layer I/II slices laid out
    * `slice(sb * channels + ch)`.
    */
  private def channelSliceEnergies(slices: Array[Array[Double]], channels: Int): Array[Long] = {
    val energies = new Array[Long](slices.length * channels)
    var g = 0
    while (g < slices.length) {
      val gr = slices(g)
      var c = 0
      while (c < channels) {
        var e = 0.0
        var sb = 0
        while (sb < 32) { val v = gr(sb * channels + c); e += v * v; sb += 1 }
        energies(g * channels + c) = math.round(e * 50176.0)
        c += 1
      }
      g += 1
    }
    energies
  }

  /** Per-granule Layer III spectral energies ×64, channels summed: Σ xr²,
    * or Σ (i+1)·xr(i)² when `positionWeighted`.
    */
  private def mp3GranuleEnergies(d: Mp3Codec.Mp3Data, positionWeighted: Boolean): Array[Long] = {
    val nG = d.spectra.length / d.channels
    Array.tabulate(nG) { g =>
      var e = 0.0
      var c = 0
      while (c < d.channels) {
        val xr = d.spectra(g * d.channels + c)
        var i = 0
        while (i < xr.length) {
          e += (if (positionWeighted) i + 1 else 1) * xr(i) * xr(i)
          i += 1
        }
        c += 1
      }
      math.round(e * 64.0)
    }
  }

  /** Compressed-audio perceptual fingerprint rows via the scoped MPEG-1
    * Layer-I subband decoder ([[Mp1Codec]]): per clip
    * (id, sample_rate, n_frames, n_granules, afp). Each granule's subband
    * energy Σ v² (over all subbands × channels — the energy of the 32 PCM
    * samples the granule would synthesize, filterbank near-orthonormality)
    * is scaled by 50176 (= 49·4096/4, chosen so the nb=3 / power-of-two-
    * scalefactor gate fixture lands on EXACT integers — see q_mp1_decode)
    * and rounded to a Long; the 64-bit envelope hash over the granule
    * energies is gain-invariant like the WAV path's. Decode runs inside
    * the partition (~32 bytes per clip cross the shuffle, bytes never do);
    * non-Layer-I/corrupt/null rows yield nothing, like
    * [[audioFingerprintDF]].
    */
  def mp1EnergyFingerprintDF(df: DataFrame, idCol: String,
                             binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, granuleFpFields) { (id, bytes) =>
      Mp1Codec.decode(bytes).iterator.map(d => granuleFpRow(id, d.sampleRate, d.nFrames,
        d.granules.length, sliceEnergies(d.granules, 50176.0)))
    }

  /** [[mp1EnergyFingerprintDF]]'s Layer-II twin via [[Mp2Codec]]: per clip
    * (id, sample_rate, n_frames, n_granules, afp) where a "granule" is one
    * of the 36 subband time slices per Layer-II frame. Same ×50176 energy
    * scaling (the 7-level / power-of-two-scalefactor gate fixture lands on
    * exact integers — see q_mp2_decode) and the same gain-invariant
    * envelope hash. Decode in-partition; non-Layer-II/corrupt/null rows
    * yield nothing.
    */
  def mp2EnergyFingerprintDF(df: DataFrame, idCol: String,
                             binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, granuleFpFields) { (id, bytes) =>
      Mp2Codec.decode(bytes).iterator.map(d => granuleFpRow(id, d.sampleRate, d.nFrames,
        d.granules.length, sliceEnergies(d.granules, 50176.0)))
    }

  /** The Layer-III member of the compressed-audio fingerprint family via
    * [[Mp3Codec]]: per clip (id, sample_rate, n_frames, n_granules, afp)
    * where a granule is one Layer-III granule (2 per frame) and its
    * energy is the SPECTRAL energy Σ xr² over the 576 dequantized lines,
    * summed across channels and scaled ×64 (the ±2^k gate fixture lands
    * on exact integers — see q_mp3_decode). Spectral rather than
    * post-IMDCT energy keeps the envelope exactly replayable — by
    * Parseval the two domains carry the same envelope information, and
    * the granule grain (~12 ms at 48 kHz) matches the envelope hash's
    * design grain. Same gain-invariant [[envelopeHash64]]; decode
    * in-partition; non-Layer-III/corrupt/null rows yield nothing.
    */
  def mp3SpectralFingerprintDF(df: DataFrame, idCol: String,
                               binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, granuleFpFields) { (id, bytes) =>
      Mp3Codec.decode(bytes).iterator.map(d => granuleFpRow(id, d.sampleRate, d.nFrames,
        d.spectra.length / d.channels, mp3GranuleEnergies(d, positionWeighted = false)))
    }

  /** [[mp3SpectralFingerprintDF]] with POSITION-WEIGHTED energies —
    * per granule Σ (i+1)·xr(i)² ×64 (channel-summed) instead of the
    * plain energy. Weighting by the spectral line index makes the
    * quantity ORDER-SENSITIVE where energy is not: the short-block
    * Huffman→filterbank reorder is a permutation, invisible to Σ xr²,
    * so only a weighted sum can pin that reordering (and the band/window
    * scalefactor + subblock-gain placement) actually ran — the gate
    * surface for q_mp3_short.
    */
  def mp3WeightedSpectralFingerprintDF(df: DataFrame, idCol: String,
                                       binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, granuleFpFields) { (id, bytes) =>
      Mp3Codec.decode(bytes).iterator.map(d => granuleFpRow(id, d.sampleRate, d.nFrames,
        d.spectra.length / d.channels, mp3GranuleEnergies(d, positionWeighted = true)))
    }

  /** [[mp3SpectralFingerprintDF]] with PER-CHANNEL energies — the gate
    * surface for stereo processing: channel-summed energy is invariant
    * under the MS rotation (it is a rotation), so only a per-channel
    * envelope can pin that L = (M+S)/√2 / R = (M−S)/√2 actually ran.
    * Energies interleave channel-minor ((g0, L), (g0, R), (g1, L), …)
    * and scale ×4096 (the MS fixture's (M±S)²/2 terms are exact in
    * units of 1/4096 — see q_mp3_ms_decode).
    */
  def mp3ChannelSpectralFingerprintDF(df: DataFrame, idCol: String,
                                      binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, granuleFpFields) { (id, bytes) =>
      Mp3Codec.decode(bytes).iterator.map(d => granuleFpRow(id, d.sampleRate, d.nFrames,
        d.spectra.length / d.channels, sliceEnergies(d.spectra, 4096.0)))
    }

  /** [[mp1EnergyFingerprintDF]] with PER-CHANNEL granule energies
    * (channel-minor interleave, same ×50176 scale) — the gate surface
    * for Layer-I JOINT stereo: the shared-sample intensity region
    * reconstructs each channel with its OWN scalefactor, and only a
    * per-channel envelope can pin that assignment (q_mp1_js_decode).
    */
  def mp1ChannelEnergyFingerprintDF(df: DataFrame, idCol: String,
                                    binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, granuleFpFields) { (id, bytes) =>
      Mp1Codec.decode(bytes).iterator.map(d => granuleFpRow(id, d.sampleRate, d.nFrames,
        d.granules.length, channelSliceEnergies(d.granules, d.channels)))
    }

  /** [[mp1ChannelEnergyFingerprintDF]]'s Layer-II twin via [[Mp2Codec]]
    * (per-channel slice energies ×50176) — q_mp2_js_decode's surface.
    */
  def mp2ChannelEnergyFingerprintDF(df: DataFrame, idCol: String,
                                    binaryCol: String = "media"): DataFrame =
    blobRows(df, idCol, binaryCol, granuleFpFields) { (id, bytes) =>
      Mp2Codec.decode(bytes).iterator.map(d => granuleFpRow(id, d.sampleRate, d.nFrames,
        d.granules.length, channelSliceEnergies(d.granules, d.channels)))
    }

  /** Tag-routed perceptual fingerprint — [[withMediaFingerprint]] for a
    * MIXED fetched-media table (what a media-fetch pipeline actually
    * lands): one pass, per-row dispatch on `tagCol` — `img`/`image` rows
    * dHash through the image decode path, `audio` rows energy-fingerprint
    * through the PCM path, `mp1` rows through the Layer-I subband decoder
    * ([[mp1EnergyFingerprintDF]]'s kernel — subband-domain envelope, a
    * DIFFERENT fingerprint domain than PCM, which is fine because the tag
    * rides in every downstream dedup group key), every other tag
    * (compressed codecs with no sample-decode path here) and every
    * undecodable row gets a null fingerprint. Decode runs inside the
    * partition; the bytes never cross an exchange.
    */
  def withMediaFingerprintByTag(df: DataFrame, tagCol: String = "tag",
                                binaryCol: String = "media",
                                outCol: String = "media_fp"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = true))
    val binIdx = df.schema.fieldIndex(binaryCol)
    val tagIdx = df.schema.fieldIndex(tagCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val tag = r.getAs[String](tagIdx)
        val fp: Any =
          if (bytes == null || tag == null) null
          else tag match {
            case "img" | "image" =>
              scala.util.Try(decodeImage(bytes)).toOption.flatten.map(dhash64).orNull
            case "audio" =>
              scala.util.Try(PcmCodec.decodeInt16(bytes)).toOption.flatten
                .map(p => audioFingerprint64(p.samples, p.channels)).orNull
            case "mp1" =>
              Mp1Codec.decode(bytes)
                .map(d => envelopeHash64(sliceEnergies(d.granules, 50176.0))).orNull
            case "mp2" =>
              Mp2Codec.decode(bytes)
                .map(d => envelopeHash64(sliceEnergies(d.granules, 50176.0))).orNull
            case "mp3" =>
              Mp3Codec.decode(bytes)
                .map(d => envelopeHash64(mp3GranuleEnergies(d, positionWeighted = false))).orNull
            case "video" | "avi" | "anim" =>
              // video identity = the ordered frame dHash sequence folded
              // into one long (order-sensitive: a re-cut is not a dup);
              // AVI frames or animated-GIF composited canvases alike
              videoFrames(bytes).map { frames =>
                frames.foldLeft(1125899906842597L) { (h, img) =>
                  h * 31L ^ dhash64(img)
                }
              }.orNull
            case _ => null
          }
        Row.fromSeq(r.toSeq :+ fp)
      }
    }
  }

  /** End-to-end media perceptual dedup over a fetched-media table — the
    * composition [[graft.ops.Html.extractMediaRefs]] feeds: fingerprint by
    * tag ([[withMediaFingerprintByTag]] — decode in-partition), drop rows
    * with no fingerprint (non-decodable kinds carry no dedup identity),
    * then group per (tag, fingerprint) — keeper = min id, the engine-wide
    * first-wins convention. Group stats are WINDOW functions over
    * (tag, fp), so the fetched table is scanned — and the decode run —
    * exactly ONCE; the one exchange carries (id, tag, two non-negative
    * 32-bit fingerprint halves) — ~30 bytes per asset; the media bytes
    * are projected away BEFORE the shuffle (PlanSpec-pinned).
    * Output: (idCol, tag, fp_hi, fp_lo, n_dups, canonical_id).
    */
  def mediaDedup(fetched: DataFrame, idCol: String, tagCol: String = "tag",
                 binaryCol: String = "media"): DataFrame = {
    val hashed = withMediaFingerprintByTag(fetched, tagCol, binaryCol)
      .filter(col("media_fp").isNotNull)
      .select(col(idCol), col(tagCol),
        shiftrightunsigned(col("media_fp"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("fp_hi"),
        col("media_fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
    val w = Window.partitionBy(tagCol, "fp_hi", "fp_lo")
    hashed
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .select(col(idCol), col(tagCol), col("fp_hi"), col("fp_lo"),
        col("n_dups"), col("canonical_id"))
  }

  /** Column-only metadata over binary media (no decode): byte size + digest.
    * Fully codegen'd, SQL-expressible — this is what a catalog scan over
    * 100 TB of media would run (no bytes ever decoded).
    */
  def mediaStats(df: DataFrame, idCol: String, binaryCol: String = "media"): DataFrame =
    df.select(col(idCol),
      length(col(binaryCol)).cast("long").as("n_bytes"),
      md5(col(binaryCol)).as("digest"),
      (lit(16) + length(col(binaryCol)) % 640).cast("int").as("fake_width"),
      (lit(16) + (length(col(binaryCol)) / lit(640)).cast("long") % 480).cast("int").as("fake_height"))
}
