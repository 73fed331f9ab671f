package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{ParquetIndexStore, SearchMode, VectorIndex}
import graft.core.{IndexConfig, EmbeddingField, Metric}
import graft.embed.HashEmbeddingBackend
import graft.functions.textfn._
import graft.functions.vector._
import graft.ops.{BinaryQuantization, Dedup, Events, FullText, Multimodal, ProductQuantization, Sampling, ScalarQuantization, SimilaritySearch, Skew, TextAnalysis}
import graft.pipeline.IndexBuild
import graft.query.Retrieval

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 inventory + the LLM-data-pipeline extensions), each with a
  * DuckDB-oracle SQL twin where the semantics are SQL-expressible.
  *
  * Cross-engine determinism rules used throughout:
  *  - hashes are md5-derived (identical everywhere);
  *  - double sums go through DECIMAL casts (order-independent, exact);
  *  - similarity scores are computed in double, ROUNDED to 6 dp, and every
  *    ordering is by the rounded value with an id tie-break;
  *  - timestamps are compared as epoch seconds (parquet ns vs µs truncation).
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** documents.parquet is a single row-group at these scale factors, so a
    * bare scan gives ONE task; the text/dedup kernels are CPU-bound per row,
    * so spread rows across cores first (a cheap round-robin shuffle of the
    * id+text columns). At real scale the same holds whenever upstream
    * produced few/large files before a compute-heavy stage.
    */
  private def docsPar(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** events.parquet stores TIMESTAMP(NANOS) which Spark reads as a nano-epoch
    * long under `spark.sql.legacy.parquet.nanosAsLong`; normalize to a true
    * timestamp. Integer `div` — a double-promoting `/` would round-trip
    * current-era nano epochs (~1.7e18 > 2^53) through double's 53-bit
    * mantissa and could land ±1 µs off at window boundaries.
    */
  private def eventsTbl(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "events")
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => e
    }
  }

  /** The local session the gate harnesses run in: `local[cpus]`, one
    * shuffle partition per core, no UI, UTC, and events.parquet's
    * TIMESTAMP(NANOS) read as a long for [[eventsTbl]] to normalize.
    */
  private[graft] def localSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** PQ layout for the 64-dim fixture embeddings: 8 subspaces × 8 dims,
    * 16 codewords each — codes are 8 small ints where the vector was 64
    * floats (32× smaller through scan and shuffle).
    */
  private val PqCfg = ProductQuantization.PqConfig(dims = 64, m = 8, ksub = 16)

  /** Deterministic grey PNG for q_png_decode: dimensions and pixel values
    * are pure functions of the doc id, and the scanline filter cycles
    * through all five types — the DuckDB oracle (which cannot decode PNG)
    * replays the generator formula, so matching aggregates prove the real
    * decode inverted the real encode.
    */
  private[graft] def synthPng(id: Long): Array[Byte] = {
    val w = (4 + id % 13).toInt
    val h = (3 + id % 7).toInt
    val px = Array.tabulate(w * h)(i => ((id * 31 + i) % 256).toByte)
    ops.PngCodec.encode(w, h, 1, px, r => ((id + r) % 5).toInt)
  }

  /** Deterministic GIF for q_gif_decode: a 256-level GRAYSCALE palette
    * (palette index == gray value, so LZW round-trips the formula exactly)
    * with the same id-driven pixel formula as [[synthPng]]. Dimensions stay
    * even and ≥ 8 — the JDK GIF writer corrupts rows of small odd-sized
    * frames (see PngPropertySpec) — and the ImageIO decode path expands the
    * palette to 3-channel RGB with r=g=b=v, so the oracle replays the
    * formula with a 3× sample multiplier.
    */
  private[graft] def synthGif(id: Long): Array[Byte] = {
    val w = (8 + 2 * (id % 8)).toInt
    val h = (8 + 2 * (id % 4)).toInt
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((id * 31 + (y * w + x)) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "gif", out), "JDK GIF writer unavailable")
    out.toByteArray
  }

  /** Deterministic ANIMATED grayscale GIF for q_gif_frames, written by the
    * JDK's own sequence writer (real multi-frame LZW — an independent
    * encoder, like synthGif): 2 + id%3 full-canvas frames of
    * (8 + 2·(id%5)) × (6 + 2·(id%3)) pixels, frame f pixel i =
    * (id·31 + f·97 + i) mod 256, disposal none, no transparency — so the
    * composited canvas IS each frame and the oracle replays the formula
    * per (frame, pixel). Delay = 4 + id%7 cs on every frame (pins GCE
    * parse).
    */
  private[graft] def synthAnimGif(id: Long): Array[Byte] = {
    val w = (8 + 2 * (id % 5)).toInt
    val h = (6 + 2 * (id % 3)).toInt
    val nFrames = (2 + id % 3).toInt
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until nFrames).foreach { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.getRaster.setSample(x, y, 0, ((id * 31 + f * 97 + (y * w + x)) % 256).toInt)
          x += 1
        }
        y += 1
      }
      val param = writer.getDefaultWriteParam
      val meta = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), param)
      val fmt = meta.getNativeMetadataFormatName // javax_imageio_gif_image_1.0
      val root = meta.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val gce = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", (4 + id % 7).toString)
      gce.setAttribute("transparentColorIndex", "0")
      root.appendChild(gce)
      meta.setFromTree(fmt, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), param)
    }
    writer.endWriteSequence()
    writer.dispose(); ios.close()
    bos.toByteArray
  }

  /** Little-endian fields of the RIFF and BMP fixture containers. */
  private def le32(v: Long): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
  private def le16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  /** Deterministic BMP for q_bmp_decode, cycling the three uncompressed
    * layouts by id%3 — 24bpp bottom-up, 32bpp TOP-DOWN (negative height),
    * 8bpp palettized (grayscale BGRA quads) — over the same gray formula
    * v = (id·31 + i·7) mod 256: one oracle formula, three container
    * layouts, so a hash match proves stride padding, row order handling
    * and palette expansion ([[ops.BmpCodec]]).
    */
  private[graft] def synthBmp(id: Long): Array[Byte] = {
    val w = (4 + id % 9).toInt
    val h = (3 + id % 5).toInt
    val mode = (id % 3).toInt
    val (bypp, bitCount) = mode match { case 0 => (3, 24); case 1 => (4, 32); case _ => (1, 8) }
    val stride = ((w * bypp + 3) / 4) * 4
    val palette = if (mode == 2)
      (0 until 256).flatMap(g => Seq(g.toByte, g.toByte, g.toByte, 0.toByte)).toArray
    else Array.emptyByteArray
    val pxOffset = 14 + 40 + palette.length
    val topDown = mode == 1
    val px = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val row = (if (topDown) y else h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val v = ((id * 31 + (y * w + x) * 7) % 256).toByte
        mode match {
          case 2 => px(row + x) = v
          case _ =>
            px(row + x * bypp) = v; px(row + x * bypp + 1) = v; px(row + x * bypp + 2) = v
        }
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write('B'); out.write('M')
    out.write(le32(pxOffset + px.length)); out.write(le32(0)); out.write(le32(pxOffset))
    out.write(le32(40)); out.write(le32(w))
    out.write(le32(if (topDown) (-h).toLong & 0xFFFFFFFFL else h))
    out.write(le16(1)); out.write(le16(bitCount))
    out.write(le32(0)); out.write(le32(px.length))
    out.write(le32(2835)); out.write(le32(2835))
    out.write(le32(if (mode == 2) 256 else 0)); out.write(le32(0))
    out.write(palette); out.write(px)
    out.toByteArray
  }

  /** Deterministic MPEG-1 Layer III frame chain for q_mp3_meta (128 kbps,
    * 44.1 kHz → 417-byte frames) behind an ID3v2 tag: frame count, channel
    * mode, and tag padding are pure functions of the doc id, so the oracle
    * predicts the PARSED metadata and a match proves the real frame-chain
    * walk (sync + header decode + frame-length arithmetic).
    */
  private[graft] def synthMp3(id: Long): Array[Byte] = {
    val frames = (1 + id % 9).toInt
    val mono = id % 2 == 1
    val pad = (id % 40).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write("ID3".getBytes("US-ASCII")); out.write(Array[Byte](3, 0, 0))
    out.write(Array[Byte](((pad >> 21) & 0x7F).toByte, ((pad >> 14) & 0x7F).toByte,
      ((pad >> 7) & 0x7F).toByte, (pad & 0x7F).toByte))
    out.write(new Array[Byte](pad))
    val frameLen = 144 * 128000 / 44100 // 417
    (0 until frames).foreach { _ =>
      out.write(Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte,
        if (mono) 0xC0.toByte else 0x00.toByte))
      out.write(new Array[Byte](frameLen - 4))
    }
    out.toByteArray
  }

  /** Deterministic minimal ISO-BMFF tree for q_mp4_meta: ftyp + moov with
    * mvhd (id-derived timescale) and one or two trak/tkhd boxes (id-derived
    * 16.16 fixed-point dimensions) — the oracle predicts the parsed box
    * fields, proving the real recursive box walk.
    */
  private[graft] def synthMp4(id: Long): Array[Byte] = {
    val w = (160 + 16 * (id % 20)).toInt
    val h = (90 + 9 * (id % 15)).toInt
    val timescale = (1000 * (1 + id % 5)).toInt
    val be32 = (v: Int) => Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(8 + body.length) ++ typ.getBytes("US-ASCII") ++ body
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++
      be32(9000) ++ new Array[Byte](80))
    def tkhd(tw: Int, th: Int) = box("tkhd",
      new Array[Byte](76) ++ be32(tw << 16) ++ be32(th << 16))
    val traks = box("trak", tkhd(w, h)) ++
      (if (id % 3 == 0) box("trak", tkhd(0, 0)) else Array.emptyByteArray)
    box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0)) ++ box("moov", mvhd ++ traks)
  }

  /** Deterministic HTML wrapper for q_html_extract: one shared piece list
    * drives BOTH the Spark generator column and the DuckDB `||` twin, so the
    * fixture is a pure function of (doc_id, text) by construction. The
    * markup exercises every extraction pass: script with a RAW `<` inside
    * (generic tag strip would mangle it — script strip must run first),
    * style, a comment, block tags, attributes, entities including the
    * escaped-escape `&amp;lt;` (pins amp-LAST decode order: one level only).
    */
  private sealed trait HtmlPiece
  private case class HLit(s: String) extends HtmlPiece
  private case class HCol(name: String) extends HtmlPiece
  private case object HNl extends HtmlPiece
  private val HtmlGenPieces: Seq[HtmlPiece] = Seq(
    HLit("<html><head><title> Doc &amp; "), HCol("doc_id"),
    HLit(" </title><style>p{x:1}</style></head><body>"), HNl,
    HLit("<script>if(1<2){alert(\"x\")}</script><h1 class=\"t\">Doc "),
    HCol("doc_id"), HLit("</h1>"), HNl,
    HLit("<p>"), HCol("text"),
    HLit("</p> <div>see <a href=\"http://e.x/"), HCol("doc_id"),
    HLit("\">link</a> &lt;raw&gt; &amp;lt; &nbsp;&quot;q&#39; </div><!-- note "),
    HCol("doc_id"), HLit(" --></body></html>"))
  private[graft] def synthHtmlCol: Column = concat(HtmlGenPieces.map {
    case HLit(s) => lit(s)
    case HCol(n) => col(n).cast("string")
    case HNl => lit("\n")
  }: _*)
  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"
  private def synthHtmlSql: String = HtmlGenPieces.map {
    case HLit(s) => sqlStr(s)
    case HCol(n) => s"CAST($n AS VARCHAR)"
    case HNl => "chr(10)"
  }.mkString(" || ")
  /** DuckDB replacement-arg twin (regex replacements never contain `$`/`\`
    * here, so literal splicing is exact in both engines).
    */
  private def sqlRepl(r: String): String = if (r == "\n") "chr(10)" else sqlStr(r)
  /** DuckDB CTE chain replaying [[ops.Html.extractColumn]] pass-for-pass
    * over column `t` of CTE `h`; yields the name of the final CTE exposing
    * (doc_id, t).
    */
  private def htmlExtractSqlCtes: (Seq[String], String) = {
    val strip = ops.Html.StripPasses.zipWithIndex.map { case ((p, r), i) =>
      val src = if (i == 0) "h" else s"st${i - 1}"
      s"st$i AS (SELECT doc_id, regexp_replace(t, ${sqlStr(p)}, ${sqlRepl(r)}, 'g') AS t FROM $src)"
    }
    val entExpr = ops.Html.EntityPasses.foldLeft("t") { case (e, (f, to)) =>
      s"replace($e, ${sqlStr(f)}, ${sqlRepl(to)})"
    }
    val ent = s"ent AS (SELECT doc_id, $entExpr AS t FROM st${ops.Html.StripPasses.size - 1})"
    val space = ops.Html.SpacePasses.zipWithIndex.map { case ((p, r), i) =>
      val src = if (i == 0) "ent" else s"sp${i - 1}"
      s"sp$i AS (SELECT doc_id, regexp_replace(t, ${sqlStr(p)}, ${sqlRepl(r)}, 'g') AS t FROM $src)"
    }
    (strip ++ Seq(ent) ++ space, s"sp${ops.Html.SpacePasses.size - 1}")
  }
  /** DuckDB twin of [[ops.Html.titleColumn]] over raw-html column ref `c`. */
  private def htmlTitleSql(c: String): String = {
    val raw = s"regexp_extract($c, ${sqlStr("(?is)<title\\b[^>]*>(.*?)</title>")}, 1)"
    val dec = ops.Html.EntityPasses.foldLeft(raw) { case (e, (f, to)) =>
      s"replace($e, ${sqlStr(f)}, ${sqlRepl(to)})"
    }
    s"trim(regexp_replace($dec, ${sqlStr("[ \\t\\r\\n]+")}, ' ', 'g'))"
  }

  /** Scala twin of [[synthHtmlCol]] for fixtures that need the html STRING
    * per row (the WARC gate builds record bytes around it) — same shared
    * piece list, so all three forms (Column, SQL, String) are one definition.
    */
  private[graft] def synthHtmlString(id: Long, text: String): String =
    HtmlGenPieces.map {
      case HLit(s) => s
      case HCol("doc_id") => id.toString
      case HCol(_) => text
      case HNl => "\n"
    }.mkString

  /** One 16-bit mono PCM WAV per id-key for q_audio_dedup: a sawtooth-ish
    * integer waveform `s(i) = ((i·k) mod 65536) − 32768` with id-derived
    * step `k = 17 + 3·(id%25)` and length `n = 400 + (id%25)·40` frames at
    * 8 kHz — every sample, window boundary and energy is exact integer
    * arithmetic, so the oracle recomputes the 64-bit audio fingerprint
    * ([[ops.Multimodal.audioFingerprint64]]) from this formula alone and a
    * hash match proves RIFF parse + sample decode + the whole fingerprint
    * pipeline. n ≥ 400 ≥ 65 keeps every energy window non-empty.
    */
  private[graft] def synthWav(id: Long): Array[Byte] = {
    val k = 17 + 3 * (id % 25)
    val n = (400 + (id % 25) * 40).toInt
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = ((i * k) % 65536 - 32768).toInt
      data(2 * i) = (s & 0xFF).toByte
      data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++ "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
  }

  /** MSB-first bit writer shared by the MPEG audio/video and JPEG fixture
    * synthesizers. With `stuffFf`, every 0xFF byte the bits complete is
    * followed by a 0x00 (JPEG entropy-coded segments). Raw bytes go
    * straight to `out` and must land on a byte boundary.
    */
  private final class BitWriter(stuffFf: Boolean) {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nAcc = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1)
        nAcc += 1
        if (nAcc == 8) {
          out.write(acc)
          if (stuffFf && acc == 0xFF) out.write(0)
          acc = 0; nAcc = 0
        }
        i -= 1
      }
    }
    /** Completes a partial byte with the low bits of `fill` (0 or 0xFF). */
    def align(fill: Int): Unit = if (nAcc > 0) put(fill, 8 - nAcc)
    def bitCount: Int = out.size * 8 + nAcc
  }

  /** Fixed-length MPEG audio frames: frame f is the 32-bit `header`, then
    * the bits `body(f, w)` writes, zero-padded to `frameLen` bytes.
    */
  private def mpegAudioFrames(nFrames: Int, frameLen: Int, header: Int)(
      body: (Int, BitWriter) => Unit): Array[Byte] = {
    val w = new BitWriter(false)
    var f = 0
    while (f < nFrames) {
      w.put(header, 32)
      body(f, w)
      w.align(0)
      val pad = (f + 1) * frameLen - w.out.size
      require(pad >= 0, s"MPEG audio frame $f overflows $frameLen bytes")
      w.out.write(new Array[Byte](pad))
      f += 1
    }
    w.out.toByteArray
  }

  /** Big-values Huffman corners: (x, y) magnitudes in {0, 1} → (len, code). */
  private type Mp3Corners = Map[(Int, Int), (Int, Int)]
  /** Table 1 of ISO 11172-3 B.7 — the Layer-III fixtures' default. */
  private val Mp3T1: Mp3Corners =
    Map((0, 0) -> (1, 1), (0, 1) -> (3, 1), (1, 0) -> (2, 1), (1, 1) -> (3, 0))
  /** count1 table A: quad value → (len, code). */
  private val Mp3C1A = Map(0 -> (1, 0x1), 1 -> (4, 0x5), 2 -> (4, 0x4), 3 -> (5, 0x5),
    4 -> (4, 0x6), 5 -> (6, 0x5), 6 -> (5, 0x4), 7 -> (6, 0x4),
    8 -> (4, 0x7), 9 -> (5, 0x3), 10 -> (5, 0x6), 11 -> (6, 0x0),
    12 -> (5, 0x7), 13 -> (6, 0x2), 14 -> (6, 0x3), 15 -> (6, 0x1))

  /** Frame `f` of a Layer-III fixture being written to `w`. Line
    * magnitudes |is(l)| = (id·7 + f·11 + g·13 + c·17 + l·3) % 2 and signs
    * (id + f + g + c + l) % 2 per granule g and channel c, long-block
    * scalefactors (id + 3f + 5g + 7c + b) % 4 and global_gain
    * 210 + 4·((id + f + g + 2c) % 4) are what the oracles replay.
    */
  private final class Mp3Frame(id: Long, val f: Int, val w: BitWriter) {
    def mag(g: Int, c: Int, l: Int): Int = ((id * 7 + f * 11 + g * 13 + c * 17 + l * 3) % 2).toInt
    def sgn(g: Int, c: Int, l: Int): Int = ((id + f + g + c + l) % 2).toInt
    def scf(g: Int, c: Int, b: Int): Int = ((id + 3 * f + 5 * g + 7 * c + b) % 4).toInt
    def gain(g: Int, c: Int): Int = 210 + 4 * ((id + f + g + 2 * c) % 4).toInt

    /** Huffman data of (g, c): big-values pairs over lines [0, bigEnd) —
      * the code from `table(l)`, then a sign bit per nonzero line — then
      * count1 quads over [bigEnd, quadEnd) through table A (`c1a`) or B
      * (4-bit complement codes). `m` gives the line magnitudes.
      */
    def huff(g: Int, c: Int, m: Int => Int, bigEnd: Int, quadEnd: Int,
             table: Int => Mp3Corners, c1a: Boolean): Unit = {
      var l = 0
      while (l < bigEnd) {
        val (x, y) = (m(l), m(l + 1))
        val (len, code) = table(l)((x, y))
        w.put(code, len)
        if (x != 0) w.put(sgn(g, c, l), 1)
        if (y != 0) w.put(sgn(g, c, l + 1), 1)
        l += 2
      }
      while (l < quadEnd) {
        val v = (m(l) << 3) | (m(l + 1) << 2) | (m(l + 2) << 1) | m(l + 3)
        if (c1a) { val (len, code) = Mp3C1A(v); w.put(code, len) }
        else w.put(v ^ 0xF, 4)
        var k = 0
        while (k < 4) { if (m(l + k) != 0) w.put(sgn(g, c, l + k), 1); k += 1 }
        l += 4
      }
    }

    /** Main data of a plain long granule: 21 two-bit scalefactors, table-1
      * pairs over lines 0–23 (sfbs 0–5), count1-B quads over 24–39.
      */
    def plainMain(g: Int, c: Int): Unit = {
      (0 until 21).foreach(b => w.put(scf(g, c, b), 2))
      huff(g, c, mag(g, c, _), 24, 40, _ => Mp3T1, c1a = false)
    }

    /** Side info of one long granule: `tables` select per region, region0
      * ends at line 24 (6 sfbs), `region1` counts the next bands;
      * slen 2/2, no preflag, scalefac_scale 1.
      */
    def longSide(g: Int, c: Int, part23: Int, bigValues: Int, tables: Seq[Int],
                 region1: Int, count1B: Int): Unit = {
      w.put(part23, 12); w.put(bigValues, 9); w.put(gain(g, c), 8)
      w.put(9, 4)                      // scalefac_compress → slen 2/2
      w.put(0, 1)                      // window_switching = 0 (long)
      tables.foreach(w.put(_, 5))      // table_select
      w.put(5, 4); w.put(region1, 3)   // region0_count, region1_count
      w.put(0, 1); w.put(1, 1)         // preflag, scalefac_scale = 1
      w.put(count1B, 1)                // count1table_select
    }

    /** [[longSide]] of [[plainMain]]'s granule: 12 pairs, table 1, count1 B. */
    def plainSide(g: Int, c: Int, part23: Int): Unit =
      longSide(g, c, part23, 12, Seq(1, 0, 0), 3, 1)

    /** Side info of one window-switched SHORT granule (block_type 2, not
      * mixed, tables 1/0) with subblock_gain[w] = (id + f + g + c + w) % 2.
      */
    def shortSide(g: Int, c: Int, part23: Int, bigValues: Int, sfCompress: Int): Unit = {
      w.put(part23, 12); w.put(bigValues, 9); w.put(gain(g, c), 8)
      w.put(sfCompress, 4)
      w.put(1, 1)                      // window_switching
      w.put(2, 2); w.put(0, 1)         // block_type 2, not mixed
      w.put(1, 5); w.put(0, 5)         // table_select: 1, 0
      (0 until 3).foreach(k => w.put(((id + f + g + c + k) % 2).toInt, 3))
      w.put(0, 1); w.put(1, 1); w.put(1, 1) // preflag, scalefac_scale, count1 B
    }
  }

  /** Layer-III frame writer of the six MP3 fixtures: 6 + id%3 frames at
    * 48 kHz / 192 kbps (576 bytes, no CRC, no padding) with header mode byte
    * `mode`. Each frame's side info is main_data_begin = 0, the private and
    * scfsi bits, then `side` per (granule, channel) given its
    * part2_3_length; the main data follows as `main` per (granule,
    * channel): its scalefactors and Huffman data.
    */
  private def synthMp3Frames(id: Long, mode: Int, channels: Int)(
      side: (Mp3Frame, Int, Int, Int) => Unit)(main: (Mp3Frame, Int, Int) => Unit): Array[Byte] =
    mpegAudioFrames((6 + id % 3).toInt, 576, 0xFFFBB400 | mode) { (f, w) =>
      // part2_3_length = the bits `main` writes for (g, c), counted aside
      def part23(g: Int, c: Int): Int = {
        val aside = new Mp3Frame(id, f, new BitWriter(false))
        main(aside, g, c)
        aside.w.bitCount
      }
      val fr = new Mp3Frame(id, f, w)
      w.put(0, 9)                              // main_data_begin
      w.put(0, if (channels == 1) 5 else 3)    // private bits
      w.put(0, 4 * channels)                   // scfsi
      for (g <- 0 until 2; c <- 0 until channels) side(fr, g, c, part23(g, c))
      for (g <- 0 until 2; c <- 0 until channels) main(fr, g, c)
    }

  /** One mono MPEG-1 LAYER-I clip per id for q_mp1_decode: 6 + id%3 frames
    * at 32 kHz / 448 kbps (frame = 672 bytes), subbands 0 and 1 allocated
    * at nb = 3 (allocation code 2) with scalefactor indices 0 (sf = 2) and
    * 3 (sf = 1) — POWER-OF-TWO scalefactors and a single nb, so every
    * dequantized sample is (code−3)·2·sf/7 and every granule energy times
    * 50176 is the exact integer ((c0−3)²·4 + (c1−3)²)·4096 the DuckDB
    * oracle recomputes. Sample codes c = (id·5 + f·7 + g·3 (+1 for sb1))
    * mod 8. A hash match proves header walk, bit-exact payload parse,
    * requantization and the envelope hash ([[ops.Mp1Codec]]).
    */
  private[graft] def synthMp1(id: Long): Array[Byte] =
    // sync, layer I, no CRC; 448 kbps, 32 kHz, no pad; mode 11 = mono
    mpegAudioFrames((6 + id % 3).toInt, 672, 0xFFFFE8C0) { (f, w) =>
      import w.put
      put(2, 4); put(2, 4)                       // alloc sb0 = sb1 = 2 → nb 3
      var sb = 2; while (sb < 32) { put(0, 4); sb += 1 }
      put(0, 6); put(3, 6)                       // scf idx 0 (sf 2), idx 3 (sf 1)
      var g = 0
      while (g < 12) {
        put(((id * 5 + f * 7 + g * 3) % 8).toInt, 3)
        put(((id * 5 + f * 7 + g * 3 + 1) % 8).toInt, 3)
        g += 1
      }
    }

  /** [[synthMp1]]'s JOINT-STEREO twin for q_mp1_js_decode: mode 01 with
    * mode_extension 0 → intensity bound = subband 4. Subband 0 (below
    * the bound) carries per-channel allocations and codes; subband 4
    * carries ONE shared allocation + ONE code per granule, reconstructed
    * with per-channel scalefactors (sf 1 vs 0.5). All power-of-two sfs ⇒
    * per-channel granule energies ×50176 stay exact integers; the
    * per-CHANNEL envelope pins the intensity sf assignment (a summed
    * envelope could not).
    */
  private[graft] def synthMp1Js(id: Long): Array[Byte] =
    // 448k, 32k, no pad; mode 01 (joint), mode_extension 00 → bound 4
    mpegAudioFrames((6 + id % 3).toInt, 672, 0xFFFFE840) { (f, w) =>
      import w.put
      // allocation: sb0 per channel (2, 2); sb1–3 per channel zeros;
      // sb4 SHARED (one 4-bit field); sb5–31 shared zeros
      put(2, 4); put(2, 4)
      var sb = 1
      while (sb < 4) { put(0, 4); put(0, 4); sb += 1 }
      put(2, 4)
      sb = 5
      while (sb < 32) { put(0, 4); sb += 1 }
      // scalefactors: per channel wherever allocated (incl. the shared sb)
      put(0, 6); put(3, 6) // sb0: ch0 sf 2, ch1 sf 1
      put(3, 6); put(6, 6) // sb4: ch0 sf 1, ch1 sf 0.5
      var g = 0
      while (g < 12) {
        put(((id * 5 + f * 7 + g * 3) % 8).toInt, 3)     // sb0 ch0
        put(((id * 5 + f * 7 + g * 3 + 1) % 8).toInt, 3) // sb0 ch1
        put(((id * 5 + f * 7 + g * 3 + 2) % 8).toInt, 3) // sb4 SHARED
        g += 1
      }
    }

  /** [[synthMp2]]'s JOINT-STEREO twin for q_mp2_js_decode: mode 01 /
    * mode_extension 0 (bound = 4) at 384 kbps stereo (same B.2b table).
    * Subband 0: per-channel 7-level allocations with scfsi 0 / 2
    * (sf 2,1,0.5 by third vs flat 1); subband 4: ONE shared allocation
    * (code 3 → the same 7-level class via row B) + ONE sample stream,
    * per-channel scalefactors with scfsi 2 / 0 (flat 0.5 vs 2,1,0.5).
    * Exact per-channel slice energies ×50176 as in q_mp2_decode.
    */
  private[graft] def synthMp2Js(id: Long): Array[Byte] =
    // 384k, 32k, no pad; mode 01 (joint), mode_extension 00 → bound 4
    mpegAudioFrames((6 + id % 3).toInt, 1728, 0xFFFDE840) { (f, w) =>
      import w.put
      // allocation (B.2b stereo, 30 subbands): sb0 per channel code 2
      // (row A → 7-level ungrouped); sb1–3 per channel zeros; sb4 SHARED
      // code 3 (row B → the same class); sb5–10 shared zeros (nbal 4),
      // sb11–22 (nbal 3), sb23–29 (nbal 2)
      put(2, 4); put(2, 4)
      var sb = 1
      while (sb < 4) { put(0, 4); put(0, 4); sb += 1 }
      put(3, 4)
      sb = 5
      while (sb < 11) { put(0, 4); sb += 1 }
      while (sb < 23) { put(0, 3); sb += 1 }
      while (sb < 30) { put(0, 2); sb += 1 }
      // scfsi per channel where allocated: sb0 (0, 2), sb4 (2, 0)
      put(0, 2); put(2, 2)
      put(2, 2); put(0, 2)
      // scalefactors: sb0 ch0 thirds (2, 1, 0.5); sb0 ch1 flat 1;
      // sb4 ch0 flat 0.5; sb4 ch1 thirds (2, 1, 0.5)
      put(0, 6); put(3, 6); put(6, 6)
      put(3, 6)
      put(6, 6)
      put(0, 6); put(3, 6); put(6, 6)
      var g = 0
      while (g < 12) {
        var s = 0
        while (s < 3) { put(((id * 5 + f * 7 + g * 3 + s) % 7).toInt, 3); s += 1 } // sb0 ch0
        s = 0
        while (s < 3) { put(((id * 5 + f * 7 + g * 3 + s + 1) % 7).toInt, 3); s += 1 } // sb0 ch1
        s = 0
        while (s < 3) { put(((id * 5 + f * 7 + g * 3 + s + 2) % 7).toInt, 3); s += 1 } // sb4 SHARED
        g += 1
      }
    }

  /** One mono MPEG-1 LAYER-II clip per id for q_mp2_decode: 6 + id%3
    * frames at 32 kHz / 384 kbps (table B.2b, 30 subbands; frame = 1728
    * bytes), subbands 0 and 1 allocated at code 2 → the 7-level UNGROUPED
    * class (3-bit codes, like the Layer-I gate). Scalefactor selection
    * exercises scfsi: sb0 scfsi=0 with indices (0, 3, 6) → sf 2/1/0.5 per
    * frame third; sb1 scfsi=2 with index 3 → sf 1 throughout. All
    * power-of-two sfs and v = (2c−6)/7·sf, so each slice energy × 50176
    * is the exact integer 1024·((2c0−6)²·sf0² + (2c1−6)²) with
    * 1024·sf0² ∈ {4096, 1024, 256} by frame third — replayed outright by
    * the DuckDB oracle. Codes c0 = (id·5 + f·7 + g·3 + s) mod 7,
    * c1 = same + 1 mod 7 (slice = g·3 + s). A hash match proves the
    * Layer-II header walk, allocation/scfsi/scalefactor parse, sample
    * read and analytic requantization ([[ops.Mp2Codec]]).
    */
  private[graft] def synthMp2(id: Long): Array[Byte] =
    // sync, layer II, no CRC; 384 kbps, 32 kHz, no pad; mode 11 = mono
    mpegAudioFrames((6 + id % 3).toInt, 1728, 0xFFFDE8C0) { (f, w) =>
      import w.put
      // allocation (table B.2b, mono): sb0 = sb1 = code 2 (7 levels), rest 0
      put(2, 4); put(2, 4); put(0, 4)            // sb 0-2 (nbal 4)
      var sb = 3; while (sb < 11) { put(0, 4); sb += 1 }  // sb 3-10 (nbal 4)
      while (sb < 23) { put(0, 3); sb += 1 }              // sb 11-22 (nbal 3)
      while (sb < 30) { put(0, 2); sb += 1 }              // sb 23-29 (nbal 2)
      put(0, 2); put(2, 2)                       // scfsi: sb0 = 0, sb1 = 2
      put(0, 6); put(3, 6); put(6, 6)            // sb0 sfs: 2.0, 1.0, 0.5
      put(3, 6)                                  // sb1 sf: 1.0 (all thirds)
      var g = 0
      while (g < 12) {
        var s = 0
        while (s < 3) {
          // bitstream order per granule: all 3 of sb0, then all 3 of sb1
          put(((id * 5 + f * 7 + g * 3 + s) % 7).toInt, 3)
          s += 1
        }
        s = 0
        while (s < 3) {
          put(((id * 5 + f * 7 + g * 3 + s + 1) % 7).toInt, 3)
          s += 1
        }
        g += 1
      }
    }

  /** One mono MPEG-1 LAYER-III clip per id for q_mp3_decode: 6 + id%3
    * frames at 48 kHz / 192 kbps (frame = 576 bytes, 17-byte side info,
    * main_data_begin = 0, long blocks). Per granule g (2 per frame):
    * global_gain = 210 + 4·a with a = (id + f + g) % 4 → gain 2^a;
    * scalefac_compress = 9 (slen 2/2), scalefac_scale = 1, preflag = 0,
    * so line gains are 2^(a − sf[band]) with sf[b] = (id + 3f + 5g + b)
    * % 4. big_values = 12 pairs (lines 0–23, sfbs 0–5 at width 4,
    * Huffman table 1), then 4 count1 quads (lines 24–39, sfbs 6–8 at
    * width 6, count1 table B = 4-bit complement codes); magnitudes
    * |is(l)| = (id·7 + f·11 + g·13 + l·3) % 2, signs (id + f + g + l) % 2.
    * Every dequantized line is ±2^(a − sf), so granule SPECTRAL energies
    * ×64 are exact integers Σ 4^(3 + a − sf) ∈ [0, 40·4096] — replayed
    * outright by the DuckDB oracle through the envelope hash. A hash
    * match proves the Layer-III header/side-info walk, bit-reservoir
    * positioning, scalefactor decode, Huffman big-values + count1 + sign
    * parse, region bounding and analytic requantization
    * ([[ops.Mp3Codec]]).
    */
  private[graft] def synthMp3L3(id: Long): Array[Byte] =
    synthMp3Frames(id, 0xC0, 1)(_.plainSide(_, _, _))(_.plainMain(_, _))

  /** [[synthMp3L3]]'s MS JOINT-STEREO twin for q_mp3_ms_decode: same
    * 48 kHz / 192 kbps / 576-byte frames but mode 01 with mode_extension
    * '10' (MS on, intensity off) and a 32-byte stereo side info. Channel
    * c ∈ {0 = mid, 1 = side} varies every formula: gain exponent
    * a = (id + f + g + 2c) % 4, sf[b] = (id + 3f + 5g + 7c + b) % 4,
    * |is(l)| = (id·7 + f·11 + g·13 + c·17 + l·3) % 2, signs
    * (id + f + g + c + l) % 2 — so M and S lines are ±2^k dyadics and
    * the DECODED channels L = (M+S)/√2, R = (M−S)/√2 have per-granule
    * energies ×4096 equal to the exact integers Σ (m64 ± s64)²/2 with
    * m64 = M·64. The per-CHANNEL envelope
    * ([[ops.Multimodal.mp3ChannelSpectralFingerprintDF]]) pins the MS
    * rotation itself: channel-summed energy is rotation-invariant, so
    * only the L/R split can prove the butterfly ran.
    */
  private[graft] def synthMp3Ms(id: Long): Array[Byte] =
    // mode 01 (joint), mode_ext 10 (MS, no intensity)
    synthMp3Frames(id, 0x60, 2)(_.plainSide(_, _, _))(_.plainMain(_, _))

  /** [[synthMp3L3]]'s MULTI-TABLE twin for q_mp3_tables: mono 48 kHz /
    * 576-byte frames where granule 0 selects three big-values tables
    * across its three regions — region0 = lines 0–23 (bands 0–5),
    * region1 = 24–41 (bands 6–8), region2 = 42–49 (band 9), bigValues
    * 25 — followed by two count1-B quads (band 10), and granule 1
    * selects a fourth table with count1 table A. EVEN frames dispatch
    * the r15 tables (2, 3, 5) / 6; ODD frames the r16 additions
    * (7, 10, 12) / 13 — the magnitude/sign/gain patterns are
    * frame-parity-independent, so the DuckDB energy replay is the SAME
    * for both halves and the oracle pins the dispatch of all eight
    * tables. Magnitudes stay in {0, 1} so every line is ±2^(a − sf)
    * and granule energies ×64 are exact integers (the tables' larger
    * entries are pinned structurally: each is Kraft-complete and
    * prefix-free in the spec suite, and round-tripped cell-by-cell by
    * the spec's own encoder at full magnitude range).
    */
  private[graft] def synthMp3Tables(id: Long): Array[Byte] = {
    // (x, y) -> (len, code) — mag ∈ {0, 1} corners of B.7 tables 2/3/5/6
    // (even frames) and of the r16 additions 7/10/12/13 (odd frames)
    val t2 = Map((0, 0) -> (1, 1), (0, 1) -> (3, 2), (1, 0) -> (3, 3), (1, 1) -> (3, 1))
    val t3 = Map((0, 0) -> (2, 3), (0, 1) -> (2, 2), (1, 0) -> (3, 1), (1, 1) -> (2, 1))
    val t5 = Map((0, 0) -> (1, 1), (0, 1) -> (3, 2), (1, 0) -> (3, 3), (1, 1) -> (3, 1))
    val t6 = Map((0, 0) -> (3, 7), (0, 1) -> (3, 3), (1, 0) -> (3, 6), (1, 1) -> (2, 2))
    val t7 = Map((0, 0) -> (1, 1), (0, 1) -> (3, 2), (1, 0) -> (3, 3), (1, 1) -> (4, 3))
    val t10 = Map((0, 0) -> (1, 1), (0, 1) -> (3, 2), (1, 0) -> (3, 3), (1, 1) -> (4, 3))
    val t12 = Map((0, 0) -> (4, 9), (0, 1) -> (3, 6), (1, 0) -> (3, 7), (1, 1) -> (3, 5))
    val t13 = Map((0, 0) -> (1, 1), (0, 1) -> (4, 5), (1, 0) -> (3, 3), (1, 1) -> (4, 4))
    def tableFor(f: Int, g: Int, l: Int): Mp3Corners =
      if (f % 2 == 0) {
        if (g == 1) t6 else if (l < 24) t2 else if (l < 42) t3 else t5
      } else {
        if (g == 1) t13 else if (l < 24) t7 else if (l < 42) t10 else t12
      }
    synthMp3Frames(id, 0xC0, 1) { (fr, g, c, part23) =>
      // granule 0: regions 0–2 end at lines 24 / 42 / 50 (bigValues 25),
      // even frames tables 2, 3, 5, odd the r16 7, 10, 12, count1 table B;
      // granule 1: table 6 / 13, count1 table A
      val tables =
        if (g == 0) { if (fr.f % 2 == 0) Seq(2, 3, 5) else Seq(7, 10, 12) }
        else if (fr.f % 2 == 0) Seq(6, 0, 0) else Seq(13, 0, 0)
      fr.longSide(g, c, part23, if (g == 0) 25 else 12, tables,
        if (g == 0) 2 else 3, if (g == 0) 1 else 0)
    } { (fr, g, c) =>
      (0 until 21).foreach(b => fr.w.put(fr.scf(g, c, b), 2))
      fr.huff(g, c, fr.mag(g, c, _), if (g == 0) 50 else 24, if (g == 0) 58 else 40,
        tableFor(fr.f, g, _), c1a = g == 1)
    }
  }

  /** [[synthMp3Ms]]'s INTENSITY-STEREO twin for q_mp3_intensity: mode 01
    * with mode_extension '01' (intensity on, MS off). The LEFT channel
    * carries 12 big-values pairs + 4 count1 quads (lines 0–39, the
    * q_mp3_ms formulas at c = 0); the RIGHT channel carries 12 pairs
    * ONLY, so its zero part starts at line 24 = the band-6 boundary and
    * the intensity region is bands 6–21. Right scalefactor bands 6–20
    * hold the intensity POSITIONS is_pos = 3·((id + f + g + b) % 2) ∈
    * {0, 3} — exactly the positions whose tan(is_pos·π/12) ratios are
    * the dyadic splits L = 0 / R = xr and L = R = xr/2, keeping the
    * per-channel granule energies ×4096 exact integers. Below the bound
    * both channels decode as plain stereo (mode_extension bit 1 off ⇒
    * no MS). A hash match on the per-CHANNEL envelope proves the bound
    * derivation from the right channel's zero part, the is_pos readout
    * and the ratio split — channel-summed energy can't see any of that.
    */
  private[graft] def synthMp3Is(id: Long): Array[Byte] =
    // mode 01 (joint), mode_ext 01 (intensity only)
    synthMp3Frames(id, 0x50, 2)(_.plainSide(_, _, _)) { (fr, g, c) =>
      if (c == 0) fr.plainMain(g, c)
      else {
        // right bands ≥ 6 carry intensity POSITIONS, not gains
        (0 until 21).foreach { b =>
          fr.w.put(if (b >= 6) 3 * ((id + fr.f + g + b) % 2).toInt else fr.scf(g, c, b), 2)
        }
        // pairs only → the right channel's zero part starts at line 24
        fr.huff(g, c, fr.mag(g, c, _), 24, 24, _ => Mp3T1, c1a = false)
      }
    }

  /** [[synthMp3Is]]'s SHORT-BLOCK twin for q_mp3_intensity_short (r16):
    * mode 01 / mode_extension 01, BOTH granules of BOTH channels
    * window-switched short (wsf = 1, bt = 2, not mixed). The LEFT
    * channel carries 18 big-values pairs = bands 0–2 (Huffman order:
    * band-major, window-sub-major — 12 lines per band at 48 kHz); the
    * RIGHT channel carries 6 all-ones pairs = band 0 only, so every
    * window's last nonzero right band is 0 and the intensity region is
    * bands 1–12 PER WINDOW. Right short scalefactors hold the
    * positions is_pos = 3·((id+f+g+b+w) %% 2) ∈ {0, 3} — the all-right
    * and equal-split dyadics — while left scalefactors, subblock gains
    * and global gains keep every xr = ±2^e, so the per-CHANNEL granule
    * energies ×4096 are exact integers. A hash match proves the
    * per-window bound derivation in the REORDERED domain, the
    * per-(band, window) position readout and the ratio split — a
    * channel-summed or per-granule bound could not.
    */
  private[graft] def synthMp3IsShort(id: Long): Array[Byte] =
    // mode 01 (joint), mode_ext 01 (intensity only)
    synthMp3Frames(id, 0x50, 2) { (fr, g, c, part23) =>
      fr.shortSide(g, c, part23, if (c == 0) 18 else 6, 9) // scalefac_compress → 2/2
    } { (fr, g, c) =>
      // 12 bands × 3 windows × slen 2: left gains, right intensity positions
      for (b <- 0 until 12; w <- 0 until 3)
        fr.w.put(if (c == 0) ((id + 3 * fr.f + 5 * g + b + w) % 4).toInt
          else 3 * ((id + fr.f + g + b + w) % 2).toInt, 2)
      // left: bands 0–2; right: band 0 of all-ones lines
      fr.huff(g, c, l => if (c == 1) 1 else fr.mag(g, 0, l), if (c == 0) 36 else 12,
        if (c == 0) 36 else 12, _ => Mp3T1, c1a = false)
    }

  /** [[synthMp3L3]]'s WINDOW-SWITCHED twin for q_mp3_short: mono
    * 48 kHz / 192 kbps / 576-byte frames where every frame's granule 0
    * is a SHORT block (window_switching = 1, block_type 2, non-mixed)
    * and granule 1 stays long — pinning short and long decode paths
    * coexisting in one stream. Short granule: global_gain = 210 + 4a
    * with a = (id + f) % 4, scalefac_compress 5 (slen 1/1) with
    * sf[b][w] = (id + 3f + b + w) % 2 in band-major window-sub-major
    * order, subblock_gain[w] = (id + f + w) % 2, scalefac_scale 1.
    * big_values = 12 pairs cover short bands 0–1 (× 3 windows, width 4
    * at 48 kHz), 4 count1 quads cover lines 24–39 (band 2 + window 0 of
    * band 3); magnitudes/signs reuse the q_mp3_decode formulas at g = 0.
    * Every line dequantizes to ±2^(a − 2·sbg[w] − sf[b][w]), so the
    * POSITION-WEIGHTED granule sum Σ (r+1)·xr² ×64 — r the reordered
    * line index 12·(l div 12) + 3·(l mod 4) + (l mod 12) div 4 — is an
    * exact integer the DuckDB oracle replays. A hash match proves the
    * window-switched side-info layout, the short scalefactor order, the
    * fixed 36-line region split, subblock-gain requantization AND the
    * Huffman→filterbank reorder (the weighted sum is order-sensitive;
    * plain energy is not — see
    * [[ops.Multimodal.mp3WeightedSpectralFingerprintDF]]).
    */
  private[graft] def synthMp3Short(id: Long): Array[Byte] =
    synthMp3Frames(id, 0xC0, 1) { (fr, g, c, part23) =>
      // granule 0 SHORT (scalefac_compress → slen 1/1), granule 1 LONG
      if (g == 0) fr.shortSide(g, c, part23, 12, 5) else fr.plainSide(g, c, part23)
    } { (fr, g, c) =>
      if (g == 0) {
        // scalefactors: band-major, window-sub-major, 1 bit each
        for (b <- 0 until 12; w <- 0 until 3) fr.w.put(((id + 3 * fr.f + b + w) % 2).toInt, 1)
        fr.huff(g, c, fr.mag(g, c, _), 24, 40, _ => Mp3T1, c1a = false)
      } else fr.plainMain(g, c)
    }

  /** One REAL PDF per id for q_pdf_extract: 1 + id%3 simple-font pages
    * plus (r16) a CID-KEYED page — a /Type0 font whose /ToUnicode
    * CMap (Flate-compressed on even ids, raw on odd) maps 2-byte codes
    * via a multi-unit bfchar ('Cid'), incrementing bfranges (digits,
    * letters) and single bfchars, shown as one hex string — extracting
    * to exactly "Cid {id} zy!" — plus (r17) a final DIFFERENCES page: a
    * simple font whose /Encoding /Differences remaps A→/eacute,
    * B→/lslash, C→an unresolvable name (suppressed, never the raw
    * byte), q→/uni0142 (the algorithmic AGL form), with untouched codes
    * keeping the latin-1 path, and two /ActualText marked-content spans
    * (a PDFDocEncoding literal carrying the id; a UTF-16BE-with-BOM hex
    * string) whose replacements are emitted while the enclosed
    * show-text — including a −400 TJ kern that must NOT leak a word
    * gap — is suppressed: extracting to exactly
    * "Diff éłł word gap here real {id}é!".
    * The simple pages: 1 + id%3 pages, each page's
    * content stream drawing two text lines via the full operator set —
    * `(…) Tj` with \( \) and octal \101 escapes, `T*`, a `TJ` array
    * whose −250 kern renders as the word gap (and whose +20 kern must
    * NOT), and a hex-string `Tj` — so page p extracts to exactly
    * "Doc {id} page {p} (ok) A\nw{a} w{b}! hx" with a = (id·31+p·7)%97,
    * b = (id·13+p·11)%89. EVEN pages' streams are FlateDecode-compressed
    * (zlib via the JDK Deflater, the format PdfCodec inflates), odd
    * pages raw; page 0's /Length is an INDIRECT reference. Full document
    * skeleton: Catalog → Pages → Kids, a correct classic xref table and
    * a trailer with /Root (the extractor's primary catalog route) — and
    * for ODD ids the catalog/pages/page dicts live inside a
    * Flate-compressed OBJECT STREAM (/Type /ObjStm with its N/First
    * header pairs), the PDF 1.5+ layout modern writers emit. A hash
    * match proves the object scan, COS parsing incl. escapes/hex, the
    * page-tree walk THROUGH object streams, direct+indirect Length,
    * raw+Flate streams and the BT…ET operator semantics
    * ([[sources.PdfCodec]]).
    */
  /** Minimal TrueType font program (sfnt with a single 'cmap' table) for
    * the r18 Identity-H-without-ToUnicode page: EVEN ids carry a
    * format-4 (segment-delta) subtable on the Windows BMP slot (3,1),
    * ODD ids a format-12 (grouped) subtable on (3,10) including a
    * SUPPLEMENTARY-plane mapping — so both subtable formats the parser
    * ships are gate-exercised. gids: space→3, '!'→4, '0'–'9'→10+d,
    * 'a'–'z'→30+k, U+1F30D→60 (format 12 only).
    */
  private[graft] def synthTtf(id: Long): Array[Byte] = {
    val sub = new java.io.ByteArrayOutputStream()
    def s16(v: Int): Unit = { sub.write((v >> 8) & 0xFF); sub.write(v & 0xFF) }
    def s32(v: Long): Unit = { s16(((v >> 16) & 0xFFFF).toInt); s16((v & 0xFFFF).toInt) }
    if (id % 2 == 0) {
      val segs = Seq((0x20, 0x21, 3), (0x30, 0x39, 10), (0x61, 0x7A, 30))
      val segCount = segs.length + 1
      s16(4); s16(16 + 8 * segCount); s16(0)
      s16(2 * segCount); s16(0); s16(0); s16(0)
      segs.foreach(s => s16(s._2)); s16(0xFFFF)
      s16(0)
      segs.foreach(s => s16(s._1)); s16(0xFFFF)
      segs.foreach(s => s16((s._3 - s._1) & 0xFFFF)); s16(1)
      (0 until segCount).foreach(_ => s16(0))
    } else {
      val groups = Seq((0x20L, 0x21L, 3L), (0x30L, 0x39L, 10L),
        (0x61L, 0x7AL, 30L), (0x1F30DL, 0x1F30DL, 60L))
      s16(12); s16(0); s32(16L + 12 * groups.length); s32(0L); s32(groups.length.toLong)
      groups.foreach { g => s32(g._1); s32(g._2); s32(g._3) }
    }
    val subB = sub.toByteArray
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF) }
    def w32(v: Long): Unit = { w16(((v >> 16) & 0xFFFF).toInt); w16((v & 0xFFFF).toInt) }
    w32(0x00010000L); w16(1); w16(16); w16(0); w16(0)
    bos.write("cmap".getBytes("US-ASCII")); w32(0L); w32(28L); w32(8L + subB.length)
    w16(0); w16(1)
    if (id % 2 == 0) { w16(3); w16(1) } else { w16(3); w16(10) }
    w32(12L)
    bos.write(subB)
    bos.toByteArray
  }

  /** gid sequence (hex, 2 bytes per code) of the ff2 page's text under
    * [[synthTtf]]'s mapping, with one UNMAPPED gid (999) appended that
    * must emit nothing.
    */
  private[graft] def synthFf2Codes(id: Long): String = {
    def gid(c: Int): Int =
      if (c == ' ') 3 else if (c == '!') 4
      else if (c >= '0' && c <= '9') 10 + (c - '0')
      else if (c >= 'a' && c <= 'z') 30 + (c - 'a')
      else if (c == 0x1F30D) 60
      else sys.error(s"unmapped fixture char $c")
    val msg = (if (id % 2 == 1) Seq('c'.toInt, 'i'.toInt, 'd'.toInt, ' '.toInt, 0x1F30D)
               else Seq('c'.toInt, 'i'.toInt, 'd'.toInt)) ++
      s" go $id!".map(_.toInt)
    (msg.map(gid) :+ 999).map(g => f"$g%04x").mkString
  }

  private[graft] def synthPdf(id: Long): Array[Byte] = {
    val nSimple = (1 + id % 3).toInt
    // r16: + one CID-keyed /ToUnicode page; r17: + one simple-font
    // /Encoding /Differences page with an /ActualText replacement span;
    // r18: + one Identity-H page WITHOUT /ToUnicode whose text decodes
    // by inverting the embedded FontFile2's own 'cmap' table
    val nPages = nSimple + 3
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    def w(s: String): Unit = bos.write(ascii(s))
    val offsets = scala.collection.mutable.HashMap.empty[Int, Int]
    def beginObj(n: Int): Unit = { offsets(n) = bos.size(); w(s"$n 0 obj\n") }
    def endObj(): Unit = w("endobj\n")
    def deflate(data: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    w("%PDF-1.4\n")
    // ODD ids store the document structure (catalog, pages node, page
    // dicts) inside a Flate-compressed OBJECT STREAM — the PDF 1.5+
    // layout modern writers emit; even ids use classic top-level objects
    val inObjStm = id % 2 == 1
    val lenObjNum = 3 + 2 * nSimple
    // r16 CID page: content + ToUnicode CMap + Type0 font + page dict
    val cidContentNum = lenObjNum + 1
    val cidCMapNum = lenObjNum + 2
    val cidFontNum = lenObjNum + 3
    val cidPageNum = lenObjNum + 4
    // r17 Differences/ActualText page objects
    val diffContentNum = lenObjNum + 5
    val diffFontNum = lenObjNum + 6
    val diffPageNum = lenObjNum + 7
    // r18 Identity-H-without-ToUnicode page objects
    val ff2ContentNum = lenObjNum + 8
    val ff2FontFileNum = lenObjNum + 9
    val ff2FontNum = lenObjNum + 10
    val ff2PageNum = lenObjNum + 11
    val kids = ((0 until nSimple).map(p => s"${3 + 2 * p} 0 R") ++
      Seq(s"$cidPageNum 0 R", s"$diffPageNum 0 R", s"$ff2PageNum 0 R")).mkString(" ")
    val structBodies: Seq[(Int, String)] =
      (1, s"<< /Type /Catalog /Pages 2 0 R >>") +:
      (2, s"<< /Type /Pages /Kids [$kids] /Count $nPages >>") +:
      ((0 until nSimple).map(p =>
        (3 + 2 * p, s"<< /Type /Page /Parent 2 0 R /Contents ${4 + 2 * p} 0 R >>")) ++
        Seq(
          (cidPageNum, s"<< /Type /Page /Parent 2 0 R /Contents $cidContentNum 0 R " +
            s"/Resources << /Font << /F9 $cidFontNum 0 R >> >> >>"),
          (diffPageNum, s"<< /Type /Page /Parent 2 0 R /Contents $diffContentNum 0 R " +
            s"/Resources << /Font << /F7 $diffFontNum 0 R >> >> >>"),
          (ff2PageNum, s"<< /Type /Page /Parent 2 0 R /Contents $ff2ContentNum 0 R " +
            s"/Resources << /Font << /F8 $ff2FontNum 0 R >> >> >>")))
    if (!inObjStm) structBodies.foreach { case (n, body) =>
      beginObj(n); w(body + "\n"); endObj()
    }
    var page0FlateLen = 0
    var p = 0
    while (p < nSimple) {
      val a = ((id * 31 + p * 7) % 97).toInt
      val b = ((id * 13 + p * 11) % 89).toInt
      val content = ascii(
        s"BT 72 720 Td (Doc $id page $p \\(ok\\) \\101) Tj T* " +
        s"[(w$a) -250 (w$b) 20 (!)] TJ <206878> Tj ET")
      beginObj(4 + 2 * p)
      if (p % 2 == 0) {
        val z = deflate(content)
        if (p == 0) { page0FlateLen = z.length; w(s"<< /Length $lenObjNum 0 R /Filter /FlateDecode >>\n") }
        else w(s"<< /Length ${z.length} /Filter /FlateDecode >>\n")
        w("stream\n"); bos.write(z); w("\nendstream\n")
      } else {
        w(s"<< /Length ${content.length} >>\n")
        w("stream\n"); bos.write(content); w("\nendstream\n")
      }
      endObj()
      p += 1
    }
    beginObj(lenObjNum); w(s"$page0FlateLen\n"); endObj()
    // ---- the CID page: 2-byte codes through a /ToUnicode CMap ----
    // codes: <0200> -> "Cid" (multi-unit bfchar), 0x0030+d -> digits
    // (bfrange, incrementing dst), 0x0100+k -> 'a'+k (bfrange), <0020>
    // space and <0021> '!' (bfchars). Text: "Cid {id} zy!"
    val idDigits = id.toString.map(d => f"00${0x30 + (d - '0')}%02x").mkString
    val cidCodes = "0200" + "0020" + idDigits + "0020" + "0119" + "0118" + "0021"
    val cidContent = ascii(s"BT /F9 12 Tf <$cidCodes> Tj ET")
    beginObj(cidContentNum)
    w(s"<< /Length ${cidContent.length} >>\n")
    w("stream\n"); bos.write(cidContent); w("\nendstream\n")
    endObj()
    val cmapSrc = ascii(
      "/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n" +
      "1 begincodespacerange <0000> <ffff> endcodespacerange\n" +
      "2 beginbfchar <0020> <0020> <0021> <0021> endbfchar\n" +
      "1 beginbfchar <0200> <004300690064> endbfchar\n" +
      "2 beginbfrange <0030> <0039> <0030> <0100> <0119> <0061> endbfrange\n" +
      "endcmap CMapName currentdict /CMap defineresource pop end end\n")
    beginObj(cidCMapNum)
    // the CMap stream itself is Flate-compressed on even ids (real
    // writers compress it; odd ids keep it raw so both routes pin)
    if (id % 2 == 0) {
      val z = deflate(cmapSrc)
      w(s"<< /Length ${z.length} /Filter /FlateDecode >>\n")
      w("stream\n"); bos.write(z); w("\nendstream\n")
    } else {
      w(s"<< /Length ${cmapSrc.length} >>\n")
      w("stream\n"); bos.write(cmapSrc); w("\nendstream\n")
    }
    endObj()
    beginObj(cidFontNum)
    w(s"<< /Type /Font /Subtype /Type0 /BaseFont /Synth " +
      s"/Encoding /Identity-H /ToUnicode $cidCMapNum 0 R >>\n")
    endObj()
    // ---- the r17 Differences/ActualText page: a simple font whose
    // /Encoding /Differences remaps A->eacute, B->lslash, C->(an
    // unresolvable glyph name: suppressed), q->uni0142 (algorithmic);
    // untouched codes keep the latin-1 path. Two /ActualText spans: a
    // PDFDocEncoding literal carrying the id and a UTF-16BE (BOM) hex
    // string — each replaces its span's show-text entirely.
    // Extracts to: "Diff éłł word gap here real {id}é!"
    val diffContent = ascii(
      "BT /F7 12 Tf (Diff ) Tj (AB) Tj (C) Tj (q) Tj ( word gap here ) Tj " +
      s"/Span << /ActualText (real $id) >> BDC (NOPE) Tj EMC " +
      "/Span << /ActualText <FEFF00E9> >> BDC [(ZZ) -400 (Z)] TJ EMC (!) Tj ET")
    beginObj(diffContentNum)
    w(s"<< /Length ${diffContent.length} >>\n")
    w("stream\n"); bos.write(diffContent); w("\nendstream\n")
    endObj()
    beginObj(diffFontNum)
    w("<< /Type /Font /Subtype /Type1 /BaseFont /SynthDiff " +
      "/Encoding << /Type /Encoding /Differences " +
      "[ 65 /eacute /lslash /xqzzyglyph 113 /uni0142 ] >> >>\n")
    endObj()
    // ---- the r18 Identity-H page WITHOUT /ToUnicode: 2-byte codes are
    // glyph ids, decoded by inverting the embedded FontFile2's 'cmap'
    // (format 4 on even ids, format 12 — incl. a supplementary-plane
    // char — on odd). Trailing gid 999 is unmapped: emits nothing.
    // Extracts to "cid go {id}!" / "cid 🌍 go {id}!"
    val ff2Content = ascii(s"BT /F8 12 Tf <${synthFf2Codes(id)}> Tj ET")
    beginObj(ff2ContentNum)
    w(s"<< /Length ${ff2Content.length} >>\n")
    w("stream\n"); bos.write(ff2Content); w("\nendstream\n")
    endObj()
    val ttf = synthTtf(id)
    beginObj(ff2FontFileNum)
    // real writers Flate the font program on even ids; odd stay raw
    if (id % 2 == 0) {
      val z = deflate(ttf)
      w(s"<< /Length ${z.length} /Filter /FlateDecode >>\n")
      w("stream\n"); bos.write(z); w("\nendstream\n")
    } else {
      w(s"<< /Length ${ttf.length} >>\n")
      w("stream\n"); bos.write(ttf); w("\nendstream\n")
    }
    endObj()
    beginObj(ff2FontNum)
    w(s"<< /Type /Font /Subtype /Type0 /BaseFont /SynthFf2 " +
      s"/Encoding /Identity-H /DescendantFonts [ << /Type /Font " +
      s"/Subtype /CIDFontType2 /FontDescriptor " +
      s"<< /FontFile2 $ff2FontFileNum 0 R >> >> ] >>\n")
    endObj()
    var maxObj = ff2PageNum
    if (inObjStm) {
      // serialize the structure objects: header pairs then bodies
      val bodies = structBodies.map { case (n, b) => (n, b + " ") }
      val offs = bodies.scanLeft(0)((acc, nb) => acc + nb._2.length).init
      val header = bodies.zip(offs).map { case ((n, _), o) => s"$n $o" }.mkString(" ") + " "
      val payload = ascii(header + bodies.map(_._2).mkString)
      val z = deflate(payload)
      maxObj = ff2PageNum + 1
      beginObj(maxObj)
      w(s"<< /Type /ObjStm /N ${bodies.length} /First ${header.length} " +
        s"/Length ${z.length} /Filter /FlateDecode >>\n")
      w("stream\n"); bos.write(z); w("\nendstream\n")
      endObj()
    }
    // classic xref + trailer (correct offsets for the top-level objects;
    // /Root drives the extractor — for odd ids it resolves INTO the
    // object stream)
    val xrefAt = bos.size()
    val tops = offsets.keys.toSeq.sorted
    w(s"xref\n")
    w("0 1\n0000000000 65535 f \n")
    tops.foreach { n => w(s"$n 1\n"); w(f"${offsets(n)}%010d 00000 n \n") }
    w(s"trailer\n<< /Size ${maxObj + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%%%EOF\n")
    bos.toByteArray
  }

  /** One REAL DOCX per id for q_docx_extract: a ZIP (stored
    * [Content_Types].xml + DEFLATED word/document.xml with correct CRCs
    * and central directory) whose document body carries 2 + id%3
    * paragraphs — paragraph 0 exercises split runs with `<w:tab/>` and
    * `&lt;…&gt;` entities ("Head {id} tail <x>"), later paragraphs the
    * attributed `<w:t xml:space>` form with `&amp;`
    * ("Paragraph {p} of doc {id} & w{(id·17+p·5)%61}"). A hash match
    * proves the EOCD/central-directory walk, local-header offsets, raw
    * deflate, the WordprocessingML pass and entity decoding
    * ([[sources.ZipCodec]] / [[sources.DocxCodec]]).
    */
  private[graft] def synthDocx(id: Long): Array[Byte] = {
    val nPars = (2 + id % 3).toInt
    val pars = (0 until nPars).map { p =>
      if (p == 0)
        s"<w:p><w:r><w:t>Head $id</w:t><w:tab/><w:t>tail &lt;x&gt;</w:t></w:r></w:p>"
      else {
        val a = ((id * 17 + p * 5) % 61).toInt
        s"""<w:p><w:r><w:t xml:space="preserve">Paragraph $p of doc $id &amp; w$a</w:t></w:r></w:p>"""
      }
    }.mkString
    val doc = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">" +
      s"<w:body>$pars<w:sectPr/></w:body></w:document>"
    val ctypes = "<?xml version=\"1.0\"?><Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\"/>"
    graft.sources.DocxCodec.writeZip(Seq(
      ("[Content_Types].xml", ctypes.getBytes("UTF-8"), false),
      ("word/document.xml", doc.getBytes("UTF-8"), true)))
  }

  /** One REAL EPUB per id for q_epub_extract: the `mimetype` +
    * `META-INF/container.xml` markers plus 1 + id%3 deflated XHTML
    * chapters whose body extracts — through EXACTLY the crawl HTML
    * passes — to "Chapter {k} of {id}\nBody text {a} & more." with
    * a = (id·7 + k·3) % 53 (head/style dropped, block tags → newlines,
    * `&amp;` decoded). A hash match proves the zip walk, chapter
    * selection/order and the shared HTML extraction
    * ([[sources.EpubCodec]]).
    */
  private[graft] def synthEpub(id: Long): Array[Byte] = {
    val nCh = (1 + id % 3).toInt
    val container =
      """<?xml version="1.0"?><container version="1.0"
        |xmlns="urn:oasis:names:tc:opendocument:xmlns:container"><rootfiles>
        |<rootfile full-path="content.opf" media-type="application/oebps-package+xml"/>
        |</rootfiles></container>""".stripMargin
    val chapters = (0 until nCh).map { k =>
      val a = ((id * 7 + k * 3) % 53).toInt
      (f"ch$k%02d.xhtml",
        ("<html><head><title>t</title><style>x{}</style></head><body>" +
          s"<h1>Chapter $k of $id</h1><p>Body text $a &amp; more.</p>" +
          "</body></html>").getBytes("UTF-8"), true)
    }
    graft.sources.DocxCodec.writeZip(
      ("mimetype", "application/epub+zip".getBytes("UTF-8"), false) +:
      ("META-INF/container.xml", container.getBytes("UTF-8"), false) +:
      chapters)
  }

  /** Byte-aligned MPEG-1 start code 0x000001`c`. */
  private def mpeg1StartCode(w: BitWriter, c: Int): Unit = {
    w.align(0); w.put(1, 24); w.put(c, 8)
  }

  /** MPEG-1 sequence header: `width`×`height`, 1:1 aspect, 25 fps. */
  private def mpeg1Sequence(w: BitWriter, width: Int, height: Int): Unit = {
    mpeg1StartCode(w, 0xB3)
    w.put(width, 12); w.put(height, 12)
    w.put(1, 4); w.put(3, 4)              // aspect 1:1, 25 fps
    w.put(0x3FFFF, 18); w.put(1, 1)       // bitrate "variable", marker
    w.put(0, 10); w.put(0, 1)             // vbv, constrained
    w.put(0, 1); w.put(0, 1)              // no loaded matrices
  }

  /** Intra macroblock `m` of picture `f` after its address/type VLCs: four
    * flat luma blocks of value 20 + (id·31 + f·97 + (4m + b)·7) % 200, each
    * a dct_dc_size_luminance VLC + DC differential on the predictor chain
    * from `pred0` and an EOB, then flat-128 chroma. Returns the predictor.
    */
  private def mpeg1IntraMb(w: BitWriter, id: Long, f: Int, m: Int, pred0: Int): Int = {
    var pred = pred0
    var b = 0
    while (b < 4) {
      val v = 20 + ((id * 31 + f * 97 + (m * 4 + b) * 7) % 200).toInt
      val diff = v - pred
      pred = v
      val size = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      size match {
        case 0 => w.put(0x4, 3)
        case 1 => w.put(0x0, 2)
        case 2 => w.put(0x1, 2)
        case 3 => w.put(0x5, 3)
        case 4 => w.put(0x6, 3)
        case 5 => w.put(0xE, 4)
        case 6 => w.put(0x1E, 5)
        case 7 => w.put(0x3E, 6)
        case _ => w.put(0x7E, 7)
      }
      if (size > 0) w.put(if (diff > 0) diff else diff + (1 << size) - 1, size)
      w.put(0x2, 2) // EOB
      b += 1
    }
    w.put(0x0, 2); w.put(0x2, 2) // Cb: diff 0 + EOB
    w.put(0x0, 2); w.put(0x2, 2) // Cr
    pred
  }

  /** I-picture `f`: one slice of `mbCount` intra macroblocks at qscale 8,
    * the DC predictor reset to 128 at the slice start.
    */
  private def mpeg1IPicture(w: BitWriter, id: Long, f: Int, mbCount: Int): Unit = {
    mpeg1StartCode(w, 0x00)
    w.put(f, 10); w.put(1, 3)         // temporal ref, I-picture
    w.put(0xFFFF, 16); w.put(0, 1)    // vbv_delay, extra_bit_picture
    mpeg1StartCode(w, 0x01)           // slice, vertical position 1
    w.put(8, 5); w.put(0, 1)          // quantizer_scale, extra_bit_slice
    var pred = 128
    (0 until mbCount).foreach { m =>
      w.put(1, 1); w.put(1, 1)        // addr increment +1, type intra
      pred = mpeg1IntraMb(w, id, f, m, pred)
    }
  }

  /** One MPEG-1 VIDEO elementary stream per id for q_mpeg1_iframe:
    * 2 + id%3 I-pictures of 16·(1 + id%2) × 16 pixels — one slice per
    * picture, every macroblock intra with DC-ONLY blocks, so each Y
    * block is the flat value v(f, m, b) = 20 + (id·31 + f·97 +
    * (m·4 + b)·7) % 200 (m = macroblock index, b = quadrant), chroma
    * flat 128 ⇒ RGB = (v, v, v) exactly. DC values ride the
    * differential predictor chain (luma size VLC + offset binary), so a
    * hash match proves the sequence/picture/slice header walk, the
    * macroblock address/type VLCs, DC size tables and prediction,
    * EOB handling, F₀₀ = 8·pred dequantization, IDCT flatness and the
    * 4:2:0 → RGB path ([[ops.Mpeg1Codec]]); the oracle replays the
    * generator formula like q_avi_frames.
    */
  private[graft] def synthMpeg1(id: Long): Array[Byte] = {
    val w = new BitWriter(false)
    val mbCount = 1 + (id % 2).toInt
    mpeg1Sequence(w, 16 * mbCount, 16)
    (0 until (2 + id % 3).toInt).foreach(f => mpeg1IPicture(w, id, f, mbCount))
    mpeg1StartCode(w, 0xB7) // sequence end
    w.out.toByteArray
  }

  /** One MPEG-1 VIDEO elementary stream WITH P-PICTURES per id for
    * q_mpeg1_pframe: 48×16 (3 macroblocks, one slice per picture),
    * 2 + id%3 pictures — one I then 1–3 P. Every P picture exercises a
    * different inter-coding path per macroblock:
    *  - m0: INTRA refresh (DC chain from the slice-reset predictor),
    *    value 20 + (id·31 + f·97 + b·7) % 200;
    *  - ODD f: m1 = no-MC coded ('01', cbp 32) adding the escape-coded
    *    prediction error Δ(f) = 2·((f+id)%5+1)+1 to quadrant Y₀ (the
    *    non-intra dequant (2L+1)·qscale·W/16 with oddification lands on
    *    16L+7, whose IDCT rounds to exactly 2L+1); m2 = MC NON-CODED
    *    ('001') with full-pel motion vector (−8, 0) — a clean
    *    one-quadrant shift from the previous picture;
    *  - EVEN f: m1 is SKIPPED (address increment 2 — the zero-vector
    *    reference copy); m2 = MC CODED ('1'): vector (−8, 0) PLUS the
    *    Δ(f) error on its Y₀ quadrant.
    * Pixel values stay in [20, 241] (no clamping), chroma is flat 128
    * throughout ⇒ RGB = (v, v, v) exactly, and the per-frame value
    * field is the closed form the DuckDB oracle replays: a hash match
    * proves the P picture header (full_pel + f_code), the B.1 address
    * increment VLC incl. skip handling, the B.2b type VLC, the B.4
    * motion-code VLC with §2.4.4.2 reconstruction, half→full-pel
    * application, the B.3 cbp VLC, non-intra dequantization and
    * error ADDITION onto the motion-compensated prediction
    * ([[ops.Mpeg1Codec]]).
    */
  private[graft] def synthMpeg1P(id: Long): Array[Byte] = {
    val nf = (2 + id % 3).toInt
    val w = new BitWriter(false)
    import w.put
    mpeg1Sequence(w, 48, 16)
    mpeg1IPicture(w, id, 0, 3)
    var f = 1
    while (f < nf) {
      val lvl = ((f + id) % 5 + 1).toInt // Δ = 2·lvl + 1 after dequant+IDCT
      mpeg1StartCode(w, 0x00)
      put(f, 10); put(2, 3)             // temporal ref, P-picture
      put(0xFFFF, 16)                   // vbv_delay
      put(1, 1); put(1, 3)              // full_pel_forward_vector, f_code 1
      put(0, 1)                         // extra_bit_picture
      mpeg1StartCode(w, 0x01)
      put(8, 5); put(0, 1)              // qscale 8
      put(1, 1); put(0x3, 5)            // m0: increment 1, type intra '00011'
      mpeg1IntraMb(w, id, f, 0, 128)
      if (f % 2 == 1) {
        // m1: '01' no-MC coded, cbp 32 (Y₀), escape run 0 level L, EOB
        put(1, 1); put(0x1, 2)
        put(0xA, 4)
        put(0x1, 6); put(0, 6); put(lvl, 8)
        put(0x2, 2)
        // m2: '001' MC non-coded, motion (−8, 0): code '0000010111' then '1'
        put(1, 1); put(0x1, 3)
        put(0x17, 10); put(1, 1)
      } else {
        // skip m1 (increment 2 = '011'); m2: '1' MC coded, vector (−8, 0),
        // cbp 32, escape level L
        put(0x3, 3)
        put(1, 1)
        put(0x17, 10); put(1, 1)
        put(0xA, 4)
        put(0x1, 6); put(0, 6); put(lvl, 8)
        put(0x2, 2)
      }
      f += 1
    }
    mpeg1StartCode(w, 0xB7)
    w.out.toByteArray
  }

  /** One MPEG-1 VIDEO elementary stream WITH B-PICTURES per id for
    * q_mpeg1_bframe: 48×16, decode order I₀ P₂ B₁ (and P₄ B₃ when id is
    * odd) — PRESENTATION order I₀ B₁ P₂ (B₃ P₄), which is what the
    * decoder must emit (anchors delayed one slot, B frames in between).
    * P pictures: m0 intra refresh (value 20 + (id·31 + f·97 + b·7) %
    * 200), m1 vector (−8, 0), m2 delta 0 (the predictor CHAIN carries
    * −8). B pictures exercise every bidirectional path: m0
    * FORWARD-only (+8, 0) from the past anchor, m1 BACKWARD-only
    * (+8, 0) from the future anchor — or, in B₃, a SKIPPED macroblock
    * repeating m0's forward prediction — and m2 INTERPOLATED with both
    * vectors at (−8, 0) via delta −16 against the +8 predictors,
    * averaging (fwd + bwd + 1) >> 1. Chroma stays flat 128 ⇒ RGB =
    * (v, v, v); every pixel has the closed form the DuckDB oracle
    * replays, so a hash match proves the B.2c type VLC, the dual
    * f_code header walk, backward/interpolated MC, skipped-B
    * repetition AND the display reordering ([[ops.Mpeg1Codec]]).
    */
  private[graft] def synthMpeg1B(id: Long): Array[Byte] = {
    val w = new BitWriter(false)
    import w.put
    mpeg1Sequence(w, 48, 16)
    mpeg1IPicture(w, id, 0, 3) // display 0
    def pPicture(tref: Int, f: Int): Unit = {
      mpeg1StartCode(w, 0x00)
      put(tref, 10); put(2, 3); put(0xFFFF, 16)
      put(1, 1); put(1, 3); put(0, 1) // full_pel 1, f_code 1
      mpeg1StartCode(w, 0x01)
      put(8, 5); put(0, 1)
      put(1, 1); put(0x3, 5)           // m0: intra
      mpeg1IntraMb(w, id, f, 0, 128)
      put(1, 1); put(0x1, 3)           // m1: '001' MC non-coded
      put(0x17, 10); put(1, 1)         // vector (−8, 0)
      put(1, 1); put(0x1, 3)           // m2: '001', delta 0 → −8 again
      put(1, 1); put(1, 1)
    }
    def bPicture(tref: Int, skipM1: Boolean): Unit = {
      mpeg1StartCode(w, 0x00)
      put(tref, 10); put(3, 3); put(0xFFFF, 16)
      put(1, 1); put(1, 3)             // forward: full_pel 1, f_code 1
      put(1, 1); put(1, 3)             // backward: full_pel 1, f_code 1
      put(0, 1)
      mpeg1StartCode(w, 0x01)
      put(8, 5); put(0, 1)
      // m0: forward-only non-coded '0010', vector (+8, 0) — row 17
      put(1, 1); put(0x2, 4)
      put(0x16, 10); put(1, 1)
      if (skipM1) {
        // skip m1: increment 2 ADDRESSES m2 while skipping one macroblock
        // (the skip repeats m0's forward (+8, 0) prediction)
        put(0x3, 3)
      } else {
        // m1: backward-only non-coded '010', vector (+8, 0)
        put(1, 1); put(0x2, 3)
        put(0x16, 10); put(1, 1)
        put(1, 1) // m2's address increment
      }
      // m2: interpolated non-coded '10': forward delta −16 (pred +8 → −8),
      // backward −8 from pred +8 (delta −16) or from pred 0 (code −8)
      put(0x2, 2)
      put(0x19, 11); put(1, 1)         // fwd: motion_code −16 (row 32)
      if (skipM1) { put(0x17, 10); put(1, 1) } // bwd pred 0 → code −8
      else { put(0x19, 11); put(1, 1) }        // bwd pred +8 → delta −16
    }
    pPicture(2, 2)
    bPicture(1, skipM1 = false)
    if (id % 2 == 1) {
      pPicture(4, 4)
      bPicture(3, skipM1 = true)
    }
    mpeg1StartCode(w, 0xB7)
    w.out.toByteArray
  }

  /** One uncompressed-DIB AVI clip per id for q_avi_frames: 2 + id%3
    * frames of (4 + id%5) × (3 + id%4) gray pixels
    * v = (id·31 + f·97 + (y·w + x)·7) mod 256 written as B = G = R = v —
    * bottom-up BGR rows with 4-byte stride padding, full RIFF structure
    * (hdrl → avih + strl → strh 'vids'/'DIB ' + strf BI_RGB 24bpp, movi →
    * '00db' chunks). A hash match proves the RIFF walk, stream-format
    * gate, stride/row-order handling and pixel conversion
    * ([[ops.AviCodec]]); the oracle replays the generator formula.
    */
  private[graft] def synthAvi(id: Long): Array[Byte] = {
    val w = (4 + id % 5).toInt
    val h = (3 + id % 4).toInt
    val nFrames = (2 + id % 3).toInt
    val stride = ((w * 3 + 3) / 4) * 4
    val frames = (0 until nFrames).map { f =>
      val data = new Array[Byte](stride * h)
      var y = 0
      while (y < h) {
        val row = (h - 1 - y) * stride // bottom-up
        var x = 0
        while (x < w) {
          val v = ((id * 31 + f * 97 + (y * w + x) * 7) % 256).toByte
          data(row + x * 3) = v; data(row + x * 3 + 1) = v; data(row + x * 3 + 2) = v
          x += 1
        }
        y += 1
      }
      data
    }
    aviRiff(w, h, "DIB ", le32(0) ++ le32(stride.toLong * h), "00db", frames)
  }

  /** RIFF AVI container of one 25 fps video stream of `w`×`h` 24bpp
    * `frames`: hdrl → avih + strl → strh 'vids'/`handler` + strf
    * (BITMAPINFOHEADER whose compression + sizeImage fields are `strfCodec`),
    * movi → one `ckId` chunk per frame.
    */
  private def aviRiff(w: Int, h: Int, handler: String, strfCodec: Array[Byte],
                      ckId: String, frames: Seq[Array[Byte]]): Array[Byte] = {
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      fcc(id) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(listType: String, children: Array[Byte]): Array[Byte] =
      fcc("LIST") ++ le32(4 + children.length) ++ fcc(listType) ++ children
    val n = frames.length
    val avih = le32(40000L) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(n) ++
      le32(0) ++ le32(1) ++ le32(0) ++ le32(w) ++ le32(h) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fcc("vids") ++ fcc(handler) ++ le32(0) ++ le16(0) ++ le16(0) ++
      le32(0) ++ le32(1) ++ le32(25) ++ le32(0) ++ le32(n) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le16(0) ++ le16(0) ++ le16(0) ++ le16(0)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      strfCodec ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val body = fcc("AVI ") ++ hdrl ++ list("movi", frames.map(chunk(ckId, _)).reduce(_ ++ _))
    fcc("RIFF") ++ le32(body.length) ++ body
  }

  /** Spec-conformant baseline JPEG writer for the q_jpeg_decode /
    * q_mjpeg_frames fixtures: GRAYSCALE, DC-only blocks (every AC run is
    * an immediate EOB), Annex K.3.1 luma DC codes + the luma AC EOB code
    * `1010`. DC-only is what makes the pixel values EXACT integers —
    * block (bx,by) reconstructs flat to `level = 128 + DC·q/8`, and the
    * generator picks `DC = (level−128)·8/q` with q ∈ {1,2,4,8} dividing 8,
    * so the DuckDB oracle replays pixels in integer arithmetic while the
    * decoder still runs the full marker walk, DHT canonical-code build,
    * Huffman DC decode, EXTEND, restart handling and IDCT. Byte stuffing
    * (0xFF→0xFF00) and all-ones padding are emitted per spec, so ImageIO
    * reads these files too (the conformance cross-check in JpegCodecSpec).
    *
    * Layout knobs per id: dims (blocks of 8 with a ragged right/bottom
    * edge on id%5==0 / id%7==0 — pins edge-block cropping), q00 = 2^(id%4)
    * (pins dequantization), DRI with one restart per block row on odd ids
    * (pins RSTn realignment + predictor reset). `withDht=false` omits the
    * DHT segment entirely — the MJPEG convention — forcing the decoder's
    * Annex K default-table install.
    */
  private[graft] def synthJpeg(id: Long, withDht: Boolean = true,
                               frame: Int = 0): Array[Byte] = {
    val w = 8 * (2 + id % 3).toInt - (if (id % 5 == 0) 3 else 0)
    val h = 8 * (1 + id % 2).toInt - (if (id % 7 == 0) 2 else 0)
    val q = 1 << (id % 4).toInt
    val nbx = (w + 7) / 8
    val nby = (h + 7) / 8
    val ri = if (id % 2 == 1) nbx else 0 // restart every block row on odd ids
    val bw = new BitWriter(true) // the entropy-coded scan stuffs 0xFF bytes
    def u8(v: Int): Unit = bw.out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }
    marker(0xD8) // SOI
    marker(0xDB); u16(2 + 65); u8(0x00) // DQT: Pq=0 Tq=0
    u8(q); (1 until 64).foreach(_ => u8(16))
    if (withDht) {
      // Annex K.3.1 luma DC: BITS then HUFFVAL 0..11
      marker(0xC4); u16(2 + 1 + 16 + 12 + 1 + 16 + 162)
      u8(0x00); Seq(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0).foreach(u8)
      (0 to 11).foreach(u8)
      // Annex K.3.2 luma AC (only EOB is ever emitted, but the full table
      // is written so the decoder's DHT path sees the real thing)
      u8(0x10); Seq(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D).foreach(u8)
      KAcLumaHuffVals.foreach(u8)
    }
    if (ri > 0) { marker(0xDD); u16(4); u16(ri) } // DRI
    marker(0xC0); u16(8 + 3) // SOF0: gray
    u8(8); u16(h); u16(w); u8(1)
    u8(1); u8(0x11); u8(0) // comp 1, 1x1, qtab 0
    marker(0xDA); u16(6 + 2) // SOS
    u8(1); u8(1); u8(0x00); u8(0); u8(63); u8(0)
    // entropy-coded scan; a partial byte pads with ones
    import bw.put
    // Annex K luma DC code per category 0..11
    val dcCodes = Array((0x0, 2), (0x2, 3), (0x3, 3), (0x4, 3), (0x5, 3), (0x6, 3),
      (0xE, 4), (0x1E, 5), (0x3E, 6), (0x7E, 7), (0xFE, 8), (0x1FE, 9))
    var pred = 0
    var b = 0
    val nBlocks = nbx * nby
    while (b < nBlocks) {
      if (ri > 0 && b > 0 && b % ri == 0) {
        bw.align(0xFF)
        marker(0xD0 + ((b / ri - 1) % 8)) // RSTn
        pred = 0
      }
      val level = ((id * 31 + frame * 97 + b * 29) % 256).toInt
      val dc = (level - 128) * 8 / q
      val diff = dc - pred
      pred = dc
      val t = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      val (code, len) = dcCodes(t)
      put(code, len)
      if (t > 0) put(if (diff > 0) diff else diff + (1 << t) - 1, t)
      put(0xA, 4) // AC: EOB
      b += 1
    }
    bw.align(0xFF)
    marker(0xD9) // EOI
    bw.out.toByteArray
  }

  /** The Annex K.3.2 luma AC HUFFVAL list (162 entries) — written verbatim
    * into [[synthJpeg]]'s DHT segment.
    */
  private val KAcLumaHuffVals: Array[Int] = {
    val firstRows = Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61,
      0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
      0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25,
      0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A)
    val tail = Array(
      0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
      0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3,
      0xB4, 0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
      0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5,
      0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)
    firstRows ++ tail
  }

  /** One MJPEG AVI clip per id for q_mjpeg_frames: 2 + id%3 frames, each a
    * [[synthJpeg]] WITHOUT DHT (the MJPEG omitted-tables convention → the
    * decoder must install Annex K defaults), wrapped in the same RIFF
    * structure as [[synthAvi]] but with strh/strf fourcc 'MJPG'. Frame f
    * varies the block levels through synthJpeg's `frame` knob, so frame
    * ORDER is visible in videoFrameStats' order-sensitive px_wsum.
    */
  private[graft] def synthMjpegAvi(id: Long): Array[Byte] = {
    val w = 8 * (2 + id % 3).toInt - (if (id % 5 == 0) 3 else 0)
    val h = 8 * (1 + id % 2).toInt - (if (id % 7 == 0) 2 else 0)
    aviRiff(w, h, "MJPG", "MJPG".getBytes("US-ASCII") ++ le32(0), "00dc",
      (0 until (2 + id % 3).toInt).map(f => synthJpeg(id, withDht = false, frame = f)))
  }

  /** Deterministic line-structured text for q_c4_filter: one shared segment
    * list drives BOTH the Spark generator column and the DuckDB `||` twin,
    * so the fixture is a pure function of doc_id (the corpus text has no
    * newlines or terminal punctuation, so it can't exercise the line rules).
    * Segments fire on doc_id moduli so every C4 rule discriminates within
    * 500 docs: a kept first sentence; an always-dropped short line; a kept
    * 3-mark line on even ids (the >=3-sentence page rule splits even/odd);
    * a JavaScript line (%3, dropped case-insensitively); a lorem-ipsum line
    * (%7 — KEPT as a line but failing the page rule, pinning that the page
    * rule reads the ORIGINAL text); a brace/code line (%11, page rule +
    * non-terminal `}` end); a blocked-word line (%13 — kept line, page-level
    * bad-word hit via the gate's synthetic blocklist); and a %17 degenerate
    * doc with ZERO kept lines (pins clean="" and the oracle's NULL-coalesce
    * on array_to_string of an empty list). Leading spaces + trailing \r on
    * the even-id line pin the space/tab/CR line trim.
    */
  private val C4FirstLine = " opens with a proper first sentence."
  private val C4CondSegs: Seq[(Int, String)] = Seq(
    1 -> "\ntoo short line",
    2 -> "\n  Another good sentence follows here! Is it kept? Yes indeed.\r",
    3 -> "\nPlease enable JavaScript to view the comments powered here.",
    7 -> "\nCurabitur lorem ipsum dolor sit amet consectetur adipiscing elit.",
    11 -> "\n  function f() { return 42; }",
    13 -> "\nThis line mentions badword1 in passing somewhere today.")
  private val C4Degenerate = "no terminal punctuation anywhere at all"
  private[graft] val C4BlockedWords = Seq("badword1")
  private[graft] def synthC4TextCol: Column =
    when(col("doc_id") % 17 === 0, lit(C4Degenerate)).otherwise(concat(
      Seq(lit("Document "), col("doc_id").cast("string"), lit(C4FirstLine)) ++
        C4CondSegs.map { case (m, s) =>
          if (m == 1) lit(s)
          else when(col("doc_id") % m === 0, lit(s)).otherwise(lit(""))
        }: _*))
  /** [[sqlStr]] splitting \n/\r out as DuckDB chr() calls. */
  private def sqlStrCtl(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit = if (sb.nonEmpty) { parts += sqlStr(sb.toString); sb.clear() }
    s.foreach {
      case '\n' => flush(); parts += "chr(10)"
      case '\r' => flush(); parts += "chr(13)"
      case c => sb.append(c)
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }
  private def synthC4TextSql: String = {
    val base = Seq("'Document '", "CAST(doc_id AS VARCHAR)", sqlStr(C4FirstLine)) ++
      C4CondSegs.map { case (m, s) =>
        if (m == 1) sqlStrCtl(s)
        else s"(CASE WHEN doc_id % $m = 0 THEN ${sqlStrCtl(s)} ELSE '' END)"
      }
    s"(CASE WHEN doc_id % 17 = 0 THEN ${sqlStr(C4Degenerate)} ELSE ${base.mkString(" || ")} END)"
  }

  /** doc_id-conditional suffixes for q_gopher_filter (same shared-segment
    * discipline as [[synthC4TextCol]]): the corpus text is single-line with
    * ZERO Gopher stopwords, so without synthesis only the word-count rule
    * discriminates (round-11 run: rule_stop false and keep=false for all
    * 500 docs, five rules constant-true). Each segment pushes one rule
    * across its threshold for a doc_id stratum, with margins that hold
    * across the fixture's 10–99-word range: non-%5 docs gain a
    * stopword-rich tail (rule_stop true; %5 docs keep the stopword-free
    * base → false), %7 floods 150 one-char words (mean word length < 3),
    * %11 floods `a###` words (120 hash chars → symbol ratio > 0.1, still
    * alpha so rules stay decoupled), %19 floods digit words (alpha
    * fraction < 0.8), %13 appends 12 bullet lines (bullet fraction
    * 12/13 > 0.9), %17 appends an ellipsis-terminated line (1/2 > 0.3).
    * `(modulus, fireOnEquals, segment)`; both the Column and the SQL twin
    * derive from this one list.
    */
  private val GopherSegs: Seq[(Int, Boolean, String)] = Seq(
    (5, false, " we kept the rest of that story"),
    (7, true, " " + Seq.fill(150)("a").mkString(" ")),
    (11, true, " " + Seq.fill(40)("a###").mkString(" ")),
    (19, true, " " + Seq.fill(40)("1234").mkString(" ")),
    (13, true, (1 to 12).map(i => s"\n- bullet item $i").mkString),
    (17, true, "\nAnd the tale continued on..."))
  private def gopherSynthCol: Column = concat(col("text") +: GopherSegs.map {
    case (m, eq, s) =>
      val cond = if (eq) col("doc_id") % m === 0 else col("doc_id") % m =!= 0
      when(cond, lit(s)).otherwise(lit(""))
  }: _*)
  private def gopherSynthSql: String = "text || " + GopherSegs.map {
    case (m, eq, s) =>
      val op = if (eq) "=" else "<>"
      s"(CASE WHEN doc_id % $m $op 0 THEN ${sqlStrCtl(s)} ELSE '' END)"
  }.mkString(" || ")

  /** q_lang_id fixture: the corpus is English-only (de/fr/es hits were 0
    * for every doc), so doc_id strata append 3× a language's full marker
    * list — 30 target-language hits dominate both the base English hits
    * and the cross-language marker overlap (fr/es share `la un que`: 9
    * hits), flipping lang_pred per stratum while %4==0 docs keep the
    * base en/und behavior.
    */
  private def langMarkerSuffix(lang: String): String =
    " " + Seq.fill(3)(ops.TextAnalysis.LangMarkers(lang).mkString(" ")).mkString(" ")
  private def langIdSynthCol: Column = concat(col("text"),
    when(col("doc_id") % 4 === 1, lit(langMarkerSuffix("de")))
      .when(col("doc_id") % 4 === 2, lit(langMarkerSuffix("fr")))
      .when(col("doc_id") % 4 === 3, lit(langMarkerSuffix("es")))
      .otherwise(lit("")))
  private def langIdSynthSql: String =
    s"""text || (CASE WHEN doc_id % 4 = 1 THEN ${sqlStr(langMarkerSuffix("de"))}
       |  WHEN doc_id % 4 = 2 THEN ${sqlStr(langMarkerSuffix("fr"))}
       |  WHEN doc_id % 4 = 3 THEN ${sqlStr(langMarkerSuffix("es"))}
       |  ELSE '' END)""".stripMargin

  /** q_ccnet_lang_split fixture: a MULTILINGUAL page — the fixture body
    * as line 1 (en or und per its own marker content), a German line on
    * every doc, a French/Spanish line alternating by parity, an
    * unclassifiable line on doc_id%3==0, and a repeated-language line
    * (second German) on doc_id%5==0 so the per-language regroup carries
    * real multiplicity and ORDER (line indexes 0..4).
    */
  private def langSplitSynthCol: Column = concat(col("text"),
    lit("\n" + langMarkerSuffix("de").trim),
    when(col("doc_id") % 2 === 0, lit("\n" + langMarkerSuffix("fr").trim))
      .otherwise(lit("\n" + langMarkerSuffix("es").trim)),
    when(col("doc_id") % 3 === 0,
      concat(lit("\nzz qq xx blob "), col("doc_id").cast("string")))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit("\n"), lit(langMarkerSuffix("de").trim), lit(" nummer "),
        col("doc_id").cast("string")))
      .otherwise(lit("")))
  private def langSplitSynthSql: String =
    s"""text || chr(10) || ${sqlStr(langMarkerSuffix("de").trim)}
       | || (CASE WHEN doc_id % 2 = 0 THEN chr(10) || ${sqlStr(langMarkerSuffix("fr").trim)}
       |     ELSE chr(10) || ${sqlStr(langMarkerSuffix("es").trim)} END)
       | || (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'zz qq xx blob ' || doc_id ELSE '' END)
       | || (CASE WHEN doc_id % 5 = 0 THEN chr(10) || ${sqlStr(langMarkerSuffix("de").trim)}
       |     || ' nummer ' || doc_id ELSE '' END)""".stripMargin.replace("\n", " ")

  /** q_quality fixture: the corpus text has zero punctuation (punct_ratio
    * was 0.0 for every doc), so %6==0 docs gain a punctuation-dense tail —
    * the penalty branch of the quality formula finally discriminates.
    */
  private val QualityPunctTail = " well, punctuated; more: (text)! and the end of it."
  private def qualitySynthCol: Column = concat(col("text"),
    when(col("doc_id") % 6 === 0, lit(QualityPunctTail)).otherwise(lit("")))
  private def qualitySynthSql: String =
    s"text || (CASE WHEN doc_id % 6 = 0 THEN ${sqlStr(QualityPunctTail)} ELSE '' END)"

  /** Exact-dup injection shared by q_clean_pipeline / q_corpus_report
    * (the raw corpus has no exact duplicates): %11==1 docs repeat
    * doc_id-1 verbatim, so the pipeline's canonical/dedup stage and the
    * report's n_dups column discriminate at the gate.
    */
  private def dupInjectedDocs(docs: DataFrame): DataFrame = {
    val refT = docs.select(col("doc_id").as("__rid"), col("text").as("__rt"))
    docs
      .withColumn("__key",
        when(col("doc_id") % 11 === 1, col("doc_id") - 1).otherwise(lit(-1L)))
      .join(refT, col("__key") === col("__rid"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 1, col("__rt")).otherwise(col("text")).as("text"))
  }

  /** q_boilerplate fixture: every doc's extracted page kept exactly 2
    * lines (the shared HTML template is structurally constant), so the
    * keep/drop rule never discriminated. doc_id strata append extra lines
    * INSIDE the wrapped text — a 3-word nav-ish line that the filter must
    * drop plus terminal-punctuated sentences it must keep — so
    * n_lines_kept varies {2,3,4} across docs and the dropped-line path is
    * exercised mid-document.
    */
  private val BoilerSegs: Seq[(Int, String)] = Seq(
    (3, "\nnav menu link\nThis extra paragraph sentence is long enough to keep."),
    (7, "\nAnother kept sentence arrives at the very end!"))
  private def boilerSynthCol: Column = concat(col("text") +: BoilerSegs.map {
    case (m, s) => when(col("doc_id") % m === 0, lit(s)).otherwise(lit(""))
  }: _*)
  private def boilerSynthSql: String = "text || " + BoilerSegs.map {
    case (m, s) => s"(CASE WHEN doc_id % $m = 0 THEN ${sqlStrCtl(s)} ELSE '' END)"
  }.mkString(" || ")

  /** HTTP response head for the WARC fixture (ASCII, so its byte length is
    * its char length — the SQL twin embeds the constant).
    */
  private val WarcHttpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"

  /** One Common-Crawl-shaped record per doc: the [[synthHtmlString]] page
    * inside an HTTP/1.1 200 response inside a WARC/1.0 response record
    * inside its own gzip member. Every layer is a pure function of
    * (doc_id, text), so the oracle predicts all parsed fields — a match
    * proves gzip member read, WARC header walk + Content-Length byte math,
    * and the HTTP header/body split against a spec-conformant writer.
    * Since r16 the HTTP BODY WIRING varies by id stratum — id %% 4 = 0
    * plain, 1 `Content-Encoding: gzip`, 2 `Transfer-Encoding: chunked`
    * (7-byte chunks, so multi-chunk and a ragged tail), 3 BOTH (gzip
    * inside chunked framing, the wire order real servers emit) — and the
    * decoded body is byte-identical across strata, so every downstream
    * consumer's oracle (q_warc_extract, the q_corpus_e2e chain) pins the
    * de-chunk + inflate path without any SQL change.
    */
  private[graft] def synthWarcGz(id: Long, text: String,
                                 zstdStratum: Boolean = false): Array[Byte] = {
    import graft.sources.WarcCodec
    val html = synthHtmlString(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val (extraHead, body) = (id % 4) match {
      case 1 => ("Content-Encoding: gzip\r\n", WarcCodec.gzipMember(html))
      case 2 => ("Transfer-Encoding: chunked\r\n", WarcCodec.chunked(html, 7))
      case 3 => ("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
        WarcCodec.chunked(WarcCodec.gzipMember(html), 7))
      case _ => ("", html)
    }
    val head = (WarcHttpHead.stripSuffix("\r\n") + extraHead + "\r\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val http = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, http, 0, head.length)
    System.arraycopy(body, 0, http, head.length, body.length)
    val rec = WarcCodec.WarcRecord(
      "response", s"http://example.com/doc/$id", "2024-01-01T00:00:00Z",
      s"<urn:uuid:$id>", "application/http; msgtype=response", http)
    // r18 member-compression stratum (q_warc_extract only — the corpus
    // shard writers concatenate members into ONE .warc.gz file, and
    // real archives never mix member compressions within a file):
    // id%5==2 rows arrive as `.warc.zst`-style frames (leading
    // skippable frame the reader must SKIP + one zstd frame) — the
    // oracle is untouched because member compression must be invisible
    // to everything downstream
    if (zstdStratum && id % 5 == 2) WarcCodec.writeWarcZst(Seq(rec))
    else WarcCodec.gzipMember(WarcCodec.writeRecord(rec))
  }

  /** Deterministic URL fixture for q_url_canon / q_url_dedup: three
    * id-driven shapes covering uppercase scheme/host, `www.`, default
    * ports, fragments, and tracking params in first/middle/only positions.
    */
  private[graft] def synthUrlCol: Column = {
    val v = col("doc_id") % 3
    when(v === 0, concat(lit("http://Site"), (col("doc_id") % 20).cast("string"),
        lit(".ORG:80/index.html#frag")))
      .when(v === 1, concat(lit("HTTPS://WWW.Example"), (col("doc_id") % 50).cast("string"),
        lit(".COM:443/Path/"), col("doc_id").cast("string"), lit("?utm_source=x&gclid=1")))
      .otherwise(concat(lit("https://blog.example"), (col("doc_id") % 50).cast("string"),
        lit(".com/post?id="), (col("doc_id") % 10).cast("string"),
        lit("&utm_campaign=y&ref=z&page=2")))
  }
  /** DuckDB twin PREDICTING the canonical output of [[synthUrlCol]]. */
  private def synthUrlCanonSql: String =
    """CASE doc_id % 3
      |  WHEN 0 THEN 'http://site' || (doc_id % 20) || '.org/index.html'
      |  WHEN 1 THEN 'https://example' || (doc_id % 50) || '.com/Path/' || doc_id
      |  ELSE 'https://blog.example' || (doc_id % 50) || '.com/post?id=' || (doc_id % 10) || '&page=2'
      |END""".stripMargin.replace("\n", " ")
  private def synthUrlHostSql: String =
    """CASE doc_id % 3
      |  WHEN 0 THEN 'site' || (doc_id % 20) || '.org'
      |  WHEN 1 THEN 'example' || (doc_id % 50) || '.com'
      |  ELSE 'blog.example' || (doc_id % 50) || '.com'
      |END""".stripMargin.replace("\n", " ")
  private def synthUrlDomainSql: String =
    """CASE doc_id % 3
      |  WHEN 0 THEN 'site' || (doc_id % 20) || '.org'
      |  ELSE 'example' || (doc_id % 50) || '.com'
      |END""".stripMargin.replace("\n", " ")

  /** Driver-side single-row lookup of the canonical probe vector (vec_id=0) —
    * the analog of embedding the query string (reference base.py:307-310).
    * Memoized per dir (r19): the probe is INPUT fixture prep — a real
    * deployment embeds the query on the driver, it does not scan the corpus
    * per search — so the eight ANN gates that share it should not each pay
    * a parquet job to re-derive the same 64 floats.
    */
  private def probeVec(s: SparkSession, dir: String): Seq[Float] =
    memo("probe", dir) { _ =>
      tbl(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
    }

  /** DuckDB SQL fragment: exact cosine over DOUBLE[] (same double-accumulation
    * order as the native CosineSimilarity expression).
    */
  private def sqlCos(a: String, b: String): String =
    s"list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / " +
      s"(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))"
  private def sqlL2(a: String, b: String): String =
    s"sqrt(list_dot_product(list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> p[1] - p[2]), " +
      s"list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> p[1] - p[2])))"
  /** DuckDB words twin of textfn.words. */
  private val sqlWords = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
  /** DuckDB twin of textfn.hexhash60. */
  private def sqlHex60(s: String): String = s"CAST(concat('0x', substr(md5($s), 1, 15)) AS BIGINT)"
  private def sqlHex32(s: String): String = s"CAST(concat('0x', substr(md5($s), 1, 8)) AS BIGINT)"

  /** q_bbpe_encode training depth (8 merges: enough for multi-level
    * symbols like Ġ+t+a chains without an unreadable oracle). */
  private val BbpeMergeRounds = 8

  /** q_bbpe_encode fixture: the documents text plus strata exercising
    * every RE2-replayable pretokenizer branch — contractions, space- and
    * bare-digit runs, punctuation runs (the !!! run length varies by
    * doc_id and hits the same-symbol overlap rule). Single spaces only
    * and no trailing whitespace BY CONSTRUCTION: the GPT-2 lookahead
    * branch (\s+(?!\S)) is not RE2-expressible, so the oracle's pattern
    * drops the two whitespace branches — valid exactly because no
    * whitespace run exists here; the kernel's full-pattern behavior on
    * runs is pinned in ByteBpeSpec instead.
    */
  private def bbpeDocs(s: SparkSession, dir: String): DataFrame =
    docsPar(s, dir).select(col("doc_id"), concat(col("text"),
      lit(" it's "), (col("doc_id") % 97).cast("string"),
      lit(" we'll go"), (col("doc_id") % 10).cast("string"),
      expr("repeat('!', CAST(2 + doc_id % 3 AS INT))"),
      lit(" yes... "),
      when(col("doc_id") % 2 === 0, lit("don't stop"))
        .otherwise(lit("i'm here"))).as("text"))

  /** q_boilerplate_blocks fixture: nine blocks per page covering every
    * jusText class and both line-rule/block-rule DISAGREEMENT directions
    * — a link-dense nav that ends in '.' (line rule keeps, block rule
    * bad) and a 3-word connector between good paragraphs (line rule
    * drops, block rule promotes). Block 6 embeds a doc_id-varying slice
    * of the fixture text so its stopword density (and with it the
    * short/neargood revise outcomes of blocks 5–7) varies per document.
    */
  private def justextDocs(s: SparkSession, dir: String): DataFrame =
    docsPar(s, dir).select(col("doc_id"), concat(
      lit("<h1>page "), col("doc_id").cast("string"), lit("</h1><p>"),
      expr("repeat('it is the case that the run was good and ', CAST(5 + doc_id % 2 AS INT))"),
      lit("doc "), col("doc_id").cast("string"), lit(" ends here.</p>"),
      lit("<p>in short yes</p><p>"),
      expr("repeat('we think that it was a fine day for the work and ', 5)"),
      lit("all of it was done for doc "), col("doc_id").cast("string"), lit(".</p>"),
      lit("<div><a href=\"/a\">home page link text goes here</a> " +
        "<a href=\"/b\">more link text for density</a> go to the next pages now.</div>"),
      lit("<p>tiny note here</p><p>"),
      expr("substring(text, 1, CAST(60 + doc_id % 40 AS INT))"),
      lit(" block six</p>"),
      lit("<p>the cat and dog ran with mouse on mats they all sat very well here now</p>"),
      lit("<p>© "), (col("doc_id") % 20 + 2000).cast("string"),
      lit(" the company and all of the rights that are held by it remain in place.</p>")
    ).as("html"))

  /** DuckDB twin of [[justextDocs]]'s synthesized page. */
  private val justextSynthSql: String =
    "'<h1>page ' || doc_id || '</h1><p>' || " +
      "repeat('it is the case that the run was good and ', CAST(5 + doc_id % 2 AS INT)) || " +
      "'doc ' || doc_id || ' ends here.</p>' || " +
      "'<p>in short yes</p><p>' || " +
      "repeat('we think that it was a fine day for the work and ', 5) || " +
      "'all of it was done for doc ' || doc_id || '.</p>' || " +
      "'<div><a href=\"/a\">home page link text goes here</a> " +
      "<a href=\"/b\">more link text for density</a> go to the next pages now.</div>' || " +
      "'<p>tiny note here</p><p>' || " +
      "substring(text, 1, CAST(60 + doc_id % 40 AS INT)) || ' block six</p>' || " +
      "'<p>the cat and dog ran with mouse on mats they all sat very well here now</p>' || " +
      "'<p>© ' || (2000 + doc_id % 20) || " +
      "' the company and all of the rights that are held by it remain in place.</p>'"

  /** q_cross_span_dedup fixture: every doc carries a 20-word planted
    * span keyed by doc_id%4 inside per-doc-unique surroundings — docs in
    * the same group share the span VERBATIM but at different offsets
    * with different neighbors, the case document-level cross dedup
    * misses and substring-level dedup must catch.
    */
  private def crossSpanDocs(s: SparkSession, dir: String): DataFrame =
    docsPar(s, dir).select(col("doc_id"), concat(col("text"),
      lit(" begin"), col("doc_id").cast("string"), lit(" "),
      expr("repeat('sp' || CAST(doc_id % 4 AS STRING) || 'a sp' || " +
        "CAST(doc_id % 4 AS STRING) || 'b ', 10)"),
      lit("end"), col("doc_id").cast("string")).as("text"))

  /** DuckDB twin of [[crossSpanDocs]]'s synthesized text. */
  private val crossSpanSynthSql: String =
    "text || ' begin' || doc_id || ' ' || " +
      "repeat('sp' || (doc_id % 4) || 'a sp' || (doc_id % 4) || 'b ', 10) || " +
      "'end' || doc_id"

  /** DuckDB twin of [[bbpeDocs]]'s synthesized text. */
  private val bbpeSynthSql: String =
    "text || ' it''s ' || CAST(doc_id % 97 AS VARCHAR) || ' we''ll go' || " +
      "CAST(doc_id % 10 AS VARCHAR) || repeat('!', CAST(2 + doc_id % 3 AS INT)) || " +
      "' yes... ' || CASE WHEN doc_id % 2 = 0 THEN 'don''t stop' ELSE 'i''m here' END"

  /** DuckDB replay of the FULL byte-level-BPE merge walk — GENERATED,
    * one block of CTEs per training round (the [[knOracleSql]]
    * discipline): pretokenize (GPT-2 pattern minus the RE2-inexpressible
    * whitespace branches — see [[bbpeDocs]]), map bytes to the GPT-2
    * alphabet (space → Ġ = chr(288); everything else in the fixture is
    * printable ASCII and maps to itself), then per round: adjacent-pair
    * counts weighted by pretoken frequency → (count desc, pair asc)
    * argmax → leftmost-nonoverlapping merge apply. The apply's only
    * sequential part — same-symbol runs (a=b), where leftmost
    * non-overlap keeps every ODD occurrence — is exact in SQL as run
    * parity: group consecutive hit positions (pos − row_number), keep
    * odd ranks. The final symbolization is each pretoken's encode (the
    * invariant ByteBpeSpec's "training walk consistency" test pins).
    */
  private def bbpeOracleSql(rounds: Int): String = {
    // apostrophes doubled: the pattern rides inside a SQL string literal
    val pat = """''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"""
    val roundCtes = (1 to rounds).map { r =>
      val p = s"s${r - 1}"
      s""" w$r AS (SELECT pretoken, cnt, pos, sym,
         |     lead(sym) OVER (PARTITION BY pretoken ORDER BY pos) AS nxt FROM $p),
         | b$r AS MATERIALIZED (SELECT a, b FROM (SELECT sym AS a, nxt AS b, sum(cnt) AS c
         |     FROM w$r WHERE nxt IS NOT NULL GROUP BY 1, 2)
         |   ORDER BY c DESC, a, b LIMIT 1),
         | m$r AS MATERIALIZED (SELECT w.pretoken, w.cnt, w.pos, w.sym, w.nxt,
         |     coalesce(w.sym = b.a AND w.nxt = b.b, FALSE) AS hit
         |   FROM w$r w CROSS JOIN b$r b),
         | h$r AS MATERIALIZED (SELECT pretoken, pos,
         |     pos - row_number() OVER (PARTITION BY pretoken ORDER BY pos) AS grp
         |   FROM m$r WHERE hit),
         | v$r AS MATERIALIZED (SELECT pretoken, pos FROM (SELECT pretoken, pos,
         |     row_number() OVER (PARTITION BY pretoken, grp ORDER BY pos) AS pr FROM h$r)
         |   WHERE pr % 2 = 1),
         | s$r AS MATERIALIZED (SELECT m.pretoken, m.cnt,
         |     row_number() OVER (PARTITION BY m.pretoken ORDER BY m.pos) AS pos,
         |     CASE WHEN v.pos IS NOT NULL THEN m.sym || m.nxt ELSE m.sym END AS sym
         |   FROM m$r m LEFT JOIN v$r v ON v.pretoken = m.pretoken AND v.pos = m.pos
         |   WHERE NOT EXISTS (SELECT 1 FROM v$r v2
         |     WHERE v2.pretoken = m.pretoken AND v2.pos = m.pos - 1)),""".stripMargin
    }.mkString("\n")
    s"""WITH base AS (SELECT doc_id, $bbpeSynthSql AS t FROM documents),
       | pt AS (SELECT unnest(regexp_extract_all(t, '$pat')) AS pretoken FROM base),
       | vc AS MATERIALIZED (SELECT pretoken, count(*) AS cnt FROM pt GROUP BY 1),
       | sym0 AS (SELECT pretoken, cnt,
       |     unnest(range(1, length(pretoken) + 1)) AS pos FROM vc),
       | s0 AS MATERIALIZED (SELECT pretoken, cnt, CAST(pos AS BIGINT) AS pos,
       |     CASE WHEN substr(pretoken, CAST(pos AS INT), 1) = ' ' THEN chr(288)
       |          ELSE substr(pretoken, CAST(pos AS INT), 1) END AS sym FROM sym0),
       |$roundCtes
       | fin AS (SELECT pretoken, string_agg(sym, '/' ORDER BY pos) AS pieces,
       |     CAST(count(*) AS BIGINT) AS n_pieces FROM s$rounds GROUP BY pretoken)
       |SELECT v.pretoken, f.pieces, f.n_pieces, CAST(v.cnt AS BIGINT) AS cnt
       |FROM vc v JOIN fin f USING (pretoken) WHERE length(v.pretoken) <= 16
       |ORDER BY pretoken""".stripMargin
  }

  /** DuckDB replay of the interpolated-KN surprisal at `order`,
    * self-trained — GENERATED from the same recursion the engine's
    * [[graft.ops.FullText.ngramSurprisalKN]] folds over (c_n type table →
    * continuation chain low_{n−1}…low_2 → cont, one CASE ladder level per
    * backoff order), so the oracle's expression tree deepens with the
    * order instead of being hand-copied per order. The order-3/4 oracles
    * predate this generator and stay as literal strings (bit-identity of
    * shipped gates); order 5+ gates use it.
    */
  private def knOracleSql(order: Int, foreign: Boolean = false,
                          minCount: Int = 1): String = {
    val n = order
    val ws = (1 to n).map(i => s"w$i")
    val cnt = n match {
      case 3 => "n_trigrams"; case 4 => "n_fourgrams"; case 5 => "n_fivegrams"
      case _ => s"n_${n}grams"
    }
    def instCols = ws.zipWithIndex.map { case (w, i) =>
      val idx = if (i == 0) "w[i]" else s"w[i+$i]"
      s"unnest(list_transform(range(1, len(w) - ${n - 2}), i -> $idx)) AS $w"
    }.mkString(",\n     ")
    def grp(k: Int) = (1 to k).mkString(", ")
    // base CTEs: self-trained reads one slice for LM and positions;
    // foreign trains on doc_id%3=0 and scores the rest (the kn_xc split)
    val base =
      if (foreign)
        s"""WITH ttr AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE doc_id % 3 = 0),
           | tsc AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE doc_id % 3 <> 0),
           | inst AS (SELECT doc_id,
           |     $instCols
           |   FROM ttr WHERE len(w) >= $n),
           | sinst AS (SELECT doc_id,
           |     $instCols
           |   FROM tsc WHERE len(w) >= $n),""".stripMargin
      else
        s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
           | inst AS (SELECT doc_id,
           |     $instCols
           |   FROM t WHERE len(w) >= $n),""".stripMargin
    val vocabSrc = if (foreign) "ttr" else "t"
    val dtSrc = if (foreign) "sinst" else "inst"
    // pruning: the context CTE also aggregates the discounted mass of the
    // sub-minCount types (folded into the interpolation weight — the
    // KenLM renormalize-into-backoff behavior the engine implements)
    val pmassCol =
      if (minCount > 1)
        s",\n |     sum(CASE WHEN tc < $minCount THEN greatest(tc - 0.75, 0.0) ELSE 0.0 END) AS pmass"
          .stripMargin
      else ""
    // continuation chain CTEs: low_j keyed on the LAST j words, each an
    // agg of the level above; ctx_j the context marginals of low_j
    val chain = ((n - 1) to 2 by -1).map { j =>
      val src = if (j == n - 1) s"c$n" else s"low${j + 1}"
      val keys = ws.takeRight(j)
      val ctxKeys = ws.slice(n - j, n - 1)
      s""" low$j AS (SELECT ${keys.mkString(", ")}, count(*) AS lowc$j FROM $src GROUP BY ${grp(j)}),
         | ctx$j AS (SELECT ${ctxKeys.mkString(", ")}, sum(lowc$j) AS ctot$j, count(*) AS ctyp$j FROM low$j GROUP BY ${grp(j - 1)}),""".stripMargin
    }.mkString("\n")
    // the interpolation ladder, bottom-up — the engine's exact shapes;
    // with pruning, the top level zeroes the sub-minCount discounted
    // count and carries the redistributed mass in the weight
    var p = "(coalesce(cw, 0) + 1.0) / (ntypes + v)"
    for (j <- 2 to n - 1)
      p = s"(CASE WHEN coalesce(ctot$j, 0) > 0 THEN (greatest(coalesce(lowc$j, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp$j, 0) * $p) / ctot$j ELSE $p END)"
    val tcEff =
      if (minCount > 1) s"(CASE WHEN coalesce(tc, 0) >= $minCount THEN tc ELSE 0 END)"
      else "coalesce(tc, 0)"
    val interpW =
      if (minCount > 1) "(0.75 * coalesce(mid, 0) + coalesce(pmass, 0.0))"
      else "0.75 * coalesce(mid, 0)"
    val pTop = s"CASE WHEN coalesce(csum, 0) > 0 THEN (greatest($tcEff - 0.75, 0.0) + $interpW * $p) / csum ELSE $p END"
    val joins = ((n - 1) to 2 by -1).map { j =>
      s"LEFT JOIN low$j USING (${ws.takeRight(j).mkString(", ")}) LEFT JOIN ctx$j USING (${ws.slice(n - j, n - 1).mkString(", ")})"
    }.mkString("\n     ")
    val tail =
      if (foreign)
        s"""FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) d
           |LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
      else "FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id"
    s"""$base
       | c$n AS (SELECT ${ws.mkString(", ")}, count(*) AS tc FROM inst GROUP BY ${grp(n)}),
       | ctx AS (SELECT ${ws.init.mkString(", ")}, sum(tc) AS csum, count(*) AS mid$pmassCol FROM c$n GROUP BY ${grp(n - 1)}),
       |$chain
       | cont AS (SELECT ${ws.last}, count(*) AS cw FROM low2 GROUP BY 1),
       | tot AS (SELECT (SELECT count(*) FROM low2) AS ntypes,
       |     (SELECT count(DISTINCT u) FROM (SELECT unnest(w) AS u FROM $vocabSrc)) AS v),
       | dt AS (SELECT doc_id, ${ws.mkString(", ")}, count(*) AS k FROM $dtSrc GROUP BY ${grp(n + 1)}),
       | sc AS (SELECT dt.doc_id, dt.k,
       |     CAST(round(-ln($pTop) * 1000000) AS BIGINT) AS m
       |   FROM dt LEFT JOIN c$n USING (${ws.mkString(", ")}) LEFT JOIN ctx USING (${ws.init.mkString(", ")})
       |     $joins
       |     LEFT JOIN cont USING (${ws.last}), tot),
       | agg AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n, CAST(sum(k * m) AS BIGINT) AS s FROM sc GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS $cnt,
       |  coalesce(round(s / (n * 1000000.0), 6), 0.0) AS avg_neg_logp
       |$tail""".stripMargin
  }

  // ------------------------------------------------------------- scratch

  private val scratchDirs = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.synchronized {
        scratchDirs.foreach(p =>
          org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
      }))
  }

  /** Per-gate index scratch dir, deleted when the JVM exits — a 3-pass
    * bench (or a Verify run) leaves no /tmp residue. Deletion must be
    * END-OF-PROCESS, not end-of-gate: the gates return LAZY DataFrames
    * whose scans read these files after the gate lambda has returned.
    * `SPARK_GRAFT_SCRATCH` overrides the base (e.g. a bench harness
    * pointing gates inside its own run dir).
    */
  private def gateScratch(tag: String): String = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(base)
    val dir = java.nio.file.Files.createTempDirectory(base, tag)
    scratchHook
    scratchDirs.synchronized { scratchDirs += dir }
    dir.toString
  }

  /** Per-JVM fixture memo: the value `build` makes for (fixture `tag`,
    * `dir`) on first use — ingest state, like the parquet fixtures
    * themselves, so the gates measure the query path while pass 1
    * of the bench still pays and reports the build. `build` gets the
    * fixture's [[gateScratch]] dir, created only if it reads it; a build
    * that ships the path to executors must bind it to a val first.
    */
  private val fixtures = scala.collection.concurrent.TrieMap.empty[(String, String), Any]
  private def memo[A](tag: String, dir: String)(build: (=> String) => A): A =
    fixtures.getOrElseUpdate((tag, dir), {
      lazy val scratch = gateScratch(s"graft-$tag")
      build(scratch)
    }).asInstanceOf[A]

  /** (doc_id, media) rows for the first 100 documents: `synth(doc_id)`'s
    * bytes, generated executor-side.
    */
  private def mediaDocs(s: SparkSession, dir: String)(synth: Long => Array[Byte]): DataFrame = {
    import s.implicits._
    tbl(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id")).as[Long]
      .map(id => (id, synth(id)))
      .toDF("doc_id", "media")
  }

  /** An audio-fingerprint gate's output: the 64-bit `afp` as the unsigned
    * 32-bit halves (afp_hi, afp_lo) its oracle computes.
    */
  private def afpHalves(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("sample_rate"), col("n_frames"), col("n_granules"),
        shiftrightunsigned(col("afp"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("afp_hi"),
        col("afp").bitwiseAND(lit(0xFFFFFFFFL)).as("afp_lo"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- flagship

  /** Flagship on sf0.001: full reference lifecycle — chunk the documents
    * table under a token budget, embed with the deterministic hash backend,
    * build the Document index, run a semantic search and hydrate scores.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = tbl(spark, dir, "documents")
    val config = IndexConfig(name = "docs", keyColumn = "doc_id",
      fields = Seq(EmbeddingField("source", important = true), EmbeddingField("text")),
      tokenLimit = 64, chunkOverlap = 8, dims = 64)
    val indexPath = gateScratch("graft-entry") + "/docs"
    val index = graft.api.VectorIndex.local(spark, config, indexPath, "documents", "doc_id")
    graft.api.IndexRegistry.register(index, () => docs)
    graft.api.IndexRegistry.rebuildAll()
    val hits = index.search("spark vector join query", k = 5, threshold = -1.0)
    // the same lifecycle through the OTHER IndexStore impl — the provider
    // seam (reference StorageProvider, storage/base.py:48-71) exercised
    // end-to-end in the flagship, not just in specs: a store swap must be
    // invisible to rebuild/search
    val memIndex = new graft.api.VectorIndex(spark, config,
      graft.embed.HashEmbeddingBackend(config.dims), graft.embed.EchoChatBackend(),
      indexPath + "_mem", "documents", "doc_id",
      storeOverride = Some(new graft.api.InMemoryIndexStore(spark)))
    memIndex.rebuild(docs)
    val memHits = memIndex.search("spark vector join query", k = 5, threshold = -1.0)
    hits.withColumn("store", lit("parquet"))
      .unionByName(memHits.withColumn("store", lit("in-memory")))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // ---- KNN retrieval (J1/J2, P6, O1; metrics cosine/L2/MIP) ----
    "q_knn_cosine" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      tbl(s, dir, "embeddings")
        .withColumn("score", round(vec_cosine(col("embedding"), typedLit(qv)), 6))
        .filter(col("score") >= -1.0)
        .orderBy(desc("score"), col("vec_id").asc).limit(10)
        .select("vec_id", "score")
    },
    "q_knn_l2" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      tbl(s, dir, "embeddings")
        .withColumn("dist", round(vec_l2(col("embedding"), typedLit(qv)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
        .select("vec_id", "dist")
    },
    "q_knn_mip" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      tbl(s, dir, "embeddings")
        .withColumn("score", round(vec_dot(col("embedding"), typedLit(qv)), 6))
        .orderBy(desc("score"), col("vec_id").asc).limit(10)
        .select("vec_id", "score")
    },
    // metadata-filtered exact KNN (qdrant filter + query_vector semantics):
    // the payload predicate lands BEFORE the top-k and is an In — pushdown-
    // eligible, so it reaches the parquet scan (PlanSpec pins PushedFilters)
    // — true top-k of the filtered set, never a post-filtered page
    "q_knn_filtered" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      tbl(s, dir, "embeddings")
        .filter(col("label").isin(1, 3, 5, 7, 9))
        .withColumn("score", round(vec_cosine(col("embedding"), typedLit(qv)), 6))
        .orderBy(desc("score"), col("vec_id").asc).limit(10)
        .select("vec_id", "label", "score")
    },
    // similarity-threshold filter counts (reference threshold table,
    // tests/test_index.py:256-284)
    "q_knn_threshold" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      val scored = tbl(s, dir, "embeddings")
        .withColumn("score", round(vec_cosine(col("embedding"), typedLit(qv)), 6))
      scored.select(explode(typedLit(Seq(0.9, 0.6, 0.1, -1.0))).as("threshold"), col("score"))
        .groupBy("threshold").agg(count(when(col("score") >= col("threshold"), 1)).as("n"))
        .orderBy(desc("threshold"))
    },
    // batched brute-force top-k (similarity join over a probe set)
    "q_topk_batch" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      SimilaritySearch.bruteForceTopK(emb, probes, k = 5)
        .orderBy(col("qid").asc, col("rank").asc)
        .select("qid", "vec_id", "rank", "score")
    },
    // find_similar: probe = vec 0's own vector, self excluded (J5/J6)
    "q_find_similar" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      tbl(s, dir, "embeddings")
        .withColumn("score", round(vec_cosine(col("embedding"), typedLit(qv)), 6))
        .filter(col("vec_id") =!= 0)
        .orderBy(desc("score"), col("vec_id").asc).limit(5)
        .select("vec_id", "score")
    },
    // A5: order-preserving first-per-key dedup (window row_number)
    "q_dedup_first_per_key" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      val scored = tbl(s, dir, "embeddings")
        .withColumn("score", round(vec_cosine(col("embedding"), typedLit(qv)), 6))
      Retrieval.dedupByKey(scored, keyCol = "label", tieBreaker = "vec_id")
        .orderBy(desc("score"), col("vec_id").asc)
        .select("label", "vec_id", "score")
    },
    // S3/S4: key lookup via object_keys array membership
    "q_key_lookup" -> { (s, dir) =>
      tbl(s, dir, "documents")
        .withColumn("object_keys", array(concat(lit("documents:"), col("doc_id")),
          concat(lit("source:"), col("source"))))
        .filter(array_contains(col("object_keys"), "source:src5"))
        .orderBy(col("doc_id").asc)
        .select(col("doc_id"), col("object_keys").getItem(0).as("primary_key"))
    },
    // J4: hydration join back to a source table
    "q_hydrate" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      val hits = tbl(s, dir, "embeddings")
        .withColumn("score", round(vec_cosine(col("embedding"), typedLit(qv)), 6))
        .orderBy(desc("score"), col("vec_id").asc).limit(20)
        .withColumn("key", concat(lit("customer:"), col("vec_id") % 100 + 1))
      Retrieval.hydrate(hits, tbl(s, dir, "customer"), "customer", "c_custkey")
        .orderBy(desc("score"), col("vec_id").asc)
        .select("vec_id", "score", "c_custkey", "c_name", "c_mktsegment")
    },
    // R1: RAG context assembly (top-5 contents merged with \n)
    "q_rag_context" -> { (s, dir) =>
      val qv = probeVec(s, dir)
      val top = tbl(s, dir, "embeddings")
        .join(tbl(s, dir, "documents"), col("vec_id") === col("doc_id"))
        .withColumn("score", round(vec_cosine(col("embedding"), typedLit(qv)), 6))
        .orderBy(desc("score"), col("vec_id").asc).limit(5)
        .select(col("vec_id"), col("score"), col("text"))
      top.agg(
        array_join(transform(array_sort(collect_list(struct(-col("score"), col("vec_id"), col("text")))),
          x => x.getField("text")), "\n").as("context"),
        count(lit(1)).cast("long").as("n_sources"))
    },
    // A3/A4: incremental content-hash change detection
    "q_incremental_diff" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val newChunks = docs.select(col("doc_id").cast("string").as("key"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" [updated]")))
          .otherwise(col("text")).as("content"))
      val stored = docs.select(col("doc_id"),
        array(col("doc_id").cast("string")).as("object_keys"),
        lit(null).cast("array<float>").as("vector"),
        col("text").as("content"),
        map().cast("map<string,string>").as("metadata"))
      val (changed, _) = IndexBuild.diffAgainstIndex(newChunks, Some(stored))
      changed.select(col("key").cast("long").as("doc_id")).distinct().orderBy("doc_id")
    },
    // T2/T3: recursive character splitter, DuckDB-verified: the fixture
    // corpus has no newlines/tabs, every doc contains spaces, and no word's
    // token length reaches the chunk budget (asserted over all SFs), so
    // splitText reduces exactly to one mergeSplits pass over words — a
    // sequential greedy fold with overlap backtracking that the oracle
    // replays as a recursive-CTE state machine (see chunkOracleSql)
    "q_chunk" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val config = graft.core.IndexConfig(name = "docs", keyColumn = "doc_id",
        fields = Seq(EmbeddingField("source", important = true), EmbeddingField("text")),
        tokenLimit = 32, chunkOverlap = 8)
      val keyed = docs.withColumn("key", concat_ws(":", lit("documents"), col("doc_id")))
      IndexBuild.chunk(IndexBuild.extractFields(keyed, config), config)
        .select(col("key"), col("chunk_index"), length(col("content")).as("chunk_chars"))
        .orderBy(col("key"), col("chunk_index"))
    },
    // S6: dimension pre-filter scan (multi-model index support)
    "q_dims_filter" -> { (s, dir) =>
      tbl(s, dir, "embeddings")
        .filter(size(col("embedding")) === 64)
        .groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy("label")
    },
    // scale path for batched top-k: bounded-buffer typed aggregator instead
    // of a window over all scored pairs (shuffle carries k rows per group)
    "q_topk_agg" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.TopKAggregator
      import graft.functions.TopKAggregator.Scored
      val qv = probeVec(s, dir)
      val scored = tbl(s, dir, "embeddings")
        .select(col("label"), col("vec_id"),
          round(vec_cosine(col("embedding"), typedLit(qv)), 6).as("score"))
      val byLabel = scored.as[(Int, Long, Double)]
        .groupByKey(_._1)
        .mapValues { case (_, id, sc) => Scored(id, sc) }
        .agg(TopKAggregator.topK(3))
      byLabel.flatMap { case (label, top) =>
        top.zipWithIndex.map { case (sc, i) => (label, sc.id, i + 1, sc.score) }
      }.toDF("label", "vec_id", "rank", "score")
        .orderBy("label", "rank")
    },
    // ---- ANN scale paths (deterministic md5-seeded LSH / IVF) ----
    "q_ann_lsh" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      SimilaritySearch.lshTopK(emb, probes, dims = 64, k = 5, bits = 8, maxHamming = 2)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // persisted HNSW + incremental delta overlay, exact mode: graph built
    // once (VersionedDir manifest flip), ids 0-2 UPDATED via the sidecar
    // (reversed vectors — stale graph rows must not surface), 900003
    // INSERTED; result ≡ brute force over the overlaid corpus
    "q_ann_hnsw_indexed" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val path = gateScratch("graft_hnsw_gate")
      ops.Hnsw.hnswIndexWrite(emb, path, dims = 64, m = 8, efConstruction = 48,
        shards = 8)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
      val delta = emb.filter(col("vec_id") < 4)
        .select(when(col("vec_id") === 3, col("vec_id") + lit(900000L))
          .otherwise(col("vec_id")).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      ops.Hnsw.hnswTopKIndexed(s, path, probes, k = 5, ef = 1 << 20,
        delta = Some(delta))
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // sharded HNSW in EXACT mode (ef ≥ shard size; the structural level-0
    // chain makes full reachability provable, so the result EQUALS the
    // brute-force top-k and the oracle is the exact SQL) — graph quality
    // at realistic ef is measured in HnswSpec + SCALING.md, the gate pins
    // the shard/build/search/merge machinery end to end
    "q_ann_hnsw" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      ops.Hnsw.hnswTopK(emb, probes, dims = 64, k = 5, m = 8,
        efConstruction = 48, ef = 1 << 20, shards = 8)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // retrieval-quality metrics (recall@k / MRR / nDCG): exact cosine top-5
    // as truth, Hamming-≤1 LSH as the scored route. Probes are REVERSED
    // corpus vectors (exact float op, engine-identical) so no probe has a
    // trivial self-hit — recall spans 0/0.2/0.4 and the zero-hit branch
    // (mrr=0) fires at sf0.01 (FIXTURES.md §C); DCG sums are scaled longs
    "q_retrieval_metrics" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), reverse(col("embedding")).as("qv"))
      val truth = SimilaritySearch.bruteForceTopK(emb, probes, k = 5)
      val retr = SimilaritySearch.lshTopK(emb, probes, dims = 64, k = 5,
        bits = 8, maxHamming = 1)
      SimilaritySearch.retrievalMetrics(truth, retr).orderBy("qid")
    },
    // scale path proper: index written partitionBy(bucket), probe buckets
    // computed driver-side → static partition pruning on the scan (S5).
    // The bucketed index is INGEST state, built once per (dir) like any
    // other stored table (memoized across bench passes): the gate measures
    // the query path; pass 1 of the bench still pays and reports the build.
    "q_ann_lsh_pruned" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val path = lshIndexFor(s, dir)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      SimilaritySearch.lshTopKPruned(s, path, probes, dims = 64, k = 5, bits = 8, maxHamming = 2)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // ANN through the PUBLIC API (r2 verdict #3): VectorIndex.searchVector
    // with mode=Lsh — the store-maintained, versioned, partition-pruned
    // side index; output is the search() shape (hydrated + key-deduped)
    "q_ann_vi_lsh" -> { (s, dir) =>
      val vi = viIndexFor(s, dir)
      vi.searchVector(probeVec(s, dir), k = 5, threshold = -2.0,
          mode = SearchMode.Lsh(bits = 8, maxHamming = 2))
        .select(col("doc_id"), col("score"), col("key"))
        .orderBy(desc("score"), col("doc_id").asc)
    },
    "q_ann_ivf_assign" -> { (s, dir) =>
      val (assigned, _) = SimilaritySearch.ivfAssign(tbl(s, dir, "embeddings"), nCells = 16)
      assigned.select(col("vec_id"), col("cell")).orderBy("vec_id")
    },
    // corpus cartography: per-IVF-cell population + top-3 terms by
    // within-cell document frequency (rank ≤ k = WindowGroupLimit)
    "q_cluster_profile" -> { (s, dir) =>
      SimilaritySearch.clusterProfile(tbl(s, dir, "embeddings"),
          tbl(s, dir, "documents"), nCells = 16, topTerms = 3)
        .orderBy("cell", "rank")
    },
    // SSL-prototypes pruning (Sorscher et al. 2022): distance to the IVF
    // centroid in ONE kernel pass (struct(cell,dist) — no join), one
    // cell-keyed window for the within-cell rank; prune the easiest 25%
    "q_prototypicality" -> { (s, dir) =>
      SimilaritySearch.prototypicality(tbl(s, dir, "embeddings"),
          nCells = 16, pruneEasiest = 0.25)
        .select(col("vec_id"), col("cell"), col("proto_dist"),
          col("proto_rank").cast("long").as("proto_rank"),
          col("n_cell").cast("long").as("n_cell"), col("kept").cast("long").as("kept"))
        .orderBy("vec_id")
    },
    "q_ann_ivf_topk" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val (assigned, centroids) = SimilaritySearch.ivfAssign(emb, nCells = 16)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      SimilaritySearch.ivfTopK(assigned, centroids, probes, k = 5, nProbe = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // filtered IVF ANN: payload predicate on the item side BEFORE the probe
    // join — candidates are (probed cells ∩ filter), top-k ranks only
    // filter-satisfying rows (pre-filtering, not a post-filtered page)
    "q_ann_ivf_filtered" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val (assigned, centroids) = SimilaritySearch.ivfAssign(emb, nCells = 16)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      SimilaritySearch.ivfTopK(assigned, centroids, probes, k = 5, nProbe = 4,
          candidateFilter = Some(col("label") % 2 === 0))
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // the Lloyd-refinement path end-to-end: one deterministic iteration
    // (scaled-long means — the oracle replays it integer-exactly), then the
    // same probe/top-k read as q_ann_ivf_topk against the REFINED centroids
    "q_ann_ivf_lloyd" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val (assigned, centroids) = SimilaritySearch.ivfAssign(emb, nCells = 16, lloydIters = 1)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      SimilaritySearch.ivfTopK(assigned, centroids, probes, k = 5, nProbe = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // IVF twin of q_ann_lsh_pruned: cell-partitioned index, probe cells
    // computed driver-side → static partition pruning (memoized ingest)
    "q_ann_ivf_pruned" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val (path, centroids) = ivfIndexFor(s, dir)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      SimilaritySearch.ivfTopKPruned(s, path, centroids, probes, k = 5, nProbe = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // ---- product quantization: 32×-compressed codes, integer-exact ADC ----
    "q_pq_encode" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val cb = ProductQuantization.pqTrain(emb, PqCfg)
      ProductQuantization.pqEncode(emb, cb, PqCfg)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .orderBy("vec_id", "sub")
    },
    "q_pq_topk" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val cb = ProductQuantization.pqTrain(emb, PqCfg)
      val encoded = ProductQuantization.pqEncode(emb, cb, PqCfg)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      ProductQuantization.adcTopK(encoded, emb, cb, probes, PqCfg, k = 5, refine = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // ---- scalar quantization: 4×-compressed int8 codes, integer-exact ADC ----
    // (qdrant's scalar-quantization mode: per-dim affine byte map + exact
    // rescore; no codebook training — the low-friction quantization tier)
    "q_sq_encode" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val (mins, maxs) = ScalarQuantization.collectParams(ScalarQuantization.sqTrain(emb))
      ScalarQuantization.sqEncode(emb, mins, maxs)
        .select(col("vec_id"), posexplode(sq_codes(col("sq"))).as(Seq("pos", "code")))
        .orderBy("vec_id", "pos")
    },
    "q_sq_topk" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val (mins, maxs) = ScalarQuantization.collectParams(ScalarQuantization.sqTrain(emb))
      val encoded = ScalarQuantization.sqEncode(emb, mins, maxs)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      ScalarQuantization.sqTopK(encoded, emb, mins, maxs, probes, k = 5, refine = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // IVF × SQ composition: cell-PRUNED scan of the 1-byte/dim codes index,
    // SQ-LUT candidate scoring, exact rerank — the SQ sibling of q_pq_ivf_topk
    "q_sq_ivf_topk" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      ScalarQuantization.ivfSqTopKPruned(s, sqIndexFor(s, dir), emb, probes,
          k = 5, nProbe = 4, refine = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // binary quantization: 1 bit/dim (32×), Hamming-popcount candidates,
    // exact rerank — qdrant's binary-quantization overfetch-rescore recipe
    "q_bq_topk" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val thr = BinaryQuantization.collectThresholds(BinaryQuantization.bqTrain(emb))
      val encoded = BinaryQuantization.bqEncode(emb, thr)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      BinaryQuantization.bqTopK(encoded, emb, thr, probes, k = 5, refine = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // IVF × BQ composition: cell-PRUNED scan of the 1-BIT/dim codes index
    // (8 bytes/row at d=64), Hamming candidates, exact rerank — completes
    // the IVF × {PQ, SQ, BQ} matrix
    "q_bq_ivf_topk" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      BinaryQuantization.ivfBqTopKPruned(s, bqIndexFor(s, dir), emb, probes,
          k = 5, nProbe = 4, refine = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // IVF × PQ composition: cell-PRUNED scan of the 8-byte codes index,
    // ADC candidate scoring, exact rerank (memoized stored index — the
    // real deployment read path, partition filter and all)
    "q_pq_ivf_topk" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      ProductQuantization.ivfPqTopKPruned(s, pqIndexFor(s, dir), emb, probes,
          PqCfg, k = 5, nProbe = 4, refine = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // RESIDUAL IVF×PQ (the FAISS IVFPQ construction): codebooks train on
    // and codes encode v − centroid, each (probe, cell) gets its own LUT
    // from the query's residual in that cell's frame — same pruned
    // codes-only read shape, better recall per bit
    "q_rpq_ivf_topk" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      ProductQuantization.residualIvfPqTopKPruned(s, rpqIndexFor(s, dir), emb, probes,
          PqCfg, k = 5, nProbe = 4, refine = 4)
        .orderBy("qid", "rank").select("qid", "vec_id", "rank", "score")
    },
    // S7/S10 through the O(batch) delta path (r5 verdict #3's machinery):
    // upsert lands as an "add" sidecar (conflicts dropped old-wins), delete
    // as a "del" tombstone; read() resolves the merge WITHOUT having
    // rewritten the base version
    "q_store_delta" -> { (s, dir) =>
      deltaStoreFor(s, dir, fold = false).read()
        .select(col("doc_id"), col("content")).orderBy("doc_id")
    },
    // fold equivalence: compact() folds the sidecars into a fresh bin-packed
    // base version — the merged view must not change by a single row
    "q_store_fold" -> { (s, dir) =>
      deltaStoreFor(s, dir, fold = true).read()
        .select(col("doc_id"), col("content")).orderBy("doc_id")
    },
    // J5 union path: probe object has many chunks (vec_id % 50 == 7), all
    // searched in ONE broadcast scan, then first-per-key dedup + self-exclude
    "q_find_similar_multi" -> { (s, dir) =>
      val idx = tbl(s, dir, "embeddings").select(
        col("vec_id").as("doc_id"),
        array(concat(lit("obj:"), col("vec_id") % 50)).as("object_keys"),
        col("embedding").as("vector"))
      Retrieval.findSimilar(idx, "obj:7", k = 5, threshold = -2.0)
        .select(col("doc_id"), col("key"), round(col("score"), 6).as("score"))
        .orderBy(desc("score"), col("doc_id").asc)
    },
    // ---- dedup family ----
    // semantic decontamination: corpus rows too close (max cosine) to any
    // eval-set embedding — the label=0 slice stands in for the benchmark
    "q_semantic_decontam" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Dedup.semanticDecontaminate(emb.filter(col("label") =!= 0),
          emb.filter(col("label") === 0), threshold = 0.3)
        .orderBy("vec_id")
    },
    // ANN-accelerated decontamination: eval rows routed as IVF probes —
    // corpus items are scored only against eval rows probing their cell
    // (the oracle replays seed-centroid assignment + probe-cell selection
    // + the probed-cell-only max); exact stays above as the full-width twin
    "q_semantic_decontam_ann" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Dedup.semanticDecontaminateAnn(emb.filter(col("label") =!= 0),
          emb.filter(col("label") === 0), threshold = 0.3, nCells = 16, nProbe = 4)
        .orderBy("vec_id")
    },
    // the raw corpus has zero exact duplicates, so the fixture injects
    // them: %11==1 docs repeat doc_id-1 verbatim and %13==2 docs repeat
    // doc_id-2 UPPERCASED — the latter collides only because Dedup.exact
    // hashes the normalized (lowercase-token) stream, proving the
    // normalization, not just the groupBy
    "q_dedup_exact" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val refT = docs.select(col("doc_id").as("__rid"), col("text").as("__rt"))
      val synth = docs
        .withColumn("__key",
          when(col("doc_id") % 11 === 1, col("doc_id") - 1)
            .when(col("doc_id") % 13 === 2, col("doc_id") - 2)
            .otherwise(lit(-1L)))
        .join(refT, col("__key") === col("__rid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 1, col("__rt"))
            .when(col("doc_id") % 13 === 2, upper(col("__rt")))
            .otherwise(col("text")).as("text"))
      Dedup.exact(synth).orderBy("content_hash")
        .select(col("content_hash"), col("n_dups").cast("long").as("n_dups"), col("canonical_id"))
    },
    // SemDeDup (Abbas et al. 2023): IVF-cluster the embeddings, drop items
    // with a >= 0.3-cosine lower-id cluster-mate (triu rule; threshold set
    // where the fixture has real in-cell near-pairs — max in-cell cos 0.49)
    "q_semdedup" -> { (s, dir) =>
      Dedup.semDedup(tbl(s, dir, "embeddings"), nCells = 16, threshold = 0.3,
          hotCellCap = HotBucketCap)
        .orderBy("vec_id")
    },
    "q_minhash_sig" -> { (s, dir) =>
      Dedup.minhashSignature(docsPar(s, dir), numHashes = 8)
        .drop("__shingles").orderBy("doc_id")
    },
    "q_simhash" -> { (s, dir) =>
      Dedup.simhashDocs(docsPar(s, dir), bits = 16).orderBy("doc_id")
    },
    "q_lsh_pairs" -> { (s, dir) =>
      Dedup.minhashLsh(docsPar(s, dir), threshold = 0.0, numHashes = 8,
        rowsPerBand = 2, shingleSize = 3, hotBucketCap = HotBucketCap)
        .orderBy(desc("jaccard"), col("id_a").asc, col("id_b").asc).limit(100)
    },
    "q_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashPairs(docsPar(s, dir), bits = 16, bandBits = 4,
        maxHamming = 3, hotBucketCap = HotBucketCap)
        .orderBy(col("id_a").asc, col("id_b").asc).limit(500)
    },
    "q_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardJoin(docsPar(s, dir).filter(col("doc_id") % 5 === 0),
        blockCol = "lang", threshold = 0.0)
        .orderBy(desc("jaccard"), col("id_a").asc, col("id_b").asc).limit(100)
    },
    "q_near_dup_embedding" -> { (s, dir) =>
      Dedup.embeddingNearDup(tbl(s, dir, "embeddings"), threshold = -1.0)
        .orderBy(desc("cos"), col("id_a").asc, col("id_b").asc).limit(100)
    },
    // content-derived blocking (no label needed): hyperplane-LSH bucket
    // self-join with the capped hot-bucket discipline, exact cosine verify
    "q_near_dup_lsh" -> { (s, dir) =>
      Dedup.embeddingNearDupLsh(tbl(s, dir, "embeddings"), dims = 64, bits = 8,
        threshold = -1.0, hotBucketCap = HotBucketCap)
        .orderBy(desc("cos"), col("id_a").asc, col("id_b").asc).limit(100)
    },
    // the recall knob: two independent hyperplane rotations (bands), pairs
    // deduped across bands before the single cosine verify
    "q_near_dup_lsh_multi" -> { (s, dir) =>
      Dedup.embeddingNearDupLsh(tbl(s, dir, "embeddings"), dims = 64, bits = 8,
        threshold = -1.0, hotBucketCap = HotBucketCap, rotations = 2)
        .orderBy(desc("cos"), col("id_a").asc, col("id_b").asc).limit(100)
    },
    // SATURATED-bucket pair recall: bits=2 (4 buckets/band) with cap 8
    // forces every bucket hot, exercising the two-level sub-bucket
    // all-pairs path (member↔member pairs the rep star drops; ⌈bsz/cap⌉
    // md5-dealt subs per bucket, per-band re-deal) on top of the star
    "q_near_dup_lsh_sub" -> { (s, dir) =>
      Dedup.embeddingNearDupLsh(tbl(s, dir, "embeddings"), dims = 64, bits = 2,
        threshold = -1.0, hotBucketCap = 8, rotations = 2, subBucket = true)
        .orderBy(desc("cos"), col("id_a").asc, col("id_b").asc).limit(200)
    },
    // pairs → clusters: connected components, canonical = min id (edges
    // from the blocked embedding near-dup join — cos ≥ 0.3 exists at every SF)
    "q_dup_clusters" -> { (s, dir) =>
      val pairs = Dedup.embeddingNearDup(tbl(s, dir, "embeddings"), threshold = 0.3)
      Dedup.dupClusters(pairs).orderBy("doc_id")
    },
    // leakage-free split: near-dup cluster members share one split (the
    // draw rides the CLUSTER id); singletons equal plain splitAssign
    "q_leakage_split" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val pairs = Dedup.embeddingNearDup(emb, threshold = 0.3)
      graft.ops.Sampling.leakageFreeSplit(emb.select("vec_id"), pairs,
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), idCol = "vec_id")
        .select(col("vec_id"), col("cluster_id"), col("split"))
        .orderBy("vec_id")
    },
    // the END-TO-END dedup pipeline (the operator a training-data run
    // actually calls): minhash-LSH pairs at 0.7 → clusters → survivors
    "q_dedup_corpus" -> { (s, dir) =>
      Dedup.dedupCorpus(docsPar(s, dir), threshold = 0.7, numHashes = 8,
        rowsPerBand = 2, shingleSize = 3, hotBucketCap = HotBucketCap)
        .select("doc_id").orderBy("doc_id")
    },
    // quality-ranked retention: same pairs/clusters, but each cluster
    // keeps its highest-token-count member (tie → min doc_id) — the
    // "keep the best copy" production policy instead of min-id
    "q_dedup_keep_best" -> { (s, dir) =>
      import graft.functions.textkernel
      val docs = docsPar(s, dir)
        .withColumn("n_toks", size(textkernel.word_tokens(col("text"))).cast("long"))
      Dedup.dedupCorpusKeepBest(docs, "n_toks", threshold = 0.7, numHashes = 8,
        rowsPerBand = 2, shingleSize = 3, hotBucketCap = HotBucketCap)
        .select("doc_id", "n_toks").orderBy("doc_id")
    },
    // cross-corpus dedup: the new "dump" (doc_id % 3 <> 0) flagged against
    // the reference corpus (doc_id % 3 = 0) — exact fingerprint semi-join +
    // asymmetric capped minhash banding, new-vs-ref pairs only. The raw
    // corpus shares no FUZZY near-dups across the split (only exact
    // replicas), so every doc_id % 9 == 1 new doc becomes a mutated-SUFFIX
    // copy of ref doc (doc_id - 1): J = (n-2)/(n+7) for an n-word ref —
    // fuzzy-band territory (≈0.87 at the fixture's ~60 words), never exact,
    // so the banding+verify path discriminates, not just the semi-join
    "q_cross_dedup" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      Dedup.crossCorpusDedup(crossDedupNewSide(docs),
          docs.filter(col("doc_id") % 3 === 0), threshold = 0.7,
          numHashes = 8, rowsPerBand = 2, shingleSize = 3,
          hotRefCap = HotBucketCap)
        .orderBy("doc_id")
    },
    // quality-aware cross-corpus retention (r14 verdict #8): same fixture
    // as q_cross_dedup but each side carries a token-count quality score —
    // verbatim copies (%9==2) tie their ref's score → ref wins → drop;
    // suffix-mutated copies (%9==1) are LONGER than their ref → new wins →
    // replace_ref (the ref id to retire is in best_ref_id); fresh docs
    // insert. Oracle replays both match layers WITH ref identity, the
    // (j DESC, ref_id ASC) argmax, and the strict-greater policy.
    "q_cross_dedup_keep_best" -> { (s, dir) =>
      import graft.functions.textkernel
      val docs = docsPar(s, dir)
      def scored(df: org.apache.spark.sql.DataFrame) = df.withColumn("n_toks",
        size(textkernel.word_tokens(col("text"))).cast("long"))
      Dedup.crossCorpusDedupKeepBest(scored(crossDedupNewSide(docs)),
          scored(docs.filter(col("doc_id") % 3 === 0)), "n_toks",
          threshold = 0.7, numHashes = 8, rowsPerBand = 2, shingleSize = 3,
          hotRefCap = HotBucketCap)
        .orderBy("doc_id")
    },
    // the APPLIED ingest step: post-ingest corpus membership — refs
    // retired by winning replacements drop out, accepted new docs
    // (insert + replace_ref) come in, drops stay out
    "q_ingest_keep_best" -> { (s, dir) =>
      import graft.functions.textkernel
      val docs = docsPar(s, dir)
      def scored(df: org.apache.spark.sql.DataFrame) = df.withColumn("n_toks",
        size(textkernel.word_tokens(col("text"))).cast("long"))
      Dedup.ingestKeepBest(scored(crossDedupNewSide(docs)),
          scored(docs.filter(col("doc_id") % 3 === 0)), "n_toks",
          threshold = 0.7, numHashes = 8, rowsPerBand = 2, shingleSize = 3,
          hotRefCap = HotBucketCap)
        .orderBy("doc_id", "src")
    },
    // Bloom-prefiltered exact cross-corpus dedup: the reference corpus is
    // summarized ONCE into a persisted-shape Bloom filter; the new dump is
    // probed at scan speed and only probe survivors enter the verification
    // semi-join — same EXACT output as the plain semi-join (oracle), with
    // the shuffle width cut from |new| to matches + fpp share
    "q_cross_dedup_bloom" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val refSide = docs.filter(col("doc_id") % 3 === 0)
      val bf = Dedup.buildFingerprintBloom(refSide, expectedItems = 4096, fpp = 0.01)
      Dedup.crossCorpusExactDedupBloom(crossDedupNewSide(docs), refSide, bf)
        .orderBy("doc_id")
    },
    // cross-corpus SEMANTIC dedup: the new "dump" embeddings (vec_id % 3
    // <> 0) flagged against the reference (vec_id % 3 = 0) — both sides
    // hyperplane-LSH-bucketed (2 rotations), ref side capped, new-vs-ref
    // cosine verify only; threshold 0.3 where the fixture has real
    // cross-split neighbors
    "q_cross_dedup_semantic" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Dedup.crossCorpusNearDupEmbedding(
          emb.filter(col("vec_id") % 3 =!= 0), emb.filter(col("vec_id") % 3 === 0),
          dims = 64, bits = 8, threshold = 0.3,
          hotRefCap = HotBucketCap, rotations = 2)
        .orderBy("doc_id")
    },
    // sequence packing under a 512-token budget — the global cumsum is a
    // parallel prefix sum over data-derived id-range groups, never a
    // single-partition window (targetGroups forced > 1 at this corpus size)
    "q_pack_sequences" -> { (s, dir) =>
      TextAnalysis.packSequences(docsPar(s, dir), tokenBudget = 512,
        targetGroups = 64).orderBy("doc_id")
    },
    // per-language packing: each group gets its own prefix sum + bins
    "q_pack_by_lang" -> { (s, dir) =>
      TextAnalysis.packSequences(docsPar(s, dir), tokenBudget = 512,
        targetGroups = 64, groupCol = Some("lang")).orderBy("lang", "doc_id")
    },
    // the materialized packing artifact: per-bin ordered text concat
    // (hashed here to keep gate rows small), doc + token counts
    "q_pack_assemble" -> { (s, dir) =>
      TextAnalysis.assemblePacked(docsPar(s, dir), tokenBudget = 512,
          targetGroups = 64)
        .select(col("bin"), col("n_docs"), col("n_tokens"),
          md5(col("content")).as("packed_md5"))
        .orderBy("bin")
    },
    // deterministic domain mixing: en upsampled 2x, de downsampled 0.5x,
    // order = ascending per-group rank/weight (parallel prefix rank)
    "q_mixture_order" -> { (s, dir) =>
      TextAnalysis.mixtureOrder(docsPar(s, dir),
        Map("en" -> 2.0, "de" -> 0.5), groupCol = "lang", targetGroups = 64)
        .orderBy(col("pos").asc, col("lang").asc, col("doc_id").asc)
    },
    // deterministic train/val/test split: md5-derived draw per id, binary-
    // exact cuts (0.75/0.125/0.125) — membership stable under corpus growth
    "q_split_assign" -> { (s, dir) =>
      graft.ops.Sampling.splitAssign(tbl(s, dir, "documents").select("doc_id"),
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .orderBy("doc_id")
    },
    // weighted sampling without replacement (Efraimidis–Spirakis top-k by
    // ln(u)/w): P[pick] ∝ n_chars; top-k is a per-partition heap, no global
    // sort — the deterministic "sample a budget's worth ∝ weight" move
    "q_weighted_sample" -> { (s, dir) =>
      graft.ops.Sampling.weightedSample(
          tbl(s, dir, "documents").select("doc_id", "n_chars"),
          k = 50, weightCol = "n_chars")
        .select(col("doc_id"), col("n_chars"), col("sample_key"))
        .orderBy(col("sample_key").desc, col("doc_id").asc)
    },
    // UniMax budgeting (Chung 2023): 600-doc budget at <=1.5 epochs —
    // the 4 small langs cap at 1.5, en shares the rest (epochs 0.8119);
    // per-doc n_copies realizes the quota via the md5 draw (0/1/2 all fire)
    "q_unimax" -> { (s, dir) =>
      graft.ops.Sampling.unimaxAssign(
          tbl(s, dir, "documents").select("doc_id", "lang"),
          budget = 600.0, maxEpochs = 1.5)
        .select(col("doc_id"), col("lang"), col("epochs"), col("n_copies"))
        .orderBy("doc_id")
    },
    // temperature mixing (p ∝ n^0.5, the mT5-style recipe): small langs
    // upsample (~1.55 epochs), en downsamples (~0.84); n^α = µ-quantized
    // exp(α·ln n) so the weight total is an exact long in both engines
    "q_temperature_mix" -> { (s, dir) =>
      graft.ops.Sampling.temperatureAssign(
          tbl(s, dir, "documents").select("doc_id", "lang"),
          budget = 600.0, alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("epochs"), col("n_copies"))
        .orderBy("doc_id")
    },
    // fused one-scan keep/drop decision pass (lang + quality + tokens + canonicality)
    // %11==1 docs repeat doc_id-1 verbatim (q_dedup_exact pattern): the
    // raw corpus has no exact dups, so is_canonical was 1 for all 500
    // rows and the pipeline's dedup stage proved nothing at the gate.
    // q_corpus_report uses the SAME synthesized input (its oracle wraps
    // this gate's SQL), so its n_dups column is non-zero too
    "q_clean_pipeline" -> { (s, dir) =>
      TextAnalysis.cleanPipeline(dupInjectedDocs(docsPar(s, dir)))
        .select(col("doc_id"), col("lang_pred"), col("quality"),
          col("n_tokens").cast("long").as("n_tokens"), col("exact_fp"),
          col("is_canonical").cast("int").as("is_canonical"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id")
    },
    // corpus health report: per-language doc/token/keep/dup counts and an
    // exact micro-unit quality sum in ONE aggregation over the fused clean
    // pass — the executive-summary scan a curation run starts from
    "q_corpus_report" -> { (s, dir) =>
      TextAnalysis.cleanPipeline(dupInjectedDocs(docsPar(s, dir)))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum(round(col("quality") * 1e6).cast("long")).as("quality_micro"),
          sum(col("keep").cast("long")).as("n_keep"),
          sum(when(col("is_canonical"), 0L).otherwise(1L)).as("n_dups"))
        .orderBy("lang_pred")
    },
    // ---- text analysis ----
    "q_token_stats" -> { (s, dir) =>
      TextAnalysis.tokenStats(docsPar(s, dir)).orderBy("doc_id")
    },
    "q_quality" -> { (s, dir) =>
      val synth = docsPar(s, dir).select(col("doc_id"), qualitySynthCol.as("text"))
      TextAnalysis.qualityScore(synth).orderBy("doc_id")
    },
    "q_lang_id" -> { (s, dir) =>
      val synth = docsPar(s, dir).select(col("doc_id"), langIdSynthCol.as("text"))
      TextAnalysis.langId(synth)
        .select(col("doc_id"), col("en_hits").cast("long").as("en_hits"),
          col("de_hits").cast("long").as("de_hits"), col("fr_hits").cast("long").as("fr_hits"),
          col("es_hits").cast("long").as("es_hits"), col("lang_pred"))
        .orderBy("doc_id")
    },
    "q_fingerprint" -> { (s, dir) =>
      TextAnalysis.fingerprint(docsPar(s, dir)).orderBy("doc_id")
    },
    // LINE-level language split (r18 — OSCAR/Ungoliant's multilingual-
    // page treatment): classify each line with the langId marker argmax,
    // regroup a doc's lines per language in PAGE ORDER; the fixture
    // interleaves en/de/fr/es/und lines with doc_id-varying presence and
    // a repeated-language line so multiplicity and order both pin
    "q_ccnet_lang_split" -> { (s, dir) =>
      val synth = docsPar(s, dir).select(col("doc_id"), langSplitSynthCol.as("text"))
      TextAnalysis.splitByLanguage(synth)
        .select(col("doc_id"), col("lang"), col("n_lines"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id", "lang")
    },
    "q_word_freq" -> { (s, dir) =>
      TextAnalysis.wordFrequency(docsPar(s, dir), k = 50)
        .select(col("word"), col("cnt").cast("long"))
    },
    // heavy-hitter 3-grams by document frequency (boilerplate discovery):
    // map-side-combined groupBy + TakeOrdered top-k; df spans 5..7 at sf0.01
    "q_top_ngrams" -> { (s, dir) =>
      TextAnalysis.topNgrams(docsPar(s, dir), n = 3, k = 50, minDf = 2)
        .orderBy(desc("df"), col("ngram").asc)
    },
    // Gopher-style repetition filters: one compiled kernel pass per doc
    "q_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionSignals(docsPar(s, dir)).orderBy("doc_id")
    },
    // the Gopher quality rule set (Rae et al. 2021 Table A1): per-doc
    // signals + one boolean per rule + keep, one kernel pass, no shuffle.
    // doc_id-conditional suffixes (GopherSegs) make every rule fire both
    // ways across the fixture — the raw corpus text exercised only the
    // word-count rule
    "q_gopher_filter" -> { (s, dir) =>
      val synth = docsPar(s, dir).select(col("doc_id"), gopherSynthCol.as("text"))
      TextAnalysis.gopherFilter(synth).orderBy("doc_id")
    },
    // the C4 line-level cleaning rules (Raffel et al. 2020 §2.2): terminal
    // punctuation / >=5-word / no-javascript lines, lorem-ipsum + brace +
    // bad-word + >=3-sentence page rules. The corpus text has no newlines
    // or terminal punctuation, so the fixture synthesizes line-structured
    // text as a pure function of doc_id (synthC4TextCol — q_pii pattern);
    // cleaned text hashed to keep gate rows small
    "q_c4_filter" -> { (s, dir) =>
      val synth = docsPar(s, dir).select(col("doc_id"), synthC4TextCol.as("text"))
      TextAnalysis.c4Filter(synth, blockedWords = C4BlockedWords)
        .withColumn("clean_md5", md5(col("clean_text"))).drop("clean_text")
        .orderBy("doc_id")
    },
    // benchmark decontamination: eval set = every 7th document, 3-gram
    // collision (13-gram default shrunk to the fixture's ~60-word docs)
    "q_decontam" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      TextAnalysis.decontaminate(docs, docs.filter(col("doc_id") % 7 === 3), n = 3)
        .orderBy("doc_id")
    },
    // span-level decontamination: 3 synthetic eval phrases (nonsense words
    // absent from the corpus); every doc_id % 5 == 2 doc gets one phrase
    // injected after its 8th word — the op must cut exactly the injected 6
    // tokens (windows straddling the injection boundary contain corpus
    // words, so only fully-inside windows mark) and nothing else
    "q_decontam_spans" -> { (s, dir) =>
      val w = graft.functions.textkernel.word_tokens(col("text"))
      val phrase = concat(lit("zzqx vvrk wwpl qqmn ttbs "),
        (col("doc_id") % 3).cast("string"))
      val injected = docsPar(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 2,
          concat_ws(" ", concat_ws(" ", slice(w, 1, 8)), phrase,
            concat_ws(" ", slice(w, 9, 1000000))))
          .otherwise(col("text")).as("text"))
      val evalSet = s.range(3).select(
        concat(lit("zzqx vvrk wwpl qqmn ttbs "), col("id").cast("string")).as("text"))
      TextAnalysis.decontaminateSpans(injected, evalSet, windowWords = 4)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // quality-ranked token-budget selection: 7 synthetic quality levels
    // (doc_id % 7 / 6), budget ~half the fixture's tokens — whole levels
    // select above the boundary, the boundary level cuts mid-level in
    // doc-id order, everything below is excluded
    "q_select_budget" -> { (s, dir) =>
      val docs = docsPar(s, dir).select(col("doc_id"), col("text"),
        round((col("doc_id") % 7).cast("double") / 6.0, 4).as("quality"),
        size(graft.functions.textkernel.word_tokens(col("text")))
          .cast("long").as("n_toks"))
      TextAnalysis.selectByBudget(docs, tokenBudget = 13000L,
        tokenCol = Some("n_toks"))
        .orderBy("doc_id")
    },
    // BPE round-0 pair statistics over the corpus vocabulary (the trainer's
    // first merge decision rides exactly these counts — BpeSpec pins that)
    "q_bpe_pairs" -> { (s, dir) =>
      graft.text.Bpe.pairCounts(docsPar(s, dir))
        .orderBy(desc("cnt"), col("pair").asc).limit(100)
    },
    // byte-level BPE (GPT-2 class, r18): train merges on the GPT-2
    // pretoken vocabulary of the synthesized strata (contractions,
    // digit runs, punctuation runs — the !!! stratum exercises the
    // same-symbol overlap rule), then encode every distinct pretoken.
    // The oracle replays the ENTIRE merge walk: each training round's
    // pair counts → (count desc, pair asc) argmax → leftmost-
    // nonoverlapping apply (run-parity windows for a=b pairs), unrolled
    // per round from the bbpeOracleSql generator, then reads the final
    // vocabulary symbolization — which equals the rank-table encode
    // (the sequential-passes ≡ encode-loop invariant ByteBpeSpec pins)
    "q_bbpe_encode" -> { (s, dir) =>
      val docs = bbpeDocs(s, dir)
      // minCount = 1: the oracle unconditionally replays all 8 rounds,
      // so the engine must not stop early on a count-1 top pair (review
      // finding — at the shipped fixtures all 8 top pairs are >= 2, but
      // the replay contract should not depend on that)
      val merges = graft.text.ByteBpe.train(docs, numMerges = BbpeMergeRounds,
        minCount = 1L)
      graft.text.ByteBpe.pretokenCounts(docs)
        .filter(length(col("pretoken")) <= 16)
        .select(col("pretoken"), col("cnt"),
          graft.functions.textkernel.bbpe_tokens(col("pretoken"),
            merges.map(m => (m.a, m.b))).as("__p"))
        .select(col("pretoken"), concat_ws("/", col("__p")).as("pieces"),
          size(col("__p")).cast("long").as("n_pieces"), col("cnt"))
        .orderBy("pretoken")
    },
    // WordPiece (BERT) greedy longest-match encode of the corpus
    // vocabulary against the frequency-seeded two-class vocab (initial vs
    // ## continuation pieces). No scores at all — membership + longest
    // match — so the oracle replays it without a rounding convention; the
    // likelihood-ratio trainer is spec-gated (exact BigInt rationals)
    "q_wordpiece" -> { (s, dir) =>
      val v = wordpieceVocabFor(s, dir)
      graft.text.Bpe.wordCounts(docsPar(s, dir))
        .select("word").filter(length(col("word")) <= 20)
        .select(col("word"),
          graft.functions.textkernel.wordpiece_tokens(col("word"), v).as("__p"))
        .select(col("word"), concat_ws("/", col("__p")).as("pieces"),
          size(col("__p")).cast("long").as("n_pieces"))
        .orderBy("word")
    },
    // Unigram-LM (Kudo 2018) Viterbi encode of the corpus vocabulary
    // against the deterministic SEED model (frequency probabilities over
    // the top-200 substring candidates + all chars, scaled-long log-probs).
    // The oracle replays seeding AND the full Viterbi DP (unrolled to word
    // length 20); EM refinement is spec-gated, like BPE's merge loop
    "q_unigram_encode" -> { (s, dir) =>
      val m = unigramModelFor(s, dir)
      graft.text.Bpe.wordCounts(docsPar(s, dir))
        .select("word").filter(length(col("word")) <= 20)
        .select(col("word"),
          graft.functions.textkernel.unigram_encode(col("word"), m).as("__p"))
        .select(col("word"), concat_ws("/", col("__p")).as("pieces"),
          size(col("__p")).cast("long").as("n_pieces"))
        .orderBy("word")
    },
    // PII scrubbing: the corpus has no natural PII, so the fixture embeds
    // synthetic email/IP/phone as a pure function of doc_id (same synth
    // pattern as the media codec gates) and the oracle replays the formula
    "q_pii" -> { (s, dir) =>
      val withPii = docsPar(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".1 tel +1 555-01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          // a second email for every third doc so the COUNTS discriminate
          // (n_emails was 1 for all 500 rows)
          when(col("doc_id") % 3 === 0,
            concat(lit(" cc alt"), col("doc_id").cast("string"), lit("@test.org")))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.redactPii(withPii)
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_phones"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    },
    // HTML -> text extraction (the crawled-corpus FRONT END): each doc is
    // wrapped in deterministic markup (script/style/comment/entities, a pure
    // function of (doc_id, text)) and extracted by the real pass pipeline;
    // the oracle replays the SAME generator and the SAME passes from the
    // SHARED constants, so a hash match proves extraction pass-for-pass
    "q_html_extract" -> { (s, dir) =>
      val html = docsPar(s, dir).select(col("doc_id"), col("text"))
        .withColumn("html", synthHtmlCol)
      ops.Html.extractText(html)
        .select(col("doc_id"), col("title"), col("n_links"),
          length(col("text")).cast("long").as("n_chars_ext"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
    // WARC ingestion, end-to-end front end: per-doc synthetic .warc.gz
    // bytes (gzip member > WARC record > HTTP response > HTML page, every
    // layer a pure function of (doc_id, text)) parsed by the real streaming
    // codec, HTTP-split, and the body extracted to text — the oracle
    // predicts every parsed field and replays extraction from the shared
    // constants, proving the whole decode chain inverts the writer
    "q_warc_extract" -> { (s, dir) =>
      import s.implicits._
      val warc = docsPar(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, synthWarcGz(id, t, zstdStratum = true)) }
        .toDF("doc_id", "warc")
      // body_len is the DECODED body's byte length (the WARC-level
      // content_length varies with the r16 gzip/chunked wire strata and
      // is not SQL-predictable): a match proves de-chunk + inflate
      // reproduce the exact plain bytes on every stratum
      sources.Warc.parseRecords(warc, "doc_id")
        .select(col("doc_id"), col("warc_type"), col("target_uri"),
          col("http_status").cast("long").as("http_status"),
          col("http_content_type"),
          length(col("body")).cast("long").as("body_len"),
          md5(col("body")).as("body_md5"),
          md5(ops.Html.extractColumn(decode(col("body"), "UTF-8"))).as("ext_md5"))
        .orderBy("doc_id")
    },
    // exact substring dedup (Lee et al. 2021 repeated-span rule): stride-1
    // windowed hashing + maximal-span merging; only the corpus-wide first
    // occurrence of a duplicated >=10-word span survives
    "q_span_dedup" -> { (s, dir) =>
      Dedup.spanDedup(docsPar(s, dir), windowWords = 10)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // CROSS-CORPUS span dedup (r18 — the actual Lee et al. deployment:
    // dedup a new dump against prior dumps at substring granularity).
    // The fixture plants a 20-word span per doc_id%4 group inside
    // per-doc-unique surroundings at varying offsets — document-level
    // fingerprints/minhash stay far apart (DedupSpec pins that contrast)
    // while the span is verbatim ref leakage. Ref side (doc_id%3=0)
    // collapses to distinct window hashes; the new side bloom-probes at
    // scan speed then exact-verifies by semi-join; spans cut in-row
    "q_cross_span_dedup" -> { (s, dir) =>
      val docs = crossSpanDocs(s, dir)
      val ref = docs.filter(col("doc_id") % 3 === 0)
      val nw = docs.filter(col("doc_id") % 3 =!= 0)
      val fb = Dedup.buildSpanBloom(ref, windowWords = 10,
        expectedItems = 1L << 18)
      Dedup.crossCorpusSpanDedup(nw, ref, windowWords = 10,
          refFilterBytes = Some(fb))
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // THE END-TO-END TRAINING-CORPUS PIPELINE (r8 verdict #1): crawl
    // archives → Crawl.ingest (streaming WARC parse, URL canon+dedup, HTML
    // extract, boilerplate drop) → fused clean pass (lang/quality/tokens/
    // canonicality keep) → exact-substring span dedup (Lee et al.) →
    // 3-gram benchmark decontamination → packed 512-token training bins.
    // Every stage is individually oracle-gated; this gates the COMPOSITION:
    // one lazy Catalyst plan end-to-end (fixture write aside), and the
    // DuckDB oracle replays all five stages from the shared constants, so
    // the final packed_md5 only matches if every inter-stage handoff
    // (schemas, ids, text normalization) is exactly right
    "q_corpus_e2e" -> { (s, dir) =>
      TextAnalysis.assemblePacked(corpusE2eSurvivors(s, dir),
          tokenBudget = 512, targetGroups = 64)
        .select(col("bin"), col("n_docs"), col("n_tokens"),
          md5(col("content")).as("packed_md5"))
        .orderBy("bin")
    },
    // outlink extraction (the link-graph edge producer): three id-driven
    // anchors per doc — attributes before/after href, messy inner
    // whitespace, a relative href, inner markup — each predicted outright
    "q_links" -> { (s, dir) =>
      ops.Html.extractLinks(docsPar(s, dir).select(col("doc_id"))
          .withColumn("html", synthLinksHtml))
        .orderBy("doc_id", "link_idx")
    },
    // media-reference extraction (extractLinks' twin for binary assets —
    // the rows a media-fetch + Multimodal decode/dedup pipeline starts
    // from): img/audio/video/source src attributes in document order
    "q_media_links" -> { (s, dir) =>
      ops.Html.extractMediaRefs(docsPar(s, dir).select(col("doc_id"))
          .withColumn("html", synthMediaHtml))
        .orderBy("doc_id", "media_idx")
    },
    // anchor-text corpus: anchors aggregated per canonical TARGET url (the
    // web's own document labeling — search-training pairs). The /q target
    // is shared by ~a tenth of the corpus (many inlinks, one distinct
    // anchor); per-doc /p targets get their unique anchor; the relative
    // href canonicalizes to null and drops
    "q_anchors" -> { (s, dir) =>
      val links = ops.Html.extractLinks(docsPar(s, dir).select(col("doc_id"))
        .withColumn("html", synthLinksHtml))
      ops.LinkGraph.anchorCorpus(links)
        .select(col("url_canon"), col("n_inlinks"),
          concat_ws("|", col("anchors")).as("anchors"))
        .orderBy("url_canon")
    },
    // deterministic fixed-point PageRank over a synthetic id-derived edge
    // list (3 out-links per doc, modulo the id space): every step is
    // integer arithmetic (rank div outdeg, damped by (85·x) div 100), so
    // the oracle replays all three iterations EXACTLY — no float tolerance
    "q_pagerank" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents").select("doc_id")
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val edges = docs.select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
        .select(col("src"), ((col("src") * 31 + col("j") * 7 + 1) % n).as("dst"))
        .filter(col("src") =!= col("dst"))
      // releaseCache=false: the gate measures the algorithm, not the
      // session-hygiene epilogue (the eager final checkpoint is a full
      // extra materialization of the ranks — 2.3× the gate's cost); the
      // few pinned MB per call are fine for a gate/bench session, and
      // LinkGraphSpec pins that the releaseCache=true production default
      // leaves no CacheManager entries behind
      ops.LinkGraph.pageRank(edges, iters = 3, releaseCache = false).orderBy("node")
    },
    // PageRank with dangling-mass redistribution: only EVEN doc_ids emit
    // edges, so odd nodes (reached as dst) are dangling — each iteration
    // their summed rank is integer-divided by the node count and fed back
    // into every node's incoming sum (the oracle replays every iteration
    // including the dangling term)
    "q_pagerank_dangling" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents").select("doc_id")
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val edges = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
        .select(col("src"), ((col("src") * 31 + col("j") * 7 + 1) % n).as("dst"))
        .filter(col("src") =!= col("dst"))
      ops.LinkGraph.pageRank(edges, iters = 3, redistributeDangling = true)
        .orderBy("node")
    },
    // robots.txt politeness decisions (RFC 9309): two robots shapes (one
    // with a dedicated graftbot group whose '*' group disallows all — group
    // selection matters; one '*'-only) × six path shapes exercising
    // longest-match, Allow-wins-tie, '*' wildcards and '$' anchors. The
    // oracle PREDICTS every decision (the q_url_canon convention)
    "q_robots" -> { (s, dir) =>
      val robotsA = "User-agent: graftbot\nDisallow: /private\nAllow: /private/pub$\n" +
        "Disallow: /tmp*\n\nUser-agent: *\nDisallow: /\n"
      val robotsB = "User-agent: *\nDisallow: /tmp*2\nAllow: /private\n"
      val paths = array(lit("/index.html"), lit("/private/x"), lit("/private/pub"),
        lit("/tmp12/y"), lit("/a/tmp32"), lit("/"))
      val docs = docsPar(s, dir).select(col("doc_id"),
        when(col("doc_id") % 2 === 0, robotsA).otherwise(robotsB).as("robots"),
        element_at(paths, (col("doc_id") % 6 + 1).cast("int")).as("path"))
      docs.select(col("doc_id"), col("path"),
          ops.Robots.allowedColumn(col("robots"), col("path"), "graftbot")
            .cast("int").as("allowed"))
        .orderBy("doc_id")
    },
    // URL canonicalization: three id-driven URL shapes exercise every pass
    // (case, www, default ports, fragments, tracking params incl. a
    // consumed-'?' fix-up). The oracle PREDICTS the canonical form
    // outright — stronger than a pass replay
    "q_url_canon" -> { (s, dir) =>
      ops.Urls.canonicalize(docsPar(s, dir).select(col("doc_id"), synthUrlCol.as("url")))
        .select(col("doc_id"), col("url_canon"), col("url_host"), col("url_domain"))
        .orderBy("doc_id")
    },
    // URL-level dedup over the same fixture (v0/v2 shapes collide after
    // canonicalization, v1 stays unique): map-side-combined groupBy on the
    // canonical form, keeper = min doc_id
    "q_url_dedup" -> { (s, dir) =>
      ops.Urls.dedupByUrl(docsPar(s, dir).select(col("doc_id"), synthUrlCol.as("url")))
        .orderBy("url_canon")
    },
    // line-level boilerplate filter over the extracted text (jusText-lite:
    // a line survives with >= 5 words or terminal punctuation)
    "q_boilerplate" -> { (s, dir) =>
      val html = docsPar(s, dir).select(col("doc_id"), boilerSynthCol.as("text"))
        .withColumn("html", synthHtmlCol)
      val filtered = ops.Html.dropBoilerplateLines(ops.Html.extractText(html))
      filtered.select(col("doc_id"),
        when(length(col("text")) === 0, lit(0L))
          .otherwise(size(split(col("text"), "\n")).cast("long")).as("n_lines_kept"),
        md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
    // jusText PROPER (r18 — block-level boilerplate, Pomikálek 2011):
    // block segmentation + link-density/length/stopword-density
    // context-free classes + the two context-sensitive revise passes,
    // on strata where the line rule and the block rule DISAGREE in both
    // directions; the oracle replays segmentation, every density and
    // both revise windows verbatim
    "q_boilerplate_blocks" -> { (s, dir) =>
      ops.Html.justextBlocks(justextDocs(s, dir))
        .select(col("doc_id"), col("block_idx"), col("n_chars"),
          col("n_words"), col("n_stop"), col("link_chars"),
          round(col("link_density"), 6).as("link_density"),
          round(col("stop_density"), 6).as("stop_density"),
          col("cf_class"), col("final_class"))
        .orderBy("doc_id", "block_idx")
    },
    // deterministic hash-embedding pipeline, relational form (bucket weights)
    "q_hash_embed" -> { (s, dir) =>
      val docs = docsPar(s, dir).filter(col("doc_id") < 100)
      docs.select(col("doc_id"), explode(graft.functions.textkernel.word_tokens(col("text"))).as("w"))
        .withColumn("bucket", hexhash32(col("w")) % 64)
        .withColumn("sign", when(hexhash32substr2(col("w")).bitwiseAND(lit(1L)) === 1L, -1L).otherwise(1L))
        .groupBy("doc_id", "bucket").agg(sum(col("sign")).as("weight"))
        .filter(col("weight") =!= 0)
        .orderBy(col("doc_id").asc, col("bucket").asc)
    },
    // ---- multimodal (binary column plumbing; decode stubbed) ----
    "q_multimodal_meta" -> { (s, dir) =>
      val media = tbl(s, dir, "documents")
        .withColumn("media", encode(col("text"), "UTF-8"))
      Multimodal.mediaStats(media, "doc_id")
        .select(col("doc_id"), col("n_bytes"), col("digest"),
          col("fake_width").cast("long").as("fake_width"),
          col("fake_height").cast("long").as("fake_height"))
        .orderBy("doc_id")
    },
    // REAL PNG pixel decode, gated: a grey PNG is synthesized per doc
    // (content a pure function of doc_id, every scanline filter type
    // exercised across rows) and decoded back by PngCodec — inflate +
    // unfilter. The oracle predicts the DECODED pixel aggregates from the
    // generator formula, so the hash match proves the decoder inverts a
    // spec-conformant encoder bit-exactly.
    "q_png_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthPng(id))
      Multimodal.imagePixelStats(media, "doc_id").orderBy("doc_id")
    },
    // Image-level perceptual dedup over REAL decoded pixels: 25 distinct
    // synthetic PNGs shared by ~4 ids each (id % 25 keys the generator) are
    // decoded by the own-codec path and dHashed — integer luma, 9×8
    // box-mean downscale, one bit per horizontal gradient — then grouped.
    // The oracle replays luma/downscale/bits/grouping from the generator
    // formula, so a match proves decode AND the whole hash pipeline
    "q_image_dedup" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthPng(id % 25))
      Multimodal.imageDedup(media, "doc_id").orderBy("doc_id")
    },
    // cross-corpus media dedup: reference = 10 of the 25 synthetic image
    // identities (doc_id < 30, %3 == 0); new dump = %3 != 0 images probed
    // through the persisted-shape media bloom + exact fingerprint verify —
    // dup fires both ways (10/25 identity coverage)
    "q_media_cross_dedup" -> { (s, dir) =>
      import s.implicits._
      def mk(ids: DataFrame) = ids.select(col("doc_id")).as[Long]
        .map(id => (id, synthPng(id % 25))).toDF("doc_id", "media")
      val docs = tbl(s, dir, "documents")
      val ref = mk(docs.filter(col("doc_id") < 30 && col("doc_id") % 3 === 0))
      val neu = mk(docs.filter(col("doc_id") < 100 && col("doc_id") % 3 =!= 0))
      val bf = Multimodal.buildMediaFingerprintBloom(ref, "image",
        expectedItems = 64, fpp = 0.01)
      Multimodal.crossCorpusMediaDedup(neu, ref, bf, "image", "doc_id")
        .orderBy("doc_id")
    },
    // Audio-level perceptual dedup over REAL decoded PCM: 25 distinct
    // synthetic WAVs shared by ~4 ids each (id % 25 keys the generator) are
    // RIFF-parsed, sample-decoded and energy-fingerprinted — 65 equal
    // windows, Σ sample² per window, one bit per adjacent-window energy
    // gradient — then grouped. The oracle replays samples/windows/energies/
    // bits/grouping from the generator formula (all integer arithmetic), so
    // a match proves decode AND the whole fingerprint pipeline
    "q_audio_dedup" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthWav(id % 25))
      Multimodal.audioDedup(media, "doc_id").orderBy("doc_id")
    },
    // THE END-TO-END MEDIA PIPELINE (q_corpus_e2e's binary twin): media
    // references (extractMediaRefs over the shared media markup) →
    // simulated fetch (bytes keyed doc_id % 25, the SAME generators the
    // q_image_dedup / q_audio_dedup oracles replay; video fetches an MP4
    // whose samples can't decode, the webm source ref 404s to null) →
    // ONE tag-routed in-partition fingerprint pass over the mixed table →
    // per-(kind, fingerprint) perceptual dedup. The oracle replays refs,
    // both fingerprint pipelines and the grouping, so a hash match proves
    // every inter-stage handoff; the non-decodable video/source rows
    // dropping (null fingerprint = no dedup identity) is part of the
    // prediction. asset_id = doc_id * 4 + media_idx (idx < 4 by fixture).
    "q_media_e2e" -> { (s, dir) =>
      import s.implicits._
      val refs = ops.Html.extractMediaRefs(
        tbl(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id")).withColumn("html", synthMediaHtml))
      val fetched = refs.select(col("doc_id"), col("media_idx"), col("tag"))
        .as[(Long, Long, String)]
        .map { case (d, m, tag) =>
          val bytes = tag match {
            case "img"   => synthPng(d % 25)
            case "audio" => synthWav(d % 25)
            case "video" => synthMp4(d)
            case _       => null // the webm <source> ref: fetch failed
          }
          (d * 4 + m, d, m, tag, bytes)
        }.toDF("asset_id", "doc_id", "media_idx", "tag", "media")
      Multimodal.mediaDedup(fetched, "asset_id")
        .select(col("asset_id"),
          expr("asset_id div 4").as("doc_id"),
          (col("asset_id") % 4).as("media_idx"),
          col("tag"), col("fp_hi"), col("fp_lo"),
          col("n_dups"), col("canonical_id").as("canonical_asset"))
        .orderBy("asset_id")
    },
    // REAL MPEG-1 Layer-I subband decode (the compressed-audio fingerprint
    // path): synthesized Layer-I frames (header + bit-packed allocations /
    // scalefactors / 3-bit sample codes, all a pure function of doc_id)
    // are frame-walked, bit-parsed and ISO-requantized by Mp1Codec; the
    // power-of-two scalefactor + single-nb fixture makes every scaled
    // granule energy an exact integer, so the oracle replays codes →
    // energies → envelope windows → fingerprint bits outright. Layer II/
    // III sample decode is a documented descope (README): headers/VBR
    // meta only.
    "q_mp1_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp1(id))
      afpHalves(Multimodal.mp1EnergyFingerprintDF(media, "doc_id"))
    },
    // REAL Layer-I JOINT (intensity) stereo: shared allocation + shared
    // sample codes above the mode_extension bound, per-channel
    // scalefactors — only the per-CHANNEL envelope can pin the sf
    // assignment (ops.Mp1Codec)
    "q_mp1_js_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp1Js(id))
      afpHalves(Multimodal.mp1ChannelEnergyFingerprintDF(media, "doc_id"))
    },
    // REAL Layer-II JOINT (intensity) stereo: shared row-B allocation +
    // one sample stream above the bound, per-channel scalefactors with
    // scfsi thirds (ops.Mp2Codec)
    "q_mp2_js_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp2Js(id))
      afpHalves(Multimodal.mp2ChannelEnergyFingerprintDF(media, "doc_id"))
    },
    // REAL MPEG-1 LAYER-II decode (allocation tables + scfsi + grouped/
    // ungrouped requantization, all analytic — ops.Mp2Codec); the oracle
    // replays codes → exact integer slice energies → envelope bits
    "q_mp2_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp2(id))
      afpHalves(Multimodal.mp2EnergyFingerprintDF(media, "doc_id"))
    },
    // REAL MPEG-1 LAYER-III decode (side info, scalefactors, Huffman
    // big-values + count1 + signs, analytic requantization —
    // ops.Mp3Codec); granule SPECTRAL energies x64 are exact integers the
    // oracle replays from the generator formulas through the envelope hash
    "q_mp3_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp3L3(id))
      afpHalves(Multimodal.mp3SpectralFingerprintDF(media, "doc_id"))
    },
    // MS JOINT-STEREO Layer-III decode: the per-CHANNEL envelope pins the
    // L = (M+S)/√2 / R = (M−S)/√2 rotation itself (channel-summed energy
    // is rotation-invariant and could not); (M±S)²/2 stays exact in
    // units of 1/4096, replayed by the oracle as Σ(m64±s64)²/2
    "q_mp3_ms_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp3Ms(id))
      afpHalves(Multimodal.mp3ChannelSpectralFingerprintDF(media, "doc_id"))
    },
    // REAL Layer-III multi-table Huffman decode (B.7 tables 2/3/5/6
    // dispatched per region, count1 table A — ops.Mp3Codec); dyadic
    // magnitudes keep granule energies exact for the DuckDB replay
    "q_mp3_tables" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp3Tables(id))
      afpHalves(Multimodal.mp3SpectralFingerprintDF(media, "doc_id"))
    },
    // REAL Layer-III INTENSITY-STEREO decode (zero-part bound derivation,
    // right-channel scalefactors as is_pos, tan(is_pos·π/12) ratio split
    // — ops.Mp3Codec); dyadic positions {0, 3} keep per-channel energies
    // exact, and only the per-CHANNEL envelope can see the split
    "q_mp3_intensity" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp3Is(id))
      afpHalves(Multimodal.mp3ChannelSpectralFingerprintDF(media, "doc_id"))
    },
    // intensity stereo with SHORT blocks (r16): per-window bounds and
    // positions in the reordered domain — dyadic is_pos ∈ {0, 3} splits
    "q_mp3_intensity_short" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp3IsShort(id))
      afpHalves(Multimodal.mp3ChannelSpectralFingerprintDF(media, "doc_id"))
    },
    // REAL Layer-III WINDOW-SWITCHED decode (short blocks: wsf side-info
    // layout, B.8 short band table, band-major/window-sub-major
    // scalefactors, subblock gains, fixed 36-line regions and the
    // Huffman→filterbank REORDER — ops.Mp3Codec); the position-weighted
    // spectral fingerprint is order-sensitive, so the reorder itself is
    // pinned, not just the energies
    "q_mp3_short" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp3Short(id))
      afpHalves(Multimodal.mp3WeightedSpectralFingerprintDF(media, "doc_id"))
    },
    // REAL DOCX text extraction (own ZIP reader: EOCD + central
    // directory + local headers + raw deflate; WordprocessingML pass
    // with entity decode — sources.ZipCodec / DocxCodec)
    "q_docx_extract" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthDocx(id))
      graft.sources.DocxCodec.docxTextDF(media, "doc_id").orderBy("doc_id")
    },
    // PDFs through the PRODUCT crawl path: gzip→WARC→HTTP walk, the
    // application/pdf route into the PdfCodec column kernel inside the
    // same extraction projection as HTML, URL canonicalization +
    // first-per-URL dedup, and the boilerplate line filter over the
    // extracted text (which drops each page's short second line)
    "q_crawl_pdf" -> { (s, dir) =>
      ops.Crawl.ingest(s, crawlShards("pdf-warc", s, dir)(synthWarcPdfGz)).orderBy("url_canon")
    },
    // REAL EPUB text extraction (zip markers + XHTML chapters through
    // the SAME strip/entity/space passes as crawled HTML —
    // sources.EpubCodec)
    "q_epub_extract" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthEpub(id))
      graft.sources.EpubCodec.epubTextDF(media, "doc_id").orderBy("doc_id")
    },
    // text/plain through the PRODUCT crawl path: the decoded body IS the
    // text (no HTML pass), boilerplate rules apply — both predicates
    // (word count, terminal punctuation) pinned by the fixture lines
    "q_crawl_text" -> { (s, dir) =>
      ops.Crawl.ingest(s, crawlShards("txt-warc", s, dir)(synthWarcTxtGz)).orderBy("url_canon")
    },
    // Common Crawl WET sidecars through the PRODUCT wet front door
    // (r17): *.warc.wet.gz shards of `conversion` records — warcinfo
    // header dropped, UTF-8 body IS the text, URL canonicalization +
    // first-per-URL dedup (id%7==0 docs plant a duplicate that must
    // lose) + the boilerplate line filter ("menu" drops)
    "q_crawl_wet" -> { (s, dir) =>
      ops.Crawl.ingestWet(s, shardDir("wet", dir,
        tbl(s, dir, "documents").filter(col("doc_id") < 100).select(col("doc_id")),
        ".warc.wet.gz", synthWetInfoGz())(r => synthWetGz(r.getLong(0)))).orderBy("url_canon")
    },
    // Mojibake repair (r17): strata garbled IN-PLAN through the real
    // UTF-8→cp1252 misdecode (the decode_charset kernel) once / twice /
    // not at all; fix_mojibake must return the identical clean string
    // for all three — the oracle predicts ONE closed form plus the
    // was_fixed flag, so a missed fix, an over-fix or a lossy unwind
    // all hash-mismatch
    "q_mojibake" -> { (s, dir) =>
      import graft.functions.textkernel
      val clean = concat(lit("Café cost €"), pmod(col("doc_id"), lit(50)),
        lit(" – ‘fine’ résumé… doc "), col("doc_id"), lit("!"))
      val g1 = textkernel.decode_charset(encode(clean, "UTF-8"), lit("windows-1252"))
      val g2 = textkernel.decode_charset(encode(g1, "UTF-8"), lit("windows-1252"))
      val garbled = when(pmod(col("doc_id"), lit(3)) === 0, g1)
        .when(pmod(col("doc_id"), lit(3)) === 1, g2)
        .otherwise(clean)
      tbl(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), garbled.as("garbled"))
        // fix once, derive the flag from the alias — the fallback kernel
        // is not CSE'd, so naming it avoids a second full unwind per row
        .select(col("doc_id"), col("garbled"),
          textkernel.fix_mojibake(col("garbled")).as("text"))
        .select(col("doc_id"), col("text"),
          (col("text") =!= col("garbled")).as("was_fixed"))
        .orderBy("doc_id")
    },
    // EPUB through the PRODUCT crawl path (r16 — the q_crawl_pdf shape
    // for application/epub+zip: the EpubCodec kernel in the same
    // projection; boilerplate drops each chapter's short heading)
    "q_crawl_epub" -> { (s, dir) =>
      ops.Crawl.ingest(s, crawlShards("epub-warc", s, dir)(synthWarcEpubGz)).orderBy("url_canon")
    },
    // charset resolution through the PRODUCT crawl path: header charset
    // param / <meta charset> prescan sniff / UTF-8 default (r16) — all
    // three strata must decode the é byte(s) identically
    "q_crawl_charset" -> { (s, dir) =>
      ops.Crawl.ingest(s, crawlShards("cs-warc", s, dir)(synthWarcCharsetGz)).orderBy("url_canon")
    },
    // DOCX through the PRODUCT crawl path (the q_crawl_pdf shape for the
    // OOXML route: the DocxCodec kernel in the same projection; the
    // boilerplate filter drops each doc's short first paragraph)
    "q_crawl_docx" -> { (s, dir) =>
      ops.Crawl.ingest(s, crawlShards("docx-warc", s, dir)(synthWarcDocxGz)).orderBy("url_canon")
    },
    // REAL PDF text extraction (object scan, COS grammar incl. string
    // escapes + hex, trailer/Root → page tree, direct + indirect Length,
    // raw + FlateDecode streams, BT…ET operators with the TJ kern gap —
    // sources.PdfCodec); the oracle rebuilds the exact extracted text
    "q_pdf_extract" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthPdf(id))
      graft.sources.PdfCodec.pdfTextDF(media, "doc_id").orderBy("doc_id")
    },
    // REAL MPEG-1 VIDEO I-frame decode (sequence/picture/slice walk, MB
    // address/type VLCs, DC size tables + differential prediction, intra
    // dequant, IDCT, 4:2:0 → RGB — ops.Mpeg1Codec); DC-only fixtures make
    // every pixel an exact integer the oracle replays from the formula
    "q_mpeg1_iframe" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMpeg1(id))
      Multimodal.videoFrameStats(media, "doc_id")
        .orderBy("doc_id", "frame_index")
    },
    // REAL MPEG-1 INTER-frame decode (P-pictures with forward motion
    // compensation — ops.Mpeg1Codec): B.1 address-increment VLC incl.
    // SKIPPED macroblocks, B.2b type VLC, B.4 motion vectors with the
    // §2.4.4.2 reconstruction, B.3 coded_block_pattern, non-intra
    // dequant + prediction-error addition; the fixture's closed-form
    // pixel evolution is replayed by the oracle
    "q_mpeg1_pframe" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMpeg1P(id))
      Multimodal.videoFrameStats(media, "doc_id")
        .orderBy("doc_id", "frame_index")
    },
    // REAL MPEG-1 BIDIRECTIONAL decode (B-pictures: B.2c type VLC, dual
    // f_code headers, forward/backward/interpolated MC with away-from-
    // zero averaging, skipped-B repetition, and PRESENTATION reordering
    // — decode order I P B emits I B P); closed-form oracle replay
    "q_mpeg1_bframe" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMpeg1B(id))
      Multimodal.videoFrameStats(media, "doc_id")
        .orderBy("doc_id", "frame_index")
    },
    // REAL video pixel decode (uncompressed-DIB AVI — ops.AviCodec): RIFF
    // walk, stream-format gate, bottom-up BGR stride handling; per-frame
    // pixel stats, oracle-replayed from the generator formula
    "q_avi_frames" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthAvi(id))
      Multimodal.videoFrameStats(media, "doc_id")
        .orderBy("doc_id", "frame_index")
    },
    // REAL BMP decode through our own BmpCodec: one gray formula through
    // three container layouts (24bpp bottom-up / 32bpp top-down / 8bpp
    // palette) — stride, row order and palette expansion all pinned
    "q_bmp_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthBmp(id))
      Multimodal.imagePixelStats(media, "doc_id").orderBy("doc_id")
    },
    // REAL baseline JPEG decode through our own JpegCodec (T.81 marker
    // walk, DHT canonical-code build, Huffman DC + EXTEND, restart
    // markers, IDCT): DC-only fixtures make every pixel an exact integer
    // (flat block level = 128 + DC·q/8), so the oracle replays the
    // generator formula like q_png_decode does.
    "q_jpeg_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthJpeg(id))
      Multimodal.imagePixelStats(media, "doc_id").orderBy("doc_id")
    },
    // ANIMATED GIF through the video ops: multi-frame LZW decode +
    // canvas compositing; px_wsum pins frame order and placement
    "q_gif_frames" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthAnimGif(id))
      Multimodal.videoFrameStats(media, "doc_id")
        .orderBy("doc_id", "frame_index")
    },
    // MJPEG video: AVI 'MJPG' frame chunks are standalone JPEGs with the
    // DHT segment OMITTED (the MJPEG convention) — decode must install the
    // Annex K default tables. Order-sensitive px_wsum pins frame order.
    "q_mjpeg_frames" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMjpegAvi(id))
      Multimodal.videoFrameStats(media, "doc_id")
        .orderBy("doc_id", "frame_index")
    },
    // REAL GIF pixel decode, gated like q_png_decode: a grayscale-palette
    // GIF is synthesized per doc (pixels a pure function of doc_id; LZW is
    // lossless and palette index == gray level) and decoded through the
    // ImageIO fallback, which expands the palette to RGB. The oracle
    // replays the generator formula with the 3-channel multiplier, so the
    // hash match proves real LZW decode + palette expansion.
    "q_gif_decode" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthGif(id))
      Multimodal.imagePixelStats(media, "doc_id").orderBy("doc_id")
    },
    // REAL MP3 frame-chain metadata, gated: the parser must skip the
    // id-sized ID3v2 tag, decode the frame header, and walk the 417-byte
    // frame chain to count frames — all predicted by the oracle formula.
    "q_mp3_meta" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp3(id))
      Multimodal.extractMeta(media)
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.n_frames").cast("long").as("n_frames"),
          col("meta.sample_rate").cast("long").as("sample_rate"),
          col("meta.channels").cast("long").as("channels"))
        .orderBy("doc_id")
    },
    // REAL MP4 box-tree metadata, gated: recursive ISO-BMFF walk must find
    // tkhd dims (16.16 fixed), mvhd timescale, and the track count.
    "q_mp4_meta" -> { (s, dir) =>
      val media = mediaDocs(s, dir)(id => synthMp4(id))
      Multimodal.extractMeta(media)
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.sample_rate").cast("long").as("timescale"),
          col("meta.channels").cast("long").as("n_tracks"))
        .orderBy("doc_id")
    },
    // ---- event-time analytics (batch twins of the streaming ops) ----
    "q_events_daily" -> { (s, dir) =>
      Events.tumblingDaily(eventsTbl(s, dir))
        .withColumn("sum_value", round(col("sum_value"), 4))
        .orderBy(col("day").asc, col("event_type").asc)
    },
    "q_sessionize" -> { (s, dir) =>
      Events.sessionize(eventsTbl(s, dir).filter(col("user_id") < 50))
        .select(col("user_id"), col("session_index").cast("long").as("session_index"),
          col("n_events").cast("long").as("n_events"),
          unix_timestamp(col("session_start")).as("start_s"),
          unix_timestamp(col("session_end")).as("end_s"))
        .orderBy(col("user_id").asc, col("session_index").asc)
    },
    // JSONL round-trip: documents → gzip JSON-Lines shards → schema'd read
    // (no inference pass) → md5 per doc equals the parquet original — the
    // Pile/RedPajama interchange format proven byte-faithful end-to-end
    "q_jsonl_roundtrip" -> { (s, dir) =>
      val out = s"/tmp/graft_jsonl_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val docs = tbl(s, dir, "documents").select("doc_id", "lang", "text")
      graft.sources.Jsonl.writeJsonlGz(docs.repartition(4), out)
      graft.sources.Jsonl.readJsonl(s, out, docs.schema)
        .filter(col("_corrupt").isNull)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
    "q_events_props" -> { (s, dir) =>
      Events.extractProps(eventsTbl(s, dir))
        .groupBy("k").agg(count(lit(1)).as("n")).orderBy(col("k").asc)
    },
    // ---- relational baseline (hydration-source tables; exact decimal sums) ----
    // exact sums via scaled integers (cents): order-independent like decimal
    // but JIT-friendly in the generated aggregate loop
    "q1_agg" -> { (s, dir) =>
      val cents = (c: Column) => round(c * 100).cast("long")
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // deterministic salted join: hot-key mitigation whose result is exactly
    // the plain join (salt from a row-id hash, not rand()) — oracle-checked
    "q_skew_join" -> { (s, dir) =>
      val li = tbl(s, dir, "lineitem")
      val supp = tbl(s, dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
      Skew.saltedJoin(li, supp, "l_suppkey", col("l_orderkey"), saltFactor = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"))
        .orderBy("s_name")
    },
    "q_join_agg" -> { (s, dir) =>
      val orders = tbl(s, dir, "orders")
      val customer = tbl(s, dir, "customer")
      val nation = tbl(s, dir, "nation")
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("total"))
        .orderBy("n_name")
    },
    // ---- lexical retrieval / hybrid ranking (round 9) ----
    "q_tfidf" -> { (s, dir) =>
      FullText.tfIdfTopTerms(docsPar(s, dir), k = 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
          col("tf"), col("score"))
        .orderBy("doc_id", "rank")
    },
    "q_bm25" -> { (s, dir) =>
      FullText.bm25TopK(docsPar(s, dir), LexicalQuery, k = 20)
        .select(col("doc_id"), col("n_terms"), col("score"))
    },
    // BM25 from the PERSISTED posting-list index (tokenize once at ingest,
    // not per query — the 100 TB lexical path): pruned bucket partitions +
    // pushed term filter + zero corpus-side joins. Score-identical to
    // q_bm25 by construction, so the SAME oracle replays it.
    "q_bm25_indexed" -> { (s, dir) =>
      FullText.bm25TopKIndexed(s, invIndexFor(s, dir), LexicalQuery, k = 20)
        .select(col("doc_id"), col("n_terms"), col("score"))
    },
    "q_hybrid_rrf" -> { (s, dir) =>
      FullText.hybridRrf(docsPar(s, dir), LexicalQuery, k = 10, kCand = 20)
    },
    "q_mmr" -> { (s, dir) =>
      FullText.mmrRerank(docsPar(s, dir), LexicalQuery, k = 5, kCand = 15)
        .select(col("pick").cast("long").as("pick"), col("doc_id"), col("rel"),
          col("mmr_score"))
        .orderBy("pick")
    },
    "q_perplexity" -> { (s, dir) =>
      FullText.bigramSurprisal(docsPar(s, dir)).orderBy("doc_id")
    },
    // interpolated Kneser-Ney TRIGRAM surprisal (r16 — the CCNet/KenLM
    // order class): five count tables derived from one trigram-type agg,
    // doc side pre-aggregated to (doc, trigram, k) before the joins
    "q_perplexity_kn" -> { (s, dir) =>
      FullText.trigramSurprisalKN(docsPar(s, dir)).orderBy("doc_id")
    },
    // interpolated KN at ORDER 4 (r17 — one below the KenLM-5 CCNet
    // ships): the continuation-count chain c4 → low3 → low2, the same
    // +1/V floor and consolidation, ONE doc-side (w1..w4) join; the
    // oracle replays the full four-level interpolation ladder
    "q_perplexity_kn4" -> { (s, dir) =>
      FullText.fourgramSurprisalKN(docsPar(s, dir)).orderBy("doc_id")
    },
    // interpolated KN at ORDER 5 (r18 — the literal KenLM/CCNet
    // deployment order, Wenzek et al. 2020): produced by the SAME
    // order-parameterized fold as kn/kn4 (ngramSurprisalKN), c5 →
    // low4 → low3 → low2 continuation chain, ONE doc-side (w1..w5)
    // join; the oracle replays the five-level ladder from a GENERATED
    // expression tree (knOracleSql), one level deeper than kn4's
    "q_perplexity_kn5" -> { (s, dir) =>
      FullText.ngramSurprisalKN(docsPar(s, dir), order = 5).orderBy("doc_id")
    },
    // THE literal CCNet deployment configuration in one gate (r18):
    // interpolated KN at order 5, KenLM-style count pruning with
    // mass-conserving renormalization, scored against a FOREIGN
    // reference LM (train = the %3=0 slice, like kn_xc). The oracle is
    // the same generated five-level ladder with the pruned numerator
    // and redistributed interpolation weight — knOracleSql(5, foreign,
    // minCount = 2)
    "q_perplexity_kn5_pruned_xc" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      FullText.ngramSurprisalKNAgainst(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0), 5, minCount = 2).orderBy("doc_id")
    },
    // CCNet head/middle/tail perplexity bucketing: per-language exact
    // order-statistic thresholds over the MIL-nat integer score histogram
    // (no global sort — the histogram is langs × score-resolution rows)
    "q_ccnet_bucket" -> { (s, dir) =>
      FullText.surprisalBuckets(docsPar(s, dir))
        .withColumn("bucket", col("bucket").cast("long"))
        .orderBy("doc_id")
    },
    // KN scored AGAINST a separate reference LM (the real CCNet shape:
    // train on the clean slice, score the rest) — the interpolation
    // fallbacks and the +1/V floor fire for real on unseen n-grams
    "q_perplexity_kn_xc" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      FullText.trigramSurprisalKNAgainst(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0)).orderBy("doc_id")
    },
    // KenLM-style count pruning on the foreign-corpus KN path (r17):
    // minCount = 2 drops singleton trigram types from the doc-side LM
    // join — their mass rides the context interpolation weight, the
    // exact backoff path unseen trigrams take; the oracle replays the
    // pruned numerator (CASE tc >= 2) inside the same CASE ladder
    "q_perplexity_kn_pruned" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      FullText.trigramSurprisalKNAgainst(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0), minCount = 2).orderBy("doc_id")
    },
    // the same CCNet bucketing over the r16 KN trigram LM (order = 3)
    "q_ccnet_bucket_kn" -> { (s, dir) =>
      FullText.surprisalBuckets(docsPar(s, dir), order = 3)
        .withColumn("bucket", col("bucket").cast("long"))
        .orderBy("doc_id")
    },
    "q_stratified" -> { (s, dir) =>
      Sampling.stratifiedSample(tbl(s, dir, "documents"), StratFractions, groupCol = "lang")
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    },
    // DSIR importance weights: hashed unigram+bigram bag models, target =
    // the src5 slice, λ per bucket in micro-nats, per-doc exact long sums
    "q_dsir" -> { (s, dir) =>
      TextAnalysis.dsirWeightsSlice(docsPar(s, dir), col("source") === "src5")
        .orderBy("doc_id")
    },
    // corpus drift monitor: KL/JS divergence between the non-src5 bulk and
    // the src5 slice over the hashed feature buckets — nano-nat exact sums
    "q_distribution_drift" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      TextAnalysis.distributionDrift(
        docs.filter(col("source") =!= "src5"),
        docs.filter(col("source") === "src5"))
    },
    // hashed logistic-regression quality classifier (fastText/CCNet style):
    // trained IN the gate on a balanced subset (all 'filter scan' positives
    // + equal count of smallest-id negatives), 2 full-batch GD steps, then
    // the whole corpus is scored — the oracle replays TRAINING end-to-end
    // (unrolled iterations of the same exact-long integer pipeline)
    "q_quality_clf" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val isPos = col("text").contains("filter scan")
      val pos = docs.filter(isPos)
      val np = pos.count().toInt
      val neg = docs.filter(!isPos).orderBy("doc_id").limit(np)
      val wts = TextAnalysis.trainQualityClassifier(pos.unionByName(neg), isPos,
        buckets = 1024, iters = 2, lr = 200.0)
      TextAnalysis.scoreQualityClassifier(docs, wts)
        .select(col("doc_id"), col("n_feats"), col("score"),
          col("pred").cast("long").as("pred"))
        .orderBy("doc_id")
    },
    "q_seg_dedup" -> { (s, dir) =>
      Dedup.segmentDedup(docsPar(s, dir))
        .select(col("doc_id"), col("n_segments"), col("n_kept"), col("clean_text"))
        .orderBy("doc_id")
    }
  ) ++ IncrAnnGates.map { g =>
    // incremental ANN (r5 verdict #5's machinery) through the public API:
    // post-mutation search over the delta sidecars — the upserted vector is
    // findable, the deleted one is gone, no structure retrained
    s"q_ann_vi_${g.gate}_incr" -> { (s: SparkSession, dir: String) =>
      incrAnnIndexFor(s, dir, g).searchVector(probeVec(s, dir), k = 5, threshold = -2.0,
          mode = g.mode)
        .select(col("doc_id"), col("score"), col("key"))
        .orderBy(desc("score"), col("doc_id").asc)
    }
  }

  /** Keyword query for the lexical-retrieval gates (terms from the fixture
    * vocabulary so BM25/hybrid rank lists are non-trivial at every sf).
    */
  private val LexicalQuery = "spark hash join window stream fast"
  /** Per-language keep fractions for q_stratified — exact binary fractions,
    * so the draw<cut comparison is bit-identical across engines.
    */
  private val StratFractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.125)

  /** helper for the sign byte (hex chars 9-10 of md5) used by q_hash_embed */
  private def hexhash32substr2(c: Column): Column =
    conv(substring(md5(c), 9, 2), 16, 10).cast("long")

  /** Bucket-partitioned LSH index for `dir`, built once per JVM (ingest
    * state, like the driver-generated parquet fixtures themselves).
    */
  private def lshIndexFor(s: SparkSession, dir: String): String =
    memo("lsh", dir) { scratch =>
      val path = scratch + "/idx"
      SimilaritySearch.lshIndexWrite(tbl(s, dir, "embeddings"), path, dims = 64, bits = 8)
      path
    }

  /** Per-dir persisted inverted index for q_bm25_indexed (ingest state,
    * built once per JVM like the ANN index fixtures).
    */
  private def invIndexFor(s: SparkSession, dir: String): String =
    memo("inv", dir) { scratch =>
      val path = scratch + "/idx"
      ops.FullText.invertedIndexWrite(docsPar(s, dir), path)
      path
    }

  /** Public-API ANN route (r2 verdict gap #2): a [[VectorIndex]] whose
    * documents are the embeddings table and whose LSH side index is
    * maintained through the versioned store by `upsert` — the gate query
    * goes through `VectorIndex.searchVector(mode = Lsh)` rather than any
    * hand-plumbed index path. Built once per JVM (ingest state); each call
    * empties its page cache, so the gate times a search, not a cache hit.
    */
  private def viIndexFor(s: SparkSession, dir: String): VectorIndex =
    memo("vi", dir) { scratch =>
      val vi = new VectorIndex(s,
        IndexConfig("emb", "vec_id", Seq(EmbeddingField("text"))),
        HashEmbeddingBackend(64), graft.embed.EchoChatBackend(),
        scratch + "/idx", "emb", "vec_id", ann = Seq(SearchMode.Lsh(bits = 8, maxHamming = 2)))
      vi.upsert(embDocs(tbl(s, dir, "embeddings")))
      vi
    }.withEmptyPageCache()

  /** Cell-partitioned IVF index + its centroid table, built once per JVM. */
  private def ivfIndexFor(s: SparkSession, dir: String): (String, DataFrame) =
    memo("ivf", dir) { scratch =>
      val path = scratch + "/idx"
      val (assigned, centroids) = SimilaritySearch.ivfAssign(tbl(s, dir, "embeddings"), nCells = 16)
      SimilaritySearch.ivfIndexWrite(assigned, path)
      (path, centroids)
    }

  /** Cell-partitioned PQ-codes index (IVF × PQ composition) for `dir` —
    * ingest state like the other memoized side indexes.
    */
  private def pqIndexFor(s: SparkSession, dir: String): String =
    memo("pq", dir) { scratch =>
      val path = scratch + "/idx"
      val emb = tbl(s, dir, "embeddings")
      val (assigned, centroids) = SimilaritySearch.ivfAssign(emb, nCells = 16)
      val cb = ProductQuantization.pqTrain(emb, PqCfg)
      val encoded = ProductQuantization.pqEncode(assigned, cb, PqCfg)
        .select(col("vec_id"), col("cell"), col("codes"))
      ProductQuantization.pqIndexWrite(encoded, cb, path, Some(centroids))
      path
    }

  /** One Common-Crawl-shaped record: a WARC `response` at
    * `http://example.com/<kind>/<id>` carrying an HTTP 200 with `headers`
    * and `body`, inside its own gzip member — the crawl-ingest input shape.
    */
  private def warcResponseGz(kind: String, id: Long, headers: String,
                             body: Array[Byte]): Array[Byte] = {
    import graft.sources.WarcCodec
    val head = ("HTTP/1.1 200 OK\r\n" + headers + "\r\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    WarcCodec.gzipMember(WarcCodec.writeRecord(WarcCodec.WarcRecord(
      "response", s"http://example.com/$kind/$id", "2024-01-01T00:00:00Z",
      s"<urn:uuid:$kind-$id>", "application/http; msgtype=response", head ++ body)))
  }

  /** Per-dir synthetic crawl archive: `rec(row)` for every row, written
    * executor-side as `part-<pid><ext>` shards of the fixture's scratch dir,
    * each shard opening with `header`. Output is invariant to the
    * row→shard assignment: URLs are unique, so the ingest dedup keeps every
    * record regardless of file layout.
    *
    * LOCAL-MODE ONLY by design: the shards write through java.io to a
    * driver-created temp dir, valid because gate fixtures run single-JVM
    * (executors share the driver's filesystem). Production never
    * synthesizes archives — `Warc.readWarcFiles` streams real ones.
    */
  private def shardDir(tag: String, dir: String, rows: DataFrame, ext: String,
                       header: Array[Byte])(rec: org.apache.spark.sql.Row => Array[Byte]): String =
    memo(tag, dir) { scratch =>
      val out = scratch
      rows.rdd.foreachPartition { it =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val f = new java.io.FileOutputStream(s"$out/part-$pid$ext")
          try {
            f.write(header)
            it.foreach(r => f.write(rec(r)))
          } finally f.close()
        }
      }
      out
    }

  /** [[shardDir]] over the first 100 documents, one `rec(doc_id)` record
    * each, as plain `.warc.gz` shards.
    */
  private def crawlShards(tag: String, s: SparkSession, dir: String)(rec: Long => Array[Byte]): String =
    shardDir(tag, dir, tbl(s, dir, "documents").filter(col("doc_id") < 100).select(col("doc_id")),
      ".warc.gz", Array.emptyByteArray)(r => rec(r.getLong(0)))

  /** One PDF record per doc: [[synthPdf]] as an `application/pdf`
    * response — the crawl-ingest PDF route's input shape.
    */
  private[graft] def synthWarcPdfGz(id: Long): Array[Byte] =
    warcResponseGz("pdf", id, "Content-Type: application/pdf\r\n", synthPdf(id))

  /** One DOCX record per doc ([[synthDocx]] as an OOXML-typed response) —
    * the crawl-ingest DOCX route's input shape.
    */
  private[graft] def synthWarcDocxGz(id: Long): Array[Byte] =
    warcResponseGz("docx", id, "Content-Type: " +
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document\r\n", synthDocx(id))

  /** One text/plain record per doc: three lines — a punctuation-less
    * 9-word line (kept by the word-count rule), a 2-word line (dropped)
    * and a terminal-punctuated 1-word line (kept by the sentence rule) —
    * pinning both boilerplate predicates on the plain-text route.
    */
  private[graft] def synthWarcTxtGz(id: Long): Array[Byte] =
    warcResponseGz("txt", id, "Content-Type: text/plain; charset=UTF-8\r\n",
      (s"plain text document $id carries five or more words\n" +
        s"short $id\nEnd!").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** One WET `conversion` record per doc (r17, q_crawl_wet): UTF-8
    * plain-text body that IS the extracted page text — line 0 survives
    * the boilerplate filter (terminal '!', and the multibyte é pins the
    * UTF-8 decode), "menu" is the nav-crumb line WET famously retains
    * (1 word, no punctuation — dropped), line 2 survives on word count.
    * The URL carries an uppercase host + a tracking param so the gate
    * also pins canonicalization on the WET route. id %% 7 == 0 docs get
    * a SECOND conversion record at the same URL whose body must NOT
    * survive the first-per-URL dedup.
    */
  private[graft] def synthWetGz(id: Long): Array[Byte] = {
    import graft.sources.WarcCodec
    val a = (id * 29) % 83
    val body = (s"WET extract for doc $id é!\nmenu\n" +
      s"Crawl text $a keeps flowing words here.")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def rec(b: Array[Byte], tag: String) =
      WarcCodec.gzipMember(WarcCodec.writeRecord(WarcCodec.WarcRecord(
        "conversion", s"http://Example.com/wet/$id?utm_source=x",
        "2024-01-01T00:00:00Z", s"<urn:uuid:wet-$tag-$id>",
        "text/plain", b)))
    val first = rec(body, "a")
    if (id % 7 == 0) {
      val dup = rec("DUPLICATE that must not survive the url dedup!"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8), "b")
      first ++ dup
    } else first
  }

  /** The per-file `warcinfo` header record real WET shards start with —
    * written once per fixture file; ingestWet must drop it.
    */
  private[graft] def synthWetInfoGz(): Array[Byte] = {
    import graft.sources.WarcCodec
    WarcCodec.gzipMember(WarcCodec.writeRecord(WarcCodec.WarcRecord(
      "warcinfo", "", "2024-01-01T00:00:00Z", "<urn:uuid:wetinfo>",
      "application/warc-fields",
      "software: graft-fixture\r\nformat: WARC File Format 1.0\r\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))))
  }

  /** One EPUB record per doc: [[synthEpub]] as an `application/epub+zip`
    * response — the q_crawl_pdf shape for the EPUB route (r16).
    */
  private[graft] def synthWarcEpubGz(id: Long): Array[Byte] =
    warcResponseGz("epub", id, "Content-Type: application/epub+zip\r\n", synthEpub(id))

  /** One HTML record per doc in three CHARSET WIRINGS (id % 3): 0 = the
    * header declares `charset=windows-1252` and the body is cp1252
    * bytes; 1 = the header carries NO charset parameter and a
    * `<meta charset="windows-1252">` prescan declaration decides; 2 =
    * neither, falling to the UTF-8 default (body is UTF-8). All three
    * decode to the SAME text containing a non-ASCII é (0xE9 in cp1252,
    * 2 bytes in UTF-8) — so a wrong resolution step yields U+FFFD and a
    * hash mismatch, pinning the header → meta-sniff → default chain.
    */
  private[graft] def synthWarcCharsetGz(id: Long): Array[Byte] = {
    val shape = (id % 3).toInt
    val meta = if (shape == 1) "<meta charset=\"windows-1252\">" else ""
    val html = s"<html><head>$meta<title>Café $id</title></head>" +
      s"<body><p>Café document $id carries six words or more today!</p></body></html>"
    val body = html.getBytes(
      if (shape == 2) java.nio.charset.StandardCharsets.UTF_8
      else java.nio.charset.Charset.forName("windows-1252"))
    val ct = if (shape == 0) "Content-Type: text/html; charset=windows-1252\r\n"
      else "Content-Type: text/html\r\n"
    warcResponseGz("cs", id, ct, body)
  }

  /** The crawl→train-ready pipeline up to its last stage boundary, with
    * every boundary PERSISTED: each super-stage (ingest, clean-keep, span
    * dedup, decontaminated survivors) is referenced 2-3× by its consumer
    * (signals + text join, corpus + eval slice), so an unbounded lazy
    * composition re-plans the whole upstream per reference — measured 121
    * hash exchanges at 5 stages, multiplying with pipeline depth. Caching
    * the boundary is the scale design (a production pipeline writes these
    * very boundaries to storage): each stage executes exactly ONCE and the
    * composition's total shuffle work is the sum of its stages'.
    * [[graft.PlanSpec]] pins both properties. The input archive is every
    * document as one [[synthWarcGz]] record — the SAME generator the
    * q_warc_extract gate already proves the codec inverts.
    */
  private[graft] def corpusE2eSurvivors(s: SparkSession, dir: String): DataFrame =
    memo("corpus-e2e", dir) { _ =>
      val warcDir = shardDir("e2e-warc", dir, docsPar(s, dir).select(col("doc_id"), col("text")),
        ".warc.gz", Array.emptyByteArray)(r => synthWarcGz(r.getLong(0), r.getString(1)))
      val ingested = ops.Crawl.ingest(s, warcDir).persist()
      val keep = TextAnalysis.cleanPipeline(ingested)
        .filter(col("keep")).select("doc_id")
      val kept = ingested.select(col("doc_id"), col("text"))
        .join(keep, Seq("doc_id"), "left_semi").persist()
      val cleaned = Dedup.spanDedup(kept, windowWords = 10)
        .select(col("doc_id"), col("clean_text").as("text")).persist()
      // n = 6: the html fixture injects a common ~5-word trailer into every
      // page, so any n <= 5 marks the whole corpus contaminated (a 0-row
      // gate); 6-grams must straddle genuinely shared doc text to hit
      val decon = TextAnalysis.decontaminate(cleaned,
        cleaned.filter(col("doc_id") % 7 === 3), n = 6)
      // the LAST boundary is an EAGER localCheckpoint, not a persist: a
      // cached plan still carries the whole upstream LOGICAL tree, and at
      // 5 pipeline stages that tree is big enough that every downstream
      // driver action (the packing's bounds/checkpoint/collect steps) pays
      // ~2 s re-optimizing it — measured 17 s to re-pack 114 cached rows.
      // Checkpointing truncates lineage to the materialized rows (exactly
      // what writing the stage boundary to storage does in production);
      // the intermediate caches only feed this one materialization and
      // free immediately after.
      val survivors = cleaned.join(
        decon.filter(col("contaminated") === 0).select("doc_id"),
        Seq("doc_id"), "left_semi").localCheckpoint()
      Seq(ingested, kept, cleaned).foreach(_.unpersist(false))
      survivors
    }

  /** Seed-candidate word budget for the tokenizer gates: the driver
    * collects AT MOST this many (word, count) rows — pruned
    * distributed-side to the top-N by (count desc, word asc)
    * ([[graft.text.Bpe.topWordCounts]]) — at ANY corpus size. The oracle
    * SQL replays the identical prune (same total order), so gate and
    * oracle stay lockstep even when the prune bites.
    */
  private val TokSeedCap = 50000

  /** The [[TokSeedCap]]-bounded (word, count) seed rows of `dir` — one
    * distributed word-count pass and a bounded driver collect.
    */
  private def tokSeedCounts(s: SparkSession, dir: String): Seq[(String, Long)] =
    graft.text.Bpe.topWordCounts(docsPar(s, dir), cap = TokSeedCap).collect()
      .iterator.map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Per-dir unigram-LM seed model: frequency probabilities over the
    * corpus's substring candidates ([[graft.text.Unigram.seedModel]]).
    */
  private def unigramModelFor(s: SparkSession, dir: String): graft.text.Unigram.Model =
    memo("unigram", dir) { _ =>
      graft.text.Unigram.seedModel(tokSeedCounts(s, dir), maxPieceLen = 4, seedSize = 200)
    }

  /** Media-markup wrapper for q_media_links (q_links discipline: the
    * oracle PREDICTS the extracted rows from this generator): every doc an
    * UPPERCASE <IMG> (pins case-insensitive matching + tag lowering) plus
    * a src-less img that must NOT match; %2 docs a video with a poster
    * attribute BEFORE src (pins attribute skipping) and a nested <source>;
    * %3 docs an audio element.
    */
  private def synthMediaHtml: Column = concat(
    lit("<p>media <IMG src=\"http://img.h"), col("doc_id") % 10,
    lit(".com/i"), col("doc_id"), lit(".png\"> <img alt=\"no source here\">"),
    when(col("doc_id") % 2 === 0, concat(
      lit("<video poster=\"p.jpg\" src=\"http://v.example/v"), col("doc_id"),
      lit(".mp4\"><source src=\"http://v.example/v"), col("doc_id"),
      lit(".webm\"></video>"))).otherwise(lit("")),
    when(col("doc_id") % 3 === 0, concat(
      lit("<audio src=\"http://a.example/a"), col("doc_id"),
      lit(".mp3\"></audio>"))).otherwise(lit("")),
    lit("</p>"))

  /** Shared link fixture for q_links/q_anchors: three id-driven anchors —
    * attributes before/after href, messy inner whitespace, a relative
    * href, inner markup.
    */
  private def synthLinksHtml: Column = concat(
    lit("<p>see <a href=\"http://h"), col("doc_id") % 10, lit(".com/p"), col("doc_id"),
    lit("\">first  link "), col("doc_id"), lit("</a> then <a class=\"x\" href=\"http://h"),
    (col("doc_id") + 3) % 10, lit(".com/q\">second\nlink</a>"),
    lit(" <a href=\"/rel/"), col("doc_id") % 5, lit("\"><b>rel</b></a></p>"))

  /** Per-dir WordPiece seed vocabulary (frequency-seeded two-class
    * candidates, [[graft.text.WordPiece.seedVocab]]).
    */
  private def wordpieceVocabFor(s: SparkSession, dir: String): graft.text.WordPiece.Vocab =
    memo("wordpiece", dir) { _ =>
      graft.text.WordPiece.seedVocab(tokSeedCounts(s, dir), maxPieceLen = 4, seedSize = 200)
    }

  /** Cell-partitioned RESIDUAL-PQ codes index (the FAISS IVFPQ
    * construction): codebooks train on and codes encode `v − centroid`.
    */
  private def rpqIndexFor(s: SparkSession, dir: String): String =
    memo("rpq", dir) { scratch =>
      val path = scratch + "/idx"
      val emb = tbl(s, dir, "embeddings")
      val (assigned, centroids) = SimilaritySearch.ivfAssign(emb, nCells = 16)
      val res = ProductQuantization.residualize(assigned, centroids)
      val cb = ProductQuantization.pqTrain(res, PqCfg, itemVec = "residual")
      val encoded = ProductQuantization.pqEncode(res, cb, PqCfg, itemVec = "residual")
        .select(col("vec_id"), col("cell"), col("codes"))
      ProductQuantization.pqIndexWrite(encoded, cb, path, Some(centroids))
      path
    }

  /** Cell-partitioned SQ-codes index (IVF × SQ composition) for `dir`. */
  private def sqIndexFor(s: SparkSession, dir: String): String =
    memo("sq", dir) { scratch =>
      val path = scratch + "/idx"
      val emb = tbl(s, dir, "embeddings")
      val (assigned, centroids) = SimilaritySearch.ivfAssign(emb, nCells = 16)
      val (mins, maxs) = ScalarQuantization.collectParams(ScalarQuantization.sqTrain(emb))
      val encoded = ScalarQuantization.sqEncode(assigned, mins, maxs)
        .select(col("vec_id"), col("cell"), col("sq"))
      ScalarQuantization.sqIndexWrite(encoded, ScalarQuantization.sqTrain(emb),
        path, Some(centroids))
      path
    }

  /** Cell-partitioned BQ-codes index (IVF × BQ composition) for `dir`. */
  private def bqIndexFor(s: SparkSession, dir: String): String =
    memo("bq", dir) { scratch =>
      val path = scratch + "/idx"
      val emb = tbl(s, dir, "embeddings")
      val (assigned, centroids) = SimilaritySearch.ivfAssign(emb, nCells = 16)
      val thr = BinaryQuantization.collectThresholds(BinaryQuantization.bqTrain(emb))
      val encoded = BinaryQuantization.bqEncode(assigned, thr)
        .select(col("vec_id"), col("cell"), col("bq"))
      BinaryQuantization.bqIndexWrite(encoded, BinaryQuantization.bqTrain(emb),
        path, Some(centroids))
      path
    }

  /** Delta-sidecar store lifecycle (S7/S10 through the O(batch) path): base
    * replace, then an upsert whose batch mixes doc_id CONFLICTS (old-wins —
    * the modified copies must NOT surface) with genuinely-new rows (an "add"
    * sidecar), then a delete spanning base rows AND a delta row (a "del"
    * tombstone). Mutations run once per JVM (ingest state, like the memoized
    * ANN indexes); the gate queries measure the merge-on-read — and, for the
    * `fold` twin, that compaction folds the sidecars into a fresh base
    * version without changing a single row.
    */
  private def deltaStoreFor(s: SparkSession, dir: String, fold: Boolean): ParquetIndexStore =
    memo(if (fold) "store-fold" else "store", dir) { scratch =>
      val store = new ParquetIndexStore(s, scratch + "/idx")
      val base = tbl(s, dir, "documents").select(
        col("doc_id"),
        array(concat(lit("doc:"), col("doc_id"))).as("object_keys"),
        col("text").as("content"))
      store.replace(base)
      val mods = base.filter(col("doc_id") % 10 === 3)
      store.upsert(
        mods.withColumn("content", concat(lit("MOD: "), col("content")))
          .unionByName(mods.select(
            (col("doc_id") + 1000000L).as("doc_id"),
            array(concat(lit("doc:"), col("doc_id") + 1000000L)).as("object_keys"),
            concat(lit("new: "), col("content")).as("content"))))
      store.delete(Seq(3L, 13L, 23L, 33L, 43L, 1000003L))
      if (fold) store.compact()
      store
    }

  /** Document-shaped view of the embeddings table (shared by the public-API
    * ANN index fixtures).
    */
  private def embDocs(df: DataFrame): DataFrame = df.select(
    col("vec_id").as("doc_id"),
    array(concat(lit("emb:"), col("vec_id"))).as("object_keys"),
    col("embedding").as("vector"),
    concat(lit("doc "), col("vec_id")).as("content"),
    map(lit("table"), lit("emb")).as("metadata"))

  /** One incremental-ANN gate `q_ann_vi_<gate>_incr` per [[SearchMode]]:
    * the public [[VectorIndex]] named `index` is built over the full
    * corpus with `mode` as its side index (training the structure once),
    * then takes a 1-row upsert re-using vec 1's vector under a fresh id
    * and a 1-row delete — both landing as O(batch) delta sidecars, no
    * retrain. The gate searches through the delta overlay (new row
    * findable, deleted row gone, base scan still pruned); `sql` is its
    * oracle over the live corpus.
    */
  private case class IncrAnn(gate: String, index: String, mode: SearchMode, sql: String)

  /** The gate's index, built once per JVM; each call empties its page
    * cache, so the gate times a search, not a cache hit.
    */
  private def incrAnnIndexFor(s: SparkSession, dir: String, g: IncrAnn): VectorIndex =
    memo(g.index, dir) { scratch =>
      val vi = new VectorIndex(s,
        IndexConfig(g.index, "vec_id", Seq(EmbeddingField("text"))),
        HashEmbeddingBackend(64), graft.embed.EchoChatBackend(),
        scratch + "/idx", "emb", "vec_id", ann = Seq(g.mode))
      val emb = tbl(s, dir, "embeddings")
      vi.upsert(embDocs(emb)) // full ingest: trains structures over the corpus
      vi.upsert(embDocs(emb.filter(col("vec_id") === 1)
        .withColumn("vec_id", lit(1000001L)))) // re-uses vec 1's vector
      vi.delete(Seq(2L))
      vi
    }.withEmptyPageCache()

  // ------------------------------------------------------------- oracle SQL

  /** Live corpus of the incremental-ANN oracles: the base embeddings minus
    * the deleted vec 2, plus 1000001 carrying vec 1's vector.
    */
  private val incrCorpCte: String =
    """corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 2
      |   UNION ALL SELECT 1000001 AS vec_id, embedding FROM embeddings WHERE vec_id = 1)""".stripMargin

  /** The IVF oracles' 16 centroid seeds `c` (cid, cv): the md5-min sample
    * of the embeddings, as SimilaritySearch.ivfAssign seeds its cells.
    */
  private val ivfSeedsCte: String =
    s"""c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |   ORDER BY ${sqlHex60("'ivf:' || vec_id")} ASC, vec_id ASC LIMIT 16)""".stripMargin

  /** Probes vec 0..4 (qid, qv) and their 4 nearest cells `pc` (qid, qv,
    * cell) under [[ivfSeedsCte]]. Starts with a space, ends with a comma.
    */
  private val ivfProbeCellsCtes: String =
    s""" pd AS (SELECT e.vec_id AS qid, e.embedding AS qv, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist
       |   FROM embeddings e, c WHERE e.vec_id < 5),
       | pc AS (SELECT qid, qv, cid AS cell FROM (SELECT qid, qv, cid,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rn FROM pd) WHERE rn <= 4),""".stripMargin

  /** `assign` (vec_id, cell): each `corpus` vector's nearest seed cell (L2,
    * then cid). Starts with a space, ends with a comma.
    */
  private def ivfAssignCtes(corpus: String): String =
    s""" ad AS (SELECT e.vec_id, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM $corpus e, c),
       | assign AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM ad) WHERE rn = 1),""".stripMargin

  /** Closing CTE + select of a single-probe oracle: top-5 of `scored`'s
    * (vec_id, score) rows by (score DESC, vec_id ASC) in the search() output
    * shape; `rn` names the row-number column.
    */
  private def searchTop5(scored: String, rn: String): String =
    s""" ranked AS (SELECT vec_id, score,
       |   row_number() OVER (ORDER BY score DESC, vec_id ASC) AS $rn FROM $scored)
       |SELECT vec_id AS doc_id, score, 'emb:' || vec_id AS key FROM ranked WHERE $rn <= 5
       |ORDER BY score DESC, doc_id""".stripMargin

  /** Closing CTEs + select of a quantized multi-probe oracle: per qid the
    * top-20 candidates of `scored` by (`key` ASC, vec_id ASC), reranked by
    * exact cosine against the probes `p` (qid, qv) into [[probesTop5]].
    */
  private def rerankTop5(key: String, scored: String): String =
    s""" cand AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |     row_number() OVER (PARTITION BY qid ORDER BY $key ASC, vec_id ASC) AS rn FROM $scored)
       |   WHERE rn <= 20),
       | rer AS (SELECT c.qid, c.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
       |   FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id JOIN p ON p.qid = c.qid),
       |${probesTop5("rer")}""".stripMargin

  /** Closing CTE + select of a multi-probe oracle: per-qid top-5 of
    * `scored`'s (qid, vec_id, score) rows as (qid, vec_id, rank, score).
    */
  private def probesTop5(scored: String): String =
    s""" ranked AS (SELECT qid, vec_id, score,
       |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rank FROM $scored)
       |SELECT qid, vec_id, CAST(rank AS INT) AS rank, score FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** Fingerprint CTEs of the MPEG-audio decode oracles: granule energies
    * `en` (doc_id, nf, gi, e) summed into 65 windows over nf·`perFrame`
    * granules, the 64 adjacent-window rise bits, and `fp` (doc_id, afp_hi,
    * afp_lo) packing them — the twin of [[ops.Multimodal.audioFingerprint64]]'s
    * envelope hash.
    */
  private def audioFpCtes(perFrame: Int): String =
    s""" win AS (SELECT doc_id, nf, (gi * 65) // (nf * $perFrame) AS w, sum(e) AS we
       |   FROM en GROUP BY 1, 2, 3),
       | bits AS (SELECT a.doc_id, a.w, CASE WHEN a.we < b.we THEN 1 ELSE 0 END AS bit
       |   FROM win a JOIN win b ON a.doc_id = b.doc_id AND b.w = a.w + 1 WHERE a.w < 64),
       | fp AS (SELECT doc_id,
       |   CAST(coalesce(sum(CASE WHEN w >= 32 AND bit = 1
       |     THEN (CAST(1 AS BIGINT) << (w - 32)) ELSE 0 END), 0) AS BIGINT) AS afp_hi,
       |   CAST(coalesce(sum(CASE WHEN w < 32 AND bit = 1
       |     THEN (CAST(1 AS BIGINT) << w) ELSE 0 END), 0) AS BIGINT) AS afp_lo
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** [[audioFpCtes]] over ZERO-FILLED windows (`wall`: every doc × all 65
    * windows, empty ones 0), for the Layer-III oracles whose `en` (doc_id,
    * nf, gi, e) leaves windows empty.
    */
  private def audioFpWallCtes(perFrame: Int): String =
    s""" win0 AS (SELECT doc_id, (gi * 65) // (nf * $perFrame) AS w, sum(e) AS we
       |   FROM en GROUP BY 1, 2),
       | wall AS (SELECT d.doc_id, wi.w, coalesce(win0.we, 0) AS we
       |   FROM d CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS w) wi
       |   LEFT JOIN win0 ON win0.doc_id = d.doc_id AND win0.w = wi.w),
       | bits AS (SELECT a.doc_id, a.w, CASE WHEN a.we < b.we THEN 1 ELSE 0 END AS bit
       |   FROM wall a JOIN wall b ON a.doc_id = b.doc_id AND b.w = a.w + 1 WHERE a.w < 64),
       | fp AS (SELECT doc_id,
       |   CAST(coalesce(sum(CASE WHEN w >= 32 AND bit = 1
       |     THEN (CAST(1 AS BIGINT) << CAST(w - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS afp_hi,
       |   CAST(coalesce(sum(CASE WHEN w < 32 AND bit = 1
       |     THEN (CAST(1 AS BIGINT) << CAST(w AS INT)) ELSE 0 END), 0) AS BIGINT) AS afp_lo
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Closing select of the MPEG-audio decode oracles: per doc of `d`
    * (doc_id, nf), the stream shape and the [[audioFpCtes]] halves.
    */
  private def audioFpSelect(sampleRate: Int, granulesPerFrame: Int): String =
    s"""SELECT d.doc_id, CAST($sampleRate AS BIGINT) AS sample_rate,
       |  CAST(d.nf AS BIGINT) AS n_frames, CAST(d.nf * $granulesPerFrame AS BIGINT) AS n_granules,
       |  fp.afp_hi, fp.afp_lo
       |FROM d JOIN fp USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** dHash CTEs of the image oracles over `img` (k, w, h) — the
    * [[synthPng]] images: 9×8 area-mean cells cb/xs/ys/cells, the
    * horizontal-gradient `bits`, and `dh` (k, `hi`, `lo`) packing them.
    * Ends with a comma.
    */
  private def imageDhashCtes(hi: String, lo: String): String =
    s""" cb AS (SELECT i.k, i.w, i.h, c.tx, r.ty,
       |     (c.tx * i.w) // 9 AS sx0, greatest((c.tx * i.w) // 9 + 1, ((c.tx + 1) * i.w) // 9) AS sx1,
       |     (r.ty * i.h) // 8 AS sy0, greatest((r.ty * i.h) // 8 + 1, ((r.ty + 1) * i.h) // 8) AS sy1
       |   FROM img i, (SELECT unnest(generate_series(0, 8)) AS tx) c,
       |        (SELECT unnest(generate_series(0, 7)) AS ty) r),
       | xs AS (SELECT *, unnest(generate_series(sx0, sx1 - 1)) AS x FROM cb),
       | ys AS (SELECT *, unnest(generate_series(sy0, sy1 - 1)) AS y FROM xs),
       | cells AS MATERIALIZED (SELECT k, tx, ty,
       |   sum((k * 31 + (y * w + x)) % 256) // count(*) AS cv FROM ys GROUP BY k, tx, ty),
       | bits AS (SELECT a.k, a.ty, a.tx, CASE WHEN a.cv < b.cv THEN 1 ELSE 0 END AS bit
       |   FROM cells a JOIN cells b ON a.k = b.k AND a.ty = b.ty AND b.tx = a.tx + 1),
       | dh AS MATERIALIZED (SELECT k,
       |   CAST(sum(CASE WHEN ty * 8 + tx >= 32 AND bit = 1
       |     THEN (CAST(1 AS BIGINT) << (ty * 8 + tx - 32)) ELSE 0 END) AS BIGINT) AS $hi,
       |   CAST(sum(CASE WHEN ty * 8 + tx < 32 AND bit = 1
       |     THEN (CAST(1 AS BIGINT) << (ty * 8 + tx)) ELSE 0 END) AS BIGINT) AS $lo
       |  FROM bits GROUP BY k),""".stripMargin

  /** `name` (doc_id, w1, w2, w3): every word trigram of `src`'s word lists.
    * Ends with a comma.
    */
  private def trigramCte(name: String, src: String): String =
    s""" $name AS (SELECT doc_id,
       |     unnest(list_transform(range(1, len(w) - 1), i -> w[i])) AS w1,
       |     unnest(list_transform(range(1, len(w) - 1), i -> w[i+1])) AS w2,
       |     unnest(list_transform(range(1, len(w) - 1), i -> w[i+2])) AS w3
       |   FROM $src WHERE len(w) >= 3),""".stripMargin

  /** Trigram Kneser-Ney CTEs of the perplexity oracles: type counts `c3`
    * from `inst`, the ctx / low / ctx2 / cont tables, add-one over the
    * vocabulary of `vocabSrc`, the trigram positions of `dtSrc` scored in
    * micro-nats through the interpolation CASE ladder, and `agg` (doc_id,
    * n, s). `pruned` drops trigram counts below 2 into the interpolation
    * weight.
    */
  private def knTrigramCtes(vocabSrc: String, dtSrc: String, pruned: Boolean): String = {
    val ctx =
      if (pruned) """ctx AS (SELECT w1, w2, sum(tc) AS c2, count(*) AS mid,
                    |     sum(CASE WHEN tc < 2 THEN greatest(tc - 0.75, 0.0) ELSE 0.0 END) AS pmass
                    |   FROM c3 GROUP BY 1, 2)""".stripMargin
      else "ctx AS (SELECT w1, w2, sum(tc) AS c2, count(*) AS mid FROM c3 GROUP BY 1, 2)"
    val top =
      if (pruned) "(greatest((CASE WHEN coalesce(tc, 0) >= 2 THEN tc ELSE 0 END) - 0.75, 0.0) + " +
        "(0.75 * coalesce(mid, 0) + coalesce(pmass, 0.0)) *"
      else "(greatest(coalesce(tc, 0) - 0.75, 0.0) + 0.75 * coalesce(mid, 0) *"
    s""" c3 AS (SELECT w1, w2, w3, count(*) AS tc FROM inst GROUP BY 1, 2, 3),
       | $ctx,
       | low AS (SELECT w2, w3, count(*) AS lowc FROM c3 GROUP BY 1, 2),
       | ctx2 AS (SELECT w2, sum(lowc) AS ctot, count(*) AS ctyp FROM low GROUP BY 1),
       | cont AS (SELECT w3, count(*) AS cw3 FROM low GROUP BY 1),
       | tot AS (SELECT (SELECT count(*) FROM low) AS n2types,
       |     (SELECT count(DISTINCT u) FROM (SELECT unnest(w) AS u FROM $vocabSrc)) AS v),
       | dt AS (SELECT doc_id, w1, w2, w3, count(*) AS k FROM $dtSrc GROUP BY 1, 2, 3, 4),
       | sc AS (SELECT dt.doc_id, dt.k,
       |     CAST(round(-ln(
       |       CASE WHEN coalesce(c2, 0) > 0 THEN
       |         $top
       |           (CASE WHEN coalesce(ctot, 0) > 0 THEN
       |             (greatest(coalesce(lowc, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp, 0) *
       |               ((coalesce(cw3, 0) + 1.0) / (n2types + v))) / ctot
       |            ELSE (coalesce(cw3, 0) + 1.0) / (n2types + v) END)) / c2
       |       WHEN coalesce(ctot, 0) > 0 THEN
       |         (greatest(coalesce(lowc, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp, 0) *
       |           ((coalesce(cw3, 0) + 1.0) / (n2types + v))) / ctot
       |       ELSE (coalesce(cw3, 0) + 1.0) / (n2types + v) END) * 1000000) AS BIGINT) AS m
       |   FROM dt LEFT JOIN c3 USING (w1, w2, w3) LEFT JOIN ctx USING (w1, w2)
       |     LEFT JOIN low USING (w2, w3) LEFT JOIN ctx2 USING (w2)
       |     LEFT JOIN cont USING (w3), tot),
       | agg AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n, CAST(sum(k * m) AS BIGINT) AS s FROM sc GROUP BY doc_id)""".stripMargin
  }

  /** Add-one bigram LM CTEs over `t` (doc_id, w): bigram positions `inst`,
    * unigram/bigram counts, and each position's micro-nat cost in `sc`.
    * Ends with a comma.
    */
  private val bigramLmCtes: String =
    """ inst AS (SELECT doc_id,
      |     unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
      |     unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
      |   FROM t WHERE len(w) >= 2),
      | uni AS (SELECT w1, count(*) AS uc FROM (SELECT unnest(w) AS w1 FROM t) GROUP BY w1),
      | voc AS (SELECT count(*) AS v FROM uni),
      | big AS (SELECT w1, w2, count(*) AS bc FROM inst GROUP BY w1, w2),
      | sc AS (SELECT i.doc_id,
      |     CAST(round(-ln((coalesce(bc, 0) + 1.0) / (coalesce(uc, 0) + v)) * 1000000) AS BIGINT) AS m
      |   FROM inst i LEFT JOIN big USING (w1, w2) LEFT JOIN uni USING (w1), voc),""".stripMargin

  /** CCNet bucketing tail over `agg` (doc_id, n, s): MIL-nat floor,
    * per-lang histogram cumsum, t_k = min score with cum·3 ≥ k·n, bucket =
    * #{k : score > t_k}; docs without a score land in tail (bucket 2).
    */
  private val ccnetBucketTail: String =
    """ scored AS (SELECT d.doc_id, d.lang, s // (n * 1000) AS score
      |   FROM documents d LEFT JOIN agg USING (doc_id)),
      | hist AS (SELECT lang, score, count(*) AS c FROM scored
      |   WHERE score IS NOT NULL GROUP BY lang, score),
      | cum AS (SELECT lang, score,
      |     sum(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
      |     sum(c) OVER (PARTITION BY lang) AS n FROM hist),
      | th AS (SELECT lang,
      |     min(CASE WHEN cum * 3 >= n * 1 THEN score END) AS t1,
      |     min(CASE WHEN cum * 3 >= n * 2 THEN score END) AS t2
      |   FROM cum GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.score AS score_mnat,
      |  CAST(CASE WHEN s.score IS NULL THEN 2 ELSE
      |    (CASE WHEN s.score > t1 THEN 1 ELSE 0 END) +
      |    (CASE WHEN s.score > t2 THEN 1 ELSE 0 END) END AS BIGINT) AS bucket,
      |  CASE WHEN s.score IS NULL THEN 'tail'
      |    WHEN s.score <= t1 THEN 'head'
      |    WHEN s.score <= t2 THEN 'middle' ELSE 'tail' END AS bucket_name
      |FROM scored s LEFT JOIN th USING (lang) ORDER BY s.doc_id""".stripMargin

  /** DuckDB twin of the word 3-shingle set of `w` (Dedup's shingles). */
  private val sqlShingles3: String =
    "list_distinct(CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END)"
  /** The 8 MinHash signature columns mh0..mh7 over shingle set `sh`. */
  private val sqlMinhashCols: String = (0 until 8).map(j =>
    s"list_min(list_transform(sh, s -> ${sqlHex60(s"'$j:' || s")})) AS mh$j").mkString(", ")
  /** LSH band buckets (4 bands × 2 rows) of the signatures in `src`. */
  private def sqlBandRows(src: String): String = (0 until 4).map(b =>
    s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '_' || mh${2 * b + 1}) AS bucket FROM $src")
    .mkString(" UNION ALL ")

  private val minhashSigSql: String =
    s"WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents), " +
      s"t2 AS (SELECT doc_id, $sqlShingles3 AS sh FROM t) " +
      s"SELECT doc_id, $sqlMinhashCols FROM t2 ORDER BY doc_id"

  private val simhashSql: String = {
    val bitTerms = (0 until 16).map(j =>
      s"(CASE WHEN list_sum(list_transform(dw, w -> CASE WHEN ((${sqlHex32("w")} >> $j) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"WITH t AS (SELECT doc_id, list_distinct($sqlWords) AS dw FROM documents) " +
      s"SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash FROM t ORDER BY doc_id"
  }

  /** Mirrors Dedup.hotBucketCap default: buckets ≤ cap do all-pairs; hot
    * buckets pair members against the bucket-min representative only.
    */
  private val HotBucketCap = 64

  /** DuckDB twin of Dedup.cappedBucketPairs over a `$src` CTE with columns
    * (doc_id, band, bucket): emits CTEs `bsized` and `cand` (id_a, id_b).
    */
  private def cappedCandSql(src: String): String =
    s""" bsized AS (SELECT doc_id, band, bucket,
       |   count(*) OVER (PARTITION BY band, bucket) AS bsz,
       |   min(doc_id) OVER (PARTITION BY band, bucket) AS rep FROM $src),
       | cand AS (SELECT DISTINCT id_a, id_b FROM (
       |   SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |     FROM bsized a JOIN bsized b ON a.band = b.band AND a.bucket = b.bucket
       |      AND a.doc_id < b.doc_id WHERE a.bsz <= $HotBucketCap AND b.bsz <= $HotBucketCap
       |   UNION ALL
       |   SELECT rep AS id_a, doc_id AS id_b FROM bsized
       |     WHERE bsz > $HotBucketCap AND doc_id <> rep))""".stripMargin

  /** Shared MinHash-LSH CTE chain (8 hashes, 4 bands × 2 rows, 3-shingles,
    * capped buckets): shingle sets → signatures → band buckets → capped
    * candidates → `vp` = Jaccard-verified pairs at `threshold`. The DuckDB
    * twin of Dedup.minhashLsh, reused by the pair gate and the end-to-end
    * corpus-dedup gate.
    */
  private def minhashPairCtes(threshold: Double): String = {
    s"""t AS (SELECT doc_id, $sqlWords AS w FROM documents),
       | t2 AS (SELECT doc_id, $sqlShingles3 AS sh FROM t),
       | sig AS (SELECT doc_id, sh, $sqlMinhashCols FROM t2 WHERE len(sh) > 0),
       | buckets AS (${sqlBandRows("sig")}),
       |${cappedCandSql("buckets")},
       | shj AS (SELECT doc_id, list_transform(sh, s -> ${sqlHex60("s")}) AS h FROM t2),
       | vp AS (SELECT * FROM (
       |   SELECT c.id_a, c.id_b, round(CASE WHEN len(list_distinct(sa.h || sb.h)) = 0 THEN 0.0
       |     ELSE len(list_intersect(sa.h, sb.h)) / CAST(len(list_distinct(sa.h || sb.h)) AS DOUBLE) END, 6) AS jaccard
       |   FROM cand c JOIN shj sa ON sa.doc_id = c.id_a JOIN shj sb ON sb.doc_id = c.id_b)
       |  WHERE jaccard >= $threshold)""".stripMargin
  }

  private val lshPairsSql: String =
    s"""WITH ${minhashPairCtes(0.0)}
       |SELECT id_a, id_b, jaccard FROM vp
       |ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin

  /** DuckDB twin of Dedup.crossCorpusDedup at (new = doc_id % 3 <> 0,
    * ref = doc_id % 3 = 0, 8 hashes × 4 bands, 3-shingles, threshold 0.7,
    * capped ref buckets).
    */
  /** Appended to ref-doc text to build the gate's fuzzy-only near-dups (a
    * pure suffix mutation keeps all original shingles → J = (n-2)/(n+7)).
    */
  private val CrossDedupSuffix = " entirely fresh suffix words appended for the mutation test"

  /** Synthesized NEW side of the cross-corpus gates (q_cross_dedup,
    * q_cross_dedup_bloom): doc_id % 3 ≠ 0 rows, with %9==1 rewritten to a
    * ref doc + fresh suffix (fuzzy path) and %9==2 to a verbatim ref copy
    * (exact path) — the oracle's tn0 CTE replays the same mutation.
    */
  private def crossDedupNewSide(docs: DataFrame): DataFrame = {
    val refT = docs.select(col("doc_id").as("__rid"), col("text").as("__rt"))
    docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("__key",
        when(col("doc_id") % 9 === 1, col("doc_id") - 1)
          .when(col("doc_id") % 9 === 2, col("doc_id") - 2)
          .otherwise(lit(-1L)))
      .join(refT, col("__key") === col("__rid"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 1, concat(col("__rt"), lit(CrossDedupSuffix)))
          .when(col("doc_id") % 9 === 2, col("__rt")) // verbatim → exact path
          .otherwise(col("text")).as("text"))
  }
  /** The cross-corpus new side `tn0` (doc_id, text): the non-%3 documents
    * with the %9 = 1 / 2 ids replaced by their ref doc's text, suffixed or
    * verbatim — the SQL twin of [[crossDedupNewSide]].
    */
  private val crossDedupTn0Cte: String =
    s"""tn0 AS (SELECT a.doc_id,
       |   CASE WHEN a.doc_id % 9 = 1 THEN b.text || ${sqlStr(CrossDedupSuffix)}
       |        WHEN a.doc_id % 9 = 2 THEN b.text
       |        ELSE a.text END AS text
       |   FROM documents a LEFT JOIN documents b ON b.doc_id =
       |     (CASE WHEN a.doc_id % 9 = 1 THEN a.doc_id - 1
       |           WHEN a.doc_id % 9 = 2 THEN a.doc_id - 2 ELSE -1 END)
       |   WHERE a.doc_id % 3 <> 0)""".stripMargin

  /** Cross-corpus MinHash-LSH candidates between the new side `tn` and the
    * ref side `tr` (doc_id, w): shingles, signatures, band buckets (ref
    * buckets capped at [[HotBucketCap]] members), `cand` (doc_id, ref_id)
    * and the hashed shingle sets `hn` / `hr`. Ends with a comma.
    */
  private val crossMinhashCandCtes: String =
    s""" shn AS (SELECT doc_id, $sqlShingles3 AS sh FROM tn),
       | shr AS (SELECT doc_id, $sqlShingles3 AS sh FROM tr),
       | sign AS (SELECT doc_id, sh, $sqlMinhashCols FROM shn WHERE len(sh) > 0),
       | sigr AS (SELECT doc_id, sh, $sqlMinhashCols FROM shr WHERE len(sh) > 0),
       | bn AS (${sqlBandRows("sign")}),
       | br AS (${sqlBandRows("sigr")}),
       | brc AS (SELECT doc_id, band, bucket FROM (
       |   SELECT doc_id, band, bucket,
       |     row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn FROM br)
       |   WHERE rn <= $HotBucketCap),
       | cand AS (SELECT DISTINCT n.doc_id, r.doc_id AS ref_id
       |   FROM bn n JOIN brc r ON n.band = r.band AND n.bucket = r.bucket),
       | hn AS (SELECT doc_id, list_transform(sh, s -> ${sqlHex60("s")}) AS h FROM shn),
       | hr AS (SELECT doc_id, list_transform(sh, s -> ${sqlHex60("s")}) AS h FROM shr),""".stripMargin

  private val crossDedupSql: String = {
    s"""WITH $crossDedupTn0Cte,
       | tn AS (SELECT doc_id, $sqlWords AS w FROM tn0),
       | tr AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE doc_id % 3 = 0),
       | fn AS (SELECT doc_id, md5(array_to_string(w, ' ')) AS fp FROM tn),
       | fr AS (SELECT DISTINCT md5(array_to_string(w, ' ')) AS fp FROM tr),
       |${crossMinhashCandCtes}
       | vp AS (SELECT c.doc_id,
       |   round(CASE WHEN len(list_distinct(a.h || b.h)) = 0 THEN 0.0
       |     ELSE len(list_intersect(a.h, b.h)) / CAST(len(list_distinct(a.h || b.h)) AS DOUBLE) END, 6) AS j
       |   FROM cand c JOIN hn a ON a.doc_id = c.doc_id JOIN hr b ON b.doc_id = c.ref_id),
       | agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ref_candidates,
       |   max(j) AS max_jaccard FROM vp GROUP BY doc_id)
       |SELECT fn.doc_id,
       |  (fr.fp IS NOT NULL) AS exact_dup,
       |  coalesce(agg.n_ref_candidates, 0) AS n_ref_candidates,
       |  coalesce(agg.max_jaccard, 0.0) AS max_jaccard,
       |  (fr.fp IS NOT NULL OR coalesce(agg.max_jaccard, 0.0) >= 0.7) AS dup
       |FROM fn LEFT JOIN fr ON fn.fp = fr.fp LEFT JOIN agg ON agg.doc_id = fn.doc_id
       |ORDER BY fn.doc_id""".stripMargin
  }

  /** Keep-best cross-corpus oracle: the q_cross_dedup machinery with ref
    * identity kept through both layers (exact → min ref id per
    * fingerprint; fuzzy → verified pairs at ≥ 0.7), argmax by
    * (jaccard DESC, ref_id ASC), token-count scores on the MUTATED new
    * text, strict-greater replace policy.
    */
  /** Shared CTE body for the keep-best cross-corpus oracles (everything
    * from the mutation replay through the (doc → best ref, scores)
    * tables); q_cross_dedup_keep_best and q_ingest_keep_best append
    * different SELECT tails.
    */
  private val crossDedupKeepBestCtes: String = {
    s"""WITH $crossDedupTn0Cte,
       | tn AS (SELECT doc_id, $sqlWords AS w FROM tn0),
       | tr AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE doc_id % 3 = 0),
       | fn AS (SELECT doc_id, md5(array_to_string(w, ' ')) AS fp FROM tn),
       | frm AS (SELECT md5(array_to_string(w, ' ')) AS fp, min(doc_id) AS ref_id
       |   FROM tr GROUP BY 1),
       | exm AS (SELECT fn.doc_id, frm.ref_id, 1.0 AS j FROM fn JOIN frm ON fn.fp = frm.fp),
       |${crossMinhashCandCtes}
       | vp AS (SELECT c.doc_id, c.ref_id,
       |   round(CASE WHEN len(list_distinct(a.h || b.h)) = 0 THEN 0.0
       |     ELSE len(list_intersect(a.h, b.h)) / CAST(len(list_distinct(a.h || b.h)) AS DOUBLE) END, 6) AS j
       |   FROM cand c JOIN hn a ON a.doc_id = c.doc_id JOIN hr b ON b.doc_id = c.ref_id),
       | um AS (SELECT * FROM exm UNION ALL SELECT * FROM vp WHERE j >= 0.7),
       | best AS (SELECT doc_id, ref_id, j FROM (
       |   SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY j DESC, ref_id ASC) AS rn
       |   FROM um) WHERE rn = 1),
       | ns AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS new_score FROM tn),
       | rs AS (SELECT doc_id AS ref_id, CAST(len(w) AS DOUBLE) AS ref_score FROM tr)""".stripMargin
  }

  private val crossDedupKeepBestSql: String =
    s"""$crossDedupKeepBestCtes
       |SELECT ns.doc_id, ns.new_score, best.ref_id AS best_ref_id,
       |  coalesce(best.j, 0.0) AS best_jaccard, rs.ref_score,
       |  (best.ref_id IS NOT NULL) AS dup,
       |  (best.ref_id IS NOT NULL AND ns.new_score > rs.ref_score) AS new_wins,
       |  CASE WHEN best.ref_id IS NULL THEN 'insert'
       |       WHEN ns.new_score > rs.ref_score THEN 'replace_ref'
       |       ELSE 'drop' END AS action
       |FROM ns LEFT JOIN best USING (doc_id) LEFT JOIN rs ON rs.ref_id = best.ref_id
       |ORDER BY ns.doc_id""".stripMargin

  /** The applied ingest step: surviving corpus = ref minus retired plus
    * accepted new (insert + replace_ref).
    */
  private val ingestKeepBestSql: String =
    s"""$crossDedupKeepBestCtes,
       | dec AS (SELECT ns.doc_id, best.ref_id AS best_ref_id,
       |   CASE WHEN best.ref_id IS NULL THEN 'insert'
       |        WHEN ns.new_score > rs.ref_score THEN 'replace_ref'
       |        ELSE 'drop' END AS action
       |   FROM ns LEFT JOIN best USING (doc_id) LEFT JOIN rs ON rs.ref_id = best.ref_id),
       | retired AS (SELECT DISTINCT best_ref_id AS doc_id FROM dec WHERE action = 'replace_ref')
       |SELECT tr.doc_id, 'ref' AS src FROM tr
       |WHERE tr.doc_id NOT IN (SELECT doc_id FROM retired)
       |UNION ALL SELECT doc_id, 'new' AS src FROM dec WHERE action <> 'drop'
       |ORDER BY 1, 2""".stripMargin

  /** End-to-end corpus dedup oracle: verified pairs at 0.7 → connected
    * components (recursive reachability, min label — the fixpoint of
    * Spark's min-label propagation) → survivors = everything except
    * non-canonical cluster members.
    */
  private val dedupCorpusSql: String =
    s"""WITH RECURSIVE ${minhashPairCtes(0.7)},
       | und AS (SELECT id_a AS s, id_b AS d FROM vp UNION SELECT id_b AS s, id_a AS d FROM vp),
       | n AS (SELECT DISTINCT s AS id FROM und),
       | reach AS (SELECT id, id AS lbl FROM n
       |   UNION
       |   SELECT u.s AS id, r.lbl FROM und u JOIN reach r ON u.d = r.id),
       | clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Keep-best retention oracle: the q_dedup_corpus cluster machinery with
    * the winner re-picked by (token count DESC, doc_id ASC) instead of
    * min-id.
    */
  private val dedupKeepBestSql: String =
    s"""WITH RECURSIVE ${minhashPairCtes(0.7)},
       | und AS (SELECT id_a AS s, id_b AS d FROM vp UNION SELECT id_b AS s, id_a AS d FROM vp),
       | n AS (SELECT DISTINCT s AS id FROM und),
       | reach AS (SELECT id, id AS lbl FROM n
       |   UNION
       |   SELECT u.s AS id, r.lbl FROM und u JOIN reach r ON u.d = r.id),
       | clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       | q AS (SELECT doc_id, CAST(len($sqlWords) AS BIGINT) AS n_toks FROM documents),
       | ranked AS (SELECT c.doc_id, row_number() OVER (
       |     PARTITION BY c.cluster_id ORDER BY q.n_toks DESC, c.doc_id ASC) AS rn
       |   FROM clusters c JOIN q USING (doc_id)),
       | losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
       |SELECT d.doc_id, q.n_toks FROM documents d JOIN q USING (doc_id)
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin of Dedup.simhashPairs (16 bits, 4-bit bands, maxHamming 3,
    * capped buckets).
    */
  private val simhashPairsSql: String = {
    val bitTerms = (0 until 16).map(j =>
      s"(CASE WHEN list_sum(list_transform(dw, w -> CASE WHEN ((${sqlHex32("w")} >> $j) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val bandRows = (0 until 4).map(bi =>
      s"SELECT doc_id, $bi AS band, (simhash >> ${bi * 4}) & 15 AS bucket FROM s")
      .mkString(" UNION ALL ")
    s"""WITH t AS (SELECT doc_id, list_distinct($sqlWords) AS dw FROM documents),
       | s AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash FROM t),
       | banded AS ($bandRows),
       |${cappedCandSql("banded")}
       |SELECT c.id_a, c.id_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
       |FROM cand c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
       |ORDER BY id_a, id_b LIMIT 500""".stripMargin
  }

  /** DuckDB twin of Dedup.embeddingNearDupLsh: single-band hyperplane-LSH
    * bucket blocking (same baked-in md5 hyperplanes as the ANN oracles) with
    * the shared capped-bucket candidate rule, exact cosine on candidates.
    */
  /** Unigram-encode oracle: replays the SEED model construction (substring
    * candidate counts → top-200 + all chars → scaled-long log-probs) and
    * the full Viterbi DP, unrolled position-by-position to word length 20
    * (`dp_i` = best path to position i; per-(word, i) argmax with the
    * `score DESC, j ASC` tie-break that mirrors the kernel's ascending-j
    * strict-greater scan). The pieces string only matches if seeding,
    * scoring, AND path selection agree everywhere.
    */
  private val unigramEncodeSql: String = {
    val maxLen = 20; val maxPiece = 4; val seedSize = 200
    val dps = (1 to maxLen).map { i =>
      val branches = (math.max(0, i - maxPiece) until i).map { j =>
        s"""SELECT d.word, d.score + v.lp AS score, d.pieces || '/' || v.piece AS pieces, $j AS j
           |  FROM dp$j d JOIN vocab v ON v.piece = substr(d.word, ${j + 1}, ${i - j})
           |  WHERE length(d.word) >= $i""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""dp$i AS MATERIALIZED (SELECT word, score, pieces FROM (
         |  SELECT word, score, pieces,
         |    row_number() OVER (PARTITION BY word ORDER BY score DESC, j ASC) AS rn
         |  FROM (
         |$branches)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n ")
    val finals = (1 to maxLen)
      .map(i => s"SELECT word, pieces FROM dp$i WHERE length(word) = $i")
      .mkString(" UNION ALL ")
    s"""WITH wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |   FROM (SELECT unnest($sqlWords) AS word FROM documents) GROUP BY word),
       | wcs AS (SELECT word, cnt FROM (SELECT word, cnt,
       |   row_number() OVER (ORDER BY cnt DESC, word ASC) AS rn FROM wc)
       |   WHERE rn <= $TokSeedCap),
       | st AS (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS s FROM wcs),
       | pc AS (SELECT word, cnt, s,
       |   unnest(range(1, least($maxPiece, length(word) - s + 1) + 1)) AS l FROM st),
       | seed0 AS (SELECT substr(word, s, l) AS piece, CAST(sum(cnt) AS BIGINT) AS pcnt
       |   FROM pc GROUP BY 1),
       | ranked AS (SELECT piece, pcnt,
       |   row_number() OVER (ORDER BY pcnt DESC, piece ASC) AS rn FROM seed0),
       | seed AS (SELECT piece, pcnt FROM ranked WHERE rn <= $seedSize OR length(piece) = 1),
       | tot AS (SELECT CAST(sum(pcnt) AS DOUBLE) AS t FROM seed),
       | vocab AS MATERIALIZED (SELECT piece, CAST(round(ln(pcnt / t) * 1e6) AS BIGINT) AS lp FROM seed, tot),
       | w20 AS MATERIALIZED (SELECT word FROM wc WHERE length(word) <= $maxLen),
       | dp0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS score, '' AS pieces FROM w20),
       | $dps,
       | res AS ($finals)
       |SELECT word, substr(pieces, 2) AS pieces,
       |  CAST(len(string_split(substr(pieces, 2), '/')) AS BIGINT) AS n_pieces
       |FROM res ORDER BY word""".stripMargin
  }

  /** WordPiece oracle: two-class frequency seeding (word-start substrings
    * are INITIAL candidates, later positions CONTINUATION candidates,
    * pooled top-200 + all single chars in both classes) and the greedy
    * longest-match walk unrolled one piece per step — each step joins the
    * in-flight position against the vocab and keeps the longest match
    * (unique per (class, position): vocab rows are distinct strings).
    * 20 steps suffice: every step advances ≥ 1 char and encoded words are
    * ≤ 20 chars.
    */
  private val wordpieceSql: String = {
    val maxLen = 20; val maxPiece = 4; val seedSize = 200
    val steps = (1 to maxLen).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT word, pos, pieces FROM (
         |    SELECT g.word, g.pos + length(v.raw) AS pos,
         |      g.pieces || '/' || CASE WHEN g.pos = 0 THEN v.raw ELSE '##' || v.raw END AS pieces,
         |      row_number() OVER (PARTITION BY g.word ORDER BY length(v.raw) DESC) AS rn
         |    FROM g${k - 1} g JOIN vocab v
         |      ON v.is_cont = (g.pos > 0) AND v.raw = substr(g.word, g.pos + 1, length(v.raw))
         |    WHERE g.pos < length(g.word)) WHERE rn = 1
         |  UNION ALL SELECT word, pos, pieces FROM g${k - 1} WHERE pos >= length(word))""".stripMargin
    }.mkString(",\n ")
    s"""WITH wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |   FROM (SELECT unnest($sqlWords) AS word FROM documents) GROUP BY word),
       | wcs AS (SELECT word, cnt FROM (SELECT word, cnt,
       |   row_number() OVER (ORDER BY cnt DESC, word ASC) AS rn FROM wc)
       |   WHERE rn <= $TokSeedCap),
       | st AS (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS s FROM wcs),
       | pc AS (SELECT word, cnt, s,
       |   unnest(range(1, least($maxPiece, length(word) - s + 1) + 1)) AS l FROM st),
       | seed0 AS (SELECT substr(word, s, l) AS raw, s > 1 AS is_cont,
       |   CAST(sum(cnt) AS BIGINT) AS pcnt FROM pc GROUP BY 1, 2),
       | ranked AS (SELECT raw, is_cont, pcnt, row_number() OVER (ORDER BY pcnt DESC,
       |   CASE WHEN is_cont THEN '##' || raw ELSE raw END ASC) AS rn FROM seed0),
       | vocab AS MATERIALIZED (SELECT raw, is_cont FROM ranked
       |   WHERE rn <= $seedSize OR length(raw) = 1),
       | g0 AS (SELECT word, 0 AS pos, '' AS pieces FROM wc WHERE length(word) <= $maxLen),
       | $steps
       |SELECT word, substr(pieces, 2) AS pieces,
       |  CAST(len(string_split(substr(pieces, 2), '/')) AS BIGINT) AS n_pieces
       |FROM g$maxLen ORDER BY word""".stripMargin
  }

  /** SemDeDup oracle: IVF cell-assignment replay (seed centroids, 0 Lloyd
    * iters — the annIvfSql construction) → capped within-cell candidate
    * pairs (band 0, bucket = cell) → cosine ≥ 0.3 → the paper's
    * upper-triangular drop rule (item drops iff ANY lower-id cluster-mate
    * is ≥ ε, independent of that mate's own fate).
    */
  private val semDedupSql: String =
    s"""WITH $ivfSeedsCte,
       |${ivfAssignCtes("embeddings")}
       | bk AS (SELECT vec_id AS doc_id, 0 AS band, cell AS bucket FROM assign),
       |${cappedCandSql("bk")},
       | dup AS (SELECT c2.id_b AS vec_id, count(*) AS n_dup_prev
       |   FROM cand c2 JOIN embeddings ea ON ea.vec_id = c2.id_a
       |   JOIN embeddings eb ON eb.vec_id = c2.id_b
       |   WHERE round(${sqlCos("ea.embedding", "eb.embedding")}, 6) >= 0.3
       |   GROUP BY c2.id_b)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  CAST(coalesce(d.n_dup_prev, 0) AS BIGINT) AS n_dup_prev,
       |  CAST(CASE WHEN coalesce(d.n_dup_prev, 0) = 0 THEN 1 ELSE 0 END AS INT) AS kept
       |FROM assign a LEFT JOIN dup d USING (vec_id) ORDER BY a.vec_id""".stripMargin

  private def nearDupLshSqlFor(rotations: Int): String = {
    val bands = (0 until rotations).map { r =>
      s"SELECT doc_id, $r AS band, ${lshBucketSql("embedding", planeOffset = r * 8)} AS bucket FROM e"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id AS doc_id, embedding FROM embeddings),
       | buckets AS ($bands),
       |${cappedCandSql("buckets")}
       |SELECT c.id_a, c.id_b, round(${sqlCos("ea.embedding", "eb.embedding")}, 6) AS cos
       |FROM cand c JOIN e ea ON ea.doc_id = c.id_a JOIN e eb ON eb.doc_id = c.id_b
       |WHERE round(${sqlCos("ea.embedding", "eb.embedding")}, 6) >= -1.0
       |ORDER BY cos DESC, id_a, id_b LIMIT 100""".stripMargin
  }
  private val nearDupLshSql: String = nearDupLshSqlFor(1)

  /** DuckDB twin of Dedup.cappedBucketPairs with `subBucket = true`: the
    * star + within-sub all-pairs over hot buckets (sub = hex60 of
    * band:bucket:doc_id mod ⌈bsz/cap⌉, matching the Spark expression).
    */
  private def cappedCandSubSql(src: String, cap: Int): String =
    s""" bsized AS (SELECT doc_id, band, bucket,
       |   count(*) OVER (PARTITION BY band, bucket) AS bsz,
       |   min(doc_id) OVER (PARTITION BY band, bucket) AS rep FROM $src),
       | bsub AS (SELECT doc_id, band, bucket,
       |   ${sqlHex60("concat('sub:', band::VARCHAR, ':', bucket::VARCHAR, ':', doc_id::VARCHAR)")} % ((bsz + ${cap - 1}) // $cap) AS sub
       |   FROM bsized WHERE bsz > $cap),
       | cand AS (SELECT DISTINCT id_a, id_b FROM (
       |   SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |     FROM bsized a JOIN bsized b ON a.band = b.band AND a.bucket = b.bucket
       |      AND a.doc_id < b.doc_id WHERE a.bsz <= $cap AND b.bsz <= $cap
       |   UNION ALL
       |   SELECT rep AS id_a, doc_id AS id_b FROM bsized
       |     WHERE bsz > $cap AND doc_id <> rep
       |   UNION ALL
       |   SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |     FROM bsub a JOIN bsub b ON a.band = b.band AND a.bucket = b.bucket
       |      AND a.sub = b.sub AND a.doc_id < b.doc_id))""".stripMargin

  /** q_near_dup_lsh_sub twin: bits=2 per band (every bucket saturates the
    * cap-8 discipline at sf0.01's 500 vectors), two rotations, sub-bucket
    * all-pairs on top of the representative star.
    */
  private val nearDupLshSubSql: String = {
    val bands = (0 until 2).map { r =>
      s"SELECT doc_id, $r AS band, ${lshBucketSql("embedding", bits = 2, planeOffset = r * 2)} AS bucket FROM e"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id AS doc_id, embedding FROM embeddings),
       | buckets AS ($bands),
       |${cappedCandSubSql("buckets", 8)}
       |SELECT c.id_a, c.id_b, round(${sqlCos("ea.embedding", "eb.embedding")}, 6) AS cos
       |FROM cand c JOIN e ea ON ea.doc_id = c.id_a JOIN e eb ON eb.doc_id = c.id_b
       |WHERE round(${sqlCos("ea.embedding", "eb.embedding")}, 6) >= -1.0
       |ORDER BY cos DESC, id_a, id_b LIMIT 200""".stripMargin
  }

  /** DuckDB twin of q_cross_dedup_semantic: both corpus halves bucketed by
    * the same md5-hyperplane LSH as the Spark side, reference side capped
    * per (band, bucket), new-vs-ref candidates only, exact cosine verify.
    */
  private val crossDedupSemanticSql: String = {
    def bands(src: String) = (0 until 2).map { r =>
      s"SELECT doc_id, $r AS band, ${lshBucketSql("embedding", planeOffset = r * 8)} AS bucket FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH nw AS (SELECT vec_id AS doc_id, embedding FROM embeddings WHERE vec_id % 3 <> 0),
       | rf AS (SELECT vec_id AS doc_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
       | bn AS (${bands("nw")}),
       | br AS (${bands("rf")}),
       | brc AS (SELECT doc_id, band, bucket FROM (
       |   SELECT doc_id, band, bucket,
       |     row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn FROM br)
       |   WHERE rn <= $HotBucketCap),
       | cand AS (SELECT DISTINCT n.doc_id, r.doc_id AS ref_id
       |   FROM bn n JOIN brc r ON n.band = r.band AND n.bucket = r.bucket),
       | agg AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_ref_candidates,
       |   max(round(${sqlCos("a.embedding", "b.embedding")}, 6)) AS max_cos
       |   FROM cand c JOIN nw a ON a.doc_id = c.doc_id JOIN rf b ON b.doc_id = c.ref_id
       |   GROUP BY c.doc_id)
       |SELECT nw.doc_id,
       |  coalesce(agg.n_ref_candidates, 0) AS n_ref_candidates,
       |  coalesce(agg.max_cos, 0.0) AS max_cos,
       |  (coalesce(agg.max_cos, 0.0) >= 0.3) AS dup
       |FROM nw LEFT JOIN agg USING (doc_id) ORDER BY nw.doc_id""".stripMargin
  }

  private val ngramJaccardSql: String = {
    s"""WITH t AS (SELECT doc_id, lang, $sqlWords AS w FROM documents WHERE doc_id % 5 = 0),
       | t2 AS (SELECT doc_id, lang, list_transform($sqlShingles3, s -> ${sqlHex60("s")}) AS sh FROM t)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |    ELSE len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) END, 6) AS jaccard
       |FROM t2 a JOIN t2 b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE jaccard >= 0.0
       |ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin
  }

  /** DuckDB twin of q_dup_clusters: the ngram-Jaccard pair CTE (threshold
    * 0.2) fed into a recursive reachability CTE; cluster id = min reachable
    * node — exactly the fixpoint of Spark's min-label propagation.
    */
  private val dupClustersSql: String =
    s"""WITH RECURSIVE e AS (
       |   SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |   FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
       |   WHERE round(${sqlCos("a.embedding", "b.embedding")}, 6) >= 0.3),
       | und AS (SELECT id_a AS s, id_b AS d FROM e UNION SELECT id_b AS s, id_a AS d FROM e),
       | n AS (SELECT DISTINCT s AS id FROM und),
       | reach AS (SELECT id, id AS lbl FROM n
       |   UNION
       |   SELECT u.s AS id, r.lbl FROM und u JOIN reach r ON u.d = r.id)
       |SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** DuckDB twin of q_clean_pipeline: the fused signals recomputed from the
    * proven fragment twins (lang hits, quality formula, naive token count,
    * normalized-word md5) + the canonicality window + the keep predicate.
    */
  private val cleanPipelineSql: String = {
    def h(lang: String, markers: Seq[String]): String =
      s"CAST(len(list_filter(w, x -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], x))) AS BIGINT) AS ${lang}_hits"
    s"""WITH d AS (SELECT a.doc_id,
       |   CASE WHEN a.doc_id % 11 = 1 THEN b.text ELSE a.text END AS text
       |   FROM documents a LEFT JOIN documents b ON b.doc_id =
       |     (CASE WHEN a.doc_id % 11 = 1 THEN a.doc_id - 1 ELSE -1 END)),
       | t AS (SELECT doc_id, text, $sqlWords AS w FROM d),
       | m AS (SELECT doc_id, text, w,
       |   CAST(len(w) AS DOUBLE) AS n_words,
       |   CAST(len(regexp_extract_all(text, '[.,;:!?''"()]')) AS DOUBLE) AS punct,
       |   CAST(length(text) AS DOUBLE) AS chars,
       |   CAST(len(list_filter(w, x -> list_contains(['the','a','an','of','and','to','in','is','it','that','for'], x))) AS DOUBLE) AS stop_hits,
       |   ${h("en", TextAnalysis.LangMarkers("en"))}, ${h("de", TextAnalysis.LangMarkers("de"))},
       |   ${h("fr", TextAnalysis.LangMarkers("fr"))}, ${h("es", TextAnalysis.LangMarkers("es"))}
       |  FROM t),
       | sig AS (SELECT doc_id,
       |   CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
       |        WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
       |        WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
       |        WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
       |        ELSE 'es' END AS lang_pred,
       |   round(least(1.0, n_words / 100.0) * (0.5 + 0.5 * least(1.0, (CASE WHEN n_words = 0 THEN 0.0 ELSE stop_hits / n_words END) * 10.0)) * (1.0 - least(0.5, CASE WHEN chars = 0 THEN 0.0 ELSE punct / chars END)), 6) AS quality,
       |   CAST(ceil(greatest(ceil(length(text) / 4.0), ceil(len(regexp_extract_all(text, '[^\\w\\s]|\\w+')) * 0.75))) AS BIGINT) AS n_tokens,
       |   md5(array_to_string(w, ' ')) AS exact_fp
       |  FROM m),
       | canon AS (SELECT *, CASE WHEN row_number() OVER (PARTITION BY exact_fp ORDER BY doc_id) = 1
       |   THEN 1 ELSE 0 END AS is_canonical FROM sig)
       |SELECT doc_id, lang_pred, quality, n_tokens, exact_fp,
       |  CAST(is_canonical AS INT) AS is_canonical,
       |  CAST(CASE WHEN is_canonical = 1 AND quality >= 0.1 AND n_tokens >= 5
       |    AND lang_pred IN ('en') THEN 1 ELSE 0 END AS INT) AS keep
       |FROM canon ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of the ENTIRE q_corpus_e2e composition, stage by stage
    * from the same shared constants as the per-stage oracles: ingest
    * (html wrap → extraction passes → boilerplate → minTextChars → url-hash
    * ids), fused clean keep, span dedup (w=10), 3-gram decontamination
    * (eval = doc_id % 7 = 3 over the hashed ids), 512-token packing. The
    * final packed_md5 matches only if every inter-stage handoff is right.
    */
  private val corpusE2eSql: String = {
    val (ctes, last) = htmlExtractSqlCtes
    def langHits(lang: String, markers: Seq[String]): String =
      s"CAST(len(list_filter(w, x -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], x))) AS BIGINT) AS ${lang}_hits"
    // 6-gram twin of the q_decontam 3-gram macro (see the n = 6 note at the
    // q_corpus_e2e query definition)
    val shingles6 = {
      val terms = (0 until 6).map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
      s"list_distinct(CASE WHEN len(w) >= 6 THEN list_transform(range(1, len(w) - 4), i -> $terms) ELSE [] END)"
    }
    s"""WITH h AS (SELECT doc_id, $synthHtmlSql AS t FROM documents),
       | ${ctes.mkString(",\n ")},
       | bkept AS (SELECT doc_id, array_to_string(list_filter(string_split(t, chr(10)),
       |   ln -> len(regexp_extract_all(ln, '[^ ]+')) >= 5 OR regexp_matches(ln, '[.!?]${"$"}')), chr(10)) AS t
       |  FROM $last),
       | ing AS (SELECT ${sqlHex60("'http://example.com/doc/' || doc_id")} AS doc_id, t AS text
       |  FROM bkept WHERE length(t) >= 1),
       | ct AS (SELECT doc_id, text, $sqlWords AS w FROM ing),
       | cm AS (SELECT doc_id, text, w,
       |   CAST(len(w) AS DOUBLE) AS n_words,
       |   CAST(len(regexp_extract_all(text, '[.,;:!?''"()]')) AS DOUBLE) AS punct,
       |   CAST(length(text) AS DOUBLE) AS chars,
       |   CAST(len(list_filter(w, x -> list_contains(['the','a','an','of','and','to','in','is','it','that','for'], x))) AS DOUBLE) AS stop_hits,
       |   ${langHits("en", TextAnalysis.LangMarkers("en"))}, ${langHits("de", TextAnalysis.LangMarkers("de"))},
       |   ${langHits("fr", TextAnalysis.LangMarkers("fr"))}, ${langHits("es", TextAnalysis.LangMarkers("es"))}
       |  FROM ct),
       | csig AS (SELECT doc_id,
       |   CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
       |        WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
       |        WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
       |        WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
       |        ELSE 'es' END AS lang_pred,
       |   round(least(1.0, n_words / 100.0) * (0.5 + 0.5 * least(1.0, (CASE WHEN n_words = 0 THEN 0.0 ELSE stop_hits / n_words END) * 10.0)) * (1.0 - least(0.5, CASE WHEN chars = 0 THEN 0.0 ELSE punct / chars END)), 6) AS quality,
       |   CAST(ceil(greatest(ceil(length(text) / 4.0), ceil(len(regexp_extract_all(text, '[^\\w\\s]|\\w+')) * 0.75))) AS BIGINT) AS n_tokens,
       |   md5(array_to_string(w, ' ')) AS exact_fp
       |  FROM cm),
       | ccanon AS (SELECT *, CASE WHEN row_number() OVER (PARTITION BY exact_fp ORDER BY doc_id) = 1
       |   THEN 1 ELSE 0 END AS is_canonical FROM csig),
       | keptd AS (SELECT ing.doc_id, ing.text FROM ing JOIN ccanon USING (doc_id)
       |  WHERE ccanon.is_canonical = 1 AND ccanon.quality >= 0.1
       |    AND ccanon.n_tokens >= 5 AND ccanon.lang_pred IN ('en')),
       | sdt AS (SELECT doc_id, $sqlWords AS w FROM keptd),
       | sde AS (SELECT doc_id, w, unnest(range(1, len(w) - 10 + 2)) AS i FROM sdt WHERE len(w) >= 10),
       | sdwn AS (SELECT doc_id, i - 1 AS pos, ${sqlHex60("array_to_string(w[i:i+10-1], ' ')")} AS wh FROM sde),
       | sddk AS (SELECT doc_id, pos,
       |   row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
       |   count(*) OVER (PARTITION BY wh) AS c FROM sdwn),
       | sdmk AS (SELECT doc_id, pos FROM sddk WHERE c > 1 AND rn > 1),
       | sdisl AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM sdmk),
       | sdsp AS (SELECT doc_id, min(pos) AS s, max(pos) + 10 - 1 AS e2 FROM sdisl GROUP BY doc_id, g),
       | sdcov AS (SELECT DISTINCT doc_id, unnest(range(s, e2 + 1)) AS pos FROM sdsp),
       | sdtk AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM sdt),
       | sdtok AS (SELECT doc_id, i - 1 AS pos, w[i] AS word FROM sdtk),
       | sdkept AS (SELECT doc_id, pos, word FROM sdtok ANTI JOIN sdcov USING (doc_id, pos)),
       | sdreb AS (SELECT doc_id, array_to_string(list(word ORDER BY pos), ' ') AS clean FROM sdkept GROUP BY doc_id),
       | cleaned AS (SELECT sdt.doc_id, coalesce(sdreb.clean, '') AS text
       |  FROM sdt LEFT JOIN sdreb ON sdt.doc_id = sdreb.doc_id),
       | dct AS (SELECT doc_id, $sqlWords AS w FROM cleaned),
       | dct2 AS (SELECT doc_id, list_transform($shingles6, s -> ${sqlHex60("s")}) AS sh FROM dct),
       | dcev AS (SELECT DISTINCT unnest(sh) AS hh FROM dct2 WHERE doc_id % 7 = 3),
       | dcex AS (SELECT doc_id, unnest(sh) AS hh FROM dct2),
       | dchits AS (SELECT dcex.doc_id, count(*) AS n_hits FROM dcex JOIN dcev USING (hh) GROUP BY dcex.doc_id),
       | surv AS (SELECT c.doc_id, c.text FROM cleaned c LEFT JOIN dchits USING (doc_id)
       |  WHERE coalesce(n_hits, 0) = 0),
       | pkt AS (SELECT doc_id, text,
       |   CAST(ceil(greatest(ceil(length(text) / 4.0), ceil(len(regexp_extract_all(text, '[^\\w\\s]|\\w+')) * 0.75))) AS BIGINT) AS n_tokens
       |  FROM surv),
       | pkc AS (SELECT doc_id, text, n_tokens,
       |   CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
       |  FROM pkt),
       | pkb AS (SELECT CAST(tok_before // 512 AS BIGINT) AS bin, doc_id, text, n_tokens FROM pkc)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS packed_md5
       |FROM pkb GROUP BY bin ORDER BY bin""".stripMargin
  }

  /** DuckDB twin of SimilaritySearch.lshBucket: the md5-seeded ±1 hyperplane
    * matrix is baked in as literals (bits×dims terms, same left-to-right
    * double accumulation as the Column formulation).
    */
  private def lshBucketSql(vecExpr: String, dims: Int = 64, bits: Int = 8,
                           planeOffset: Int = 0): String =
    (0 until bits).map { j =>
      val terms = (0 until dims).map { i =>
        val sign = if (SimilaritySearch.hyperplaneSign(planeOffset + j, i)) "" else "-"
        s"$sign$vecExpr[${i + 1}]::DOUBLE"
      }.mkString(" + ")
      s"(CASE WHEN ($terms) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private val annLshSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS b FROM embeddings),
       | p AS (SELECT vec_id AS qid, embedding AS qv, b AS pb FROM e WHERE vec_id < 5),
       | joined AS (SELECT p.qid, e.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
       |   FROM e JOIN p ON bit_count(xor(e.b, p.pb)) <= 2),
       |${probesTop5("joined")}""".stripMargin

  /** Oracle for the VectorIndex public-API ANN route: same Hamming-≤2 LSH
    * candidate semantics as annLshSql, single probe (vec_id 0), search-shaped
    * output (doc_id, score, key; keys are unique so the dedup is identity).
    */
  private val annViLshSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS b FROM embeddings),
       | p AS (SELECT embedding AS qv, b AS pb FROM e WHERE vec_id = 0),
       | joined AS (SELECT e.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
       |   FROM e JOIN p ON bit_count(xor(e.b, p.pb)) <= 2),
       |${searchTop5("joined", "rank")}""".stripMargin

  private val annIvfSql: String =
    s"""WITH $ivfSeedsCte,
       | d AS (SELECT e.vec_id, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM embeddings e, c),
       | a AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM d)
       |SELECT vec_id, cid AS cell FROM a WHERE rn = 1 ORDER BY vec_id""".stripMargin

  private val annIvfTopkSql: String =
    s"""WITH $ivfSeedsCte,
       |$ivfProbeCellsCtes
       | ad AS (SELECT e.vec_id, e.embedding, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM embeddings e, c),
       | assign AS (SELECT vec_id, embedding, cid AS cell FROM (SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM ad) WHERE rn = 1),
       | joined AS (SELECT pc.qid, assign.vec_id, round(${sqlCos("assign.embedding", "pc.qv")}, 6) AS score
       |   FROM assign JOIN pc ON assign.cell = pc.cell),
       |${probesTop5("joined")}""".stripMargin

  /** Filtered-IVF oracle: the q_ann_ivf_topk replay with the payload
    * predicate applied to the assigned items BEFORE the probe-cell join —
    * the same pre-filter point as ivfTopK(candidateFilter).
    */
  private val annIvfFilteredSql: String =
    s"""WITH $ivfSeedsCte,
       |$ivfProbeCellsCtes
       | ad AS (SELECT e.vec_id, e.embedding, e.label, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM embeddings e, c),
       | assign AS (SELECT vec_id, embedding, label, cid AS cell FROM (SELECT vec_id, embedding, label, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM ad) WHERE rn = 1),
       | joined AS (SELECT pc.qid, assign.vec_id, round(${sqlCos("assign.embedding", "pc.qv")}, 6) AS score
       |   FROM assign JOIN pc ON assign.cell = pc.cell WHERE assign.label % 2 = 0),
       |${probesTop5("joined")}""".stripMargin

  /** Lloyd-refined IVF oracle: replay ONE deterministic Lloyd iteration —
    * seed assignment (L2 asc, cid asc), per-(cell, dim) SCALED-LONG sums
    * (CAST(round(x·10⁶) AS BIGINT) — integer-exact across engines, the same
    * trick as the PQ ADC LUT), float means, empty cells keep their seed —
    * then the q_ann_ivf_topk probe/top-k shape against the refined
    * centroids. Twin of SimilaritySearch.lloydStep.
    */
  private val annIvfLloydSql: String =
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |   ORDER BY ${sqlHex60("'ivf:' || vec_id")} ASC, vec_id ASC LIMIT 16),
       | d0 AS (SELECT e.vec_id, e.embedding, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM embeddings e, c0 c),
       | a0 AS (SELECT vec_id, embedding, cid AS cell FROM (SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM d0) WHERE rn = 1),
       | dims AS (SELECT unnest(generate_series(1, 64)) AS pos),
       | sums AS (SELECT a0.cell, dims.pos,
       |     sum(CAST(round(a0.embedding[dims.pos]::DOUBLE * 1000000.0) AS BIGINT)) AS s,
       |     count(*) AS n
       |   FROM a0, dims GROUP BY a0.cell, dims.pos),
       | mv AS (SELECT cell, list((s::DOUBLE / 1000000.0 / n)::FLOAT ORDER BY pos) AS mv FROM sums GROUP BY cell),
       | c1 AS (SELECT c0.cid, coalesce(mv.mv, c0.cv) AS cv FROM c0 LEFT JOIN mv ON c0.cid = mv.cell),
       | pd AS (SELECT e.vec_id AS qid, e.embedding AS qv, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist
       |   FROM embeddings e, c1 c WHERE e.vec_id < 5),
       | pc AS (SELECT qid, qv, cid AS cell FROM (SELECT qid, qv, cid,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rn FROM pd) WHERE rn <= 4),
       | ad AS (SELECT e.vec_id, e.embedding, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM embeddings e, c1 c),
       | assign AS (SELECT vec_id, embedding, cid AS cell FROM (SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM ad) WHERE rn = 1),
       | joined AS (SELECT pc.qid, assign.vec_id, round(${sqlCos("assign.embedding", "pc.qv")}, 6) AS score
       |   FROM assign JOIN pc ON assign.cell = pc.cell),
       |${probesTop5("joined")}""".stripMargin

  /** DuckDB fragment: squared L2 (no sqrt — argmin-equivalent), same
    * elementwise double accumulation as PqEncodeExpr / adcLut.
    */
  private def sqlL2Sq(a: String, b: String): String =
    s"list_dot_product(list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> p[1] - p[2]), " +
      s"list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> p[1] - p[2]))"

  /** Shared SQ CTE block: per-dimension float min/max (exact extremes — no
    * summation order to disagree on) and the byte-encode replay, `pos`
    * 0-based to match posexplode. Twin of ScalarQuantization.sqTrain +
    * SqEncodeExpr (same double op order, same non-negative round, same
    * degenerate-dimension rule).
    */
  /** Params (min/max) always train on the base `embeddings` corpus; `enc`
    * encodes whatever corpus relation a gate needs (the live corpus for the
    * incremental-overlay gate — same split as [[pqCtesFor]]).
    */
  private def sqCtesFor(corpus: String): String =
    s"""sqdims AS (SELECT unnest(generate_series(1, 64)) AS pos),
       | mm AS (SELECT d.pos, min(e.embedding[d.pos]) AS mn, max(e.embedding[d.pos]) AS mx
       |   FROM embeddings e, sqdims d GROUP BY d.pos),
       | enc AS (SELECT e.vec_id, m.pos - 1 AS pos,
       |     CASE WHEN m.mx > m.mn THEN LEAST(255, GREATEST(0,
       |       CAST(round((e.embedding[m.pos]::DOUBLE - m.mn::DOUBLE) * 255.0 / (m.mx::DOUBLE - m.mn::DOUBLE)) AS BIGINT)))
       |     ELSE 0 END AS code
       |   FROM $corpus e, mm m)""".stripMargin

  private val sqCtes: String = sqCtesFor("embeddings")

  private val sqEncodeSql: String =
    s"""WITH $sqCtes
       |SELECT vec_id, CAST(pos AS INT) AS pos, CAST(code AS INT) AS code
       |FROM enc ORDER BY vec_id, pos""".stripMargin

  /** SQ ADC top-k oracle: per-(probe, dim) LUT of three scaled longs (the
    * (q−mn)² / 2(q−mn)Δ/255 / (Δ/255)² expansion of the dequantized L2²),
    * exact integer candidate distances, top-20 by (dist ASC, vec_id ASC),
    * exact cosine rerank top-5 — twin of ScalarQuantization.sqLut + sqTopK.
    */
  private val sqTopkSql: String =
    s"""WITH $sqCtes,
       | p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       | lut AS (SELECT p.qid, m.pos - 1 AS pos,
       |     CAST(round((p.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * (p.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * 1000000.0) AS BIGINT) AS a,
       |     CAST(round(2.0 * (p.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * ((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * 1000000.0) AS BIGINT) AS b,
       |     CAST(round(((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * ((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * 1000000.0) AS BIGINT) AS cc
       |   FROM p, mm m),
       | adc AS (SELECT l.qid, enc.vec_id, sum(l.a - l.b * enc.code + l.cc * enc.code * enc.code) AS dist
       |   FROM enc JOIN lut l ON enc.pos = l.pos GROUP BY l.qid, enc.vec_id),
       |${rerankTop5("dist", "adc")}""".stripMargin

  /** IVF × SQ oracle: the q_ann_ivf_topk cell replay (seeds, probe cells,
    * assignment) composed with the SQ encode + LUT replay — candidates are
    * (probed cells ∩ corpus), scored by exact-integer SQ ADC, cosine-
    * reranked top-5.
    */
  private val sqIvfTopkSql: String =
    s"""WITH $ivfSeedsCte,
       |$ivfProbeCellsCtes
       |${ivfAssignCtes("embeddings")}
       | $sqCtes,
       | p AS (SELECT qid, any_value(qv) AS qv FROM pc GROUP BY qid),
       | lut AS (SELECT p.qid, m.pos - 1 AS pos,
       |     CAST(round((p.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * (p.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * 1000000.0) AS BIGINT) AS a,
       |     CAST(round(2.0 * (p.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * ((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * 1000000.0) AS BIGINT) AS b,
       |     CAST(round(((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * ((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * 1000000.0) AS BIGINT) AS cc
       |   FROM p, mm m),
       | cand0 AS (SELECT DISTINCT pc.qid, a.vec_id FROM assign a JOIN pc ON a.cell = pc.cell),
       | adc AS (SELECT c0.qid, c0.vec_id, sum(l.a - l.b * e.code + l.cc * e.code * e.code) AS dist
       |   FROM cand0 c0 JOIN enc e ON e.vec_id = c0.vec_id
       |   JOIN lut l ON l.qid = c0.qid AND l.pos = e.pos
       |   GROUP BY c0.qid, c0.vec_id),
       |${rerankTop5("dist", "adc")}""".stripMargin

  /** IVF × BQ oracle: cell replay composed with the BQ threshold/bit
    * replay — candidates are (probed cells ∩ corpus), Hamming-scored,
    * cosine-reranked top-5.
    */
  private val bqIvfTopkSql: String =
    s"""WITH $ivfSeedsCte,
       |$ivfProbeCellsCtes
       |${ivfAssignCtes("embeddings")}
       | bqdims AS (SELECT unnest(generate_series(1, 64)) AS pos),
       | bm AS (SELECT d.pos, sum(CAST(round(e.embedding[d.pos]::DOUBLE * 1000000.0) AS BIGINT)) AS s, count(*) AS n
       |   FROM embeddings e, bqdims d GROUP BY d.pos),
       | thr AS (SELECT pos, (s::DOUBLE / 1000000.0) / n AS thr FROM bm),
       | bits AS (SELECT e.vec_id, t.pos, CASE WHEN e.embedding[t.pos]::DOUBLE > t.thr THEN 1 ELSE 0 END AS b
       |   FROM embeddings e, thr t),
       | p AS (SELECT qid, any_value(qv) AS qv FROM pc GROUP BY qid),
       | qbits AS (SELECT p.qid, t.pos, CASE WHEN p.qv[t.pos]::DOUBLE > t.thr THEN 1 ELSE 0 END AS qb
       |   FROM p, thr t),
       | cand0 AS (SELECT DISTINCT pc.qid, a.vec_id FROM assign a JOIN pc ON a.cell = pc.cell),
       | ham AS (SELECT c0.qid, c0.vec_id, sum(CASE WHEN b.b <> q.qb THEN 1 ELSE 0 END) AS h
       |   FROM cand0 c0 JOIN bits b ON b.vec_id = c0.vec_id
       |   JOIN qbits q ON q.qid = c0.qid AND q.pos = b.pos
       |   GROUP BY c0.qid, c0.vec_id),
       |${rerankTop5("h", "ham")}""".stripMargin

  /** BQ top-k oracle: per-dim mean thresholds from scaled-long sums (the
    * Lloyd-oracle integer trick), bit = x > thr for items and probes alike,
    * Hamming = count of differing bits, top-20 by (hamming ASC, vec_id ASC),
    * exact cosine rerank top-5 — twin of BinaryQuantization.bqTrain/bqTopK.
    */
  private val bqTopkSql: String =
    s"""WITH bqdims AS (SELECT unnest(generate_series(1, 64)) AS pos),
       | bm AS (SELECT d.pos, sum(CAST(round(e.embedding[d.pos]::DOUBLE * 1000000.0) AS BIGINT)) AS s, count(*) AS n
       |   FROM embeddings e, bqdims d GROUP BY d.pos),
       | thr AS (SELECT pos, (s::DOUBLE / 1000000.0) / n AS thr FROM bm),
       | bits AS (SELECT e.vec_id, t.pos, CASE WHEN e.embedding[t.pos]::DOUBLE > t.thr THEN 1 ELSE 0 END AS b
       |   FROM embeddings e, thr t),
       | p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       | qbits AS (SELECT p.qid, t.pos, CASE WHEN p.qv[t.pos]::DOUBLE > t.thr THEN 1 ELSE 0 END AS qb
       |   FROM p, thr t),
       | ham AS (SELECT q.qid, b.vec_id, sum(CASE WHEN b.b <> q.qb THEN 1 ELSE 0 END) AS h
       |   FROM bits b JOIN qbits q ON b.pos = q.pos GROUP BY q.qid, b.vec_id),
       |${rerankTop5("h", "ham")}""".stripMargin

  /** SQ incremental-overlay oracle: params from the BASE corpus, encode over
    * the LIVE corpus (minus vec 2, plus 1000001 = vec 1's vector), probe =
    * vec 0, exact-integer ADC top-20, cosine rerank top-5 — twin of the
    * post-mutation `SearchMode.Sq` search through the delta overlay.
    */
  private val annViSqIncrSql: String =
    s"""WITH $incrCorpCte,
       | ${sqCtesFor("corp")},
       | q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       | lut AS (SELECT m.pos - 1 AS pos,
       |     CAST(round((q.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * (q.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * 1000000.0) AS BIGINT) AS a,
       |     CAST(round(2.0 * (q.qv[m.pos]::DOUBLE - m.mn::DOUBLE) * ((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * 1000000.0) AS BIGINT) AS b,
       |     CAST(round(((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * ((m.mx::DOUBLE - m.mn::DOUBLE) / 255.0) * 1000000.0) AS BIGINT) AS cc
       |   FROM q, mm m),
       | adc AS (SELECT enc.vec_id, sum(l.a - l.b * enc.code + l.cc * enc.code * enc.code) AS dist
       |   FROM enc JOIN lut l ON enc.pos = l.pos GROUP BY enc.vec_id),
       | cand AS (SELECT vec_id FROM (SELECT vec_id,
       |     row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS rn FROM adc) WHERE rn <= 20),
       | rer AS (SELECT c.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score
       |   FROM cand c JOIN corp e ON e.vec_id = c.vec_id, q),
       |${searchTop5("rer", "rn")}""".stripMargin

  /** BQ incremental-overlay oracle: mean thresholds from the BASE corpus,
    * bits over the LIVE corpus, Hamming top-20, cosine rerank top-5.
    */
  private val annViBqIncrSql: String =
    s"""WITH $incrCorpCte,
       | bqdims AS (SELECT unnest(generate_series(1, 64)) AS pos),
       | bm AS (SELECT d.pos, sum(CAST(round(e.embedding[d.pos]::DOUBLE * 1000000.0) AS BIGINT)) AS s, count(*) AS n
       |   FROM embeddings e, bqdims d GROUP BY d.pos),
       | thr AS (SELECT pos, (s::DOUBLE / 1000000.0) / n AS thr FROM bm),
       | bits AS (SELECT e.vec_id, t.pos, CASE WHEN e.embedding[t.pos]::DOUBLE > t.thr THEN 1 ELSE 0 END AS b
       |   FROM corp e, thr t),
       | q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       | qbits AS (SELECT t.pos, CASE WHEN q.qv[t.pos]::DOUBLE > t.thr THEN 1 ELSE 0 END AS qb
       |   FROM q, thr t),
       | ham AS (SELECT b.vec_id, sum(CASE WHEN b.b <> qb.qb THEN 1 ELSE 0 END) AS h
       |   FROM bits b JOIN qbits qb ON b.pos = qb.pos GROUP BY b.vec_id),
       | cand AS (SELECT vec_id FROM (SELECT vec_id,
       |     row_number() OVER (ORDER BY h ASC, vec_id ASC) AS rn FROM ham) WHERE rn <= 20),
       | rer AS (SELECT c.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score
       |   FROM cand c JOIN corp e ON e.vec_id = c.vec_id, q),
       |${searchTop5("rer", "rn")}""".stripMargin

  /** Shared PQ CTE block: md5-min sample codebooks (code = sample rank) per
    * subspace, then per-(vec_id, subspace) argmin encoding — the DuckDB twin
    * of ProductQuantization.pqTrain (lloydIters=0) + pqEncode with the same
    * tie rules (d2 ASC, code ASC).
    */
  private def pqCtesFor(corpus: String): String =
    s"""cb0 AS (SELECT embedding AS cv, row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS code
       |   FROM (SELECT vec_id, embedding, ${sqlHex60("'pq:' || vec_id")} AS h FROM embeddings
       |         ORDER BY h ASC, vec_id ASC LIMIT 16)),
       | subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
       | cb AS (SELECT s.sub, c.code, c.cv[s.sub*8 + 1 : s.sub*8 + 8] AS scv FROM cb0 c, subs s),
       | encd AS (SELECT e.vec_id, e.embedding, cb.sub, cb.code,
       |     ${sqlL2Sq("e.embedding[cb.sub*8 + 1 : cb.sub*8 + 8]", "cb.scv")} AS d2
       |   FROM $corpus e, cb),
       | enc AS (SELECT vec_id, embedding, sub, code FROM (SELECT *,
       |     row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn FROM encd)
       |   WHERE rn = 1)""".stripMargin

  /** Codebooks always train on the base `embeddings` corpus; `encd` encodes
    * whatever corpus relation a gate needs (the live corpus for the
    * incremental-overlay gate).
    */
  private val pqCtes: String = pqCtesFor("embeddings")

  private val pqEncodeSql: String =
    s"""WITH $pqCtes
       |SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
       |FROM enc ORDER BY vec_id, sub""".stripMargin

  /** ADC top-k oracle: per-probe LUT of round(d²·10⁶) BIGINTs (exact —
    * integer sums cannot disagree across engines), candidate top-20 by
    * (adc ASC, vec_id ASC), exact cosine rerank top-5.
    */
  private val pqTopkSql: String =
    s"""WITH $pqCtes,
       | p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       | lut AS (SELECT p.qid, cb.sub, cb.code,
       |     CAST(round(${sqlL2Sq("p.qv[cb.sub*8 + 1 : cb.sub*8 + 8]", "cb.scv")} * 1e6) AS BIGINT) AS d
       |   FROM p, cb),
       | adc AS (SELECT l.qid, enc.vec_id, sum(l.d) AS dist
       |   FROM enc JOIN lut l ON enc.sub = l.sub AND enc.code = l.code
       |   GROUP BY l.qid, enc.vec_id),
       |${rerankTop5("dist", "adc")}""".stripMargin

  /** IVF × PQ oracle: md5-min IVF cells (annIvfSql pattern) restrict the
    * candidate set, ADC scores candidates with the scaled-long LUT, top
    * k·refine by (adc ASC, id ASC), exact cosine rerank top-5.
    */
  private val pqIvfTopkSql: String =
    s"""WITH $pqCtes,
       | $ivfSeedsCte,
       |${ivfAssignCtes("embeddings")}
       | p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       | pd AS (SELECT p.qid, c.cid, ${sqlL2("p.qv", "c.cv")} AS dist FROM p, c),
       | pc AS (SELECT qid, cid AS cell FROM (SELECT qid, cid,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rn FROM pd) WHERE rn <= 4),
       | lut AS (SELECT p.qid, cb.sub, cb.code,
       |     CAST(round(${sqlL2Sq("p.qv[cb.sub*8 + 1 : cb.sub*8 + 8]", "cb.scv")} * 1e6) AS BIGINT) AS d
       |   FROM p, cb),
       | adc AS (SELECT pc.qid, a.vec_id, sum(l.d) AS dist
       |   FROM pc JOIN assign a ON a.cell = pc.cell
       |   JOIN enc ON enc.vec_id = a.vec_id
       |   JOIN lut l ON l.qid = pc.qid AND l.sub = enc.sub AND l.code = enc.code
       |   GROUP BY pc.qid, a.vec_id),
       | cand AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rn FROM adc)
       |   WHERE rn <= 20),
       | rer AS (SELECT cd.qid, cd.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
       |   FROM cand cd JOIN embeddings e ON e.vec_id = cd.vec_id JOIN p ON p.qid = cd.qid),
       |${probesTop5("rer")}""".stripMargin

  /** Residual IVF×PQ oracle: the pqIvfTopkSql replay with codebooks trained
    * on and codes encoding `v − centroid(cell)` (double subtract, one
    * rounding to FLOAT — bit-identical to native float32 subtraction), and
    * a per-(probe, cell) LUT from the probe's residual in that cell.
    */
  private val rpqIvfTopkSql: String = {
    val sub = "p -> CAST(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) AS FLOAT)"
    s"""WITH $ivfSeedsCte,
       |${ivfAssignCtes("embeddings")}
       | res AS (SELECT e.vec_id, e.embedding, a.cell,
       |     list_transform(list_zip(e.embedding, c.cv), $sub) AS r
       |   FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id JOIN c ON c.cid = a.cell),
       | rcb0 AS (SELECT r AS cv0, row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS code
       |   FROM (SELECT vec_id, r, ${sqlHex60("'pq:' || vec_id")} AS h FROM res
       |         ORDER BY h ASC, vec_id ASC LIMIT 16)),
       | subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
       | cb AS (SELECT s.sub, c2.code, c2.cv0[s.sub*8 + 1 : s.sub*8 + 8] AS scv FROM rcb0 c2, subs s),
       | encd AS (SELECT res.vec_id, cb.sub, cb.code,
       |     ${sqlL2Sq("res.r[cb.sub*8 + 1 : cb.sub*8 + 8]", "cb.scv")} AS d2
       |   FROM res, cb),
       | enc AS (SELECT vec_id, sub, code FROM (SELECT *,
       |     row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn FROM encd)
       |   WHERE rn = 1),
       | p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       | pd AS (SELECT p.qid, c.cid, ${sqlL2("p.qv", "c.cv")} AS dist FROM p, c),
       | pc AS (SELECT qid, cid AS cell FROM (SELECT qid, cid,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rn FROM pd) WHERE rn <= 4),
       | rp AS (SELECT pc.qid, pc.cell, list_transform(list_zip(p.qv, c.cv), $sub) AS rq
       |   FROM pc JOIN p ON p.qid = pc.qid JOIN c ON c.cid = pc.cell),
       | lut AS (SELECT rp.qid, rp.cell, cb.sub, cb.code,
       |     CAST(round(${sqlL2Sq("rp.rq[cb.sub*8 + 1 : cb.sub*8 + 8]", "cb.scv")} * 1e6) AS BIGINT) AS d
       |   FROM rp, cb),
       | adc AS (SELECT l.qid, a.vec_id, sum(l.d) AS dist
       |   FROM assign a
       |   JOIN enc ON enc.vec_id = a.vec_id
       |   JOIN lut l ON l.cell = a.cell AND l.sub = enc.sub AND l.code = enc.code
       |   GROUP BY l.qid, a.vec_id),
       | cand AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rn FROM adc)
       |   WHERE rn <= 20),
       | rer AS (SELECT cd.qid, cd.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
       |   FROM cand cd JOIN embeddings e ON e.vec_id = cd.vec_id JOIN p ON p.qid = cd.qid),
       |${probesTop5("rer")}""".stripMargin
  }

  private val findSimilarMultiSql: String =
    s"""WITH idx AS (SELECT vec_id AS doc_id, 'obj:' || (vec_id % 50) AS key, embedding AS v FROM embeddings),
       | probes AS (SELECT doc_id AS qid, v AS qv FROM idx WHERE key = 'obj:7'),
       | scored AS (SELECT i.doc_id, i.key, p.qid, ${sqlCos("i.v", "p.qv")} AS score FROM idx i, probes p),
       | perchunk AS (SELECT doc_id, key, score,
       |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rn FROM scored),
       | kept AS (SELECT doc_id, key, score FROM perchunk WHERE rn <= 5),
       | dedup AS (SELECT doc_id, key, score,
       |   row_number() OVER (PARTITION BY key ORDER BY score DESC, doc_id ASC) AS rn2 FROM kept)
       |SELECT doc_id, key, round(score, 6) AS score FROM dedup WHERE rn2 = 1 AND key <> 'obj:7'
       |ORDER BY round(score, 6) DESC, doc_id""".stripMargin

  /** DuckDB twin of q_chunk: an exact replay of
    * RecursiveCharacterTextSplitter.mergeSplits (the only path the fixture
    * corpus exercises — no '\n' in any text, every doc has spaces, every
    * word's naive token length < chunkSize, checked at sf0.001/0.01/0.1) as
    * a recursive-CTE state machine. The buffer is always a contiguous word
    * window [s, i), so the state is (i, s, total, popping, chunks):
    *  - 'append'  : word fits → extend window, total += len + sep(1);
    *  - 'emitpop' : overflow → emit trim(join(buf)), pop the first word;
    *  - 'pop'     : keep popping while total > overlap(8) or next word
    *                still would not fit — langchain.py:128-168 semantics.
    * chunk_chars finally counts important_text + "\n" + chunk (P2 prefix).
    */
  private val chunkOracleSql: String =
    """WITH RECURSIVE
      | base AS (SELECT 'documents:' || doc_id AS key, source AS src, text FROM documents),
      | lw AS (SELECT key, src,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS words,
      |    list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
      |      w -> CAST(ceil(greatest(ceil(length(w) / 4.0), ceil(len(regexp_extract_all(w, '[^\w\s]|\w+')) * 0.75))) AS INT)) AS lens
      |  FROM base),
      | sm AS (
      |  SELECT key, src, words, lens, len(words) AS n,
      |    1 AS i, 1 AS s, 0 AS total, FALSE AS popping, CAST([] AS VARCHAR[]) AS chunks
      |  FROM lw
      |  UNION ALL
      |  SELECT key, src, words, lens, n,
      |    CASE WHEN act = 'append' THEN i + 1 ELSE i END,
      |    CASE WHEN act IN ('pop', 'emitpop') THEN s + 1 ELSE s END,
      |    CASE WHEN act = 'append' THEN total + li + CASE WHEN i > s THEN 1 ELSE 0 END
      |         ELSE total - lens[s] - CASE WHEN i - s > 1 THEN 1 ELSE 0 END END,
      |    CASE WHEN act = 'append' THEN FALSE
      |         ELSE ((total - lens[s] - CASE WHEN i - s > 1 THEN 1 ELSE 0 END) > 8
      |               OR ((total - lens[s] - CASE WHEN i - s > 1 THEN 1 ELSE 0 END) + li
      |                   + CASE WHEN i > s + 1 THEN 1 ELSE 0 END > 32
      |                   AND (total - lens[s] - CASE WHEN i - s > 1 THEN 1 ELSE 0 END) > 0))
      |              AND i > s + 1 END,
      |    CASE WHEN act = 'emitpop' AND trim(array_to_string(words[s:i-1], ' ')) <> ''
      |         THEN list_append(chunks, trim(array_to_string(words[s:i-1], ' ')))
      |         ELSE chunks END
      |  FROM (
      |    SELECT *, lens[i] AS li,
      |      CASE WHEN popping THEN 'pop'
      |           WHEN (total + lens[i] + CASE WHEN i > s THEN 1 ELSE 0 END) > 32 AND i > s THEN 'emitpop'
      |           ELSE 'append' END AS act
      |    FROM sm WHERE i <= n) step
      | ),
      | fin AS (
      |  SELECT key, src,
      |    CASE WHEN i > s AND trim(array_to_string(words[s:i-1], ' ')) <> ''
      |         THEN list_append(chunks, trim(array_to_string(words[s:i-1], ' ')))
      |         ELSE chunks END AS chunks
      |  FROM sm WHERE i = n + 1)
      |SELECT key, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_index,
      |  CAST(length(src) + 1 + length(unnest(chunks)) AS INT) AS chunk_chars
      |FROM fin ORDER BY key, chunk_index""".stripMargin

  /** Oracle for the delta-sidecar store lifecycle: base minus deletes, plus
    * the genuinely-new upsert rows (conflicting copies lost old-wins), minus
    * the tombstoned delta row. Shared by the merge-on-read and post-fold
    * gates — folding must not change a row.
    */
  private val storeDeltaSql: String =
    """WITH base AS (SELECT doc_id, text AS content FROM documents),
      | ups AS (SELECT doc_id + 1000000 AS doc_id, 'new: ' || text AS content
      |   FROM documents WHERE doc_id % 10 = 3),
      | merged AS (SELECT * FROM base UNION ALL SELECT * FROM ups)
      |SELECT doc_id, content FROM merged
      |WHERE doc_id NOT IN (3, 13, 23, 33, 43, 1000003)
      |ORDER BY doc_id""".stripMargin

  /** Oracle for the incremental-ANN gate: centroids are md5-min-16 seeds of
    * the FULL ingest corpus (they persist across the incremental mutations),
    * the live corpus drops vec 2 and gains 1000001 (vec 1's vector), probe =
    * vec 0 against its 4 nearest cells, cosine rerank top-5 — the SQL twin
    * of ivfTopKPruned over base+delta.
    */
  private val annViIvfIncrSql: String =
    s"""WITH $incrCorpCte,
       | $ivfSeedsCte,
       | q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       | pd AS (SELECT c.cid, ${sqlL2("q.qv", "c.cv")} AS dist FROM q, c),
       | pc AS (SELECT cid AS cell FROM (SELECT cid,
       |   row_number() OVER (ORDER BY dist ASC, cid ASC) AS rn FROM pd) WHERE rn <= 4),
       | ad AS (SELECT e.vec_id, e.embedding, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM corp e, c),
       | assign AS (SELECT vec_id, embedding, cid AS cell FROM (SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM ad) WHERE rn = 1),
       | joined AS (SELECT a.vec_id, round(${sqlCos("a.embedding", "q.qv")}, 6) AS score
       |   FROM assign a JOIN pc ON a.cell = pc.cell, q),
       |${searchTop5("joined", "rn")}""".stripMargin

  /** LSH twin of [[annViIvfIncrSql]]: hyperplane buckets over the LIVE corpus
    * (minus vec 2, plus 1000001), probe = vec 0, Hamming ≤ 2 candidates,
    * cosine rerank top-5.
    */
  private val annViLshIncrSql: String =
    s"""WITH $incrCorpCte,
       | e AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS b FROM corp),
       | p AS (SELECT embedding AS qv, ${lshBucketSql("embedding")} AS pb FROM embeddings WHERE vec_id = 0),
       | joined AS (SELECT e.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
       |   FROM e, p WHERE bit_count(xor(e.b, p.pb)) <= 2),
       |${searchTop5("joined", "rank")}""".stripMargin

  /** IVF×PQ twin of [[annViIvfIncrSql]]: codebooks and centroids train on
    * the base corpus (they persist across mutations), the live corpus
    * (minus vec 2, plus 1000001) is encoded/assigned against them, probe =
    * vec 0 → 4 cells → integer-exact ADC over candidate codes → top
    * k·refine → exact cosine rerank against the LIVE corpus (the new row's
    * vector hydrates from the merged document store).
    */
  private val annViPqIncrSql: String =
    s"""WITH $incrCorpCte,
       | ${pqCtesFor("corp")},
       | $ivfSeedsCte,
       |${ivfAssignCtes("corp")}
       | q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       | pd AS (SELECT c.cid, ${sqlL2("q.qv", "c.cv")} AS dist FROM q, c),
       | pc AS (SELECT cid AS cell FROM (SELECT cid,
       |   row_number() OVER (ORDER BY dist ASC, cid ASC) AS rn FROM pd) WHERE rn <= 4),
       | lut AS (SELECT cb.sub, cb.code,
       |     CAST(round(${sqlL2Sq("q.qv[cb.sub*8 + 1 : cb.sub*8 + 8]", "cb.scv")} * 1e6) AS BIGINT) AS d
       |   FROM q, cb),
       | adc AS (SELECT a.vec_id, sum(l.d) AS dist
       |   FROM pc JOIN assign a ON a.cell = pc.cell
       |   JOIN enc ON enc.vec_id = a.vec_id
       |   JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
       |   GROUP BY a.vec_id),
       | cand AS (SELECT vec_id FROM (SELECT vec_id,
       |   row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS rn FROM adc) WHERE rn <= 20),
       | rer AS (SELECT cd.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score
       |   FROM cand cd JOIN corp e ON e.vec_id = cd.vec_id, q),
       |${searchTop5("rer", "rn")}""".stripMargin

  /** Residual-IVFPQ twin of [[annViPqIncrSql]] (the FAISS construction):
    * centroids and residual codebooks train on the full-ingest corpus
    * (= base `embeddings`); the live corpus — minus the deleted row, plus
    * the upserted copy of vec 1 — is assigned and residual-encoded against
    * those STORED structures, exactly what the delta overlay replays.
    */
  private val annViRpqIncrSql: String = {
    val sub = "p -> CAST(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) AS FLOAT)"
    s"""WITH $incrCorpCte,
       | $ivfSeedsCte,
       | ad0 AS (SELECT e.vec_id, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM embeddings e, c),
       | assign0 AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM ad0) WHERE rn = 1),
       | res0 AS (SELECT e.vec_id, list_transform(list_zip(e.embedding, c.cv), $sub) AS r
       |   FROM embeddings e JOIN assign0 a ON a.vec_id = e.vec_id JOIN c ON c.cid = a.cell),
       | rcb0 AS (SELECT r AS cv0, row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS code
       |   FROM (SELECT vec_id, r, ${sqlHex60("'pq:' || vec_id")} AS h FROM res0
       |         ORDER BY h ASC, vec_id ASC LIMIT 16)),
       | subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
       | cb AS (SELECT s.sub, c2.code, c2.cv0[s.sub*8 + 1 : s.sub*8 + 8] AS scv FROM rcb0 c2, subs s),
       |${ivfAssignCtes("corp")}
       | res AS (SELECT e.vec_id, a.cell, list_transform(list_zip(e.embedding, c.cv), $sub) AS r
       |   FROM corp e JOIN assign a ON a.vec_id = e.vec_id JOIN c ON c.cid = a.cell),
       | encd AS (SELECT res.vec_id, cb.sub, cb.code,
       |     ${sqlL2Sq("res.r[cb.sub*8 + 1 : cb.sub*8 + 8]", "cb.scv")} AS d2
       |   FROM res, cb),
       | enc AS (SELECT vec_id, sub, code FROM (SELECT *,
       |     row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn FROM encd)
       |   WHERE rn = 1),
       | q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       | pd AS (SELECT c.cid, ${sqlL2("q.qv", "c.cv")} AS dist FROM q, c),
       | pc AS (SELECT cid AS cell FROM (SELECT cid,
       |   row_number() OVER (ORDER BY dist ASC, cid ASC) AS rn FROM pd) WHERE rn <= 4),
       | rp AS (SELECT pc.cell, list_transform(list_zip(q.qv, c.cv), $sub) AS rq
       |   FROM pc JOIN c ON c.cid = pc.cell, q),
       | lut AS (SELECT rp.cell, cb.sub, cb.code,
       |     CAST(round(${sqlL2Sq("rp.rq[cb.sub*8 + 1 : cb.sub*8 + 8]", "cb.scv")} * 1e6) AS BIGINT) AS d
       |   FROM rp, cb),
       | adc AS (SELECT a.vec_id, sum(l.d) AS dist
       |   FROM assign a
       |   JOIN enc ON enc.vec_id = a.vec_id
       |   JOIN lut l ON l.cell = a.cell AND l.sub = enc.sub AND l.code = enc.code
       |   GROUP BY a.vec_id),
       | cand AS (SELECT vec_id FROM (SELECT vec_id,
       |   row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS rn FROM adc) WHERE rn <= 20),
       | rer AS (SELECT cd.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score
       |   FROM cand cd JOIN corp e ON e.vec_id = cd.vec_id, q),
       |${searchTop5("rer", "rn")}""".stripMargin
  }

  /** HNSW exact mode over the live corpus: plain brute-force top-5. */
  private val annViHnswIncrSql: String =
    s"""WITH $incrCorpCte,
       | p AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       | joined AS (SELECT vec_id, round(${sqlCos("corp.embedding", "p.qv")}, 6) AS score
       |   FROM corp, p),
       |${searchTop5("joined", "rank")}""".stripMargin

  private val IncrAnnGates: Seq[IncrAnn] = Seq(
    IncrAnn("ivf", "emb_ivf", SearchMode.Ivf(nCells = 16, nProbe = 4, lloydIters = 0),
      annViIvfIncrSql),
    // the delta overlay's OTHER base variant: Hamming-ball bucket pruning
    IncrAnn("lsh", "emb_lshi", SearchMode.Lsh(bits = 8, maxHamming = 2), annViLshIncrSql),
    // graph index: the add rides the (id, vector, deleted) sidecar, scored
    // exactly with no graph row; the delete tombstones its STALE graph row.
    // ef = 2^20 ≥ any shard ⇒ exact mode, the brute-force top-5
    IncrAnn("hnsw", "emb_hnsw", SearchMode.Hnsw(m = 8, efConstruction = 48, ef = 1 << 20),
      annViHnswIncrSql),
    // IVF×PQ: the delta row's CODES come from the compiled encode kernel
    // against the STORED codebooks; search stays cell-pruned ADC + rerank
    IncrAnn("pq", "emb_pqi", SearchMode.IvfPq(nCells = 16, nProbe = 4, m = 8, ksub = 16,
      refine = 4, lloydIters = 0), annViPqIncrSql),
    // residual IVFPQ (the FAISS construction): the delta row is residual-
    // encoded in its assigned cell's frame against the STORED codebooks;
    // search builds a per-(probe, cell) residual LUT
    IncrAnn("rpq", "emb_rpqi", SearchMode.RpqIvf(nCells = 16, nProbe = 4, m = 8, ksub = 16,
      refine = 4, lloydIters = 0), annViRpqIncrSql),
    // SQ: the delta row is byte-encoded against the STORED min/max params,
    // overlaid into the codes-only ADC scan + rerank
    IncrAnn("sq", "emb_sqi", SearchMode.Sq(refine = 4), annViSqIncrSql),
    // BQ: the delta row is bit-encoded against the STORED mean thresholds,
    // overlaid into the Hamming scan + rerank
    IncrAnn("bq", "emb_bqi", SearchMode.Bq(refine = 4), annViBqIncrSql))

  def oracleSql: Map[String, String] = Map(
    "q_store_delta" -> storeDeltaSql,
    "q_store_fold" -> storeDeltaSql,
    "q_chunk" -> chunkOracleSql,
    "q_dims_filter" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings
        |WHERE len(embedding) = 64 GROUP BY label ORDER BY label""".stripMargin,
    "q_topk_agg" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         | scored AS (SELECT e.label, e.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score FROM embeddings e, q),
         | ranked AS (SELECT label, vec_id, score,
         |   row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id ASC) AS rank FROM scored)
         |SELECT label, vec_id, CAST(rank AS INT) AS rank, score FROM ranked WHERE rank <= 3
         |ORDER BY label, rank""".stripMargin,
    "q_ann_lsh" -> annLshSql,
    // indexed variant: overlay semantics in SQL — ids 0-2 replaced by their
    // reversed vectors, 900003 inserted, then the same brute-force top-5
    "q_ann_hnsw_indexed" ->
      s"""WITH ov AS (
         |   SELECT vec_id, CASE WHEN vec_id < 3 THEN list_reverse(embedding)
         |     ELSE embedding END AS embedding FROM embeddings
         |   UNION ALL
         |   SELECT vec_id + 900000, list_reverse(embedding) FROM embeddings WHERE vec_id = 3),
         | p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         | sc AS (SELECT p.qid, o.vec_id, round(${sqlCos("o.embedding", "p.qv")}, 6) AS score
         |   FROM ov o, p),
         | rk AS (SELECT qid, vec_id, score,
         |     CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS INT) AS rank
         |   FROM sc)
         |SELECT qid, vec_id, rank, score FROM rk WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    // HNSW exact mode ⇒ brute-force equivalence: per-probe top-5 by
    // (cosine DESC, id ASC), same rounding contract as q_knn_cosine
    "q_ann_hnsw" ->
      s"""WITH p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         | sc AS (SELECT p.qid, e.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
         |   FROM embeddings e, p),
         | rk AS (SELECT qid, vec_id, score,
         |     CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS INT) AS rank
         |   FROM sc)
         |SELECT qid, vec_id, rank, score FROM rk WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "q_ann_lsh_pruned" -> annLshSql,
    "q_retrieval_metrics" ->
      s"""WITH e AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS b FROM embeddings),
         | p AS (SELECT vec_id AS qid, list_reverse(embedding) AS qv,
         |   ${lshBucketSql("list_reverse(embedding)")} AS pb
         |   FROM embeddings WHERE vec_id < 20),
         | ts AS (SELECT p.qid, e.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
         |   FROM embeddings e, p),
         | truth AS (SELECT qid, vec_id, rank FROM (SELECT qid, vec_id,
         |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rank FROM ts)
         |   WHERE rank <= 5),
         | rj AS (SELECT p.qid, e.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score
         |   FROM e JOIN p ON bit_count(xor(e.b, p.pb)) <= 1),
         | retr AS (SELECT qid, vec_id, rank FROM (SELECT qid, vec_id,
         |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rank FROM rj)
         |   WHERE rank <= 5),
         | j AS (SELECT COALESCE(t.qid, r.qid) AS qid, t.rank AS tr, r.rank AS rr
         |   FROM truth t FULL OUTER JOIN retr r ON t.qid = r.qid AND t.vec_id = r.vec_id),
         | m AS (SELECT qid,
         |   count(CASE WHEN tr IS NOT NULL THEN 1 END) AS n_truth,
         |   count(CASE WHEN tr IS NOT NULL AND rr IS NOT NULL THEN 1 END) AS n_hit,
         |   min(CASE WHEN tr IS NOT NULL THEN rr END) AS first_hit,
         |   sum(CASE WHEN tr IS NOT NULL AND rr IS NOT NULL
         |     THEN CAST(round(1.0/log2(rr + 1) * 1000000) AS BIGINT) ELSE 0 END) AS dcg,
         |   sum(CASE WHEN tr IS NOT NULL
         |     THEN CAST(round(1.0/log2(tr + 1) * 1000000) AS BIGINT) ELSE 0 END) AS idcg
         |   FROM j GROUP BY qid)
         |SELECT qid, CAST(n_truth AS BIGINT) AS n_truth, CAST(n_hit AS BIGINT) AS n_hit,
         |  round(n_hit / CAST(n_truth AS DOUBLE), 6) AS recall,
         |  round(coalesce(1.0 / first_hit, 0.0), 6) AS mrr,
         |  round(dcg / CAST(idcg AS DOUBLE), 6) AS ndcg
         |FROM m ORDER BY qid""".stripMargin,
    "q_ann_vi_lsh" -> annViLshSql,
    "q_ann_ivf_assign" -> annIvfSql,
    "q_cluster_profile" ->
      s"""WITH $ivfSeedsCte,
         | d AS (SELECT e.vec_id, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM embeddings e, c),
         | a AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM d),
         | cells AS (SELECT vec_id AS doc_id, cid AS cell FROM a WHERE rn = 1),
         | nd AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_docs FROM cells GROUP BY cell),
         | wt AS (SELECT cells.cell, unnest(list_distinct($sqlWords)) AS term
         |   FROM cells JOIN documents USING (doc_id)),
         | dfq AS (SELECT cell, term, CAST(count(*) AS BIGINT) AS df FROM wt GROUP BY cell, term),
         | r AS (SELECT cell, term, df,
         |   row_number() OVER (PARTITION BY cell ORDER BY df DESC, term ASC) AS rank FROM dfq)
         |SELECT r.cell, nd.n_docs, CAST(r.rank AS BIGINT) AS rank, r.term, r.df
         |FROM r JOIN nd USING (cell) WHERE r.rank <= 3
         |ORDER BY r.cell, r.rank""".stripMargin,
    "q_prototypicality" ->
      s"""WITH $ivfSeedsCte,
         | d AS (SELECT e.vec_id, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist FROM embeddings e, c),
         | a AS (SELECT vec_id, cid, dist,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM d),
         | s AS (SELECT vec_id, cid AS cell, round(dist, 6) AS proto_dist FROM a WHERE rn = 1),
         | r AS (SELECT vec_id, cell, proto_dist,
         |    row_number() OVER (PARTITION BY cell ORDER BY proto_dist ASC, vec_id ASC) AS proto_rank,
         |    count(*) OVER (PARTITION BY cell) AS n_cell FROM s)
         |SELECT vec_id, cell, proto_dist, CAST(proto_rank AS BIGINT) AS proto_rank,
         |  CAST(n_cell AS BIGINT) AS n_cell,
         |  CAST(proto_rank > ceil(0.25 * n_cell) AS BIGINT) AS kept
         |FROM r ORDER BY vec_id""".stripMargin,
    "q_ann_ivf_lloyd" -> annIvfLloydSql,
    "q_ann_ivf_topk" -> annIvfTopkSql,
    "q_ann_ivf_pruned" -> annIvfTopkSql,
    "q_ann_ivf_filtered" -> annIvfFilteredSql,
    "q_pq_encode" -> pqEncodeSql,
    "q_pq_topk" -> pqTopkSql,
    "q_sq_encode" -> sqEncodeSql,
    "q_sq_topk" -> sqTopkSql,
    "q_sq_ivf_topk" -> sqIvfTopkSql,
    "q_bq_topk" -> bqTopkSql,
    "q_bq_ivf_topk" -> bqIvfTopkSql,
    "q_pq_ivf_topk" -> pqIvfTopkSql,
    "q_rpq_ivf_topk" -> rpqIvfTopkSql,
    "q_dup_clusters" -> dupClustersSql,
    "q_leakage_split" ->
      s"""WITH RECURSIVE e AS (
         |   SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |   FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |   WHERE round(${sqlCos("a.embedding", "b.embedding")}, 6) >= 0.3),
         | und AS (SELECT id_a AS s, id_b AS d FROM e UNION SELECT id_b AS s, id_a AS d FROM e),
         | n AS (SELECT DISTINCT s AS id FROM und),
         | reach AS (SELECT id, id AS lbl FROM n
         |   UNION
         |   SELECT u.s AS id, r.lbl FROM und u JOIN reach r ON u.d = r.id),
         | cl AS (SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         | wc AS (SELECT em.vec_id, coalesce(cl.cluster_id, em.vec_id) AS cluster_id
         |   FROM embeddings em LEFT JOIN cl USING (vec_id)),
         | t AS (SELECT vec_id, cluster_id,
         |    ${sqlHex60("'split:' || cluster_id")} / 1152921504606846976.0 AS u
         |  FROM wc)
         |SELECT vec_id, cluster_id, CASE WHEN u < 0.75 THEN 'train'
         |  WHEN u < 0.875 THEN 'val' ELSE 'test' END AS split
         |FROM t ORDER BY vec_id""".stripMargin,
    "q_dedup_corpus" -> dedupCorpusSql,
    "q_dedup_keep_best" -> dedupKeepBestSql,
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(ceil(greatest(ceil(length(text) / 4.0), ceil(len(regexp_extract_all(text, '[^\w\s]|\w+')) * 0.75))) AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM t)
        |SELECT doc_id, n_tokens, tok_before, CAST(tok_before // 512 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_pack_by_lang" ->
      """WITH t AS (SELECT lang, doc_id,
        |    CAST(ceil(greatest(ceil(length(text) / 4.0), ceil(len(regexp_extract_all(text, '[^\w\s]|\w+')) * 0.75))) AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT lang, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM t)
        |SELECT lang, doc_id, n_tokens, tok_before, CAST(tok_before // 512 AS BIGINT) AS bin
        |FROM c ORDER BY lang, doc_id""".stripMargin,
    "q_pack_assemble" ->
      """WITH t AS (SELECT doc_id, text,
        |    CAST(ceil(greatest(ceil(length(text) / 4.0), ceil(len(regexp_extract_all(text, '[^\w\s]|\w+')) * 0.75))) AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT doc_id, text, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM t),
        | b AS (SELECT CAST(tok_before // 512 AS BIGINT) AS bin, doc_id, text, n_tokens FROM c)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS packed_md5
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q_mixture_order" ->
      """WITH r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rank_in_group
        |  FROM documents)
        |SELECT lang, doc_id, CAST(rank_in_group AS BIGINT) AS rank_in_group,
        |  round(rank_in_group / (CASE lang WHEN 'en' THEN 2.0 WHEN 'de' THEN 0.5 ELSE 1.0 END), 6) AS pos
        |FROM r ORDER BY pos ASC, lang ASC, doc_id ASC""".stripMargin,
    "q_split_assign" ->
      s"""WITH t AS (SELECT doc_id,
         |    ${sqlHex60("'split:' || doc_id")} / 1152921504606846976.0 AS u
         |  FROM documents)
         |SELECT doc_id, CASE WHEN u < 0.75 THEN 'train'
         |  WHEN u < 0.875 THEN 'val' ELSE 'test' END AS split
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |    ln((${sqlHex60("'wsample:' || doc_id")} + 1) / 1152921504606846976.0)
         |      / CAST(n_chars AS DOUBLE) AS k
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         | s AS (SELECT doc_id, n_chars, k FROM t ORDER BY k DESC, doc_id ASC LIMIT 50)
         |SELECT doc_id, n_chars, round(k, 6) AS sample_key
         |FROM s ORDER BY round(k, 6) DESC, doc_id ASC""".stripMargin,
    "q_temperature_mix" ->
      s"""WITH s AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n,
         |   CAST(round(exp(0.5 * ln(count(*))) * 1e6) AS BIGINT) AS wm
         |   FROM documents GROUP BY lang),
         | tt AS (SELECT sum(wm) AS total FROM s),
         | q AS (SELECT g, n, round(600.0 * wm / tt.total, 6) AS quota FROM s, tt),
         | a AS (SELECT d.doc_id, d.lang, q.quota / q.n AS e
         |   FROM documents d JOIN q ON d.lang = q.g)
         |SELECT doc_id, lang, round(e, 6) AS epochs,
         |  CAST(floor(e) + (CASE WHEN ${sqlHex60("'tempmix:' || doc_id")} / 1152921504606846976.0
         |    < e - floor(e) THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
         |FROM a ORDER BY doc_id""".stripMargin,
    "q_unimax" ->
      s"""WITH s AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n, count(*) * 1.5 AS cap
         |   FROM documents GROUP BY lang),
         | r AS (SELECT g, n, cap, CAST(row_number() OVER (ORDER BY cap ASC, g ASC) AS BIGINT) AS rn,
         |   sum(cap) OVER (ORDER BY cap ASC, g ASC ROWS UNBOUNDED PRECEDING) AS pref,
         |   CAST(count(*) OVER () AS BIGINT) AS m FROM s),
         | kk AS (SELECT CAST(count(CASE WHEN cap * (m - rn) <= 600 - pref THEN 1 END) AS BIGINT) AS k,
         |   max(m) AS m FROM r),
         | sh AS (SELECT k, CASE WHEN k >= m THEN 0.0
         |   ELSE (600 - coalesce((SELECT pref FROM r JOIN kk ON r.rn = kk.k), 0.0)) / (m - k) END AS share
         |   FROM kk),
         | q AS (SELECT g, n, round(CASE WHEN rn <= (SELECT k FROM sh) THEN cap
         |   ELSE (SELECT share FROM sh) END, 6) AS quota FROM r),
         | a AS (SELECT d.doc_id, d.lang, q.quota / q.n AS e
         |   FROM documents d JOIN q ON d.lang = q.g)
         |SELECT doc_id, lang, round(e, 6) AS epochs,
         |  CAST(floor(e) + (CASE WHEN ${sqlHex60("'unimax:' || doc_id")} / 1152921504606846976.0
         |    < e - floor(e) THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
         |FROM a ORDER BY doc_id""".stripMargin,
    "q_clean_pipeline" -> cleanPipelineSql,
    "q_corpus_report" ->
      // the untouched clean-pipeline replay nests as a subquery (DuckDB
      // permits an ordered subquery) — no textual surgery on generated SQL
      s"""WITH rep AS (SELECT * FROM ($cleanPipelineSql))
         |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CAST(round(quality * 1e6) AS BIGINT)) AS BIGINT) AS quality_micro,
         |  CAST(sum(keep) AS BIGINT) AS n_keep,
         |  CAST(sum(CASE WHEN is_canonical = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dups
         |FROM rep GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,
    "q_corpus_e2e" -> corpusE2eSql,
    "q_find_similar_multi" -> findSimilarMultiSql,
    "q_knn_cosine" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score
         |FROM embeddings e, q WHERE round(${sqlCos("e.embedding", "q.qv")}, 6) >= -1.0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "q_knn_filtered" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score
         |FROM embeddings e, q WHERE e.label IN (1, 3, 5, 7, 9)
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "q_knn_l2" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, round(${sqlL2("e.embedding", "q.qv")}, 6) AS dist
         |FROM embeddings e, q ORDER BY dist ASC, e.vec_id LIMIT 10""".stripMargin,
    "q_knn_mip" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS score
         |FROM embeddings e, q ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "q_knn_threshold" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         | scored AS (SELECT e.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score FROM embeddings e, q),
         | th AS (SELECT unnest([0.9, 0.6, 0.1, -1.0]) AS threshold)
         |SELECT th.threshold, CAST(count(CASE WHEN scored.score >= th.threshold THEN 1 END) AS BIGINT) AS n
         |FROM th, scored GROUP BY th.threshold ORDER BY th.threshold DESC""".stripMargin,
    "q_topk_batch" ->
      s"""WITH p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
         | scored AS (SELECT p.qid, e.vec_id, round(${sqlCos("e.embedding", "p.qv")}, 6) AS score FROM embeddings e, p),
         | ranked AS (SELECT qid, vec_id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rank FROM scored)
         |SELECT qid, vec_id, CAST(rank AS INT) AS rank, score FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q_find_similar" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score
         |FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 5""".stripMargin,
    "q_dedup_first_per_key" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         | scored AS (SELECT e.label, e.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score FROM embeddings e, q),
         | ranked AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id ASC) AS rn FROM scored)
         |SELECT label, vec_id, score FROM ranked WHERE rn = 1 ORDER BY score DESC, vec_id""".stripMargin,
    "q_key_lookup" ->
      """SELECT doc_id, 'documents:' || doc_id AS primary_key FROM documents
        |WHERE list_contains(['documents:' || doc_id, 'source:' || source], 'source:src5')
        |ORDER BY doc_id""".stripMargin,
    "q_hydrate" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         | hits AS (SELECT e.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score
         |   FROM embeddings e, q ORDER BY score DESC, e.vec_id LIMIT 20)
         |SELECT h.vec_id, h.score, c.c_custkey, c.c_name, c.c_mktsegment
         |FROM hits h JOIN customer c ON c.c_custkey = h.vec_id % 100 + 1
         |ORDER BY h.score DESC, h.vec_id""".stripMargin,
    "q_rag_context" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         | top AS (SELECT e.vec_id, round(${sqlCos("e.embedding", "q.qv")}, 6) AS score, d.text
         |   FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id, q
         |   ORDER BY score DESC, e.vec_id LIMIT 5)
         |SELECT string_agg(text, chr(10) ORDER BY score DESC, vec_id) AS context,
         |  CAST(count(*) AS BIGINT) AS n_sources FROM top""".stripMargin,
    "q_incremental_diff" ->
      "SELECT doc_id FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id",
    "q_dedup_exact" ->
      s"""WITH d AS (SELECT a.doc_id,
         |   CASE WHEN a.doc_id % 11 = 1 THEN b.text
         |        WHEN a.doc_id % 13 = 2 THEN upper(b.text)
         |        ELSE a.text END AS text
         |   FROM documents a LEFT JOIN documents b ON b.doc_id =
         |     (CASE WHEN a.doc_id % 11 = 1 THEN a.doc_id - 1
         |           WHEN a.doc_id % 13 = 2 THEN a.doc_id - 2 ELSE -1 END))
         |SELECT md5(array_to_string($sqlWords, ' ')) AS content_hash,
         |  CAST(count(*) AS BIGINT) AS n_dups, min(doc_id) AS canonical_id
         |FROM d GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "q_semdedup" -> semDedupSql,
    "q_unigram_encode" -> unigramEncodeSql,
    "q_wordpiece" -> wordpieceSql,
    // byte-level BPE: the GENERATED full-merge-walk replay (pretokenize,
    // byte-map, 8 training rounds of count/argmax/apply, final encode)
    "q_bbpe_encode" -> bbpeOracleSql(BbpeMergeRounds),
    "q_minhash_sig" -> minhashSigSql,
    "q_simhash" -> simhashSql,
    "q_simhash_pairs" -> simhashPairsSql,
    "q_lsh_pairs" -> lshPairsSql,
    "q_cross_dedup" -> crossDedupSql,
    "q_cross_dedup_keep_best" -> crossDedupKeepBestSql,
    "q_ingest_keep_best" -> ingestKeepBestSql,
    "q_cross_dedup_bloom" ->
      s"""WITH $crossDedupTn0Cte,
         | fn AS (SELECT doc_id, md5(array_to_string($sqlWords, ' ')) AS fp FROM tn0),
         | fr AS (SELECT DISTINCT md5(array_to_string($sqlWords, ' ')) AS fp
         |   FROM documents WHERE doc_id % 3 = 0)
         |SELECT fn.doc_id, (fr.fp IS NOT NULL) AS exact_dup
         |FROM fn LEFT JOIN fr ON fn.fp = fr.fp
         |ORDER BY fn.doc_id""".stripMargin,
    "q_cross_dedup_semantic" -> crossDedupSemanticSql,
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_near_dup_lsh" -> nearDupLshSql,
    "q_near_dup_lsh_multi" -> nearDupLshSqlFor(2),
    "q_near_dup_lsh_sub" -> nearDupLshSubSql,
    "q_near_dup_embedding" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(${sqlCos("a.embedding", "b.embedding")}, 6) AS cos
         |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(${sqlCos("a.embedding", "b.embedding")}, 6) >= -1.0
         |ORDER BY cos DESC, id_a, id_b LIMIT 100""".stripMargin,
    "q_token_stats" ->
      """SELECT doc_id,
        |  CAST(ceil(greatest(ceil(length(text) / 4.0), ceil(len(regexp_extract_all(text, '[^\w\s]|\w+')) * 0.75))) AS BIGINT) AS n_tokens_naive,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      s"""WITH d AS (SELECT doc_id, $qualitySynthSql AS text FROM documents),
         | t AS (SELECT doc_id, text, $sqlWords AS w FROM d),
         | m AS (SELECT doc_id,
         |   CAST(len(w) AS DOUBLE) AS n_words,
         |   CAST(len(regexp_extract_all(text, '[.,;:!?''"()]')) AS DOUBLE) AS punct,
         |   CAST(length(text) AS DOUBLE) AS chars,
         |   CAST(len(list_filter(w, x -> list_contains(['the','a','an','of','and','to','in','is','it','that','for'], x))) AS DOUBLE) AS stop_hits
         |  FROM t)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  round(CASE WHEN chars = 0 THEN 0.0 ELSE punct / chars END, 6) AS punct_ratio,
         |  round(CASE WHEN n_words = 0 THEN 0.0 ELSE stop_hits / n_words END, 6) AS stop_ratio,
         |  round(least(1.0, n_words / 100.0) * (0.5 + 0.5 * least(1.0, (CASE WHEN n_words = 0 THEN 0.0 ELSE stop_hits / n_words END) * 10.0)) * (1.0 - least(0.5, CASE WHEN chars = 0 THEN 0.0 ELSE punct / chars END)), 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,
    "q_lang_id" -> {
      def h(lang: String, markers: Seq[String]): String =
        s"CAST(len(list_filter(w, x -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], x))) AS BIGINT) AS ${lang}_hits"
      s"""WITH d AS (SELECT doc_id, $langIdSynthSql AS text FROM documents),
         | t AS (SELECT doc_id, $sqlWords AS w FROM d),
         | m AS (SELECT doc_id, ${h("en", TextAnalysis.LangMarkers("en"))}, ${h("de", TextAnalysis.LangMarkers("de"))},
         |   ${h("fr", TextAnalysis.LangMarkers("fr"))}, ${h("es", TextAnalysis.LangMarkers("es"))} FROM t)
         |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
         |  CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
         |       WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
         |       WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
         |       WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |FROM m ORDER BY doc_id""".stripMargin
    },
    // line-level language split: per-line marker hits + the q_lang_id
    // argmax, regrouped per (doc, lang) with order-preserving rejoin
    "q_ccnet_lang_split" -> {
      def wordsOf(c: String): String =
        s"list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), w -> w <> '')"
      def h(lang: String): String = {
        val ms = graft.ops.TextAnalysis.LangMarkers(lang).map("'" + _ + "'").mkString(",")
        s"len(list_filter(${wordsOf("line")}, x -> list_contains([$ms], x)))"
      }
      s"""WITH d AS (SELECT doc_id, $langSplitSynthSql AS text FROM documents),
         | l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
         | x AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS i, unnest(ls) AS line FROM l),
         | f AS (SELECT doc_id, i, line FROM x WHERE length(trim(line)) > 0),
         | h AS (SELECT doc_id, i, line, ${h("en")} AS en_h, ${h("de")} AS de_h,
         |   ${h("fr")} AS fr_h, ${h("es")} AS es_h FROM f),
         | t AS (SELECT doc_id, i, line,
         |   CASE WHEN greatest(en_h, de_h, fr_h, es_h) = 0 THEN 'und'
         |        WHEN en_h = greatest(en_h, de_h, fr_h, es_h) THEN 'en'
         |        WHEN de_h = greatest(en_h, de_h, fr_h, es_h) THEN 'de'
         |        WHEN fr_h = greatest(en_h, de_h, fr_h, es_h) THEN 'fr'
         |        ELSE 'es' END AS lang FROM h)
         |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_lines,
         |  md5(string_agg(line, chr(10) ORDER BY i)) AS text_md5
         |FROM t GROUP BY doc_id, lang ORDER BY doc_id, lang""".stripMargin
    },
    "q_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, array_to_string($sqlWords, ' ') AS norm FROM documents),
         | g AS (SELECT doc_id, norm, CASE WHEN length(norm) >= 5
         |   THEN list_transform(range(1, length(norm) - 3), i -> substr(norm, i, 5)) ELSE [norm] END AS grams FROM t)
         |SELECT doc_id, md5(norm) AS exact_fp,
         |  list_min(list_transform(grams, x -> ${sqlHex60("x")})) AS winnow_fp
         |FROM g ORDER BY doc_id""".stripMargin,
    "q_word_freq" ->
      s"""SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
         |FROM (SELECT unnest($sqlWords) AS w FROM documents) WHERE w <> ''
         |GROUP BY w ORDER BY cnt DESC, word LIMIT 50""".stripMargin,
    "q_top_ngrams" ->
      s"""WITH w AS (SELECT doc_id, $sqlWords AS w FROM documents),
         | sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
         |   THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         |   ELSE [] END)) AS ngram FROM w)
         |SELECT ngram, CAST(count(*) AS BIGINT) AS df FROM sh
         |GROUP BY ngram HAVING count(*) >= 2
         |ORDER BY df DESC, ngram ASC LIMIT 50""".stripMargin,
    "q_repetition" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         | big AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
         |   THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) ELSE [] END) AS g FROM t),
         | bigc AS (SELECT doc_id, max(c) AS top_cnt FROM
         |   (SELECT doc_id, g, count(*) AS c FROM big GROUP BY doc_id, g) GROUP BY doc_id),
         | tri AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 3
         |   THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END) AS g FROM t),
         | tric AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ FROM
         |   (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |  round(CASE WHEN len(w) = 0 THEN 0.0 ELSE (len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE) END, 6) AS dup_word_frac,
         |  round(CASE WHEN len(w) <= 1 THEN 0.0 ELSE coalesce(bigc.top_cnt, 0) / CAST(len(w) - 1 AS DOUBLE) END, 6) AS top_bigram_frac,
         |  round(CASE WHEN len(w) <= 2 THEN 0.0 ELSE coalesce(tric.dup_occ, 0) / CAST(len(w) - 2 AS DOUBLE) END, 6) AS dup_trigram_frac
         |FROM t LEFT JOIN bigc USING (doc_id) LEFT JOIN tric USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_gopher_filter" ->
      s"""WITH d AS (SELECT doc_id, $gopherSynthSql AS text FROM documents),
         | t AS (SELECT doc_id, text,
         |   list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '') AS wsw,
         |   $sqlWords AS aw,
         |   string_split(text, chr(10)) AS lines FROM d),
         | m AS (SELECT doc_id,
         |   CAST(len(wsw) AS BIGINT) AS n_words,
         |   CAST(coalesce(list_sum(list_transform(wsw, w -> length(w))), 0) AS DOUBLE) AS word_chars,
         |   CAST(len(list_filter(wsw, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) AS n_alpha,
         |   CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) AS n_hash,
         |   CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) AS n_ell,
         |   CAST(len(lines) AS DOUBLE) AS n_lines,
         |   CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*•]'))) AS DOUBLE) AS n_bullet,
         |   CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$$'))) AS DOUBLE) AS n_ell_end,
         |   CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         |     sw -> list_contains(aw, sw))) AS BIGINT) AS n_stop_distinct
         |  FROM t),
         | r AS (SELECT doc_id, n_words,
         |   round(CASE WHEN n_words = 0 THEN 0.0 ELSE word_chars / n_words END, 6) AS mean_word_len,
         |   round(CASE WHEN n_words = 0 THEN 0.0 ELSE (n_hash + n_ell) / n_words END, 6) AS symbol_ratio,
         |   round(CASE WHEN n_words = 0 THEN 0.0 ELSE n_alpha / n_words END, 6) AS alpha_word_frac,
         |   round(CASE WHEN n_lines = 0 THEN 0.0 ELSE n_bullet / n_lines END, 6) AS bullet_line_frac,
         |   round(CASE WHEN n_lines = 0 THEN 0.0 ELSE n_ell_end / n_lines END, 6) AS ellipsis_line_frac,
         |   n_stop_distinct FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
         |  bullet_line_frac, ellipsis_line_frac, n_stop_distinct,
         |  (n_words >= 50 AND n_words <= 100000) AS rule_words,
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS rule_word_len,
         |  (symbol_ratio <= 0.1) AS rule_symbol,
         |  (bullet_line_frac <= 0.9) AS rule_bullet,
         |  (ellipsis_line_frac <= 0.3) AS rule_ellipsis,
         |  (alpha_word_frac >= 0.8) AS rule_alpha,
         |  (n_stop_distinct >= 2) AS rule_stop,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
         |   AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1
         |   AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
         |   AND alpha_word_frac >= 0.8 AND n_stop_distinct >= 2) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_c4_filter" ->
      s"""WITH d AS (SELECT doc_id, $synthC4TextSql AS text FROM documents),
         | t AS (SELECT doc_id, text, string_split(text, chr(10)) AS rawlines FROM d),
         | l AS (SELECT doc_id, text,
         |   list_transform(rawlines, x -> trim(x, ' ' || chr(9) || chr(13))) AS lines FROM t),
         | k AS (SELECT doc_id, text, CAST(len(lines) AS BIGINT) AS n_lines,
         |   list_filter(lines, x ->
         |     (right(x, 1) IN ('.', '!', '?', '"'))
         |     AND len(list_filter(string_split_regex(x, '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '')) >= 5
         |     AND NOT contains(lower(x), 'javascript')) AS kept FROM l),
         | c AS (SELECT doc_id, text, n_lines, CAST(len(kept) AS BIGINT) AS n_lines_kept,
         |   coalesce(array_to_string(kept, chr(10)), '') AS clean FROM k),
         | f AS (SELECT doc_id, text, n_lines, n_lines_kept, clean,
         |   list_contains($sqlWords, 'badword1') AS has_bad_word FROM c)
         |SELECT doc_id, n_lines, n_lines_kept,
         |  CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT) AS n_sentences,
         |  contains(lower(text), 'lorem ipsum') AS has_lorem,
         |  contains(text, '{') AS has_brace,
         |  has_bad_word,
         |  (len(regexp_extract_all(clean, '[.!?]')) >= 3
         |   AND NOT contains(lower(text), 'lorem ipsum')
         |   AND NOT contains(text, '{') AND NOT has_bad_word) AS keep,
         |  md5(clean) AS clean_md5
         |FROM f ORDER BY doc_id""".stripMargin,
    "q_decontam" -> {
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         | t2 AS (SELECT doc_id, list_transform($sqlShingles3, s -> ${sqlHex60("s")}) AS sh FROM t),
         | ev AS (SELECT DISTINCT unnest(sh) AS h FROM t2 WHERE doc_id % 7 = 3),
         | ex AS (SELECT doc_id, unnest(sh) AS h FROM t2),
         | hits AS (SELECT ex.doc_id, count(*) AS n_hits FROM ex JOIN ev USING (h) GROUP BY ex.doc_id)
         |SELECT t2.doc_id, CAST(len(t2.sh) AS BIGINT) AS n_grams,
         |  CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CASE WHEN len(t2.sh) = 0 THEN 0.0 ELSE coalesce(hits.n_hits, 0) / CAST(len(t2.sh) AS DOUBLE) END, 6) AS overlap_frac,
         |  CAST(CASE WHEN coalesce(hits.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
         |FROM t2 LEFT JOIN hits ON t2.doc_id = hits.doc_id ORDER BY t2.doc_id""".stripMargin
    },
    "q_decontam_spans" -> {
      val w = 4
      s"""WITH base AS (SELECT doc_id, $sqlWords AS bw FROM documents),
         | inj AS (SELECT doc_id, CASE WHEN doc_id % 5 = 2 THEN
         |     trim(array_to_string(bw[1:8], ' ') || ' zzqx vvrk wwpl qqmn ttbs ' || CAST(doc_id % 3 AS VARCHAR) || ' ' || array_to_string(bw[9:], ' '))
         |   ELSE array_to_string(bw, ' ') END AS text FROM base),
         | t AS (SELECT doc_id, $sqlWords AS w FROM inj),
         | evt AS (SELECT list_value('zzqx', 'vvrk', 'wwpl', 'qqmn', 'ttbs', CAST(k AS VARCHAR)) AS w FROM range(3) r(k)),
         | evw AS (SELECT DISTINCT ${sqlHex60(s"array_to_string(w[i:i+$w-1], ' ')")} AS h
         |   FROM (SELECT w, unnest(range(1, len(w) - $w + 2)) AS i FROM evt)),
         | e AS (SELECT doc_id, w, unnest(range(1, len(w) - $w + 2)) AS i FROM t WHERE len(w) >= $w),
         | wn AS (SELECT doc_id, i - 1 AS pos, ${sqlHex60(s"array_to_string(w[i:i+$w-1], ' ')")} AS h FROM e),
         | mk AS (SELECT doc_id, pos FROM wn SEMI JOIN evw USING (h)),
         | isl AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM mk),
         | sp AS (SELECT doc_id, min(pos) AS s, max(pos) + $w - 1 AS e2 FROM isl GROUP BY doc_id, g),
         | cov AS (SELECT DISTINCT doc_id, unnest(range(s, e2 + 1)) AS pos FROM sp),
         | tk AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t),
         | tok AS (SELECT doc_id, i - 1 AS pos, w[i] AS word FROM tk),
         | kept AS (SELECT doc_id, pos, word FROM tok ANTI JOIN cov USING (doc_id, pos)),
         | reb AS (SELECT doc_id, count(*) AS n_kept,
         |   array_to_string(list(word ORDER BY pos), ' ') AS clean FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
         |  CAST(len(t.w) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed,
         |  md5(coalesce(reb.clean, '')) AS clean_md5
         |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id ORDER BY t.doc_id""".stripMargin
    },
    "q_select_budget" ->
      s"""WITH t AS (SELECT doc_id, round((doc_id % 7) / 6.0, 4) AS q_level,
         |   CAST(len($sqlWords) AS BIGINT) AS n_tokens FROM documents),
         | c AS (SELECT doc_id, q_level, n_tokens,
         |   coalesce(sum(n_tokens) OVER (ORDER BY q_level DESC, doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb FROM t)
         |SELECT doc_id, q_level, n_tokens,
         |  CAST(CASE WHEN tb + n_tokens <= 13000 THEN 1 ELSE 0 END AS INT) AS selected
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_bpe_pairs" ->
      s"""WITH t AS (SELECT $sqlWords AS w FROM documents),
         | wc AS (SELECT word, count(*) AS wcnt FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
         | p AS (SELECT wcnt, unnest(list_transform(range(1, length(word) + 1), i ->
         |   word[i] || ' ' || CASE WHEN i = length(word) THEN '</w>' ELSE word[i+1] END)) AS pair FROM wc)
         |SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt FROM p
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 100""".stripMargin,
    "q_pii" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\+\\d[\\d\\- ]{5,}\\d"
      s"""WITH p AS (SELECT doc_id, text || ' contact user' || doc_id ||
         |   '@example.com or 10.0.' || (doc_id % 256) || '.1 tel +1 555-01' ||
         |   lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
         |   (CASE WHEN doc_id % 3 = 0 THEN ' cc alt' || doc_id || '@test.org' ELSE '' END) AS text
         |  FROM documents),
         | s1 AS (SELECT doc_id, len(regexp_extract_all(text, '$email')) AS n_emails,
         |   regexp_replace(text, '$email', '[EMAIL]', 'g') AS t1 FROM p),
         | s2 AS (SELECT doc_id, n_emails, len(regexp_extract_all(t1, '$ip')) AS n_ipv4,
         |   regexp_replace(t1, '$ip', '[IP]', 'g') AS t2 FROM s1),
         | s3 AS (SELECT doc_id, n_emails, n_ipv4, len(regexp_extract_all(t2, '$phone')) AS n_phones,
         |   regexp_replace(t2, '$phone', '[PHONE]', 'g') AS t3 FROM s2)
         |SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails, CAST(n_ipv4 AS BIGINT) AS n_ipv4,
         |  CAST(n_phones AS BIGINT) AS n_phones, md5(t3) AS redacted_md5
         |FROM s3 ORDER BY doc_id""".stripMargin
    },
    "q_html_extract" -> {
      val (ctes, last) = htmlExtractSqlCtes
      s"""WITH h AS (SELECT doc_id, $synthHtmlSql AS t FROM documents),
         | ${ctes.mkString(",\n ")}
         |SELECT h.doc_id, ${htmlTitleSql("h.t")} AS title,
         |  CAST(len(regexp_extract_all(h.t, '(?i)<a\\b')) AS BIGINT) AS n_links,
         |  CAST(length($last.t) AS BIGINT) AS n_chars_ext, md5($last.t) AS text_md5
         |FROM h JOIN $last USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "q_warc_extract" -> {
      val (ctes, last) = htmlExtractSqlCtes
      s"""WITH h AS (SELECT doc_id, $synthHtmlSql AS t FROM documents),
         | ${ctes.mkString(",\n ")}
         |SELECT h.doc_id, 'response' AS warc_type,
         |  'http://example.com/doc/' || doc_id AS target_uri,
         |  CAST(200 AS BIGINT) AS http_status,
         |  'text/html; charset=UTF-8' AS http_content_type,
         |  CAST(strlen(h.t) AS BIGINT) AS body_len,
         |  md5(h.t) AS body_md5, md5($last.t) AS ext_md5
         |FROM h JOIN $last USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "q_span_dedup" -> {
      val w = 10
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         | e AS (SELECT doc_id, w, unnest(range(1, len(w) - $w + 2)) AS i FROM t WHERE len(w) >= $w),
         | wn AS (SELECT doc_id, i - 1 AS pos, ${sqlHex60(s"array_to_string(w[i:i+$w-1], ' ')")} AS h FROM e),
         | dk AS (SELECT doc_id, pos,
         |   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |   count(*) OVER (PARTITION BY h) AS c FROM wn),
         | mk AS (SELECT doc_id, pos FROM dk WHERE c > 1 AND rn > 1),
         | isl AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM mk),
         | sp AS (SELECT doc_id, min(pos) AS s, max(pos) + $w - 1 AS e2 FROM isl GROUP BY doc_id, g),
         | cov AS (SELECT DISTINCT doc_id, unnest(range(s, e2 + 1)) AS pos FROM sp),
         | tk AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t),
         | tok AS (SELECT doc_id, i - 1 AS pos, w[i] AS word FROM tk),
         | kept AS (SELECT doc_id, pos, word FROM tok ANTI JOIN cov USING (doc_id, pos)),
         | reb AS (SELECT doc_id, count(*) AS n_kept,
         |   array_to_string(list(word ORDER BY pos), ' ') AS clean FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
         |  CAST(len(t.w) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed,
         |  md5(coalesce(reb.clean, '')) AS clean_md5
         |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id ORDER BY t.doc_id""".stripMargin
    },
    // cross-corpus span dedup: ref (doc_id%3=0) windows → distinct hash
    // set; new-side windows semi-join it; islands → maximal spans → cut.
    // Same window-hash replay as q_span_dedup, ref/new split like kn_xc
    "q_cross_span_dedup" -> {
      val w = 10
      val winHash = sqlHex60(s"array_to_string(w[i:i+$w-1], ' ')")
      s"""WITH d AS (SELECT doc_id, $crossSpanSynthSql AS text FROM documents),
         | t AS (SELECT doc_id, $sqlWords AS w FROM d),
         | er AS (SELECT doc_id, w, unnest(range(1, len(w) - $w + 2)) AS i FROM t WHERE doc_id % 3 = 0 AND len(w) >= $w),
         | rh AS (SELECT DISTINCT $winHash AS h FROM er),
         | en AS (SELECT doc_id, w, unnest(range(1, len(w) - $w + 2)) AS i FROM t WHERE doc_id % 3 <> 0 AND len(w) >= $w),
         | wn AS (SELECT doc_id, i - 1 AS pos, $winHash AS h FROM en),
         | mk AS (SELECT doc_id, pos FROM wn SEMI JOIN rh USING (h)),
         | isl AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM mk),
         | sp AS (SELECT doc_id, min(pos) AS s, max(pos) + $w - 1 AS e2 FROM isl GROUP BY doc_id, g),
         | cov AS (SELECT DISTINCT doc_id, unnest(range(s, e2 + 1)) AS pos FROM sp),
         | tk AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t WHERE doc_id % 3 <> 0),
         | tok AS (SELECT doc_id, i - 1 AS pos, w[i] AS word FROM tk),
         | kept AS (SELECT doc_id, pos, word FROM tok ANTI JOIN cov USING (doc_id, pos)),
         | reb AS (SELECT doc_id, count(*) AS n_kept,
         |   array_to_string(list(word ORDER BY pos), ' ') AS clean FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
         |  CAST(len(t.w) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed,
         |  md5(coalesce(reb.clean, '')) AS clean_md5
         |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id WHERE t.doc_id % 3 <> 0
         |ORDER BY t.doc_id""".stripMargin
    },
    // predictions per (robots shape, path shape): shape A obeys the
    // graftbot group (/private disallowed at len 8, /private/pub$ allowed
    // at len 13 — longest wins; /tmp* catches /tmp12/y but not /a/tmp32);
    // shape B has no graftbot group, so '*' applies (/tmp*2 catches
    // /tmp12/y via the wildcard, /private is explicitly allowed)
    "q_links" ->
      """WITH l AS (
        |  SELECT doc_id, 0 AS link_idx,
        |    'http://h' || (doc_id % 10) || '.com/p' || doc_id AS href,
        |    'first link ' || doc_id AS anchor FROM documents
        |  UNION ALL SELECT doc_id, 1,
        |    'http://h' || ((doc_id + 3) % 10) || '.com/q', 'second link' FROM documents
        |  UNION ALL SELECT doc_id, 2, '/rel/' || (doc_id % 5), '<b>rel</b>' FROM documents)
        |SELECT doc_id, CAST(link_idx AS BIGINT) AS link_idx, href, anchor
        |FROM l ORDER BY doc_id, link_idx""".stripMargin,
    "q_media_links" ->
      """WITH m AS (
        |  SELECT doc_id, 0 AS media_idx, 'img' AS tag,
        |    'http://img.h' || (doc_id % 10) || '.com/i' || doc_id || '.png' AS src FROM documents
        |  UNION ALL SELECT doc_id, 1, 'video',
        |    'http://v.example/v' || doc_id || '.mp4' FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL SELECT doc_id, 2, 'source',
        |    'http://v.example/v' || doc_id || '.webm' FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END, 'audio',
        |    'http://a.example/a' || doc_id || '.mp3' FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, CAST(media_idx AS BIGINT) AS media_idx, tag, src
        |FROM m ORDER BY doc_id, media_idx""".stripMargin,
    "q_anchors" ->
      """WITH u AS (
        |  SELECT 'http://h' || (doc_id % 10) || '.com/p' || doc_id AS url_canon,
        |    'first link ' || doc_id AS a FROM documents
        |  UNION ALL SELECT 'http://h' || ((doc_id + 3) % 10) || '.com/q',
        |    'second link' FROM documents)
        |SELECT url_canon, CAST(count(*) AS BIGINT) AS n_inlinks,
        |  array_to_string(list_sort(list_distinct(list(a)))[1:16], '|') AS anchors
        |FROM u GROUP BY url_canon ORDER BY url_canon""".stripMargin,
    "q_pagerank" -> {
      def iter(prev: String, cur: String): String =
        s"""c$cur AS (SELECT e.dst, sum(r$prev.rank // d.od) AS s
           |   FROM e JOIN r$prev ON r$prev.node = e.src JOIN od d ON d.src = e.src
           |   GROUP BY e.dst),
           | r$cur AS (SELECT nodes.node, 150000 + (85 * coalesce(c$cur.s, 0)) // 100 AS rank
           |   FROM nodes LEFT JOIN c$cur ON c$cur.dst = nodes.node)""".stripMargin
      s"""WITH n AS (SELECT max(doc_id) + 1 AS n FROM documents),
         | e AS (SELECT DISTINCT src, dst FROM (
         |   SELECT doc_id AS src, (doc_id * 31 + j * 7 + 1) % n.n AS dst
         |   FROM documents, n, (SELECT unnest([1, 2, 3]) AS j)) WHERE src <> dst),
         | nodes AS (SELECT DISTINCT node FROM
         |   (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         | od AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY src),
         | r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         | ${iter("0", "1")},
         | ${iter("1", "2")},
         | ${iter("2", "3")}
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin
    },
    "q_pagerank_dangling" -> {
      def iter(prev: String, cur: String): String =
        s"""dm$cur AS (SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dm
           |   FROM r$prev WHERE node NOT IN (SELECT src FROM e)),
           | c$cur AS (SELECT e.dst, sum(r$prev.rank // d.od) AS s
           |   FROM e JOIN r$prev ON r$prev.node = e.src JOIN od d ON d.src = e.src
           |   GROUP BY e.dst),
           | r$cur AS (SELECT nodes.node,
           |   150000 + (85 * (coalesce(c$cur.s, 0) + dm$cur.dm // cnt.nn)) // 100 AS rank
           |   FROM nodes LEFT JOIN c$cur ON c$cur.dst = nodes.node, dm$cur, cnt)""".stripMargin
      s"""WITH n AS (SELECT max(doc_id) + 1 AS n FROM documents),
         | e AS (SELECT DISTINCT src, dst FROM (
         |   SELECT doc_id AS src, (doc_id * 31 + j * 7 + 1) % n.n AS dst
         |   FROM documents, n, (SELECT unnest([1, 2, 3]) AS j)
         |   WHERE doc_id % 2 = 0) WHERE src <> dst),
         | nodes AS (SELECT DISTINCT node FROM
         |   (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         | od AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY src),
         | cnt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
         | r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         | ${iter("0", "1")},
         | ${iter("1", "2")},
         | ${iter("2", "3")}
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin
    },
    "q_robots" ->
      """SELECT doc_id,
        |  CASE doc_id % 6 WHEN 0 THEN '/index.html' WHEN 1 THEN '/private/x'
        |    WHEN 2 THEN '/private/pub' WHEN 3 THEN '/tmp12/y'
        |    WHEN 4 THEN '/a/tmp32' ELSE '/' END AS path,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN CASE doc_id % 6 WHEN 1 THEN 0 WHEN 3 THEN 0 ELSE 1 END
        |    ELSE CASE doc_id % 6 WHEN 3 THEN 0 ELSE 1 END
        |  END AS INT) AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_url_canon" ->
      s"""SELECT doc_id, $synthUrlCanonSql AS url_canon,
         |  $synthUrlHostSql AS url_host, $synthUrlDomainSql AS url_domain
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_url_dedup" ->
      s"""WITH c AS (SELECT doc_id, $synthUrlCanonSql AS url_canon FROM documents)
         |SELECT url_canon, CAST(count(*) AS BIGINT) AS n_dups,
         |  min(doc_id) AS keeper_id
         |FROM c GROUP BY url_canon ORDER BY url_canon""".stripMargin,
    "q_boilerplate" -> {
      val (ctes, last) = htmlExtractSqlCtes
      s"""WITH b AS (SELECT doc_id, $boilerSynthSql AS text FROM documents),
         | h AS (SELECT doc_id, $synthHtmlSql AS t FROM b),
         | ${ctes.mkString(",\n ")},
         | kept AS (SELECT doc_id, array_to_string(list_filter(string_split(t, chr(10)),
         |   ln -> len(regexp_extract_all(ln, '[^ ]+')) >= 5 OR regexp_matches(ln, '[.!?]${"$"}')), chr(10)) AS t
         |  FROM $last)
         |SELECT doc_id, CASE WHEN length(t) = 0 THEN 0
         |    ELSE CAST(len(string_split(t, chr(10))) AS BIGINT) END AS n_lines_kept,
         |  md5(t) AS text_md5
         |FROM kept ORDER BY doc_id""".stripMargin
    },
    // jusText blocks: segmentation (the shared strip passes), per-block
    // clean/densities, the context-free CASE ladder, and BOTH revise
    // windows (short neighborhoods over cf classes, neargood over the
    // short-resolved classes) replayed verbatim
    "q_boilerplate_blocks" -> {
      val pre = graft.ops.Html.StripPasses.take(4).foldLeft("html") {
        case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
      }
      val blockTag = graft.ops.Html.StripPasses(4)._1
      val anchor = graft.ops.Html.AnchorRe
      val stop = graft.ops.Html.stopwordsSqlList
      def clean(x: String): String = {
        val tagless = s"regexp_replace($x, '<[^>]*>', ' ', 'g')"
        val ent = s"replace(replace(replace(replace(replace(replace($tagless, " +
          "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), " +
          "'&nbsp;', ' '), '&amp;', '&')"
        s"trim(regexp_replace($ent, '[ \\t\\r\\n]+', ' ', 'g'))"
      }
      def lastGB(src: String, order: String): String =
        s"coalesce(last_value(CASE WHEN $src IN ('good','bad') THEN $src END IGNORE NULLS) " +
          s"OVER (PARTITION BY doc_id ORDER BY block_idx $order " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad')"
      def lastNonShort(order: String): String =
        "coalesce(last_value(CASE WHEN cf_class <> 'short' THEN cf_class END IGNORE NULLS) " +
          s"OVER (PARTITION BY doc_id ORDER BY block_idx $order " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad')"
      s"""WITH h AS (SELECT doc_id, $justextSynthSql AS html FROM documents),
         | nl AS (SELECT doc_id, string_split(regexp_replace($pre, '$blockTag', chr(10), 'g'), chr(10)) AS l FROM h),
         | rw AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS i0, unnest(l) AS raw FROM nl),
         | cl AS (SELECT doc_id, i0, raw, ${clean("raw")} AS text FROM rw),
         | bl AS MATERIALIZED (SELECT doc_id, raw, text,
         |   row_number() OVER (PARTITION BY doc_id ORDER BY i0) - 1 AS block_idx
         |   FROM cl WHERE text <> ''),
         | st AS MATERIALIZED (SELECT doc_id, block_idx, text,
         |   CAST(length(text) AS BIGINT) AS n_chars,
         |   CAST(len($sqlWords) AS BIGINT) AS n_words,
         |   CAST(len(list_filter($sqlWords, x -> list_contains($stop, x))) AS BIGINT) AS n_stop,
         |   CAST(coalesce(list_sum(list_transform(regexp_extract_all(raw, '$anchor', 2),
         |     x -> length(${clean("x")}))), 0) AS BIGINT) AS link_chars
         |   FROM bl),
         | de AS (SELECT *, link_chars / n_chars AS ld,
         |   n_stop / greatest(n_words, 1) AS sd FROM st),
         | cf AS MATERIALIZED (SELECT *, CASE
         |     WHEN ld > 0.2 THEN 'bad'
         |     WHEN contains(text, '©') THEN 'bad'
         |     WHEN n_chars < 70 THEN (CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END)
         |     WHEN sd >= 0.32 THEN (CASE WHEN n_chars > 200 THEN 'good' ELSE 'neargood' END)
         |     WHEN sd >= 0.30 THEN 'neargood'
         |     ELSE 'bad' END AS cf_class FROM de),
         | cx AS (SELECT *,
         |   ${lastGB("cf_class", "ASC")} AS pgb, ${lastGB("cf_class", "DESC")} AS ngb,
         |   ${lastNonShort("ASC")} AS pany, ${lastNonShort("DESC")} AS nany
         |   FROM cf),
         | c2 AS MATERIALIZED (SELECT *, CASE
         |     WHEN cf_class <> 'short' THEN cf_class
         |     WHEN pgb = 'good' AND ngb = 'good' THEN 'good'
         |     WHEN pgb = 'bad' AND ngb = 'bad' THEN 'bad'
         |     WHEN (pgb = 'bad' AND pany = 'neargood') OR (ngb = 'bad' AND nany = 'neargood') THEN 'good'
         |     ELSE 'bad' END AS cls2 FROM cx),
         | fx AS (SELECT *,
         |   ${lastGB("cls2", "ASC")} AS pgb2, ${lastGB("cls2", "DESC")} AS ngb2
         |   FROM c2)
         |SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx, n_chars, n_words,
         |  n_stop, link_chars, round(ld, 6) AS link_density, round(sd, 6) AS stop_density,
         |  cf_class, CASE WHEN cls2 <> 'neargood' THEN cls2
         |    WHEN pgb2 = 'bad' AND ngb2 = 'bad' THEN 'bad' ELSE 'good' END AS final_class
         |FROM fx ORDER BY doc_id, block_idx""".stripMargin
    },
    "q_hash_embed" ->
      s"""WITH w AS (SELECT doc_id, unnest($sqlWords) AS w FROM documents WHERE doc_id < 100),
         | h AS (SELECT doc_id, ${sqlHex32("w")} % 64 AS bucket,
         |   CASE WHEN CAST(concat('0x', substr(md5(w), 9, 2)) AS BIGINT) & 1 = 1 THEN -1 ELSE 1 END AS sign FROM w)
         |SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS weight FROM h
         |GROUP BY doc_id, bucket HAVING sum(sign) <> 0 ORDER BY doc_id, bucket""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, md5(text) AS digest,
        |  CAST(16 + length(text) % 640 AS BIGINT) AS fake_width,
        |  CAST(16 + (length(text) // 640) % 480 AS BIGINT) AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_image_dedup" ->
      s"""WITH d AS (SELECT doc_id, doc_id % 25 AS k FROM documents WHERE doc_id < 100),
        | img AS MATERIALIZED (SELECT DISTINCT k, CAST(4 + k % 13 AS BIGINT) AS w,
        |   CAST(3 + k % 7 AS BIGINT) AS h FROM d),
        |${imageDhashCtes("dhash_hi", "dhash_lo")}
        | r0 AS (SELECT d.doc_id, dh.dhash_hi, dh.dhash_lo FROM d JOIN dh USING (k)),
        | grp AS (SELECT dhash_hi, dhash_lo, CAST(count(*) AS BIGINT) AS n_dups,
        |   min(doc_id) AS canonical_id FROM r0 GROUP BY 1, 2)
        |SELECT r0.doc_id, r0.dhash_hi, r0.dhash_lo, grp.n_dups, grp.canonical_id
        |FROM r0 JOIN grp USING (dhash_hi, dhash_lo) ORDER BY r0.doc_id""".stripMargin,
    "q_media_cross_dedup" ->
      s"""WITH dn AS (SELECT doc_id, doc_id % 25 AS k FROM documents
        |   WHERE doc_id < 100 AND doc_id % 3 <> 0),
        | dref AS (SELECT doc_id, doc_id % 25 AS k FROM documents
        |   WHERE doc_id < 30 AND doc_id % 3 = 0),
        | img AS MATERIALIZED (SELECT DISTINCT k, CAST(4 + k % 13 AS BIGINT) AS w,
        |   CAST(3 + k % 7 AS BIGINT) AS h
        |   FROM (SELECT k FROM dn UNION SELECT k FROM dref)),
        |${imageDhashCtes("fp_hi", "fp_lo")}
        | rfp AS (SELECT DISTINCT dh.fp_hi, dh.fp_lo FROM dref JOIN dh USING (k))
        |SELECT dn.doc_id, dh.fp_hi, dh.fp_lo, (rfp.fp_hi IS NOT NULL) AS dup
        |FROM dn JOIN dh USING (k)
        |LEFT JOIN rfp ON dh.fp_hi = rfp.fp_hi AND dh.fp_lo = rfp.fp_lo
        |ORDER BY dn.doc_id""".stripMargin,
    "q_audio_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id % 25 AS k FROM documents WHERE doc_id < 100),
        | p AS (SELECT DISTINCT k, 17 + 3 * k AS step, 400 + k * 40 AS n FROM d),
        | s AS (SELECT p.k, p.n, g.i, ((g.i * p.step) % 65536) - 32768 AS v
        |   FROM p, (SELECT unnest(generate_series(0, 1359)) AS i) g
        |   WHERE g.i < p.n),
        | en AS MATERIALIZED (SELECT k, (i * 65) // n AS win, sum(v * v) AS e
        |   FROM s GROUP BY k, (i * 65) // n),
        | bits AS (SELECT a.k, a.win, CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
        |   FROM en a JOIN en b ON a.k = b.k AND b.win = a.win + 1 WHERE a.win < 64),
        | fp AS MATERIALIZED (SELECT k,
        |   CAST(sum(CASE WHEN win >= 32 AND bit = 1 THEN (CAST(1 AS BIGINT) << (win - 32)) ELSE 0 END) AS BIGINT) AS afp_hi,
        |   CAST(sum(CASE WHEN win < 32 AND bit = 1 THEN (CAST(1 AS BIGINT) << win) ELSE 0 END) AS BIGINT) AS afp_lo
        |  FROM bits GROUP BY k),
        | r0 AS (SELECT d.doc_id, fp.afp_hi, fp.afp_lo FROM d JOIN fp USING (k)),
        | grp AS (SELECT afp_hi, afp_lo, CAST(count(*) AS BIGINT) AS n_dups,
        |   min(doc_id) AS canonical_id FROM r0 GROUP BY 1, 2)
        |SELECT r0.doc_id, r0.afp_hi, r0.afp_lo, grp.n_dups, grp.canonical_id
        |FROM r0 JOIN grp USING (afp_hi, afp_lo) ORDER BY r0.doc_id""".stripMargin,
    // the media e2e replay composes the q_image_dedup dHash CTEs, the
    // q_audio_dedup fingerprint CTEs (bits renamed abits) and the
    // q_media_links ref rows restricted to the fetchable tags — video/
    // source rows drop in the pipeline (no decodable samples), so they
    // never appear in refs here
    "q_media_e2e" ->
      s"""WITH d AS (SELECT doc_id, doc_id % 25 AS k FROM documents WHERE doc_id < 100),
        | img AS MATERIALIZED (SELECT DISTINCT k, CAST(4 + k % 13 AS BIGINT) AS w,
        |   CAST(3 + k % 7 AS BIGINT) AS h FROM d),
        |${imageDhashCtes("fp_hi", "fp_lo")}
        | p AS (SELECT DISTINCT k, 17 + 3 * k AS step, 400 + k * 40 AS n FROM d),
        | s AS (SELECT p.k, p.n, g.i, ((g.i * p.step) % 65536) - 32768 AS v
        |   FROM p, (SELECT unnest(generate_series(0, 1359)) AS i) g
        |   WHERE g.i < p.n),
        | en AS MATERIALIZED (SELECT k, (i * 65) // n AS win, sum(v * v) AS e
        |   FROM s GROUP BY k, (i * 65) // n),
        | abits AS (SELECT a.k, a.win, CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
        |   FROM en a JOIN en b ON a.k = b.k AND b.win = a.win + 1 WHERE a.win < 64),
        | afp AS MATERIALIZED (SELECT k,
        |   CAST(sum(CASE WHEN win >= 32 AND bit = 1 THEN (CAST(1 AS BIGINT) << (win - 32)) ELSE 0 END) AS BIGINT) AS fp_hi,
        |   CAST(sum(CASE WHEN win < 32 AND bit = 1 THEN (CAST(1 AS BIGINT) << win) ELSE 0 END) AS BIGINT) AS fp_lo
        |  FROM abits GROUP BY k),
        | refs AS (
        |   SELECT doc_id, 0 AS media_idx, 'img' AS tag FROM d
        |   UNION ALL SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END, 'audio'
        |     FROM d WHERE doc_id % 3 = 0),
        | fp0 AS (
        |   SELECT CAST(r.doc_id * 4 + r.media_idx AS BIGINT) AS asset_id, r.doc_id,
        |     CAST(r.media_idx AS BIGINT) AS media_idx, r.tag,
        |     CASE WHEN r.tag = 'img' THEN dh.fp_hi ELSE afp.fp_hi END AS fp_hi,
        |     CASE WHEN r.tag = 'img' THEN dh.fp_lo ELSE afp.fp_lo END AS fp_lo
        |   FROM refs r
        |   LEFT JOIN dh ON r.tag = 'img' AND dh.k = r.doc_id % 25
        |   LEFT JOIN afp ON r.tag = 'audio' AND afp.k = r.doc_id % 25),
        | grp AS (SELECT tag, fp_hi, fp_lo, CAST(count(*) AS BIGINT) AS n_dups,
        |   min(asset_id) AS canonical_asset FROM fp0 GROUP BY 1, 2, 3)
        |SELECT fp0.asset_id, fp0.doc_id, fp0.media_idx, fp0.tag, fp0.fp_hi, fp0.fp_lo,
        |  grp.n_dups, grp.canonical_asset
        |FROM fp0 JOIN grp USING (tag, fp_hi, fp_lo) ORDER BY fp0.asset_id""".stripMargin,
    // Layer-I replay: codes c = (id·5 + f·7 + g·3 (+1)) % 8, granule energy
    // ×50176 = ((c0−3)²·4 + (c1−3)²)·4096 exactly (power-of-two sf, nb=3),
    // envelope windows (gi·65)//n over n = 12·(6 + id%3) granules
    "q_mp1_decode" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | g AS (SELECT doc_id, nf, fr.f, gr.gr,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3) % 8 AS c0,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3 + 1) % 8 AS c1
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 11)) AS gr) gr
        |   WHERE fr.f < nf),
        | en AS (SELECT doc_id, nf, f * 12 + gr AS gi,
        |     ((c0 - 3) * (c0 - 3) * 4 + (c1 - 3) * (c1 - 3)) * 4096 AS e FROM g),
        |${audioFpCtes(12)}
        |${audioFpSelect(32000, 12)}""".stripMargin,
    // Layer-I joint stereo: per-channel energies ×50176 — ch0 carries
    // sb0's code at sf 2 + the SHARED sb4 code at sf 1; ch1 the same
    // shared code at sf 0.5 — (2c−6)² = 4(c−3)², so coefficients are
    // 16384/4096/1024 per sf² ∈ {4, 1, ¼}
    "q_mp1_js_decode" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | g AS (SELECT doc_id, nf, fr.f, gr.gr,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3) % 8 AS c0,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3 + 1) % 8 AS c1,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3 + 2) % 8 AS c2
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 11)) AS gr) gr
        |   WHERE fr.f < nf),
        | en AS (
        |   SELECT doc_id, nf, (f * 12 + gr) * 2 AS gi,
        |     (c0 - 3) * (c0 - 3) * 16384 + (c2 - 3) * (c2 - 3) * 4096 AS e FROM g
        |   UNION ALL
        |   SELECT doc_id, nf, (f * 12 + gr) * 2 + 1 AS gi,
        |     (c1 - 3) * (c1 - 3) * 4096 + (c2 - 3) * (c2 - 3) * 1024 AS e FROM g),
        |${audioFpCtes(24)}
        |${audioFpSelect(32000, 12)}""".stripMargin,
    // Layer-II joint stereo: slice energies ×50176 per channel — sb0 ch0
    // rides scfsi-0 thirds (16384/4096/1024 by part), sb0 ch1 flat 4096;
    // the SHARED sb4 code lands at flat 1024 on ch0 and thirds on ch1
    "q_mp2_js_decode" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | t AS (SELECT doc_id, nf, fr.f, gr.gr, sl.s, gr.gr // 4 AS part,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3 + sl.s) % 7 AS c0,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3 + sl.s + 1) % 7 AS c1,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3 + sl.s + 2) % 7 AS c2
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 11)) AS gr) gr,
        |        (SELECT unnest(generate_series(0, 2)) AS s) sl
        |   WHERE fr.f < nf),
        | tc AS (SELECT *,
        |     CASE part WHEN 0 THEN 16384 WHEN 1 THEN 4096 ELSE 1024 END AS coef
        |   FROM t),
        | en AS (
        |   SELECT doc_id, nf, ((f * 12 + gr) * 3 + s) * 2 AS gi,
        |     (c0 - 3) * (c0 - 3) * coef + (c2 - 3) * (c2 - 3) * 1024 AS e FROM tc
        |   UNION ALL
        |   SELECT doc_id, nf, ((f * 12 + gr) * 3 + s) * 2 + 1 AS gi,
        |     (c1 - 3) * (c1 - 3) * 4096 + (c2 - 3) * (c2 - 3) * coef AS e FROM tc),
        |${audioFpCtes(72)}
        |${audioFpSelect(32000, 36)}""".stripMargin,
    // AVI twin: replay the gray-pixel generator per (doc, frame, pixel);
    // bytes are B=G=R=v so sum triples, min/max are over v directly, and
    // the order-sensitive weighted sum is Σ v·(9i+3) (byte indices
    // 3i..3i+2 of TOP-DOWN pixel i — a row-order or stride slip breaks it)
    "q_avi_frames" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
        |    2 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | px AS (SELECT d.doc_id, d.w, d.h, fr.f, g.i,
        |     (d.doc_id * 31 + fr.f * 97 + g.i * 7) % 256 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 4)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 47)) AS i) g
        |   WHERE fr.f < d.nf AND g.i < d.w * d.h)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_index, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, CAST(w * h * 3 AS BIGINT) AS n_px,
        |  CAST(3 * sum(v) AS BIGINT) AS px_sum,
        |  CAST(sum(v * (9 * i + 3)) AS BIGINT) AS px_wsum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, frame_index""".stripMargin,
    // BMP: gray v = (id·31 + i·7) mod 256 lands as R=G=B in every layout,
    // so each pixel contributes 3v regardless of 24/32/8bpp container
    "q_bmp_decode" ->
      """WITH d AS (SELECT doc_id, CAST(4 + doc_id % 9 AS BIGINT) AS width,
        |    CAST(3 + doc_id % 5 AS BIGINT) AS height
        |  FROM documents WHERE doc_id < 100),
        | px AS (SELECT d.doc_id, d.width, d.height, (d.doc_id * 31 + g.i * 7) % 256 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 83)) AS i) g
        |   WHERE g.i < d.width * d.height)
        |SELECT doc_id, width, height, CAST(3 AS BIGINT) AS channels,
        |  CAST(count(*) AS BIGINT) AS n_px, CAST(3 * sum(v) AS BIGINT) AS px_sum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin,
    // DC-only JPEG: block (bx,by) of ceil(w/8) per row decodes flat to
    // level = (id·31 + blockIndex·29) mod 256 — the oracle replays the
    // generator formula per pixel, like q_png_decode
    "q_jpeg_decode" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8 * (2 + doc_id % 3) - CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 0 END AS BIGINT) AS width,
        |    CAST(8 * (1 + doc_id % 2) - CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END AS BIGINT) AS height
        |  FROM documents WHERE doc_id < 100),
        | px AS (SELECT d.doc_id, d.width, d.height,
        |     (d.doc_id * 31 + (((g.i // d.width) // 8) * ((d.width + 7) // 8)
        |        + (g.i % d.width) // 8) * 29) % 256 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 511)) AS i) g
        |   WHERE g.i < d.width * d.height)
        |SELECT doc_id, width, height, CAST(1 AS BIGINT) AS channels,
        |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS px_sum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin,
    // animated GIF: full-canvas gray frames → RGB canvas = the frame, so
    // per pixel j the three bytes contribute v·(9j+3) to the wsum (same
    // identity as q_avi_frames)
    "q_gif_frames" ->
      """WITH d AS (SELECT doc_id, 8 + 2 * (doc_id % 5) AS w, 6 + 2 * (doc_id % 3) AS h,
        |    2 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | px AS (SELECT d.doc_id, d.w, d.h, fr.f, g.i,
        |     (d.doc_id * 31 + fr.f * 97 + g.i) % 256 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 4)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 159)) AS i) g
        |   WHERE fr.f < d.nf AND g.i < d.w * d.h)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_index, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, CAST(w * h * 3 AS BIGINT) AS n_px,
        |  CAST(3 * sum(v) AS BIGINT) AS px_sum,
        |  CAST(sum(v * (9 * i + 3)) AS BIGINT) AS px_wsum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, frame_index""".stripMargin,
    // MS joint-stereo twin: decoded channels L/R = (M±S)/√2 per line, so
    // per-granule per-channel energies ×4096 = Σ (m64±s64)²/2 with
    // m64 = vm·sm·2^(km+6) — every term a multiple of 8, the square of
    // the sum a multiple of 64, the half exact. Channel-minor granule
    // order (L, R per granule), nf·4 energies over 65 zero-filled windows.
    "q_mp3_ms_decode" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | lf AS (SELECT doc_id, nf, fr.f, gr.g, ln.l,
        |     (CASE WHEN ln.l < 24 THEN ln.l // 4 ELSE 6 + (ln.l - 24) // 6 END) AS band,
        |     (doc_id * 7 + fr.f * 11 + gr.g * 13 + ln.l * 3) % 2 AS vm,
        |     (doc_id * 7 + fr.f * 11 + gr.g * 13 + 17 + ln.l * 3) % 2 AS vs,
        |     CASE WHEN (doc_id + fr.f + gr.g + ln.l) % 2 = 1 THEN -1 ELSE 1 END AS sm,
        |     CASE WHEN (doc_id + fr.f + gr.g + 1 + ln.l) % 2 = 1 THEN -1 ELSE 1 END AS ss,
        |     (doc_id + fr.f + gr.g) % 4 AS am,
        |     (doc_id + fr.f + gr.g + 2) % 4 AS asd
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 1)) AS g) gr,
        |        (SELECT unnest(generate_series(0, 39)) AS l) ln
        |   WHERE fr.f < nf),
        | mv AS (SELECT doc_id, nf, f, g,
        |     vm * sm * (CAST(1 AS BIGINT) << CAST(am - ((doc_id + 3*f + 5*g + band) % 4) + 6 AS INT)) AS m64,
        |     vs * ss * (CAST(1 AS BIGINT) << CAST(asd - ((doc_id + 3*f + 5*g + 7 + band) % 4) + 6 AS INT)) AS s64
        |   FROM lf),
        | eg AS (SELECT doc_id, nf, f * 2 + g AS grn,
        |     CAST(sum((m64 + s64) * (m64 + s64)) // 2 AS BIGINT) AS el,
        |     CAST(sum((m64 - s64) * (m64 - s64)) // 2 AS BIGINT) AS er
        |   FROM mv GROUP BY 1, 2, 3),
        | en AS (SELECT doc_id, nf, grn * 2 AS gi, el AS e FROM eg
        |   UNION ALL SELECT doc_id, nf, grn * 2 + 1 AS gi, er AS e FROM eg),
        |${audioFpWallCtes(4)}
        |${audioFpSelect(48000, 2)}""".stripMargin,
    // Layer-III multi-table fixture: granule 0 spans lines 0–57 (bands
    // l//4 below 24, 6+(l−24)//6 to 42, then 9 and 10), granule 1 the
    // q_mp3_decode line range; same dyadic energy replay
    "q_mp3_tables" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | lf AS (SELECT doc_id, nf, fr.f, gr.g, ln.l,
        |     (doc_id + fr.f + gr.g) % 4 AS a,
        |     (doc_id + 3*fr.f + 5*gr.g +
        |       (CASE WHEN ln.l < 24 THEN ln.l // 4
        |             WHEN ln.l < 42 THEN 6 + (ln.l - 24) // 6
        |             WHEN ln.l < 50 THEN 9 ELSE 10 END)) % 4 AS sf,
        |     (doc_id * 7 + fr.f * 11 + gr.g * 13 + ln.l * 3) % 2 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 1)) AS g) gr,
        |        (SELECT unnest(generate_series(0, 57)) AS l) ln
        |   WHERE fr.f < nf AND ln.l < CASE WHEN gr.g = 0 THEN 58 ELSE 40 END),
        | en AS (SELECT doc_id, nf, f * 2 + g AS gi,
        |     CAST(sum(v * (CAST(1 AS BIGINT) << CAST(2 * (3 + a - sf) AS INT))) AS BIGINT) AS e
        |   FROM lf GROUP BY 1, 2, 3),
        |${audioFpWallCtes(2)}
        |${audioFpSelect(48000, 2)}""".stripMargin,
    // Layer-III intensity stereo: below line 24 both channels are plain
    // stereo; bands 6–8 (lines 24–39, the left channel's remaining data)
    // split by position p = 3·((id+f+g+band)%2): p = 0 → all right,
    // p = 3 → both at xr/2 (amplitude exponent −1); per-channel energies
    // ×4096 ride the q_mp3_ms_decode envelope shape
    // Layer-III SHORT-block intensity: left lines 0..35 are bands
    // l//12, windows (l%12)//4; band 0 is below every window's bound
    // (the right channel's all-ones band 0), bands 1-2 split by
    // is_pos ∈ {0 → all-right, 3 → halves}; per-channel energy ×4096
    "q_mp3_intensity_short" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | lf AS (SELECT doc_id, nf, fr.f, gr.g, ln.l,
        |     ln.l // 12 AS b, (ln.l % 12) // 4 AS w,
        |     (doc_id * 7 + fr.f * 11 + gr.g * 13 + ln.l * 3) % 2 AS vm,
        |     (doc_id + fr.f + gr.g) % 4 AS al,
        |     (doc_id + fr.f + gr.g + 2) % 4 AS ar
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 1)) AS g) gr,
        |        (SELECT unnest(generate_series(0, 35)) AS l) ln
        |   WHERE fr.f < nf),
        | mv AS (SELECT doc_id, nf, f, g, l, b, w, vm,
        |     CAST(2 * (al - ((doc_id + 3*f + 5*g + b + w) % 4)
        |       - 2 * ((doc_id + f + g + w) % 2)) + 12 AS INT) AS shl,
        |     CAST(2 * (ar - 3 * ((doc_id + f + g + w) % 2)
        |       - 2 * ((doc_id + f + g + 1 + w) % 2)) + 12 AS INT) AS shr,
        |     (doc_id + f + g + b + w) % 2 AS half
        |   FROM lf),
        | eg AS (SELECT doc_id, nf, f * 2 + g AS grn,
        |     CAST(sum(CASE WHEN l < 12 THEN vm * (CAST(1 AS BIGINT) << shl)
        |       WHEN half = 1 THEN vm * (CAST(1 AS BIGINT) << (shl - 2))
        |       ELSE 0 END) AS BIGINT) AS el,
        |     CAST(sum(CASE WHEN l < 12 THEN (CAST(1 AS BIGINT) << shr)
        |       WHEN half = 1 THEN vm * (CAST(1 AS BIGINT) << (shl - 2))
        |       ELSE vm * (CAST(1 AS BIGINT) << shl) END) AS BIGINT) AS er
        |   FROM mv GROUP BY 1, 2, 3),
        | en AS (SELECT doc_id, nf, grn * 2 AS gi, el AS e FROM eg
        |   UNION ALL SELECT doc_id, nf, grn * 2 + 1 AS gi, er AS e FROM eg),
        |${audioFpWallCtes(4)}
        |${audioFpSelect(48000, 2)}""".stripMargin,
    "q_mp3_intensity" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | lf AS (SELECT doc_id, nf, fr.f, gr.g, ln.l,
        |     (CASE WHEN ln.l < 24 THEN ln.l // 4 ELSE 6 + (ln.l - 24) // 6 END) AS band,
        |     (doc_id * 7 + fr.f * 11 + gr.g * 13 + ln.l * 3) % 2 AS vm,
        |     (doc_id * 7 + fr.f * 11 + gr.g * 13 + 17 + ln.l * 3) % 2 AS vs,
        |     (doc_id + fr.f + gr.g) % 4 AS am,
        |     (doc_id + fr.f + gr.g + 2) % 4 AS asd
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 1)) AS g) gr,
        |        (SELECT unnest(generate_series(0, 39)) AS l) ln
        |   WHERE fr.f < nf),
        | mv AS (SELECT doc_id, nf, f, g, l,
        |     vm, vs,
        |     CAST(am - ((doc_id + 3*f + 5*g + band) % 4) + 6 AS INT) AS exl,
        |     CAST(asd - ((doc_id + 3*f + 5*g + 7 + band) % 4) + 6 AS INT) AS exr,
        |     (doc_id + f + g + band) % 2 AS half
        |   FROM lf),
        | eg AS (SELECT doc_id, nf, f * 2 + g AS grn,
        |     CAST(sum(CASE
        |       WHEN l < 24 THEN vm * (CAST(1 AS BIGINT) << (2 * exl))
        |       WHEN half = 1 THEN vm * (CAST(1 AS BIGINT) << (2 * (exl - 1)))
        |       ELSE 0 END) AS BIGINT) AS el,
        |     CAST(sum(CASE
        |       WHEN l < 24 THEN vs * (CAST(1 AS BIGINT) << (2 * exr))
        |       WHEN half = 1 THEN vm * (CAST(1 AS BIGINT) << (2 * (exl - 1)))
        |       ELSE vm * (CAST(1 AS BIGINT) << (2 * exl)) END) AS BIGINT) AS er
        |   FROM mv GROUP BY 1, 2, 3),
        | en AS (SELECT doc_id, nf, grn * 2 AS gi, el AS e FROM eg
        |   UNION ALL SELECT doc_id, nf, grn * 2 + 1 AS gi, er AS e FROM eg),
        |${audioFpWallCtes(4)}
        |${audioFpSelect(48000, 2)}""".stripMargin,
    // Layer-III short blocks: granule 0 short (reordered position weight
    // r+1 with r = 12·(l div 12) + 3·(l mod 4) + (l mod 12) div 4 and
    // exponent 3 + a − 2·sbg(w) − sf(b,w)), granule 1 long (weight l+1,
    // exponent 3 + a − sf(band)); the weighted sums ride the same
    // 65-window envelope hash as q_mp3_decode
    "q_mp3_short" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf
        |   FROM documents WHERE doc_id < 100),
        | fr AS (SELECT unnest(generate_series(0, 7)) AS f),
        | ln AS (SELECT unnest(generate_series(0, 39)) AS l),
        | lf AS (
        |   SELECT doc_id, nf, fr.f, 0 AS g, ln.l,
        |     (doc_id * 7 + fr.f * 11 + ln.l * 3) % 2 AS v,
        |     12 * (ln.l // 12) + 3 * (ln.l % 4) + (ln.l % 12) // 4 + 1 AS wt,
        |     3 + (doc_id + fr.f) % 4
        |       - 2 * ((doc_id + fr.f + (ln.l % 12) // 4) % 2)
        |       - (doc_id + 3 * fr.f + ln.l // 12 + (ln.l % 12) // 4) % 2 AS ex
        |   FROM d, fr, ln WHERE fr.f < nf
        |   UNION ALL
        |   SELECT doc_id, nf, fr.f, 1 AS g, ln.l,
        |     (doc_id * 7 + fr.f * 11 + 13 + ln.l * 3) % 2 AS v,
        |     ln.l + 1 AS wt,
        |     3 + (doc_id + fr.f + 1) % 4
        |       - (doc_id + 3 * fr.f + 5 +
        |          (CASE WHEN ln.l < 24 THEN ln.l // 4
        |                ELSE 6 + (ln.l - 24) // 6 END)) % 4 AS ex
        |   FROM d, fr, ln WHERE fr.f < nf),
        | en AS (SELECT doc_id, nf, f * 2 + g AS gi,
        |     CAST(sum(v * wt * (CAST(1 AS BIGINT) << CAST(2 * ex AS INT))) AS BIGINT) AS e
        |   FROM lf GROUP BY 1, 2, 3),
        |${audioFpWallCtes(2)}
        |${audioFpSelect(48000, 2)}""".stripMargin,
    // EPUB: chapters in container order, each "Chapter k of id" +
    // newline + the entity-decoded body line
    "q_epub_extract" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS nc
        |   FROM documents WHERE doc_id < 100),
        | ch AS (SELECT d.doc_id, d.nc, k.k,
        |     'Chapter ' || k.k || ' of ' || d.doc_id || chr(10) ||
        |     'Body text ' || ((d.doc_id * 7 + k.k * 3) % 53) || ' & more.' AS t
        |   FROM d, (SELECT unnest(generate_series(0, 2)) AS k) k
        |   WHERE k.k < d.nc)
        |SELECT doc_id, CAST(nc AS BIGINT) AS n_chapters,
        |  string_agg(t, chr(10) ORDER BY k) AS text
        |FROM ch GROUP BY doc_id, nc ORDER BY doc_id""".stripMargin,
    // Crawl-ingested text/plain: line 1 kept by word count, line 2
    // dropped, line 3 kept by terminal punctuation
    "q_crawl_text" ->
      """WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100)
        |SELECT CAST(concat('0x', substr(md5('http://example.com/txt/' || id), 1, 15)) AS BIGINT) AS doc_id,
        |  'http://example.com/txt/' || id AS url_canon,
        |  'example.com' AS url_domain, '' AS title,
        |  CAST(0 AS BIGINT) AS n_links,
        |  'plain text document ' || id || ' carries five or more words'
        |    || chr(10) || 'End!' AS text
        |FROM d ORDER BY url_canon""".stripMargin,
    // WET conversion records: the warcinfo record and the planted
    // id%7==0 duplicate must both vanish, the uppercase-host +
    // utm-param URL canonicalizes, the é pins UTF-8 decode, "menu"
    // drops at the boilerplate filter
    "q_crawl_wet" ->
      """WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100)
        |SELECT CAST(concat('0x', substr(md5('http://example.com/wet/' || id), 1, 15)) AS BIGINT) AS doc_id,
        |  'http://example.com/wet/' || id AS url_canon,
        |  'example.com' AS url_domain, '' AS title,
        |  CAST(0 AS BIGINT) AS n_links,
        |  'WET extract for doc ' || id || ' é!' || chr(10) ||
        |    'Crawl text ' || (id * 29) % 83 || ' keeps flowing words here.' AS text
        |FROM d ORDER BY url_canon""".stripMargin,
    // Mojibake repair: every stratum (garbled once / twice / clean)
    // must come back as the SAME clean closed form; was_fixed marks
    // the two garbled strata
    "q_mojibake" ->
      """SELECT doc_id,
        |  'Café cost €' || (doc_id % 50) || ' – ‘fine’ résumé… doc '
        |    || doc_id || '!' AS text,
        |  doc_id % 3 < 2 AS was_fixed
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin,
    // Crawl-ingested EPUB: chapter headings ("Chapter k of id", 4
    // words, unpunctuated) drop at the boilerplate filter; the body
    // sentences survive
    "q_crawl_epub" ->
      """WITH d AS (SELECT doc_id AS id, 1 + doc_id % 3 AS nc
        |   FROM documents WHERE doc_id < 100),
        | ch AS (SELECT id, nc, k.k,
        |     'Body text ' || ((id * 7 + k.k * 3) % 53) || ' & more.' AS t
        |   FROM d, (SELECT unnest(generate_series(0, 2)) AS k) k
        |   WHERE k.k < nc),
        | tx AS (SELECT id, string_agg(t, chr(10) ORDER BY k) AS text
        |   FROM ch GROUP BY id)
        |SELECT CAST(concat('0x', substr(md5('http://example.com/epub/' || id), 1, 15)) AS BIGINT) AS doc_id,
        |  'http://example.com/epub/' || id AS url_canon,
        |  'example.com' AS url_domain, '' AS title,
        |  CAST(0 AS BIGINT) AS n_links, text
        |FROM tx ORDER BY url_canon""".stripMargin,
    // Crawl-ingested charset strata: header param / meta-sniff / UTF-8
    // default all decode the é identically — the SQL predicts the SAME
    // text for every stratum, which is exactly the claim under test
    "q_crawl_charset" ->
      """WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100)
        |SELECT CAST(concat('0x', substr(md5('http://example.com/cs/' || id), 1, 15)) AS BIGINT) AS doc_id,
        |  'http://example.com/cs/' || id AS url_canon,
        |  'example.com' AS url_domain, 'Café ' || id AS title,
        |  CAST(0 AS BIGINT) AS n_links,
        |  'Café document ' || id || ' carries six words or more today!' AS text
        |FROM d ORDER BY url_canon""".stripMargin,
    // Crawl-ingested DOCX: paragraph 0 ("Head {id} tail <x>", 4 words,
    // no terminal punctuation) is boilerplate-dropped; paragraphs ≥ 1
    // survive the line filter
    "q_crawl_docx" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 3 AS np
        |   FROM documents WHERE doc_id < 100),
        | pg AS (SELECT id, np, p.p,
        |     'Paragraph ' || p.p || ' of doc ' || id || ' & w'
        |       || ((id * 17 + p.p * 5) % 61) AS t
        |   FROM d, (SELECT unnest(generate_series(1, 4)) AS p) p
        |   WHERE p.p < np),
        | tx AS (SELECT id, string_agg(t, chr(10) ORDER BY p) AS text
        |   FROM pg GROUP BY id)
        |SELECT CAST(concat('0x', substr(md5('http://example.com/docx/' || id), 1, 15)) AS BIGINT) AS doc_id,
        |  'http://example.com/docx/' || id AS url_canon,
        |  'example.com' AS url_domain, '' AS title,
        |  CAST(0 AS BIGINT) AS n_links, text
        |FROM tx ORDER BY url_canon""".stripMargin,
    // DOCX: paragraph 0 joins two runs across a tab, later paragraphs
    // carry decoded entities; lines join with a newline
    "q_docx_extract" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS np
        |   FROM documents WHERE doc_id < 100),
        | pg AS (SELECT d.doc_id, d.np, p.p,
        |     CASE WHEN p.p = 0 THEN 'Head ' || d.doc_id || ' tail <x>'
        |       ELSE 'Paragraph ' || p.p || ' of doc ' || d.doc_id || ' & w'
        |         || ((d.doc_id * 17 + p.p * 5) % 61) END AS t
        |   FROM d, (SELECT unnest(generate_series(0, 4)) AS p) p
        |   WHERE p.p < d.np)
        |SELECT doc_id, CAST(np AS BIGINT) AS n_paragraphs,
        |  string_agg(t, chr(10) ORDER BY p) AS text
        |FROM pg GROUP BY doc_id, np ORDER BY doc_id""".stripMargin,
    // Crawl-ingested PDFs: urls are already canonical, titles/links are
    // HTML concepts (empty/zero), and the boilerplate filter keeps each
    // simple page's 6-word first line plus the CID page's !-terminated
    // ToUnicode line (r16)
    "q_crawl_pdf" ->
      """WITH d AS (SELECT doc_id AS id, 1 + doc_id % 3 AS np
        |   FROM documents WHERE doc_id < 100),
        | pg AS (SELECT id, np, p.p,
        |     'Doc ' || id || ' page ' || p.p || ' (ok) A' AS t
        |   FROM d, (SELECT unnest(generate_series(0, 2)) AS p) p
        |   WHERE p.p < np),
        | tx AS (SELECT id, string_agg(t, chr(10) ORDER BY p)
        |     || chr(10) || 'Cid ' || id || ' zy!'
        |     || chr(10) || 'Diff éłł word gap here real ' || id || 'é!'
        |     || chr(10) || 'cid ' || CASE WHEN id % 2 = 1 THEN '🌍 ' ELSE '' END
        |     || 'go ' || id || '!' AS text
        |   FROM pg GROUP BY id)
        |SELECT CAST(concat('0x', substr(md5('http://example.com/pdf/' || id), 1, 15)) AS BIGINT) AS doc_id,
        |  'http://example.com/pdf/' || id AS url_canon,
        |  'example.com' AS url_domain, '' AS title,
        |  CAST(0 AS BIGINT) AS n_links, text
        |FROM tx ORDER BY url_canon""".stripMargin,
    // PDF extraction: page text has the closed form the generator draws —
    // the −250 TJ kern is the word gap, +20 is not, octal \101 = 'A',
    // hex <206878> = ' hx'; pages join with a newline. The final page is
    // the r16 CID-keyed one: 2-byte codes through the /ToUnicode CMap
    // (multi-unit bfchar 'Cid', incrementing bfranges for digits and
    // letters) — its exact text proves the CMap route
    "q_pdf_extract" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS np
        |   FROM documents WHERE doc_id < 100),
        | pg AS (SELECT d.doc_id, d.np, p.p,
        |     'Doc ' || d.doc_id || ' page ' || p.p || ' (ok) A' || chr(10) ||
        |     'w' || ((d.doc_id * 31 + p.p * 7) % 97) ||
        |     ' w' || ((d.doc_id * 13 + p.p * 11) % 89) || '! hx' AS t
        |   FROM d, (SELECT unnest(generate_series(0, 2)) AS p) p
        |   WHERE p.p < d.np)
        |SELECT doc_id, CAST(np + 3 AS BIGINT) AS n_pages,
        |  string_agg(t, chr(10) ORDER BY p)
        |    || chr(10) || 'Cid ' || doc_id || ' zy!'
        |    || chr(10) || 'Diff éłł word gap here real ' || doc_id || 'é!'
        |    || chr(10) || 'cid ' || CASE WHEN doc_id % 2 = 1 THEN '🌍 ' ELSE '' END
        |    || 'go ' || doc_id || '!' AS text
        |FROM pg GROUP BY doc_id, np ORDER BY doc_id""".stripMargin,
    // MPEG-1 I-frames: RGB = (v, v, v) per pixel with the flat-block value
    // v = 20 + (id·31 + f·97 + (m·4 + b)·7) % 200, m = x div 16 (single MB
    // row), quadrant b = (y div 8)·2 + (x mod 16) div 8 — the same
    // Σ v·(9i+3) wsum identity as q_gif_frames
    "q_mpeg1_iframe" ->
      """WITH d AS (SELECT doc_id, 16 * (1 + doc_id % 2) AS w, 16 AS h,
        |    2 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | px AS (SELECT d.doc_id, d.w, d.h, fr.f, g.i,
        |     20 + (d.doc_id * 31 + fr.f * 97 +
        |       (((g.i % d.w) // 16) * 4 + ((g.i // d.w) // 8) * 2
        |         + ((g.i % d.w) % 16) // 8) * 7) % 200 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 4)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 511)) AS i) g
        |   WHERE fr.f < d.nf AND g.i < d.w * d.h)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_index, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, CAST(w * h * 3 AS BIGINT) AS n_px,
        |  CAST(3 * sum(v) AS BIGINT) AS px_sum,
        |  CAST(sum(v * (9 * i + 3)) AS BIGINT) AS px_wsum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, frame_index""".stripMargin,
    // MPEG-1 P-pictures: the fixture's three-macroblock evolution has a
    // CLOSED FORM (see synthMpeg1P) — m0 re-intra'd each frame, m1
    // accumulating the odd-frame error Δ(k) on its Y₀ quadrant (and
    // skipped on even frames), m2 a −8 px motion chain whose two-frame
    // unrolling lands on v0(x−8) / v0(x−16) (+Δ(2) where the even-frame
    // coded error applies)
    "q_mpeg1_pframe" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf
        |   FROM documents WHERE doc_id < 100),
        | base AS (
        |   SELECT d.doc_id, fr.f, g.i % 48 AS x, g.i // 48 AS y
        |   FROM d,
        |        (SELECT unnest(generate_series(0, 3)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 767)) AS i) g
        |   WHERE fr.f < d.nf),
        | px AS (
        |   SELECT doc_id, f, x, y,
        |     CASE
        |       WHEN x < 16 THEN 20 + (doc_id * 31 + f * 97
        |         + ((y // 8) * 2 + (x % 16) // 8) * 7) % 200
        |       WHEN x < 32 THEN
        |         20 + (doc_id * 31 + ((x // 16) * 4 + (y // 8) * 2
        |           + ((x % 16) // 8)) * 7) % 200
        |         + CASE WHEN x < 24 AND y < 8 THEN
        |             (CASE WHEN f >= 1 THEN 2 * ((1 + doc_id) % 5 + 1) + 1 ELSE 0 END)
        |           + (CASE WHEN f >= 3 THEN 2 * ((3 + doc_id) % 5 + 1) + 1 ELSE 0 END)
        |           ELSE 0 END
        |       ELSE
        |         CASE f
        |           WHEN 0 THEN 20 + (doc_id * 31 + ((x // 16) * 4 + (y // 8) * 2
        |             + ((x % 16) // 8)) * 7) % 200
        |           WHEN 1 THEN 20 + (doc_id * 31 + (((x - 8) // 16) * 4 + (y // 8) * 2
        |             + (((x - 8) % 16) // 8)) * 7) % 200
        |           WHEN 2 THEN (CASE WHEN x < 40
        |               THEN 20 + (doc_id * 31 + (((x - 8) // 16) * 4 + (y // 8) * 2
        |                 + (((x - 8) % 16) // 8)) * 7) % 200
        |               ELSE 20 + (doc_id * 31 + (((x - 16) // 16) * 4 + (y // 8) * 2
        |                 + (((x - 16) % 16) // 8)) * 7) % 200 END)
        |             + CASE WHEN x < 40 AND y < 8
        |                 THEN 2 * ((2 + doc_id) % 5 + 1) + 1 ELSE 0 END
        |           ELSE (CASE WHEN x < 40
        |               THEN 20 + (doc_id * 31 + (((x - 8) // 16) * 4 + (y // 8) * 2
        |                 + (((x - 8) % 16) // 8)) * 7) % 200
        |               ELSE 20 + (doc_id * 31 + (((x - 16) // 16) * 4 + (y // 8) * 2
        |                 + (((x - 16) % 16) // 8)) * 7) % 200
        |                 + CASE WHEN y < 8 THEN 2 * ((2 + doc_id) % 5 + 1) + 1
        |                   ELSE 0 END END)
        |         END
        |     END AS v
        |   FROM base)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_index,
        |  CAST(48 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(48 * 16 * 3 AS BIGINT) AS n_px,
        |  CAST(3 * sum(v) AS BIGINT) AS px_sum,
        |  CAST(sum(v * (9 * (y * 48 + x) + 3)) AS BIGINT) AS px_wsum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, f
        |ORDER BY doc_id, frame_index""".stripMargin,
    // MPEG-1 B-pictures in PRESENTATION order: frame 1 is the B between
    // I (frame 0) and P (frame 2) — forward v0(x+8), backward v0(x), and
    // the interpolated (v0(x−8)+v0(x−16)+1)//2; frames 3/4 (odd ids)
    // replay the second group with the skipped-B m1 and the intra-refresh
    // chains i2/i4; px_wsum pins the reordering (frame_index ↔ content)
    "q_mpeg1_bframe" ->
      """WITH d AS (SELECT doc_id, 3 + 2 * (doc_id % 2) AS nf
        |   FROM documents WHERE doc_id < 100),
        | base AS (
        |   SELECT d.doc_id, fr.f, g.i % 48 AS x, g.i // 48 AS y
        |   FROM d,
        |        (SELECT unnest(generate_series(0, 4)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 767)) AS i) g
        |   WHERE fr.f < d.nf),
        | px AS (
        |   SELECT doc_id, f, x, y,
        |     CASE f
        |       WHEN 0 THEN 20 + (doc_id * 31 + ((x // 16) * 4 + (y // 8) * 2
        |         + ((x % 16) // 8)) * 7) % 200
        |       WHEN 1 THEN CASE
        |         WHEN x < 16 THEN 20 + (doc_id * 31 + (((x + 8) // 16) * 4
        |           + (y // 8) * 2 + (((x + 8) % 16) // 8)) * 7) % 200
        |         WHEN x < 32 THEN 20 + (doc_id * 31 + ((x // 16) * 4
        |           + (y // 8) * 2 + ((x % 16) // 8)) * 7) % 200
        |         ELSE ((20 + (doc_id * 31 + (((x - 8) // 16) * 4 + (y // 8) * 2
        |             + (((x - 8) % 16) // 8)) * 7) % 200)
        |           + (20 + (doc_id * 31 + (((x - 16) // 16) * 4 + (y // 8) * 2
        |             + (((x - 16) % 16) // 8)) * 7) % 200) + 1) // 2 END
        |       WHEN 2 THEN CASE
        |         WHEN x < 16 THEN 20 + (doc_id * 31 + 2 * 97 + ((y // 8) * 2
        |           + ((x % 16) // 8)) * 7) % 200
        |         ELSE 20 + (doc_id * 31 + (((x - 8) // 16) * 4 + (y // 8) * 2
        |           + (((x - 8) % 16) // 8)) * 7) % 200 END
        |       WHEN 3 THEN CASE
        |         WHEN x < 8 THEN 20 + (doc_id * 31 + 2 * 97 + ((y // 8) * 2
        |           + (((x + 8) % 16) // 8)) * 7) % 200
        |         WHEN x < 32 THEN 20 + (doc_id * 31 + ((x // 16) * 4
        |           + (y // 8) * 2 + ((x % 16) // 8)) * 7) % 200
        |         ELSE ((20 + (doc_id * 31 + (((x - 16) // 16) * 4 + (y // 8) * 2
        |             + (((x - 16) % 16) // 8)) * 7) % 200)
        |           + (20 + (doc_id * 31 + (((x - 24) // 16) * 4 + (y // 8) * 2
        |             + (((x - 24) % 16) // 8)) * 7) % 200) + 1) // 2 END
        |       ELSE CASE
        |         WHEN x < 16 THEN 20 + (doc_id * 31 + 4 * 97 + ((y // 8) * 2
        |           + ((x % 16) // 8)) * 7) % 200
        |         WHEN x < 24 THEN 20 + (doc_id * 31 + 2 * 97 + ((y // 8) * 2
        |           + (((x - 8) % 16) // 8)) * 7) % 200
        |         ELSE 20 + (doc_id * 31 + (((x - 16) // 16) * 4 + (y // 8) * 2
        |           + (((x - 16) % 16) // 8)) * 7) % 200 END
        |     END AS v
        |   FROM base)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_index,
        |  CAST(48 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(48 * 16 * 3 AS BIGINT) AS n_px,
        |  CAST(3 * sum(v) AS BIGINT) AS px_sum,
        |  CAST(sum(v * (9 * (y * 48 + x) + 3)) AS BIGINT) AS px_wsum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, f
        |ORDER BY doc_id, frame_index""".stripMargin,
    // MJPEG frames add frame·97 to the block level; px_wsum = Σ v·i is
    // order-sensitive, pinning frame order and block placement
    "q_mjpeg_frames" ->
      """WITH d AS (SELECT doc_id,
        |    8 * (2 + doc_id % 3) - CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 0 END AS w,
        |    8 * (1 + doc_id % 2) - CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END AS h,
        |    2 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | px AS (SELECT d.doc_id, d.w, d.h, fr.f, g.i,
        |     (d.doc_id * 31 + fr.f * 97 + (((g.i // d.w) // 8) * ((d.w + 7) // 8)
        |        + (g.i % d.w) // 8) * 29) % 256 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 4)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 511)) AS i) g
        |   WHERE fr.f < d.nf AND g.i < d.w * d.h)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_index, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_px,
        |  CAST(sum(v) AS BIGINT) AS px_sum,
        |  CAST(sum(v * i) AS BIGINT) AS px_wsum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, frame_index""".stripMargin,
    // Layer-II twin: slice energies ×50176 are exact integers
    // 1024·((2c0−6)²·sf0² + (2c1−6)²), sf0² by frame third (scfsi=0 side)
    "q_mp2_decode" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | g AS (SELECT doc_id, nf, fr.f, gr.gr, sl.s,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3 + sl.s) % 7 AS c0,
        |     (doc_id * 5 + fr.f * 7 + gr.gr * 3 + sl.s + 1) % 7 AS c1,
        |     CASE gr.gr // 4 WHEN 0 THEN 4096 WHEN 1 THEN 1024 ELSE 256 END AS m0
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 11)) AS gr) gr,
        |        (SELECT unnest(generate_series(0, 2)) AS s) sl
        |   WHERE fr.f < nf),
        | en AS (SELECT doc_id, nf, f * 36 + gr * 3 + s AS gi,
        |     (2*c0 - 6) * (2*c0 - 6) * m0 + (2*c1 - 6) * (2*c1 - 6) * 1024 AS e FROM g),
        |${audioFpCtes(36)}
        |${audioFpSelect(32000, 36)}""".stripMargin,
    // Layer-III twin: per-granule spectral energies ×64 are exact integers
    // Σ_l mag(l)·4^(3 + a − sf[band(l)]) with a = (id+f+g)%4 and
    // sf[b] = (id+3f+5g+b)%4 over lines 0–39 (bands: l/4 below 24, then
    // width-6 bands 6–8). Only ~2·nf of the 65 envelope windows are
    // populated, so windows are generated EXHAUSTIVELY with zero fill
    // before the adjacent-compare (unlike the Layer-II twin where every
    // window has members).
    "q_mp3_decode" ->
      s"""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf FROM documents WHERE doc_id < 100),
        | lf AS (SELECT doc_id, nf, fr.f, gr.g, ln.l,
        |     (doc_id + fr.f + gr.g) % 4 AS a,
        |     (doc_id + 3*fr.f + 5*gr.g +
        |       (CASE WHEN ln.l < 24 THEN ln.l // 4 ELSE 6 + (ln.l - 24) // 6 END)) % 4 AS sf,
        |     (doc_id * 7 + fr.f * 11 + gr.g * 13 + ln.l * 3) % 2 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 7)) AS f) fr,
        |        (SELECT unnest(generate_series(0, 1)) AS g) gr,
        |        (SELECT unnest(generate_series(0, 39)) AS l) ln
        |   WHERE fr.f < nf),
        | en AS (SELECT doc_id, nf, f * 2 + g AS gi,
        |     CAST(sum(v * (CAST(1 AS BIGINT) << CAST(2 * (3 + a - sf) AS INT))) AS BIGINT) AS e
        |   FROM lf GROUP BY 1, 2, 3),
        |${audioFpWallCtes(2)}
        |${audioFpSelect(48000, 2)}""".stripMargin,
    "q_png_decode" ->
      """WITH d AS (SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS width,
        |    CAST(3 + doc_id % 7 AS BIGINT) AS height
        |  FROM documents WHERE doc_id < 100),
        | px AS (SELECT d.doc_id, d.width, d.height, (d.doc_id * 31 + g.i) % 256 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 143)) AS i) g
        |   WHERE g.i < d.width * d.height)
        |SELECT doc_id, width, height, CAST(1 AS BIGINT) AS channels,
        |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS px_sum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin,
    "q_gif_decode" ->
      """WITH d AS (SELECT doc_id, CAST(8 + 2 * (doc_id % 8) AS BIGINT) AS width,
        |    CAST(8 + 2 * (doc_id % 4) AS BIGINT) AS height
        |  FROM documents WHERE doc_id < 100),
        | px AS (SELECT d.doc_id, d.width, d.height, (d.doc_id * 31 + g.i) % 256 AS v
        |   FROM d, (SELECT unnest(generate_series(0, 307)) AS i) g
        |   WHERE g.i < d.width * d.height)
        |SELECT doc_id, width, height, CAST(3 AS BIGINT) AS channels,
        |  CAST(count(*) AS BIGINT) AS n_px, CAST(3 * sum(v) AS BIGINT) AS px_sum,
        |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
        |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin,
    "q_mp3_meta" ->
      """SELECT doc_id, 'mp3' AS format, CAST(1 + doc_id % 9 AS BIGINT) AS n_frames,
        |  CAST(44100 AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS BIGINT) AS channels
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q_mp4_meta" ->
      """SELECT doc_id, 'mp4' AS format,
        |  CAST(160 + 16 * (doc_id % 20) AS BIGINT) AS width,
        |  CAST(90 + 9 * (doc_id % 15) AS BIGINT) AS height,
        |  CAST(1000 * (1 + doc_id % 5) AS BIGINT) AS timescale,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q_events_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 4) AS sum_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT * FROM events WHERE user_id < 50),
        | g AS (SELECT user_id, ts, event_id,
        |   CASE WHEN lag(ts) OVER w IS NULL OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | s AS (SELECT user_id, ts, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_index FROM g)
        |SELECT user_id, CAST(session_index AS BIGINT) AS session_index, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s, CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
        |FROM s GROUP BY user_id, session_index ORDER BY user_id, session_index""".stripMargin,
    "q_jsonl_roundtrip" ->
      "SELECT doc_id, lang, md5(text) AS text_md5 FROM documents ORDER BY doc_id",
    "q_events_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS sum_disc_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_skew_join" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    "q_join_agg" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($sqlWords) AS term FROM documents),
         | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, term),
         | dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         | n AS (SELECT count(*) AS n_docs FROM documents),
         | s AS (SELECT doc_id, term, tf, round(tf * ln((n_docs + 1) / (df + 1.0)), 6) AS score
         |   FROM tf JOIN dfc USING (term), n),
         | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, score
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, score FROM bs ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // the indexed path is score-identical to q_bm25 (same formula, same
    // round-then-sum discipline; build-time df = query-time df over the
    // same corpus) — the gate's evidence is that the pruned-index plan
    // reproduces the full-scan scores bit-for-bit
    "q_bm25_indexed" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, score FROM bs ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q_hybrid_rrf" ->
      s"""WITH $hashCosCtes,
         | $bm25CtesBody,
         | vtop AS (SELECT doc_id, vec_rank FROM (SELECT doc_id,
         |     row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank FROM cosd) WHERE vec_rank <= 20),
         | btop AS (SELECT doc_id, bm25_rank FROM (SELECT doc_id,
         |     row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank FROM bs) WHERE bm25_rank <= 20),
         | f AS (SELECT doc_id, vec_rank, bm25_rank FROM vtop FULL JOIN btop USING (doc_id))
         |SELECT doc_id, CAST(coalesce(vec_rank, 0) AS BIGINT) AS vec_rank,
         |  CAST(coalesce(bm25_rank, 0) AS BIGINT) AS bm25_rank,
         |  round(coalesce(1.0 / (vec_rank + 60), 0) + coalesce(1.0 / (bm25_rank + 60), 0), 6) AS rrf_score
         |FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,
    "q_mmr" -> mmrSql,
    "q_perplexity" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |${bigramLmCtes}
         | agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(m) AS s FROM sc GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  coalesce(round(s / (n_bigrams * 1000000.0), 6), 0.0) AS avg_neg_logp
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // KN trigram replay: same count derivations (c3 type table -> ctx /
    // low / ctx2 / cont / totals), same double-expression shapes, same
    // micro-nat rounding; self-trained so no fallback branch fires, but
    // the CASEs mirror the Spark plan regardless
    "q_perplexity_kn" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |${trigramCte("inst", "t")}
         |${knTrigramCtes("t", "inst", pruned = false)}
         |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_trigrams,
         |  coalesce(round(s / (n * 1000000.0), 6), 0.0) AS avg_neg_logp
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // order-4 KN twin: the c4 -> low3 -> low2 continuation chain and
    // the four-level interpolation ladder replayed verbatim
    "q_perplexity_kn4" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         | inst AS (SELECT doc_id,
         |     unnest(list_transform(range(1, len(w) - 2), i -> w[i])) AS w1,
         |     unnest(list_transform(range(1, len(w) - 2), i -> w[i+1])) AS w2,
         |     unnest(list_transform(range(1, len(w) - 2), i -> w[i+2])) AS w3,
         |     unnest(list_transform(range(1, len(w) - 2), i -> w[i+3])) AS w4
         |   FROM t WHERE len(w) >= 4),
         | c4 AS (SELECT w1, w2, w3, w4, count(*) AS tc FROM inst GROUP BY 1, 2, 3, 4),
         | ctx AS (SELECT w1, w2, w3, sum(tc) AS c3sum, count(*) AS mid3 FROM c4 GROUP BY 1, 2, 3),
         | low3 AS (SELECT w2, w3, w4, count(*) AS lowc3 FROM c4 GROUP BY 1, 2, 3),
         | ctx3 AS (SELECT w2, w3, sum(lowc3) AS ctot3, count(*) AS ctyp3 FROM low3 GROUP BY 1, 2),
         | low2 AS (SELECT w3, w4, count(*) AS lowc2 FROM low3 GROUP BY 1, 2),
         | ctx2 AS (SELECT w3, sum(lowc2) AS ctot2, count(*) AS ctyp2 FROM low2 GROUP BY 1),
         | cont AS (SELECT w4, count(*) AS cw4 FROM low2 GROUP BY 1),
         | tot AS (SELECT (SELECT count(*) FROM low2) AS n3types,
         |     (SELECT count(DISTINCT u) FROM (SELECT unnest(w) AS u FROM t)) AS v),
         | dt AS (SELECT doc_id, w1, w2, w3, w4, count(*) AS k FROM inst GROUP BY 1, 2, 3, 4, 5),
         | sc AS (SELECT dt.doc_id, dt.k,
         |     CAST(round(-ln(
         |       CASE WHEN coalesce(c3sum, 0) > 0 THEN (greatest(coalesce(tc, 0) - 0.75, 0.0) + 0.75 * coalesce(mid3, 0) * (CASE WHEN coalesce(ctot3, 0) > 0 THEN (greatest(coalesce(lowc3, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp3, 0) * (CASE WHEN coalesce(ctot2, 0) > 0 THEN (greatest(coalesce(lowc2, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp2, 0) * ((coalesce(cw4, 0) + 1.0) / (n3types + v))) / ctot2 ELSE ((coalesce(cw4, 0) + 1.0) / (n3types + v)) END)) / ctot3 ELSE (CASE WHEN coalesce(ctot2, 0) > 0 THEN (greatest(coalesce(lowc2, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp2, 0) * ((coalesce(cw4, 0) + 1.0) / (n3types + v))) / ctot2 ELSE ((coalesce(cw4, 0) + 1.0) / (n3types + v)) END) END)) / c3sum ELSE (CASE WHEN coalesce(ctot3, 0) > 0 THEN (greatest(coalesce(lowc3, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp3, 0) * (CASE WHEN coalesce(ctot2, 0) > 0 THEN (greatest(coalesce(lowc2, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp2, 0) * ((coalesce(cw4, 0) + 1.0) / (n3types + v))) / ctot2 ELSE ((coalesce(cw4, 0) + 1.0) / (n3types + v)) END)) / ctot3 ELSE (CASE WHEN coalesce(ctot2, 0) > 0 THEN (greatest(coalesce(lowc2, 0) - 0.75, 0.0) + 0.75 * coalesce(ctyp2, 0) * ((coalesce(cw4, 0) + 1.0) / (n3types + v))) / ctot2 ELSE ((coalesce(cw4, 0) + 1.0) / (n3types + v)) END) END) END) * 1000000) AS BIGINT) AS m
         |   FROM dt LEFT JOIN c4 USING (w1, w2, w3, w4) LEFT JOIN ctx USING (w1, w2, w3)
         |     LEFT JOIN low3 USING (w2, w3, w4) LEFT JOIN ctx3 USING (w2, w3)
         |     LEFT JOIN low2 USING (w3, w4) LEFT JOIN ctx2 USING (w3)
         |     LEFT JOIN cont USING (w4), tot),
         | agg AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n, CAST(sum(k * m) AS BIGINT) AS s FROM sc GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_fourgrams,
         |  coalesce(round(s / (n * 1000000.0), 6), 0.0) AS avg_neg_logp
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // order-5 KN (the KenLM/CCNet deployment order): the oracle SQL is
    // GENERATED from the same recursion the engine folds over — the
    // c5 -> low4 -> low3 -> low2 chain and the five-level CASE ladder
    // come out of knOracleSql(5), not a hand-copied string
    "q_perplexity_kn5" -> knOracleSql(5),
    // order-5 + pruned + foreign — the CCNet deployment combo, generated
    "q_perplexity_kn5_pruned_xc" -> knOracleSql(5, foreign = true, minCount = 2),
    // cross-corpus KN: counts from the %3=0 train slice, positions from
    // the score slice — unseen trigrams/contexts walk the same CASE
    // ladder, a fully-unseen word bottoms out at the +1/V floor
    "q_perplexity_kn_xc" ->
      s"""WITH ttr AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE doc_id % 3 = 0),
         | tsc AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE doc_id % 3 <> 0),
         |${trigramCte("inst", "ttr")}
         |${trigramCte("sinst", "tsc")}
         |${knTrigramCtes("ttr", "sinst", pruned = false)}
         |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_trigrams,
         |  coalesce(round(s / (n * 1000000.0), 6), 0.0) AS avg_neg_logp
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) d
         |LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // pruned-KN twin: identical CASE ladder, but the trigram-level
    // discounted count zeroes out below minCount = 2 (singleton types
    // score through the interpolation weight alone)
    "q_perplexity_kn_pruned" ->
      s"""WITH ttr AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE doc_id % 3 = 0),
         | tsc AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE doc_id % 3 <> 0),
         |${trigramCte("inst", "ttr")}
         |${trigramCte("sinst", "tsc")}
         |${knTrigramCtes("ttr", "sinst", pruned = true)}
         |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_trigrams,
         |  coalesce(round(s / (n * 1000000.0), 6), 0.0) AS avg_neg_logp
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) d
         |LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // CCNet bucketing over the KN trigram scores: the q_perplexity_kn
    // CTEs + the q_ccnet_bucket histogram/threshold tail
    "q_ccnet_bucket_kn" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |${trigramCte("inst", "t")}
         |${knTrigramCtes("t", "inst", pruned = false)},
         |${ccnetBucketTail}""".stripMargin,
    // CCNet bucketing: the q_perplexity integer pipeline, then MIL-nat
    // floor, per-lang histogram cumsum, t_k = min score with cum·3 ≥ k·n,
    // bucket = #{k : score > t_k}; no-bigram docs land in tail (bucket 2)
    "q_ccnet_bucket" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |${bigramLmCtes}
         | agg AS (SELECT doc_id, count(*) AS n, CAST(sum(m) AS BIGINT) AS s FROM sc GROUP BY doc_id),
         |${ccnetBucketTail}""".stripMargin,
    // DSIR: full replay — hashed unigram+bigram features, add-one-smoothed
    // bucket models for target (src5) and raw, per-bucket micro-nat
    // log-ratios rounded once, per-doc exact integer sums
    "q_dsir" ->
      s"""WITH t AS (SELECT doc_id, source, $sqlWords AS w FROM documents),
         | uni AS (SELECT doc_id, source, unnest(w) AS f FROM t),
         | big AS (SELECT doc_id, source,
         |     unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS f
         |   FROM t WHERE len(w) >= 2),
         | feats AS (SELECT doc_id, source, ${sqlHex32("f")} % 1024 AS bucket
         |   FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
         | db AS (SELECT doc_id, bucket, count(*) AS n FROM feats GROUP BY doc_id, bucket),
         | rc AS (SELECT bucket, sum(n) AS rc FROM db GROUP BY bucket),
         | tcn AS (SELECT bucket, count(*) AS tc FROM feats WHERE source = 'src5' GROUP BY bucket),
         | rt AS (SELECT coalesce(sum(rc), 0) AS rt FROM rc),
         | tt AS (SELECT coalesce(sum(tc), 0) AS tt FROM tcn),
         | lam AS (SELECT rc.bucket,
         |     CAST(round((ln((coalesce(tcn.tc, 0) + 1.0) / (tt.tt + 1024)) -
         |                 ln((rc.rc + 1.0) / (rt.rt + 1024))) * 1000000) AS BIGINT) AS lam
         |   FROM rc LEFT JOIN tcn ON rc.bucket = tcn.bucket, rt, tt),
         | agg AS (SELECT db.doc_id, sum(db.n) AS n_feats, sum(db.n * lam.lam) AS s
         |   FROM db JOIN lam ON db.bucket = lam.bucket GROUP BY db.doc_id)
         |SELECT d.doc_id, CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
         |  coalesce(round(s / 1000000.0, 6), 0.0) AS log_ratio
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_distribution_drift" ->
      s"""WITH ta AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE source <> 'src5'),
         | tb AS (SELECT doc_id, $sqlWords AS w FROM documents WHERE source = 'src5'),
         | fa AS (SELECT ${sqlHex32("f")} % 1024 AS bucket FROM (
         |   SELECT unnest(w) AS f FROM ta
         |   UNION ALL
         |   SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS f
         |   FROM ta WHERE len(w) >= 2)),
         | fb AS (SELECT ${sqlHex32("f")} % 1024 AS bucket FROM (
         |   SELECT unnest(w) AS f FROM tb
         |   UNION ALL
         |   SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS f
         |   FROM tb WHERE len(w) >= 2)),
         | ca AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ca FROM fa GROUP BY bucket),
         | cbn AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cb FROM fb GROUP BY bucket),
         | j AS (SELECT coalesce(ca.ca, 0) AS ca, coalesce(cbn.cb, 0) AS cb
         |   FROM ca FULL OUTER JOIN cbn USING (bucket)),
         | tt AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM j),
         | terms AS (SELECT
         |   CAST(round(((ca + 1.0) / (na + 1024.0)) *
         |     ln(((ca + 1.0) / (na + 1024.0)) / ((cb + 1.0) / (nb + 1024.0))) * 1e9) AS BIGINT) AS ab,
         |   CAST(round(((cb + 1.0) / (nb + 1024.0)) *
         |     ln(((cb + 1.0) / (nb + 1024.0)) / ((ca + 1.0) / (na + 1024.0))) * 1e9) AS BIGINT) AS ba,
         |   CAST(round((((ca + 1.0) / (na + 1024.0)) *
         |       ln(((ca + 1.0) / (na + 1024.0)) /
         |          (((ca + 1.0) / (na + 1024.0) + (cb + 1.0) / (nb + 1024.0)) / 2.0)) / 2.0 +
         |     ((cb + 1.0) / (nb + 1024.0)) *
         |       ln(((cb + 1.0) / (nb + 1024.0)) /
         |          (((ca + 1.0) / (na + 1024.0) + (cb + 1.0) / (nb + 1024.0)) / 2.0)) / 2.0)
         |     * 1e9) AS BIGINT) AS js,
         |   na, nb FROM j, tt),
         | zt AS (SELECT
         |   CAST(round(((0 + 1.0) / (na + 1024.0)) *
         |     ln(((0 + 1.0) / (na + 1024.0)) / ((0 + 1.0) / (nb + 1024.0))) * 1e9) AS BIGINT) AS zab,
         |   CAST(round(((0 + 1.0) / (nb + 1024.0)) *
         |     ln(((0 + 1.0) / (nb + 1024.0)) / ((0 + 1.0) / (na + 1024.0))) * 1e9) AS BIGINT) AS zba,
         |   CAST(round((((0 + 1.0) / (na + 1024.0)) *
         |       ln(((0 + 1.0) / (na + 1024.0)) /
         |          (((0 + 1.0) / (na + 1024.0) + (0 + 1.0) / (nb + 1024.0)) / 2.0)) / 2.0 +
         |     ((0 + 1.0) / (nb + 1024.0)) *
         |       ln(((0 + 1.0) / (nb + 1024.0)) /
         |          (((0 + 1.0) / (na + 1024.0) + (0 + 1.0) / (nb + 1024.0)) / 2.0)) / 2.0)
         |     * 1e9) AS BIGINT) AS zjs FROM tt)
         |SELECT CAST(na AS BIGINT) AS n_feats_a, CAST(nb AS BIGINT) AS n_feats_b,
         |  round((sum(ab) + (1024 - count(*)) * (SELECT zab FROM zt)) / 1e9, 6) AS kl_ab,
         |  round((sum(ba) + (1024 - count(*)) * (SELECT zba FROM zt)) / 1e9, 6) AS kl_ba,
         |  round((sum(js) + (1024 - count(*)) * (SELECT zjs FROM zt)) / 1e9, 6) AS js
         |FROM terms GROUP BY na, nb""".stripMargin,
    "q_quality_clf" ->
      s"""WITH lab AS (SELECT doc_id, text, text LIKE '%filter scan%' AS y FROM documents),
         | npos AS (SELECT count(*) AS np FROM lab WHERE y),
         | train AS (SELECT doc_id, text, y FROM lab WHERE y
         |   UNION ALL
         |   SELECT doc_id, text, y FROM (SELECT *, row_number() OVER (ORDER BY doc_id) AS rn
         |     FROM lab WHERE NOT y) WHERE rn <= (SELECT np FROM npos)),
         | t AS (SELECT doc_id, y, $sqlWords AS w FROM train),
         | uni AS (SELECT doc_id, y, unnest(w) AS f FROM t),
         | big AS (SELECT doc_id, y,
         |     unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS f
         |   FROM t WHERE len(w) >= 2),
         | feats AS (SELECT doc_id, y, ${sqlHex32("f")} % 1024 AS bucket
         |   FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
         | db AS (SELECT doc_id, y, bucket, CAST(count(*) AS BIGINT) AS n FROM feats GROUP BY 1,2,3),
         | pd AS (SELECT doc_id, y, sum(n) AS nd FROM db GROUP BY 1,2),
         | nn AS (SELECT CAST(count(*) AS BIGINT) AS nd0 FROM pd),
         | f1 AS (SELECT doc_id,
         |   CAST(round((0.5 - CASE WHEN y THEN 1.0 ELSE 0.0 END)/nd*1e9) AS BIGINT) AS fn FROM pd),
         | g1 AS (SELECT bucket, sum(n*fn) AS gn FROM db JOIN f1 USING (doc_id) GROUP BY bucket),
         | w1 AS (SELECT bucket, 0 - CAST(round(200.0*gn/(1000.0*nn.nd0)) AS BIGINT) AS wm FROM g1, nn),
         | m2 AS (SELECT db.doc_id, sum(db.n * coalesce(w1.wm, 0)) AS mm
         |   FROM db LEFT JOIN w1 USING (bucket) GROUP BY db.doc_id),
         | f2 AS (SELECT pd.doc_id,
         |   CAST(round((1.0/(1.0+exp(-(m2.mm/(1e6*pd.nd)))) - CASE WHEN y THEN 1.0 ELSE 0.0 END)
         |     /pd.nd*1e9) AS BIGINT) AS fn
         |   FROM pd JOIN m2 USING (doc_id)),
         | g2 AS (SELECT bucket, sum(n*fn) AS gn FROM db JOIN f2 USING (doc_id) GROUP BY bucket),
         | w2 AS (SELECT coalesce(w1.bucket, g2.bucket) AS bucket,
         |     coalesce(w1.wm, 0) - CAST(round(200.0*coalesce(g2.gn,0)/(1000.0*(SELECT nd0 FROM nn))) AS BIGINT) AS wm
         |   FROM w1 FULL OUTER JOIN g2 ON w1.bucket = g2.bucket),
         | sdb AS (SELECT doc_id, ${sqlHex32("f")} % 1024 AS bucket, CAST(count(*) AS BIGINT) AS n FROM (
         |   SELECT doc_id, unnest(w) AS f FROM (SELECT doc_id, $sqlWords AS w FROM documents)
         |   UNION ALL
         |   SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS f
         |   FROM (SELECT doc_id, $sqlWords AS w FROM documents) WHERE len(w) >= 2) GROUP BY 1,2),
         | ms AS (SELECT sdb.doc_id, sum(sdb.n) AS n_feats, sum(sdb.n * coalesce(w2.wm, 0)) AS mm
         |   FROM sdb LEFT JOIN w2 USING (bucket) GROUP BY sdb.doc_id)
         |SELECT d.doc_id, CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
         |  round(CASE WHEN n_feats IS NULL THEN 0.5
         |    ELSE 1.0/(1.0+exp(-(mm/(1e6*n_feats)))) END, 6) AS score,
         |  CAST(CASE WHEN (CASE WHEN n_feats IS NULL THEN 0.5
         |    ELSE 1.0/(1.0+exp(-(mm/(1e6*n_feats)))) END) >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM documents d LEFT JOIN ms USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_semantic_decontam" ->
      s"""WITH ev AS (SELECT embedding AS evv FROM embeddings WHERE label = 0),
         | sc AS (SELECT c.vec_id, round(${sqlCos("c.embedding", "ev.evv")}, 6) AS cs
         |   FROM embeddings c, ev WHERE c.label <> 0),
         | mx AS (SELECT vec_id, max(cs) AS max_cos FROM sc GROUP BY vec_id)
         |SELECT vec_id, max_cos, max_cos >= 0.3 AS contaminated
         |FROM mx ORDER BY vec_id""".stripMargin,
    "q_semantic_decontam_ann" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE label <> 0
         |   ORDER BY ${sqlHex60("'ivf:' || vec_id")} ASC, vec_id ASC LIMIT 16),
         | ad AS (SELECT e.vec_id, e.embedding, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist
         |   FROM embeddings e, c WHERE e.label <> 0),
         | assign AS (SELECT vec_id, embedding, cid AS cell FROM (SELECT vec_id, embedding, cid,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM ad) WHERE rn = 1),
         | pd AS (SELECT e.vec_id AS qid, e.embedding AS qv, c.cid, ${sqlL2("e.embedding", "c.cv")} AS dist
         |   FROM embeddings e, c WHERE e.label = 0),
         | pc AS (SELECT qid, qv, cid AS cell FROM (SELECT qid, qv, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rn FROM pd) WHERE rn <= 4),
         | sc AS (SELECT a.vec_id, round(${sqlCos("a.embedding", "pc.qv")}, 6) AS cs
         |   FROM assign a JOIN pc ON a.cell = pc.cell),
         | mx AS (SELECT vec_id, max(cs) AS max_cos FROM sc GROUP BY vec_id)
         |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, mx.max_cos,
         |  coalesce(mx.max_cos >= 0.3, FALSE) AS contaminated
         |FROM assign a LEFT JOIN mx USING (vec_id) ORDER BY a.vec_id""".stripMargin,
    "q_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlHex60("'sample:' || doc_id")} / 1152921504606846976.0
         |  < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.25
         |    WHEN 'es' THEN 0.125 ELSE 0.0 END
         |ORDER BY doc_id""".stripMargin,
    // C4-style segment dedup: corpus-wide first instance of each 10-word
    // segment survives (min (doc_id, pos) struct), docs reassemble in order
    "q_seg_dedup" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         | n AS (SELECT doc_id, w, unnest(range(0, (len(w)-1)//10 + 1)) AS pos FROM t WHERE len(w) >= 1),
         | seg AS (SELECT doc_id, pos, array_to_string(w[pos*10+1 : pos*10+10], ' ') AS seg FROM n),
         | fst AS (SELECT seg, min(struct_pack(d := doc_id, p := pos)) AS f FROM seg GROUP BY seg),
         | keep AS (SELECT s.doc_id, s.pos, s.seg FROM seg s JOIN fst f ON s.seg = f.seg
         |   WHERE s.doc_id = (f.f).d AND s.pos = (f.f).p),
         | reb AS (SELECT doc_id, count(*) AS n_kept, string_agg(seg, ' ' ORDER BY pos) AS clean_text
         |   FROM keep GROUP BY doc_id),
         | tot AS (SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY doc_id)
         |SELECT t.doc_id, CAST(n_segments AS BIGINT) AS n_segments,
         |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept, coalesce(clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin
  ) ++ IncrAnnGates.map(g => s"q_ann_vi_${g.gate}_incr" -> g.sql)

  // ------------------------- lexical-retrieval oracle SQL (shared fragments)

  /** ±1 sign from bit 0 of md5 hex chars 9-10 — twin of FullText's hashSign. */
  private val sqlSign =
    "CASE WHEN CAST(concat('0x', substr(md5(w), 9, 2)) AS BIGINT) & 1 = 1 THEN -1 ELSE 1 END"
  private def lexQueryTermsSql: String =
    graft.ops.FullText.queryTerms(LexicalQuery).map("'" + _ + "'").mkString(", ")

  /** BM25 CTE chain ending in `bs(doc_id, n_terms, score)` — the operation
    * ORDER inside the score mirrors FullText.bm25TermScores exactly (double
    * arithmetic is non-associative; a re-association would drift ulps).
    */
  private def bm25CtesBody: String =
    s"""base AS (SELECT doc_id, $sqlWords AS w FROM documents),
       | dstat AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM base),
       | stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dstat),
       | inst AS (SELECT doc_id, dl, unnest(w) AS term FROM dstat),
       | tfq AS (SELECT doc_id, term, dl, count(*) AS tf FROM inst
       |   WHERE term IN ($lexQueryTermsSql) GROUP BY doc_id, term, dl),
       | dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
       | ts AS (SELECT tfq.doc_id,
       |     CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1)
       |       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(tot_dl AS DOUBLE) / n_docs)))
       |       * 1000000) AS BIGINT) AS sm
       |   FROM tfq JOIN dfq USING (term), stats),
       | bs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |     round(sum(sm) / 1000000.0, 6) AS score FROM ts GROUP BY doc_id)""".stripMargin
  private def bm25Ctes: String = bm25CtesBody

  /** Hash-embedding cosine CTE chain ending in `cosd(doc_id, cos)` — twin of
    * FullText.hashEmbedCosine (integer dot/norms, one IEEE sqrt + divide).
    */
  private def hashCosCtes: String =
    s"""dw AS (SELECT doc_id, unnest($sqlWords) AS w FROM documents),
       | db AS (SELECT doc_id, ${sqlHex32("w")} % 64 AS bucket, sum($sqlSign) AS weight
       |   FROM dw GROUP BY doc_id, bucket HAVING sum($sqlSign) <> 0),
       | qt AS (SELECT unnest([$lexQueryTermsSql]) AS w),
       | qb AS (SELECT ${sqlHex32("w")} % 64 AS bucket, sum($sqlSign) AS qw
       |   FROM qt GROUP BY bucket HAVING sum($sqlSign) <> 0),
       | nbq AS (SELECT sum(qw * qw) AS nb FROM qb),
       | dv AS (SELECT doc_id, sum(weight * coalesce(qw, 0)) AS dot,
       |     sum(weight * weight) AS na FROM db LEFT JOIN qb USING (bucket) GROUP BY doc_id),
       | cosd AS (SELECT doc_id, CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cos
       |   FROM dv, nbq)""".stripMargin

  /** MMR oracle: candidate page + pairwise sims, then the k greedy steps
    * UNROLLED as chained CTEs (each step's argmax is ORDER BY score DESC,
    * doc_id LIMIT 1 — deterministic, unlike arg_max's unspecified ties).
    * Missing pairwise sims count as 0 inside the max, exactly like the
    * driver loop's getOrElse.
    */
  private def mmrSql: String = {
    val k = 5
    val steps = (2 to k).map { i =>
      s""" ms$i AS (SELECT c.doc_id, max(coalesce(s.sim, 0)) AS m
         |   FROM cand c CROSS JOIN sel${i - 1} sp
         |   LEFT JOIN sims s ON s.a = c.doc_id AND s.b = sp.doc_id
         |   GROUP BY c.doc_id),
         | s$i AS (SELECT c.doc_id, c.rel, 0.5 * c.rel - 0.5 * ms.m AS sc
         |   FROM cand c JOIN ms$i ms USING (doc_id)
         |   WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})),
         | p$i AS (SELECT doc_id, rel, sc FROM s$i ORDER BY sc DESC, doc_id LIMIT 1),
         | sel$i AS (SELECT doc_id FROM sel${i - 1} UNION ALL SELECT doc_id FROM p$i)""".stripMargin
    }.mkString(",\n")
    val picks = (1 to k).map(i => s"SELECT $i AS pick, doc_id, rel, sc FROM p$i")
      .mkString(" UNION ALL ")
    s"""WITH $hashCosCtes,
       | cand AS (SELECT doc_id, cos AS rel FROM (SELECT doc_id, cos,
       |     row_number() OVER (ORDER BY cos DESC, doc_id) AS r FROM cosd) WHERE r <= 15),
       | cb AS (SELECT db.doc_id, db.bucket, db.weight FROM db JOIN cand USING (doc_id)),
       | nn AS (SELECT doc_id, sum(weight * weight) AS nn FROM cb GROUP BY doc_id),
       | dots AS (SELECT a.doc_id AS a, b.doc_id AS b, sum(a.weight * b.weight) AS dot
       |   FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.doc_id <> b.doc_id
       |   GROUP BY a.doc_id, b.doc_id),
       | sims AS (SELECT a, b, CAST(dot AS DOUBLE) / sqrt(CAST(x.nn * y.nn AS DOUBLE)) AS sim
       |   FROM dots JOIN nn x ON x.doc_id = a JOIN nn y ON y.doc_id = b),
       | p1 AS (SELECT doc_id, rel, 0.5 * rel - 0.5 * 0 AS sc FROM cand
       |   ORDER BY sc DESC, doc_id LIMIT 1),
       | sel1 AS (SELECT doc_id FROM p1),
       |$steps
       |SELECT CAST(pick AS BIGINT) AS pick, doc_id, round(rel, 6) AS rel,
       |  round(sc, 6) AS mmr_score
       |FROM ($picks) ORDER BY pick""".stripMargin
  }
}
