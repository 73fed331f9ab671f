package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The scoped AVI/uncompressed-DIB video decoder: RIFF-walk goldens,
  * stride and row-order handling, the compressed-video descope, truncation
  * and hostile bytes, plus the frame-sampling and stats DFs over it.
  */
class AviCodecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pxVal(id: Long, f: Int, i: Int): Int =
    ((id * 31 + f * 97 + i * 7) % 256).toInt

  test("decode golden: synthAvi dimensions, frame count, exact pixels") {
    val id = 7L
    val d = AviCodec.decode(graft.SparkEntry.synthAvi(id)).get
    val (w, h, nf) = ((4 + id % 5).toInt, (3 + id % 4).toInt, (2 + id % 3).toInt)
    assert(d.width == w && d.height == h && d.frames.length == nf)
    assert(d.microSecPerFrame == 40000L)
    for (f <- 0 until nf) {
      val img = d.frames(f)
      assert(img.width == w && img.height == h && img.channels == 3)
      for (i <- 0 until w * h; c <- 0 until 3)
        assert((img.pixels(i * 3 + c) & 0xFF) == pxVal(id, f, i),
          s"f=$f px=$i ch=$c")
    }
  }

  test("stride padding and bottom-up rows are handled (w=4 has zero pad; w=5 has 1-byte pad)") {
    // synthAvi covers both: id%5==0 → w=4 (stride 12, no pad), id%5==1 → w=5
    // (stride 16, 1-byte pad); the golden above plus these two pin it
    for (id <- Seq(0L, 1L)) {
      val d = AviCodec.decode(graft.SparkEntry.synthAvi(id)).get
      val img = d.frames(0)
      for (i <- 0 until img.width * img.height)
        assert((img.pixels(i * 3) & 0xFF) == pxVal(id, 0, i), s"id=$id px=$i")
    }
  }

  test("compressed video is a documented descope: decode yields None") {
    // flip biCompression in strf from 0 (BI_RGB) to 1 → None, loudly not guessed
    val bytes = graft.SparkEntry.synthAvi(3L).clone()
    val strfIdx = {
      var i = 0
      while (!(bytes(i) == 's' && bytes(i + 1) == 't' && bytes(i + 2) == 'r' &&
        bytes(i + 3) == 'f')) i += 1
      i
    }
    bytes(strfIdx + 8 + 16) = 1 // biCompression LSB
    assert(AviCodec.decode(bytes).isEmpty)
  }

  test("truncation keeps the frames already decoded; junk never throws") {
    val id = 2L
    val full = graft.SparkEntry.synthAvi(id) // 4 frames
    val d0 = AviCodec.decode(full).get
    assert(d0.frames.length == 4)
    // cut inside the last movi frame: earlier frames survive
    val cut = full.take(full.length - 10)
    val d1 = AviCodec.decode(cut).get
    assert(d1.frames.length == 3)
    val rnd = new scala.util.Random(31)
    for (_ <- 0 until 300) {
      AviCodec.decode(Array.fill(rnd.nextInt(2000))(rnd.nextInt().toByte))
      val mangled = full.clone()
      for (_ <- 0 until 10) mangled(rnd.nextInt(mangled.length)) = rnd.nextInt().toByte
      AviCodec.decode(mangled) // must not throw
    }
    assert(AviCodec.decode(null) == None)
    assert(AviCodec.decode("RIFFxxxxWAVE".getBytes) == None)
  }

  test("videoFrameStats: exact per-frame stats, everyN sampling, junk skipped") {
    val df = Seq((5L, graft.SparkEntry.synthAvi(5L)),
      (6L, "not a video".getBytes), (7L, null: Array[Byte]))
      .toDF("doc_id", "media")
    val all = Multimodal.videoFrameStats(df, "doc_id").collect()
    val (w, h, nf) = (4 + 5 % 5, 3 + 5 % 4, 2 + 5 % 3)
    assert(all.length == nf, "junk and null yield nothing")
    for (r <- all) {
      val f = r.getLong(1).toInt
      val vs = (0 until w * h).map(i => pxVal(5L, f, i))
      assert(r.getLong(2) == w && r.getLong(3) == h)
      assert(r.getLong(4) == w * h * 3L)
      assert(r.getLong(5) == 3L * vs.sum)
      // order-sensitive weighted sum: Σ v·(9i+3) in TOP-DOWN pixel order
      assert(r.getLong(6) == vs.zipWithIndex.map { case (v, i) => v.toLong * (9L * i + 3) }.sum)
      assert(r.getLong(7) == vs.min && r.getLong(8) == vs.max)
    }
    // everyN sampling keeps frames 0, 2, ...
    val sampled = Multimodal.videoFrameStats(df, "doc_id", everyN = 2).collect()
    assert(sampled.map(_.getLong(1)).toSeq == (0 until nf by 2).map(_.toLong))
  }

  test("sampleFrames uses REAL AVI frames when decodable, no rows otherwise") {
    val id = 9L
    val df = Seq((id, graft.SparkEntry.synthAvi(id)),
      (99L, "opaque blob no codec decodes".getBytes))
      .toDF("doc_id", "media")
    val rows = Multimodal.sampleFrames(df, "doc_id", everyN = 1).collect()
    val (w, h, nf) = ((4 + id % 5).toInt, (3 + id % 4).toInt, (2 + id % 3).toInt)
    val real = rows.filter(_.getLong(0) == id)
    assert(real.length == nf)
    val f0 = real.find(_.getInt(1) == 0).get.getAs[Array[Byte]](2)
    assert(f0.length == w * h * 3, "frame bytes are the raw RGB pixels")
    assert((f0(0) & 0xFF) == pxVal(id, 0, 0))
    assert(!rows.exists(_.getLong(0) == 99L), "an undecodable blob yields no frames")
  }

  test("video tag route in mediaDedup: identical videos collapse, re-cuts do not") {
    val a = graft.SparkEntry.synthAvi(11L)
    val df = Seq((1L, "video", a), (2L, "video", a.clone()),
      (3L, "video", graft.SparkEntry.synthAvi(12L)),
      (4L, "video", "garbage".getBytes))
      .toDF("asset_id", "tag", "media")
    val got = Multimodal.mediaDedup(df, "asset_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) == ((2L, 1L)) && got(2L) == ((2L, 1L)), "identical → one group")
    assert(got(3L)._1 == 1L, "different video is its own group")
    assert(!got.contains(4L), "undecodable video carries no dedup identity")
  }
}
