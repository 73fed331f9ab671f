package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Table-driven pins for the media operators of [[Multimodal]]: the
  * per-blob decode operators (one row set per decodable blob) and the
  * append-a-column operators (one fingerprint per input row).
  *
  * Every operator runs over ONE mixed table of seeded fixtures — every
  * image, video and audio synth of [[SparkEntry]] — so each operator also
  * proves it ignores the formats it cannot decode. Per operator, the
  * output schema (DDL, with nullability) and a SHA-256 digest of the
  * sorted output rows are pinned; hostile blobs (null, empty, 64 seeded
  * junk bytes) yield no rows and never throw.
  */
class MediaOperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val fixtures: Seq[(String, Long => Array[Byte])] = Seq(
    "png" -> SparkEntry.synthPng, "jpeg" -> (SparkEntry.synthJpeg(_)),
    "gif" -> SparkEntry.synthGif, "bmp" -> SparkEntry.synthBmp,
    "anim" -> SparkEntry.synthAnimGif, "avi" -> SparkEntry.synthAvi,
    "mjpeg" -> SparkEntry.synthMjpegAvi, "mpeg1" -> SparkEntry.synthMpeg1,
    "mpeg1p" -> SparkEntry.synthMpeg1P, "wav" -> SparkEntry.synthWav,
    "mp1" -> SparkEntry.synthMp1, "mp1js" -> SparkEntry.synthMp1Js,
    "mp2" -> SparkEntry.synthMp2, "mp2js" -> SparkEntry.synthMp2Js,
    "mp3" -> SparkEntry.synthMp3L3, "mp3ms" -> SparkEntry.synthMp3Ms,
    "mp3is" -> SparkEntry.synthMp3Is, "mp3short" -> SparkEntry.synthMp3Short,
    "mp4" -> SparkEntry.synthMp4)

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("tag", StringType), StructField("media", BinaryType)))

  private def table(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Two seeded clips/images per fixture kind; the tag is the kind. */
  private lazy val media: DataFrame = table(
    fixtures.zipWithIndex.flatMap { case ((tag, synth), k) =>
      (0L until 2L).map(i => Row(k * 10L + i, tag, synth(i)))
    })

  private val junk: Array[Byte] = {
    val b = new Array[Byte](64); new scala.util.Random(11L).nextBytes(b); b
  }
  private lazy val hostile: DataFrame = table(Seq(
    Row(1L, "img", null), Row(2L, "audio", Array.emptyByteArray), Row(3L, "mp3", junk)))

  private val granuleFp =
    "id BIGINT,sample_rate BIGINT,n_frames BIGINT,n_granules BIGINT,afp BIGINT"

  /** (name, operator, pinned schema DDL, pinned digest of sorted rows). */
  private val perBlob: Seq[(String, DataFrame => DataFrame, String, String)] = Seq(
    ("videoFrameStats", Multimodal.videoFrameStats(_, "id"),
      "id BIGINT,frame_index BIGINT,width BIGINT,height BIGINT,n_px BIGINT," +
        "px_sum BIGINT,px_wsum BIGINT,px_min BIGINT,px_max BIGINT",
        "1a405ecb9f87b3c00d295624144487ce51e3cefa420bc5f034d2fa29c6903d03"),
    ("sampleFrames", Multimodal.sampleFrames(_, "id", everyN = 2),
      "id BIGINT,frame_index INT,frame BINARY",
        "69071f97b9efc19f010badebb0c30fba82c878f9e2db5579670b7b9a29df14d7"),
    ("audioFrameFeatures", Multimodal.audioFrameFeatures(_, "id", frameSize = 256),
      "id BIGINT,frame_index INT,rms FLOAT,zcr FLOAT,peak FLOAT",
        "a215d49b225ab289e98a3961f5b28344bad1e82fe9c5c0deebd5e762f1a1edf1"),
    ("imagePixelStats", Multimodal.imagePixelStats(_, "id"),
      "id BIGINT,width BIGINT,height BIGINT,channels BIGINT,n_px BIGINT," +
        "px_sum BIGINT,px_min BIGINT,px_max BIGINT",
        "d56aa3adb2c475a9d40423686ccd60876546854bfddfdcc5b35b57e959d6931c"),
    ("imageDHash", Multimodal.imageDHash(_, "id"),
      "id BIGINT,width BIGINT,height BIGINT,dhash BIGINT",
        "0ee82dbcc9c73ef8333bd0b890f2a619a749235588e4c4895d5174b2671b4290"),
    ("audioFingerprintDF", Multimodal.audioFingerprintDF(_, "id"),
      "id BIGINT,sample_rate BIGINT,n_frames BIGINT,afp BIGINT",
        "b43ba7b845ff2904f3d7358e06bdef11df6c52adf64eff6fe678fa1f1d1e31b1"),
    ("mp1EnergyFingerprintDF", Multimodal.mp1EnergyFingerprintDF(_, "id"), granuleFp,
        "7d4ffcdfeda9c98ae1ed6737e43aff51b8262f58dd052c72c4adc80ca1747b68"),
    ("mp2EnergyFingerprintDF", Multimodal.mp2EnergyFingerprintDF(_, "id"), granuleFp,
        "5bc386b3f30c20b7352e4a5a07c26c7a172ea9d6439d0bec4c7f798fe2a79192"),
    ("mp3SpectralFingerprintDF", Multimodal.mp3SpectralFingerprintDF(_, "id"), granuleFp,
        "8eaa19ede95aaf3f8e1e73539208159024353e81082cda0991aaba44c13ff99a"),
    ("mp3WeightedSpectralFingerprintDF",
      Multimodal.mp3WeightedSpectralFingerprintDF(_, "id"), granuleFp,
        "8eaa19ede95aaf3f8e1e73539208159024353e81082cda0991aaba44c13ff99a"),
    ("mp3ChannelSpectralFingerprintDF",
      Multimodal.mp3ChannelSpectralFingerprintDF(_, "id"), granuleFp,
        "0d0b574b6ea19a9f7bad3946267bbd7363351dd72c74a0ec76cde5a1f6005567"),
    ("mp1ChannelEnergyFingerprintDF",
      Multimodal.mp1ChannelEnergyFingerprintDF(_, "id"), granuleFp,
        "d30c27b016953cbf3b7a21ce3593355a7b289658daf746611e44d022ac750ac4"),
    ("mp2ChannelEnergyFingerprintDF",
      Multimodal.mp2ChannelEnergyFingerprintDF(_, "id"), granuleFp,
        "adcc25832fe66766c51f64faeada1c8fc34610cd586c2538de65fcaa6d42be73"))

  /** The append-a-column operators: every input row comes back with its
    * fingerprint (null when the blob has no identity).
    */
  private val appended: Seq[(String, DataFrame => DataFrame, String, String)] = Seq(
    ("withMediaFingerprint(audio)", Multimodal.withMediaFingerprint(_, kind = "audio"),
      "id BIGINT,tag STRING,media BINARY,media_fp BIGINT",
        "4d5bccf8e66697df28927537d666d7045dcb17b3651c95bab56b1850641f8821"),
    ("withMediaFingerprint(image)", Multimodal.withMediaFingerprint(_, kind = "image"),
      "id BIGINT,tag STRING,media BINARY,media_fp BIGINT",
        "323b5bf66b4773fc66119bbe62f6531eff7dcb7d550c58e3a2a576653d01bb9f"),
    ("withMediaFingerprintByTag", Multimodal.withMediaFingerprintByTag(_),
      "id BIGINT,tag STRING,media BINARY,media_fp BIGINT",
        "747cd6678876bd0c532cc5a8d04affa464d44e0b9b6935dd56893ba398ba0401"))

  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case x => x.toString
  }

  private def digest(df: DataFrame): String = {
    val lines = df.collect().map(r => r.toSeq.map(cell).mkString("|")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  (perBlob ++ appended).foreach { case (name, op, ddl, pinned) =>
    test(s"$name: pinned schema and digest over the seeded media fixtures") {
      val out = op(media)
      assert(out.schema.toDDL == ddl)
      assert(digest(out) == pinned)
    }
  }

  perBlob.foreach { case (name, op, _, _) =>
    test(s"$name: null, empty and junk blobs yield no rows and do not throw") {
      assert(op(hostile).collect().isEmpty)
    }
  }

  appended.foreach { case (name, op, _, _) =>
    test(s"$name: null, empty and junk blobs get a null fingerprint and do not throw") {
      val got = op(hostile).select("id", "media_fp").collect().map(r => (r.getLong(0), r.get(1)))
      assert(got.sortBy(_._1).toSeq == Seq((1L, null), (2L, null), (3L, null)))
    }
  }

  test("extractMeta: pinned schema and digest; hostile blobs keep their row") {
    val out = Multimodal.extractMeta(media)
    assert(out.schema.toDDL == "id BIGINT,tag STRING,media BINARY," +
      "meta STRUCT<format: STRING, width: INT, height: INT, n_frames: INT, " +
      "sample_rate: INT, channels: INT>")
    assert(digest(out) == "1946a84b1d5a5688e64e4a7825bed7b69c8870f7d7ff763b5a686c5c1b181e91")
    val got = Multimodal.extractMeta(hostile).selectExpr("id", "meta.format").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.sortBy(_._1).toSeq == Seq((1L, None), (2L, Some("bin")), (3L, Some("bin"))))
  }
}
