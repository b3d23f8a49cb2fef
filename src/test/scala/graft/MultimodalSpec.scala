package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal
import graft.ops.Multimodal.{MediaFeatures, MediaRow}

/** Multimodal column plumbing specs: the decoder-tier mapPartitions
  * contract. */
class MultimodalSpec extends SparkSpec {
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  private def mediaDf = {
    import spark.implicits._
    Seq((1L, "abcdefgh".getBytes("UTF-8")), (2L, Array.empty[Byte]))
      .toDF("media_id", "blob")
  }

  test("decode stub: deterministic pure-byte features") {
    val f = Multimodal.DecodeStub.decodeOne(
      MediaRow(7L, "image/png", "abc".getBytes("UTF-8")))
    assert(f == MediaFeatures(7L, "image/png", 3L,
      16 * ('a' + 1), 16 * ('b' + 1), 1 + 'c' % 4,
      "900150983cd24fb0d6963f7d28e17f72"))
    // empty payload: all at() = 0
    val e = Multimodal.DecodeStub.decodeOne(MediaRow(8L, "x", Array.empty))
    assert(e.width == 16 && e.height == 16 && e.channels == 1 && e.nBytes == 0)
  }

  test("decodeFeaturesDf: partition-batched decode over the typed Dataset") {
    val out = Multimodal.decodeFeaturesDf(mediaDf, "media_id", "blob", "audio/wav")
      .orderBy("mediaId").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("mime") == "audio/wav")
    assert(out(0).getAs[Long]("nBytes") == 8L)
    // repartitioned input decodes to identical results (order-independence)
    val re = Multimodal.decodeFeaturesDf(mediaDf.repartition(3), "media_id",
        "blob", "audio/wav")
      .orderBy("mediaId").collect()
    assert(re.toSeq.map(_.toString) == out.toSeq.map(_.toString))
  }

  test("perceptualHash64: gradient bits, level-shift invariance, empty payload") {
    val base = Array.tabulate(256)(i => (math.sin(i * 0.3) * 60 + 100).toByte)
    val sig = Multimodal.perceptualHash64(base)
    // Identical bytes → identical signature (trivially), and a uniform
    // brightness shift (+5 on every byte, no wraparound by construction)
    // preserves every gradient direction → identical signature: the dHash
    // property that makes it a NEAR-dup hash, not a checksum.
    val brighter = base.map(b => (b + 5).toByte)
    assert(Multimodal.perceptualHash64(brighter) == sig)
    // One corrupted byte flips at most 2 of the 64 gradient bits.
    val corrupt = base.clone(); corrupt(64) = (corrupt(64) + 90).toByte
    assert(java.lang.Long.bitCount(Multimodal.perceptualHash64(corrupt) ^ sig) <= 2)
    // A different signal separates.
    val other = Array.tabulate(256)(i => (math.cos(i * 0.7) * 60 + 100).toByte)
    assert(java.lang.Long.bitCount(Multimodal.perceptualHash64(other) ^ sig) > 3)
    assert(Multimodal.perceptualHash64(Array.empty) == 0L)
  }

  test("perceptualHashPairs: original/re-encode pair within Hamming 3, " +
      "distinct media separated") {
    import spark.implicits._
    val a = Array.tabulate(300)(i => (math.sin(i * 0.21) * 70 + 110).toByte)
    val aShift = a.map(b => (b + 3).toByte) // re-encode: level shift
    val b = Array.tabulate(300)(i => (math.sin(i * 0.77 + 2) * 70 + 110).toByte)
    val media = Seq((1L, a), (2L, aShift), (3L, b))
      .toDF("media_id", "payload")
    val pairs = Multimodal.perceptualHashPairs(media, "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 == 0) // level shift preserves every gradient
  }

  /** Encode a width×height gradient-ish image to real PNG bytes via
    * javax.imageio — the test images are genuine codec output, so the
    * decode path under test is the production one end-to-end. */
  private def pngBytes(w: Int, h: Int, lum: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = lum(x, y) & 0xFF
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decodeLumaStrip: real PNG decodes to a 65-sample luma strip; garbage falls back") {
    // Horizontal ramp: strip must be monotone non-decreasing left-to-right.
    val ramp = pngBytes(130, 20, (x, _) => x * 255 / 129)
    val strip = Multimodal.decodeLumaStrip(ramp)
    assert(strip.isDefined && strip.get.length == 65)
    val vals = strip.get.map(_ & 0xFF)
    assert(vals.zip(vals.tail).forall { case (a, b) => a <= b },
      "area-averaged ramp strip should be monotone")
    assert(vals.last - vals.head > 200, "ramp should span most of the range")
    // Non-image payloads have no ImageIO reader → None (byte-tier fallback).
    assert(Multimodal.decodeLumaStrip(Array.tabulate(64)(_.toByte)).isEmpty)
    assert(Multimodal.decodeLumaStrip(Array.empty).isEmpty)
  }

  test("perceptualHashImage64: brightness-shifted re-encode hashes identically, " +
      "lossless re-encode exact, distinct image separates, banding recall") {
    import spark.implicits._
    // Luma kept in [40, 200] so a +10 brightness shift cannot clip — a
    // uniform shift then preserves every strict gradient comparison.
    def lum(x: Int, y: Int): Int = 40 + (x * 160 / 129)
    val original = pngBytes(130, 24, lum)
    val brighter = pngBytes(130, 24, (x, y) => lum(x, y) + 10)
    val sigO = Multimodal.perceptualHashImage64(original)
    val sigB = Multimodal.perceptualHashImage64(brighter)
    assert(sigO == sigB, "uniform brightness shift must preserve the signature")
    // Lossless PNG re-encode of the SAME pixels → byte-different payload,
    // identical decoded luma → identical signature; and it must differ from
    // the raw-byte-tier hash of the (different) encoded bytes.
    val img2 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(original))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img2, "png", bos)
    val reenc = bos.toByteArray
    assert(Multimodal.perceptualHashImage64(reenc) == sigO)
    // A structurally different image (vertical bars) separates.
    val bars = pngBytes(130, 24, (x, _) => if ((x / 8) % 2 == 0) 40 else 200)
    assert(java.lang.Long.bitCount(
      Multimodal.perceptualHashImage64(bars) ^ sigO) > 3)
    // End-to-end banding recall over real encoded images: the re-encoded
    // + brightened variant pairs with the original at Hamming 0.
    val media = Seq((1L, original), (2L, brighter), (3L, bars))
      .toDF("media_id", "payload")
    val pairs = Multimodal.perceptualHashPairs(media, "media_id", "payload",
        maxHamming = 3, decodeImages = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 == 0)
  }

  /** 16-bit mono little-endian WAV from a per-frame sample function. */
  private def wavBytes(nFrames: Int, sample: Int => Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](nFrames * 2)
    (0 until nFrames).foreach { i =>
      val s = sample(i)
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("decodeAudioEnvelope: real WAV decodes to a 65-window envelope; gain-invariant; garbage falls back") {
    // Rising staircase of per-window amplitudes (all even, so the halved
    // signal is sample-exact): window k of the envelope should rise too.
    def amp(i: Int): Int = 2 * (100 + (i / 62))        // 4030 frames -> 65 windows
    val loud = wavBytes(4030, i => if (i % 2 == 0) amp(i) else -amp(i))
    val half = wavBytes(4030, i => (if (i % 2 == 0) amp(i) else -amp(i)) / 2)
    val envL = Multimodal.decodeAudioEnvelope(loud)
    val envH = Multimodal.decodeAudioEnvelope(half)
    assert(envL.isDefined && envL.get.length == 65)
    // Peak-normalized envelope: exact halving of every sample leaves the
    // quantized envelope byte-identical -> identical fingerprint.
    assert(java.util.Arrays.equals(envL.get, envH.get))
    assert(Multimodal.perceptualHashAudio64(loud) ==
      Multimodal.perceptualHashAudio64(half))
    // Monotone-rising energy -> strictly gradient-up fingerprint bits set.
    assert(java.lang.Long.bitCount(
      Multimodal.perceptualHashAudio64(loud)) >= 48)
    // Garbage payload: decoder refuses, byte tier answers.
    val junk = Array.tabulate[Byte](100)(i => (i * 7).toByte)
    assert(Multimodal.decodeAudioEnvelope(junk).isEmpty)
    assert(Multimodal.perceptualHashAudio64(junk) ==
      Multimodal.perceptualHash64(junk))
  }

  test("audioHashPairs: gain-scaled re-encode pairs at Hamming 0, different envelope shape doesn't pair") {
    import spark.implicits._
    def amp(i: Int): Int = 2 * (100 + (i / 62))
    val rising = wavBytes(4030, i => if (i % 2 == 0) amp(i) else -amp(i))
    val risingQuiet = wavBytes(4030,
      i => (if (i % 2 == 0) amp(i) else -amp(i)) / 2)
    val falling = wavBytes(4030,
      i => { val a = amp(4029 - i); if (i % 2 == 0) a else -a })
    val media = Seq((1L, rising), (2L, risingQuiet), (3L, falling))
      .toDF("media_id", "payload")
    val pairs = Multimodal.audioHashPairs(media, "media_id", "payload",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 == 0)
  }
}
