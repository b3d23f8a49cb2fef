package graft.ops

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column operations for training-data pipelines: image/audio/
  * video payloads ride as opaque BINARY columns with a typed metadata
  * struct; per-item work happens in one of two tiers:
  *
  *  - expression tier (codegen'd, no shuffle): sizing, fingerprinting,
  *    byte-range sampling — anything expressible over the raw bytes;
  *  - decoder tier (`mapPartitions` over the typed Dataset): the
  *    batch-shaped escape hatch for real decoders. Media codecs aren't
  *    available in this environment, so [[DecodeStub]] derives
  *    DETERMINISTIC pseudo-features from the bytes; the Spark-side
  *    contract — schema, partition iteration, one decoder init per
  *    partition (how a real JNI/codec handle is amortized) — is real and
  *    tested, and a real decoder drops in by replacing `decodeOne`.
  *
  * At 100 TB the blob column dominates row size: keep blobs OUT of shuffle
  * keys (join/group on the id or the 16-byte fingerprint), and size
  * `maxPartitionBytes` so a partition of blobs fits executor memory. */
object Multimodal {

  /** One media row in the decoder tier. */
  final case class MediaRow(mediaId: Long, mime: String, blob: Array[Byte])

  /** Deterministic pseudo-features standing in for a real decoder. */
  final case class MediaFeatures(mediaId: Long, mime: String, nBytes: Long,
                                 width: Int, height: Int, channels: Int,
                                 fingerprint: String)

  /** Attach the typed metadata struct (mime + byte size + content
    * fingerprint) next to a binary column — expression tier, map-only. */
  def withMetadata(df: DataFrame, blobCol: String, mime: String): DataFrame =
    df.withColumn("media_meta", struct(
      lit(mime).as("mime"),
      length(col(blobCol)).cast("long").as("n_bytes"),
      md5(col(blobCol)).as("fingerprint")))

  /** Byte-range frame sampling: n evenly-spaced fixed-width slices of the
    * payload — the shape of video frame-grab / audio windowing, kept in
    * the expression tier (substring on binary is codegen'd). */
  def sampleFrames(blob: Column, n: Int, frameBytes: Int): Column =
    transform(sequence(lit(0), lit(n - 1)), i =>
      substring(
        blob,
        (i * greatest(floor(length(blob) / n), lit(1)) + 1).cast("int"),
        lit(frameBytes)))

  /** The decoder-tier stub: one "decoder" init per PARTITION (the pattern
    * that amortizes a real codec handle), then per-row decode. The fake
    * features are pure functions of the bytes, so results are
    * deterministic and order-independent. */
  object DecodeStub {
    def decodeOne(r: MediaRow): MediaFeatures = {
      val n = r.blob.length
      def at(i: Int): Int = if (n == 0) 0 else r.blob(i % n) & 0xFF
      MediaFeatures(
        mediaId = r.mediaId,
        mime = r.mime,
        nBytes = n.toLong,
        width = 16 * (at(0) + 1),
        height = 16 * (at(1) + 1),
        channels = 1 + at(2) % 4,
        fingerprint = java.security.MessageDigest.getInstance("MD5")
          .digest(r.blob).map("%02x".format(_)).mkString)
    }
  }

  /** Decoder tier: partition-batched decode of a typed media Dataset. */
  def decodeFeatures(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // One decoder per partition: a real implementation opens its codec
      // context here and closes it when the iterator is exhausted.
      it.map(DecodeStub.decodeOne)
    }
  }

  /** End-to-end: DataFrame with (idCol, blobCol) -> features DataFrame. */
  def decodeFeaturesDf(df: DataFrame, idCol: String, blobCol: String,
                       mime: String)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val typed = df.select(
        col(idCol).cast("long").as("mediaId"),
        lit(mime).as("mime"),
        col(blobCol).as("blob"))
      .as[MediaRow]
    decodeFeatures(typed).toDF()
  }

  // ── Media near-dup (perceptual hashing) ────────────────────────────────

  /** dHash-style 64-bit perceptual signature over a media payload: 65
    * evenly-spaced byte samples (the stand-in for a decoded 9×8 luma grid),
    * bit k set iff sample k+1 > sample k — gradient direction, the dHash
    * insight, which survives uniform brightness/level shifts. Lives in the
    * DECODER tier deliberately: a real image pHash runs after
    * decode+resize, exactly where [[DecodeStub]] sits, so a real decoder
    * swaps in by feeding decoded luma bytes to this same function.
    * Deterministic pure byte function — an external engine can replay it
    * (sample positions are 1 + ⌊k·(n-1)/64⌋, 1-based). Empty payload → 0. */
  def perceptualHash64(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val s = Array.tabulate(65)(k => bytes(((k.toLong * (n - 1)) / 64).toInt) & 0xFF)
    var sig = 0L
    var k = 0
    while (k < 64) { if (s(k + 1) > s(k)) sig |= (1L << k); k += 1 }
    sig
  }

  /** REAL-CODEC decode path: `javax.imageio` (JDK-only — no new
    * dependency) → grayscale → area-averaged resize to a `samples`-pixel
    * luma strip. With the default 65 samples, [[perceptualHash64]]'s
    * sample positions `⌊k·(n−1)/64⌋` collapse to the identity (n=65 →
    * position k), so the decoded path feeds the EXACT same gradient hash
    * and banding as the deterministic byte tier — a true 1-D dHash over
    * decoded luma. Area averaging (not bilinear point-sampling) pools
    * every source pixel into each strip cell, so re-encodes and small
    * pixel noise perturb the strip minimally — that's what makes the
    * Hamming banding's near-dup recall real for actual images. Returns
    * None when ImageIO has no reader for the payload (truncated/garbage
    * bytes fail fast at header sniffing). Runs headless; executors have
    * no display. */
  def decodeLumaStrip(blob: Array[Byte], samples: Int = 65): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        // Color → luma via a same-size draw into TYPE_BYTE_GRAY (drawing a
        // BufferedImage source is synchronous — no Toolkit/
        // FilteredImageSource production, so no ImageObserver timing to
        // depend on; an earlier getScaledInstance(SCALE_AREA_AVERAGING)
        // version leaned on an async production pipeline that only
        // HAPPENS to complete synchronously on current OpenJDK), then an
        // exact box average over each strip cell's column band read
        // straight from the raster. Cell k covers source columns
        // [⌊k·w/samples⌋, ⌊(k+1)·w/samples⌋) — widened to at least one
        // column, so an image narrower than the strip still fills every
        // cell (nearest-column replication, what any area resampler
        // degrades to when upscaling).
        val gray = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val g = gray.createGraphics()
        g.drawImage(img, 0, 0, null)
        g.dispose()
        val raster = gray.getRaster
        val colSum = new Array[Long](w)
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          raster.getSamples(0, y, w, 1, 0, row)
          var x = 0
          while (x < w) { colSum(x) += row(x); x += 1 }
          y += 1
        }
        val out = new Array[Byte](samples)
        var k = 0
        while (k < samples) {
          val x0 = math.min((k.toLong * w / samples).toInt, w - 1)
          val x1 = math.max(x0 + 1, ((k + 1).toLong * w / samples).toInt)
          var s = 0L
          var x = x0
          while (x < x1) { s += colSum(x); x += 1 }
          out(k) = (s / ((x1 - x0).toLong * h)).toByte
          k += 1
        }
        Some(out)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Perceptual signature with the real decoder in front: decodable
    * images hash their decoded luma strip, anything else falls back to
    * the deterministic byte tier — so mixed corpora (images + synthetic
    * fixtures + corrupt payloads) hash totally, and the fallback is
    * byte-replayable for the oracle. */
  def perceptualHashImage64(blob: Array[Byte]): Long =
    decodeLumaStrip(blob) match {
      case Some(luma) => perceptualHash64(luma)
      case None => perceptualHash64(blob)
    }

  /** Per-item perceptual signatures — decoder tier (mapPartitions, one
    * decoder init per partition), output (_id, _sig). The 100 TB shape:
    * the multi-KB/MB blob reduces to 8 bytes at the scan and never enters
    * a shuffle. `decodeImages = true` routes each payload through the
    * ImageIO luma decode (with byte-tier fallback); the default stays the
    * pure byte tier, which is what the q72 oracle replays bit-for-bit. */
  def perceptualHashes(df: DataFrame, idCol: String, blobCol: String,
                       decodeImages: Boolean = false)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val hash: Array[Byte] => Long =
      if (decodeImages) perceptualHashImage64 else perceptualHash64
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // One decoder context per partition; ImageIO reader lookup is
        // per-row but header sniffing fails fast on non-image bytes.
        it.map { case (id, blob) => (id, hash(blob)) }
      }
      .toDF("_id", "_sig")
  }

  /** REAL-CODEC audio path: `javax.sound.sampled` (JDK-only, headless —
    * no new dependency) decodes RIFF/WAVE and AIFF PCM payloads, mixes
    * channels down to mono, and reduces the track to a `samples`-window
    * RMS energy envelope — the representation behind published audio
    * fingerprints (Haitsma & Kalker 2002's energy-band deltas;
    * Chromaprint's chroma deltas): what survives re-encoding and gain
    * changes is the SHAPE of the energy over time, not absolute levels.
    * The envelope is normalized to its peak window (gain-invariant: a
    * volume-scaled re-encode produces the identical byte envelope) and
    * quantized to 0..255, so with the default 65 windows it feeds
    * [[perceptualHash64]] exactly like the image tier's luma strip — one
    * gradient hash + Hamming banding serves text (SimHash), images, and
    * audio. Returns None when no audio reader accepts the payload
    * (header sniffing fails fast on garbage). */
  def decodeAudioEnvelope(blob: Array[Byte],
                          samples: Int = 65): Option[Array[Byte]] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val raw = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(blob))
      val f = raw.getFormat
      val ch = f.getChannels
      val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        f.getSampleRate, 16, ch, 2 * ch, f.getSampleRate, false)
      val pcm = AudioSystem.getAudioInputStream(target, raw)
      val bytes = pcm.readAllBytes()
      pcm.close(); raw.close()
      val n = bytes.length / (2 * ch)
      if (n == 0) None
      else {
        // Per-window RMS over mono-mixed 16-bit little-endian frames.
        // Window k covers frames [⌊k·n/samples⌋, ⌊(k+1)·n/samples⌋),
        // widened to ≥ 1 frame (same widening rule as the image strip).
        val energies = new Array[Double](samples)
        var peak = 0.0
        var k = 0
        while (k < samples) {
          val f0 = math.min((k.toLong * n / samples).toInt, n - 1)
          val f1 = math.max(f0 + 1, ((k + 1).toLong * n / samples).toInt)
          var ss = 0.0
          var i = f0
          while (i < f1) {
            var c = 0
            var mix = 0L
            while (c < ch) {
              val o = (i * ch + c) * 2
              mix += ((bytes(o) & 0xFF) | (bytes(o + 1) << 8)).toShort
              c += 1
            }
            val s = mix.toDouble / ch
            ss += s * s
            i += 1
          }
          energies(k) = math.sqrt(ss / (f1 - f0))
          if (energies(k) > peak) peak = energies(k)
          k += 1
        }
        val out = new Array[Byte](samples)
        if (peak > 0) {
          k = 0
          while (k < samples) {
            out(k) = math.round(energies(k) / peak * 255.0).toInt
              .min(255).toByte
            k += 1
          }
        }
        Some(out)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Audio perceptual signature with the real decoder in front: decodable
    * PCM payloads hash their normalized energy envelope, anything else
    * falls back to the deterministic byte tier ([[perceptualHash64]] on
    * the raw bytes) — same totality contract as the image tier. */
  def perceptualHashAudio64(blob: Array[Byte]): Long =
    decodeAudioEnvelope(blob) match {
      case Some(env) => perceptualHash64(env)
      case None => perceptualHash64(blob)
    }

  /** Audio near-dup pairs: decoded-envelope signatures + the shared
    * 16-bit-chunk Hamming banding (recall 1.0 at Hamming <= 3 by
    * pigeonhole). The multi-MB audio blob reduces to 8 bytes at the scan
    * and never enters a shuffle — the same 100 TB shape as
    * [[perceptualHashPairs]]. */
  def audioHashPairs(df: DataFrame, idCol: String, blobCol: String,
                     maxHamming: Int = 3)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sigs = df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, blob) =>
        (id, perceptualHashAudio64(blob))
      })
      .toDF("_id", "_sig")
    Dedup.hammingBandPairs(Caches.pin(sigs), maxHamming)
  }

  /** Media near-dup pairs: perceptual signature + the same 16-bit-chunk
    * Hamming banding as SimHash (recall 1.0 at Hamming <= 3 by
    * pigeonhole). Output (doc_a, doc_b, hamming), doc_a < doc_b. This is
    * the dedup × multimodal intersection: near-identical images/frames
    * (re-encodes, brightness shifts, truncated payloads with identical
    * sampled gradients) cluster without ever joining on blob bytes. */
  def perceptualHashPairs(df: DataFrame, idCol: String, blobCol: String,
                          maxHamming: Int = 3, decodeImages: Boolean = false)(
      implicit spark: SparkSession): DataFrame = {
    Dedup.hammingBandPairs(
      Caches.pin(perceptualHashes(df, idCol, blobCol, decodeImages)), maxHamming)
  }
}
