package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: media
  * payloads travel as opaque `binary` columns with typed metadata
  * structs; decode / feature-extraction runs partition-wise so one
  * decoder instance amortizes over a whole batch of rows (the same
  * batch shape `mapInPandas`/Arrow gives Python pipelines).
  *
  * Two codecs behind the [[MediaDecoder]] seam:
  *   - [[ImageIODecoder]] — a REAL JDK-only image decoder
  *     (`javax.imageio`: PNG, JPEG, GIF, BMP): mime sniffed from magic
  *     bytes, dimensions and frame count from the decoded stream,
  *     checksum folded over the decoded ARGB pixels, and a 63-bit
  *     average-hash over a 9×7 luma grid ([[pixelAHash63]]) that feeds
  *     the same banded near-dup join as the byte-level pHash;
  *   - [[StubDecoder]] — deterministic fake features from the raw
  *     bytes, kept as the ORACLE-REPLAYABLE path (DuckDB can replay a
  *     byte fold; it cannot replay an IDCT): mm02's row pins the
  *     partition-wise plumbing bit-for-bit through the stub while
  *     MultimodalSpec drives the real decoder over real PNG/JPEG/BMP
  *     bytes.
  *
  * The real decoders ARE oracle-gated despite DuckDB having no codecs
  * (mm06/mm07): [[MediaFixtures]] builds payloads by running the REAL
  * JDK encoders (ImageIO PNG/BMP writers, `javax.sound.sampled`'s WAV
  * writer) over rasters/PCM whose content is an arithmetic function of
  * the id. Both container formats are LOSSLESS, so the decoded pixels/
  * samples equal the synthesized ones and the oracle recomputes every
  * decoded fact (dimensions, pixel-fold checksum, luma aHash, sample
  * checksum, energy hash) from first principles — while the engine
  * side exercises the full encode → container bytes → real decode
  * path on executors.
  *
  * Audio gets the same treatment as images via [[WavDecoder]]
  * (`javax.sound.sampled` ships WAV/PCM parsing in the JDK — an
  * earlier note here claiming otherwise was wrong); video containers
  * are the one family still stubbed (no JDK demuxer).
  */
object Multimodal {

  /** Decoded-media feature record. */
  final case class MediaFeatures(
      media_id: Long,
      mime: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum: Long
  )

  /** The decode seam. Implementations must be Serializable (instances
    * are constructed per partition on executors).
    */
  trait MediaDecoder extends Serializable {
    def decode(id: Long, bytes: Array[Byte]): MediaFeatures
  }

  /** Deterministic fake decode: dimensions and frame counts derived
    * from the payload bytes. Replace with a real codec off-container.
    */
  final class StubDecoder extends MediaDecoder {
    def decode(id: Long, bytes: Array[Byte]): MediaFeatures = {
      var h = 1469598103934665603L
      var i = 0
      while (i < bytes.length) { h = h * 1000003L + (bytes(i) & 0xffL); i += 1 }
      val mime =
        if (bytes.length % 3 == 0) "image/png"
        else if (bytes.length % 3 == 1) "audio/wav"
        else "video/mp4"
      MediaFeatures(
        media_id = id,
        mime = mime,
        n_bytes = bytes.length.toLong,
        width = 16 + math.floorMod(h, 1024).toInt,
        height = 16 + math.floorMod(h >>> 10, 1024).toInt,
        n_frames = 1 + math.floorMod(h >>> 20, 64).toInt,
        checksum = h
      )
    }
  }

  /** Magic-byte mime sniff for the JDK-decodable image formats. */
  private[operators] def sniffImageMime(b: Array[Byte]): Option[String] =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      Some("image/png")
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff)
      Some("image/jpeg")
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      Some("image/gif")
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M')
      Some("image/bmp")
    else None

  private def byteFnv(bytes: Array[Byte]): Long = {
    var h = 1469598103934665603L
    var i = 0
    while (i < bytes.length) { h = h * 1000003L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  /** Real JDK-only image decode (`javax.imageio`): PNG/JPEG/GIF/BMP.
    * Dimensions come from the decoded first frame, `n_frames` from the
    * reader's image count (animated GIFs > 1), and the checksum folds
    * the decoded ARGB pixels (so two byte-distinct encodings of the
    * same pixels collide — the property the dedup family wants from a
    * decode-level fingerprint). Bytes that fail the sniff or the
    * decode degrade to `application/octet-stream` with zero dimensions
    * and the byte-fold checksum — a curation pipeline quarantines
    * them, it does not crash. One decoder instance per partition
    * ([[decodeFeatures]]); `ImageIO` file caching is disabled so
    * decode never touches executor-local disk.
    */
  final class ImageIODecoder extends MediaDecoder {
    def decode(id: Long, bytes: Array[Byte]): MediaFeatures = {
      val mime = sniffImageMime(bytes)
      val img = mime.flatMap(_ => ImageIODecoder.readImage(bytes))
      (mime, img) match {
        case (Some(m), Some((bi, nFrames))) =>
          MediaFeatures(id, m, bytes.length.toLong,
            bi.getWidth, bi.getHeight, nFrames, ImageIODecoder.pixelFnv(bi))
        case _ =>
          MediaFeatures(id, "application/octet-stream", bytes.length.toLong,
            0, 0, 0, byteFnv(bytes))
      }
    }
  }

  object ImageIODecoder {
    javax.imageio.ImageIO.setUseCache(false)

    /** Decode the first frame + count frames; None when undecodable. */
    private[operators] def readImage(
        bytes: Array[Byte]): Option[(java.awt.image.BufferedImage, Int)] = {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) return None
        val r = readers.next()
        try {
          r.setInput(in)
          val img = r.read(0)
          val n =
            try math.max(1, r.getNumImages(true))
            catch { case _: Exception => 1 }
          Some((img, n))
        } finally r.dispose()
      } catch {
        case _: Exception => None
      } finally in.close()
    }

    /** FNV-style fold over the decoded ARGB raster, row-major. */
    private[operators] def pixelFnv(bi: java.awt.image.BufferedImage): Long = {
      var h = 1469598103934665603L
      var y = 0
      while (y < bi.getHeight) {
        var x = 0
        while (x < bi.getWidth) {
          h = h * 1000003L + (bi.getRGB(x, y) & 0xffffffffL)
          x += 1
        }
        y += 1
      }
      h
    }

    /** 63-bit average-hash over REAL PIXELS: a 9×7 grid of luma
      * samples (integer BT.601 weights), bit j set iff
      * `luma_j × 63 > Σ luma` — the same above-mean rule as the
      * byte-level [[graft.functions.Sketches.PHash63Expr]], so the
      * downstream banded join is shared verbatim. Near-identical
      * images (re-encode, small noise) agree on most grid bits;
      * unrelated images do not.
      */
    private[operators] def pixelAHash63(bi: java.awt.image.BufferedImage): Long = {
      val w = bi.getWidth
      val h = bi.getHeight
      val luma = new Array[Long](63)
      var sum = 0L
      var j = 0
      while (j < 63) {
        val x = if (w == 1) 0 else ((j % 9) * (w - 1)) / 8
        val y = if (h == 1) 0 else ((j / 9) * (h - 1)) / 6
        val rgb = bi.getRGB(x, y)
        val l = (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)) / 1000L
        luma(j) = l
        sum += l
        j += 1
      }
      var code = 0L
      j = 0
      while (j < 63) {
        if (luma(j) * 63 > sum) code |= (1L << j)
        j += 1
      }
      code
    }
  }

  /** Per-image decoded facts: the real-decoder output surface mm06
    * oracle-checks (byte length is deliberately ABSENT — encoded size
    * is a property of the encoder, not of the decode; mm02 pins the
    * byte-level plumbing).
    */
  final case class ImageFacts(
      media_id: Long,
      mime: String,
      width: Int,
      height: Int,
      n_frames: Int,
      pixel_checksum: Long,
      ahash: Long
  )

  /** Partition-wise REAL image decode ([[ImageIODecoder]] mechanics)
    * emitting the full decoded-fact row including the luma-grid
    * [[ImageIODecoder.pixelAHash63]]. Undecodable payloads degrade to
    * `application/octet-stream` with zero dims and the byte-fold
    * checksum (quarantine, not crash) — same contract as
    * [[decodeFeatures]].
    */
  def decodeImageFacts(media: DataFrame): Dataset[ImageFacts] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          sniffImageMime(bytes)
            .flatMap(m => ImageIODecoder.readImage(bytes).map((m, _))) match {
            case Some((m, (bi, nFrames))) =>
              ImageFacts(id, m, bi.getWidth, bi.getHeight, nFrames,
                ImageIODecoder.pixelFnv(bi), ImageIODecoder.pixelAHash63(bi))
            case None =>
              ImageFacts(id, "application/octet-stream", 0, 0, 0, byteFnv(bytes), 0L)
          }
        }
      }
  }

  /** Per-clip decoded audio facts (mm07's surface): container-level
    * format fields plus two content fingerprints — the PCM-sample fold
    * (re-encodes of the same samples collide) and a 63-bit
    * energy-envelope hash feeding the same banded near-dup join as the
    * image/text hashes.
    */
  final case class AudioFacts(
      media_id: Long,
      mime: String,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Long,
      duration_ms: Long,
      pcm_checksum: Long,
      energy_hash: Long
  )

  /** Magic-byte sniff for RIFF/WAVE containers. */
  private[operators] def sniffWavMime(b: Array[Byte]): Option[String] =
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')
      Some("audio/wav")
    else None

  /** REAL JDK-only audio decode (`javax.sound.sampled`): WAV/PCM.
    * Format fields come from the parsed header, the checksum folds the
    * decoded 16-bit samples (little-endian signed, masked to their
    * unsigned bit pattern — so a WAV re-write of the same PCM
    * collides), and the energy hash applies the shared above-mean rule
    * to 63 absolute-amplitude grid samples. Non-WAV or non-PCM16
    * payloads quarantine as `application/octet-stream`.
    */
  object WavDecoder extends Serializable {
    def decode(id: Long, bytes: Array[Byte]): AudioFacts = {
      val parsed = sniffWavMime(bytes).flatMap { _ =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = in.getFormat
            if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
              fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) None
            else {
              val data = in.readAllBytes()
              val ch = fmt.getChannels
              val n = data.length / (2 * ch)
              var h = 1469598103934665603L
              val amps = new Array[Long](63)
              var ampSum = 0L
              var i = 0
              while (i < n * ch) {
                val lo = data(2 * i) & 0xff
                val hi = data(2 * i + 1).toInt // sign-extends
                val s = (hi << 8) | lo
                h = h * 1000003L + (s & 0xffffL)
                i += 1
              }
              var j = 0
              while (j < 63) {
                // channel-0 grid samples (frame-major layout)
                val fi = if (n <= 1) 0 else ((j.toLong * (n - 1)) / 62).toInt
                val lo = data(2 * fi * ch) & 0xff
                val hi = data(2 * fi * ch + 1).toInt
                val s = (hi << 8) | lo
                amps(j) = math.abs(s.toLong)
                ampSum += amps(j)
                j += 1
              }
              var code = 0L
              j = 0
              while (j < 63) {
                if (amps(j) * 63 > ampSum) code |= (1L << j)
                j += 1
              }
              val rate = math.round(fmt.getSampleRate.toDouble).toInt
              Some(AudioFacts(id, "audio/wav", rate, ch, 16, n.toLong,
                n.toLong * 1000L / rate, h, code))
            }
          } finally in.close()
        } catch { case _: Exception => None }
      }
      parsed.getOrElse(
        AudioFacts(id, "application/octet-stream", 0, 0, 0, 0L, 0L, byteFnv(bytes), 0L))
    }
  }

  /** Partition-wise real WAV decode → [[AudioFacts]] rows. */
  def decodeAudioFacts(media: DataFrame): Dataset[AudioFacts] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) => WavDecoder.decode(id, bytes) })
  }

  /** Header-only audio facts — every [[AudioFacts]] field that does
    * NOT require decoding PCM data. */
  final case class AudioHeader(
      media_id: Long,
      mime: String,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Long,
      duration_ms: Long
  )

  /** Header-only WAV parse (VERDICT r12 item 6): a direct RIFF chunk
    * walk over the fmt/data headers — no PCM pass, no allocation, and
    * crucially no `javax.sound` SERVICE DISPATCH: a single-thread loop
    * over 20k fixture clips measured a javax header read at 48 μs/row,
    * no cheaper than the FULL decoder's 37 μs/row (NOTES, VERDICT 6):
    * the provider lookup is the cost for short audio, so a
    * header path built on `getAudioFileFormat` saves almost nothing.
    * This parse reads the same fields the javax reader exposes
    * (PCM format tag, channels, rate, bits, data length) and the
    * fixture oracle pins the agreement. Audits that only need
    * format/duration facts (mime census, duration histograms, rate
    * mix) take this path; only checksum/energy facts pay
    * [[WavDecoder]]'s full cost. Same quarantine contract: non-WAV /
    * non-PCM16 / malformed payloads come back as
    * `application/octet-stream` with zeroed fields.
    */
  object WavHeaderDecoder extends Serializable {
    def decode(id: Long, bytes: Array[Byte]): AudioHeader = {
      val quarantine = AudioHeader(id, "application/octet-stream", 0, 0, 0, 0L, 0L)
      if (sniffWavMime(bytes).isEmpty) quarantine
      else {
        def u16(o: Long) = (bytes(o.toInt) & 0xff) | ((bytes(o.toInt + 1) & 0xff) << 8)
        def u32(o: Long): Long = (u16(o).toLong | (u16(o + 2).toLong << 16)) & 0xffffffffL
        var off = 12L // past RIFF<size>WAVE
        var rate = 0; var ch = 0; var fmtOk = false; var dataLen = -1L
        while (off + 8 <= bytes.length && !(fmtOk && dataLen >= 0)) {
          val c0 = bytes(off.toInt); val c1 = bytes(off.toInt + 1)
          val c2 = bytes(off.toInt + 2); val c3 = bytes(off.toInt + 3)
          val len = u32(off + 4)
          if (c0 == 'f' && c1 == 'm' && c2 == 't' && c3 == ' ' &&
            len >= 16 && off + 8 + 16 <= bytes.length) {
            val formatTag = u16(off + 8)
            ch = u16(off + 10)
            rate = u32(off + 12).toInt
            val bits = u16(off + 22)
            fmtOk = formatTag == 1 && bits == 16 && ch > 0 && rate > 0
          } else if (c0 == 'd' && c1 == 'a' && c2 == 't' && c3 == 'a') {
            // a truncated payload caps the data run at what is present
            dataLen = math.min(len, bytes.length - off - 8)
          }
          off += 8 + len + (len & 1) // RIFF chunks are word-aligned
        }
        if (!fmtOk || dataLen < 0) quarantine
        else {
          val n = dataLen / (2L * ch)
          AudioHeader(id, "audio/wav", rate, ch, 16, n, n * 1000L / rate)
        }
      }
    }
  }

  /** Partition-wise header-only WAV parse → [[AudioHeader]] rows. */
  def decodeAudioHeaders(media: DataFrame): Dataset[AudioHeader] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) => WavHeaderDecoder.decode(id, bytes) })
  }

  /** Deterministic REAL-codec fixture payloads: content is an
    * arithmetic function of the id, the container bytes come from the
    * actual JDK encoders. Because PNG/BMP/WAV are lossless, a decode
    * of these payloads must reproduce the arithmetic content exactly —
    * which is what lets mm06/mm07 oracle-check the real decoders
    * against a DuckDB side that recomputes the same content without
    * any codec.
    */
  object MediaFixtures {
    def imgW(id: Long): Int = 9 + math.floorMod(id, 8).toInt  // 9..16
    def imgH(id: Long): Int = 7 + math.floorMod(id, 5).toInt  // 7..11

    /** Opaque-RGB channel values at (x, y): small-integer arithmetic a
      * SQL oracle replays verbatim.
      */
    def rgb(id: Long, x: Int, y: Int): Int = {
      val r = math.floorMod(id * 7 + 13L * x + 31L * y, 256).toInt
      val g = math.floorMod(id * 11 + 17L * x + 5L * y, 256).toInt
      val b = math.floorMod(id * 3 + 29L * x + 23L * y, 256).toInt
      (0xff << 24) | (r << 16) | (g << 8) | b
    }

    /** Real container bytes: even ids encode PNG, odd ids BMP — both
      * JDK writers, both lossless for opaque 24-bit RGB.
      */
    def imageBytes(id: Long): Array[Byte] = {
      val w = imgW(id); val h = imgH(id)
      val bi = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { bi.setRGB(x, y, rgb(id, x, y)); x += 1 }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      val fmt = if (id % 2 == 0) "png" else "bmp"
      require(javax.imageio.ImageIO.write(bi, fmt, out), s"no JDK $fmt writer")
      out.toByteArray
    }

    def wavRate(id: Long): Int = math.floorMod(id, 3) match {
      case 0 => 8000
      case 1 => 16000
      case _ => 44100
    }
    def wavFrames(id: Long): Int = 120 + math.floorMod(id, 257).toInt // 120..376

    /** Signed 16-bit PCM sample i of clip `id`. */
    def pcmSample(id: Long, i: Int): Int =
      math.floorMod(id * 31 + 7919L * i + 12345L, 65536).toInt - 32768

    /** Real RIFF/WAVE bytes via the JDK writer: mono PCM16 LE. */
    def wavBytes(id: Long): Array[Byte] = {
      val n = wavFrames(id)
      val data = new Array[Byte](2 * n)
      var i = 0
      while (i < n) {
        val s = pcmSample(id, i)
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        wavRate(id).toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
  }

  /** Wrap a text/id frame into the canonical media-batch shape:
    * (media_id long, payload binary). Stands in for reading real blobs
    * (parquet binary columns / tar shards).
    */
  def asMediaBatch(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload")
    )

  /** Partition-wise decode: one decoder per partition, streamed row
    * iteration (no per-row setup, no collect). Returns a typed
    * Dataset; downstream joins/filters stay columnar.
    */
  def decodeFeatures(
      media: DataFrame,
      decoder: MediaDecoder
  ): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // decoder is reused across the whole partition — the expensive
        // codec init happens once per task, not once per row
        rows.map { case (id, bytes) => decoder.decode(id, bytes) }
      }
  }

  /** Frame sampling: explode a payload into fixed-size chunk "frames"
    * with indices — the plumbing shape of video frame extraction
    * (real decoder would emit JPEG frames instead of byte slices).
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, everyNth: Int = 1): DataFrame =
    media
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      // empty payloads yield zero frames — without the filter,
      // sequence(0, -1) auto-negates its step and yields [0, -1]
      .filter(col("n_bytes") > 0)
      .withColumn(
        "frame_idx",
        explode(sequence(lit(0), ceil(col("n_bytes") / frameBytes).cast("int") - 1))
      )
      .filter(pmod(col("frame_idx"), lit(everyNth)) === 0)
      .withColumn("frame", expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
      .select("media_id", "frame_idx", "frame")

  /** Perceptual-hash near-dup detection over media payloads: 63-bit
    * aHash per payload (`functions.Sketches.PHash63Expr` — one pass,
    * no float mean), then the Manku banded join: candidates collide
    * on one of four 16-bit bands, verified by exact hamming distance.
    * The same scale shape as the SimHash text pairs — the shuffle
    * carries one long per payload, never the payload itself.
    */
  def phashPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 12
  ): DataFrame =
    phashPairsFromHashes(
      df.select(col(idCol).as("id"),
        graft.functions.Sketches.pHash63Col(col(payloadCol)).as("h")),
      maxHamming)

  /** Perceptual near-dup over REAL DECODED PIXELS: partition-wise
    * [[ImageIODecoder]] decode → [[ImageIODecoder.pixelAHash63]] luma
    * grid hash → the same Manku banded join as [[phashPairs]].
    * Undecodable payloads drop out (they have no pixels to compare;
    * [[decodeFeatures]] is where they surface for quarantine). Byte-
    * identical copies, re-encodes and lightly-noised variants collide;
    * the shuffle carries one long per image, never pixels or payloads.
    */
  def imagePhashPairs(media: DataFrame, maxHamming: Int = 12): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          sniffImageMime(bytes).flatMap(_ => ImageIODecoder.readImage(bytes))
            .map { case (bi, _) => (id, ImageIODecoder.pixelAHash63(bi)) }
        }
      }
      .toDF("id", "h")
    phashPairsFromHashes(hashes, maxHamming)
  }

  /** The shared banded-join tail: candidates collide on one of four
    * 16-bit bands of a 63-bit hash, verified by exact hamming.
    */
  private def phashPairsFromHashes(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val sk = hashes
      .localCheckpoint() // consumed by the band explode AND both verify lookups
    val banded = sk.select(
      col("id"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band_idx"),
          (shiftright(col("h"), 16 * b).bitwiseAND(lit(0xffffL))).as("band_key"))
      }: _*)).as("band"))
      .select(col("id"), col("band.band_idx"), col("band.band_key"))
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sk.select(col("id").as("id_a"), col("h").as("h_a")), "id_a")
      .join(sk.select(col("id").as("id_b"), col("h").as("h_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
