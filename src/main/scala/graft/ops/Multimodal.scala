package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multimodal column handling for training-data pipelines: media travels
 * as an opaque `binary` column plus a typed metadata struct; decode /
 * feature-extraction / resize / frame-sampling run as partition-local
 * batch kernels.
 *
 * Image decoding is REAL: `javax.imageio` (the JDK's standard codec
 * registry — PNG, JPEG, BMP, GIF out of the box) turns blob bytes into
 * pixels, and features/stats are computed from the decoded raster. Blobs
 * that are not decodable media (e.g. text packed as bytes in the demo
 * tables) fall back to deterministic content-hash features so mixed
 * corpora still flow — the fallback is a documented degradation for
 * non-media rows, not the decode path.
 */
object Multimodal {

  // ImageIO's default stream factory (useCache=true) backs EVERY
  // read/write with a FileCache temp FILE on disk — measured as the
  // dominant per-blob cost of the codec ops (r18: ~120 us/decode of a
  // 64x16 PNG, and tasks contend on the filesystem so the pass barely
  // scales with cores). Memory-cached streams decode the same bytes to
  // the same pixels; this is the JDK's documented in-memory switch
  // (guide §4: make the per-row kernel cheap before spreading it).
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaMeta(kind: String, width: Int, height: Int,
                             sampleRate: Int, durationMs: Long)

  /** Demo helper for testdata without real media: pack a string's UTF-8
    * bytes as the blob and synthesize plausible metadata. */
  def attachBlob(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      col(textCol).cast("binary").as("blob"),
      struct(
        lit("image").as("kind"),
        (pmod(col(idCol), lit(4)) * 256 + 256).cast("int").as("width"),
        (pmod(col(idCol), lit(3)) * 256 + 256).cast("int").as("height"),
        lit(0).as("sampleRate"),
        lit(0L).as("durationMs")).as("mm_meta"))

  /** Deterministic synthetic 64x16 PNG for goldens and specs: a
    * horizontal red ramp (r = 4x), vertical green ramp (g = 16y), constant
    * blue (id mod 256) — REAL encoded bytes a real decoder must parse,
    * with channel means known in closed form (126.0, 120.0, id mod 256). */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = 64; val h = 16
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val b = (id % 256).toInt
    var y = 0
    while (y < h) {
      val g = (16 * y) << 8
      var x = 0
      while (x < w) { img.setRGB(x, y, ((4 * x) << 16) | g | b); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode: blob bytes -> BufferedImage via the JDK codec
    * registry. Returns null when the bytes are not a decodable image
    * (ImageIO's own contract) — callers treat that as "not media". */
  private[ops] def readImage(blob: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
    catch { case _: java.io.IOException => null }

  /** Deterministic synthetic WAV for goldens and specs: 100 ms of an
    * alternating-sign square wave (16-bit mono PCM, 8 kHz) at amplitude
    * amp = 512*(2 + id%60) — REAL encoded bytes a real decoder must
    * parse. amp is a multiple of 512 so rms = peak = amp/32768 = k/64 is
    * EXACT in double arithmetic and terminates within 6 decimal digits
    * (no round-half ties between the Spark and oracle sides). */
  def syntheticWav(id: Long): Array[Byte] = {
    val rate = 8000; val n = 800
    val amp = (512 * (2 + id % 60)).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = if ((i & 1) == 0) amp else -amp
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    // the cached WAVE writer, not AudioSystem.write: the latter's
    // provider lookup re-walks the classpath per call on JDK 17 (see
    // audioReaders) — same bytes, same JDK WaveFileWriter
    wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** The JDK's WAVE writer, resolved once per JVM (see [[audioReaders]]
    * for why AudioSystem's per-call provider lookup is avoided). */
  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator().asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException(
        "no WAVE AudioFileWriter in the JDK registry"))
  }

  /** The JDK's registered audio file readers, resolved ONCE per JVM
    * through the public SPI — minus SoftMidiAudioFileReader. Two
    * measured pathologies (r18, thread dumps on the 50k-decode pass):
    * `AudioSystem.getAudioInputStream` resolves providers through a
    * synchronized static per call, and the SoftMidi reader's PROBE
    * calls `MidiSystem.getSequence`, whose uncached provider lookup
    * re-walks the whole classpath's jars under a GLOBAL lock — every
    * decode paid a classpath scan and the pass did not scale past one
    * thread (50k decodes: 2.3 s at 1 thread, 3.0 s at 32). Probing the
    * remaining reader instances directly keeps the real JDK codecs
    * (WAV/AIFF/AU — exactly this operator's documented contract; a
    * MIDI blob now reads as "not media" instead of being synth-rendered)
    * with first-match semantics and no lock. */
  private val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
    val b = Array.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    while (it.hasNext) {
      val r = it.next()
      if (!r.getClass.getSimpleName.contains("SoftMidi")) b += r
    }
    b.result()
  }

  /** AudioSystem.getAudioInputStream minus the synchronized provider
    * lookup: first reader that accepts the (mark/reset-capable) stream
    * wins; all declining is the registry's UnsupportedAudioFileException
    * contract. */
  private def audioStream(in: java.io.InputStream)
      : javax.sound.sampled.AudioInputStream = {
    var i = 0
    while (i < audioReaders.length) {
      try return audioReaders(i).getAudioInputStream(in)
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  /** REAL audio decode: blob bytes -> (sampleRate, channels, samples in
    * [-1, 1]) via javax.sound.sampled (WAV/AIFF/AU in the JDK registry).
    * Non-16-bit-LE-PCM encodings go through the JDK's own converters;
    * undecodable blobs return null ("not media", like readImage). */
  private[graft] def readAudio(blob: Array[Byte]): (Int, Int, Array[Double]) = {
    import javax.sound.sampled._
    try {
      val ais0 = audioStream(
        new java.io.ByteArrayInputStream(blob))
      val f0 = ais0.getFormat
      val ais =
        if (f0.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
            f0.getSampleSizeInBits == 16 && !f0.isBigEndian) ais0
        else AudioSystem.getAudioInputStream(
          new AudioFormat(f0.getSampleRate, 16, f0.getChannels, true, false), ais0)
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var r = ais.read(buf)
      while (r > 0) { bos.write(buf, 0, r); r = ais.read(buf) }
      val bytes = bos.toByteArray
      val ns = bytes.length / 2
      val out = new Array[Double](ns)
      var i = 0
      while (i < ns) {
        out(i) = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort / 32768.0
        i += 1
      }
      (math.round(ais.getFormat.getSampleRate).toInt, ais.getFormat.getChannels, out)
    } catch {
      case _: UnsupportedAudioFileException | _: java.io.IOException |
           _: IllegalArgumentException => null
    }
  }

  /**
   * Per-image raster statistics from REAL decoded pixels, batch-shaped
   * like [[extractFeatures]]: (id, width, height, mean_r, mean_g, mean_b).
   * Rows whose blobs do not decode as an image are DROPPED — corrupt or
   * non-media rows are a filter, not an error, in a bulk media pipeline
   * (count in minus count out = the corrupt tally).
   */
  def imageStats(df: DataFrame, idCol: String, blobCol: String,
                 batchSize: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, blob) =>
            val img = readImage(blob)
            if (img == null) Iterator.empty
            else {
              val w = img.getWidth; val h = img.getHeight
              val (sr, sg, sb) = channelSums(argbRaster(img))
              val n = w.toDouble * h
              Iterator.single((id, w, h, sr / n, sg / n, sb / n))
            }
          }
        }
      }
      .toDF("id", "width", "height", "mean_r", "mean_g", "mean_b")
  }

  /**
   * Per-clip audio statistics from REAL decoded samples, batch-shaped
   * like [[imageStats]]: (id, sample_rate, channels, duration_ms, rms,
   * peak) — rms/peak over all channels' interleaved samples, normalized
   * to [-1, 1]. Undecodable blobs are DROPPED (a filter, not an error,
   * like imageStats).
   */
  def audioStats(df: DataFrame, idCol: String, blobCol: String,
                 batchSize: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, blob) =>
            val dec = readAudio(blob)
            if (dec == null || dec._3.isEmpty || dec._1 <= 0 || dec._2 <= 0)
              Iterator.empty
            else {
              val (rate, channels, samples) = dec
              var sq = 0.0; var peak = 0.0
              var i = 0
              while (i < samples.length) {
                val s = samples(i)
                sq += s * s
                val a = math.abs(s); if (a > peak) peak = a
                i += 1
              }
              val durMs = math.round(1000.0 * (samples.length / channels) / rate)
              Iterator.single((id, rate, channels, durMs,
                math.sqrt(sq / samples.length), peak))
            }
          }
        }
      }
      .toDF("id", "sample_rate", "channels", "duration_ms", "rms", "peak")
  }

  /** Pixel-stat feature vector from a decoded image: channel means then a
    * side*side downsampled grayscale grid (side = ceil(sqrt(dim-3)),
    * truncated to fill), unit-normalized. Deterministic in the pixels —
    * independent of the encoder that produced the bytes. */
  /** One bulk ARGB fetch: row-batch getRGB skips the per-call ColorModel
    * conversion of pixel-at-a-time getRGB(x, y) — shared by the stats and
    * feature kernels. */
  private def argbRaster(img: java.awt.image.BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

  private def channelSums(px: Array[Int]): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
      i += 1
    }
    (sr, sg, sb)
  }

  private[ops] def pixelFeatures(img: java.awt.image.BufferedImage,
                                 dim: Int): Array[Float] = {
    require(dim >= 4, s"feature dim $dim too small for pixel stats")
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Float](dim)
    val px = argbRaster(img)
    val (sr, sg, sb) = channelSums(px)
    val n = w.toDouble * h
    out(0) = (sr / n / 255.0).toFloat
    out(1) = (sg / n / 255.0).toFloat
    out(2) = (sb / n / 255.0).toFloat
    // downsampled grayscale grid: mean luma of each cell of a side x side
    // tiling (cells cover the image exactly; integer bounds per cell)
    val cells = dim - 3
    val side = math.ceil(math.sqrt(cells.toDouble)).toInt
    var ci = 0
    var gy = 0
    while (gy < side && ci < cells) {
      val y0 = gy * h / side; val y1 = math.max((gy + 1) * h / side, y0 + 1)
      var gx = 0
      while (gx < side && ci < cells) {
        val x0 = gx * w / side; val x1 = math.max((gx + 1) * w / side, x0 + 1)
        var s = 0.0; var cnt = 0
        var yy = y0
        while (yy < math.min(y1, h)) {
          var xx = x0
          while (xx < math.min(x1, w)) {
            val p = px(yy * w + xx)
            s += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
              0.114 * (p & 0xff)
            cnt += 1; xx += 1
          }
          yy += 1
        }
        out(3 + ci) = if (cnt == 0) 0f else (s / cnt / 255.0).toFloat
        ci += 1; gx += 1
      }
      gy += 1
    }
    graft.core.VectorKernels.normalize(out)
  }

  /** Content-hash fallback features for blobs that are NOT decodable
    * media (text bytes, corrupt files): deterministic FNV-seeded
    * pseudo-features so mixed corpora keep flowing. Clearly a fallback —
    * decodable images always take [[pixelFeatures]]. */
  private[ops] def hashFeatures(blob: Array[Byte], dim: Int): Array[Float] = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < blob.length) { h = (h ^ (blob(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    val out = new Array[Float](dim)
    var j = 0
    var x = h
    while (j < dim) {
      x = Dedup.mix(x, j)
      out(j) = ((x >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat
      j += 1
    }
    graft.core.VectorKernels.normalize(out)
  }

  /**
   * Feature extraction over blobs, batch-shaped: rows stream through a
   * partition-local kernel in fixed-size batches (the JVM analog of an
   * Arrow-batched vectorized UDF — amortizes per-batch codec setup).
   * Decodable images yield REAL pixel-stat features ([[pixelFeatures]]);
   * non-media blobs fall back to content-hash features. Output:
   * (id, features: Array[Float]) with unit norm.
   */
  def extractFeatures(df: DataFrame, idCol: String, blobCol: String, dim: Int = 64,
                      batchSize: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // per-batch setup point for heavier codec/model sessions
          batch.iterator.map { case (id, blob) =>
            val img = readImage(blob)
            val f = if (img != null) pixelFeatures(img, dim)
                    else hashFeatures(blob, dim)
            (id, f.toSeq)
          }
        }
      }
      .toDF("id", "features")
  }

  /**
   * REAL raster resize (Graphics2D bilinear scaling): decodable image
   * blobs are re-encoded as PNG at (targetW, targetH) and the metadata
   * struct is rewritten to match; non-media blobs pass through with only
   * the metadata updated (same fallback contract as [[extractFeatures]]).
   */
  def resize(df: DataFrame, targetW: Int, targetH: Int,
             blobCol: String = "blob"): DataFrame = {
    val resizeBlob = udf { blob: Array[Byte] =>
      val img = readImage(blob)
      if (img == null) blob
      else {
        val dst = new java.awt.image.BufferedImage(
          targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, targetW, targetH, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        bos.toByteArray
      }
    }
    val resized = df.withColumn(blobCol, resizeBlob(col(blobCol)))
    // rewrite the metadata struct only when the frame follows the
    // readMedia/attachBlob schema — a bare (id, blob) frame resizes too
    if (resized.columns.contains("mm_meta"))
      resized.withColumn("mm_meta",
        struct(
          col("mm_meta.kind"),
          lit(targetW).as("width"),
          lit(targetH).as("height"),
          col("mm_meta.sampleRate"),
          col("mm_meta.durationMs")))
    else resized
  }

  /** Deterministic synthetic MJPEG clip for goldens and specs: `frames`
    * solid-gray JPEG frames (gray level 16*((id + frameNo) % 16))
    * concatenated back-to-back — the raw MJPEG stream shape IP cameras
    * emit. REAL encoded bytes: every frame is a complete ImageIO JPEG a
    * real decoder must parse. */
  def syntheticMjpeg(id: Long, frames: Int = 8, w: Int = 32,
                     h: Int = 16): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < frames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gray = (16 * ((id + f) % 16)).toInt
      val rgb = (gray << 16) | (gray << 8) | gray
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      javax.imageio.ImageIO.write(img, "jpg", bos)
      f += 1
    }
    bos.toByteArray
  }

  /** REAL MJPEG parse: split a raw MJPEG stream (concatenated JPEGs) into
    * complete per-frame JPEG blobs by WALKING THE MARKER STRUCTURE, not by
    * scanning for SOI byte patterns: marker-segment payloads (DQT/DHT/
    * APPn, EXIF thumbnails) may legitimately contain FF D8 FF, so a naive
    * scan can false-split and silently corrupt frames. Each frame spans
    * SOI to its matching EOI; tables/headers are skipped by their length
    * fields, entropy-coded data after SOS by the stuffed-FF rule (FF 00
    * and restart markers FF D0-D7 are data, anything else ends the scan).
    * A structurally broken frame is SKIPPED (rescan from past its SOI) —
    * corrupt frames are a filter, not an error, and never a garbage blob
    * handed downstream. Returns empty when the bytes hold no complete
    * JPEG at all ("not media"). */
  private[ops] def mjpegFrames(blob: Array[Byte]): Array[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val n = blob.length
    @inline def u(i: Int): Int = blob(i) & 0xff
    var i = 0
    while (i + 1 < n) {
      if (u(i) == 0xff && u(i + 1) == 0xd8) {
        val start = i
        var p = i + 2
        var end = -1
        var broken = false
        while (!broken && end < 0 && p + 1 < n) {
          if (u(p) != 0xff) broken = true
          else u(p + 1) match {
            case 0xd9 => end = p + 2                       // EOI: frame complete
            case 0xd8 => broken = true                     // nested SOI: malformed
            case 0xff => p += 1                            // fill byte
            case m if m == 0x01 || (m >= 0xd0 && m <= 0xd7) =>
              p += 2                                       // standalone marker
            case 0xda =>                                   // SOS: header, then
              if (p + 3 >= n) broken = true                // entropy-coded data
              else {
                var q = p + 2 + ((u(p + 2) << 8) | u(p + 3))
                var next = -1
                while (next < 0 && q + 1 < n) {
                  if (u(q) != 0xff) q += 1
                  else {
                    val m2 = u(q + 1)
                    if (m2 == 0x00 || (m2 >= 0xd0 && m2 <= 0xd7)) q += 2
                    else next = q                          // real marker ends scan
                  }
                }
                if (next < 0) broken = true else p = next
              }
            case _ =>                                      // length-field segment
              if (p + 3 >= n) broken = true
              else {
                val len = (u(p + 2) << 8) | u(p + 3)
                if (len < 2) broken = true else p += 2 + len
              }
          }
        }
        if (end > 0) {
          out += java.util.Arrays.copyOfRange(blob, start, end)
          i = end
        } else i = start + 2 // truncated/malformed frame: skip its SOI, rescan
      } else i += 1
    }
    out.toArray
  }

  /**
   * Pluggable frame source — the SPI for video containers the JDK cannot
   * decode (H.264/MP4 is the dominant real-world format and has no JDK
   * codec; see [[sampleFrames]]). Implementations wrap an external decode
   * service or native library OUTSIDE this engine; the engine ships only
   * the JDK-pure [[MjpegDecoder]]. Contract:
   *  - `frames(blob)` yields (frameNo, frameBytes) in stream order, where
   *    frameBytes is a complete single-image blob that [[imageStats]] /
   *    [[extractFeatures]] can decode downstream (JPEG/PNG/...);
   *  - a blob that is not this decoder's media yields an EMPTY iterator
   *    (the row is then dropped — a filter, not an error, like every
   *    decoder in this pipeline); decoders must not throw on garbage;
   *  - implementations must be Serializable (they ship inside the
   *    partition-local task closure) and stateless or cheaply
   *    re-initializable per partition.
   */
  trait FrameDecoder extends Serializable {
    def name: String
    def frames(blob: Array[Byte]): Iterator[(Int, Array[Byte])]
  }

  /** Built-in raw-MJPEG frame source (see [[mjpegFrames]]). */
  object MjpegDecoder extends FrameDecoder {
    override def name: String = "mjpeg"
    override def frames(blob: Array[Byte]): Iterator[(Int, Array[Byte])] =
      mjpegFrames(blob).iterator.zipWithIndex.map { case (b, k) => (k, b) }
  }

  /**
   * External-binary [[FrameDecoder]] for containers the JDK cannot parse —
   * H.264/H.265 in MP4/MKV/WebM foremost: each blob round-trips through an
   * `ffmpeg` CLI subprocess (`-f image2pipe -vcodec mjpeg`), whose stdout
   * is a raw MJPEG stream the existing [[mjpegFrames]] splitter turns into
   * per-frame JPEGs. No native library enters the engine: the dependency
   * is a PATH binary, probed once per JVM ([[FfmpegDecoder.available]]).
   *
   * LOUD on an absent binary: [[frames]] throws IllegalStateException
   * rather than yielding zero frames — [[sampleFrames]] treats
   * zero-frame blobs as a filter, and a missing decoder silently
   * filtering out an entire corpus is the exact failure mode this
   * refuses. Garbage BLOBS still yield zero frames (ffmpeg exits nonzero
   * with empty output), per the pipeline-wide decoder contract.
   *
   * `maxDecodedFrames` bounds the subprocess output (`-frames:v`) — pass
   * everyN*maxFrames from the [[sampleFrames]] call site so a long video
   * decodes only the prefix the sampler can ever emit; `fps` > 0
   * re-samples the stream by wall-clock rate instead (`-vf fps=`),
   * giving time-uniform frames independent of the container's frame
   * rate. Blobs land in a task-local temp file first: MP4s with a
   * trailing moov atom are not stdin-streamable.
   *
   * `timeoutSec` bounds each blob's subprocess wall clock: a pathological
   * container that makes ffmpeg probe forever would otherwise block
   * `readAllBytes()` indefinitely and hang the Spark task (destroyForcibly
   * only ran after the read returned). On expiry a shared daemon watchdog
   * destroys the child — the read unblocks at pipe EOF — and the row
   * FAILS LOUDLY (RuntimeException), not a silent zero-frame filter: a
   * timeout is a decode-infrastructure pathology, not a garbage blob.
   *
   * `bin` is the binary invoked (default `ffmpeg` from PATH) — point it
   * at an absolute path when executors carry a pinned/static build.
   * Java resolves bare subprocess names against the PATH the JVM
   * STARTED with (not `ProcessBuilder.environment`), so an explicit
   * path is also the only way to redirect the binary per-decoder —
   * which is how the stub-driven specs execute every branch of this
   * plumbing on hosts with no ffmpeg at all.
   */
  final case class FfmpegDecoder(maxDecodedFrames: Int = 256,
                                 fps: Double = 0.0,
                                 timeoutSec: Double = 120.0,
                                 bin: String = "ffmpeg") extends FrameDecoder {
    require(maxDecodedFrames >= 1,
      s"maxDecodedFrames must be >= 1, got $maxDecodedFrames")
    require(timeoutSec > 0, s"timeoutSec must be > 0, got $timeoutSec")
    override def name: String = "ffmpeg"
    override def frames(blob: Array[Byte]): Iterator[(Int, Array[Byte])] = {
      if (!FfmpegDecoder.available(bin))
        throw new IllegalStateException(
          s"ffmpeg binary '$bin' not found — FfmpegDecoder cannot run. " +
          "Install ffmpeg on every executor (it is probed as a CLI binary), " +
          "or use MjpegDecoder / a custom FrameDecoder for this corpus.")
      if (blob == null || blob.isEmpty) return Iterator.empty
      val tmp = java.nio.file.Files.createTempFile("graft-ffmpeg", ".bin")
      try {
        java.nio.file.Files.write(tmp, blob)
        // Locale.ROOT: the default locale can render 7.5 as "7,5", and a
        // comma is the ffmpeg filtergraph separator — the filter would
        // fail and silently zero-frame the whole corpus
        val fpsArg = String.format(java.util.Locale.ROOT, "fps=%.4f",
          java.lang.Double.valueOf(fps))
        val cmd = Seq(bin, "-v", "error", "-i", tmp.toString) ++
          (if (fps > 0) Seq("-vf", fpsArg) else Nil) ++
          Seq("-frames:v", maxDecodedFrames.toString,
            "-f", "image2pipe", "-vcodec", "mjpeg", "-q:v", "2", "pipe:1")
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val p = pb.start()
        // destroy on EVERY exit path: an interrupted/failed read would
        // otherwise leave a live child blocked on its full stdout pipe —
        // retried tasks would accumulate zombie decoders per executor
        val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
        val kill = new java.util.TimerTask {
          override def run(): Unit = { timedOut.set(true); p.destroyForcibly(); () }
        }
        FfmpegDecoder.watchdog.schedule(kill, (timeoutSec * 1000).toLong)
        try {
          p.getOutputStream.close()
          val out = p.getInputStream.readAllBytes()
          val exit = p.waitFor()
          // timedOut alone is not proof of a stuck decode: the timer can
          // fire in the window between a SUCCESSFUL completion and
          // kill.cancel() below (destroyForcibly no-ops on an exited
          // process). Only a kill that actually interrupted the child —
          // nonzero exit with the flag set — is a watchdog timeout; a
          // garbage blob's own nonzero exit (flag unset) stays the
          // documented zero-frames filter.
          if (timedOut.get() && exit != 0)
            throw new RuntimeException(
              s"ffmpeg decode exceeded ${timeoutSec}s on a ${blob.length}-byte " +
              "blob — subprocess killed by the decode watchdog")
          // nonzero exit on garbage input leaves `out` empty -> zero frames
          mjpegFrames(out).iterator.zipWithIndex.map { case (b, k) => (k, b) }
        } finally { kill.cancel(); p.destroyForcibly(); () }
      } finally { java.nio.file.Files.deleteIfExists(tmp); () }
    }
  }

  object FfmpegDecoder {
    /** Shared daemon watchdog timer for decode timeouts (one thread per
      * JVM, never blocks shutdown). */
    private[ops] lazy val watchdog =
      new java.util.Timer("graft-ffmpeg-watchdog", true)

    /** One probe per (JVM, binary path) — executors probe independently. */
    private val probes =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

    def available(bin: String): Boolean =
      probes.computeIfAbsent(bin, b =>
        try {
          val p = new ProcessBuilder(b, "-version")
            .redirectErrorStream(true).start()
          p.getInputStream.readAllBytes()
          p.waitFor() == 0
        } catch { case _: java.io.IOException => java.lang.Boolean.FALSE })

    /** The default PATH binary's probe. */
    def available: Boolean = available("ffmpeg")
  }

  /**
   * Frame sampling for video blobs: emits (id, frame_no, frame_blob) for
   * every `everyN`-th DECODED frame up to `maxFrames`, with `frame_no`
   * the decoder's stream position. The default [[MjpegDecoder]] is fully
   * JDK-pure (each emitted `frame_blob` is a complete JPEG that
   * [[imageStats]]/[[extractFeatures]] decode downstream); containers the
   * JDK cannot parse — H.264 in MP4 foremost — plug in via a custom
   * [[FrameDecoder]] wrapping an external decode service, with no native
   * dependency entering the engine. Blobs the decoder yields no frames
   * for are DROPPED (a filter, not an error — the pipeline-wide decoder
   * contract).
   */
  def sampleFrames(df: DataFrame, idCol: String, blobCol: String, everyN: Int = 10,
                   maxFrames: Int = 8,
                   decoder: FrameDecoder = MjpegDecoder): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    val spark = df.sparkSession
    import spark.implicits._
    val dec = decoder // ship the decoder, not the enclosing object
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, blob) =>
        // sample by POSITION in the decoder's emission (robust to sparse
        // frame numbering, e.g. a keyframe-only decoder), report the
        // decoder's frame_no
        dec.frames(blob).zipWithIndex
          .collect { case ((fno, fb), pos) if pos % everyN == 0 => (id, fno, fb) }
          .take(maxFrames)
      }
      .toDF("id", "frame_no", "frame_blob")
  }
}
