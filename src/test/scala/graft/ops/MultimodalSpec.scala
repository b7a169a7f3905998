package graft.ops

import graft.SparkSpec
import graft.core.{VectorKernels => K}

class MultimodalSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq((0L, "alpha beta gamma"), (1L, "delta epsilon"), (2L, "zeta"))
      .toDF("doc_id", "text")
  }

  test("attachBlob schema: binary blob + typed metadata struct") {
    val b = Multimodal.attachBlob(docs, "doc_id", "text")
    val schema = b.schema
    assert(schema("blob").dataType.typeName == "binary")
    val meta = schema("mm_meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("kind", "width", "height", "sampleRate", "durationMs"))
  }

  test("extractFeatures: deterministic, unit-norm, batch-size independent") {
    import spark.implicits._
    val b = Multimodal.attachBlob(docs, "doc_id", "text")
    val f1 = Multimodal.extractFeatures(b, "doc_id", "blob", 32, batchSize = 1)
      .as[(Long, Seq[Float])].collect().toMap
    val f2 = Multimodal.extractFeatures(b.repartition(3), "doc_id", "blob", 32, batchSize = 256)
      .as[(Long, Seq[Float])].collect().toMap
    assert(f1 == f2, "features must not depend on batching or partitioning")
    f1.values.foreach(v => assert(math.abs(K.norm(v.toArray) - 1.0) < 1e-5))
  }

  test("resize rewrites metadata, preserves blob") {
    import spark.implicits._
    val b = Multimodal.attachBlob(docs, "doc_id", "text")
    val r = Multimodal.resize(b, 128, 128)
    val metas = r.select("mm_meta.width", "mm_meta.height").as[(Int, Int)].collect()
    assert(metas.forall(_ == ((128, 128))))
    assert(r.select("blob").collect().toSeq == b.select("blob").collect().toSeq)
  }

  test("sampleFrames parses REAL MJPEG streams: every-Nth frame, each a " +
       "decodable JPEG with the planted gray level; non-video dropped") {
    import spark.implicits._
    val rows = Seq(
      3L -> Multimodal.syntheticMjpeg(3L, frames = 8),
      9L -> "definitely not a video".getBytes("UTF-8"))
      .toDF("doc_id", "blob")
    val frames = Multimodal.sampleFrames(rows, "doc_id", "blob",
      everyN = 2, maxFrames = 3)
      .as[(Long, Int, Array[Byte])].collect().sortBy(_._2)
    assert(frames.map(_._1).toSet == Set(3L), "non-video blob dropped")
    assert(frames.map(_._2).toSeq == Seq(0, 2, 4), "every 2nd frame, original frame_no")
    frames.foreach { case (_, f, blob) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
      assert(img != null, s"frame $f is a complete decodable JPEG")
      assert(img.getWidth == 32 && img.getHeight == 16)
      val planted = 16.0 * ((3 + f) % 16)
      val p = img.getRGB(16, 8)
      val mean = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3.0
      assert(math.abs(mean - planted) <= 4.0,
        s"frame $f gray $mean vs planted $planted (JPEG lossy tolerance)")
    }
    // frames compose with the image decoder downstream (explode -> stats)
    val stats = Multimodal.imageStats(
      Multimodal.sampleFrames(rows, "doc_id", "blob", everyN = 1, maxFrames = 8)
        .select($"frame_no".cast("long").as("fid"), $"frame_blob"),
      "fid", "frame_blob")
    assert(stats.count() == 8L, "all 8 frames decode through imageStats")
  }

  test("imageStats decodes REAL PNG bytes to exact channel means") {
    import spark.implicits._
    // synthetic ramps have closed-form means: r=4x -> 126.0, g=16y ->
    // 120.0, b = id mod 256 — the decoder must parse real PNG bytes
    val blobs = Seq(7L, 300L).map(id => (id, Multimodal.syntheticPng(id)))
      .toDF("doc_id", "blob")
    val got = Multimodal.imageStats(blobs, "doc_id", "blob")
      .as[(Long, Int, Int, Double, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6))).toMap
    assert(got(7L) == ((64, 16, 126.0, 120.0, 7.0)))
    assert(got(300L) == ((64, 16, 126.0, 120.0, 44.0))) // 300 mod 256
  }

  test("imageStats decodes JPEG (lossy: means within tolerance); drops non-images") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 32).foreach(y => (0 until 32).foreach(x =>
      img.setRGB(x, y, (200 << 16) | (100 << 8) | 50)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val rows = Seq(
      (1L, bos.toByteArray),
      (2L, "not an image at all".getBytes("UTF-8"))).toDF("doc_id", "blob")
    val got = Multimodal.imageStats(rows, "doc_id", "blob")
      .as[(Long, Int, Int, Double, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L), "non-image row must be dropped")
    val (_, w, h, r, g, b) = got.head
    assert(w == 32 && h == 32)
    assert(math.abs(r - 200) < 4 && math.abs(g - 100) < 4 && math.abs(b - 50) < 4,
      s"jpeg means off: ($r, $g, $b)")
  }

  test("extractFeatures uses real pixel features for images, hash fallback otherwise") {
    import spark.implicits._
    val solid = { (rgb: Int) =>
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 16).foreach(y => (0 until 16).foreach(x => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, solid(0xff0000)), // pure red
      (2L, solid(0x0000ff)), // pure blue
      (3L, "plain text".getBytes("UTF-8"))).toDF("doc_id", "blob")
    val f = Multimodal.extractFeatures(rows, "doc_id", "blob", 19)
      .as[(Long, Seq[Float])].collect().toMap
    // pixel features head = channel means / 255: red has f0 > 0, f1 = f2 = 0
    assert(f(1L)(0) > 0.5f && f(1L)(1) == 0f && f(1L)(2) == 0f, f(1L).take(3))
    assert(f(2L)(2) > 0.5f && f(2L)(0) == 0f && f(2L)(1) == 0f, f(2L).take(3))
    assert(f(1L) != f(2L))
    // all unit-norm, including the hash-fallback text row
    f.values.foreach(v => assert(math.abs(K.norm(v.toArray) - 1.0) < 1e-5))
  }

  test("resize rescales real rasters; decoded dims match the target") {
    import spark.implicits._
    val b = Seq((1L, Multimodal.syntheticPng(1L))).toDF("doc_id", "blob")
      .withColumn("mm_meta", org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit("image").as("kind"),
        org.apache.spark.sql.functions.lit(64).as("width"),
        org.apache.spark.sql.functions.lit(16).as("height"),
        org.apache.spark.sql.functions.lit(0).as("sampleRate"),
        org.apache.spark.sql.functions.lit(0L).as("durationMs")))
    val r = Multimodal.resize(b, 32, 16)
    val blob = r.select("blob").as[Array[Byte]].head()
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
    assert(img.getWidth == 32 && img.getHeight == 16, "raster actually resized")
    val metas = r.select("mm_meta.width", "mm_meta.height").as[(Int, Int)].head()
    assert(metas == ((32, 16)))
  }

  test("audioStats decodes real WAV bytes: closed-form rms/peak/duration; " +
       "non-audio dropped") {
    import spark.implicits._
    val rows = Seq(
      7L  -> Multimodal.syntheticWav(7L),
      42L -> Multimodal.syntheticWav(42L),
      1L  -> "not audio at all".getBytes("UTF-8"),   // non-media bytes
      2L  -> Multimodal.syntheticPng(2L))            // real media, wrong modality
      .toDF("doc_id", "blob")
    val got = Multimodal.audioStats(rows, "doc_id", "blob")
      .as[(Long, Int, Int, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(7L, 42L), "only decodable audio rows survive")
    got.foreach { case (id, rate, ch, durMs, rms, peak) =>
      val expect = 512.0 * (2 + id % 60) / 32768.0
      assert(rate == 8000 && ch == 1 && durMs == 100L, s"id=$id meta")
      assert(rms == expect, s"id=$id rms $rms != $expect (exact by construction)")
      assert(peak == expect, s"id=$id peak")
    }
  }

  test("a MIDI blob is not media: readAudio returns null") {
    // minimal format-0 standard MIDI file: one note on/off, end of track
    val track = Array(0x00, 0x90, 0x3c, 0x40, 0x60, 0x80, 0x3c, 0x40,
      0x00, 0xff, 0x2f, 0x00).map(_.toByte)
    val midi = "MThd".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 6, 0, 0, 0, 1, 0, 0x60) ++
      "MTrk".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, track.length.toByte) ++ track
    // the bytes are real MIDI, so the null is the reader contract
    assert(javax.sound.midi.MidiSystem.getSequence(
      new java.io.ByteArrayInputStream(midi)).getTracks.length == 1)
    assert(Multimodal.readAudio(midi) == null)
  }

  test("mjpegFrames walks marker structure: FF D8 FF inside an APP1 payload " +
       "does not false-split; truncated tail frame dropped, not emitted as garbage") {
    // hand-build frame 1 = a real JPEG with an APP1 segment whose payload
    // embeds FF D8 FF (the EXIF-thumbnail shape the naive SOI scan split on)
    val plain = Multimodal.syntheticMjpeg(3L, frames = 1)
    val payload = Array[Byte](1, 2, 0xff.toByte, 0xd8.toByte, 0xff.toByte, 7, 8)
    val len = payload.length + 2
    val app1 = Array[Byte](0xff.toByte, 0xe1.toByte,
      ((len >> 8) & 0xff).toByte, (len & 0xff).toByte) ++ payload
    val withApp1 = plain.take(2) ++ app1 ++ plain.drop(2)
    val second = Multimodal.syntheticMjpeg(4L, frames = 1)
    val frames = Multimodal.mjpegFrames(withApp1 ++ second)
    assert(frames.length == 2,
      s"embedded SOI bytes must not split a frame: got ${frames.length}")
    // both split frames decode, and the first kept its APP1 bytes
    frames.foreach(f => assert(Multimodal.readImage(f) != null, "frame decodes"))
    assert(frames(0).length == withApp1.length, "frame 0 spans SOI..EOI exactly")
    // a truncated final frame (no EOI) is skipped entirely
    val three = Multimodal.syntheticMjpeg(5L, frames = 3)
    val cut = three.dropRight(10)
    val kept = Multimodal.mjpegFrames(cut)
    assert(kept.length == 2, s"truncated tail frame must drop: got ${kept.length}")
    kept.foreach(f => assert(Multimodal.readImage(f) != null))
  }

  test("FrameDecoder SPI: an external decoder plugs into sampleFrames") {
    import spark.implicits._
    // fake external decoder standing in for an H.264 service: "container"
    // = 4-byte magic then length-prefixed PNG frames, emitting every
    // SECOND stream position (sparse frame numbering)
    object FakeContainerDecoder extends Multimodal.FrameDecoder {
      override def name: String = "fake-h264"
      override def frames(blob: Array[Byte]): Iterator[(Int, Array[Byte])] = {
        if (blob.length < 4 || blob(0) != 'F' || blob(1) != 'A' ||
            blob(2) != 'K' || blob(3) != 'E') return Iterator.empty
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
        var p = 4; var k = 0
        while (p + 4 <= blob.length) {
          val n = java.nio.ByteBuffer.wrap(blob, p, 4).getInt
          out += ((2 * k, java.util.Arrays.copyOfRange(blob, p + 4, p + 4 + n)))
          p += 4 + n; k += 1
        }
        out.iterator
      }
    }
    def pack(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("FAKE".getBytes)
      frames.foreach { f =>
        bos.write(java.nio.ByteBuffer.allocate(4).putInt(f.length).array()); bos.write(f)
      }
      bos.toByteArray
    }
    val clip = pack((0 until 5).map(i => Multimodal.syntheticPng(i.toLong)))
    val rows = Seq(1L -> clip, 2L -> "not a container".getBytes("UTF-8"))
      .toDF("doc_id", "blob")
    val got = Multimodal.sampleFrames(rows, "doc_id", "blob",
        everyN = 2, maxFrames = 2, decoder = FakeContainerDecoder)
      .as[(Long, Int, Array[Byte])].collect().sortBy(r => (r._1, r._2))
    // position sampling (0, 2) with the decoder's sparse numbering (x2)
    assert(got.map(r => (r._1, r._2)).toSeq == Seq((1L, 0), (1L, 4)),
      s"got ${got.map(r => (r._1, r._2)).toSeq}")
    // emitted frames decode downstream like any media blob
    got.foreach(r => assert(Multimodal.readImage(r._3) != null))
  }

  test("resize takes a custom blob column and works without mm_meta") {
    import spark.implicits._
    val rows = Seq((9L, Multimodal.syntheticPng(9L))).toDF("doc_id", "img_bytes")
    val r = Multimodal.resize(rows, 20, 10, blobCol = "img_bytes")
    val out = r.select("img_bytes").as[Array[Byte]].head()
    val img = Multimodal.readImage(out)
    assert(img.getWidth == 20 && img.getHeight == 10)
    assert(r.columns.toSeq == Seq("doc_id", "img_bytes"), "no phantom columns")
  }

  test("features compose with KNN (media-embedding plumbing end-to-end)") {
    import spark.implicits._
    val b = Multimodal.attachBlob(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(b, "doc_id", "blob", 16)
    val q = feats.filter($"id" === 0L).select("features").as[Seq[Float]].head().toArray
    val top = Knn.topK(feats, "id", "features", q, 1).select("id").as[Long].head()
    assert(top == 0L) // self is its own nearest neighbor
  }

  test("FfmpegDecoder absent from PATH: LOUD failure, not a silent " +
       "zero-frame filter (a missing decoder must never empty a corpus)") {
    assume(!Multimodal.FfmpegDecoder.available,
      "ffmpeg IS installed here — the absent-binary path cannot be driven")
    val e = intercept[IllegalStateException] {
      Multimodal.FfmpegDecoder().frames(Multimodal.syntheticMjpeg(1L))
    }
    assert(e.getMessage.contains("ffmpeg"), e.getMessage)
    // and through the Spark path: the task must FAIL, not return 0 rows
    import spark.implicits._
    val df = Seq((1L, Multimodal.syntheticMjpeg(1L))).toDF("id", "blob")
    val thrown = intercept[Throwable] {
      Multimodal.sampleFrames(df, "id", "blob", everyN = 1,
        decoder = Multimodal.FfmpegDecoder()).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(thrown).exists(_.getMessage != null) &&
      chain(thrown).exists(c =>
        Option(c.getMessage).exists(_.contains("ffmpeg"))),
      s"expected the ffmpeg error to surface, got: $thrown")
  }

  test("FfmpegDecoder config validation is decoder-local (no binary needed)") {
    val e = intercept[IllegalArgumentException](
      Multimodal.FfmpegDecoder(maxDecodedFrames = 0))
    assert(e.getMessage.contains("maxDecodedFrames"))
  }

  test("mm_frames_mp4 golden: ffmpeg-synthesized H.264 MP4 decodes to " +
       "sampled JPEG frames with real pixel stats [gated on ffmpeg]") {
    assume(Multimodal.FfmpegDecoder.available,
      "ffmpeg not on PATH — golden runs only where the binary exists")
    import spark.implicits._
    import scala.sys.process._
    // synthesize a 16-frame H.264 MP4 test pattern with ffmpeg itself
    val mp4 = java.nio.file.Files.createTempFile("graft-mm", ".mp4")
    val rc = Seq("ffmpeg", "-y", "-v", "error", "-f", "lavfi", "-i",
      "testsrc=duration=2:size=64x48:rate=8", "-pix_fmt", "yuv420p",
      mp4.toString).!
    assert(rc == 0, s"ffmpeg synthesis failed rc=$rc")
    val blob = java.nio.file.Files.readAllBytes(mp4)
    val df = Seq((7L, blob)).toDF("id", "blob")
    val frames = Multimodal.sampleFrames(df, "id", "blob", everyN = 4,
      maxFrames = 3, decoder = Multimodal.FfmpegDecoder(maxDecodedFrames = 16))
    val got = frames.collect()
    assert(got.length == 3, s"expected 3 sampled frames, got ${got.length}")
    // each emitted frame is a real JPEG the imageStats path can decode
    val stats = Multimodal.imageStats(frames, "id", "frame_blob")
      .select("width", "height").as[(Int, Int)].collect()
    assert(stats.forall(_ == ((64, 48))), stats.mkString(","))
    java.nio.file.Files.deleteIfExists(mp4)
  }
}
