package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("synthetic media: binary payloads with typed metadata") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val rows = media.collect()
    assert(rows.length == 30)
    assert(rows.forall(_.bytes.length == 16), "md5-derived payload is 16 bytes")
    assert(rows.map(_.kind).distinct.sorted.toSeq == Seq("audio", "image", "video"))
  }

  test("decodeFeatures: fixed-dims embedding per asset, deterministic") {
    val media = Multimodal.syntheticMedia(spark, 50)
    val f1 = Multimodal.decodeFeatures(media, dims = 64).collect().sortBy(_.media_id)
    assert(f1.length == 50)
    assert(f1.forall(_.embedding.length == 64))
    val f2 = Multimodal.decodeFeatures(media, dims = 64).collect().sortBy(_.media_id)
    assert(f1.zip(f2).forall { case (a, b) => a.embedding.sameElements(b.embedding) })
  }

  test("real PNG payloads decode to exact pixel features via ImageIO") {
    import java.awt.image.BufferedImage
    // 2×2 PNG with known colors: red, green / blue, white
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0x00FF00)
    img.setRGB(0, 1, 0x0000FF); img.setRGB(1, 1, 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    import spark.implicits._
    val media = Seq(Multimodal.MediaRecord(1L, "image", png, 2, 2, 1)).toDS()
    val feats = Multimodal.decodeFeatures(media, dims = 16).collect().head
    // row-major RGB in [0,1]: (1,0,0) (0,1,0) (0,0,1) (1,1,1), zero padding
    val expected = Array[Float](1, 0, 0, 0, 1, 0, 0, 0, 1, 1, 1, 1, 0, 0, 0, 0)
    assert(feats.embedding.sameElements(expected),
      s"got ${feats.embedding.mkString(",")}")
    // undecodable image payloads fall back to the stub, not an error
    val junk = Seq(Multimodal.MediaRecord(2L, "image", Array[Byte](1, 2, 3), 1, 1, 1)).toDS()
    val fb = Multimodal.decodeFeatures(junk, dims = 8).collect().head
    assert(fb.embedding.sameElements(Multimodal.FakeCodec.decode(Array[Byte](1, 2, 3), 8)))
  }

  test("real WAV payloads decode to exact loudness-envelope features") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 16-bit mono PCM: first half constant amplitude 16384 (=0.5 normalized),
    // second half silence — the 4-slot envelope must be (0.5, 0.5, 0, 0)
    val nSamples = 4000
    val pcm = new Array[Byte](nSamples * 2)
    (0 until nSamples / 2).foreach { i =>
      pcm(2 * i) = 0x00; pcm(2 * i + 1) = 0x40 // 16384 little-endian
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong),
      AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    import spark.implicits._
    val media = Seq(Multimodal.MediaRecord(1L, "audio", wav, 0, 0, 1)).toDS()
    val feats = Multimodal.decodeFeatures(media, dims = 4).collect().head
    assert(feats.embedding.sameElements(Array(0.5f, 0.5f, 0f, 0f)),
      s"got ${feats.embedding.mkString(",")}")
    // undecodable audio payloads fall back to the stub
    val junk = Seq(Multimodal.MediaRecord(2L, "audio", Array[Byte](9, 9), 0, 0, 1)).toDS()
    val fb = Multimodal.decodeFeatures(junk, dims = 8).collect().head
    assert(fb.embedding.sameElements(Multimodal.FakeCodec.decode(Array[Byte](9, 9), 8)))
  }

  test("sampleFrames: only videos, every nth frame, fan-out rows") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val frames = Multimodal.sampleFrames(media, everyN = 5)
    val byMedia = frames.collect().groupBy(_.media_id)
    val vids = media.filter(col("kind") === "video").collect()
    assert(byMedia.keySet == vids.map(_.media_id).toSet)
    vids.foreach { v =>
      val expected = (0 until v.n_frames by 5).size
      assert(byMedia(v.media_id).length == expected)
    }
  }

  test("real MP4 payloads parse to exact container duration via BMFF boxes") {
    // minimal BMFF: ftyp box + moov(mvhd v0 with timescale 1000, duration 7500)
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(name: String, payload: Array[Byte]): Array[Byte] =
      be32(8L + payload.length) ++ name.getBytes("ISO-8859-1") ++ payload
    val mvhd = box("mvhd",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(7500) ++
        new Array[Byte](80))
    val mp4 = box("ftyp", "isom0000".getBytes("ISO-8859-1")) ++ box("moov", mvhd)
    val meta = Multimodal.VideoMeta.parse(mp4)
    assert(meta.contains(Multimodal.VideoMeta.Meta(1000L, 7500L)))
    assert(meta.get.seconds == 7.5)
    // through the Spark operator: parsed=true for BMFF, fallback for junk
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", mp4, 0, 0, 30),
      Multimodal.MediaRecord(2L, "video", Array[Byte](1, 2, 3, 4), 0, 0, 12)
    ).toDS()
    val rows = Multimodal.videoMetadata(media).collect().sortBy(_.media_id)
    assert(rows(0).parsed && rows(0).duration_s == 7.5)
    assert(!rows(1).parsed && rows(1).duration == 12L, "junk falls back to metadata columns")

    // version-1 mvhd: 64-bit ctime/mtime, 64-bit duration at +24
    val mvhdV1 = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16) ++ be32(90000) ++
        be32(0) ++ be32(450000) ++ new Array[Byte](80))
    val mp4V1 = box("ftyp", "isom0000".getBytes("ISO-8859-1")) ++ box("moov", mvhdV1)
    assert(Multimodal.VideoMeta.parse(mp4V1)
      .contains(Multimodal.VideoMeta.Meta(90000L, 450000L)), "v1 layout: ts@+20, dur64@+24")

    // a TRUNCATED mvhd (header only) must parse as None, not as garbage
    // read from sibling-box bytes
    val shortMvhd = box("mvhd", Array[Byte](0, 0, 0, 0))
    val corrupt = box("moov", shortMvhd ++ box("free", be32(0x41424344L) ++ be32(0x45464748L)))
    assert(Multimodal.VideoMeta.parse(corrupt).isEmpty,
      "too-short mvhd is malformed, never trusted")
  }

  test("dHash: stable under uniform brightness shift, far for a different image, clones at hamming 0") {
    import java.awt.image.BufferedImage
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) img.setRGB(x, y, f(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def gray(v: Int) = { val c = math.max(0, math.min(255, v)); (c << 16) | (c << 8) | c }
    // diagonal luminance gradient; +40 uniform brightness; vertical stripes
    val base = png((x, y) => gray(2 * (x + y)))
    val brighter = png((x, y) => gray(2 * (x + y) + 40))
    val stripes = png((x, _) => gray(if ((x / 8) % 2 == 0) 230 else 20))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hBase = Multimodal.ImageHash.dHash(base)
    val hBright = Multimodal.ImageHash.dHash(brighter)
    val hStripes = Multimodal.ImageHash.dHash(stripes)
    assert(ham(hBase, hBright) <= 4, s"brightness shift moved ${ham(hBase, hBright)} bits")
    assert(ham(hBase, hStripes) >= 16, s"different image too close: ${ham(hBase, hStripes)}")
    // q148: every planted clone surfaces at hamming 0
    val pairs = graft.SparkEntry.queries("q148_image_dedup")(spark, sf).collect()
    val clonePairs = pairs.filter(r =>
      r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 1000000)
    assert(clonePairs.length == 14, s"expected 14 planted clones, got ${clonePairs.length}")
    assert(clonePairs.forall(_.getAs[Long]("hamming") == 0L))
  }

  test("audio fingerprint: volume-invariant on real WAVs, clones at hamming 0") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wav(amps: Seq[Double]): Array[Byte] = {
      // one block per amplitude, 500 samples each, 16-bit mono PCM
      val pcm = new Array[Byte](amps.length * 500 * 2)
      amps.zipWithIndex.foreach { case (a, b) =>
        val v = math.min(32767, (a * 32767).toInt)
        for (i <- 0 until 500) {
          val o = (b * 500 + i) * 2
          pcm(o) = (v & 0xFF).toByte; pcm(o + 1) = ((v >> 8) & 0xFF).toByte
        }
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val baos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, (amps.length * 500).toLong),
        AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val rnd = new scala.util.Random(11)
    val shape = Seq.fill(65)(rnd.nextDouble() * 0.9)
    val loud = wav(shape)
    val quiet = wav(shape.map(_ * 0.5))
    val other = wav(Seq.fill(65)(rnd.nextDouble() * 0.9))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val (hL, hQ, hO) = (Multimodal.AudioHash.fingerprint(loud),
      Multimodal.AudioHash.fingerprint(quiet), Multimodal.AudioHash.fingerprint(other))
    assert(hL == hQ, "uniform volume scaling must preserve every gradient bit")
    assert(ham(hL, hO) >= 16, s"different clip too close: ${ham(hL, hO)}")
    val pairs = graft.SparkEntry.queries("q150_audio_dedup")(spark, sf).collect()
    val clonePairs = pairs.filter(r =>
      r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 1000000)
    assert(clonePairs.length == 13, s"expected 13 planted clones, got ${clonePairs.length}")
    assert(clonePairs.forall(_.getAs[Long]("hamming") == 0L))
  }

  /** Build a Y4M (YUV4MPEG2) byte stream: 4:2:0 planar, luma from f. */
  private def y4m(w: Int, h: Int, nFrames: Int, fps: (Int, Int))
                 (f: (Int, Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F${fps._1}:${fps._2} Ip A1:1 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    (0 until nFrames).foreach { fr =>
      out.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      for (y <- 0 until h; x <- 0 until w)
        out.write(math.max(0, math.min(255, f(fr, x, y))))
      val chroma = ((w + 1) / 2) * ((h + 1) / 2)
      (0 until 2 * chroma).foreach(_ => out.write(128))
    }
    out.toByteArray
  }

  test("real Y4M payloads decode to per-frame luma: metadata, envelope, frame dHash") {
    // 3 frames of a moving vertical edge: left half dark, right half bright,
    // the edge column shifting right each frame
    val vid = y4m(16, 8, 3, (30, 1))((fr, x, _) => if (x < 6 + fr) 20 else 230)
    val parsed = Multimodal.VideoCodec.parse(vid)
    assert(parsed.isDefined, "generated Y4M must parse")
    val v = parsed.get
    assert(v.width == 16 && v.height == 8 && v.frames.length == 3)
    assert(v.fpsNum == 30 && v.fpsDen == 1)
    assert(v.frames.forall(_.length == 16 * 8), "Y plane only, full resolution")
    // decode: bright-right frames → later slots brighter than early ones
    val env = Multimodal.VideoCodec.decode(vid, 8)
    assert(env.length == 8 && env.forall(e => e >= 0f && e <= 1f))
    // frame dHash: one gradient bit column at the edge, stable across the
    // uniform-brightness variant, far from a reversed edge
    val bright = y4m(16, 8, 1, (30, 1))((_, x, _) => if (x < 6) 60 else 255)
    val reversed = y4m(16, 8, 1, (30, 1))((_, x, _) => if (x < 6) 230 else 20)
    def firstHash(b: Array[Byte]): Long = {
      val p = Multimodal.VideoCodec.parse(b).get
      Multimodal.VideoCodec.frameDHash(p.frames(0), p.width, p.height)
    }
    val base = y4m(16, 8, 1, (30, 1))((_, x, _) => if (x < 6) 20 else 230)
    assert(firstHash(base) == firstHash(bright),
      "dHash gradients survive uniform brightness shifts")
    assert(java.lang.Long.bitCount(firstHash(base) ^ firstHash(reversed)) >= 8,
      "a reversed edge must flip gradient bits")
    // truncated payload and alien bytes reject cleanly
    assert(Multimodal.VideoCodec.parse(vid.dropRight(3)).isEmpty)
    assert(Multimodal.VideoCodec.parse("not a video".getBytes).isEmpty)
  }

  test("q212: planted Y4M clones surface with every sampled frame matched, noise clips never pair") {
    val rows = graft.SparkEntry.queries("q212_video_dedup")(spark, sf).collect()
    // 500 clips, every 25th cloned → exactly 20 pairs, no false positives
    // among the 480 independent noise clips
    assert(rows.length == 20, s"expected exactly the 20 planted clone pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("vid_b") == r.getAs[Long]("vid_a") + 1000000,
        s"non-clone pair surfaced: $r")
      // 6 frames sampled every 2 → positions 0, 2, 4 all at hamming 0
      assert(r.getAs[Long]("n_frames_matched") == 3, s"clone must match all sampled frames: $r")
    }
  }

  test("Y4M flows through the Dataset operators: real frame samples and parsed metadata") {
    import spark.implicits._
    val vid = y4m(16, 8, 5, (24, 1))((fr, x, y) => (x * 16 + y * 3 + fr * 7) % 256)
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", vid, 16, 8, 99), // metadata SAYS 99 frames
      Multimodal.MediaRecord(2L, "video", Array[Byte](1, 2, 3), 4, 4, 4) // undecodable
    ).toDS()
    val frames = Multimodal.sampleFrames(media, everyN = 2).collect()
    // decoded count (5 frames → idx 0,2,4) wins over the metadata's 99
    val real = frames.filter(_.media_id == 1L).map(_.frame_idx).sorted.toSeq
    assert(real == Seq(0, 2, 4), s"real frame count must come from the container: $real")
    val fb = frames.filter(_.media_id == 2L).map(_.frame_idx).sorted.toSeq
    assert(fb == Seq(0, 2), "undecodable payloads keep the metadata fallback")
    val meta = Multimodal.videoMetadata(media).collect()
      .map(m => m.media_id -> m).toMap
    assert(meta(1L).parsed && meta(1L).timescale == 24 && meta(1L).duration == 5)
    assert(math.abs(meta(1L).duration_s - 5.0 / 24.0) < 1e-9)
    assert(!meta(2L).parsed)
  }
}
