package graft.multimodal

import graft.QuerySpec
import graft.functions.Exprs._
import org.apache.spark.sql.functions._

/** Rows-only QuerySpecs for the multimodal plumbing (binary payloads are
  * synthesized — no oracle table exists; shapes and determinism are asserted
  * in MultimodalSpec). */
object MultimodalQueries {

  val q70DecodeFeatures: QuerySpec = QuerySpec.rowsOnly("q70_media_features") { (spark, _) =>
    val media = Multimodal.syntheticMedia(spark, 2000)
    Multimodal.decodeFeatures(media)
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        avg("n_bytes").as("avg_bytes"),
        round(avg(element_at(col("embedding"), 1)), 6).as("avg_dim0"))
      .orderBy("kind")
  }

  val q71FrameSample: QuerySpec = QuerySpec.rowsOnly("q71_frame_sample") { (spark, _) =>
    val media = Multimodal.syntheticMedia(spark, 2000)
    Multimodal.sampleFrames(media, everyN = 5)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_sampled"), min("frame_fp").as("min_fp"))
      .orderBy("media_id")
  }

  /** Container-metadata extraction over the video rows: the synthetic
    * payloads are not BMFF, so every row exercises the documented fallback
    * path deterministically (parsed = false, duration from metadata);
    * MultimodalSpec covers the parsed = true path with a real MP4. */
  val q72VideoMeta: QuerySpec = QuerySpec.rowsOnly("q72_video_meta") { (spark, _) =>
    val media = Multimodal.syntheticMedia(spark, 2000)
    Multimodal.videoMetadata(media).toDF()
      .groupBy("parsed")
      .agg(count(lit(1)).as("n_videos"),
        asLong(sum(col("duration"))).as("total_duration"))
      .orderBy("parsed")
  }

  /** Image near-dup detection: dHash per image
    * ([[Multimodal.ImageHash]] — real-pixel path pinned in MultimodalSpec
    * with planted BMPs; the synthetic payloads here ride the documented
    * fallback fingerprint) + the SAME pigeonhole hamming join the text
    * corpus uses ([[graft.operators.Dedup.hammingPairs]], modality-blind).
    * Exact duplicates are planted by cloning every 50th image payload
    * under a shifted id, so the pair set is deterministic and non-empty:
    * every planted clone must surface at hamming 0. */
  val q148ImageDedup: QuerySpec = QuerySpec.rowsOnly("q148_image_dedup") { (spark, _) =>
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, 2000)
    val clones = media.filter(col("kind") === "image" && col("media_id") % 50 === 0)
      .map(m => m.copy(media_id = m.media_id + 1000000))
    val hashes = Multimodal.imageHashes(media.union(clones)).toDF()
    graft.operators.Dedup.hammingPairs(hashes, "media_id", "dhash",
        bits = 64, maxHamming = 6)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Audio near-dup detection — q148's shape for the audio modality:
    * loudness-gradient fingerprints ([[Multimodal.AudioHash]], volume-
    * invariant by construction; real-WAV path pinned in MultimodalSpec)
    * into the same pigeonhole hamming join. Clones planted as in q148. */
  val q150AudioDedup: QuerySpec = QuerySpec.rowsOnly("q150_audio_dedup") { (spark, _) =>
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, 2000)
    val clones = media.filter(col("kind") === "audio" && col("media_id") % 50 === 0)
      .map(m => m.copy(media_id = m.media_id + 1000000))
    val hashes = Multimodal.audioHashes(media.union(clones)).toDF()
    graft.operators.Dedup.hammingPairs(hashes, "media_id", "afp",
        bits = 64, maxHamming = 6)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Video near-dup detection over REAL decoded frames — the q148/q150
    * shape completed for the last modality (r19, on the Y4M decoder):
    * every sampled frame's luma plane gets the shared 9×8 gradient dHash,
    * frame hashes ride the SAME pigeonhole hamming join, and a clip pair
    * is scored by HOW MANY same-position frames match — the per-position
    * frame-matching rule real video dedup uses (a clip that shares one
    * establishing shot is not a duplicate; one sharing every sampled
    * frame is). Clones planted as in q148 (every 25th clip re-ids'd)
    * must surface with ALL sampled frames at hamming 0; independent
    * noise clips must not pair at all. Shape at 100 TB: decode is
    * per-row mapPartitions work, frame hashes are 64-bit ints, and the
    * pair discovery is the banded hamming join — never all-pairs. */
  val q212VideoDedup: QuerySpec = QuerySpec.rowsOnly("q212_video_dedup") { (spark, _) =>
    import spark.implicits._
    val media = Multimodal.syntheticY4mMedia(spark, 500)
    val clones = media.filter(col("media_id") % 25 === 0)
      .map(m => m.copy(media_id = m.media_id + 1000000))
    val frames = Multimodal.sampleFrames(media.union(clones), everyN = 2).toDF()
      // frame identity = (clip, position): encode both in one id so the
      // banded join stays a single (id, hash) relation
      .select((col("media_id") * 1000 + col("frame_idx")).as("fid"), col("frame_fp"))
    graft.operators.Dedup.hammingPairs(frames, "fid", "frame_fp",
        bits = 64, maxHamming = 4)
      .select((col("id_a") / 1000).cast("long").as("vid_a"),
        (col("id_b") / 1000).cast("long").as("vid_b"),
        pmod(col("id_a"), lit(1000)).as("pos_a"), pmod(col("id_b"), lit(1000)).as("pos_b"))
      // per-position matching: frame i pairs with frame i, clips differ
      .filter(col("pos_a") === col("pos_b") && col("vid_a") =!= col("vid_b"))
      .groupBy("vid_a", "vid_b")
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= 2) // half the sampled frames
      .orderBy("vid_a", "vid_b")
  }

  val all: Seq[QuerySpec] = Seq(q70DecodeFeatures, q71FrameSample, q72VideoMeta,
    q148ImageDedup, q150AudioDedup, q212VideoDedup)
}
