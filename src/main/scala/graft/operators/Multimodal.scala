package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline: image/audio/video
  * as opaque `binary` columns plus typed metadata, with decode /
  * feature-extract / resize / frame-sample implemented as
  * iterator-to-iterator `mapPartitions` stages (the JVM analog of
  * arrow-batched Python UDFs: per-partition setup happens once, rows
  * stream through without materializing the partition).
  *
  * STUB BOUNDARY: this container has no image/audio codecs, so
  * [[StubCodec]] derives dimensions and frames *deterministically from
  * the bytes* — a real deployment swaps StubCodec for a JNI/library
  * codec behind the same interface. Everything around the stub —
  * binary column handling, batch shape, schemas, explode semantics,
  * partition-level reuse — is real and tested, and the stub's
  * determinism lets the decode path be verified against a SQL oracle.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String,
      content: Array[Byte])
  final case class DecodedMedia(doc_id: Long, media_type: String,
      byte_len: Int, width: Int, height: Int, n_frames: Int,
      sample_rate: Int, duration_s: Double)
  final case class FrameRow(doc_id: Long, frame_idx: Int,
      frame_bytes: Array[Byte])
  final case class MediaFeature(doc_id: Long, media_type: String,
      embedding: Array[Float])
  final case class MediaHistogram(doc_id: Long, media_type: String,
      bins: Array[Long])

  /** The codec seam. A real implementation opens the payload with an
    * actual decoder (per-partition init amortized by mapPartitions);
    * the stub computes metadata from byte length alone so an external
    * oracle can reproduce it. */
  object StubCodec {
    def decode(m: MediaRow): DecodedMedia = {
      val len = m.content.length
      m.media_type match {
        case "image" => DecodedMedia(m.doc_id, m.media_type, len,
          width = 64 + (len % 7) * 32, height = 64 + (len % 5) * 32,
          n_frames = 1, sample_rate = 0, duration_s = 0.0)
        case "audio" => DecodedMedia(m.doc_id, m.media_type, len,
          width = 0, height = 0, n_frames = 0, sample_rate = 16000,
          duration_s = len / 256.0)
        case _ => DecodedMedia(m.doc_id, m.media_type, len,
          width = 320, height = 240, n_frames = 8 + len % 8,
          sample_rate = 0, duration_s = (8 + len % 8) / 4.0)
      }
    }
  }

  /** Derive a media table from `documents`: UTF-8 payload bytes as the
    * opaque binary column, media type assigned round-robin. */
  def mediaFromDocs(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      col("text").cast("binary").as("content"))
      .as[MediaRow]
  }

  /** Decode stage: one codec per partition, rows streamed through. */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real impl: val codec = Codec.open() here, once per partition
      it.map(StubCodec.decode)
    }
  }

  /** Frame sampling: video payloads explode into every-nth frame rows
    * (frame bytes are contiguous slices in the stub). */
  def sampleFrames(media: Dataset[MediaRow], everyN: Int = 2): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.filter(_.media_type == "video").flatMap { m =>
        val d = StubCodec.decode(m)
        // plain integer division (no clamp) — the oracle computes
        // len // n_frames; payloads shorter than n_frames yield empty
        // frame slices on both sides
        val frameSize = m.content.length / d.n_frames
        (0 until d.n_frames by everyN).iterator.map { f =>
          val from = math.min(f * frameSize, m.content.length)
          val until = math.min(from + frameSize, m.content.length)
          FrameRow(m.doc_id, f, m.content.slice(from, until))
        }
      }
    }
  }

  /** Integer feature stage: 16-bin histogram of payload byte high
    * nibbles — pure integer math, so it hash-matches an external
    * oracle exactly (DuckDB recomputes the nibbles from the hex
    * encoding of the same bytes). */
  def extractHistogram(media: Dataset[MediaRow]): Dataset[MediaHistogram] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val hist = new Array[Long](16)
        var i = 0
        while (i < m.content.length) {
          hist((m.content(i) & 0xff) >> 4) += 1L
          i += 1
        }
        MediaHistogram(m.doc_id, m.media_type, hist)
      }
    }
  }

  /** Feature extraction: the L1-normalized histogram — the stub for
    * "run the vision/audio tower"; shape (fixed-length float vector
    * per row) is what downstream ANN operators consume. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    extractHistogram(media).map { h =>
      val total = math.max(1f, h.bins.sum.toFloat)
      MediaFeature(h.doc_id, h.media_type, h.bins.map(_ / total))
    }
  }

  /** Resize stage: metadata-correct stub (payload truncated/padded to
    * the target pixel budget; a real codec re-encodes). */
  def resizeImages(media: Dataset[MediaRow], maxBytes: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        if (m.media_type == "image" && m.content.length > maxBytes)
          m.copy(content = m.content.take(maxBytes))
        else m
      }
    }
  }

  final case class VadStats(doc_id: Long, n_frames: Int, n_voiced: Int,
      n_segments: Int, longest_voiced: Int)

  /** Voice-activity detection over the stub codec's audio stream —
    * the audio leg of the curation pipeline (keep docs with speech,
    * measure silence). Samples are the payload bytes centered at 128;
    * energy is the per-frame sum of squared samples (pure integer
    * math); a frame is VOICED iff its energy STRICTLY exceeds the
    * document's mean frame energy — spelled as the integer-exact
    * cross-multiplication `energy·n_frames > total_energy`, so the
    * adaptive threshold needs no float division and the oracle
    * reproduces it bit-for-bit. Segments are maximal runs of voiced
    * frames (islands-and-gaps). Trailing partial frames are ignored
    * (n_frames = len div frameBytes on both engines); audio docs
    * shorter than one frame drop. Per-doc DSP state lives inside the
    * mapPartitions kernel — the codec seam, like [[decode]]. */
  def vadSegments(media: Dataset[MediaRow],
      frameBytes: Int = 64): Dataset[VadStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.filter(_.media_type == "audio").flatMap { m =>
        val n = m.content.length / frameBytes
        if (n == 0) Iterator.empty
        else {
          val energy = new Array[Long](n)
          var f = 0
          while (f < n) {
            var e = 0L
            var i = f * frameBytes
            val end = i + frameBytes
            while (i < end) {
              val c = (m.content(i) & 0xff) - 128
              e += c.toLong * c
              i += 1
            }
            energy(f) = e
            f += 1
          }
          val total = energy.sum
          var voiced = 0; var segs = 0; var run = 0; var longest = 0
          var k = 0
          while (k < n) {
            if (energy(k) * n > total) {
              voiced += 1
              run += 1
              if (run == 1) segs += 1
              if (run > longest) longest = run
            } else run = 0
            k += 1
          }
          Iterator.single(VadStats(m.doc_id, n, voiced, segs, longest))
        }
      }
    }
  }

  final case class FrameHist(doc_id: Long, frame_idx: Int,
      bins: Array[Long])

  /** Per-frame 16-bin high-nibble histograms over EVERY frame — the
    * feature stage scene segmentation consumes. Pure integer math
    * (the mm3 recipe applied per frame slice), so the oracle
    * recomputes it from the hex payload exactly. */
  def frameHistograms(media: Dataset[MediaRow]): Dataset[FrameHist] = {
    import media.sparkSession.implicits._
    sampleFrames(media, everyN = 1).map { f =>
      val bins = Array.fill(16)(0L)
      f.frame_bytes.foreach(b => bins((b & 0xf0) >> 4) += 1)
      FrameHist(f.doc_id, f.frame_idx, bins)
    }
  }

  /** Scene-cut detection per video — the keyframe-selection primitive
    * a VLM-training pipeline runs before sampling frames: consecutive
    * frames whose 16-bin histogram L1 distance exceeds frame_size/
    * `denom` mark a cut; scenes = cuts + 1. The histogram lag rides a
    * per-video window (videos are independent — no global ordering),
    * the L1 is a codegen'd zip_with/aggregate fold over two 16-long
    * arrays, and every quantity is an exact integer, so the DuckDB
    * oracle replays the cut set bit-for-bit from the hex payload.
    * Emits (doc_id, n_frames, n_cuts, n_scenes, total_l1). */
  def sceneCuts(media: Dataset[MediaRow], denom: Int = 4): DataFrame = {
    val fh = frameHistograms(media).toDF()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    fh
      .withColumn("pbins", lag(col("bins"), 1).over(w))
      .withColumn("fs",
        expr("aggregate(bins, 0L, (a, x0) -> a + x0)"))
      .withColumn("l1", when(col("pbins").isNull, lit(null)).otherwise(
        expr("aggregate(zip_with(bins, pbins, (x, y) -> abs(x - y)), " +
          "0L, (a, x0) -> a + x0)")))
      .withColumn("is_cut", expr(s"l1 > (fs div $denom)"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        count(when(col("is_cut"), 1)).as("n_cuts"),
        (count(when(col("is_cut"), 1)) + lit(1L)).as("n_scenes"),
        coalesce(sum(col("l1")), lit(0L)).as("total_l1"))
  }

  final case class MediaHash(doc_id: Long, media_type: String, phash: Int)

  /** Perceptual hash — dHash over a 16-point sample grid: byte value
    * at position (i·len) div 16, bit i set when sample i > sample
    * (i+1) mod 16. This is the real dHash recipe (downsample to a
    * coarse grid, compare adjacent samples) applied to the opaque
    * payload; grid SAMPLING is essential — a histogram-difference
    * hash degenerates on text-like payloads, whose near-universal
    * byte-frequency ordering gives every document the same bits (the
    * first cut of this operator produced 41k "near-dup" pairs from
    * 500 docs). Pure integer selection the oracle reproduces from the
    * hex encoding. Empty payloads hash to 0. */
  def perceptualHash(media: Dataset[MediaRow]): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val len = m.content.length
      var bits = 0
      if (len > 0) {
        // long arithmetic: i * len overflows Int for ~144 MB payloads
        val s = Array.tabulate(16)(i =>
          m.content((i.toLong * len / 16).toInt) & 0xff)
        var i = 0
        while (i < 16) {
          if (s(i) > s((i + 1) % 16)) bits |= (1 << i)
          i += 1
        }
      }
      MediaHash(m.doc_id, m.media_type, bits)
    }
  }

  /** Banded near-dup pairs on the perceptual hash: candidates share
    * one of THREE bands (6+5+5 bits — the pigeonhole rule
    * floor(16/3) >= maxHamming+1 guarantees a pair within Hamming 2
    * differs in at most 2 bands, so at least one band matches
    * exactly; two 8-bit bands would silently drop pairs with one
    * flipped bit in EACH band), verified by full 16-bit Hamming
    * distance — the image-dedup shape of the MinHash-LSH pipeline
    * ([[BandJoin]]), with popcount of XOR as the verify and the media
    * type as an extra join key. The usual LSH caveat applies: a band
    * value shared by a large fraction of the corpus makes that band's
    * join quadratic — at production scale, widen the hash, not the
    * verify (same rule the text SimHash chunks follow). */
  def phashPairs(hashes: DataFrame, maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 2, "3 bands over 16 bits guarantee radius 2")
    val bands = Seq(expr("phash div 1024"), expr("phash div 32") % 32,
      col("phash") % 32)
    BandJoin.pairs(hashes, None, "doc_id", bands, on = Seq("media_type"),
      verify = Some(BandJoin.Verify("phash", "hamming",
        TextDedup.hamming(_, _).cast("int"), _ <= maxHamming)))
      .select(col("media_type"), col("id_a").as("doc_a"),
        col("id_b").as("doc_b"), col("hamming"))
  }
}
