package graft.engine.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with a typed metadata struct, and decode/feature
  * stages run as batched per-partition passes.
  *
  * The container has no image/audio codecs, so the decode itself is a
  * clearly-marked deterministic STUB ([[FakeCodec]]) — what is real and
  * tested is the Spark-side shape a production pipeline needs:
  *   - schema: (doc_id, media BINARY, meta STRUCT<format,width,height,n_frames>)
  *   - batched execution: [[decodeFeatures]] is a `mapPartitions` over a
  *     typed Dataset, draining the iterator in fixed-size batches exactly
  *     like a vectorized/Arrow decode stage would (the Scala analog of
  *     `mapInPandas`), never materializing a partition in memory;
  *   - partitioning: media rows repartition by doc_id so decode load
  *     spreads evenly regardless of upstream file layout.
  *
  * Every fake feature is integer arithmetic on the payload bytes, so an
  * external oracle can reproduce it from the source text.
  */
object Multimodal {

  final case class MediaMeta(format: String, width: Int, height: Int, nFrames: Int)
  final case class MediaRecord(doc_id: Long, media: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(doc_id: Long, format: String, width: Int,
                                 height: Int, n_frames: Int, n_bytes: Long,
                                 first_byte: Int, frame_byte_sum: Long)

  /** STUB codec — stands in for libjpeg/ffmpeg, which this container lacks.
    * Deterministic fakes derived from payload bytes; the real pipeline
    * would swap [[frameSample]] for an actual decoder call and keep every
    * surrounding line unchanged.
    */
  object FakeCodec {
    /** "Decode" one frame: sample the byte at the frame's stride offset.
      * (Real impl: decode frame i and return its feature vector.)
      */
    def frameSample(payload: Array[Byte], frame: Int, nFrames: Int): Int =
      if (payload.isEmpty) 0 // matches the oracle's ascii('') = 0 on empty text
      else {
        val off = (frame.toLong * payload.length / nFrames).toInt
        payload(math.min(off, payload.length - 1)) & 0xff
      }
  }

  /** Wrap documents as fake media rows: payload = UTF-8 bytes of the text,
    * metadata derived deterministically from source/size. At 100 TB the
    * binary column is exactly this shape — parquet BINARY with a struct of
    * scalars beside it, prunable and predicate-pushable independently of
    * the payload.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("media"),
        struct(
          element_at(array(lit("jpeg"), lit("png"), lit("wav"), lit("mp4")),
            (col("doc_id") % 4 + 1).cast("int")).as("format"),
          (lit(64) + col("n_chars") % 512).cast("int").as("width"),
          (lit(64) + (col("doc_id") * 37) % 512).cast("int").as("height"),
          (lit(1) + col("doc_id") % 8).cast("int").as("nFrames")).as("meta"))

  /** Batched decode/feature-extract: mapPartitions draining `batchSize`
    * records at a time (the unit a real codec would vectorize over).
    * Output is a flat typed row per media item.
    */
  def decodeFeatures(spark: SparkSession, dir: String,
                     batchSize: Int = 32): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord]
      .repartition(col("doc_id"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // one "codec call" per batch in a real pipeline
          batch.iterator.map { r =>
            val frames = (0 until r.meta.nFrames)
              .map(f => FakeCodec.frameSample(r.media, f, r.meta.nFrames))
            MediaFeatures(r.doc_id, r.meta.format, r.meta.width, r.meta.height,
              r.meta.nFrames, r.media.length.toLong,
              if (r.media.nonEmpty) r.media(0) & 0xff else 0, // ascii('') = 0
              frames.map(_.toLong).sum)
          }
        }
      }
  }

  final case class ResizedFeatures(doc_id: Long, format: String,
                                   out_w: Int, out_h: Int, grid_byte_sum: Long)

  /** "Resize" stage: compute aspect-preserving target dimensions for a
    * 64×64 bounding box and a deterministic checksum of the payload
    * sampled on the resized grid — the stub stands in for a real
    * interpolating resampler; the batching/partitioning around it is the
    * production shape.
    */
  def resizeFeatures(spark: SparkSession, dir: String, box: Int = 64,
                     batchSize: Int = 32): Dataset[ResizedFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord]
      .repartition(col("doc_id"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val (w, h) = (r.meta.width, r.meta.height)
            // fit into box×box preserving aspect ratio (floor, min 1)
            val scaleNum = box.toLong
            val longSide = math.max(w, h).toLong
            val outW = math.max(1, (w * scaleNum / longSide).toInt)
            val outH = math.max(1, (h * scaleNum / longSide).toInt)
            val n = outW * outH
            var acc = 0L
            var i = 0
            while (i < n && r.media.nonEmpty) {
              val off = (i.toLong * r.media.length / n).toInt
              acc += r.media(math.min(off, r.media.length - 1)) & 0xff
              i += 1
            }
            ResizedFeatures(r.doc_id, r.meta.format, outW, outH, acc)
          }
        }
      }
  }

  final case class FrameRow(doc_id: Long, format: String, frame_no: Int,
                            frame_off: Long, frame_byte: Int)

  /** Frame-sampling stage: one output row PER SAMPLED FRAME with full
    * provenance (frame number, byte offset, sampled value) — the
    * video/audio analog of [[Corpus.chunks]], feeding per-frame encoders
    * downstream. Same batched mapPartitions shape as [[decodeFeatures]]
    * (a real pipeline swaps the stride sample for a demuxer seek+decode
    * and keeps the surrounding plumbing); output fans out ≤ nFrames rows
    * per item, linear in media volume, no shuffle beyond the load-spread
    * repartition.
    */
  def frameSamples(spark: SparkSession, dir: String,
                   batchSize: Int = 32): Dataset[FrameRow] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord]
      .repartition(col("doc_id"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { r =>
            (0 until r.meta.nFrames).iterator.map { f =>
              val off =
                if (r.media.isEmpty) 0L
                else math.min(f.toLong * r.media.length / r.meta.nFrames,
                  r.media.length - 1L)
              FrameRow(r.doc_id, r.meta.format, f, off,
                FakeCodec.frameSample(r.media, f, r.meta.nFrames))
            }
          }
        }
      }
  }

  final case class PHashRow(doc_id: Long, phash: Long)
  final case class PHashSigRow(doc_id: Long, sig: Array[Long])

  /** Perceptual-hash signature per media item: sample 60 payload points
    * on a fixed stride grid, threshold each against the integer mean —
    * the aHash/pHash family's shape (a real impl swaps the stride sample
    * for DCT coefficients of the decoded image; everything else stands).
    * 60 bits keeps the signature positive in signed-64 space, matching
    * the SimHash convention. The single-long form is the historical
    * default; [[pHashSigs]] is the width-parameterized build for the
    * > 60-bit regime (r12).
    */
  def pHashes(spark: SparkSession, dir: String, points: Int = 60,
              batchSize: Int = 32): Dataset[PHashRow] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord]
      .repartition(col("doc_id"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val n = r.media.length
            if (n == 0) PHashRow(r.doc_id, 0L)
            else {
              val bytes = (0 until points).map { i =>
                r.media(math.min((i.toLong * n / points).toInt, n - 1)) & 0xff
              }
              val mean = bytes.sum / points
              val sig = bytes.zipWithIndex
                .foldLeft(0L) { case (acc, (b, i)) =>
                  if (b > mean) acc | (1L << i) else acc
                }
              PHashRow(r.doc_id, sig)
            }
          }
        }
      }
  }

  /** Width-parameterized pHash: the same stride-sample-and-threshold
    * signature as [[pHashes]], laid out as a per-band ARRAY (element b =
    * that band's `bitsPerBand` threshold bits) so the total width is not
    * capped by one signed long. THE WIDTH IS SIZED WITH THE CORPUS BY
    * DEFAULT (r13): `bitsPerBand = 0` (the default) derives
    * [[ScaleKnobs.sigBitsPerBand]] from the media count — the r12 sf10
    * study measured the pinned 4 × 15 geometry at 15.1×/decade
    * (`mm_phash_pairs`: occupancy n/2¹⁵ ⇒ candidate work ~n²/2¹⁵); the
    * derived width holds occupancy ≤ 2 at any corpus size. At every
    * committed artifact scale (≤ 65k items) the derivation reproduces
    * 4 × 15, which samples the same 60 points and sets the same bits as
    * the single-long form (MultimodalSpec/DedupSpec pin it). A width
    * change resamples the payload grid and re-thresholds the mean —
    * signatures at different geometries are incomparable, so deriving
    * at BUILD time is exactly when the geometry may safely move (an
    * index rebuild, like retraining IVF cells).
    */
  def pHashSigs(spark: SparkSession, dir: String, bands: Int = 4,
                bitsPerBand: Int = 0,
                batchSize: Int = 32): Dataset[PHashSigRow] = {
    val bpb =
      if (bitsPerBand == 0)
        ScaleKnobs.sigBitsPerBand(ScaleKnobs.documentCount(spark, dir))
      else bitsPerBand
    require(bands >= 1 && bpb >= 1 && bpb <= 60,
      s"signature geometry must satisfy 1 <= bitsPerBand <= 60; " +
        s"got $bands x $bpb")
    val points = bands * bpb
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord]
      .repartition(col("doc_id"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val n = r.media.length
            if (n == 0) PHashSigRow(r.doc_id, Array.fill(bands)(0L))
            else {
              val bytes = (0 until points).map { i =>
                r.media(math.min((i.toLong * n / points).toInt, n - 1)) & 0xff
              }
              val mean = bytes.sum / points
              val sig = Array.tabulate(bands) { b =>
                (0 until bpb).foldLeft(0L) { (acc, j) =>
                  if (bytes(b * bpb + j) > mean) acc | (1L << j) else acc
                }
              }
              PHashSigRow(r.doc_id, sig)
            }
          }
        }
      }
  }

  /** Media near-dup pairs by perceptual hash: the same band-blocked
    * bucket join as text SimHash (4 bands at the corpus-derived band
    * width — [[ScaleKnobs.sigBitsPerBand]], 15 bits through 65k items,
    * +1 bit per corpus doubling after), candidate pairs generated
    * locally per bucket ([[BucketPairs]]) — image/audio dedup at corpus
    * scale without an all-pairs comparison. `maxHamming = -1` (default) derives the
    * fraction-preserving threshold ([[ScaleKnobs.sigMaxHamming]] — the
    * historical 8-of-60 differing-bit fraction, exactly 8 at the
    * default geometry); pass explicit values to pin either knob. A
    * geometry change is an index rebuild.
    */
  def phashPairs(spark: SparkSession, dir: String, maxHamming: Int = -1,
                 bands: Int = 4, bitsPerBand: Int = 0,
                 bucketCap: Long = 0L): DataFrame = {
    val n = ScaleKnobs.documentCount(spark, dir)
    val bpb =
      if (bitsPerBand == 0) ScaleKnobs.sigBitsPerBand(n)
      else bitsPerBand
    val maxH =
      if (maxHamming < 0) ScaleKnobs.sigMaxHamming(bands, bpb)
      else maxHamming
    // bucketCap = 0 derives the band-bucket family cap — the knob that
    // BINDS first on the media side: the r14 sf10 study measured the
    // largest pHash bucket at 1,746 members (one near-identical media
    // family) vs a 1,216 derived cap; its C(s, 2) ≈ 1.5M pair rows are
    // exact-dup mass that mm_dupes handles at fingerprint grain.
    val cap =
      if (bucketCap > 0L) bucketCap else ScaleKnobs.hammingBucketCap(n)
    graft.engine.ext.Dedup.bandedHammingPairs(
      pHashSigs(spark, dir, bands, bpb).toDF(), bands, bpb, maxH, cap)
  }

  /** Rollup per format — the sanity aggregation a curation job runs after
    * feature extraction.
    */
  def formatRollup(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(spark, dir).toDF()
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("frame_byte_sum")).as("sum_frame_bytes"))
      .orderBy(col("format"))

  /** Exact payload DEDUP census per format — byte-identical media items
    * (re-crawled images, mirrored videos) found by hashing the payload:
    * distinct payloads, clone counts, and the storage the duplicates
    * waste. Only 60-bit sha2 prefixes and byte lengths shuffle, never
    * payloads (the [[Dedup]] "hashes shuffle, not bodies" rule); a
    * 100 TB run should widen the key to the two 64-bit halves of the
    * full sha2 to keep collision odds negligible at trillions of items
    * — same plan, one more column.
    */
  def payloadDupes(spark: SparkSession, dir: String): DataFrame =
    payloadDupes(mediaTable(spark, dir))

  def payloadDupes(media: DataFrame): DataFrame =
    media
      .select(col("meta.format").as("format"),
        length(col("media")).cast("long").as("n_bytes"),
        expr("conv(substring(sha2(media, 256), 1, 15), 16, 10)")
          .cast("long").as("h"))
      .groupBy(col("format"), col("h"), col("n_bytes"))
      .agg(count(lit(1)).as("clones"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_payloads"),
        sum(col("clones")).as("n_media"),
        sum(col("clones") - 1).as("n_dup_items"),
        max(col("clones")).as("max_clones"),
        sum((col("clones") - 1) * col("n_bytes")).as("wasted_bytes"))
      .orderBy(col("format"))

  /** Perceptual-hash near-dup CLUSTERS: connected components over the
    * band-blocked pHash pair edges — the step that turns the pair list
    * into a media dedup decision (one canonical per visually-identical
    * family), completing the multimodal path the way
    * [[graft.engine.ext.Dedup.simhashClusters]] does for text. Reuses
    * the SAME checkpointed star-contraction loop, so the scale story is
    * identical: one shuffle per round, O(log diameter) rounds.
    */
  def phashClusters(spark: SparkSession, dir: String): DataFrame =
    graft.engine.ext.Dedup.connectedComponents(
      pHashes(spark, dir).toDF().select(col("doc_id")),
      phashPairs(spark, dir).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))
}
