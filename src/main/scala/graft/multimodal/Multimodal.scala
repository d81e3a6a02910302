package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the training-data pipeline surface:
  * image/audio/video as opaque `binary` payload columns with typed
  * metadata, plus a batched feature-extraction path.
  *
  * Two of the three decode legs are REAL decoders: PCM16 audio
  * ([[decodePcm16]] — a raw sample format needs no codec) and PNG
  * images ([[decodeImage]] — `javax.imageio` ships in the JDK, so "no
  * codec libs offline" never applied to images; r5 verdict). Only the
  * VIDEO leg keeps the declared stub ([[decodeStub]] byte stats —
  * compressed video genuinely has no JDK decoder). The Spark-side
  * plumbing is identical for all three and is the part that carries to
  * a production build: binary column + typed metadata schema, batch
  * iteration shape (`mapPartitions` over fixed-size record batches —
  * the JVM equivalent of `mapInPandas`'s Arrow batches), partition-
  * preserving narrow execution (no shuffle), and typed `Encoder` I/O.
  * Swapping `decodeStub` for an ffmpeg call changes no schema,
  * partitioning, or query shape.
  */
object Multimodal {

  // ImageIO's default stream cache is DISK-backed: every
  // ImageIO.read/write over an in-memory stream round-trips a temp
  // FILE, so the decode seam becomes disk-latency-bound (one temp
  // file per record — at fleet scale that's a file create/delete per
  // image, and on a shared box it inherits every neighbor's IO
  // stall). All payloads here are ByteArray streams; cache in memory.
  // Object-body init so it runs once per executor JVM the moment any
  // decode closure first touches the object.
  javax.imageio.ImageIO.setUseCache(false)

  /** An opaque media row: payload + typed metadata. */
  case class MediaRecord(doc_id: Long, media_type: String,
    payload: Array[Byte], width: Int, height: Int)

  /** Extracted features: byte stats + a 4-bin byte histogram. */
  case class MediaFeatures(doc_id: Long, media_type: String,
    n_bytes: Long, mean_byte: Double, hist_0: Long, hist_1: Long,
    hist_2: Long, hist_3: Long)

  val DecodeBatchSize = 64

  /** Synthesize a media table from `documents`: the UTF-8 text bytes
    * stand in for an encoded image; metadata is derived
    * deterministically. (In production this is a parquet/lance table of
    * real encoded frames — same schema.) */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.core.Spread(graft.core.Tables(spark, dir, "documents"))
      .select(col("doc_id"),
        concat(lit("img/"), col("source")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("n_chars") % 48 + 1).cast("int").as("height"))
      .as[MediaRecord]
  }

  /** The decode seam. STUB: deterministic byte statistics in place of a
    * real codec (`???` would go here in a codec-enabled build). Pure
    * function per batch — exactly the contract a vectorized decoder
    * (mapInPandas / Arrow UDF) gets: a bounded batch of records in,
    * one feature row per record out. */
  def decodeStub(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      val bytes = r.payload
      val hist = new Array[Long](4)
      var sum = 0L
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        hist(b / 64) += 1L
        sum += b
        i += 1
      }
      MediaFeatures(r.doc_id, r.media_type, bytes.length.toLong,
        if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length,
        hist(0), hist(1), hist(2), hist(3))
    }

  /** Batched feature extraction: narrow (partition-preserving)
    * mapPartitions over fixed-size batches. At cluster scale the input
    * would be `repartition`ed only to balance payload bytes per task —
    * never shuffled for the decode itself. */
  def extractFeatures(media: Dataset[MediaRecord],
      batchSize: Int = DecodeBatchSize): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(decodeStub))
  }

  /** Full pipeline as a DataFrame query (registered in the driver
    * contract; ASCII payloads make the byte math oracle-checkable in
    * SQL via char functions). */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(spark, dir)).toDF()
      .withColumn("mean_byte", round(col("mean_byte"), 6))

  /** PCM16 waveform features — from a REAL decoder (see below). */
  case class PcmFeatures(doc_id: Long, n_samples: Long, rms: Double,
    peak: Long, zero_cross: Long)

  /** A REAL decoder in the decode seam: 16-bit little-endian PCM is a
    * raw sample format, so decoding needs no codec library — byte pairs
    * ARE the samples. This makes one leg of the multimodal path fully
    * genuine (the compressed-codec legs keep the declared stub): the
    * same batched `mapPartitions` contract as [[decodeStub]], producing
    * the standard audio features (RMS loudness, peak amplitude,
    * zero-crossing count). Integer accumulation is exact (sum of s² <
    * 2⁵³ at any realistic batch payload) and `sqrt` is IEEE-correctly-
    * rounded, so the features are bit-reproducible cross-engine. */
  def decodePcm16(batch: Seq[MediaRecord]): Seq[PcmFeatures] =
    batch.flatMap { r =>
      val b = r.payload
      val n = b.length / 2
      if (n == 0) None
      else {
        var i = 0; var sumSq = 0L; var peak = 0L; var zc = 0L
        var prevNonNeg = false
        while (i < n) {
          // little-endian: low byte unsigned, high byte carries sign
          val s = (b(2 * i + 1).toInt << 8) | (b(2 * i) & 0xff)
          val a = math.abs(s.toLong)
          sumSq += s.toLong * s
          if (a > peak) peak = a
          val nonNeg = s >= 0
          if (i > 0 && nonNeg != prevNonNeg) zc += 1
          prevNonNeg = nonNeg
          i += 1
        }
        Some(PcmFeatures(r.doc_id, n, math.sqrt(sumSq.toDouble / n),
          peak, zc))
      }
    }

  /** Samples per analysis window for [[pcmWindowEnergy]] — the "frame"
    * of audio feature extraction (VAD, silence trimming, loudness
    * normalization all consume per-window energy, not whole-clip
    * RMS). */
  val PcmWindow = 64

  case class PcmWindowEnergy(doc_id: Long, win: Long, n_samples: Long,
    energy: Long)

  /** Windowed short-time energy over the same PCM16LE decode: per
    * fixed window of [[PcmWindow]] samples, Σ s² as an EXACT Long (a
    * 16-bit sample squares below 2³¹; 64 of them stay far inside
    * Long), so the whole decode→window→energy path hash-matches the
    * SQL replay — the X13 oracle device applied at sub-clip grain.
    * Same batched `mapPartitions` seam as [[decodePcm16]]. */
  def decodePcmWindows(batch: Seq[MediaRecord],
      win: Int = PcmWindow): Seq[PcmWindowEnergy] =
    batch.flatMap { r =>
      val b = r.payload
      val n = b.length / 2
      (0 until (n + win - 1) / win).map { w =>
        val lo = w * win
        val hi = math.min(lo + win, n)
        var i = lo; var e = 0L
        while (i < hi) {
          val s = (b(2 * i + 1).toInt << 8) | (b(2 * i) & 0xff)
          e += s.toLong * s
          i += 1
        }
        PcmWindowEnergy(r.doc_id, w.toLong, (hi - lo).toLong, e)
      }
    }

  /** |sample| at or above this counts as clipped — just under PCM16
    * full scale, the loudness-war / hot-mic territory a recording
    * audit flags. */
  val ClipThreshold = 30000L

  /** A clip is declared when more than 1% of samples sit at the rail. */
  val ClipPpmBar = 10000L

  case class PcmClipping(doc_id: Long, n_samples: Long, n_clipped: Long,
    clip_ppm: Long, is_clipped: Long)

  /** Clipping-rate audit over the same PCM16LE decode (X225) — the
    * audio-QC screen run before feature extraction: a waveform pinned
    * at the amplitude rail is distorted at the SOURCE, and no
    * downstream normalization recovers it, so clipped clips are
    * quarantined (or gain-staged) before training the audio tower.
    * Per clip: sample count, samples at |s| ≥ [[ClipThreshold]],
    * integer-ppm clip rate, and the quarantine flag at
    * [[ClipPpmBar]]. All integer comparisons on the exact decoded
    * samples, so the audit hash-matches the SQL replay (the X13
    * oracle device). Same batched `mapPartitions` seam as
    * [[decodePcm16]]. */
  def decodePcmClipping(batch: Seq[MediaRecord],
      threshold: Long = ClipThreshold): Seq[PcmClipping] =
    batch.flatMap { r =>
      val b = r.payload
      val n = b.length / 2
      if (n == 0) None
      else {
        var i = 0; var clipped = 0L
        while (i < n) {
          val s = (b(2 * i + 1).toInt << 8) | (b(2 * i) & 0xff)
          if (math.abs(s.toLong) >= threshold) clipped += 1
          i += 1
        }
        val ppm = clipped * 1000000L / n
        Some(PcmClipping(r.doc_id, n.toLong, clipped, ppm,
          if (ppm > ClipPpmBar) 1L else 0L))
      }
    }

  /** Clipping-audit query over the media table. */
  def pcmClipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize)
        .flatMap(b => decodePcmClipping(b)))
      .toDF()
  }

  /** Short-time-energy query over the media table. */
  def pcmWindowEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(b =>
        decodePcmWindows(b)))
      .toDF()
  }

  /** Activity gate for [[pcmSilenceTrim]]: a window is ACTIVE iff its
    * mean square `energy/n ≥ floor`, compared in exact integer form
    * (`energy ≥ floor·n`). The floor sits at the fixture waveform's
    * median window mean-square so both trim branches exercise; a real
    * deployment sets it from its noise floor. */
  val ActiveMsFloor = 650000000L

  /** Leading/trailing silence trim (X265) — the voice-activity
    * trimming every audio-training pipeline runs before windowing
    * features: per clip, how many LEADING and TRAILING windows fall
    * below the activity floor, and the kept span between the first
    * and last active window (interior quiet windows are kept —
    * trimming is an endpoint operation, not a filter). An all-quiet
    * clip keeps nothing and reports `lead_trim = n_windows` — the
    * drop-this-clip signal. Pure composition over the X13 window-
    * energy frame: one doc-grain aggregate of min/max-active-window,
    * no new decode pass, all integer. */
  def pcmSilenceTrim(spark: SparkSession, dir: String): DataFrame = {
    val we = pcmWindowEnergy(spark, dir)
      .withColumn("is_active",
        when(col("energy") >= lit(ActiveMsFloor) * col("n_samples"), 1L)
          .otherwise(0L))
    we.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(col("is_active")).cast("long").as("n_active"),
        min(when(col("is_active") === 1, col("win"))).as("first_active"),
        max(when(col("is_active") === 1, col("win"))).as("last_active"))
      .select(col("doc_id"), col("n_windows"), col("n_active"),
        when(col("n_active") === 0, col("n_windows"))
          .otherwise(col("first_active")).cast("long").as("lead_trim"),
        when(col("n_active") === 0, 0L)
          .otherwise(col("n_windows") - 1 - col("last_active"))
          .cast("long").as("tail_trim"),
        when(col("n_active") === 0, 0L)
          .otherwise(col("last_active") - col("first_active") + 1)
          .cast("long").as("kept_windows"))
      .withColumn("kept_ppm",
        expr("kept_windows * 1000000 div n_windows"))
  }

  /** PCM16 waveform-feature query over the media table (payload bytes
    * interpreted as raw PCM16LE — the audio leg of the pipeline). */
  def pcmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodePcm16))
      .toDF()
      .withColumn("rms", round(col("rms"), 6))
  }

  // ---- real image leg: the JDK's own codec, no external library ----

  /** Horizontal-gradient magnitude at or above this counts as an edge
    * (the classic cheap sharpness/complexity proxy). */
  val EdgeThreshold = 32

  /** Pixel statistics from a REAL image decode — all integers so the
    * end-to-end PNG round trip hash-matches the oracle exactly. */
  case class ImageFeatures(doc_id: Long, img_w: Long, img_h: Long,
    n_pixels: Long, sum_px: Long, mean_px_e6: Long, edges: Long)

  /** One deterministic 8-bit grayscale PNG per document, ENCODED WITH
    * THE REAL JDK CODEC (`ImageIO.write`): pixel (x, y) is the text's
    * byte at `(y·w + x) mod len`, cycled, with the w×h grid from the
    * same `% 64 / % 48` metadata rule as [[mediaTable]]. PNG is
    * lossless, so the pixels — and therefore every downstream feature —
    * are a pure function of the text, which is what lets a SQL oracle
    * verify a genuine binary codec round trip end to end. Narrow
    * per-row work after one balancing repartition of the 1-file input. */
  def imageTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.core.Spread(graft.core.Tables(spark, dir, "documents"))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val w = text.length % 64 + 1
        val h = text.length % 48 + 1
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var k = 0
        while (k < w * h) {
          raster.setSample(k % w, k / w, 0,
            text.charAt(k % text.length).toInt & 0xff)
          k += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRecord(id, "image/png", bos.toByteArray, w, h)
      }
  }

  /** A REAL image decoder in the decode seam: `javax.imageio` reads
    * PNG/BMP/GIF with zero external dependencies (the r5 verdict's
    * point — the "no codec libs offline" stub rationale never held for
    * images). Same batched contract as [[decodeStub]]; features are
    * dimensions, integer pixel sum/mean (µunits) and a horizontal
    * edge-count sharpness proxy. Unreadable payloads drop out (None),
    * exactly how a production decode quarantines corrupt frames. */
  def decodeImage(batch: Seq[MediaRecord]): Seq[ImageFeatures] =
    batch.flatMap { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val raster = img.getRaster
        var sum = 0L
        var edges = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = raster.getSample(x, y, 0)
            sum += v
            if (x > 0 &&
                math.abs(v - raster.getSample(x - 1, y, 0)) >= EdgeThreshold)
              edges += 1
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        Some(ImageFeatures(r.doc_id, w.toLong, h.toLong, n, sum,
          sum * 1000000L / n, edges))
      }
    }

  /** Encode→decode image pipeline over the real JDK codec (the image
    * leg of the multimodal path). */
  def imageFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedImageTable(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeImage))
      .toDF()
  }

  case class ImageHash(doc_id: Long, img_w: Long, img_h: Long,
    ahash: String, n_ones: Long)

  /** Perceptual average-hash (aHash) from the REAL decoded pixels —
    * the image-dedup primitive (pHash family): 8×8 cell means over
    * the grayscale raster, bit i = cell mean > mean-of-cell-means;
    * near-duplicate images land within a small Hamming distance, and
    * EXACT re-encodes hash identically — which is what image-level
    * exact dedup joins on. All arithmetic is integer (cell mean =
    * `sum div count`, global mean = `Σmeans div 64`), and the
    * synthetic PNG's pixels are a pure function of the text, so the
    * whole decode→hash path replays in SQL (the X13 oracle device).
    * Images narrower than the 8×8 grid drop out (no full cell cover —
    * same quarantine semantics as an unreadable payload). Per-image
    * cost is one raster pass; the hash is 64 bits of state. */
  def ahashImage(batch: Seq[MediaRecord]): Seq[ImageHash] =
    batch.flatMap { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null || img.getWidth < 8 || img.getHeight < 8) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val raster = img.getRaster
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val cy = y * 8 / h
          var x = 0
          while (x < w) {
            val c = cy * 8 + x * 8 / w
            sums(c) += raster.getSample(x, y, 0)
            counts(c) += 1
            x += 1
          }
          y += 1
        }
        val means = Array.tabulate(64)(i => sums(i) / counts(i))
        val gm = means.sum / 64
        val bits = means.map(m => if (m > gm) '1' else '0')
        Some(ImageHash(r.doc_id, w.toLong, h.toLong, new String(bits),
          bits.count(_ == '1').toLong))
      }
    }

  /** Session-cached [[imageTable]]: the PNG encode is the expensive
    * half of the family (one `ImageIO.write` per doc), and three
    * registry queries (features, hash, pairs) start from the same
    * encoded table — the [[graft.dedup.Dedup.sharedShingles]]
    * family-cache pattern. */
  def sharedImageTable(spark: SparkSession,
      dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.core.SessionCache.cached(spark, s"imgtable:$dir")(
      imageTable(spark, dir).toDF()).as[MediaRecord]
  }

  /** [[ahashImage]] over the session's synthetic PNG table. */
  def imageHashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedImageTable(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(ahashImage))
      .toDF()
  }

  /** Pigeonhole block count and Hamming bound for [[ahashPairs]]:
    * with 4 blocks of 16 bits, any pair within Hamming ≤ 3 leaves at
    * least one block untouched — the bucket equi-join finds it. */
  val AhashBlocks = 4
  val AhashMaxHamming = 3L

  /** Image near-duplicate pairs from [[ahashImage]] hashes — the
    * multimodal leg of the dedup family (the X5 SimHash machinery
    * applied to perceptual image hashes): candidates from the
    * pigeonhole block equi-join (never all-pairs — a pair within the
    * Hamming bound shares ≥ 1 exact 16-bit block by counting),
    * Hamming verified as one codegen'd `bit_count(xor)` pair on the
    * two packed 32-bit halves (the X5 packed-long device — not 64
    * interpreted per-char hops). Shuffles on the (block, value)
    * bucket key only. */
  def ahashPairs(hashes: DataFrame,
      maxHamming: Long = AhashMaxHamming): DataFrame = {
    def half(off: Int) =
      conv(col("ahash").substr(off + 1, 32), 2, 10).cast("long")
    val h = graft.core.SessionCache.transient(
      hashes.select(col("doc_id"), col("ahash"),
        half(0).as("hi"), half(32).as("lo")))
    val seg = h.select(col("doc_id"), col("hi"), col("lo"),
      explode(array((0 until AhashBlocks).map(b =>
        struct(lit(b).as("blk"),
          col("ahash").substr(b * 16 + 1, 16).as("kval"))): _*)).as("k"))
      .select(col("doc_id"), col("hi"), col("lo"),
        col("k.blk").as("blk"), col("k.kval").as("kval"))
    val a = seg.select(col("doc_id").as("a_id"), col("hi").as("a_hi"),
      col("lo").as("a_lo"), col("blk"), col("kval"))
    val b = seg.select(col("doc_id").as("b_id"), col("hi").as("b_hi"),
      col("lo").as("b_lo"), col("blk"), col("kval"))
    val hamming = (bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
      bit_count(col("a_lo").bitwiseXOR(col("b_lo")))).cast("long")
    a.join(b, Seq("blk", "kval"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  val FrameBytes = 32
  val FrameEvery = 4

  /** Frame sampling: slice the opaque payload into fixed-size frames
    * and keep every k-th (the video-keyframe / audio-window shape the
    * training pipeline needs), fingerprinting each sampled frame. The
    * codec is the same declared stub as [[decodeStub]] — the real part
    * is the plumbing: per-row frame explosion is a narrow Generate (no
    * shuffle), slicing/digesting stays inside codegen'd built-ins, and
    * the frame grid derives from payload length only. Slicing operates
    * on the hex image of the payload (2 chars/byte) so the identical
    * frames are reproducible in the SQL oracle; a codec-enabled build
    * would slice the binary directly with the same plan shape. */
  /** Aspect ratio above this (or below its reciprocal) flags an
    * extreme-geometry asset (banners, separators, tracking pixels). */
  val ExtremeAspectE6 = 3000000L

  /** Fewer pixels than this flags a thumbnail/tracking-pixel asset. */
  val TinyPixels = 256L

  /** Image-geometry curation profile (X238) — the dimension screen a
    * vision-data pipeline runs BEFORE paying for decode: extreme
    * aspect ratios are banners / separators / tracking pixels (spam
    * geometry, not photographs), tiny assets carry no trainable
    * signal, and both verdicts come free from the METADATA columns —
    * no codec in the loop, which is the point: the screen prunes the
    * decode queue. Per asset: dimensions, pixel count, integer-ppm
    * aspect (w·10⁶ div h) and the two quarantine flags.
    *
    * Scale: pure map work over the media table's typed metadata —
    * no shuffle at all; the decode seam never runs for pruned rows. */
  def dimProfile(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).toDF()
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        (col("width").cast("long") * col("height")).as("n_pixels"),
        expr("(cast(width as bigint) * 1000000) div height")
          .cast("long").as("aspect_ppm"))
      .withColumn("is_extreme",
        when(col("aspect_ppm") > ExtremeAspectE6 ||
          col("aspect_ppm") < 1000000000000L / ExtremeAspectE6, 1L)
          .otherwise(0L))
      .withColumn("is_tiny",
        when(col("n_pixels") < TinyPixels, 1L).otherwise(0L))

  /** Cross-document duplicate-frame ledger (X232) — the video/audio
    * dedup primitive the doc-level near-dup misses: clip REUSE shows
    * up as identical sampled frames across different payloads (the
    * same intro sting, the same stock footage) long before whole-file
    * hashes agree. Per duplicated frame fingerprint: total
    * occurrences, distinct carrying docs, and the canonical keeper
    * occurrence — the struct-min over the unique (doc, frame) total
    * order, never `first()`. Fingerprints occurring once drop out
    * (the ledger is the DUP set; at 100 TB you persist exactly this).
    *
    * Scale: rides [[sampleFrames]] (linear explode, every-kth kept);
    * one fingerprint-grain map-side-combinable aggregate — the same
    * shuffle shape as exact doc dedup, at frame grain. */
  def frameDups(spark: SparkSession, dir: String,
      frameBytes: Int = FrameBytes, every: Int = FrameEvery): DataFrame =
    sampleFrames(spark, dir, frameBytes, every)
      .groupBy(col("frame_md5"))
      .agg(count(lit(1)).cast("long").as("n_frames"),
        countDistinct(col("doc_id")).cast("long").as("n_docs"),
        min(struct(col("doc_id"), col("frame_index"))).as("keep"))
      .filter(col("n_frames") >= 2)
      .select(col("frame_md5"), col("n_frames"), col("n_docs"),
        col("keep.doc_id").as("keeper_doc"),
        col("keep.frame_index").as("keeper_frame"))

  def sampleFrames(spark: SparkSession, dir: String,
      frameBytes: Int = FrameBytes, every: Int = FrameEvery): DataFrame = {
    val w = frameBytes * 2
    val hx = hex(col("payload"))
    val nFrames = ceil(length(col("hx")) / w.toDouble).cast("int")
    val frame = col("hx").substr(col("frame_index").cast("int") * w + 1,
      lit(w))
    mediaTable(spark, dir).toDF()
      .select(col("doc_id"), col("media_type"), hx.as("hx"))
      .filter(length(col("hx")) > 0)
      .select(col("doc_id"), col("media_type"), col("hx"),
        explode(filter(sequence(lit(0), nFrames - 1),
          i => i % every === 0)).as("frame_index"))
      .select(col("doc_id"), col("media_type"),
        col("frame_index").cast("long").as("frame_index"),
        md5(frame).as("frame_md5"),
        (length(frame) / lit(2)).cast("long").as("n_bytes"))
  }

  case class ImageResize(doc_id: Long, in_w: Long, in_h: Long,
    out_w: Long, out_h: Long, out_sum: Long, out_mean_e6: Long,
    px00: Long)

  /** X294: 2× box-downsample RESIZE over the real decoded raster —
    * the "resize" leg the multimodal brief names beside decode and
    * frame-sampling (thumbnailing / resolution normalization before
    * feature extraction). Each output pixel is the floor mean of its
    * 2×2 source block (`sum div 4` — non-negative, so truncation ≡
    * floor in any engine); odd trailing rows/columns are dropped
    * (the box grid's coverage rule), and images narrower than one
    * block quarantine out like unreadable payloads. Emits the resized
    * raster's integer evidence (sum, mean, the (0,0) probe pixel)
    * rather than the raster itself, so the decode→resize path
    * hash-matches the SQL replay of the synthetic pixel function —
    * the X13 oracle device. Same batched [[mapPartitions]] decode
    * seam; per-image cost is one raster pass. */
  def resizeImage(batch: Seq[MediaRecord]): Seq[ImageResize] =
    batch.flatMap { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null || img.getWidth < 2 || img.getHeight < 2) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val raster = img.getRaster
        val ow = w / 2
        val oh = h / 2
        var sum = 0L
        var px00 = 0L
        var by = 0
        while (by < oh) {
          var bx = 0
          while (bx < ow) {
            val s = raster.getSample(2 * bx, 2 * by, 0) +
              raster.getSample(2 * bx + 1, 2 * by, 0) +
              raster.getSample(2 * bx, 2 * by + 1, 0) +
              raster.getSample(2 * bx + 1, 2 * by + 1, 0)
            val v = s / 4
            if (bx == 0 && by == 0) px00 = v
            sum += v
            bx += 1
          }
          by += 1
        }
        val n = ow.toLong * oh
        Some(ImageResize(r.doc_id, w.toLong, h.toLong, ow.toLong,
          oh.toLong, sum, sum * 1000000L / n, px00))
      }
    }

  /** Resize query over the shared encoded-image table. */
  def imageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedImageTable(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(resizeImage))
      .toDF()
  }

  case class PcmDownsample(doc_id: Long, n_in: Long, n_out: Long,
    sum_abs_out: Long, peak_out: Long)

  /** X295: 2:1 decimation RESAMPLE over the PCM16LE decode — the
    * audio counterpart of [[resizeImage]] (sample-rate normalization
    * before feature extraction): each output sample is the floor mean
    * of a non-overlapping input pair, `floorDiv(s₀+s₁, 2)` — FLOOR,
    * not truncate, because samples are signed and the two semantics
    * part ways below zero (DuckDB's `//` floors; the Scala leg says
    * `math.floorDiv` so the engines agree). A trailing odd sample
    * drops (no full pair). Evidence columns are the decimated
    * signal's integer Σ|s| and peak. Same batched decode seam. */
  def pcmDownsampleLeg(batch: Seq[MediaRecord]): Seq[PcmDownsample] =
    batch.flatMap { r =>
      val b = r.payload
      val n = b.length / 2
      if (n < 2) None
      else {
        def smp(i: Int): Long =
          ((b(2 * i + 1).toInt << 8) | (b(2 * i) & 0xff)).toLong
        val nOut = n / 2
        var i = 0; var sumAbs = 0L; var peak = 0L
        while (i < nOut) {
          val v = math.floorDiv(smp(2 * i) + smp(2 * i + 1), 2L)
          val a = math.abs(v)
          sumAbs += a
          if (a > peak) peak = a
          i += 1
        }
        Some(PcmDownsample(r.doc_id, n.toLong, nOut.toLong, sumAbs,
          peak))
      }
    }

  /** Downsample query over the media table's PCM interpretation. */
  def pcmDownsample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions(
        _.grouped(DecodeBatchSize).flatMap(pcmDownsampleLeg))
      .toDF()
  }

  case class ImageEntropy(doc_id: Long, n_pixels: Long, n_levels: Long,
    h_bits_e6: Long, max_bits_e6: Long)

  /** Binary digit count — `bits(x) = ⌊log₂ x⌋ + 1` for x ≥ 1, the
    * X205 integer-entropy device. */
  private def bits(x: Long): Long =
    64L - java.lang.Long.numberOfLeadingZeros(math.max(x, 1L))

  /** X307: per-image grayscale histogram ENTROPY over the real PNG
    * decode — the flat/degenerate-image screen an image-corpus
    * curation pass runs (a single-color or two-tone frame carries no
    * training signal however sharp its edges look): decode, histogram
    * the 256 gray levels, and score Shannon entropy in the X205
    * floor-log2 bits device — `H_bits·10⁶ = (n·bits(n) −
    * Σ_v c_v·bits(c_v))·10⁶ div n` with `bits(x)` the binary digit
    * count — exact integers in any engine, no float log. `n_levels`
    * and its `bits` ceiling come along as the saturation read
    * (entropy near the level ceiling = well-spread pixels).
    *
    * Same batched `mapPartitions` decode seam as [[decodeImage]];
    * pixels are the deterministic text function, so the oracle
    * recomputes the histogram from the raw table. Per-image state is
    * one 256-long histogram — O(1) memory per record at any corpus
    * size. */
  def imageEntropyLeg(batch: Seq[MediaRecord]): Seq[ImageEntropy] =
    batch.flatMap { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        // ADVICE r14: the method accepts arbitrary MediaRecord
        // payloads like decodeImage — a 16-bit-gray PNG's band-0
        // samples exceed 255 (AIOOBE) and a 0-pixel image divides by
        // zero. ADVICE r15: SCALE by bit depth instead of clamping —
        // a clamp collapses every high-bit-depth image into the 255
        // bin (entropy ~0, flagging a normal image as flat); shifting
        // right by (sampleSize − 8) keeps the 256-bin histogram's
        // meaning at any depth. Empty rasters still skip, mirroring
        // the null-decode guard.
        if (w <= 0 || h <= 0) None
        else {
        val raster = img.getRaster
        val shift = math.max(raster.getSampleModel.getSampleSize(0) - 8, 0)
        val hist = new Array[Long](256)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val s = raster.getSample(x, y, 0) >> shift
            hist(if (s < 0) 0 else if (s > 255) 255 else s) += 1
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        var sumCb = 0L
        var levels = 0L
        var v = 0
        while (v < 256) {
          val c = hist(v)
          if (c > 0) { sumCb += c * bits(c); levels += 1 }
          v += 1
        }
        Some(ImageEntropy(r.doc_id, n, levels,
          (n * bits(n) - sumCb) * 1000000L / n,
          bits(levels) * 1000000L))
        }
      }
    }

  /** Entropy query over the shared encoded-image table. */
  def imageEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedImageTable(spark, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(imageEntropyLeg))
      .toDF()
  }
}
