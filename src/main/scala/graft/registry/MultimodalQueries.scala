package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.multimodal.Multimodal

/** Registry: multimodal binary-column pipeline. The payloads here are
  * ASCII text bytes (stand-in for encoded frames), which makes the
  * byte-level feature math expressible with char functions in DuckDB —
  * the oracle checks the REAL binary plumbing end to end, not the stub
  * semantics.
  */
object MultimodalQueries {

  /** PCM16LE byte→sample decode + short-time window energy as a CTE
    * (`we(doc_id, win, n_samples, energy)`) — shared verbatim by the
    * energy oracle and the silence-trim oracle so the trim provably
    * reads the published window frame. */
  private val PcmEnergyCte: String = {
    val w = Multimodal.PcmWindow
    s"""m AS (
       |  SELECT doc_id, text FROM documents WHERE length(text) >= 2),
       |s AS (
       |  SELECT doc_id, list_transform(range(1, length(text)//2 + 1),
       |    i -> CASE WHEN ascii(text[2*i:2*i]) >= 128
       |              THEN ascii(text[2*i-1:2*i-1])
       |                   + ascii(text[2*i:2*i]) * 256 - 65536
       |              ELSE ascii(text[2*i-1:2*i-1])
       |                   + ascii(text[2*i:2*i]) * 256 END) AS smp
       |  FROM m),
       |u AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(smp) + 1),
       |    i -> {'i': i, 'v': smp[i]})) AS t
       |  FROM s),
       |we AS (
       |  SELECT doc_id, CAST((t.i - 1) // $w AS BIGINT) AS win,
       |    CAST(COUNT(*) AS BIGINT) AS n_samples,
       |    CAST(SUM(t.v * t.v) AS BIGINT) AS energy
       |  FROM u GROUP BY 1, 2)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("multimodal_features", (s, d) => Multimodal.mediaFeatures(s, d),
      Oracle("""WITH c AS (
        |  SELECT doc_id, 'img/' || source AS media_type, text,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ascii(text[i:i])) AS codes
        |  FROM documents
        |)
        |SELECT doc_id, media_type,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  ROUND(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(list_sum(codes) AS DOUBLE) / length(text) END, 6)
        |    AS mean_byte,
        |  CAST(len(list_filter(codes, c -> c // 64 = 0)) AS BIGINT) AS hist_0,
        |  CAST(len(list_filter(codes, c -> c // 64 = 1)) AS BIGINT) AS hist_1,
        |  CAST(len(list_filter(codes, c -> c // 64 = 2)) AS BIGINT) AS hist_2,
        |  CAST(len(list_filter(codes, c -> c // 64 = 3)) AS BIGINT) AS hist_3
        |FROM c""".stripMargin)),
    QuerySpec("multimodal_frame_sample", (s, d) =>
      Multimodal.sampleFrames(s, d),
      Oracle({
      val w = Multimodal.FrameBytes * 2
      val k = Multimodal.FrameEvery
      s"""WITH m AS (
         |  SELECT doc_id, 'img/' || source AS media_type,
         |         hex(text) AS hx
         |  FROM documents WHERE length(text) > 0
         |),
         |fr AS (
         |  SELECT doc_id, media_type, hx,
         |    unnest(list_filter(
         |      range(0, CAST(ceil(length(hx) / $w.0) AS INT)),
         |      i -> i % $k = 0)) AS frame_index
         |  FROM m
         |)
         |SELECT doc_id, media_type, frame_index,
         |  md5(substring(hx, CAST(frame_index * $w + 1 AS INT), $w))
         |    AS frame_md5,
         |  length(substring(hx, CAST(frame_index * $w + 1 AS INT), $w)) // 2
         |    AS n_bytes
         |FROM fr""".stripMargin
    })),
    // X232: cross-document duplicate-frame ledger — clip-reuse dedup
    // at sampled-frame grain, struct-min keeper
    QuerySpec("multimodal_frame_dups", (s, d) => Multimodal.frameDups(s, d),
      // same frame extraction, fingerprint-grain rollup, keeper = the
      // lexicographic-min (doc, frame) occurrence via row_number
      Oracle({
      val w = Multimodal.FrameBytes * 2
      val k = Multimodal.FrameEvery
      s"""WITH m AS (
         |  SELECT doc_id, hex(text) AS hx
         |  FROM documents WHERE length(text) > 0
         |),
         |fr AS (
         |  SELECT doc_id,
         |    unnest(list_filter(
         |      range(0, CAST(ceil(length(hx) / $w.0) AS INT)),
         |      i -> i % $k = 0)) AS frame_index,
         |    hx
         |  FROM m
         |),
         |fm AS (
         |  SELECT doc_id, CAST(frame_index AS BIGINT) AS frame_index,
         |    md5(substring(hx, CAST(frame_index * $w + 1 AS INT), $w))
         |      AS frame_md5
         |  FROM fr
         |),
         |rk AS (
         |  SELECT frame_md5, doc_id, frame_index,
         |    row_number() OVER (PARTITION BY frame_md5
         |      ORDER BY doc_id, frame_index) AS rn,
         |    CAST(count(*) OVER (PARTITION BY frame_md5) AS BIGINT)
         |      AS n_frames,
         |    CAST(count(DISTINCT doc_id) OVER (PARTITION BY frame_md5)
         |      AS BIGINT) AS n_docs
         |  FROM fm
         |)
         |SELECT frame_md5, n_frames, n_docs, doc_id AS keeper_doc,
         |  frame_index AS keeper_frame
         |FROM rk WHERE rn = 1 AND n_frames >= 2""".stripMargin
    })),
    QuerySpec("multimodal_pcm_decode", (s, d) => Multimodal.pcmFeatures(s, d),
      // PCM16LE: byte pairs are samples — the oracle replays the exact
      // decode (low byte unsigned + high byte signed·256), exact integer
      // sum-of-squares, IEEE sqrt
      Oracle("""WITH m AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 2),
        |s AS (
        |  SELECT doc_id, list_transform(range(1, length(text)//2 + 1),
        |    i -> CASE WHEN ascii(text[2*i:2*i]) >= 128
        |              THEN ascii(text[2*i-1:2*i-1])
        |                   + ascii(text[2*i:2*i]) * 256 - 65536
        |              ELSE ascii(text[2*i-1:2*i-1])
        |                   + ascii(text[2*i:2*i]) * 256 END) AS smp
        |  FROM m)
        |SELECT doc_id, CAST(len(smp) AS BIGINT) AS n_samples,
        |  ROUND(sqrt(CAST(list_sum(list_transform(smp, x -> x * x))
        |    AS DOUBLE) / len(smp)), 6) AS rms,
        |  CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT)
        |    AS peak,
        |  CAST(COALESCE(list_sum(list_transform(range(2, len(smp) + 1),
        |    i -> CASE WHEN (smp[i] >= 0) <> (smp[i-1] >= 0)
        |              THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_cross
        |FROM s""".stripMargin)),
    // X155: short-time energy per fixed sample window — the audio
    // frame grain VAD/silence-trim/loudness consume; exact Longs end
    // to end, so the real decode hash-matches the SQL replay
    QuerySpec("multimodal_pcm_energy", (s, d) =>
      Multimodal.pcmWindowEnergy(s, d),
      // same sample decode, grouped to the fixed analysis window; the
      // struct-unnest carries each sample's ordinal so the window id is
      // (i-1) div W in both engines
      Oracle(s"""WITH $PcmEnergyCte
         |SELECT doc_id, win, n_samples, energy FROM we""".stripMargin)),
    // X225: clipping-rate audit over the same PCM decode — integer
    // rail comparisons, quarantine flag past 1% of samples
    QuerySpec("multimodal_pcm_clipping", (s, d) =>
      Multimodal.pcmClipping(s, d),
      // same sample decode, rail count via list_filter, ppm + 1% flag
      Oracle({
      val th = Multimodal.ClipThreshold
      val bar = Multimodal.ClipPpmBar
      s"""WITH m AS (
         |  SELECT doc_id, text FROM documents WHERE length(text) >= 2),
         |s AS (
         |  SELECT doc_id, list_transform(range(1, length(text)//2 + 1),
         |    i -> CASE WHEN ascii(text[2*i:2*i]) >= 128
         |              THEN ascii(text[2*i-1:2*i-1])
         |                   + ascii(text[2*i:2*i]) * 256 - 65536
         |              ELSE ascii(text[2*i-1:2*i-1])
         |                   + ascii(text[2*i:2*i]) * 256 END) AS smp
         |  FROM m),
         |a AS (SELECT doc_id, CAST(len(smp) AS BIGINT) AS n_samples,
         |        CAST(len(list_filter(smp, x -> abs(x) >= $th))
         |          AS BIGINT) AS n_clipped
         |      FROM s)
         |SELECT doc_id, n_samples, n_clipped,
         |  CAST((n_clipped * 1000000) // n_samples AS BIGINT) AS clip_ppm,
         |  CAST(CASE WHEN (n_clipped * 1000000) // n_samples > $bar
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_clipped
         |FROM a""".stripMargin
    })),
    // X265: leading/trailing silence trim — endpoint voice-activity
    // trim over the X13 window-energy frame, no new decode pass
    QuerySpec("multimodal_pcm_trim", (s, d) =>
      Multimodal.pcmSilenceTrim(s, d),
      // the same window-energy CTE, gated at the shared activity floor
      // and reduced to endpoint trim offsets
      Oracle({
      val f = Multimodal.ActiveMsFloor
      s"""WITH $PcmEnergyCte,
         |a AS (SELECT doc_id, win,
         |        CASE WHEN energy >= $f * n_samples
         |             THEN 1 ELSE 0 END AS is_active
         |      FROM we),
         |g AS (SELECT doc_id,
         |        CAST(count(*) AS BIGINT) AS n_windows,
         |        CAST(SUM(is_active) AS BIGINT) AS n_active,
         |        MIN(CASE WHEN is_active = 1 THEN win END)
         |          AS first_active,
         |        MAX(CASE WHEN is_active = 1 THEN win END)
         |          AS last_active
         |      FROM a GROUP BY 1)
         |SELECT doc_id, n_windows, n_active,
         |  CAST(CASE WHEN n_active = 0 THEN n_windows
         |       ELSE first_active END AS BIGINT) AS lead_trim,
         |  CAST(CASE WHEN n_active = 0 THEN 0
         |       ELSE n_windows - 1 - last_active END AS BIGINT)
         |    AS tail_trim,
         |  CAST(CASE WHEN n_active = 0 THEN 0
         |       ELSE last_active - first_active + 1 END AS BIGINT)
         |    AS kept_windows,
         |  CAST((CASE WHEN n_active = 0 THEN 0
         |        ELSE last_active - first_active + 1 END) * 1000000
         |    // n_windows AS BIGINT) AS kept_ppm
         |FROM g""".stripMargin
    })),
    // X238: image-geometry curation profile — metadata-only screen
    // that prunes the decode queue (extreme aspect / tiny assets)
    QuerySpec("multimodal_dim_profile", (s, d) => Multimodal.dimProfile(s, d),
      // the %64/%48 metadata rule replayed from n_chars; div vs // safe
      // (all operands non-negative)
      Oracle({
      val ex = Multimodal.ExtremeAspectE6
      val lo = 1000000000000L / Multimodal.ExtremeAspectE6
      val tiny = Multimodal.TinyPixels
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(n_chars % 64 + 1 AS BIGINT) AS width,
         |    CAST(n_chars % 48 + 1 AS BIGINT) AS height
         |  FROM documents),
         |p AS (SELECT doc_id, width, height,
         |        width * height AS n_pixels,
         |        (width * 1000000) // height AS aspect_ppm
         |      FROM m)
         |SELECT doc_id, width, height, n_pixels,
         |  CAST(aspect_ppm AS BIGINT) AS aspect_ppm,
         |  CAST(CASE WHEN aspect_ppm > $ex OR aspect_ppm < $lo
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_extreme,
         |  CAST(CASE WHEN n_pixels < $tiny THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_tiny
         |FROM p""".stripMargin
    })),
    QuerySpec("multimodal_image_decode", (s, d) =>
      Multimodal.imageFeatures(s, d),
      // PNG is lossless, so the REAL encode→decode round trip through
      // javax.imageio must reproduce the deterministic pixel function of
      // the text exactly — the oracle replays that function (byte at
      // (k mod len), w×h from the % 64 / % 48 metadata rule) in SQL
      Oracle({
      val t = Multimodal.EdgeThreshold
      s"""WITH m AS (
         |  SELECT doc_id, text, length(text) AS len,
         |    (length(text) % 64) + 1 AS w, (length(text) % 48) + 1 AS h
         |  FROM documents WHERE length(text) > 0),
         |px AS (
         |  SELECT doc_id, w, h,
         |    list_transform(range(0, w * h),
         |      k -> ascii(text[(k % len) + 1:(k % len) + 1])) AS p
         |  FROM m)
         |SELECT doc_id, CAST(w AS BIGINT) AS img_w,
         |  CAST(h AS BIGINT) AS img_h, CAST(w * h AS BIGINT) AS n_pixels,
         |  CAST(list_sum(p) AS BIGINT) AS sum_px,
         |  CAST((CAST(list_sum(p) AS BIGINT) * 1000000) // (w * h)
         |    AS BIGINT) AS mean_px_e6,
         |  CAST(COALESCE(list_sum(list_transform(range(0, w * h - 1),
         |    k -> CASE WHEN (k + 1) % w <> 0
         |              AND abs(p[k + 2] - p[k + 1]) >= $t
         |         THEN 1 ELSE 0 END)), 0) AS BIGINT) AS edges
         |FROM px""".stripMargin
    })),
    // X294: 2x box-downsample resize over the real decoded raster —
    // integer block means, odd edges dropped, (0,0) probe pixel
    QuerySpec("multimodal_image_resize", (s, d) => Multimodal.imageResize(s, d),
      // resize replay: the same pixel function grouped into 2x2 blocks
      // (j -> bx = j % ow, by = j // ow; source index 2·by·w + 2·bx),
      // floor block means; odd trailing rows/columns never indexed
      Oracle(s"""WITH m AS (
         |  SELECT doc_id, text, length(text) AS len,
         |    (length(text) % 64) + 1 AS w, (length(text) % 48) + 1 AS h
         |  FROM documents
         |  WHERE length(text) > 0 AND (length(text) % 64) + 1 >= 2
         |    AND (length(text) % 48) + 1 >= 2),
         |px AS (
         |  SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh,
         |    list_transform(range(0, w * h),
         |      k -> ascii(text[(k % len) + 1:(k % len) + 1])) AS p
         |  FROM m),
         |bl AS (
         |  SELECT doc_id, w, h, ow, oh,
         |    list_transform(range(0, ow * oh), j ->
         |      (p[(2 * (j // ow)) * w + 2 * (j % ow) + 1]
         |       + p[(2 * (j // ow)) * w + 2 * (j % ow) + 2]
         |       + p[(2 * (j // ow) + 1) * w + 2 * (j % ow) + 1]
         |       + p[(2 * (j // ow) + 1) * w + 2 * (j % ow) + 2]) // 4)
         |      AS q
         |  FROM px)
         |SELECT doc_id, CAST(w AS BIGINT) AS in_w,
         |  CAST(h AS BIGINT) AS in_h, CAST(ow AS BIGINT) AS out_w,
         |  CAST(oh AS BIGINT) AS out_h,
         |  CAST(list_sum(q) AS BIGINT) AS out_sum,
         |  CAST((CAST(list_sum(q) AS BIGINT) * 1000000) // (ow * oh)
         |    AS BIGINT) AS out_mean_e6,
         |  CAST(q[1] AS BIGINT) AS px00
         |FROM bl""".stripMargin)),
    // X307: histogram entropy over the real PNG decode — the
    // flat/degenerate-image screen, X205 integer-bits device
    QuerySpec("multimodal_image_entropy", (s, d) =>
      Multimodal.imageEntropy(s, d),
      // entropy replay: the same pixel function, histogram by GROUP BY
      // over the exploded levels, the X205 bits device for H
      Oracle("""WITH m AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    (length(text) % 64) + 1 AS w, (length(text) % 48) + 1 AS h
        |  FROM documents WHERE length(text) > 0),
        |px AS (
        |  SELECT doc_id, w, h,
        |    list_transform(range(0, w * h),
        |      k -> ascii(text[(k % len) + 1:(k % len) + 1])) AS p
        |  FROM m),
        |cnt AS (
        |  SELECT doc_id, pv, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(p) AS pv FROM px)
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_levels,
        |    CAST(SUM(c * length(format('{:b}', c))) AS BIGINT)
        |      AS sum_cb
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id, n AS n_pixels, n_levels,
        |  CAST(((n * length(format('{:b}', n)) - sum_cb) * 1000000)
        |    // n AS BIGINT) AS h_bits_e6,
        |  CAST(length(format('{:b}', n_levels)) * 1000000 AS BIGINT)
        |    AS max_bits_e6
        |FROM agg""".stripMargin)),
    // X295: 2:1 PCM decimation — floor pair means (floorDiv, signed),
    // decimated-signal sum/peak evidence
    QuerySpec("multimodal_pcm_downsample", (s, d) =>
      Multimodal.pcmDownsample(s, d),
      // decimation replay over the same PCM16LE list decode; // floors
      // signed pair sums exactly like the Scala leg's floorDiv
      Oracle("""WITH m AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 4),
        |s AS (
        |  SELECT doc_id, list_transform(range(1, length(text)//2 + 1),
        |    i -> CASE WHEN ascii(text[2*i:2*i]) >= 128
        |              THEN ascii(text[2*i-1:2*i-1])
        |                   + ascii(text[2*i:2*i]) * 256 - 65536
        |              ELSE ascii(text[2*i-1:2*i-1])
        |                   + ascii(text[2*i:2*i]) * 256 END) AS smp
        |  FROM m),
        |q AS (
        |  SELECT doc_id, CAST(len(smp) AS BIGINT) AS n_in,
        |    list_transform(range(1, len(smp)//2 + 1),
        |      i -> (smp[2*i-1] + smp[2*i]) // 2) AS ds
        |  FROM s)
        |SELECT doc_id, n_in, CAST(len(ds) AS BIGINT) AS n_out,
        |  CAST(COALESCE(list_sum(list_transform(ds, x -> abs(x))), 0)
        |    AS BIGINT) AS sum_abs_out,
        |  CAST(list_max(list_transform(ds, x -> abs(x))) AS BIGINT)
        |    AS peak_out
        |FROM q""".stripMargin)),
    QuerySpec("multimodal_ahash", (s, d) => Multimodal.imageHashes(s, d),
      // aHash replay: the same pixel function, cell assignment
      // ((y·8)//h)·8 + (x·8)//w, integer cell means, global mean of
      // means, bit = mean > gm; w/h < 8 drop (no full cell cover)
      Oracle(s"""WITH $AhashCtes
         |SELECT doc_id,
         |  CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
         |  ahash, n_ones
         |FROM ah""".stripMargin)),
    QuerySpec("multimodal_ahash_pairs", (s, d) =>
      Multimodal.ahashPairs(Multimodal.imageHashes(s, d)),
      // block pigeonhole + per-position bitstring hamming over the same
      // ah CTE; DISTINCT collapses multi-block candidate repeats
      Oracle({
      val blocks = Multimodal.AhashBlocks
      s"""WITH $AhashCtes,
         |seg AS (SELECT doc_id, ahash,
         |          CAST(unnest(range(0, $blocks)) AS BIGINT) AS blk,
         |          unnest(list_transform(range(0, $blocks),
         |            b -> ahash[b * 16 + 1:b * 16 + 16])) AS kval
         |        FROM ah),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, a.ahash AS a_h,
         |           b.doc_id AS b_id, b.ahash AS b_h
         |         FROM seg a JOIN seg b
         |           ON a.blk = b.blk AND a.kval = b.kval
         |          AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id,
         |  CAST(len(list_filter(range(1, 65),
         |    i -> a_h[CAST(i AS INT):CAST(i AS INT)]
         |      <> b_h[CAST(i AS INT):CAST(i AS INT)])) AS BIGINT)
         |    AS hamming
         |FROM cand
         |WHERE len(list_filter(range(1, 65),
         |  i -> a_h[CAST(i AS INT):CAST(i AS INT)]
         |    <> b_h[CAST(i AS INT):CAST(i AS INT)]))
         |  <= ${Multimodal.AhashMaxHamming}""".stripMargin
    })))

  /** The pixel→cell-mean→bit chain ending in
    * `ah(doc_id, w, h, ahash, n_ones)` — shared by the hash oracle and
    * the pair oracle. */
  private lazy val AhashCtes: String =
    """m AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    (length(text) % 64) + 1 AS w, (length(text) % 48) + 1 AS h
      |  FROM documents
      |  WHERE length(text) > 0 AND (length(text) % 64) + 1 >= 8
      |    AND (length(text) % 48) + 1 >= 8),
      |px AS (
      |  SELECT doc_id, w, h,
      |    CAST(unnest(range(0, w * h)) AS BIGINT) AS k,
      |    unnest(list_transform(range(0, w * h),
      |      k2 -> ascii(text[(k2 % len) + 1:(k2 % len) + 1]))) AS v
      |  FROM m),
      |cells AS (
      |  SELECT doc_id, w, h,
      |    ((k // w) * 8 // h) * 8 + ((k % w) * 8 // w) AS cell,
      |    CAST(SUM(v) // count(*) AS BIGINT) AS mean
      |  FROM px GROUP BY 1, 2, 3, 4),
      |g AS (SELECT doc_id, CAST(SUM(mean) // 64 AS BIGINT) AS gm
      |      FROM cells GROUP BY 1),
      |ah AS (
      |  SELECT c.doc_id, c.w, c.h,
      |    string_agg(CASE WHEN c.mean > g.gm THEN '1' ELSE '0' END, ''
      |      ORDER BY c.cell) AS ahash,
      |    CAST(SUM(CASE WHEN c.mean > g.gm THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_ones
      |  FROM cells c JOIN g USING (doc_id)
      |  GROUP BY 1, 2, 3)""".stripMargin
}
