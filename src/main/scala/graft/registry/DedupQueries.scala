package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.Dedup
import graft.dedup.Dedup._

/** Registry: deduplication operators over `documents` (SURVEY-adjacent
  * training-data-pipeline surface). Oracle SQL mirrors the exact same
  * MD5-based shingle/signature math in DuckDB, generated from the same
  * constants in [[graft.dedup.Dedup]].
  */
object DedupQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** The family's shared tokenize→shingle derivation (session-cached;
    * see [[Dedup.sharedShingles]]). */
  private def sh(s: SparkSession, d: String): Option[DataFrame] =
    Some(Dedup.sharedShingles(s, d))

  // ---- shared DuckDB CTEs (generated from the same constants) ----

  /** Paragraph-dedup CTE chain (X273) ending in `pclean(doc_id,
    * n_paras, n_kept, clean_text)` — shared with [[PipelineQueries]]
    * (pretraining-manifest oracle) so the composite and the
    * standalone query cannot disagree about a paragraph. CTE names
    * are p-prefixed to compose without collisions. */
  private[registry] val ParagraphCtes =
    """pt AS (
      |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
      |    THEN text || chr(10) || chr(10) ||
      |      'Subscribe to the ' || source || ' newsletter today.'
      |    ELSE text END AS ptext
      |  FROM documents),
      |ps AS (SELECT doc_id,
      |        string_split(ptext, chr(10) || chr(10)) AS parts
      |      FROM pt),
      |pp AS (SELECT doc_id,
      |        CAST(unnest(range(0, len(parts))) AS BIGINT) AS pos,
      |        parts
      |      FROM ps),
      |px AS (SELECT doc_id, pos, parts[CAST(pos + 1 AS INT)] AS para
      |      FROM pp),
      |pr AS (SELECT doc_id, pos, para,
      |        row_number() OVER (PARTITION BY md5(para)
      |          ORDER BY doc_id, pos) AS rk
      |      FROM px),
      |pclean AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
      |    CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_kept,
      |    COALESCE(string_agg(CASE WHEN rk = 1 THEN para END,
      |      chr(10) || chr(10) ORDER BY pos), '') AS clean_text
      |  FROM pr GROUP BY doc_id)""".stripMargin

  /** Shared with [[PipelineQueries]] (curation-composite oracle). */
  private[registry] val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Word-ShingleN-gram distinct shingle sets, docs with ≥1 shingle.
    * Shared with [[PipelineQueries]] (decontamination). */
  private[registry] val ShinglesCte = {
    val joinWords = (0 until ShingleN)
      .map(j => s"w[i + $j]").mkString(" || ' ' || ")
    s"""sh AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(w) - ${ShingleN - 1} < 1 THEN []
       |         ELSE list_transform(range(1, len(w) - ${ShingleN - 2}),
       |                i -> $joinWords) END) AS shingles
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w
       |        FROM documents)
       |), shf AS (SELECT * FROM sh WHERE len(shingles) > 0)""".stripMargin
  }

  private val Hex8 = OracleSql.hex8("md5(s)")

  private[registry] val SigCte =
    s"""bs AS (
       |  SELECT doc_id, list_transform(shingles, s ->
       |    $Hex8 % 2147483647) AS bases
       |  FROM shf),
       |sig AS (
       |  SELECT doc_id, list_transform(range(0, $NumHashes), j ->
       |    list_min(list_transform(bases, h ->
       |      (((2654435761 * (j + 1)) % 2147483647) * h
       |        + ((40503 * (j + 7)) % 2147483647)) % 2147483647))) AS sig
       |  FROM bs)""".stripMargin

  /** Bit j (1-based) votes by bit ((j-1) mod 4) of the value of hex
    * digit ((j-1) div 4 + 1) of the single md5 — same mapping as
    * [[graft.functions.SimHashBits]]. */
  private val SimhashCte = {
    val hv = "ascii(substring(d, CAST((j-1)//4 AS INT) + 1, 1))"
    val digitVal = s"(CASE WHEN $hv < 58 THEN $hv - 48 ELSE $hv - 87 END)"
    val shift = "(CASE WHEN (j-1)%4 = 0 THEN 1 WHEN (j-1)%4 = 1 THEN 2 " +
      "WHEN (j-1)%4 = 2 THEN 4 ELSE 8 END)"
    s"""dg AS (
       |  SELECT doc_id, list_transform(shingles, s -> md5(s)) AS digests
       |  FROM shf),
       |simh AS (
       |  SELECT doc_id, array_to_string(list_transform(range(1, ${SimhashBits + 1}), j ->
       |    CASE WHEN CAST(list_sum(list_transform(digests,
       |           d -> (($digitVal // $shift) % 2) * 2 - 1)) AS BIGINT) > 0
       |         THEN '1' ELSE '0' END), '') AS simhash
       |  FROM dg)""".stripMargin
  }

  /** LSH band/candidate CTEs + thresholded pair select, shared by the
    * pair query and the cluster (connected-components) query. */
  private[registry] val LshBandCtes: String = {
    val r = NumHashes / Bands
    s"""bands AS (
       |  SELECT doc_id, band,
       |         array_to_string(list_transform(
       |           list_slice(sig, band * $r + 1, band * $r + $r),
       |           x -> CAST(x AS VARCHAR)), '|') AS bval
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $Bands)) AS band)
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  private[registry] val LshPairsSelect: String =
    s"""SELECT * FROM (
       |  SELECT a_id, b_id,
       |    ROUND(CAST(list_sum(list_transform(range(1, ${NumHashes + 1}),
       |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
       |      AS BIGINT) / $NumHashes.0, 6) AS est_jaccard
       |  FROM cand JOIN sig sa ON a_id = sa.doc_id
       |            JOIN sig sb ON b_id = sb.doc_id
       |) WHERE est_jaccard >= $MinEstJaccard""".stripMargin

  /** Exact df-capped n-gram Jaccard pairs as CTEs ending in `jp` —
    * shared by the pair query and the LSH audit. Requires
    * [[ShinglesCte]] upstream. */
  /** Uncapped exact τ-Jaccard pairs (the X140 spec): brute-force
    * inverted-index join, integer cross-multiplied threshold. Produces
    * `pp(a_id, b_id, inter, na, nb, jac_e6)`. */
  private val PpPairsCtes: String = {
    val tauE6 = math.round(Dedup.MinJaccard * 1e6)
    s"""ppex AS (SELECT doc_id, unnest(shingles) AS s FROM shf),
       |ppcnt AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n
       |          FROM shf),
       |ppsh AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(count(*) AS BIGINT) AS inter
       |  FROM ppex a JOIN ppex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pp AS (
       |  SELECT a_id, b_id, inter, ca.n AS na, cb.n AS nb,
       |         (inter * 1000000) // (ca.n + cb.n - inter) AS jac_e6
       |  FROM ppsh JOIN ppcnt ca ON a_id = ca.doc_id
       |            JOIN ppcnt cb ON b_id = cb.doc_id
       |  WHERE inter * 1000000 >= $tauE6 * (ca.n + cb.n - inter))"""
      .stripMargin
  }

  private val JaccardPairsCtes: String =
    s"""ex AS (SELECT doc_id, unnest(shingles) AS s FROM shf),
       |rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= $MaxShingleDf),
       |exf AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare ON ex.s = rare.s),
       |cnt AS (SELECT doc_id, count(*) AS n FROM exf GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |jp AS (SELECT * FROM (
       |  SELECT a_id, b_id,
       |         ROUND(c * 1.0 / (ca.n + cb.n - c), 6) AS jaccard
       |  FROM shared JOIN cnt ca ON a_id = ca.doc_id
       |              JOIN cnt cb ON b_id = cb.doc_id
       |) WHERE jaccard >= $MinJaccard)""".stripMargin

  /** Connected-components labels over the LSH pair graph (recursive
    * transitive closure; `cl` = (doc_id, cluster_id) for every doc,
    * singletons included) — shared by the cluster query and the
    * canonical-representative query. Callers prepend WITH RECURSIVE. */
  private val ClusterCtes: String =
    s"""$ShinglesCte, $SigCte, $LshBandCtes,
       |pr AS ($LshPairsSelect),
       |e AS (SELECT a_id AS s, b_id AS t FROM pr
       |      UNION ALL SELECT b_id, a_id FROM pr),
       |r AS (
       |  SELECT s, t FROM e
       |  UNION
       |  SELECT r.s, e.t FROM r JOIN e ON r.t = e.s
       |),
       |mins AS (SELECT s AS doc_id, MIN(t) AS m FROM r GROUP BY s),
       |cl AS (SELECT d.doc_id,
       |         LEAST(d.doc_id, COALESCE(mins.m, d.doc_id)) AS cluster_id
       |       FROM documents d LEFT JOIN mins ON d.doc_id = mins.doc_id)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", (s, d) => Dedup.exactDedup(docs(s, d)),
      Oracle(s"""SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |GROUP BY fp""".stripMargin)),
    // X298: storage savings of exact dedup per source — non-keeper
    // copies' characters, attributed to the source holding the copy
    QuerySpec("dedup_savings", (s, d) => Dedup.dedupSavings(docs(s, d)),
      // same fingerprint grain joined back; savings = non-keeper chars
      Oracle(s"""WITH f AS (
         |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         |         md5($normSql) AS fp
         |  FROM documents),
         |k AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS dup_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
         |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_chars
         |    ELSE 0 END) AS BIGINT) AS chars_saved,
         |  CAST((SUM(CASE WHEN doc_id <> keep_id THEN n_chars
         |      ELSE 0 END) * 1000000)
         |    // greatest(SUM(n_chars), 1) AS BIGINT) AS saved_ppm
         |FROM f JOIN k USING (fp) GROUP BY 1""".stripMargin)),
    // X273: paragraph-grain dedup (the C4 rule) — blank-line split,
    // exact cross-doc paragraph dedup (first (doc_id, pos) occurrence
    // kept), in-order reassembly; planted per-source boilerplate
    QuerySpec("dedup_paragraphs", (s, d) => Dedup.sharedParagraphDedup(s, d),
      // paragraph split via chr(10) so no engine-side escape processing
      // is involved; rank window mirrors the Spark first-occurrence rule
      Oracle(s"""WITH $ParagraphCtes
         |SELECT doc_id, n_paras, n_kept, clean_text
         |FROM pclean""".stripMargin)),
    QuerySpec("dedup_clusters", (s, d) =>
      Dedup.nearDupClusters(docs(s, d),
        pairs = Some(Dedup.sharedPairs(s, d))),
      // connected components over the LSH pair graph: recursive
      // transitive closure, label = min doc id reachable (same canonical
      // labels as the engine's min-label propagation); docs in no pair
      // are their own singleton cluster
      Oracle(s"""WITH RECURSIVE $ClusterCtes
         |SELECT doc_id, cluster_id FROM cl""".stripMargin)),
    QuerySpec("dedup_minhash_sig", (s, d) =>
      Dedup.minhashSignature(docs(s, d), shingles = sh(s, d))
        .select(col("doc_id"),
          array_join(col("sig").cast("array<string>"), ",").as("sig_str")),
      Oracle(s"""WITH $ShinglesCte, $SigCte
         |SELECT doc_id, array_to_string(
         |  list_transform(sig, x -> CAST(x AS VARCHAR)), ',') AS sig_str
         |FROM sig""".stripMargin)),
    QuerySpec("dedup_minhash_lsh", (s, d) => Dedup.sharedPairs(s, d),
      Oracle(s"""WITH $ShinglesCte, $SigCte, $LshBandCtes
         |$LshPairsSelect""".stripMargin)),
    // X218: cross-source duplicate-flow matrix — the LSH pair set
    // aggregated by canonical (source, source) endpoint pair
    QuerySpec("dedup_source_matrix", (s, d) => Dedup.sourceDupMatrix(s, d),
      // the same LSH pair CTEs, endpoints joined to their sources,
      // canonical unordered (least, greatest) cell + ppm share
      Oracle(s"""WITH $ShinglesCte, $SigCte, $LshBandCtes,
         |lp AS ($LshPairsSelect),
         |sj AS (SELECT least(da.source, db.source) AS source_lo,
         |         greatest(da.source, db.source) AS source_hi
         |       FROM lp JOIN documents da ON lp.a_id = da.doc_id
         |               JOIN documents db ON lp.b_id = db.doc_id),
         |cl AS (SELECT source_lo, source_hi,
         |         CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM sj GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM cl)
         |SELECT source_lo, source_hi, n_pairs,
         |  CAST((n_pairs * 1000000) // greatest(n_total, 1) AS BIGINT)
         |    AS share_ppm,
         |  CAST(CASE WHEN source_lo = source_hi THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_intra
         |FROM cl CROSS JOIN tot""".stripMargin)),
    // X222: post-dedup source-mix shift — per-source keep rate and
    // the corpus mix before vs after canonical-rep dedup
    QuerySpec("dedup_mix_shift", (s, d) => Dedup.dedupMixShift(s, d),
      // the same recursive-closure cluster labels + quality-ranked rep
      // pick as dedup_canonical_reps, rolled up to source grain
      Oracle(s"""WITH RECURSIVE $ClusterCtes,
         |q AS (SELECT doc_id, ${TextQueries.qualitySql} AS quality
         |      FROM documents),
         |j AS (SELECT cl.doc_id, cl.cluster_id, q.quality,
         |        row_number() OVER (PARTITION BY cl.cluster_id
         |          ORDER BY q.quality DESC, cl.doc_id) AS rk
         |      FROM cl JOIN q USING (doc_id)),
         |rp AS (SELECT doc_id, CASE WHEN rk = 1 THEN 1 ELSE 0 END
         |         AS is_rep FROM j),
         |per AS (SELECT d.source,
         |          CAST(count(*) AS BIGINT) AS docs_before,
         |          CAST(SUM(is_rep) AS BIGINT) AS docs_kept
         |        FROM documents d JOIN rp USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(docs_before) AS BIGINT) AS t_before,
         |          CAST(SUM(docs_kept) AS BIGINT) AS t_kept FROM per)
         |SELECT source, docs_before, docs_kept,
         |  CAST(((docs_before - docs_kept) * 1000000) // docs_before
         |    AS BIGINT) AS drop_ppm,
         |  CAST((docs_before * 1000000) // greatest(t_before, 1)
         |    AS BIGINT) AS mix_before_ppm,
         |  CAST((docs_kept * 1000000) // greatest(t_kept, 1)
         |    AS BIGINT) AS mix_after_ppm
         |FROM per CROSS JOIN tot""".stripMargin)),
    QuerySpec("dedup_simhash", (s, d) =>
      Dedup.simhash(docs(s, d), shingles = sh(s, d)),
      Oracle(s"""WITH $ShinglesCte, $SimhashCte
         |SELECT doc_id, simhash FROM simh""".stripMargin)),
    QuerySpec("dedup_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(docs(s, d), shingles = sh(s, d)),
      Oracle({
      // the same 20 3-of-6-block keys as Dedup.BlockCombos, generated
      // from the same constants
      val keyLits = BlockCombos.zipWithIndex.map { case (blocks, ci) =>
        val kval = blocks.map(b =>
          s"substring(simhash, ${BlockOffsets(b) + 1}, ${BlockWidths(b)})")
          .mkString(" || ")
        s"{'cb': $ci, 'kval': $kval}"
      }.mkString(",\n      ")
      s"""WITH $ShinglesCte, $SimhashCte,
         |seg AS (
         |  SELECT doc_id, simhash, u.cb AS seg, u.kval AS sval FROM (
         |    SELECT doc_id, simhash, unnest([
         |      $keyLits
         |    ]) AS u
         |    FROM simh)
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM seg a JOIN seg b
         |    ON a.seg = b.seg AND a.sval = b.sval AND a.doc_id < b.doc_id
         |)
         |SELECT * FROM (
         |  SELECT a_id, b_id,
         |    CAST(hamming(sa.simhash, sb.simhash) AS BIGINT) AS hamming
         |  FROM cand JOIN simh sa ON a_id = sa.doc_id
         |            JOIN simh sb ON b_id = sb.doc_id
         |) WHERE hamming <= $MaxHamming""".stripMargin
    })),
    QuerySpec("dedup_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), shingles = sh(s, d),
        cappedIndex = Some(Dedup.sharedCappedIndex(s, d)),
        overlap = Some(Dedup.sharedOverlapCounts(s, d))),
      Oracle(s"""WITH $ShinglesCte, $JaccardPairsCtes
         |SELECT a_id, b_id, jaccard FROM jp""".stripMargin)),
    // X176: directed containment — the sub-document detector Jaccard
    // is blind to; same df-capped inverted index, both directions —
    // both legs off the session tiers the two queries share
    QuerySpec("dedup_containment", (s, d) =>
      Dedup.containmentPairs(docs(s, d), shingles = sh(s, d),
        cappedIndex = Some(Dedup.sharedCappedIndex(s, d)),
        overlap = Some(Dedup.sharedOverlapCounts(s, d))),
      // same df-capped inverted index, both directions, integer ppm
      Oracle(s"""WITH $ShinglesCte,
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM shf),
         |rare AS (SELECT s FROM ex GROUP BY s
         |         HAVING count(*) <= $MaxShingleDf),
         |exf AS (SELECT ex.doc_id, ex.s FROM ex
         |        JOIN rare ON ex.s = rare.s),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |        FROM exf GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dir AS (SELECT a_id AS src_id, b_id AS dst_id, c FROM shared
         |        UNION ALL SELECT b_id, a_id, c FROM shared)
         |SELECT src_id, dst_id, c AS shared, n AS n_src,
         |  CAST((c * 1000000) // n AS BIGINT) AS containment_ppm
         |FROM dir JOIN cnt ON src_id = cnt.doc_id
         |WHERE (c * 1000000) // n >= 500000""".stripMargin)),
    // X140: EXACT tau-Jaccard join — prefix filtering instead of the
    // df cap, so no shingle is dropped and the answer set is complete
    QuerySpec("dedup_ppjoin", (s, d) => Dedup.sharedExactPairs(s, d),
      // the oracle is the brute-force inverted-index join with NO df cap
      // — prefix filtering is lossless, so the engine must reproduce the
      // complete answer set exactly; integer cross-multiplied threshold
      Oracle(s"""WITH $ShinglesCte, $PpPairsCtes
         |SELECT a_id, b_id, inter, na, nb, jac_e6 FROM pp"""
        .stripMargin)),
    // X154: each doc's top-3 nearest neighbors by exact Jaccard — the
    // kNN text view composed from the shared exact pair set via the
    // bounded-heap top-k (no per-doc sort of the whole pair list)
    QuerySpec("dedup_topk_neighbors", (s, d) => {
      val p = Dedup.sharedExactPairs(s, d)
        .select(col("a_id"), col("b_id"), col("jac_e6"))
      val sym = p.unionByName(p.select(col("b_id").as("a_id"),
        col("a_id").as("b_id"), col("jac_e6")))
      graft.operators.TopKPerKey.topKPerKey(
        sym.select(col("a_id").as("doc_id"),
          col("b_id").as("neighbor"), col("jac_e6")),
        Seq("doc_id"), "jac_e6", "neighbor", 3)
    },
      // symmetrized exact pairs -> rank window (jac DESC, neighbor ASC)
      // — the spec the bounded per-partition heaps must reproduce
      Oracle(s"""WITH $ShinglesCte, $PpPairsCtes,
         |sym AS (SELECT a_id AS doc_id, b_id AS neighbor, jac_e6
         |        FROM pp
         |        UNION ALL
         |        SELECT b_id, a_id, jac_e6 FROM pp),
         |rk AS (SELECT doc_id, neighbor, jac_e6,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |           ORDER BY jac_e6 DESC, neighbor ASC) AS BIGINT)
         |           AS rk
         |       FROM sym)
         |SELECT doc_id, neighbor, jac_e6, rk FROM rk
         |WHERE rk <= 3""".stripMargin)),
    QuerySpec("dedup_shingle_novelty", (s, d) =>
      Dedup.shingleNovelty(docs(s, d), shingles = sh(s, d)),
      // novelty as integer ppm (// is exact for these non-negative
      // counts); df >= 2 means "appears in at least one OTHER doc"
      // because shingles are per-doc distinct
      Oracle(s"""WITH $ShinglesCte,
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM shf),
         |d AS (SELECT s, count(*) AS df FROM ex GROUP BY 1),
         |a AS (SELECT doc_id, count(*) AS n_shingles,
         |             CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
         |               AS BIGINT) AS n_shared
         |      FROM ex JOIN d USING (s) GROUP BY 1)
         |SELECT doc_id, n_shingles, n_shared,
         |  CAST(((n_shingles - n_shared) * 1000000) // n_shingles
         |    AS BIGINT) AS novelty_e6
         |FROM a""".stripMargin)),
    QuerySpec("dedup_dup_spans", (s, d) => Dedup.dupSpanRemoval(docs(s, d)),
      // duplicated-span removal: positions covered by any SpanN-token
      // window occurring in >= SpanMinDf docs are cut; text reassembled
      // from the survivors in order (md5 of '' for fully-covered docs)
      Oracle({
      val n = SpanN
      s"""WITH tw AS (
         |  SELECT doc_id,
         |    CASE WHEN nrm = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(nrm, ' ') END AS w
         |  FROM (SELECT doc_id, $normSql AS nrm FROM documents)),
         |sp AS (SELECT doc_id,
         |         CAST(unnest(range(0, greatest(len(w) - ${n - 1}, 0)))
         |           AS BIGINT) AS pos, w
         |       FROM tw),
         |shp AS (SELECT doc_id, pos,
         |          array_to_string(w[CAST(pos + 1 AS INT):CAST(pos + $n AS INT)],
         |            ' ') AS sh
         |        FROM sp),
         |dup AS (SELECT sh FROM shp
         |        GROUP BY sh HAVING count(DISTINCT doc_id) >= $SpanMinDf),
         |cov AS (SELECT DISTINCT s.doc_id, s.pos + o.o AS tpos
         |        FROM shp s JOIN dup USING (sh)
         |        CROSS JOIN (SELECT unnest(range(0, $n)) AS o) o),
         |tk AS (SELECT doc_id,
         |         CAST(unnest(range(0, len(w))) AS BIGINT) AS tpos, w
         |       FROM tw),
         |tok AS (SELECT doc_id, tpos, w[CAST(tpos + 1 AS INT)] AS tok FROM tk),
         |kept AS (SELECT tok.doc_id,
         |           string_agg(tok.tok, ' ' ORDER BY tok.tpos) AS txt
         |         FROM tok ANTI JOIN cov
         |           ON tok.doc_id = cov.doc_id AND tok.tpos = cov.tpos
         |         GROUP BY 1),
         |ca AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(len(t.w) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(ca.n_cov, 0) AS BIGINT) AS n_covered,
         |  CAST(CASE WHEN len(t.w) = 0 THEN 0
         |            ELSE COALESCE((ca.n_cov * 1000000) // len(t.w), 0) END
         |    AS BIGINT) AS covered_ppm,
         |  md5(COALESCE(kept.txt, '')) AS clean_fp
         |FROM tw t LEFT JOIN ca USING (doc_id)
         |          LEFT JOIN kept USING (doc_id)""".stripMargin
    })),
    QuerySpec("dedup_winnow", (s, d) => Dedup.winnowPairs(docs(s, d)),
      // winnowing: the same (hash asc, pos desc) argmin as the engine,
      // realized by the identical packed-integer min over the identical
      // doc-partitioned w-window; full windows only, then the df-capped
      // fp self-join
      Oracle({
      val n = Dedup.WinnowGramN
      val w = Dedup.WinnowWindow
      val cap = Dedup.WinnowPosCap
      val gram = (0 until n).map(j => s"w[pos + ${j + 1}]")
        .mkString(" || ' ' || ")
      s"""WITH tw AS (
         |  SELECT doc_id,
         |    CASE WHEN nrm = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(nrm, ' ') END AS w
         |  FROM (SELECT doc_id, $normSql AS nrm FROM documents)),
         |gp AS (SELECT doc_id,
         |         CAST(unnest(range(0, greatest(len(w) - ${n - 1}, 0)))
         |           AS BIGINT) AS pos, w
         |       FROM tw),
         |g AS (SELECT doc_id, pos, $gram AS gram FROM gp),
         |h AS (SELECT doc_id, pos,
         |        (${OracleSql.hex8("md5(gram)")} % 2147483647) * $cap
         |          + ($cap - 1 - pos) AS key
         |      FROM g),
         |wm AS (SELECT doc_id, pos,
         |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wk,
         |         count(*) OVER (PARTITION BY doc_id) AS ng
         |       FROM h),
         |sel AS (SELECT DISTINCT doc_id, wk // $cap AS fp
         |        FROM wm WHERE pos <= ng - $w),
         |rare AS (SELECT fp FROM sel GROUP BY fp
         |         HAVING count(*) <= ${Dedup.WinnowMaxDf}),
         |sf AS (SELECT sel.doc_id, sel.fp FROM sel JOIN rare USING (fp))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM sf a JOIN sf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= ${Dedup.WinnowMinShared}""".stripMargin
    })),
    QuerySpec("dedup_golden_record", (s, d) =>
      Dedup.goldenRecords(docs(s, d),
        clusterLabels = Some(Dedup.sharedClusters(s, d))),
      // survivorship over the same recursive-closure cluster labels as
      // dedup_clusters: order-free min/max/count/sum field rules
      Oracle(s"""WITH RECURSIVE $ClusterCtes
         |SELECT cl.cluster_id,
         |  CAST(MIN(cl.doc_id) AS BIGINT) AS golden_id,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
         |  CAST(MAX(length(d.text)) AS BIGINT) AS max_chars,
         |  CAST(SUM(CASE WHEN trim(d.text) = '' THEN 0
         |    ELSE len(string_split_regex(trim(d.text), '${graft.text.TextAnalysis.WsPlusPattern}')) END)
         |    AS BIGINT) AS total_tokens
         |FROM cl JOIN documents d ON cl.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin)),
    QuerySpec("dedup_canonical_reps", (s, d) =>
      Dedup.canonicalReps(docs(s, d),
        clusterLabels = Some(Dedup.sharedClusters(s, d))),
      // clusters + quality → per-cluster best member (quality desc,
      // doc_id asc): the same recursive-CTE labels as dedup_clusters,
      // the same quality expression as text_quality_scores
      Oracle(s"""WITH RECURSIVE $ClusterCtes,
         |q AS (SELECT doc_id, ${TextQueries.qualitySql} AS quality
         |      FROM documents),
         |j AS (SELECT cl.doc_id, cl.cluster_id, q.quality,
         |        row_number() OVER (PARTITION BY cl.cluster_id
         |          ORDER BY q.quality DESC, cl.doc_id) AS rk
         |      FROM cl JOIN q USING (doc_id))
         |SELECT doc_id, cluster_id, quality,
         |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_rep
         |FROM j""".stripMargin)),
    // X193: semi-supervised label densification — seed labels spread
    // to their near-dup cluster by deterministic majority vote
    QuerySpec("dedup_label_spread", (s, d) =>
      Dedup.labelSpread(docs(s, d), Dedup.sharedClusters(s, d)),
      // the same recursive-closure cluster labels; seeds keep their own
      // label, the majority pick is deterministic (votes desc, label asc)
      Oracle(s"""WITH RECURSIVE $ClusterCtes,
         |sd AS (SELECT doc_id, source AS seed_label FROM documents
         |       WHERE doc_id % ${Dedup.LabelSeedMod} = 0),
         |ws AS (SELECT cl.doc_id, cl.cluster_id, sd.seed_label
         |       FROM cl LEFT JOIN sd USING (doc_id)),
         |v AS (SELECT cluster_id, seed_label,
         |        CAST(count(*) AS BIGINT) AS n_votes
         |      FROM ws WHERE seed_label IS NOT NULL GROUP BY 1, 2),
         |w AS (SELECT cluster_id, seed_label AS maj_label, n_votes
         |      FROM (SELECT cluster_id, seed_label, n_votes,
         |              row_number() OVER (PARTITION BY cluster_id
         |                ORDER BY n_votes DESC, seed_label) AS rk
         |            FROM v)
         |      WHERE rk = 1)
         |SELECT ws.doc_id, ws.cluster_id,
         |  COALESCE(ws.seed_label, w.maj_label, 'unlabeled') AS label,
         |  CAST(CASE WHEN ws.seed_label IS NOT NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_seed,
         |  CAST(COALESCE(w.n_votes, 0) AS BIGINT) AS maj_votes
         |FROM ws LEFT JOIN w USING (cluster_id)""".stripMargin)),
    QuerySpec("dedup_lsh_audit", (s, d) =>
      Dedup.lshAudit(docs(s, d), shingles = sh(s, d),
        pairs = Some(Dedup.sharedPairs(s, d)),
        cappedIndex = Some(Dedup.sharedCappedIndex(s, d)),
        overlap = Some(Dedup.sharedOverlapCounts(s, d))),
      // full-outer pair-key join of the LSH candidates and the exact
      // (df-capped) Jaccard pairs; -1 marks the absent side
      Oracle(s"""WITH $ShinglesCte, $SigCte, $LshBandCtes,
         |lp AS ($LshPairsSelect),
         |$JaccardPairsCtes
         |SELECT COALESCE(l.a_id, j.a_id) AS a_id,
         |  COALESCE(l.b_id, j.b_id) AS b_id,
         |  COALESCE(l.est_jaccard, CAST(-1 AS DOUBLE)) AS est_jaccard,
         |  COALESCE(j.jaccard, CAST(-1 AS DOUBLE)) AS jaccard,
         |  CASE WHEN l.a_id IS NOT NULL AND j.a_id IS NOT NULL THEN 'both'
         |       WHEN l.a_id IS NOT NULL THEN 'lsh_only'
         |       ELSE 'true_only' END AS status
         |FROM lp l FULL OUTER JOIN jp j
         |  ON l.a_id = j.a_id AND l.b_id = j.b_id""".stripMargin)),
    QuerySpec("dedup_cluster_sizes", (s, d) =>
      Dedup.clusterSizeHistogram(docs(s, d),
        clusterLabels = Some(Dedup.sharedClusters(s, d))),
      // the same recursive-CTE labels rolled up twice: per-cluster size,
      // then clusters per size
      Oracle(s"""WITH RECURSIVE $ClusterCtes,
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
         |         AS cluster_size
         |       FROM cl GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin)),
    // incremental arrival-time dedup: incoming = doc_id % 4 == 0,
    // existing = the rest; signatures are per-doc functions, so the
    // shared shingle cache splits cleanly into the two sides
    QuerySpec("dedup_incremental", (s, d) => {
      val dd = docs(s, d)
      val shared = Dedup.sharedShingles(s, d)
      Dedup.incrementalDedup(
        dd.filter(col("doc_id") % 4 === 0),
        dd.filter(col("doc_id") % 4 =!= 0),
        incomingShingles = Some(shared.filter(col("doc_id") % 4 === 0)),
        existingShingles = Some(shared.filter(col("doc_id") % 4 =!= 0)))
    },
      // incoming docs banded against the existing side only (bands/sig
      // CTEs over ALL docs, split by the %4 rule — signatures are
      // per-doc, so split-then-sign ≡ sign-then-split); best existing
      // partner by estimated Jaccard, ties → min id
      Oracle(s"""WITH $ShinglesCte, $SigCte, $LshBandCtes,
         |inb AS (SELECT * FROM bands WHERE doc_id % 4 = 0),
         |exb AS (SELECT * FROM bands WHERE doc_id % 4 <> 0),
         |ic AS (SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
         |       FROM inb i JOIN exb e
         |         ON i.band = e.band AND i.bval = e.bval),
         |m AS (SELECT * FROM (
         |    SELECT in_id, ex_id,
         |      ROUND(CAST(list_sum(list_transform(range(1, ${NumHashes + 1}),
         |        i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
         |        AS BIGINT) / $NumHashes.0, 6) AS est_jaccard
         |    FROM ic JOIN sig sa ON in_id = sa.doc_id
         |             JOIN sig sb ON ex_id = sb.doc_id
         |  ) WHERE est_jaccard >= $MinEstJaccard),
         |b AS (SELECT in_id, ex_id, est_jaccard, row_number() OVER (
         |        PARTITION BY in_id
         |        ORDER BY est_jaccard DESC, ex_id) AS rk
         |      FROM m)
         |SELECT d.doc_id, b.ex_id AS dup_of, b.est_jaccard,
         |  CAST(CASE WHEN b.ex_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS is_dup
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         |LEFT JOIN (SELECT * FROM b WHERE rk = 1) b
         |  ON d.doc_id = b.in_id""".stripMargin)))
}
