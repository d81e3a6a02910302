package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline._

/** Registry: training-data curation operators over `documents`
  * (deterministic splits, PII redaction, decontamination, sequence
  * packing). Oracle SQL is generated from the SAME constants as the
  * Spark expressions in [[graft.pipeline.Pipeline]] so the engines
  * cannot drift. DuckDB notes: SUM(BIGINT) widens to HUGEINT — every
  * summed measure is cast back to BIGINT; regex replace needs the 'g'
  * flag to match Spark's replace-all.
  */
object PipelineQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  // ---- DuckDB oracle SQL, generated from the same constants ----

  private def hex8Sql(h: String): String = OracleSql.hex8(h)

  /** Integer micro-unit quality scoring CTE chain (raw → q → sc),
    * ending in `sc(lang, source, doc_id, n_tokens, quality_e6)` —
    * generated from the same constants as
    * `Pipeline.qualityScored` and shared by the token-budget,
    * source-cap, and pretraining-manifest oracles so their rankings
    * cannot drift. `rel` is the (lang, source, doc_id, text)
    * relation to score — `documents` for the standalone oracles, the
    * cleaned-survivor frame for the manifest composite. */
  private def qualityCtes(rel: String): String = {
    val markers = graft.text.TextAnalysis.LangMarkers.head._2
      .map(m => s"'$m'").mkString("[", ", ", "]")
    s"""raw AS (
       |  SELECT lang, source, doc_id,
       |    CAST(length(text) AS BIGINT) AS len_chars,
       |    CAST(len(list_filter(
       |      string_split_regex(trim(lower(text)), '${graft.text.TextAnalysis.WsPlusPattern}'),
       |      t -> list_contains($markers, t))) AS BIGINT) AS stop_hits,
       |    CASE WHEN trim(text) = '' THEN 0
       |         ELSE CAST(len(string_split_regex(trim(lower(text)),
       |           '${graft.text.TextAnalysis.WsPlusPattern}')) AS BIGINT) END AS n_ws,
       |    CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
       |      AS BIGINT) AS n_punct,
       |    CAST(length(regexp_replace(text, '${graft.text.TextAnalysis.WsClassPattern}', '', 'g')) AS BIGINT)
       |      AS n_nonspace,
       |    CASE WHEN trim(text) = '' THEN 0
       |         ELSE CAST(len(string_split_regex(trim(text), '${graft.text.TextAnalysis.WsPlusPattern}'))
       |           AS BIGINT) END AS n_tokens
       |  FROM $rel),
       |q AS (
       |  SELECT lang, source, doc_id, n_tokens,
       |    least(len_chars * 2000, 1000000) AS len_s,
       |    CASE WHEN n_ws = 0 THEN 0
       |         ELSE least((stop_hits * 4000000) // n_ws, 1000000)
       |    END AS stop_s,
       |    CASE WHEN n_nonspace = 0 THEN 1000000
       |         ELSE greatest(1000000 - (n_punct * 5000000) // n_nonspace, 0)
       |    END AS punct_s
       |  FROM raw),
       |sc AS (
       |  SELECT lang, source, doc_id, n_tokens,
       |    CAST((len_s * 4 + stop_s * 3 + punct_s * 3) // 10 AS BIGINT)
       |      AS quality_e6
       |  FROM q)""".stripMargin
  }

  private val QualityCte = qualityCtes("documents")

  /** doc_id → 0-99 bucket + split label, from the same thresholds. */
  private val SplitCte =
    s"""sp AS (
       |  SELECT doc_id, lang, n_chars,
       |         ${hex8Sql("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
       |  FROM documents
       |), spl AS (
       |  SELECT doc_id, lang, n_chars, bucket,
       |         CASE WHEN bucket < $TrainPct THEN 'train'
       |              WHEN bucket < ${TrainPct + ValidPct} THEN 'valid'
       |              ELSE 'test' END AS split
       |  FROM sp)""".stripMargin

  /** Packing CTEs (token counts → partition-scoped running sum →
    * interleaved pack ids) — shared by both pack oracles. */
  private val PackCtes =
    s"""t AS (
       |  SELECT doc_id, doc_id % $PackParts AS part,
       |         CASE WHEN trim(text) = '' THEN 0
       |              ELSE len(string_split_regex(trim(text), '${graft.text.TextAnalysis.WsPlusPattern}'))
       |         END AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, part, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY part ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t),
       |p AS (
       |  SELECT doc_id, part, n_tokens,
       |         CAST(FLOOR((cum - n_tokens) / $PackBudget.0) AS BIGINT)
       |           * $PackParts + part AS pack_id
       |  FROM c)""".stripMargin

  /** Contamination CTEs (benchmark shingle vocabulary → per-doc hit
    * counts) — appended after [[DedupQueries.ShinglesCte]]; shared by
    * the standalone decontamination oracle and the curation funnel. */
  private val ContamCtes =
    s"""ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shf),
       |bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id % $BenchMod = 0),
       |agg AS (
       |  SELECT c.doc_id, count(*) AS n_sh,
       |         CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_hit
       |  FROM ex c LEFT JOIN bench b ON c.sh = b.sh
       |  WHERE c.doc_id % $BenchMod <> 0
       |  GROUP BY c.doc_id)""".stripMargin

  /** The synthetic-PII composition — identical to
    * [[Pipeline.withSyntheticPii]]. */
  private val RawPiiSql =
    """text || ' contact u' || CAST(doc_id AS VARCHAR)
      | || '@example.com or +1 555-01'
      | || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
      | || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
      | || '.7'""".stripMargin.replace("\n", "")

  /** The synthetic-URL composition + canonicalization CTE chain —
    * identical constants and character-identical regex patterns to
    * [[Pipeline.withSyntheticUrl]] / [[Pipeline.canonicalUrl]] /
    * [[Pipeline.registeredDomain]]. Ends in
    * `curl(doc_id, text, url_raw, url_canon, domain)`. */
  private val UrlCtes =
    // NOTE: this fragment is re-embedded in stripMargin'd oracle
    // strings, so no line may START with `|` (a leading `||` concat
    // would lose a pipe to the outer stripMargin) — every concat
    // operator sits at line END
    s"""u AS (
       |  SELECT doc_id, text,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) ||
       |    '://' ||
       |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
       |    (CASE WHEN doc_id % 4 = 0 THEN upper(source)
       |          ELSE source END) ||
       |    CAST((doc_id // 2) % 7 AS VARCHAR) || '.com' ||
       |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
       |    '/doc/' || CAST(doc_id // 2 AS VARCHAR) ||
       |    (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
       |    (CASE WHEN doc_id % 2 = 0
       |          THEN '?a=' || CAST((doc_id // 2) % 10 AS VARCHAR) ||
       |               '&b=' || CAST((doc_id // 2) % 3 AS VARCHAR)
       |          ELSE '?b=' || CAST((doc_id // 2) % 3 AS VARCHAR) ||
       |               '&a=' || CAST((doc_id // 2) % 10 AS VARCHAR)
       |          END) ||
       |    (CASE WHEN doc_id % 3 = 1 THEN '&utm_source=feed'
       |          ELSE '' END) ||
       |    (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END)
       |    AS url_raw
       |  FROM documents),
       |cparts AS (
       |  SELECT doc_id, text, url_raw,
       |    lower(regexp_extract(url_raw, '^([A-Za-z]+)://', 1)) AS sch,
       |    regexp_replace(url_raw, '^[A-Za-z]+://', '') AS rest
       |  FROM u),
       |chost AS (
       |  SELECT doc_id, text, url_raw, sch,
       |    lower(regexp_extract(rest, '^([^/?#]+)', 1)) AS hostport,
       |    regexp_replace(rest, '^[^/?#]+', '') AS pathqf
       |  FROM cparts),
       |cbits AS (
       |  SELECT doc_id, text, url_raw, sch,
       |    regexp_replace(
       |      CASE WHEN sch = 'https'
       |             THEN regexp_replace(hostport, ':443$$', '')
       |           WHEN sch = 'http'
       |             THEN regexp_replace(hostport, ':80$$', '')
       |           ELSE hostport END, '^www\\.', '') AS host,
       |    regexp_replace(regexp_extract(pathqf, '^([^?#]*)', 1),
       |      '/+$$', '') AS ptrim,
       |    regexp_extract(pathqf, '\\?([^#]*)', 1) AS q
       |  FROM chost),
       |cq AS (
       |  SELECT *, array_to_string(list_sort(list_filter(
       |    string_split(q, '&'),
       |    p -> NOT starts_with(p, 'utm_'))), '&') AS params
       |  FROM cbits),
       |curl AS (
       |  SELECT doc_id, text, url_raw,
       |    sch || '://' || host ||
       |    (CASE WHEN ptrim = '' THEN '/' ELSE ptrim END) ||
       |    (CASE WHEN q = '' OR params = '' THEN ''
       |          ELSE '?' || params END)
       |    AS url_canon,
       |    regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
       |  FROM cq)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("pipe_hash_split", (s, d) => Pipeline.hashSplit(docs(s, d)),
      Oracle(s"""WITH $SplitCte
         |SELECT doc_id, lang, n_chars, bucket, split FROM spl""".stripMargin)),
    // X283: right-to-be-forgotten cascade preflight — per-table rows/
    // keys an erasure sweep touches, lineitem following through the
    // orders foreign key; predicate aggregates + one keyed equi-join
    QuerySpec("pipe_forget_audit", (s, d) => Pipeline.forgetAudit(
      Tables(s, d, "events"), Tables(s, d, "orders"),
      Tables(s, d, "lineitem")),
      // the forget flag mirrors Pipeline.forgetAudit's md5-bucket device
      // via the shared hex8 expansion; count(DISTINCT CASE…END) ignores
      // the NULL misses exactly like Spark's countDistinct(when(…))
      Oracle({
      def f(id: String) =
        s"${hex8Sql(s"md5(CAST($id AS VARCHAR))")} % ${Pipeline.ForgetMod} = 0"
      s"""WITH ev AS (
         |  SELECT 'events' AS table_name,
         |    CAST(count(*) AS BIGINT) AS rows_total,
         |    CAST(SUM(CASE WHEN ${f("user_id")} THEN 1 ELSE 0 END)
         |      AS BIGINT) AS rows_affected,
         |    CAST(count(DISTINCT CASE WHEN ${f("user_id")}
         |      THEN user_id END) AS BIGINT) AS keys_affected
         |  FROM events),
         |od AS (
         |  SELECT 'orders' AS table_name,
         |    CAST(count(*) AS BIGINT) AS rows_total,
         |    CAST(SUM(CASE WHEN ${f("o_custkey")} THEN 1 ELSE 0 END)
         |      AS BIGINT) AS rows_affected,
         |    CAST(count(DISTINCT CASE WHEN ${f("o_custkey")}
         |      THEN o_custkey END) AS BIGINT) AS keys_affected
         |  FROM orders),
         |fo AS (SELECT o_orderkey, o_custkey FROM orders
         |       WHERE ${f("o_custkey")}),
         |li AS (
         |  SELECT 'lineitem' AS table_name,
         |    CAST(count(*) AS BIGINT) AS rows_total,
         |    CAST(SUM(CASE WHEN fo.o_custkey IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS rows_affected,
         |    CAST(count(DISTINCT fo.o_custkey) AS BIGINT)
         |      AS keys_affected
         |  FROM lineitem LEFT JOIN fo ON l_orderkey = fo.o_orderkey)
         |SELECT table_name, rows_total, rows_affected, keys_affected,
         |  CAST((rows_affected * 1000000) // greatest(rows_total, 1)
         |    AS BIGINT) AS affected_ppm
         |FROM (SELECT * FROM ev UNION ALL
         |      SELECT * FROM od UNION ALL
         |      SELECT * FROM li)""".stripMargin
    })),
    // X291: Efraimidis–Spirakis weighted priority sample — power-of-
    // two weights so the u^(1/w) key is repeated correctly-rounded
    // sqrt (deterministic in any IEEE engine); one TakeOrdered top-k
    QuerySpec("pipe_priority_sample", (s, d) =>
      Pipeline.prioritySample(docs(s, d)),
      // A-ES: the same tier CASE and t-fold-sqrt key (if() exists in
      // both dialects, so the fold string is shared verbatim with the
      // Spark expression), ORDER BY key DESC, doc_id LIMIT k, lang
      // rollup with zero-fill
      Oracle({
      val tierCase = Pipeline.PriorityTiers
        .map { case (l, t) => s"WHEN lang = '$l' THEN $t" }
        .mkString("CASE ", " ", " ELSE 0 END")
      val keyFold =
        (0 until Pipeline.PriorityTiers.map(_._2).max).foldLeft("u") {
          case (acc, i) => s"if(tier > $i, sqrt($acc), $acc)"
        }
      s"""WITH keyed AS (
         |  SELECT doc_id, lang,
         |    CAST(${hex8Sql("md5(CAST(doc_id AS VARCHAR))")} % 1000000
         |      + 1 AS DOUBLE) / 1000000.0 AS u,
         |    CAST($tierCase AS INT) AS tier
         |  FROM documents),
         |k2 AS (SELECT doc_id, lang, $keyFold AS key FROM keyed),
         |topk AS (SELECT lang FROM k2
         |         ORDER BY key DESC, doc_id
         |         LIMIT ${Pipeline.PrioritySampleK}),
         |s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
         |      FROM topk GROUP BY 1)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(MAX(s.n_sampled), 0) AS BIGINT) AS n_sampled,
         |  CAST(${tierCase.replace("WHEN lang", "WHEN d.lang")}
         |    AS BIGINT) AS tier
         |FROM documents d LEFT JOIN s ON d.lang = s.lang
         |GROUP BY d.lang""".stripMargin
    })),
    // X198: sample-ratio-mismatch audit — exact integer SRM chi-square
    // over observed vs declared split counts
    QuerySpec("pipe_srm_audit", (s, d) => Pipeline.srmAudit(docs(s, d)),
      // same split counts; deviation d, ppm and the divide-first
      // chi-square spelling replayed exactly
      Oracle(s"""WITH $SplitCte,
         |c AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_obs
         |      FROM spl GROUP BY 1),
         |m(split, expected_pct) AS (VALUES
         |    ('train', ${Pipeline.TrainPct}::BIGINT),
         |    ('valid', ${Pipeline.ValidPct}::BIGINT),
         |    ('test',
         |     ${100 - Pipeline.TrainPct - Pipeline.ValidPct}::BIGINT)),
         |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM c),
         |j AS (SELECT m.split, m.expected_pct,
         |        COALESCE(c.n_obs, 0) AS n_obs, t.n_total,
         |        100 * COALESCE(c.n_obs, 0)
         |          - t.n_total * m.expected_pct AS d
         |      FROM m LEFT JOIN c ON m.split = c.split CROSS JOIN t)
         |SELECT split, expected_pct, n_obs, n_total,
         |  CAST((abs(d) * 1000000)
         |    // greatest(n_total * expected_pct, 1) AS BIGINT)
         |    AS dev_ppm,
         |  CAST((d * d) // greatest(
         |    (100 * n_total * expected_pct) // 1000000, 1) AS BIGINT)
         |    AS chi2_e6
         |FROM j""".stripMargin)),
    // X210: consistent-hash resharding audit — exact key-movement
    // fractions for mod vs rendezvous hashing when 8 shards become 10
    QuerySpec("pipe_shard_moves", (s, d) =>
      Pipeline.shardMoveAudit(docs(s, d), "doc_id"),
      // same hex8 hash, same score = h*16 + (15 - s) argmax encoding
      Oracle({
      import Pipeline.{ShardsFrom, ShardsTo}
      s"""WITH k AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS key
         |           FROM documents WHERE doc_id IS NOT NULL),
         |md AS (
         |  SELECT 'mod' AS scheme, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |    CAST(SUM(CASE WHEN hk % $ShardsFrom <> hk % $ShardsTo
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |  FROM (SELECT ${hex8Sql("md5(key)")} AS hk FROM k)),
         |sc AS (
         |  SELECT key, s,
         |    ${hex8Sql("md5(key || '|' || CAST(s AS VARCHAR))")} * 16
         |      + (15 - s) AS score
         |  FROM k CROSS JOIN (SELECT unnest(range(0, $ShardsTo)) AS s)),
         |ag AS (
         |  SELECT key,
         |    MAX(CASE WHEN s < $ShardsFrom THEN score END) AS cf,
         |    MAX(score) AS ct
         |  FROM sc GROUP BY 1),
         |rv AS (
         |  SELECT 'rendezvous' AS scheme,
         |    CAST(COUNT(*) AS BIGINT) AS n_keys,
         |    CAST(SUM(CASE WHEN 15 - cf % 16 <> 15 - ct % 16
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |  FROM ag),
         |u AS (SELECT * FROM md UNION ALL SELECT * FROM rv)
         |SELECT scheme, n_keys, n_moved,
         |  CAST((n_moved * 1000000) // greatest(n_keys, 1) AS BIGINT)
         |    AS moved_ppm
         |FROM u""".stripMargin
    })),
    // X139: purged temporal split — weekly folds over the events
    // timeline, rows within the embargo gap of a fold edge assigned to
    // no fold (the time-series-leakage fix a hash split cannot give)
    QuerySpec("pipe_embargo_split", (s, d) =>
      Pipeline.embargoSplit(graft.core.Tables(s, d, "events")),
      // pure integer day arithmetic: epoch_us // 86400000000 here,
      // unix_micros div on the Spark side — identical truncation
      Oracle({
      val fd = Pipeline.EmbargoFoldDays
      val g = Pipeline.EmbargoGapDays
      s"""WITH b AS (
         |  SELECT epoch_us(ts) // 86400000000 AS epoch_day,
         |         (epoch_us(ts) // 86400000000) // $fd AS fold,
         |         CASE WHEN (epoch_us(ts) // 86400000000) % $fd < $g
         |              OR (epoch_us(ts) // 86400000000) % $fd
         |                 >= ${fd - g}
         |              THEN 1 ELSE 0 END AS embargoed
         |  FROM events)
         |SELECT fold,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(embargoed) AS BIGINT) AS n_embargoed,
         |  CAST(COUNT(*) AS BIGINT) - CAST(SUM(embargoed) AS BIGINT)
         |    AS n_kept,
         |  CAST(MIN(CASE WHEN embargoed = 0 THEN epoch_day END)
         |    AS BIGINT) AS kept_min_day,
         |  CAST(MAX(CASE WHEN embargoed = 0 THEN epoch_day END)
         |    AS BIGINT) AS kept_max_day
         |FROM b GROUP BY 1""".stripMargin
    })),
    QuerySpec("pipe_split_report", (s, d) => Pipeline.splitReport(docs(s, d)),
      Oracle(s"""WITH $SplitCte
         |SELECT split, lang, count(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM spl GROUP BY split, lang""".stripMargin)),
    QuerySpec("pipe_pii_redact", (s, d) => Pipeline.piiRedact(docs(s, d)),
      Oracle(s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(raw,
         |      '$EmailRe', '<EMAIL>', 'g'),
         |      '$PhoneRe', '<PHONE>', 'g'),
         |      '$IpRe', '<IP>', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(raw, '$IpRe')) AS BIGINT) AS n_ips
         |FROM (SELECT doc_id, $RawPiiSql AS raw FROM documents)""".stripMargin)),
    // X271: URL canonicalization + exact URL dedup over the
    // deterministic synthetic URL (scheme/host case, www, default
    // port, trailing slash, param order, fragment all canonicalized)
    QuerySpec("pipe_url_canonical", (s, d) => Pipeline.urlCanonical(docs(s, d)),
      Oracle(s"""WITH $UrlCtes
         |SELECT c.doc_id, c.url_raw, c.url_canon, c.domain, k.keep_id,
         |  CAST(CASE WHEN c.doc_id = k.keep_id THEN 0 ELSE 1 END
         |    AS BIGINT) AS is_url_dup
         |FROM curl c JOIN (SELECT url_canon, MIN(doc_id) AS keep_id
         |                  FROM curl GROUP BY 1) k
         |  USING (url_canon)""".stripMargin)),
    // X272: per-registered-domain doc/URL/token rollup + cap verdict
    // (the RefinedWeb/C4 per-domain cap)
    QuerySpec("pipe_domain_cap", (s, d) => Pipeline.domainCap(docs(s, d)),
      Oracle(s"""WITH $UrlCtes,
         |d AS (
         |  SELECT domain, url_canon,
         |    CASE WHEN trim(text) = '' THEN 0
         |         ELSE CAST(len(string_split_regex(trim(text), '${graft.text.TextAnalysis.WsPlusPattern}'))
         |           AS BIGINT) END AS n_tok
         |  FROM curl),
         |agg AS (
         |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_urls,
         |    CAST(SUM(n_tok) AS BIGINT) AS tok_total
         |  FROM d GROUP BY 1)
         |SELECT domain, n_docs, n_urls, tok_total,
         |  CAST((tok_total * 1000000) // CAST(SUM(tok_total) OVER ()
         |    AS BIGINT) AS BIGINT) AS tok_share_ppm,
         |  CAST(CASE WHEN (tok_total * 1000000) //
         |      CAST(SUM(tok_total) OVER () AS BIGINT)
         |      > ${Pipeline.DomainCapPpm} THEN 1 ELSE 0 END AS BIGINT)
         |    AS over_cap
         |FROM agg""".stripMargin)),
    // X274: per-registered-domain quality profile + drop verdict
    // (RefinedWeb domain-granularity quality filtering)
    QuerySpec("pipe_domain_quality", (s, d) =>
      Pipeline.domainQualityProfile(docs(s, d),
        scored = Some(Pipeline.sharedQualityScored(s, d))),
      Oracle(s"""WITH $QualityCte, $UrlCtes,
         |j AS (
         |  SELECT c.domain, s.quality_e6
         |  FROM curl c JOIN sc s USING (doc_id)),
         |agg AS (
         |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(quality_e6) AS BIGINT) AS q_sum,
         |    CAST(SUM(CASE WHEN quality_e6 <
         |      ${Pipeline.DomainQualityFloorE6} THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_low
         |  FROM j GROUP BY 1)
         |SELECT domain, n_docs,
         |  CAST(q_sum // n_docs AS BIGINT) AS mean_quality_e6,
         |  CAST((n_low * 1000000) // n_docs AS BIGINT) AS low_share_ppm,
         |  CAST(CASE WHEN n_docs >= ${Pipeline.DomainQualityMinDocs}
         |         AND q_sum // n_docs < ${Pipeline.DomainQualityFloorE6}
         |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
         |FROM agg""".stripMargin)),
    // X278: per-domain boilerplate/template rate — paragraphs repeated
    // across >= 2 distinct docs of the SAME domain, exact ppm
    QuerySpec("pipe_domain_boilerplate", (s, d) =>
      Pipeline.domainBoilerplate(docs(s, d)),
      Oracle(s"""WITH $UrlCtes,
         |tb AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN text || chr(10) || chr(10) ||
         |      'Subscribe to the ' || source || ' newsletter today.'
         |    ELSE text END AS ptext
         |  FROM documents),
         |sp AS (SELECT doc_id,
         |         string_split(ptext, chr(10) || chr(10)) AS parts
         |       FROM tb),
         |pp AS (SELECT doc_id,
         |         CAST(unnest(range(0, len(parts))) AS BIGINT) AS pos,
         |         parts
         |       FROM sp),
         |px AS (SELECT doc_id, md5(parts[CAST(pos + 1 AS INT)]) AS pkey
         |       FROM pp),
         |pj AS (SELECT c.domain, px.doc_id, px.pkey
         |       FROM px JOIN curl c USING (doc_id)),
         |pg AS (SELECT domain, pkey,
         |         CAST(COUNT(*) AS BIGINT) AS n_occ,
         |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with
         |       FROM pj GROUP BY 1, 2)
         |SELECT domain,
         |  CAST(SUM(n_occ) AS BIGINT) AS n_paras,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct_paras,
         |  CAST(SUM(CASE WHEN n_docs_with >= 2 THEN n_occ ELSE 0 END)
         |    AS BIGINT) AS n_template,
         |  CAST((SUM(CASE WHEN n_docs_with >= 2 THEN n_occ ELSE 0 END)
         |    * 1000000) // CAST(SUM(n_occ) AS BIGINT) AS BIGINT)
         |    AS template_ppm
         |FROM pg GROUP BY domain""".stripMargin)),
    // X183: effective dataset size per source — how many of a
    // source's tokens survive exact dedup (keeper = global min doc_id
    // per content fingerprint); the duplicated-token ppm is the
    // "paying for the same data twice" number a mixture budget reads
    QuerySpec("pipe_effective_tokens", (s, d) => {
      import org.apache.spark.sql.functions._
      import graft.text.TextAnalysis
      // persisted: the tokenize + normalize+md5 frame feeds the keeper
      // aggregate AND the join-back leg — unpersisted, each leg scans
      // documents and re-evaluates the chain, with the join's inferred
      // isnotnull(fp) re-inlining it once more per leg (the
      // dedup_savings shape, 4 chain evaluations per document)
      val t = graft.core.SessionCache.transient(
        docs(s, d).select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tok"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp")))
      val keep = t.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
      t.join(keep, Seq("fp"))
        .withColumn("is_keeper",
          when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("is_keeper")).cast("long").as("n_unique_docs"),
          sum(col("n_tok")).cast("long").as("tokens_total"),
          sum(col("n_tok") * col("is_keeper")).cast("long")
            .as("tokens_unique"))
        .withColumn("dup_token_ppm", expr(
          "((tokens_total - tokens_unique) * 1000000) " +
            "div greatest(tokens_total, 1)"))
    },
      Oracle(s"""WITH t AS (
         |  SELECT source, doc_id,
         |    CASE WHEN trim(text) = '' THEN 0
         |         ELSE len(string_split_regex(trim(text), '${graft.text.TextAnalysis.WsPlusPattern}'))
         |    END AS n_tok,
         |    md5(${DedupQueries.normSql}) AS fp
         |  FROM documents),
         |keep AS (SELECT fp, min(doc_id) AS keep_id FROM t GROUP BY 1),
         |k AS (
         |  SELECT t.source, t.n_tok,
         |    CASE WHEN t.doc_id = keep.keep_id THEN 1 ELSE 0 END AS isk
         |  FROM t JOIN keep ON t.fp = keep.fp),
         |agg AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(isk) AS BIGINT) AS n_unique_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
         |    CAST(SUM(n_tok * isk) AS BIGINT) AS tokens_unique
         |  FROM k GROUP BY 1)
         |SELECT source, n_docs, n_unique_docs, tokens_total,
         |  tokens_unique,
         |  CAST(((tokens_total - tokens_unique) * 1000000)
         |    // greatest(tokens_total, 1) AS BIGINT) AS dup_token_ppm
         |FROM agg""".stripMargin)),
    // X171: k-anonymity audit over quasi-identifiers (nation, segment,
    // $100 balance bucket) — one class-grain aggregate, then banding
    // and ppm run on the 3-row band frame
    QuerySpec("pipe_k_anonymity", (s, d) =>
      Pipeline.kAnonymityAudit(
        graft.core.Tables(s, d, "customer")
          .selectExpr("c_nationkey", "c_mktsegment",
            "cast(floor(c_acctbal / 100.0) as long) as bal_bucket"),
        Seq("c_nationkey", "c_mktsegment", "bal_bucket")),
      Oracle("""WITH q AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bal_bucket
        |  FROM customer),
        |cl AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM q GROUP BY c_nationkey, c_mktsegment, bal_bucket),
        |b AS (
        |  SELECT CASE WHEN sz = 1 THEN '1_unique'
        |              WHEN sz < 10 THEN '2_below_k'
        |              ELSE '3_at_or_above_k' END AS band,
        |    CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(sz) AS BIGINT) AS n_rows
        |  FROM cl GROUP BY 1)
        |SELECT band, n_classes, n_rows,
        |  CAST(SUM(n_rows) OVER () AS BIGINT) AS total_rows,
        |  CAST((n_rows * 1000000) // SUM(n_rows) OVER () AS BIGINT)
        |    AS row_share_ppm
        |FROM b""".stripMargin)),
    // X264: l-diversity — the homogeneity-attack companion; quasi =
    // (nation, balance bucket) so sparse classes exist, sensitive =
    // market segment (the 5-value attribute membership would disclose)
    QuerySpec("pipe_l_diversity", (s, d) =>
      Pipeline.lDiversityAudit(
        graft.core.Tables(s, d, "customer")
          .selectExpr("c_nationkey", "c_mktsegment",
            "cast(floor(c_acctbal / 100.0) as long) as bal_bucket"),
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment"),
      Oracle({
      val l = graft.pipeline.Pipeline.LDiversityL
      s"""WITH q AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bal_bucket
         |  FROM customer),
         |cl AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS sz,
         |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_div
         |  FROM q GROUP BY c_nationkey, bal_bucket),
         |b AS (
         |  SELECT CASE WHEN l_div = 1 THEN '1_homogeneous'
         |              WHEN l_div < $l THEN '2_below_l'
         |              ELSE '3_at_or_above_l' END AS band,
         |    CAST(COUNT(*) AS BIGINT) AS n_classes,
         |    CAST(SUM(sz) AS BIGINT) AS n_rows
         |  FROM cl GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows FROM b)
         |SELECT band, n_classes, n_rows, t.total_rows,
         |  CAST(n_rows * 1000000 // t.total_rows AS BIGINT)
         |    AS row_share_ppm
         |FROM b CROSS JOIN t""".stripMargin
    })),
    // X306: mixture-epochs report — passes per language the α=½ mix
    // demands of a one-corpus token budget; repeat-risk past 4 epochs
    QuerySpec("pipe_mix_epochs", (s, d) => Pipeline.mixEpochs(docs(s, d)),
      // the same IEEE-exact α=½ chain as pipe_temperature_sample, over
      // TOKEN counts, answering the dual question: epochs = share/p,
      // every floor applied to the identically-ordered double chain
      Oracle({
      val ws = graft.text.TextAnalysis.WsPlusPattern
      val shareD = "sqrt(CAST(n AS DOUBLE) / nt) / s"
      val epochsD = s"$shareD / (CAST(n AS DOUBLE) / nt)"
      val epochsE6 = s"CAST(floor($epochsD * CAST(1000000 AS DOUBLE)" +
        " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
      s"""WITH lc AS (
         |  SELECT lang, CAST(SUM(CASE WHEN trim(text) = '' THEN 0
         |    ELSE len(string_split_regex(trim(text), '$ws')) END)
         |    AS BIGINT) AS n
         |  FROM documents GROUP BY 1 HAVING n > 0),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM lc),
         |ssum AS (
         |  SELECT list_reduce(
         |    [CAST(0 AS DOUBLE)] ||
         |      list(sqrt(CAST(n AS DOUBLE) / nt) ORDER BY lang),
         |    (a, b) -> a + b) AS s
         |  FROM lc, tot)
         |SELECT lang, n AS n_tokens,
         |  CAST(floor($shareD * CAST(1000000 AS DOUBLE)
         |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS target_share_ppm,
         |  $epochsE6 AS epochs_e6,
         |  CAST(CASE WHEN $epochsE6 >
         |    ${graft.pipeline.Pipeline.MaxHealthyEpochsE6}
         |    THEN 1 ELSE 0 END AS BIGINT) AS repeat_risk
         |FROM lc, tot, ssum""".stripMargin
    })),
    // X305: t-closeness — the distribution-skew leg of the privacy
    // trio, same QI/sensitive frame as k-anon / l-div
    QuerySpec("pipe_t_closeness", (s, d) =>
      Pipeline.tClosenessAudit(
        graft.core.Tables(s, d, "customer")
          .selectExpr("c_nationkey", "c_mktsegment",
            "cast(floor(c_acctbal / 100.0) as long) as bal_bucket"),
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment"),
      // same class derivation, exact distinct of the sensitive column,
      // banded at the shared L constant
      // exact-integer total-variation distance per QI class vs the
      // global sensitive distribution: |c·N − n·g| summed over the
      // CLASS × SENSITIVE-DOMAIN grid (absent cells as zeros), scaled
      // in decimal(38) and floor-div'd — every operand a count
      Oracle({
      val t = graft.pipeline.Pipeline.TClosenessPpm
      s"""WITH q AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bal_bucket
         |  FROM customer),
         |cells AS (
         |  SELECT c_nationkey, bal_bucket, c_mktsegment,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM q GROUP BY 1, 2, 3),
         |cls AS (SELECT c_nationkey, bal_bucket,
         |          CAST(SUM(c) AS BIGINT) AS n
         |        FROM cells GROUP BY 1, 2),
         |gl AS (SELECT c_mktsegment, CAST(SUM(c) AS BIGINT) AS g
         |       FROM cells GROUP BY 1),
         |tt AS (SELECT CAST(SUM(g) AS BIGINT) AS nn FROM gl),
         |grid AS (
         |  SELECT cls.c_nationkey, cls.bal_bucket, cls.n,
         |    gl.c_mktsegment, gl.g, COALESCE(cells.c, 0) AS c
         |  FROM cls CROSS JOIN gl
         |  LEFT JOIN cells
         |    ON cls.c_nationkey = cells.c_nationkey
         |   AND cls.bal_bucket = cells.bal_bucket
         |   AND gl.c_mktsegment = cells.c_mktsegment),
         |s AS (
         |  SELECT grid.c_nationkey, grid.bal_bucket, grid.n, tt.nn,
         |    SUM(ABS(CAST(c AS HUGEINT) * nn
         |        - CAST(n AS HUGEINT) * g)) AS sd
         |  FROM grid CROSS JOIN tt GROUP BY 1, 2, 3, 4)
         |SELECT c_nationkey, bal_bucket, n AS n_rows,
         |  CAST(sd * 1000000 // (2 * CAST(n AS HUGEINT) * nn)
         |    AS BIGINT) AS tv_ppm,
         |  CAST(CASE WHEN sd * 1000000 //
         |    (2 * CAST(n AS HUGEINT) * nn) > $t
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_far
         |FROM s""".stripMargin
    })),
    QuerySpec("pipe_decontaminate", (s, d) => Pipeline.decontaminate(docs(s, d),
      shingles = Some(graft.dedup.Dedup.sharedShingles(s, d))),
      Oracle(s"""WITH ${DedupQueries.ShinglesCte}, $ContamCtes
         |SELECT doc_id, n_sh, n_hit,
         |       CAST((n_hit * 1000000) // n_sh AS BIGINT) AS overlap_e6,
         |       CASE WHEN n_hit * 1.0 / n_sh >= $MinContamOverlap
         |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
         |       END AS contaminated
         |FROM agg""".stripMargin)),
    QuerySpec("pipe_pack_sequences", (s, d) =>
      Pipeline.packSequences(docs(s, d)),
      Oracle(s"""WITH $PackCtes
         |SELECT doc_id, part, n_tokens, pack_id FROM p""".stripMargin)),
    QuerySpec("pipe_pack_report", (s, d) => Pipeline.packReport(docs(s, d)),
      Oracle(s"""WITH $PackCtes
         |SELECT part, pack_id, count(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
         |FROM p GROUP BY part, pack_id""".stripMargin)),
    // X234: per-doc token spans inside each pack — the attention-
    // boundary / loss-mask table packed training derives masks from
    QuerySpec("pipe_pack_offsets", (s, d) => Pipeline.packOffsets(docs(s, d)),
      // same pack CTEs + one pack-partitioned running sum = the spans
      Oracle(s"""WITH $PackCtes,
         |o AS (
         |  SELECT doc_id, pack_id, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY pack_id
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      CURRENT ROW) AS BIGINT) AS tok_end
         |  FROM p)
         |SELECT doc_id, pack_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(tok_end - n_tokens AS BIGINT) AS tok_start, tok_end,
         |  CAST(CASE WHEN tok_end = n_tokens THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_first_in_pack
         |FROM o""".stripMargin)),
    QuerySpec("pipe_shuffle_shards", (s, d) =>
      Pipeline.shuffleShards(docs(s, d)),
      Oracle(s"""WITH k AS (
         |  SELECT doc_id,
         |         md5('${Pipeline.ShuffleSeed}-' || CAST(doc_id AS VARCHAR))
         |           AS shuffle_key
         |  FROM documents),
         |s AS (SELECT doc_id, shuffle_key,
         |        ${hex8Sql("shuffle_key")} % ${Pipeline.NumShards} AS shard
         |      FROM k)
         |SELECT doc_id, shuffle_key, shard,
         |       CAST(row_number() OVER (
         |         PARTITION BY shard ORDER BY shuffle_key, doc_id)
         |         AS BIGINT) AS rank
         |FROM s""".stripMargin)),
    QuerySpec("pipe_stratified_sample", (s, d) =>
      Pipeline.stratifiedSample(docs(s, d)),
      Oracle({
      val cases = StratRates.map { case (l, r) =>
        s"WHEN lang = '$l' THEN $r"
      }.mkString(" ")
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |         ${hex8Sql("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket,
         |         CASE $cases ELSE $DefaultRate END AS keep_rate
         |  FROM documents)
         |SELECT doc_id, lang, bucket, keep_rate
         |FROM b WHERE bucket < keep_rate""".stripMargin
    })),
    QuerySpec("pipe_temperature_sample", (s, d) =>
      Pipeline.temperatureSample(docs(s, d)),
      // the oracle RECOMPUTES the data-dependent α=0.5 temperature
      // thresholds rather than interpolating them: every step (p = n/N,
      // sqrt, the lang-ordered left-fold sum, two divisions, the ppm
      // scale) is an exactly-specified IEEE 754 op replayed in the same
      // order as Pipeline.temperatureThresholds, so both engines derive
      // bit-identical doubles — the reason α is pinned to 0.5 (sqrt),
      // not a libm pow
      Oracle(s"""WITH lc AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM lc),
         |ssum AS (
         |  SELECT list_reduce(
         |    [CAST(0 AS DOUBLE)] ||
         |      list(sqrt(CAST(n AS DOUBLE) / nt) ORDER BY lang),
         |    (a, b) -> a + b) AS s
         |  FROM lc, tot),
         |th AS (
         |  SELECT lang,
         |    LEAST(CAST(floor(
         |      CAST(${Pipeline.TempTargetFrac} AS DOUBLE)
         |        * sqrt(CAST(n AS DOUBLE) / nt) / s
         |        / (CAST(n AS DOUBLE) / nt)
         |        * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |      AS BIGINT), 1000000) AS keep_thresh_e6
         |  FROM lc, tot, ssum),
         |b AS (SELECT doc_id, lang,
         |        ${hex8Sql("md5(CAST(doc_id AS VARCHAR))")} % 1000000
         |          AS bucket_e6
         |      FROM documents)
         |SELECT b.doc_id, b.lang, b.bucket_e6, th.keep_thresh_e6
         |FROM b JOIN th USING (lang)
         |WHERE b.bucket_e6 < th.keep_thresh_e6""".stripMargin)),
    QuerySpec("pipe_curated_corpus", (s, d) =>
      Pipeline.sharedCuratedCorpus(s, d),
      Oracle(s"""WITH $SplitCte,
         |fp AS (SELECT doc_id, md5(${DedupQueries.normSql}) AS fp
         |       FROM documents),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
         |qual AS (SELECT doc_id, ${TextQueries.qualitySql} AS quality
         |         FROM documents),
         |${DedupQueries.ShinglesCte}, $ContamCtes,
         |contam AS (
         |  SELECT doc_id,
         |         CASE WHEN n_hit * 1.0 / n_sh >= $MinContamOverlap
         |              THEN 1 ELSE 0 END AS contaminated
         |  FROM agg)
         |SELECT spl.doc_id, spl.bucket, qual.quality
         |FROM spl
         |JOIN keep USING (doc_id)
         |JOIN qual USING (doc_id)
         |LEFT JOIN contam USING (doc_id)
         |WHERE spl.split = 'train' AND spl.doc_id % $BenchMod <> 0
         |  AND qual.quality >= ${Pipeline.MinQuality}
         |  AND COALESCE(contam.contaminated, 0) = 0""".stripMargin)),
    // X301: end-to-end pretraining-shard manifest (VERDICT r13 #5) —
    // curate → paragraph+exact dedup → token-budget select →
    // deterministic shuffle → pack, ONE lazy plan; the oracle
    // composes the SAME shared CTEs as the standalone operators
    QuerySpec("pipe_manifest", (s, d) => Pipeline.pretrainManifest(docs(s, d),
      shingles = Some(graft.dedup.Dedup.sharedShingles(s, d)),
      curatedIn = Some(Pipeline.sharedCuratedCorpus(s, d)),
      paraDedupIn = Some(graft.dedup.Dedup.sharedParagraphDedup(s, d))),
      // the curation funnel: every predicate reuses the SAME shared CTE/
      // SQL val that oracles its standalone operator (SplitCte, dedup
      // normSql, TextQueries.qualitySql, ContamCtes) — composed, never
      // re-typed, so the composite and the standalone queries cannot
      // disagree about a document
      // the full pretraining manifest: the X29 funnel CTEs verbatim →
      // the shared paragraph-dedup chain → a second exact-dedup pass on
      // the CLEANED text → the quality chain re-pointed at the cleaned
      // survivors → the token-budget window → the shuffle-shard chain →
      // shard-ordered concat-and-chunk packing. Every fragment is the
      // same shared val its standalone oracle uses.
      Oracle(s"""WITH $SplitCte,
         |fp AS (SELECT doc_id, md5(${DedupQueries.normSql}) AS fp
         |       FROM documents),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
         |qual AS (SELECT doc_id, ${TextQueries.qualitySql} AS quality
         |         FROM documents),
         |${DedupQueries.ShinglesCte}, $ContamCtes,
         |contam AS (
         |  SELECT doc_id,
         |         CASE WHEN n_hit * 1.0 / n_sh >= $MinContamOverlap
         |              THEN 1 ELSE 0 END AS contaminated
         |  FROM agg),
         |cur AS MATERIALIZED (
         |  SELECT spl.doc_id
         |  FROM spl
         |  JOIN keep USING (doc_id)
         |  JOIN qual USING (doc_id)
         |  LEFT JOIN contam USING (doc_id)
         |  WHERE spl.split = 'train' AND spl.doc_id % $BenchMod <> 0
         |    AND qual.quality >= ${Pipeline.MinQuality}
         |    AND COALESCE(contam.contaminated, 0) = 0),
         |${DedupQueries.ParagraphCtes},
         |cdoc AS MATERIALIZED (
         |  SELECT c.doc_id, d.lang, d.source, c.clean_text AS text
         |  FROM pclean c
         |  JOIN cur ON c.doc_id = cur.doc_id
         |  JOIN documents d ON c.doc_id = d.doc_id
         |  WHERE c.clean_text <> ''),
         |fp2 AS (SELECT doc_id, md5(${DedupQueries.normSql}) AS f2
         |        FROM cdoc),
         |keep2 AS (SELECT MIN(doc_id) AS doc_id FROM fp2 GROUP BY f2),
         |${qualityCtes("(SELECT cdoc.* FROM cdoc " +
            "JOIN keep2 USING (doc_id))")},
         |cb AS (
         |  SELECT lang, doc_id, quality_e6, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY quality_e6 DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_tokens
         |  FROM sc),
         |sel AS MATERIALIZED (
         |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
         |  FROM cb WHERE cum_tokens <= $LangTokenBudget),
         |sk AS (SELECT doc_id, n_tokens,
         |         md5('${Pipeline.ShuffleSeed}-'
         |           || CAST(doc_id AS VARCHAR)) AS shuffle_key
         |       FROM sel),
         |shd AS (SELECT doc_id, n_tokens, shuffle_key,
         |          ${hex8Sql("shuffle_key")} % ${Pipeline.NumShards}
         |            AS shard
         |        FROM sk),
         |rkd AS (SELECT doc_id, n_tokens, shard,
         |          CAST(row_number() OVER (
         |            PARTITION BY shard ORDER BY shuffle_key, doc_id)
         |            AS BIGINT) AS rank
         |        FROM shd),
         |m AS (SELECT shard, rank, doc_id, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY shard ORDER BY rank
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS cum
         |      FROM rkd)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(FLOOR((cum - n_tokens) / ${Pipeline.PackBudget}.0)
         |    AS BIGINT) AS seq,
         |  doc_id, rank, n_tokens,
         |  CAST(cum - n_tokens -
         |    CAST(FLOOR((cum - n_tokens) / ${Pipeline.PackBudget}.0)
         |      AS BIGINT) * ${Pipeline.PackBudget} AS BIGINT)
         |    AS tok_start,
         |  CAST(cum -
         |    CAST(FLOOR((cum - n_tokens) / ${Pipeline.PackBudget}.0)
         |      AS BIGINT) * ${Pipeline.PackBudget} AS BIGINT)
         |    AS tok_end
         |FROM m""".stripMargin)),
    QuerySpec("pipe_length_deciles", (s, d) =>
      Pipeline.lengthDeciles(docs(s, d)),
      // global rank by (n_chars, doc_id) decomposed the same way the
      // engine computes it (offset + intra-value rank); tile is the
      // integer formula, NOT SQL NTILE (whose remainder placement
      // differs) — see Pipeline.lengthDeciles
      Oracle(s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_total
         |           FROM documents)
         |SELECT doc_id, n_chars,
         |  CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
         |    AS global_rank,
         |  CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1)
         |    * ${Pipeline.NumTiles} // n_total + 1 AS BIGINT) AS tile
         |FROM documents CROSS JOIN n""".stripMargin)),
    // X236: curriculum training order — exact quality terciles via the
    // value decomposition, seed-reproducible shard shuffle per phase
    QuerySpec("pipe_curriculum_order", (s, d) =>
      Pipeline.curriculumOrder(docs(s, d),
        scored = Some(Pipeline.sharedQualityScored(s, d))),
      // the quality CTEs + the length-deciles value decomposition over
      // the score domain (DESC — phase 1 = cleanest), then the shuffle
      // device keyed per (phase, shard)
      Oracle({
      val ph = Pipeline.CurriculumPhases
      s"""WITH $QualityCte,
         |off AS (SELECT quality_e6,
         |          COALESCE(SUM(count(*)) OVER (ORDER BY quality_e6
         |            DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
         |            1 PRECEDING), 0) AS off
         |        FROM sc GROUP BY quality_e6),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sc),
         |ph AS (SELECT doc_id, s.quality_e6,
         |         off + row_number() OVER (PARTITION BY s.quality_e6
         |           ORDER BY doc_id) AS global_rank
         |       FROM sc s JOIN off USING (quality_e6)),
         |p2 AS (SELECT doc_id, quality_e6,
         |         CAST(((global_rank - 1) * $ph) // n_total + 1
         |           AS BIGINT) AS phase
         |       FROM ph CROSS JOIN nd),
         |k AS (SELECT doc_id, quality_e6, phase,
         |        md5('${Pipeline.ShuffleSeed}-'
         |          || CAST(doc_id AS VARCHAR)) AS sk
         |      FROM p2),
         |s2 AS (SELECT doc_id, quality_e6, phase, sk,
         |         CAST(${hex8Sql("sk")} % ${Pipeline.NumShards}
         |           AS BIGINT) AS shard
         |       FROM k)
         |SELECT doc_id, quality_e6, phase, shard,
         |  CAST(row_number() OVER (PARTITION BY phase, shard
         |    ORDER BY sk, doc_id) AS BIGINT) AS rank_in_shard
         |FROM s2""".stripMargin
    })),
    // X245: quality–length moment screen — exact integer (n, Σx, Σy,
    // Σxy, Σx², Σy²); "is my quality filter a length filter?"
    QuerySpec("pipe_quality_length_corr", (s, d) =>
      Pipeline.qualityLengthCorr(docs(s, d),
        scored = Some(Pipeline.sharedQualityScored(s, d))),
      // the quality CTEs reduced to one exact moment row; q3 quantizes
      // BEFORE any product so every sum is Long-exact
      Oracle(s"""WITH $QualityCte
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(quality_e6 // 1000) AS BIGINT) AS sum_q3,
         |  CAST(SUM(n_tokens * (quality_e6 // 1000)) AS BIGINT)
         |    AS sum_tq,
         |  CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS sum_t2,
         |  CAST(SUM((quality_e6 // 1000) * (quality_e6 // 1000))
         |    AS BIGINT) AS sum_q3_2
         |FROM sc""".stripMargin)),
    QuerySpec("pipe_chunk_overlap", (s, d) =>
      Pipeline.chunkWithOverlap(docs(s, d)),
      // same start-position arithmetic; DuckDB list slicing clamps at
      // len(w) exactly like Spark slice
      Oracle({
      import Pipeline.{ChunkSize, ChunkOverlap}
      val stride = ChunkSize - ChunkOverlap
      s"""WITH tw AS (
         |  SELECT doc_id, string_split(${DedupQueries.normSql}, ' ') AS w
         |  FROM documents WHERE ${DedupQueries.normSql} <> ''),
         |st AS (SELECT doc_id, w,
         |         CAST(unnest(range(0, len(w), $stride)) AS BIGINT) AS start
         |       FROM tw),
         |ch AS (SELECT doc_id, CAST(start // $stride AS BIGINT) AS chunk_id,
         |         start AS start_tok,
         |         w[CAST(start + 1 AS INT):CAST(least(start + $ChunkSize,
         |           len(w)) AS INT)] AS c
         |       FROM st)
         |SELECT doc_id, chunk_id, start_tok,
         |  CAST(len(c) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(c, ' ')) AS chunk_fp
         |FROM ch""".stripMargin
    })),
    QuerySpec("pipe_token_budget", (s, d) =>
      Pipeline.tokenBudgetSelect(docs(s, d),
        scored = Some(Pipeline.sharedQualityScored(s, d))),
      // greedy quality-ranked prefix under a per-language token budget;
      // quality is the INTEGER-ppm mirror of the float qualityScore (//
      // on non-negative longs == Spark div) so the ranking — and hence
      // the greedy cut — is bit-identical cross-engine
      Oracle({
      s"""WITH $QualityCte,
         |c AS (
         |  SELECT lang, doc_id, quality_e6, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY quality_e6 DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_tokens
         |  FROM sc)
         |SELECT lang, doc_id, quality_e6,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= $LangTokenBudget""".stripMargin
    })),
    QuerySpec("pipe_balanced_sample", (s, d) =>
      Pipeline.balancedSample(docs(s, d)),
      // exact k per language by content-stable hash rank — deterministic
      // balanced subset, no rand()
      Oracle(s"""WITH t AS (
         |  SELECT doc_id, lang,
         |         ${hex8Sql("md5(CAST(doc_id AS VARCHAR))")} % 1000000 AS h
         |  FROM documents),
         |r AS (SELECT doc_id, lang, h,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY h, doc_id) AS BIGINT) AS rk
         |      FROM t)
         |SELECT doc_id, lang, h, rk FROM r
         |WHERE rk <= ${Pipeline.BalancedK}""".stripMargin)),
    QuerySpec("pipe_source_profile", (s, d) =>
      Pipeline.sourceProfile(docs(s, d)),
      // quality enters as floor(q·1e6 + 0.5) BEFORE the sum (exact
      // integer mean, any accumulation order); same qualitySql /
      // normSql shared vals as the standalone operators
      Oracle(s"""WITH p AS (
         |  SELECT source, md5(${DedupQueries.normSql}) AS fp,
         |         CAST(floor((${TextQueries.qualitySql})
         |           * CAST(1000000 AS DOUBLE)
         |           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q_e6
         |  FROM documents),
         |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
         |        CAST(SUM(q_e6) AS BIGINT) AS sum_q
         |      FROM p GROUP BY 1)
         |SELECT source, n_docs,
         |  ((n_docs - n_unique) * 1000000) // n_docs AS dup_ppm,
         |  sum_q // n_docs AS mean_quality_e6
         |FROM a""".stripMargin)),
    QuerySpec("pipe_split_drift", (s, d) => Pipeline.splitDrift(docs(s, d)),
      // dense (bucket × split) grid so empty-in-one-split buckets keep a
      // row; integer-ppm shares; same qualitySql/bucket constants
      Oracle(s"""WITH p AS (
         |  SELECT ${hex8Sql("md5(CAST(doc_id AS VARCHAR))")} % 100 AS hb,
         |    CAST(floor((${TextQueries.qualitySql})
         |      * CAST(1000000 AS DOUBLE)
         |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q_e6
         |  FROM documents),
         |b AS (SELECT CASE WHEN hb < ${Pipeline.TrainPct} THEN 'train'
         |          WHEN hb < ${Pipeline.TrainPct + Pipeline.ValidPct}
         |            THEN 'valid'
         |          ELSE 'test' END AS split,
         |        q_e6 // ${Pipeline.DriftBucketE6} AS q_bucket
         |      FROM p),
         |c AS (SELECT split, q_bucket, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM b GROUP BY 1, 2),
         |st AS (SELECT split, CAST(SUM(n) AS BIGINT) AS n_split
         |       FROM c GROUP BY 1),
         |bt AS (SELECT q_bucket, CAST(SUM(n) AS BIGINT) AS n_bucket
         |       FROM c GROUP BY 1),
         |g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM c),
         |grid AS (SELECT q_bucket, n_bucket, s.split
         |         FROM bt CROSS JOIN (
         |           SELECT unnest(['train', 'valid', 'test']) AS split) s)
         |SELECT grid.split, grid.q_bucket,
         |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
         |  CAST(COALESCE((c.n * 1000000) // st.n_split, 0) AS BIGINT)
         |    AS share_ppm,
         |  (grid.n_bucket * 1000000) // g.n_all AS corpus_ppm,
         |  ABS(CAST(COALESCE((c.n * 1000000) // st.n_split, 0) AS BIGINT)
         |    - (grid.n_bucket * 1000000) // g.n_all) AS drift_ppm
         |FROM grid
         |LEFT JOIN c ON grid.split = c.split AND grid.q_bucket = c.q_bucket
         |LEFT JOIN st ON grid.split = st.split
         |CROSS JOIN g""".stripMargin)),
    // near-dup pairs crossing the train/valid/test boundary — the
    // in-corpus leakage audit, off the session-shared LSH pair cache
    QuerySpec("pipe_split_leakage", (s, d) =>
      Pipeline.splitLeakage(docs(s, d),
        pairs = Some(graft.dedup.Dedup.sharedPairs(s, d))),
      // the dedup LSH pair CTEs joined to the split rule: pairs whose
      // members land in different splits
      Oracle(s"""WITH ${DedupQueries.ShinglesCte}, ${DedupQueries.SigCte},
         |${DedupQueries.LshBandCtes},
         |pr AS (${DedupQueries.LshPairsSelect}),
         |$SplitCte
         |SELECT pr.a_id, pr.b_id, sa.split AS a_split,
         |  sb.split AS b_split, pr.est_jaccard
         |FROM pr JOIN spl sa ON pr.a_id = sa.doc_id
         |        JOIN spl sb ON pr.b_id = sb.doc_id
         |WHERE sa.split <> sb.split""".stripMargin)),
    QuerySpec("pipe_mix_interleave", (s, d) =>
      Pipeline.mixInterleave(docs(s, d)),
      // the oracle may global-sort (row_number over the full order); the
      // engine derives mix_pos via a range-partitioned sort plus
      // per-range-partition offsets (boundary-invariant global rank)
      Oracle("""WITH w AS (
        |  SELECT source, CAST(row_number() OVER (ORDER BY source)
        |    AS BIGINT) AS weight
        |  FROM (SELECT DISTINCT source FROM documents)),
        |k AS (
        |  SELECT doc_id, d.source, weight,
        |    CAST(row_number() OVER (PARTITION BY d.source
        |      ORDER BY doc_id) AS BIGINT) AS src_rank
        |  FROM documents d JOIN w ON d.source = w.source),
        |ky AS (SELECT *, (src_rank * 1000000) // weight AS key FROM k)
        |SELECT doc_id, source, weight, src_rank,
        |  CAST(row_number() OVER (ORDER BY key, source, doc_id)
        |    AS BIGINT) AS mix_pos
        |FROM ky""".stripMargin)),
    QuerySpec("pipe_contamination_spans", (s, d) =>
      Pipeline.contaminationSpans(docs(s, d)),
      Oracle({
      val n = graft.dedup.Dedup.ShingleN
      s"""WITH tw AS (
         |  SELECT doc_id,
         |    CASE WHEN nrm = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(nrm, ' ') END AS w
         |  FROM (SELECT doc_id, ${DedupQueries.normSql} AS nrm
         |        FROM documents)),
         |sp AS (SELECT doc_id,
         |         CAST(unnest(range(0, greatest(len(w) - ${n - 1}, 0)))
         |           AS BIGINT) AS pos, w
         |       FROM tw),
         |shp AS (SELECT doc_id, pos,
         |          array_to_string(
         |            w[CAST(pos + 1 AS INT):CAST(pos + $n AS INT)], ' ')
         |            AS sh
         |        FROM sp),
         |b AS (SELECT DISTINCT sh FROM shp WHERE doc_id % $BenchMod = 0),
         |h AS (SELECT doc_id, pos FROM shp JOIN b USING (sh)
         |      WHERE doc_id % $BenchMod <> 0),
         |r AS (SELECT doc_id, pos, pos - row_number() OVER (
         |        PARTITION BY doc_id ORDER BY pos) AS grp
         |      FROM h),
         |runs AS (SELECT doc_id, grp, count(*) AS run_len,
         |           min(pos) AS start_pos
         |         FROM r GROUP BY 1, 2),
         |pd AS (SELECT doc_id, count(*) AS n_spans, max(run_len) AS mr,
         |         min(start_pos) AS first_pos, SUM(run_len) AS n_hit
         |       FROM runs GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_sh FROM shp
         |        WHERE doc_id % $BenchMod <> 0 GROUP BY 1)
         |SELECT pd.doc_id, CAST(tot.n_sh AS BIGINT) AS n_sh,
         |  CAST(pd.n_hit AS BIGINT) AS n_hit,
         |  CAST((pd.n_hit * 1000000) // tot.n_sh AS BIGINT) AS hit_ppm,
         |  CAST(pd.n_spans AS BIGINT) AS n_spans,
         |  CAST(pd.mr AS BIGINT) AS max_span_shingles,
         |  CAST(pd.mr + ${n - 1} AS BIGINT) AS max_span_tokens,
         |  CAST(pd.first_pos AS BIGINT) AS first_pos
         |FROM pd JOIN tot USING (doc_id)""".stripMargin
    })),
    QuerySpec("pipe_decontaminated", (s, d) =>
      Pipeline.exciseContamination(docs(s, d)),
      // X126: same positioned-shingle CTEs; covered token positions from
      // the bounded per-hit range explode; text reassembles with an
      // ORDER BY string_agg mirroring the engine's array_sort
      Oracle({
      val n = graft.dedup.Dedup.ShingleN
      s"""WITH tw AS (
         |  SELECT doc_id,
         |    CASE WHEN nrm = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(nrm, ' ') END AS w
         |  FROM (SELECT doc_id, ${DedupQueries.normSql} AS nrm
         |        FROM documents)),
         |sp AS (SELECT doc_id,
         |         CAST(unnest(range(0, greatest(len(w) - ${n - 1}, 0)))
         |           AS BIGINT) AS pos, w
         |       FROM tw),
         |shp AS (SELECT doc_id, pos,
         |          array_to_string(
         |            w[CAST(pos + 1 AS INT):CAST(pos + $n AS INT)], ' ')
         |            AS sh
         |        FROM sp),
         |b AS (SELECT DISTINCT sh FROM shp WHERE doc_id % $BenchMod = 0),
         |cov AS (SELECT DISTINCT h.doc_id, h.pos + u.o AS tp
         |        FROM (SELECT doc_id, pos FROM shp JOIN b USING (sh)
         |              WHERE doc_id % $BenchMod <> 0) h
         |        CROSS JOIN (SELECT unnest(range(0, $n)) AS o) u),
         |tk AS (SELECT doc_id,
         |         CAST(unnest(range(0, len(w))) AS BIGINT) AS tp,
         |         unnest(w) AS tok
         |       FROM tw WHERE doc_id % $BenchMod <> 0),
         |kp AS (SELECT t.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(t.tok, ' ' ORDER BY t.tp) AS clean_text
         |       FROM tk t ANTI JOIN cov c
         |         ON t.doc_id = c.doc_id AND t.tp = c.tp
         |       GROUP BY 1)
         |SELECT tw.doc_id, CAST(len(tw.w) AS BIGINT) AS n_tokens,
         |  CAST(len(tw.w) - COALESCE(kp.n_kept, 0) AS BIGINT)
         |    AS n_removed,
         |  COALESCE(kp.clean_text, '') AS clean_text
         |FROM tw LEFT JOIN kp USING (doc_id)
         |WHERE tw.doc_id % $BenchMod <> 0""".stripMargin
    })),
    QuerySpec("pipe_content_chunks", (s, d) =>
      Pipeline.contentChunks(docs(s, d)),
      // content-defined chunking: boundary = token whose md5-hex8 ≡ 0
      // (mod ChunkBoundaryMod); chunk id = boundaries strictly before
      // the position
      Oracle({
      val mod = Pipeline.ChunkBoundaryMod
      s"""WITH tw AS (
         |  SELECT doc_id,
         |    CASE WHEN nrm = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(nrm, ' ') END AS w
         |  FROM (SELECT doc_id, ${DedupQueries.normSql} AS nrm
         |        FROM documents)),
         |p AS (SELECT doc_id,
         |        CAST(unnest(range(0, len(w))) AS BIGINT) AS pos, w
         |      FROM tw),
         |tk AS (SELECT doc_id, pos, w[CAST(pos + 1 AS INT)] AS tok
         |       FROM p),
         |f AS (SELECT doc_id, pos, tok,
         |        CASE WHEN ${hex8Sql("md5(tok)")} % $mod = 0
         |             THEN 1 ELSE 0 END AS b
         |      FROM tk),
         |c AS (SELECT doc_id, pos, tok,
         |        CAST(COALESCE(SUM(b) OVER (
         |          PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0) AS BIGINT) AS chunk_id
         |      FROM f)
         |SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
         |FROM c GROUP BY 1, 2""".stripMargin
    })),
    QuerySpec("pipe_source_cap", (s, d) => Pipeline.perSourceCap(docs(s, d),
      scoredIn = Some(Pipeline.sharedQualityScored(s, d))),
      // per-source cap: the oracle ranks directly (row_number over each
      // source); the engine decomposes the same rank as offset + intra-
      // tie-group rank so no per-domain global sort exists at scale —
      // identical output by construction
      Oracle(s"""WITH $QualityCte
         |SELECT source, doc_id, quality_e6,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY quality_e6 DESC, doc_id ASC) AS BIGINT) AS rk
         |FROM sc
         |QUALIFY rk <= ${Pipeline.SourceCap}""".stripMargin)),
    QuerySpec("pipe_source_calibration", (s, d) =>
      Pipeline.sourceCalibratedQuality(docs(s, d),
        scored = Some(Pipeline.sharedQualityScored(s, d))),
      // gaps-and-islands over positioned benchmark-shingle hits: runs of
      // consecutive hit positions = contamination spans
      // same QualityCte scores; (quality asc, doc_id) rank within
      // source, percentile ppm over n−1
      Oracle(s"""WITH $QualityCte,
         |r AS (SELECT source, doc_id, quality_e6,
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY quality_e6, doc_id) AS BIGINT) AS rk,
         |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
         |          AS n
         |      FROM sc)
         |SELECT source, doc_id, quality_e6,
         |  CAST(CASE WHEN n = 1 THEN 0
         |       ELSE ((rk - 1) * 1000000) // (n - 1) END AS BIGINT)
         |    AS pct_ppm
         |FROM r""".stripMargin)),
    // X319: per-source quality-drift CUSUM over arrival batches —
    // the X79 profile composed with the X114 closed-form CUSUM
    // against the batch-0 baseline; the sequential stream leg is
    // StreamDrift (MemoryStream-proven equal)
    QuerySpec("pipe_source_drift", (s, d) =>
      Pipeline.sourceQualityDrift(docs(s, d)),
      // X319: quality quantized before the sum (exact integer mean),
      // closed-form one-sided CUSUM as two source-partitioned windows
      // over the ≤(batches−1)-row per-source series
      Oracle(s"""WITH p AS (
         |  SELECT source,
         |         CAST(doc_id % ${Pipeline.DriftBatches} AS BIGINT)
         |           AS batch,
         |         CAST(floor((${TextQueries.qualitySql})
         |           * CAST(1000000 AS DOUBLE)
         |           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q_e6
         |  FROM documents),
         |m AS (SELECT source, batch,
         |        CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(q_e6) AS BIGINT) // count(*) AS mean_q_e6
         |      FROM p GROUP BY 1, 2),
         |b AS (SELECT source, mean_q_e6 AS base_q_e6,
         |        mean_q_e6 // ${Pipeline.DriftAllowanceDiv} AS k
         |      FROM m WHERE batch = 0),
         |d AS (SELECT m.source, batch, n_docs, mean_q_e6, base_q_e6,
         |        k, base_q_e6 - mean_q_e6 - k AS dev
         |      FROM m JOIN b USING (source) WHERE batch >= 1),
         |c AS (SELECT *, CAST(SUM(dev) OVER (PARTITION BY source
         |          ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM d),
         |s AS (SELECT *, CAST(cum - LEAST(0, MIN(cum) OVER (
         |          PARTITION BY source ORDER BY batch
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |          AS BIGINT) AS cusum
         |      FROM c)
         |SELECT source, batch, n_docs, mean_q_e6, base_q_e6, k, dev,
         |  cusum,
         |  CAST(CASE WHEN cusum >
         |    k * ${graft.analytics.Analytics.CusumAlarmMult}
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_alarm
         |FROM s""".stripMargin)))
}
