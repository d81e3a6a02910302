package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.text.TextAnalysis._

/** Registry: text-analysis operators over the `documents` table
  * (language-ID, quality scoring, token counting, fingerprinting).
  *
  * The oracle SQL is generated from the SAME Scala constants
  * (marker lists, regex patterns) as the Spark expressions, so the two
  * engines can't drift. DuckDB notes: `regexp_replace` needs the 'g'
  * flag to match Spark's replace-all; integer list arithmetic is cast
  * to BIGINT up front to avoid INT32 overflow errors.
  */
object TextQueries {

  // Spread repairs the single-file fixture's one-partition scan locally
  // and is a no-op (no exchange) on an already-split source — see
  // graft.core.Spread for the 100 TB rationale
  private def docs(s: SparkSession, d: String): DataFrame =
    graft.core.Spread(Tables(s, d, "documents"))

  /** One BPE training run per (session, dir), feeding BOTH the
    * merge-table and fertility queries through the session cache: the
    * `lazy val` guarantees the driver loop executes at most once even
    * when both keys are cold (first touch of either materializes the
    * pair; the other key caches the already-built sibling frame). */
  private def bpeArtifacts(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    lazy val trained = graft.text.CorpusStats.bpeTrain(docs(s, d))
    (graft.core.SessionCache.cached(s, s"bpemerges:$d")(trained._1),
      graft.core.SessionCache.cached(s, s"bpesyms:$d")(trained._2))
  }

  /** Shared per-doc frame of X252/X253 — map-only, zero shuffle. */
  private def encodingQc(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
        col("doc_id"), col("source"),
        length(col("text")).cast("long").as("char_len"),
        replacementCount(col("text")).as("repl_count"),
        ctrlCount(col("text")).as("ctrl_count"))
      .withColumn("ctrl_ppm",
        expr("ctrl_count * 1000000 div greatest(char_len, 1)"))
      .withColumn("is_quarantined",
        when(col("repl_count") > 0 ||
          col("ctrl_ppm") >= graft.text.TextAnalysis.CtrlPpmQuarantine,
          1L).otherwise(0L))

  // ---- DuckDB oracle SQL, generated from the same constants ----

  /** normalize(text) in DuckDB. */
  private def normSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  private def toksSql(c: String): String =
    s"string_split_regex(trim($c), '$WsPlusPattern')"

  private def markerHitsSql(toks: String, markers: Seq[String]): String = {
    val list = markers.map(m => s"'$m'").mkString("[", ", ", "]")
    s"CAST(len(list_filter($toks, t -> list_contains($list, t))) AS DOUBLE)"
  }

  /** Per-doc (doc_id, lang, lang_pred) lang-ID SELECT — shared
    * verbatim by the `text_lang_id` oracle and the confusion-matrix
    * oracle; the CASE order is the Spark foldLeft priority order, so
    * ties resolve identically in both engines. */
  private def langPredSql: String = {
    val toks = s"${toksSql("lower(text)")}"
    val scores = graft.text.TextAnalysis.LangMarkers.map { case (l, ms) =>
      l -> markerHitsSql(toks, ms)
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val cases = scores.map { case (l, s) =>
      s"WHEN $s = best THEN '$l'"
    }.mkString("\n         ")
    s"""SELECT doc_id, lang,
       |  CASE WHEN best = 0 THEN 'und'
       |       $cases
       |       ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, lang, text, $best AS best FROM documents)""".stripMargin
  }

  /** Shared with [[PipelineQueries]] (curation-composite oracle). */
  private[registry] val punctSql =
    s"""CASE WHEN length(regexp_replace(text, '$WsClassPattern', '', 'g')) = 0 THEN 0.0
       |     ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
       |          / length(regexp_replace(text, '$WsClassPattern', '', 'g')) END""".stripMargin

  private[registry] val stopSql = {
    val hits = markerHitsSql(s"string_split_regex(trim(lower(text)), '$WsPlusPattern')",
      graft.text.TextAnalysis.LangMarkers.head._2)
    s"""CASE WHEN trim(text) = '' THEN 0.0
       |     ELSE $hits / len(string_split_regex(trim(lower(text)), '$WsPlusPattern')) END""".stripMargin
  }

  /** The composite quality score — shared verbatim with
    * [[PipelineQueries]]'s curation-funnel oracle so the two cannot
    * drift. */
  private[registry] val qualitySql =
    s"""ROUND(least(length(text) / 500.0, 1.0) * 0.4
       |      + least(($stopSql) * 4.0, 1.0) * 0.3
       |      + greatest(1.0 - ($punctSql) * 5.0, 0.0) * 0.3, 6)""".stripMargin

  /** Normalized-token-array CTE (empty list, not [''], for empty
    * normal forms) — shared by the corpus-stats oracles; mirrors
    * [[graft.text.CorpusStats.tokenArray]]. */
  private val TokCte =
    s"""tw AS (
       |  SELECT doc_id,
       |         CASE WHEN ${normSql("text")} = ''
       |              THEN CAST([] AS VARCHAR[])
       |              ELSE string_split(${normSql("text")}, ' ') END AS w
       |  FROM documents)""".stripMargin

  /** The BPE round pyramid (wc → s0 → rounds of p/t/mm/m/s CTEs),
    * shared by the train and fertility oracles. MATERIALIZED is
    * load-bearing: DuckDB inlines chained CTEs and the plan explodes
    * exponentially without it. */
  private def bpeCtes(rounds: Int): String = {
    def round(i: Int): String = {
      val prev = s"s${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT tid, n, pos, sym || ' ' ||
         |    lead(sym) OVER (PARTITION BY tid ORDER BY pos) AS pr
         |  FROM $prev),
         |t$i AS MATERIALIZED (SELECT pr, CAST(sum(n) AS BIGINT) AS w
         |        FROM p$i WHERE pr IS NOT NULL GROUP BY 1
         |        ORDER BY w DESC, pr LIMIT 1),
         |mm$i AS (SELECT tid, pos,
         |           row_number() OVER (PARTITION BY tid ORDER BY pos)
         |             AS rn
         |         FROM p$i WHERE pr = (SELECT pr FROM t$i)),
         |m$i AS MATERIALIZED (SELECT tid, pos FROM (
         |          SELECT tid, pos, row_number() OVER (
         |            PARTITION BY tid, pos - rn ORDER BY pos) AS rn2
         |          FROM mm$i)
         |        WHERE rn2 % 2 = 1),
         |s$i AS MATERIALIZED (
         |  SELECT tid, n, CAST(row_number() OVER (
         |      PARTITION BY tid ORDER BY pos) - 1 AS BIGINT) AS pos,
         |    sym FROM (
         |    SELECT s.tid, s.n, s.pos,
         |      CASE WHEN m0.pos IS NOT NULL
         |           THEN replace((SELECT pr FROM t$i), ' ', '')
         |           ELSE s.sym END AS sym
         |    FROM $prev s
         |    LEFT JOIN m$i m0 ON s.tid = m0.tid AND s.pos = m0.pos
         |    LEFT JOIN m$i m1 ON s.tid = m1.tid AND s.pos = m1.pos + 1
         |    WHERE m1.pos IS NULL))""".stripMargin
    }
    s"""wc AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(w) AS token FROM tw) GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT token AS tid, n, u.pos, u.sym FROM (
       |    SELECT token, n,
       |      unnest(list_transform(range(1, length(token) + 1),
       |        i -> struct_pack(pos := CAST(i - 1 AS BIGINT),
       |          sym := substring(token, CAST(i AS INT), 1)))) AS u
       |    FROM wc)),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  /** Shared per-doc CTE of the X252/X253 oracles — the control-char
    * class and quarantine threshold interpolate from the SAME Scala
    * constants as the Spark expressions (DuckDB string literals do not
    * process backslashes, so the regex engine receives the class
    * verbatim; 'g' flag = Spark's replace-all). */
  private val EncodingQcCte: String = {
    import graft.text.TextAnalysis.{CtrlPattern, CtrlPpmQuarantine}
    s"""e AS (
       |  SELECT doc_id, source,
       |    CAST(length(text) AS BIGINT) AS char_len,
       |    CAST(length(text) - length(replace(text, chr(65533), ''))
       |      AS BIGINT) AS repl_count,
       |    CAST(length(text) -
       |      length(regexp_replace(text, '$CtrlPattern', '', 'g'))
       |      AS BIGINT) AS ctrl_count
       |  FROM documents),
       |p AS (SELECT *, CAST((ctrl_count * 1000000) //
       |        greatest(char_len, 1) AS BIGINT) AS ctrl_ppm FROM e),
       |q AS (SELECT *, CAST(CASE WHEN repl_count > 0
       |        OR ctrl_ppm >= $CtrlPpmQuarantine THEN 1 ELSE 0 END
       |        AS BIGINT) AS is_quarantined FROM p)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_token_counts", (s, d) => docs(s, d).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      bpeishTokenCount(col("text")).as("n_bpeish")),
      Oracle(s"""SELECT doc_id,
         |  CASE WHEN trim(text) = '' THEN 0
         |       ELSE len(${toksSql("text")}) END AS n_tokens,
         |  len(regexp_extract_all(text, '$BpeishPattern')) AS n_bpeish
         |FROM documents""".stripMargin)),
    QuerySpec("text_quality_scores", (s, d) => docs(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      round(punctRatio(col("text")), 6).as("punct_ratio"),
      round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
      qualityScore(col("text")).as("quality")),
      Oracle(s"""SELECT doc_id,
         |  length(text) AS len_chars,
         |  ROUND($punctSql, 6) AS punct_ratio,
         |  ROUND($stopSql, 6) AS stopword_ratio,
         |  $qualitySql AS quality
         |FROM documents""".stripMargin)),
    QuerySpec("text_lang_id", (s, d) => docs(s, d).select(
      col("doc_id"), col("lang"),
      langId(col("text")).as("lang_pred")),
      Oracle(langPredSql)),
    // X261: lang-ID confusion matrix — the eval read for the X7 leg:
    // per (tagged, predicted) cell the count and row-normalized ppm
    // (the diagonal's share_ppm IS per-lang recall); |langs|²-grain
    // map-side-combinable aggregates + one broadcast row-total join
    QuerySpec("text_langid_confusion", (s, d) => {
      val cm = docs(s, d)
        .select(col("lang"), langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).cast("long").as("n"))
      val tot = cm.groupBy(col("lang"))
        .agg(sum(col("n")).cast("long").as("n_true"))
      cm.join(broadcast(tot), Seq("lang"))
        .withColumn("share_ppm", expr("n * 1000000 div n_true"))
    },
      // the same shared lang-pred SELECT, aggregated to cells
      Oracle(s"""WITH p AS ($langPredSql),
         |cm AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |       FROM p GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true
         |      FROM cm GROUP BY 1)
         |SELECT cm.lang, cm.lang_pred, cm.n, t.n_true,
         |  CAST(cm.n * 1000000 // t.n_true AS BIGINT) AS share_ppm
         |FROM cm JOIN t ON cm.lang = t.lang""".stripMargin)),
    QuerySpec("text_fingerprints", (s, d) => docs(s, d).select(
      col("doc_id"),
      fingerprintMd5(col("text")).as("fp_md5"),
      rollingFingerprint(col("text")).as("fp_rolling")),
      Oracle({
      val t = s"substring(${normSql("text")}, 1, 64)"
      s"""SELECT doc_id,
         |  md5(${normSql("text")}) AS fp_md5,
         |  list_reduce(
         |    [CAST(0 AS BIGINT)] ||
         |    CASE WHEN length(t) = 0 THEN CAST([] AS BIGINT[])
         |         ELSE list_transform(range(1, length(t) + 1),
         |                i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)) END,
         |    (acc, x) -> (acc * 31 + x) % 2147483647) AS fp_rolling
         |FROM (SELECT doc_id, text, $t AS t FROM documents)""".stripMargin
    })),
    // X252: encoding/mojibake ingest QC — per-doc U+FFFD count, C0/C1
    // control ppm, quarantine verdict (see TextAnalysis scaladoc)
    QuerySpec("text_encoding_qc", (s, d) => encodingQc(s, d),
      Oracle(s"""WITH $EncodingQcCte
         |SELECT doc_id, source, char_len, repl_count, ctrl_count,
         |  ctrl_ppm, is_quarantined
         |FROM q""".stripMargin)),
    // X253: the per-source rollup of X252 — the "which feed is
    // transcoding garbage" triage view
    QuerySpec("text_encoding_by_source", (s, d) => encodingQc(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("is_quarantined")).cast("long").as("n_quarantined"),
        sum(col("repl_count")).cast("long").as("repl_total"),
        sum(col("ctrl_count")).cast("long").as("ctrl_total"),
        sum(col("char_len")).cast("long").as("char_total"))
      .withColumn("ctrl_ppm",
        expr("ctrl_total * 1000000 div greatest(char_total, 1)")),
      Oracle(s"""WITH $EncodingQcCte
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(is_quarantined) AS BIGINT) AS n_quarantined,
         |  CAST(sum(repl_count) AS BIGINT) AS repl_total,
         |  CAST(sum(ctrl_count) AS BIGINT) AS ctrl_total,
         |  CAST(sum(char_len) AS BIGINT) AS char_total,
         |  CAST((sum(ctrl_count) * 1000000) // greatest(sum(char_len), 1)
         |    AS BIGINT) AS ctrl_ppm
         |FROM q GROUP BY source""".stripMargin)),
    // X254: Gopher-rule structural screen — published thresholds as
    // shared constants, all-integer verdict (see TextAnalysis scaladoc)
    QuerySpec("text_gopher_screen", (s, d) => {
      import graft.text.TextAnalysis._
      docs(s, d).select(col("doc_id"),
          tokenCount(col("text")).as("n_words"),
          wordChars(col("text")).as("word_chars"),
          alphaWordCount(col("text")).as("alpha_words"),
          stopwordHits(col("text")).as("stop_hits"),
          symbolCount(col("text")).as("sym_count"))
        .withColumn("mean_wlen_e6",
          expr("word_chars * 1000000 div greatest(n_words, 1)"))
        .withColumn("alpha_ppm",
          expr("alpha_words * 1000000 div greatest(n_words, 1)"))
        .withColumn("sym_ppm",
          expr("sym_count * 1000000 div greatest(n_words, 1)"))
        .withColumn("passes_gopher",
          when(col("n_words").between(GopherMinWords, GopherMaxWords) &&
            col("mean_wlen_e6")
              .between(GopherMinWlenE6, GopherMaxWlenE6) &&
            col("alpha_ppm") >= GopherMinAlphaPpm &&
            col("stop_hits") >= GopherMinStopHits &&
            col("sym_ppm") <= GopherMaxSymPpm, 1L).otherwise(0L))
        .drop("word_chars", "alpha_words", "sym_count")
    },
      Oracle({
      import graft.text.TextAnalysis._
      val stopSum = LangMarkers.head._2.map(m =>
        s"(CASE WHEN list_contains(wl, '$m') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    CAST(CASE WHEN trim(text) = '' THEN 0
         |         ELSE len(${toksSql("text")}) END AS BIGINT) AS n_words,
         |    CAST(length(regexp_replace(text, '$WsClassPattern', '', 'g'))
         |      AS BIGINT) AS word_chars,
         |    ${toksSql("text")} AS w,
         |    ${toksSql("lower(text)")} AS wl
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_words, word_chars,
         |    CAST(CASE WHEN n_words = 0 THEN 0
         |      ELSE len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
         |      END AS BIGINT) AS alpha_words,
         |    CAST($stopSum AS BIGINT) AS stop_hits,
         |    CAST(length(text) - length(regexp_replace(text, '#', '', 'g'))
         |      + (length(text) -
         |         length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) // 3
         |      AS BIGINT) AS sym_count
         |  FROM t),
         |r AS (
         |  SELECT doc_id, n_words, stop_hits,
         |    CAST(word_chars * 1000000 // greatest(n_words, 1)
         |      AS BIGINT) AS mean_wlen_e6,
         |    CAST(alpha_words * 1000000 // greatest(n_words, 1)
         |      AS BIGINT) AS alpha_ppm,
         |    CAST(sym_count * 1000000 // greatest(n_words, 1)
         |      AS BIGINT) AS sym_ppm
         |  FROM m)
         |SELECT doc_id, n_words, stop_hits, mean_wlen_e6, alpha_ppm,
         |  sym_ppm,
         |  CAST(CASE WHEN n_words BETWEEN $GopherMinWords
         |         AND $GopherMaxWords
         |       AND mean_wlen_e6 BETWEEN $GopherMinWlenE6
         |         AND $GopherMaxWlenE6
         |       AND alpha_ppm >= $GopherMinAlphaPpm
         |       AND stop_hits >= $GopherMinStopHits
         |       AND sym_ppm <= $GopherMaxSymPpm
         |       THEN 1 ELSE 0 END AS BIGINT) AS passes_gopher
         |FROM r""".stripMargin
    })),
    // X256: markup-density / boilerplate screen — tag ppm, anchor-text
    // link ppm over visible chars, jusText-style verdict (see
    // TextAnalysis scaladoc)
    QuerySpec("text_markup_density", (s, d) => {
      import graft.text.TextAnalysis._
      docs(s, d).select(col("doc_id"),
          length(col("text")).cast("long").as("char_len"),
          tagCount(col("text")).as("tag_count"),
          tagChars(col("text")).as("tag_chars"),
          linkChars(col("text")).as("link_chars"))
        .withColumn("visible_chars",
          (col("char_len") - col("tag_chars")).cast("long"))
        .withColumn("tag_ppm",
          expr("tag_chars * 1000000 div greatest(char_len, 1)"))
        .withColumn("link_ppm",
          expr("link_chars * 1000000 div greatest(visible_chars, 1)"))
        .withColumn("is_boilerplate",
          when(col("tag_ppm") >= TagPpmBoiler ||
            col("link_ppm") >= LinkPpmBoiler, 1L).otherwise(0L))
        .drop("tag_chars", "link_chars")
    },
      Oracle({
      import graft.text.TextAnalysis._
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS char_len,
         |    CAST(len(regexp_extract_all(text, '$TagPattern'))
         |      AS BIGINT) AS tag_count,
         |    CAST(length(text) -
         |      length(regexp_replace(text, '$TagPattern', '', 'g'))
         |      AS BIGINT) AS tag_chars,
         |    -- array_to_string([]) is NULL in DuckDB (Spark's
         |    -- array_join gives ''), hence the coalesce
         |    CAST(coalesce(length(array_to_string(
         |      regexp_extract_all(text, '$AnchorPattern', 1), '')), 0)
         |      AS BIGINT) AS link_chars
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, char_len, tag_count,
         |    CAST(char_len - tag_chars AS BIGINT) AS visible_chars,
         |    CAST(tag_chars * 1000000 // greatest(char_len, 1)
         |      AS BIGINT) AS tag_ppm,
         |    CAST(link_chars * 1000000 //
         |      greatest(char_len - tag_chars, 1) AS BIGINT) AS link_ppm
         |  FROM m)
         |SELECT doc_id, char_len, tag_count, visible_chars, tag_ppm,
         |  link_ppm,
         |  CAST(CASE WHEN tag_ppm >= $TagPpmBoiler
         |       OR link_ppm >= $LinkPpmBoiler THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_boilerplate
         |FROM r""".stripMargin
    })),
    QuerySpec("text_bm25", (s, d) =>
      graft.text.Bm25.score(Tables(s, d, "documents")),
      // BM25 with odds-form idf (no ln — see graft.text.Bm25 scaladoc);
      // constants interpolated PRE-COMPUTED from the Scala doubles so
      // both engines compare/multiply the identical IEEE values, and
      // every intermediate is cast to DOUBLE up front (DuckDB otherwise
      // folds the +0.5 arithmetic in DECIMAL)
      Oracle({
      import graft.text.Bm25.{K1, B, QueryTerms}
      val termList = graft.text.Bm25.normalizeTerms(QueryTerms)
        .map(t => s"'$t'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
         |  FROM documents),
         |l AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM t),
         |st AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM l),
         |ex AS (SELECT doc_id, dl, unnest(w) AS term FROM l),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl2
         |       FROM ex WHERE term IN ($termList) GROUP BY 1, 2),
         |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_terms_hit,
         |  ROUND(SUM((CAST(n_docs AS DOUBLE) - df + 0.5)
         |    / (CAST(df AS DOUBLE) + 0.5)
         |    * (CAST(tf AS DOUBLE) * ${K1 + 1})
         |    / (CAST(tf AS DOUBLE)
         |       + $K1 * (${1 - B} + $B * CAST(dl2 AS DOUBLE) / avgdl))),
         |    6) AS bm25
         |FROM tf JOIN d USING (term) CROSS JOIN st
         |GROUP BY doc_id""".stripMargin
    })),
    QuerySpec("text_repetition", (s, d) =>
      graft.text.CorpusStats.repetitionSignals(Tables(s, d, "documents")),
      // ratios as integer ppm via // — integer-exact in both engines
      // (values non-negative); COALESCE folds token-less docs to zeros
      Oracle(s"""WITH $TokCte,
         |uni AS (SELECT doc_id, unnest(w) AS tok FROM tw),
         |uc AS (SELECT doc_id, tok, count(*) AS c FROM uni GROUP BY 1, 2),
         |us AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |              count(*) AS n_distinct,
         |              CAST(MAX(c) AS BIGINT) AS top_tok
         |       FROM uc GROUP BY 1),
         |bg AS (SELECT doc_id,
         |              unnest(list_transform(range(1, len(w)),
         |                i -> w[i] || ' ' || w[i + 1])) AS sh
         |       FROM tw),
         |bc AS (SELECT doc_id, sh, count(*) AS c FROM bg GROUP BY 1, 2),
         |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |              CAST(MAX(c) AS BIGINT) AS top_bigram
         |       FROM bc GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(us.n_tokens, 0) AS n_tokens,
         |  COALESCE(us.n_distinct, 0) AS n_distinct,
         |  CAST(COALESCE(
         |    ((us.n_tokens - us.n_distinct) * 1000000) // us.n_tokens, 0)
         |    AS BIGINT) AS dup_token_frac_e6,
         |  CAST(COALESCE((us.top_tok * 1000000) // us.n_tokens, 0)
         |    AS BIGINT) AS top_token_frac_e6,
         |  CAST(COALESCE((bs.top_bigram * 1000000) // bs.n_bigrams, 0)
         |    AS BIGINT) AS top_bigram_frac_e6
         |FROM documents d
         |LEFT JOIN us USING (doc_id) LEFT JOIN bs USING (doc_id)""".stripMargin)),
    QuerySpec("text_surprisal", (s, d) =>
      graft.text.CorpusStats.surprisalScores(docs(s, d)),
      // integer surprisal: bit_length(N div ctf) per token (length of
      // the binary spelling — the X95 bucket function), summed per doc;
      // same vocab/join topology as text_token_rarity
      Oracle(s"""WITH $TokCte,
         |ex AS (SELECT doc_id, unnest(w) AS tok FROM tw),
         |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS ctf
         |      FROM ex GROUP BY 1),
         |t AS (SELECT CAST(SUM(ctf) AS BIGINT) AS n_total FROM v),
         |a AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        CAST(SUM(length(format('{:b}', t.n_total // v.ctf)))
         |          AS BIGINT) AS total_bits
         |      FROM ex e JOIN v USING (tok) CROSS JOIN t GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(a.n_tokens, 0) AS n_tokens,
         |  COALESCE(a.total_bits, 0) AS total_bits,
         |  CAST(COALESCE((a.total_bits * 1000000) // a.n_tokens, 0)
         |    AS BIGINT) AS bits_per_token_e6
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin)),
    // X219: bigram conditional surprisal — the word-order-sensitive
    // second-order leg of the perplexity quality filter
    QuerySpec("text_bigram_surprisal", (s, d) =>
      graft.text.CorpusStats.bigramSurprisalScores(docs(s, d)),
      // same bigram extraction as text_collocations, bits at bigram-TYPE
      // grain conditioned on the head's bigram count, instance rollup
      Oracle(s"""WITH $TokCte,
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |         i -> w[i] || ' ' || w[i + 1])) AS bigram
         |       FROM tw),
         |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab
         |       FROM bg GROUP BY 1),
         |hd AS (SELECT string_split(bigram, ' ')[1] AS a,
         |         CAST(SUM(n_ab) AS BIGINT) AS n_a
         |       FROM bi GROUP BY 1),
         |ty AS (SELECT bigram,
         |         CAST(length(format('{:b}', n_a // n_ab)) AS BIGINT)
         |           AS bits
         |       FROM bi JOIN hd ON string_split(bigram, ' ')[1] = hd.a),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |        CAST(SUM(bits) AS BIGINT) AS total_bits
         |      FROM bg JOIN ty USING (bigram) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(a.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(a.total_bits, 0) AS total_bits,
         |  CAST(COALESCE((a.total_bits * 1000000) // a.n_bigrams, 0)
         |    AS BIGINT) AS bits_per_bigram_e6
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin)),
    // X308: Kneser-Ney-smoothed bigram surprisal (VERDICT r14 #5) —
    // absolute discount D as an integer-ppm constant, continuation
    // counts, one common-denominator integer rational per bigram type
    QuerySpec("text_kn_surprisal", (s, d) =>
      graft.text.CorpusStats.knSurprisalScores(docs(s, d)),
      // same bigram extraction; interpolated Kneser-Ney with D as an
      // integer-ppm constant over one common denominator — num/den are
      // exact count rationals, bits = the X110 floor-log2 device
      Oracle({
      val dp = graft.text.CorpusStats.KnDiscountPpm
      s"""WITH $TokCte,
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |         i -> w[i] || ' ' || w[i + 1])) AS bigram
         |       FROM tw),
         |bi AS (SELECT bigram,
         |         string_split(bigram, ' ')[1] AS a,
         |         string_split(bigram, ' ')[2] AS b,
         |         CAST(count(*) AS BIGINT) AS n_ab
         |       FROM bg GROUP BY 1, 2, 3),
         |hd AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a,
         |         CAST(count(*) AS BIGINT) AS t_a
         |       FROM bi GROUP BY 1),
         |tl AS (SELECT b, CAST(count(*) AS BIGINT) AS t_b
         |       FROM bi GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM bi),
         |ty AS (SELECT bigram,
         |         CAST(length(format('{:b}',
         |           (n_a * 1000000 * tt) //
         |           (greatest(n_ab * 1000000 - $dp, 0) * tt +
         |            $dp * t_a * t_b))) AS BIGINT) AS bits
         |       FROM bi JOIN hd USING (a) JOIN tl USING (b), tot),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(SUM(bits) AS BIGINT) AS total_bits
         |       FROM bg JOIN ty USING (bigram) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(ag.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(ag.total_bits, 0) AS total_bits,
         |  CAST(COALESCE((ag.total_bits * 1000000) // ag.n_bigrams, 0)
         |    AS BIGINT) AS bits_per_bigram_e6
         |FROM documents d LEFT JOIN ag USING (doc_id)""".stripMargin
    })),
    // X312: Good-Turing frequency-of-frequencies per language — the
    // unseen-mass (N1/N ppm) and discounted hapax count (2·N2/N1 e6)
    QuerySpec("text_good_turing", (s, d) =>
      graft.text.CorpusStats.goodTuringProfile(docs(s, d)),
      // same normalized tokenization at (lang, term) grain; frequency-
      // of-frequencies folded into conditional sums, ppm/e6 floor-divs
      Oracle(s"""WITH ex AS (
         |  SELECT lang,
         |         unnest(string_split(${normSql("text")}, ' ')) AS tok
         |  FROM documents WHERE ${normSql("text")} <> ''),
         |tf AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
         |       FROM ex GROUP BY 1, 2),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
         |        CAST(SUM(c) AS BIGINT) AS n_tokens,
         |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_hapax,
         |        CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_dis
         |      FROM tf GROUP BY 1)
         |SELECT lang, n_tokens, n_types, n_hapax, n_dis,
         |  CAST((n_hapax * 1000000) // n_tokens AS BIGINT)
         |    AS unseen_mass_ppm,
         |  CAST(CASE WHEN n_hapax = 0 THEN 0
         |       ELSE (2 * n_dis * 1000000) // n_hapax END AS BIGINT)
         |    AS c1_star_e6
         |FROM g""".stripMargin)),
    // X247: Church-Gale term burstiness — topical vs function-word
    // separation from the tf/df ratio
    QuerySpec("text_term_burstiness", (s, d) =>
      graft.text.CorpusStats.termBurstiness(docs(s, d)),
      // (doc, term) tf rollup then term grain — df is a plain row count
      Oracle(s"""WITH $TokCte,
         |tf AS (SELECT doc_id, unnest(w) AS term FROM tw),
         |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf_doc
         |       FROM tf GROUP BY 1, 2),
         |g AS (SELECT term, CAST(SUM(tf_doc) AS BIGINT) AS tf,
         |        CAST(count(*) AS BIGINT) AS df
         |      FROM dt GROUP BY 1)
         |SELECT term, tf, df,
         |  CAST((tf * 1000000) // df AS BIGINT) AS burst_ppm
         |FROM g WHERE df >= ${graft.text.CorpusStats.BurstMinDf}"""
        .stripMargin)),
    QuerySpec("text_vocab_growth", (s, d) =>
      graft.text.CorpusStats.vocabGrowth(docs(s, d)),
      // id-range buckets ((doc_id·B) div (max_id+1) — no global sort),
      // first-appearance bucket per token, 10-row cumulative rollup
      Oracle({
      val b = graft.text.CorpusStats.GrowthBuckets
      s"""WITH $TokCte,
         |mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
         |db AS (SELECT (d.doc_id * $b) // (mx.max_id + 1) AS bkt
         |       FROM documents d CROSS JOIN mx),
         |dc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM db GROUP BY 1),
         |ex AS (SELECT (tw.doc_id * $b) // (mx.max_id + 1) AS bkt,
         |         unnest(w) AS tok
         |       FROM tw CROSS JOIN mx),
         |tc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_tokens
         |       FROM ex GROUP BY 1),
         |nv AS (SELECT bkt, CAST(count(*) AS BIGINT) AS new_vocab
         |       FROM (SELECT tok, MIN(bkt) AS bkt FROM ex GROUP BY 1)
         |       GROUP BY 1),
         |j AS (SELECT dc.bkt, dc.n_docs,
         |        COALESCE(tc.n_tokens, 0) AS n_tokens,
         |        COALESCE(nv.new_vocab, 0) AS new_vocab
         |      FROM dc LEFT JOIN tc USING (bkt)
         |            LEFT JOIN nv USING (bkt))
         |SELECT bkt, n_docs, n_tokens, new_vocab,
         |  CAST(SUM(n_tokens) OVER (ORDER BY bkt) AS BIGINT) AS cum_tokens,
         |  CAST(SUM(new_vocab) OVER (ORDER BY bkt) AS BIGINT) AS cum_vocab
         |FROM j""".stripMargin
    })),
    QuerySpec("text_dsir_weights", (s, d) =>
      graft.text.CorpusStats.dsirWeights(docs(s, d)),
      // DSIR log-ratio in integer bits (surprisal_raw − surprisal_tgt,
      // add-one smoothed target); offset div for the possibly-negative
      // mean (see CorpusStats.dsirWeights)
      Oracle({
      val lang = graft.text.CorpusStats.DsirTargetLang
      s"""WITH $TokCte,
         |ex AS (SELECT doc_id, unnest(w) AS tok FROM tw),
         |r AS (SELECT tok, CAST(count(*) AS BIGINT) AS ctf
         |      FROM ex GROUP BY 1),
         |ti AS (SELECT doc_id FROM documents WHERE lang = '$lang'),
         |t AS (SELECT tok, CAST(count(*) AS BIGINT) AS ctf_t
         |      FROM ex JOIN ti USING (doc_id) GROUP BY 1),
         |tot AS (SELECT
         |  (SELECT CAST(SUM(ctf) AS BIGINT) FROM r) AS n_raw,
         |  (SELECT CAST(count(*) AS BIGINT) FROM r) AS v_raw,
         |  (SELECT CAST(COALESCE(SUM(ctf_t), 0) AS BIGINT) FROM t)
         |    AS n_tgt),
         |b AS (SELECT e.doc_id,
         |        CAST(length(format('{:b}', tot.n_raw // r.ctf))
         |          AS BIGINT) AS rb,
         |        CAST(length(format('{:b}', (tot.n_tgt + tot.v_raw)
         |          // (COALESCE(t.ctf_t, 0) + 1))) AS BIGINT) AS tb
         |      FROM ex e JOIN r USING (tok) LEFT JOIN t USING (tok)
         |           CROSS JOIN tot),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        CAST(SUM(rb) AS BIGINT) AS raw_bits,
         |        CAST(SUM(tb) AS BIGINT) AS tgt_bits
         |      FROM b GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(a.n_tokens, 0) AS n_tokens,
         |  COALESCE(a.raw_bits, 0) AS raw_bits,
         |  COALESCE(a.tgt_bits, 0) AS tgt_bits,
         |  COALESCE(a.raw_bits - a.tgt_bits, 0) AS dsir_bits,
         |  CAST(COALESCE(
         |    ((a.raw_bits - a.tgt_bits + 64 * a.n_tokens) * 1000000)
         |      // a.n_tokens - 64000000, 0) AS BIGINT)
         |    AS dsir_per_tok_e6
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin
    })),
    QuerySpec("text_source_overlap", (s, d) =>
      graft.text.CorpusStats.sourceOverlap(docs(s, d)),
      // top-K token sets per source ((n desc, tok asc) rank), pairwise
      // shared-token Jaccard in ppm over the K-sized sets only
      Oracle({
      val k = graft.text.CorpusStats.OverlapK
      s"""WITH tw AS (
         |  SELECT source,
         |    CASE WHEN ${normSql("text")} = ''
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(${normSql("text")}, ' ') END AS w
         |  FROM documents),
         |ex AS (SELECT source, unnest(w) AS tok FROM tw),
         |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
         |      FROM ex GROUP BY 1, 2),
         |top AS (SELECT source, tok FROM (
         |    SELECT source, tok, row_number() OVER (
         |      PARTITION BY source ORDER BY n DESC, tok ASC) AS rk
         |    FROM c) WHERE rk <= $k),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS s
         |       FROM top GROUP BY 1),
         |sh AS (SELECT a.source AS a_source, b.source AS b_source,
         |         CAST(count(*) AS BIGINT) AS shared
         |       FROM top a JOIN top b
         |         ON a.tok = b.tok AND a.source < b.source
         |       GROUP BY 1, 2)
         |SELECT sh.a_source, sh.b_source, sh.shared,
         |  CAST((sh.shared * 1000000) // (sa.s + sb.s - sh.shared)
         |    AS BIGINT) AS jaccard_ppm
         |FROM sh JOIN sz sa ON sh.a_source = sa.source
         |        JOIN sz sb ON sh.b_source = sb.source""".stripMargin
    })),
    QuerySpec("text_ppl_buckets", (s, d) =>
      graft.text.CorpusStats.perplexityBuckets(docs(s, d)),
      Oracle(s"""WITH $TokCte,
         |ex AS (SELECT doc_id, unnest(w) AS tok FROM tw),
         |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS ctf
         |      FROM ex GROUP BY 1),
         |t AS (SELECT CAST(SUM(ctf) AS BIGINT) AS n_total FROM v),
         |a AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        CAST(SUM(length(format('{:b}', t.n_total // v.ctf)))
         |          AS BIGINT) AS total_bits
         |      FROM ex e JOIN v USING (tok) CROSS JOIN t GROUP BY 1),
         |s AS (SELECT d.doc_id, d.lang,
         |        CAST(COALESCE((a.total_bits * 1000000) // a.n_tokens,
         |          0) AS BIGINT) AS bits_per_token_e6
         |      FROM documents d LEFT JOIN a USING (doc_id)),
         |r AS (SELECT doc_id, lang, bits_per_token_e6,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY bits_per_token_e6, doc_id) AS BIGINT) AS rk,
         |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |      FROM s)
         |SELECT doc_id, lang, bits_per_token_e6,
         |  CASE ((rk - 1) * 3) // n WHEN 0 THEN 'head'
         |       WHEN 1 THEN 'middle' ELSE 'tail' END AS ppl_bucket
         |FROM r""".stripMargin)),
    QuerySpec("text_vocab_drift", (s, d) =>
      graft.text.CorpusStats.vocabDrift(docs(s, d)),
      // doc-parity halves, full-outer token join, cross-multiplied
      // exact-integer TV contributions, (contrib desc, tok asc) top-K
      Oracle({
      val k = graft.text.CorpusStats.DriftK
      s"""WITH $TokCte,
         |ex AS (SELECT doc_id, unnest(w) AS tok FROM tw),
         |s0 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c0
         |       FROM ex WHERE doc_id % 2 = 0 GROUP BY 1),
         |s1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
         |       FROM ex WHERE doc_id % 2 = 1 GROUP BY 1),
         |j AS (SELECT COALESCE(s0.tok, s1.tok) AS tok,
         |        COALESCE(c0, 0) AS c0, COALESCE(c1, 0) AS c1
         |      FROM s0 FULL OUTER JOIN s1 ON s0.tok = s1.tok),
         |t AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
         |             CAST(SUM(c1) AS BIGINT) AS n1
         |      FROM j),
         |r AS (SELECT j.tok, j.c0, j.c1,
         |        abs(j.c0 * t.n1 - j.c1 * t.n0) AS contrib
         |      FROM j CROSS JOIN t),
         |rk AS (SELECT tok, c0, c1, CAST(contrib AS BIGINT) AS contrib,
         |         CAST(row_number() OVER (
         |           ORDER BY contrib DESC, tok ASC) AS BIGINT) AS rk
         |       FROM r)
         |SELECT rk, tok, c0, c1, contrib FROM rk WHERE rk <= $k""".stripMargin
    })),
    QuerySpec("text_token_rarity", (s, d) =>
      graft.text.CorpusStats.tokenRarity(Tables(s, d, "documents")),
      Oracle(s"""WITH $TokCte,
         |ex AS (SELECT doc_id, unnest(w) AS tok FROM tw),
         |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS ctf
         |      FROM ex GROUP BY 1),
         |a AS (SELECT e.doc_id, count(*) AS n_tokens,
         |             MIN(v.ctf) AS min_corpus_tf,
         |             CAST(SUM(v.ctf) AS BIGINT) AS sum_tf
         |      FROM ex e JOIN v USING (tok) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(a.n_tokens, 0) AS n_tokens,
         |  COALESCE(a.min_corpus_tf, 0) AS min_corpus_tf,
         |  CAST(COALESCE((a.sum_tf * 1000000) // a.n_tokens, 0) AS BIGINT)
         |    AS mean_corpus_tf_e6
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin)),
    QuerySpec("text_cms_heavy_hitters", (s, d) =>
      graft.text.CorpusStats.cmsHeavyHitters(docs(s, d)),
      // the oracle builds the IDENTICAL count-min sketch (same md5-hex8
      // base, same mixers, same d×w geometry) directly over the global
      // token stream; the Spark side merges per-source partial sketches —
      // the hash-match is the mergeability proof (counter addition)
      Oracle({
      import graft.text.CorpusStats.{CmsDepth, CmsWidth, CmsK}
      val base = s"(${OracleSql.hex8("md5(tok)")} % 2147483647)"
      s"""WITH $TokCte,
         |ex AS (SELECT unnest(w) AS tok FROM tw),
         |cells AS (
         |  SELECT j, ${OracleSql.mix("j", base)} % $CmsWidth AS bucket
         |  FROM ex, range(0, $CmsDepth) t(j)),
         |sk AS (
         |  SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
         |  FROM cells GROUP BY 1, 2),
         |top AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM ex GROUP BY 1 ORDER BY n_exact DESC, tok LIMIT $CmsK),
         |probes AS (
         |  SELECT tok, n_exact, j,
         |    ${OracleSql.mix("j", base)} % $CmsWidth AS bucket
         |  FROM top, range(0, $CmsDepth) t(j)),
         |est AS (
         |  SELECT p.tok AS token, p.n_exact,
         |    CAST(min(s.cnt) AS BIGINT) AS est_cms
         |  FROM probes p JOIN sk s USING (j, bucket)
         |  GROUP BY 1, 2)
         |SELECT token, n_exact, est_cms,
         |  CAST(row_number() OVER (ORDER BY n_exact DESC, token)
         |    AS BIGINT) AS rank
         |FROM est""".stripMargin
    })),
    QuerySpec("text_bpe_pair_counts", (s, d) =>
      graft.text.CorpusStats.bpePairCounts(docs(s, d)),
      // BPE inner loop over the DISTINCT-token frequency table: adjacent
      // pairs as 2-char substrings at ascending positions, weighted by
      // token frequency — identical substring semantics in both engines
      Oracle(s"""WITH $TokCte,
         |wc AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(w) AS token FROM tw) GROUP BY 1),
         |pr AS (
         |  SELECT unnest(list_transform(range(1, length(token)), i ->
         |    substring(token, CAST(i AS INT), 2))) AS pair, n
         |  FROM wc WHERE length(token) >= 2),
         |agg AS (
         |  SELECT pair, CAST(sum(n) AS BIGINT) AS w
         |  FROM pr GROUP BY 1
         |  ORDER BY w DESC, pair LIMIT ${graft.text.CorpusStats.BpeK})
         |SELECT pair, w,
         |  CAST(row_number() OVER (ORDER BY w DESC, pair) AS BIGINT) AS rank
         |FROM agg""".stripMargin)),
    QuerySpec("text_bpe_train", (s, d) => bpeArtifacts(s, d)._1,
      // full BPE rounds unrolled as CTEs (the PageRank prStep pattern):
      // per round — pair counts over the symbol table, top-1 by
      // (w desc, pair), matches with overlap chains resolved by the
      // pos − row_number islands key (odd ranks merge = greedy
      // left-to-right), consumed second symbols dropped, positions
      // reindexed. Identical windowed set logic to bpeTrainMerges.
      Oracle({
      val rounds = graft.text.CorpusStats.BpeRounds
      s"""WITH $TokCte,
         |${bpeCtes(rounds)}
         |${(1 to rounds).map(i =>
             s"SELECT CAST($i AS BIGINT) AS round, pr AS pair, w FROM t$i")
             .mkString("\nUNION ALL\n")}""".stripMargin
    })),
    QuerySpec("text_bpe_fertility", (s, d) =>
      graft.text.CorpusStats.bpeFertilityFrom(docs(s, d),
        bpeArtifacts(s, d)._2),
      // fertility of the trained merges: post-merge symbol counts are a
      // VOCAB-sized aggregate of the round-$BpeRounds symbol table; the
      // per-doc rollup joins (doc, token) occurrences on the token key
      Oracle({
      val rounds = graft.text.CorpusStats.BpeRounds
      s"""WITH $TokCte,
         |${bpeCtes(rounds)},
         |ns AS (SELECT tid, CAST(count(*) AS BIGINT) AS n_syms
         |       FROM s$rounds GROUP BY 1),
         |dt AS (SELECT doc_id, unnest(w) AS tid FROM tw),
         |dc AS (SELECT doc_id, tid, CAST(count(*) AS BIGINT) AS cnt
         |       FROM dt GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(cnt) AS BIGINT) AS n_words,
         |  CAST(sum(cnt * n_syms) AS BIGINT) AS n_bpe_tokens,
         |  (CAST(sum(cnt * n_syms) AS BIGINT) * 1000000)
         |    // CAST(sum(cnt) AS BIGINT) AS fertility_ppm
         |FROM dc JOIN ns USING (tid)
         |GROUP BY 1""".stripMargin
    })),
    QuerySpec("text_vocab_topk", (s, d) =>
      graft.text.CorpusStats.vocabTopK(Tables(s, d, "documents")),
      Oracle(s"""WITH $TokCte,
         |ex AS (SELECT unnest(w) AS token FROM tw),
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS n
         |      FROM ex GROUP BY 1
         |      ORDER BY n DESC, token LIMIT ${graft.text.CorpusStats.VocabK})
         |SELECT token, n,
         |  CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
         |FROM v""".stripMargin)),
    // X202: per-source Zipf rank-frequency slope — integer-bits OLS
    // through the X164 trend; slope near -1e6 = natural-language shape
    QuerySpec("text_zipf_slope", (s, d) =>
      graft.text.CorpusStats.zipfSlope(Tables(s, d, "documents")),
      // the text_surprisal chain + per-lang tercile of bits-per-token
      // same bits device (length(format('{:b}', x)) ≡ Spark length(bin)),
      // same trend-moment spelling as supplier_qty_trend
      Oracle(s"""WITH tws AS (
         |  SELECT source,
         |    CASE WHEN ${normSql("text")} = ''
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(${normSql("text")}, ' ') END AS w
         |  FROM documents),
         |ex AS (SELECT source, unnest(w) AS token FROM tws),
         |c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
         |      FROM ex GROUP BY 1, 2),
         |b AS (SELECT source,
         |        CAST(length(format('{:b}',
         |          row_number() OVER (PARTITION BY source
         |            ORDER BY n DESC, token))) AS BIGINT) AS x0,
         |        CAST(length(format('{:b}', n)) AS BIGINT) AS y
         |      FROM c),
         |cen AS (SELECT source,
         |          x0 - MIN(x0) OVER (PARTITION BY source) AS x, y
         |        FROM b),
         |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(x) AS BIGINT) AS sx,
         |         CAST(SUM(y) AS BIGINT) AS sy,
         |         CAST(SUM(x * y) AS BIGINT) AS sxy,
         |         CAST(SUM(x * x) AS BIGINT) AS sxx
         |       FROM cen GROUP BY 1)
         |SELECT source, n AS n_points,
         |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
         |    ELSE (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
         |      * ((abs(n * sxy - sx * sy) * 1000000)
         |         // (n * sxx - sx * sx)) END AS BIGINT) AS slope_e6,
         |  CAST((CASE WHEN sy < 0 THEN -1 ELSE 1 END)
         |    * (abs(sy) // n) AS BIGINT) AS avg_y
         |FROM st""".stripMargin)),
    // X180: pairwise source-vocabulary overlap — the domain-
    // similarity matrix behind mixture-weight decisions; vocabulary-
    // sized frames, token-keyed intersection join
    QuerySpec("text_source_vocab_overlap", (s, d) =>
      graft.text.CorpusStats.sourceVocabOverlap(
        Tables(s, d, "documents")),
      Oracle(s"""WITH $TokCte,
         |sv AS (SELECT DISTINCT d.source, t.tok AS token
         |       FROM tw
         |       JOIN documents d ON tw.doc_id = d.doc_id,
         |       unnest(tw.w) AS t(tok)),
         |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
         |          FROM sv GROUP BY 1),
         |inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM sv a JOIN sv b
         |    ON a.token = b.token AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common, sa.v AS va, sb.v AS vb,
         |  CAST((n_common * 1000000) // (sa.v + sb.v - n_common)
         |    AS BIGINT) AS jaccard_ppm
         |FROM inter JOIN sizes sa ON src_a = sa.source
         |           JOIN sizes sb ON src_b = sb.source""".stripMargin)),
    // X168: Gini-impurity class balance per corpus slice — the
    // label-quality screen before training; transcendental-free by
    // construction (the CART impurity, not entropy)
    QuerySpec("text_class_balance", (s, d) =>
      graft.text.CorpusStats.classBalance(
        Tables(s, d, "documents"), "source", "lang"),
      Oracle("""WITH cl AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(MAX(c) AS BIGINT) AS majority_n,
        |  CAST(1000000 - (SUM(c * c) * 1000000)
        |    // (SUM(c) * SUM(c)) AS BIGINT) AS impurity_e6
        |FROM cl GROUP BY 1""".stripMargin)),
    // X204: per-source hapax/type-token profile — vocabulary-health
    // screen beside the Zipf slope (templated sources collapse the
    // hapax tail; OCR noise inflates it)
    QuerySpec("text_hapax_rate", (s, d) =>
      graft.text.CorpusStats.hapaxProfile(Tables(s, d, "documents")),
      // same (source, token)-grain counts; ratios as integer ppm via //
      // (values non-negative, so // ≡ div)
      Oracle(s"""WITH tw AS (
         |  SELECT source,
         |         CASE WHEN ${normSql("text")} = ''
         |              THEN CAST([] AS VARCHAR[])
         |              ELSE string_split(${normSql("text")}, ' ') END AS w
         |  FROM documents),
         |ex AS (SELECT source, unnest(w) AS tok FROM tw),
         |tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
         |       FROM ex GROUP BY 1, 2),
         |ag AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |              CAST(count(*) AS BIGINT) AS vocab,
         |              CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
         |                AS BIGINT) AS hapax
         |       FROM tc GROUP BY 1)
         |SELECT source, n_tokens, vocab, hapax,
         |  CAST((hapax * 1000000) // greatest(vocab, 1) AS BIGINT)
         |    AS hapax_frac_e6,
         |  CAST((vocab * 1000000) // greatest(n_tokens, 1) AS BIGINT)
         |    AS ttr_e6
         |FROM ag""".stripMargin)),
    // X205: per-source unigram entropy in integer bits — the
    // transcendental-free information-density screen (the bits form
    // IS the contract, same device as the Zipf/Hill statistics)
    QuerySpec("text_token_entropy", (s, d) =>
      graft.text.CorpusStats.tokenEntropyBits(
        Tables(s, d, "documents")),
      // same bits device (length of the binary form), same telescoped
      // n·bits(n) − Σ c·bits(c) identity
      Oracle(s"""WITH tw AS (
         |  SELECT source,
         |         CASE WHEN ${normSql("text")} = ''
         |              THEN CAST([] AS VARCHAR[])
         |              ELSE string_split(${normSql("text")}, ' ') END AS w
         |  FROM documents),
         |ex AS (SELECT source, unnest(w) AS tok FROM tw),
         |tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
         |       FROM ex GROUP BY 1, 2),
         |ag AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |              CAST(count(*) AS BIGINT) AS vocab,
         |              CAST(SUM(c * length(format('{:b}', c)))
         |                AS BIGINT) AS sum_cb
         |       FROM tc GROUP BY 1)
         |SELECT source, n_tokens, vocab,
         |  CAST(((n_tokens * length(format('{:b}', n_tokens)) - sum_cb)
         |    * 1000000) // greatest(n_tokens, 1) AS BIGINT) AS h_bits_e6,
         |  CAST(length(format('{:b}', greatest(vocab, 1))) * 1000000
         |    AS BIGINT) AS max_bits_e6
         |FROM ag""".stripMargin)),
    // X279: FORCAST readability grade per source — the
    // punctuation-free readability formula (the normal form strips
    // sentence punctuation, so FK's sentence term is degenerate);
    // map-only higher-order-function counts, one keyed aggregate
    QuerySpec("text_readability", (s, d) =>
      graft.text.CorpusStats.readability(docs(s, d)),
      // FORCAST per-doc counts via list lambdas on the SAME normal-form
      // token array; vowel groups on the rejoined normal form (runs
      // cannot span the single-space separators, so the whole-string
      // count equals the per-token sum); integer grade, // ≡ div on the
      // non-negative operands
      Oracle(s"""WITH tw AS (
         |  SELECT source,
         |         CASE WHEN ${normSql("text")} = ''
         |              THEN CAST([] AS VARCHAR[])
         |              ELSE string_split(${normSql("text")}, ' ') END AS w
         |  FROM documents),
         |pd AS (SELECT source, CAST(len(w) AS BIGINT) AS words,
         |  CAST(len(regexp_extract_all(array_to_string(w, ' '),
         |    '[aeiouy]+')) AS BIGINT) AS vg,
         |  CAST(len(list_filter(w, t ->
         |    len(regexp_extract_all(t, '[aeiouy]+')) <= 1))
         |    AS BIGINT) AS mono,
         |  CAST(len(list_filter(w, t ->
         |    len(regexp_extract_all(t, '[aeiouy]+')) = 0))
         |    AS BIGINT) AS zerov
         |  FROM tw),
         |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(SUM(words) AS BIGINT) AS words,
         |              CAST(SUM(vg + zerov) AS BIGINT) AS syllables,
         |              CAST(SUM(mono) AS BIGINT) AS mono
         |       FROM pd GROUP BY 1)
         |SELECT source, n_docs, words, syllables, mono,
         |  CAST(20000000 - (15000000 * mono) // greatest(words, 1)
         |    AS BIGINT) AS forcast_grade_e6,
         |  CAST((1000000 * syllables) // greatest(words, 1)
         |    AS BIGINT) AS spw_e6
         |FROM ag""".stripMargin)),
    // X285: RAKE keyword extraction — top stopword-free phrases per
    // source by summed deg/freq word scores, exact integer micro-units
    QuerySpec("text_rake_keywords", (s, d) =>
      graft.text.CorpusStats.rakeKeywords(docs(s, d)),
      // RAKE: the same stopword → '|' delimiter transform on the
      // normal-form token array, regex phrase split, (source, word)
      // deg/freq stats, phrase rescore by keyed join, top-k window with
      // the (score desc, phrase asc) deterministic tie-break
      Oracle({
      val stop = graft.text.CorpusStats.RakeStopwords
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH tw AS (
         |  SELECT source,
         |         CASE WHEN ${normSql("text")} = ''
         |              THEN CAST([] AS VARCHAR[])
         |              ELSE string_split(${normSql("text")}, ' ') END AS w
         |  FROM documents),
         |ph0 AS (SELECT source,
         |    unnest(list_filter(string_split_regex(
         |      array_to_string(list_transform(w, t ->
         |        CASE WHEN list_contains($stop, t)
         |             THEN '|' ELSE t END), ' '),
         |      '( ?\\| ?)+'), p -> p <> '')) AS phrase
         |  FROM tw),
         |ph AS (SELECT source, phrase,
         |         CAST(len(string_split(phrase, ' ')) AS BIGINT)
         |           AS plen
         |       FROM ph0),
         |ws AS (SELECT source, word,
         |         CAST((CAST(SUM(plen) AS BIGINT) * 1000000)
         |           // count(*) AS BIGINT) AS score_e6
         |       FROM (SELECT source, plen,
         |               unnest(string_split(phrase, ' ')) AS word
         |             FROM ph)
         |       GROUP BY 1, 2),
         |uq AS (SELECT source, phrase,
         |         CAST(count(*) AS BIGINT) AS n_occ
         |       FROM ph GROUP BY 1, 2),
         |sc AS (SELECT u.source, u.phrase,
         |         CAST(MAX(u.n_occ) AS BIGINT) AS n_occ,
         |         CAST(SUM(ws.score_e6) AS BIGINT) AS phrase_score_e6
         |       FROM (SELECT source, phrase, n_occ,
         |               unnest(string_split(phrase, ' ')) AS word
         |             FROM uq) u
         |       JOIN ws ON u.source = ws.source AND u.word = ws.word
         |       GROUP BY 1, 2),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY source
         |         ORDER BY phrase_score_e6 DESC, phrase) AS rk
         |       FROM sc)
         |SELECT source, CAST(rk AS BIGINT) AS rk, phrase, n_occ,
         |  phrase_score_e6
         |FROM rk WHERE rk <= ${graft.text.CorpusStats.RakeTopK}"""
        .stripMargin
    })),
    QuerySpec("text_tfidf_topk", (s, d) =>
      graft.text.CorpusStats.tfIdfTopTerms(Tables(s, d, "documents")),
      // integer tf-idf score: (tf · 1e6 · n_docs) // (df · dl) — exact
      // BIGINT arithmetic in both engines, term-asc tiebreak (see
      // CorpusStats.tfIdfTopTerms)
      Oracle(s"""WITH $TokCte,
         |ex AS (SELECT doc_id, unnest(w) AS term FROM tw),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM ex GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
         |       FROM tf GROUP BY 1),
         |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |      FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term, tf, df,
         |         CAST((tf * 1000000 * n_docs) // (df * dl) AS BIGINT)
         |           AS score_e6
         |       FROM tf JOIN dl USING (doc_id) JOIN d USING (term)
         |       CROSS JOIN n),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score_e6 DESC, term) AS BIGINT) AS rank
         |      FROM sc)
         |SELECT doc_id, term, tf, df, score_e6, rank
         |FROM r WHERE rank <= ${graft.text.CorpusStats.TfIdfK}""".stripMargin)),
    QuerySpec("text_collocations", (s, d) =>
      graft.text.CorpusStats.collocations(Tables(s, d, "documents")),
      // integer-exact PMI lift (see CorpusStats.collocations): one
      // BIGINT expression, monotone in PMI, no cross-engine ln
      Oracle(s"""WITH $TokCte,
         |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
         |        FROM (SELECT unnest(w) AS tok FROM tw) GROUP BY 1),
         |bg AS (SELECT unnest(list_transform(range(1, len(w)),
         |         i -> w[i] || ' ' || w[i + 1])) AS bigram
         |       FROM tw),
         |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab
         |       FROM bg GROUP BY 1
         |       HAVING count(*) >= ${graft.text.CorpusStats.CollocMinCount}),
         |tot AS (SELECT CAST(SUM(len(w)) AS BIGINT) AS n_uni_total,
         |          CAST(SUM(greatest(len(w) - 1, 0)) AS BIGINT)
         |            AS n_bi_total
         |        FROM tw),
         |sc AS (SELECT bigram, n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
         |         CAST((((n_ab * 1000000 * n_uni_total)
         |                // (ua.n_tok * n_bi_total)) * n_uni_total)
         |           // ub.n_tok AS BIGINT) AS lift_e6
         |       FROM bi
         |       JOIN uni ua ON string_split(bigram, ' ')[1] = ua.tok
         |       JOIN uni ub ON string_split(bigram, ' ')[2] = ub.tok
         |       CROSS JOIN tot),
         |r AS (SELECT *, CAST(row_number() OVER (
         |        ORDER BY lift_e6 DESC, bigram) AS BIGINT) AS rank
         |      FROM sc)
         |SELECT bigram, n_ab, n_a, n_b, lift_e6, rank
         |FROM r WHERE rank <= ${graft.text.CorpusStats.CollocK}""".stripMargin)),
    QuerySpec("text_oov_rate", (s, d) =>
      graft.text.CorpusStats.oovRate(Tables(s, d, "documents")),
      // OOV rate vs the same top-k vocab CTE as text_vocab_topk
      Oracle(s"""WITH $TokCte,
         |v AS (SELECT tok FROM (
         |        SELECT tok, count(*) AS n
         |        FROM (SELECT unnest(w) AS tok FROM tw) GROUP BY 1
         |        ORDER BY n DESC, tok
         |        LIMIT ${graft.text.CorpusStats.VocabK})),
         |ex AS (SELECT doc_id, unnest(w) AS tok FROM tw),
         |a AS (SELECT e.doc_id,
         |        CAST(count(*) AS BIGINT) AS n_tokens,
         |        CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_oov
         |      FROM ex e LEFT JOIN v ON e.tok = v.tok GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(a.n_tokens, 0) AS n_tokens,
         |  COALESCE(a.n_oov, 0) AS n_oov,
         |  CAST(COALESCE((a.n_oov * 1000000) // a.n_tokens, 0) AS BIGINT)
         |    AS oov_ppm
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin)),
    QuerySpec("text_dup_ngram_coverage", (s, d) =>
      graft.text.CorpusStats.dupNgramCoverage(Tables(s, d, "documents")),
      // within-doc duplicate n-gram coverage: positions covered by any
      // gram occurring ≥2× in the SAME doc (cross-doc df is
      // dedup_dup_spans' job)
      Oracle({
      val n = graft.text.CorpusStats.DupGramN
      s"""WITH $TokCte,
         |sp AS (SELECT doc_id,
         |         CAST(unnest(range(0, greatest(len(w) - ${n - 1}, 0)))
         |           AS BIGINT) AS pos, w
         |       FROM tw),
         |shp AS (SELECT doc_id, pos,
         |          array_to_string(
         |            w[CAST(pos + 1 AS INT):CAST(pos + $n AS INT)], ' ')
         |            AS g
         |        FROM sp),
         |dup AS (SELECT doc_id, g FROM shp
         |        GROUP BY doc_id, g HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT s.doc_id, s.pos + o.o AS tpos
         |        FROM shp s JOIN dup USING (doc_id, g)
         |        CROSS JOIN (SELECT unnest(range(0, $n)) AS o) o),
         |ca AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(len(t.w) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(ca.n_cov, 0) AS BIGINT) AS n_covered,
         |  CAST(CASE WHEN len(t.w) = 0 THEN 0
         |            ELSE COALESCE((ca.n_cov * 1000000) // len(t.w), 0) END
         |    AS BIGINT) AS dup_coverage_ppm
         |FROM tw t LEFT JOIN ca USING (doc_id)""".stripMargin
    })),
    // incremental vocab: stored counts of the old corpus (doc_id % 4
    // != 0) merged with the new batch's scan — must equal the full
    // recomputation, which is what the oracle computes
    QuerySpec("text_vocab_incremental", (s, d) => {
      val dd = Tables(s, d, "documents")
      graft.text.CorpusStats.vocabMergeIncremental(
        graft.text.CorpusStats.tokenCountsOf(
          dd.filter(col("doc_id") % 4 =!= 0)),
        dd.filter(col("doc_id") % 4 === 0))
    },
      // the merge of stored counts + batch scan must EQUAL the full
      // recomputation — the oracle is exactly the text_vocab_topk SQL
      Oracle(s"""WITH $TokCte,
         |ex AS (SELECT unnest(w) AS token FROM tw),
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS n
         |      FROM ex GROUP BY 1
         |      ORDER BY n DESC, token LIMIT ${graft.text.CorpusStats.VocabK})
         |SELECT token, n,
         |  CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
         |FROM v""".stripMargin)))
}
