package graft.text

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis.{normalize, wordShinglesOf}

/** Corpus-statistics operators for training-data curation: repetition
  * signals (the Gopher-rules repetition filters), corpus token-rarity
  * scoring (a shuffle-only proxy for unigram-LM perplexity filtering),
  * and top-k vocabulary extraction (tokenizer-vocab seeding).
  *
  * Scale shape: everything is explode → partial-aggregated groupBy —
  * map work plus hash shuffles on (doc, token) / token keys; nothing
  * is quadratic and no corpus-sized state is ever collected or
  * broadcast. All ratio outputs are INTEGER parts-per-million
  * (`x * 1e6 div n`): exact rationals as scaled integers, never
  * `round(double, k)` — the cross-engine decimal-tie class this repo's
  * verify notes document.
  */
object CorpusStats {

  /** Normalized whitespace tokens; empty array (not `[""]`) for
    * empty/symbol-only text so zh-like docs aggregate to zero counts
    * instead of one empty-string token. */
  def tokenArray(text: Column): Column = {
    val n = normalize(text)
    when(length(n) === 0, array().cast("array<string>"))
      .otherwise(split(n, " "))
  }

  /** Per-document repetition signals (Gopher-style): duplicate-token
    * fraction, most-frequent-token fraction, and most-frequent-bigram
    * fraction, each in integer ppm. High values flag boilerplate and
    * degenerate repetition — the standard pre-training drop rules.
    *
    * Two explode→two-level-aggregate legs (unigram, bigram) over one
    * persisted tokenization (the persist is the reliable barrier that
    * stops PushDownPredicates re-inlining `split(normalize)` into both
    * legs), joined back to the full doc list so token-less documents
    * report zeros rather than vanish. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // cache ONLY the token array (no upstream repartition: shipping the
    // raw corpus through an exchange buys nothing — the downstream
    // groupBys partial-aggregate map-side and shuffle their own keys);
    // bigrams derive linearly from the cached attribute
    // (wordShinglesOf) on the one leg that needs them
    val t = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), tokenArray(col("text")).as("w")))
    val uni = t.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).cast("long").as("top_tok"))
    val bi = t.select(col("doc_id"),
        explode(wordShinglesOf(col("w"), 2)).as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_bigrams"),
        max(col("c")).cast("long").as("top_bigram"))
    docs.select(col("doc_id"))
      .join(uni, Seq("doc_id"), "left")
      .join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(
          expr("((n_tokens - n_distinct) * 1000000) div n_tokens"),
          lit(0L)).as("dup_token_frac_e6"),
        coalesce(expr("(top_tok * 1000000) div n_tokens"), lit(0L))
          .as("top_token_frac_e6"),
        coalesce(expr("(top_bigram * 1000000) div n_bigrams"), lit(0L))
          .as("top_bigram_frac_e6"))
  }

  /** Per-document corpus-rarity score: the document's tokens joined to
    * the corpus unigram frequency table, rolled up to the min and mean
    * corpus term frequency. A cheap, fully-distributed proxy for the
    * unigram-LM perplexity filter (docs of vanishingly rare tokens ≈
    * high perplexity ≈ noise; docs of only ultra-common tokens ≈ low
    * information) — without a model artifact: the "LM" is the corpus
    * itself, one groupBy away.
    *
    * Shape: one shuffle builds the vocab, one hash join streams the
    * exploded tokens past it (both sides partitioned by token — the
    * vocab is corpus-sized, never broadcast), one per-doc rollup. */
  def tokenRarity(docs: DataFrame): DataFrame = {
    val ex = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), explode(tokenArray(col("text"))).as("tok")))
    val vocab = ex.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("ctf"))
    val agg = ex.join(vocab, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("ctf")).as("min_corpus_tf"),
        sum(col("ctf")).cast("long").as("sum_tf"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("min_corpus_tf"), lit(0L)).as("min_corpus_tf"),
        coalesce(expr("(sum_tf * 1000000) div n_tokens"), lit(0L))
          .as("mean_corpus_tf_e6"))
  }

  /** Integer bits-per-token perplexity proxy (the CCNet/Wenzek-style
    * LM quality filter, arXiv:1911.00359, made oracle-exact): the
    * surprisal of a token under the corpus unigram LM is
    * −log2(ctf/N) ∈ [bits−1, bits] where bits =
    * `bit_length(N div ctf)` — an INTEGER both engines compute
    * identically (`length(bin(x))` here, `length(format('{:b}', x))`
    * in DuckDB — the X95 sketch's bucket function), so the per-doc sum
    * never hits float accumulation-order drift. High bits/token =
    * rare-token soup (OCR noise, gibberish, wrong-language residue);
    * low = boilerplate stitched from the head of the vocabulary — the
    * two tails the CCNet perplexity buckets cut. Within ±1 bit per
    * token of the real unigram cross-entropy, which is all the filter
    * thresholds need.
    *
    * Shape: [[tokenRarity]]'s exact topology — one shuffle builds the
    * vocab, one token-keyed hash join streams the exploded tokens past
    * it (vocab is corpus-vocabulary-sized, never broadcast), one
    * per-doc rollup; the global total N is a 1-row aggregate joined by
    * broadcast. */
  def surprisalScores(docs: DataFrame): DataFrame = {
    val ex = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), explode(tokenArray(col("text"))).as("tok")))
    val vocab = graft.core.SessionCache.transient(
      ex.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("ctf")))
    val total = vocab.agg(sum(col("ctf")).cast("long").as("n_total"))
    val agg = ex.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        length(bin(expr("n_total div ctf"))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("bits")).cast("long").as("total_bits"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        coalesce(expr("(total_bits * 1000000) div n_tokens"), lit(0L))
          .as("bits_per_token_e6"))
  }

  /** Integer bits-per-bigram CONDITIONAL perplexity proxy (X219) —
    * the second-order CCNet-style quality filter [[surprisalScores]]
    * can't be: a unigram LM scores scrambled word order identically
    * to fluent text, while the conditional surprisal of w₂ given w₁,
    * −log2(c(w₁w₂)/c_head(w₁)), spikes on unseen-order token soup.
    * Same floor-bits device as the unigram filter: `bits =
    * bit_length(c_head div c_ab)` ∈ [surprisal, surprisal+1) — an
    * integer both engines compute identically, so the per-doc sum
    * never hits float accumulation-order drift. c_head(w₁) is w₁'s
    * count as a bigram HEAD (non-final positions), so probabilities
    * condition on exactly the events being scored and Σp(·|w₁) = 1.
    *
    * Shape: bigram instances explode once (linear in tokens); counts
    * aggregate at bigram-TYPE grain; the head rollup derives from the
    * type frame (vocabulary-sized, not instance-sized); bits attach
    * at type grain and ONE bigram-keyed equi-join streams instances
    * past them — no broadcast of anything vocabulary-sized. */
  def bigramSurprisalScores(docs: DataFrame): DataFrame = {
    val t = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), tokenArray(col("text")).as("w")))
    val exb = graft.core.SessionCache.transient(
      t.select(col("doc_id"),
        explode(wordShinglesOf(col("w"), 2)).as("bigram")))
    val bi = graft.core.SessionCache.transient(
      exb.groupBy(col("bigram"))
        .agg(count(lit(1)).cast("long").as("n_ab")))
    val heads = bi
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .groupBy(col("a")).agg(sum(col("n_ab")).cast("long").as("n_a"))
    val types = bi
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .join(heads, Seq("a"))
      .select(col("bigram"),
        length(bin(expr("n_a div n_ab"))).cast("long").as("bits"))
    val agg = exb.join(types, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(col("bits")).cast("long").as("total_bits"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        coalesce(expr("(total_bits * 1000000) div n_bigrams"), lit(0L))
          .as("bits_per_bigram_e6"))
  }

  /** Absolute discount for the Kneser-Ney bigram LM, as an integer
    * ppm constant (the canonical D = 0.75 of Chen & Goodman 1998) —
    * ppm so every probability stays an exact count ratio. */
  val KnDiscountPpm = 750000L

  /** Integer bits-per-bigram KNESER-NEY surprisal (X308, VERDICT r14
    * #5) — the SMOOTHED n-gram LM the CCNet filter actually runs
    * (Wenzek et al., arXiv:1911.00359 score with a KenLM 5-gram;
    * Kneser-Ney is its smoothing family), where [[surprisalScores]]
    * is the unigram proxy and [[bigramSurprisalScores]] the raw
    * maximum-likelihood bigram: ML assigns a count-1 bigram the full
    * 1/c(w₁) and an echo of the head's frequency, while interpolated
    * KN discounts every observed count by D and hands the freed mass
    * to the CONTINUATION unigram (how many distinct contexts a word
    * follows — the "San Francisco" device: frequent but
    * single-context words stop looking probable everywhere).
    *
    * Exact count arithmetic end to end — with D = [[KnDiscountPpm]]
    * ppm, the interpolated probability
    * `p(b|a) = max(c_ab−D,0)/c_a + (D·t_a/c_a)·(t_b/T)`
    * over one common denominator is the integer rational
    * `num = max(c_ab·10⁶ − D, 0)·T + D·t_a·t_b`,
    * `den = c_a·10⁶·T`
    * (c_ab/c_a the bigram/head counts, t_a = distinct types with head
    * a, t_b = distinct types with TAIL b — the continuation count, T
    * = total bigram types; num ≥ D·1·1 > 0 for every observed
    * bigram, so the division is total). The X110 floor-bits device
    * then gives `bits = bit_length(den div num)` ∈
    * [surprisal, surprisal+1) — an integer both engines compute
    * identically, immune to float log noise. The house double-space
    * witness bounds both products before they are formed.
    *
    * Shape: [[bigramSurprisalScores]]' exact topology plus one
    * vocabulary-grain tail rollup and a 1-row type-count broadcast —
    * instances explode once, everything else aggregates and joins at
    * bigram-TYPE or vocabulary grain on their own keys; nothing
    * vocabulary-sized is ever broadcast. */
  def knSurprisalScores(docs: DataFrame,
      dPpm: Long = KnDiscountPpm): DataFrame = {
    val t = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), tokenArray(col("text")).as("w")))
    val exb = graft.core.SessionCache.transient(
      t.select(col("doc_id"),
        explode(wordShinglesOf(col("w"), 2)).as("bigram")))
    val bi = graft.core.SessionCache.transient(
      exb.groupBy(col("bigram"))
        .agg(count(lit(1)).cast("long").as("n_ab"))
        .withColumn("a", split(col("bigram"), " ").getItem(0))
        .withColumn("b", split(col("bigram"), " ").getItem(1)))
    val heads = bi.groupBy(col("a"))
      .agg(sum(col("n_ab")).cast("long").as("n_a"),
        count(lit(1)).cast("long").as("t_a"))
    val tails = bi.groupBy(col("b"))
      .agg(count(lit(1)).cast("long").as("t_b"))
    val tot = bi.agg(count(lit(1)).cast("long").as("tt"))
    val types = bi.join(heads, Seq("a")).join(tails, Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("bigram"),
        // double-space pre-overflow witness (the r13 #2 device):
        // products bound in IEEE doubles, which cannot wrap, BEFORE
        // the Long products are formed — num's two addends each ≤
        // 4.5e18 keeps their sum ≤ 9e18
        expr("coalesce(cast(assert_true(" +
          s"cast(n_ab as double) * 1.0e6 * cast(tt as double) <= " +
          s"4.5e18 and " +
          s"$dPpm * cast(t_a as double) * cast(t_b as double) <= " +
          s"4.5e18 and " +
          s"cast(n_a as double) * 1.0e6 * cast(tt as double) <= " +
          s"9.0e18, " +
          "'kn surprisal exceeds the Long-exact range (c_ab*1e6*T, " +
          "D*t_a*t_b or c_a*1e6*T > 2^63-1): move to decimal(38)')" +
          " as bigint), 0)" +
          s" + cast(length(bin((n_a * 1000000 * tt) div " +
          s"(greatest(n_ab * 1000000 - $dPpm, 0) * tt + " +
          s"$dPpm * t_a * t_b))) as long)").as("bits"))
    val agg = exb.join(types, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(col("bits")).cast("long").as("total_bits"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        coalesce(expr("(total_bits * 1000000) div n_bigrams"), lit(0L))
          .as("bits_per_bigram_e6"))
  }

  /** X312: Good-Turing frequency-of-frequencies profile per language
    * — the UNSEEN-MASS estimate that prices a corpus's lexical
    * coverage (Good 1953; the estimator behind Katz backoff and the
    * [[KnDiscountPpm]] discount family): the Turing estimate of the
    * probability mass on never-seen words is N₁/N (hapax share of
    * tokens), and the discounted count for once-seen words is
    * c*₁ = 2·N₂/N₁ — both pure count ratios, emitted as exact
    * integer ppm/e6 (floor-div on non-negative integers, div ≡ //).
    * A language whose unseen mass stays high as the corpus grows is
    * under-collected; one whose hapaxes are OCR shrapnel shows it
    * here first (N₁ inflated, c*₁ collapsed). Reads beside the X213
    * Heaps-law growth curve and the X221 hapax rate, which profile
    * TYPES — this one prices the missing PROBABILITY.
    *
    * Shape: one (lang, term) aggregate, one language-grain rollup —
    * the [[termBurstiness]] topology; the frequency-of-frequencies
    * dimension is folded into conditional sums, so nothing beyond
    * the vocabulary frame ever materializes. */
  def goodTuringProfile(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokenArray(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_types"),
        sum(col("c")).cast("long").as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_hapax"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).cast("long")
          .as("n_dis"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("n_hapax"), col("n_dis"),
        // ppm/e6 scale witnesses (counts are trustworthy: plain
        // row-count sums of a keyed aggregate)
        expr("coalesce(cast(assert_true(" +
          "n_hapax <= 9223372036854775807 div 1000000 and " +
          "n_dis <= 9223372036854775807 div 2000000," +
          " 'good-turing counts exceed the Long-exact range: move " +
          "to decimal(38)') as bigint), 0)" +
          " + ((n_hapax * 1000000) div n_tokens)")
          .as("unseen_mass_ppm"),
        expr("case when n_hapax = 0 then 0 else " +
          "(2 * n_dis * 1000000) div n_hapax end").cast("long")
          .as("c1_star_e6"))

  /** Terms below this document frequency are noise for the
    * burstiness read. */
  val BurstMinDf = 2L

  /** Term burstiness profile (X247, Church & Gale 1995) — the
    * topical-vs-function-word separator TF-IDF's df alone can't see:
    * a term whose corpus tf is MUCH larger than its df is BURSTY
    * (when it appears, it appears many times — a topic word, a
    * template artifact, spam anchor text), while tf ≈ df is evenly
    * sprinkled (function words, boilerplate glue). Per term with
    * df ≥ [[BurstMinDf]]: tf, df, and the mean within-document burst
    * `tf·10⁶ div df` (≥ 10⁶ by construction; sorted consumers read
    * the topical tail straight off it).
    *
    * Scale: one (doc, term) aggregate (tf per doc), then one term
    * aggregate summing tf and counting rows (the rows ARE distinct
    * docs, so df is a count, never a count-distinct) — the TF-IDF
    * topology without the per-doc window. */
  def termBurstiness(docs: DataFrame, minDf: Long = BurstMinDf): DataFrame =
    docs.select(col("doc_id"), explode(tokenArray(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf_doc"))
      .groupBy(col("term"))
      .agg(sum(col("tf_doc")).cast("long").as("tf"),
        count(lit(1)).cast("long").as("df"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("tf"), col("df"),
        expr("(tf * 1000000) div df").cast("long").as("burst_ppm"))

  val TfIdfK = 3

  /** Top-k TF-IDF terms per document — the per-doc keyword extractor
    * (topic tagging, index pruning, boilerplate spotting). The score
    * is kept in exact integers so both engines rank identically:
    * `score_e6 = (tf · 10⁶ · n_docs) div (df · dl)` — tf/dl is the
    * length-normalized term frequency and n_docs/df the inverse
    * document frequency, composed as one integer expression instead of
    * a float `ln` (whose last-bit noise reorders near-ties
    * cross-engine). Ties break on term asc, so the top-k boundary is
    * total-ordered.
    *
    * Shape: tf is one (doc, term) groupBy; df and dl attach as WINDOW
    * aggregates over the tf frame itself (df = count over the term
    * partition — tf rows are already distinct doc×term; dl = sum of tf
    * over the doc partition), so the doc-partition exchange is SHARED
    * with the final top-k rank window (guide §2.4: a window keyed like
    * a neighboring operation reuses its exchange) — three keyed
    * exchanges of the (doc, term) frame total (group, term-window,
    * doc-window) and no joins or per-query persist, where the
    * join-based spelling paid two rollup aggregates plus two joins and
    * re-read the cached tf three times (r16: 2.13 → measured below).
    * The scalar doc count broadcasts. Linear at any corpus size. */
  def tfIdfTopTerms(docs: DataFrame, k: Int = TfIdfK): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokenArray(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    tf
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("term"))).cast("long"))
      .withColumn("dl", sum(col("tf")).over(
        Window.partitionBy(col("doc_id"))).cast("long"))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"),
        col("tf").cast("long").as("tf"), col("df"),
        expr("(tf * 1000000 * n_docs) div (df * dl)").as("score_e6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_e6").desc, col("term").asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  val CollocK = 20
  val CollocMinCount = 5

  /** Top-k collocations by integer-exact PMI lift — the
    * phrase-mining primitive (tokenizer merge candidates, named-entity
    * seeds, stock-phrase/boilerplate spotting). Lift compares the
    * observed adjacent-bigram rate to the independence baseline:
    * `lift_e6 ≈ (n_ab · N_uni² · 10⁶) / (N_bi · n_a · n_b)`, computed
    * as the TWO-STEP integer division
    * `((n_ab·10⁶·N_uni) div (n_a·N_bi)) · N_uni div n_b`. Long-exact
    * range (Long max ≈ 9.2·10¹⁸): step one needs
    * `n_ab·N_uni ≤ 9.2·10¹²` and `n_a·N_bi ≤ 9.2·10¹⁸`; step two needs
    * `q₁·N_uni ≤ 9.2·10¹⁸` — comfortably a ~10⁹-token corpus shard
    * (pair counts to ~9·10³ there), which is how phrase mining runs:
    * per-shard candidates, then a count-merge. A single global pass
    * over a 10¹⁰+-token corpus (where a stock bigram alone can hit
    * n_ab·N_uni ≈ 10¹⁸) must move the arithmetic to decimal(38) — the
    * identical floor-division sequence in wider lanes, in both engines.
    * These bounds are runtime-ASSERTED per row by [[guardedLiftE6]]:
    * out-of-range counts fail the job with remediation advice rather
    * than silently wrapping.
    * Both engines evaluate the same two floor divisions, and the
    * statistic is monotone in PMI up to the ≤1-ulp floor loss of step
    * one. A minimum pair count keeps the rare-pair degeneracy of PMI
    * out of the top-k; ties break on bigram asc.
    *
    * Shape: unigram and bigram counts are two explode→groupBy legs over
    * one persisted tokenization; the two scalar totals broadcast; the
    * bigram frame joins the unigram vocab twice ON THE TOKEN KEY
    * (vocab is corpus-sized, never broadcast); top-k via
    * TakeOrdered — linear at any corpus size. */
  def collocations(docs: DataFrame, k: Int = CollocK,
      minCount: Int = CollocMinCount): DataFrame = {
    // cache ONLY the token array (no upstream repartition — see
    // repetitionSignals); bigrams derive linearly from the cached
    // attribute (wordShinglesOf) on the one leg that needs them
    val t = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), tokenArray(col("text")).as("w")))
    val uni = t.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("n_tok"))
    val bi = t.select(explode(wordShinglesOf(col("w"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).cast("long").as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val totals = t.select(
        size(col("w")).cast("long").as("nw"),
        greatest(size(col("w")).cast("long") - 1L, lit(0L)).as("nb"))
      .agg(sum(col("nw")).cast("long").as("n_uni_total"),
        sum(col("nb")).cast("long").as("n_bi_total"))
    val scored = bi
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .withColumn("b", split(col("bigram"), " ").getItem(1))
      .join(uni.withColumnsRenamed(Map("tok" -> "a", "n_tok" -> "n_a")),
        Seq("a"))
      .join(uni.withColumnsRenamed(Map("tok" -> "b", "n_tok" -> "n_b")),
        Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        guardedLiftE6.as("lift_e6"))
    scored.orderBy(col("lift_e6").desc, col("bigram").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("lift_e6").desc, col("bigram").asc))
        .cast("long"))
  }

  /** The collocation lift with its Long-exact preconditions ENFORCED,
    * not just documented (VERDICT r6 #7): past the safe range the raw
    * expression would silently wrap and corrupt the ranking, so each
    * step asserts its bound and fails loudly with remediation advice
    * instead. Inputs: columns `n_ab, n_a, n_b, n_uni_total,
    * n_bi_total`. The guards are the algebraic rearrangements of the
    * three products against Long.MaxValue using conservative floor
    * division (a boundary-exact case may be rejected — acceptable for
    * a corruption guard; the remediation is identical). `assert_true`
    * returns NULL when the condition holds, so `coalesce(assert, lift)`
    * evaluates the guard per row and yields the untouched lift value —
    * the oracle SQL needs no counterpart. */
  private[graft] def guardedLiftE6: Column = expr(
    "coalesce(cast(assert_true(" +
      "n_ab <= (9223372036854775807 div 1000000) div n_uni_total" +
      " and n_a <= 9223372036854775807 div n_bi_total" +
      " and ((n_ab * 1000000 * n_uni_total) div (n_a * n_bi_total))" +
      "   <= 9223372036854775807 div n_uni_total," +
      " 'collocation lift exceeds the Long-exact range " +
      "(n_ab*1e6*N_uni, n_a*N_bi, or q1*N_uni > 2^63-1): " +
      "shard the corpus and count-merge, or move the arithmetic to " +
      "decimal(38)') as bigint)," +
      " (((n_ab * 1000000 * n_uni_total) div (n_a * n_bi_total))" +
      " * n_uni_total) div n_b)")

  val DupGramN = 3

  /** Within-document duplicate n-gram COVERAGE (the strongest of the
    * Gopher repetition rules, Rae et al. 2021 table A1): the ppm of a
    * document's token positions that sit inside an n-gram occurring at
    * least twice IN THAT DOCUMENT. [[repetitionSignals]]' top-gram
    * fraction sees only the single most repeated gram; coverage sees a
    * document stitched from MANY distinct repeated phrases (template
    * spam, keyword stuffing), which is the common failure mode.
    * Distinct from [[graft.dedup.Dedup.dupSpanRemoval]], whose df is
    * CROSS-document.
    *
    * Shape: positions explode once (persisted), duplicate grams are a
    * (doc, gram)-keyed count, coverage is the gram self-join back plus
    * a bounded ×n position explode and per-doc distinct-count — every
    * shuffle on (doc, gram) or doc keys, linear at any corpus size. */
  def dupNgramCoverage(docs: DataFrame, n: Int = DupGramN): DataFrame = {
    val t = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), tokenArray(col("text")).as("w")))
    val grams = graft.core.SessionCache.transient(
      t.select(col("doc_id"), posexplode(wordShinglesOf(col("w"), n)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("g")))
    val dup = grams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("g"))
    val cov = grams.join(dup, Seq("doc_id", "g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_covered"))
    t.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(expr("(n_covered * 1000000) div n_tokens"), lit(0L))
          .as("dup_coverage_ppm"))
  }

  /** Per-document out-of-vocabulary rate against the top-k corpus
    * vocabulary ([[vocabTopK]]) in integer ppm — the tokenizer-coverage
    * QC: a doc whose tokens mostly miss the vocabulary is noise,
    * another script, or a domain the tokenizer was never trained for.
    * The vocab is k rows by construction → broadcast; the fact side
    * streams map-only past it (one left join + per-doc rollup);
    * token-less docs report zeros rather than vanish. */
  def oovRate(docs: DataFrame, k: Int = VocabK): DataFrame = {
    val vocab = vocabTopK(docs, k).select(col("token").as("tok"),
      lit(1L).as("in_vocab"))
    val perDoc = docs
      .select(col("doc_id"), explode(tokenArray(col("text"))).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_oov"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(expr("(n_oov * 1000000) div n_tokens"), lit(0L))
          .as("oov_ppm"))
  }

  val VocabK = 100

  /** Top-k corpus vocabulary by token frequency with a deterministic
    * total order (count desc, token asc — the token tiebreak makes the
    * k-boundary exact). The orderBy+limit plans as TakeOrdered (per-
    * partition top-k, then a k-sized merge on the driver) — no global
    * sort ever materializes; the final rank window runs on k rows. */
  def vocabTopK(docs: DataFrame, k: Int = VocabK): DataFrame = {
    val top = docs
      .select(explode(tokenArray(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("token").asc))
        .cast("long"))
  }

  /** Zipf rank-frequency slope per source (X202) — the corpus-health
    * diagnostic behind "does this source look like natural language":
    * natural text follows Zipf's law (frequency ∝ 1/rank, log-log
    * slope ≈ −1); templated/boilerplate-heavy or synthetic sources
    * bend the curve, and the fitted slope is the one-number screen.
    * Fit is OLS over INTEGER BITS (`length(bin(x))` = ⌊log2⌋+1 — the
    * X110 integer-log device) of rank and count, through the X164
    * sufficient-stats trend ([[graft.analytics.Analytics.trendByKey]]
    * — same spelling, same overflow guard, same sign-split), so the
    * whole fit is exact-integer and engine-replayable: a bits-vs-bits
    * slope near −10⁶ (e6 units) is the Zipf-consistent signature.
    *
    * Scale shape: one token-grain aggregate, one per-source rank
    * window over the VOCABULARY frame (not the corpus), then
    * per-source moments — bits values are ≤ 64 so every moment sum is
    * linear in vocabulary with tiny constants. */
  def zipfSlope(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), explode(tokenArray(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).cast("long").as("n"))
    val bits = counts.withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(desc("n"), asc("token"))).cast("long"))
      .select(col("source"),
        length(bin(col("rank"))).cast("long").as("xb"),
        length(bin(col("n"))).cast("long").as("yb"))
    graft.analytics.Analytics.trendByKey(bits, "source", "xb", "yb")
  }

  /** Count-min sketch geometry: depth (independent hash rows) and
    * width (buckets per row). Error bound: est − true ≤ 2N/w with
    * probability 1 − (1/2)^d over the hash draw; at w = 8192 a
    * 10¹⁰-token corpus overestimates by ≲ 2.4 M — the right trade for
    * a heavy-hitter screen whose candidates are exact-verified anyway. */
  val CmsDepth = 4
  val CmsWidth = 8192
  val CmsK = 20

  /** Count-min sketch heavy hitters — the third mergeable sketch next
    * to the HLL rollup and the log-bucket quantile sketch: token
    * frequency estimation in FIXED memory (d·w counters) regardless of
    * vocabulary size. Emits the exact top-k tokens with both their
    * exact count and the CMS estimate, so the sketch's one-sided error
    * (est ≥ exact always) is verifiable row by row — and because every
    * hash is a deterministic md5-derived mix, the DuckDB oracle
    * computes the IDENTICAL sketch and the hash-match proves both the
    * construction and its mergeability (counter addition is the merge;
    * the per-source partial sketches here sum to the global sketch by
    * associativity).
    *
    * Scale shape: the sketch aggregate shuffles on the (row, bucket)
    * key — a domain of d·w = 32k cells with map-side partial
    * aggregation, so the exchange is sketch-sized, not corpus-sized,
    * no matter how many tokens flow in. The candidate set (exact
    * top-k via TakeOrdered) joins the sketch with the k·d probe rows
    * broadcast. Hash row j uses the [[graft.dedup.Dedup]] MinHash
    * mixers over the md5-hex8 base so row hashes are pairwise
    * independent enough and cross-engine reproducible. */
  def cmsHeavyHitters(docs: DataFrame, depth: Int = CmsDepth,
      width: Int = CmsWidth, k: Int = CmsK): DataFrame = {
    val P = 2147483647L
    def hj(base: Column, j: Int): Column = {
      val aj = (2654435761L * (j + 1)) % P
      val bj = (40503L * (j + 7)) % P
      (base * aj + bj) % P % width
    }
    val toks = graft.core.SessionCache.transient(
      docs.select(col("source"), explode(tokenArray(col("text"))).as("tok"))
        .withColumn("base",
          conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % P))
    // per-source partial sketches, then the associative counter merge —
    // the same two-level shape a 1000-executor run or a day-over-day
    // incremental maintenance job would use
    val partial = toks
      .select(col("source"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), hj(col("base"), j).as("bucket"))): _*))
        .as("cell"))
      .groupBy(col("source"), col("cell.j").as("j"),
        col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
    val sketch = partial.groupBy(col("j"), col("bucket"))
      .agg(sum(col("c")).cast("long").as("cnt"))
    val top = toks.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok").asc).limit(k)
    val probes = top
      .withColumn("base",
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % P)
      .select(col("tok"), col("n_exact"), col("base"),
        explode(array((0 until depth).map(j =>
          struct(lit(j).as("j"), hj(col("base"), j).as("bucket"))): _*))
        .as("cell"))
      .select(col("tok"), col("n_exact"),
        col("cell.j").as("j"), col("cell.bucket").as("bucket"))
    sketch.join(broadcast(probes), Seq("j", "bucket"))
      .groupBy(col("tok"), col("n_exact"))
      .agg(min(col("cnt")).cast("long").as("est_cms"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_exact").desc, col("tok").asc)).cast("long"))
      .select(col("tok").as("token"), col("n_exact"), col("est_cms"),
        col("rank"))
  }

  val BpeK = 30

  /** BPE merge-candidate counting — the inner loop of byte-pair-
    * encoding tokenizer training, run the way BPE actually trains at
    * scale: over the AGGREGATED word-frequency table (vocabulary-sized,
    * built by one corpus pass), never by rescanning the corpus per
    * merge round. Each distinct token contributes its adjacent
    * character pairs weighted by the token's corpus frequency; the
    * top-k pairs are the next merge candidates. (The merge-apply-
    * recount loop is driver orchestration over this operator — each
    * round is vocab-sized work.)
    *
    * Pairs are spelled as 2-char substrings at ascending positions —
    * `substring(tok, i, 2)` in both engines — so no split/join
    * round-trip can disagree on boundaries. One explode of the vocab
    * (Σ token lengths over DISTINCT tokens, not the corpus), one
    * pair-keyed aggregate, TakeOrdered top-k. */
  def bpePairCounts(docs: DataFrame, k: Int = BpeK): DataFrame = {
    val words = tokenCountsOf(docs)
    val top = words
      .filter(length(col("token")) >= 2)
      .select(col("n"),
        explode(transform(sequence(lit(1), length(col("token")) - 1),
          i => col("token").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("n")).cast("long").as("w"))
      .orderBy(col("w").desc, col("pair").asc).limit(k)
    top.withColumn("rank", row_number().over(
      Window.orderBy(col("w").desc, col("pair").asc)).cast("long"))
  }

  val BpeRounds = 6

  /** Full BPE training rounds — [[bpePairCounts]] iterated with the
    * merges APPLIED: each round counts frequency-weighted adjacent
    * symbol pairs over the vocabulary symbol table, merges the top pair
    * everywhere, and recounts. Emits the merge table (round, pair,
    * weight) — the artifact a tokenizer trainer persists.
    *
    * Merge semantics are BPE's standard greedy left-to-right pass.
    * Naive string `replace` cannot express it (a merged occurrence
    * consumes the boundary the next match needs — the classic
    * `a a a a` chain bug), so the merge is RELATIONAL: matches are
    * rows of a (token, pos) table, overlap chains (only possible when
    * the pair is a doubled symbol) group by the `pos − row_number`
    * islands key, and within each chain the odd-ranked matches merge —
    * exactly the left-to-right greedy outcome, in pure windowed set
    * logic both engines evaluate identically (the DuckDB oracle
    * unrolls the same rounds as CTEs, PageRank-style).
    *
    * Scale shape: every round is VOCABULARY-sized work — windows and
    * joins partition on the token key over the distinct-token symbol
    * table; the corpus is scanned once (the initial count). The
    * per-round top-pair collect is one row (the PageRank convergence-
    * scalar discipline), and `localCheckpoint` truncates the growing
    * round lineage. */
  def bpeTrainMerges(docs: DataFrame, rounds: Int = BpeRounds): DataFrame =
    bpeTrain(docs, rounds)._1

  /** [[bpeTrainMerges]] plus the post-merge vocabulary symbol table
    * `(tid, n, pos, sym)` — the trained-tokenizer artifact
    * [[bpeFertility]] measures against. */
  private[graft] def bpeTrain(docs: DataFrame,
      rounds: Int = BpeRounds): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val byTok = Window.partitionBy(col("tid")).orderBy(col("pos"))
    var syms = tokenCountsOf(docs)
      .select(col("token").as("tid"), col("n"),
        posexplode(split(col("token"), "")))
      .select(col("tid"), col("n"), col("pos").cast("long").as("pos"),
        col("col").as("sym"))
      .trackedCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    var r = 1
    while (r <= rounds) {
      val pairs = syms
        .withColumn("nxt", lead(col("sym"), 1).over(byTok))
        .filter(col("nxt").isNotNull)
        .select(col("tid"), col("n"), col("pos"),
          concat(col("sym"), lit(" "), col("nxt")).as("pr"))
      val top = pairs.groupBy(col("pr"))
        .agg(sum(col("n")).cast("long").as("w"))
        .orderBy(col("w").desc, col("pr").asc).limit(1)
        .collect()
      if (top.isEmpty) { r = rounds + 1 }
      else {
        val pr = top.head.getString(0)
        merges += ((r.toLong, pr, top.head.getLong(1)))
        val merged = pr.replace(" ", "")
        // overlap chains via the islands key; odd ranks merge (the
        // greedy left-to-right set). For a non-doubled pair every
        // chain has length 1 and all matches merge.
        val m = pairs.filter(col("pr") === pr)
          .withColumn("rn", row_number().over(byTok).cast("long"))
          .withColumn("rn2", row_number().over(
            Window.partitionBy(col("tid"), col("pos") - col("rn"))
              .orderBy(col("pos"))).cast("long"))
          .filter(col("rn2") % 2 === 1)
          .select(col("tid"), col("pos"), lit(1).as("hit"))
        syms = syms
          .join(m.select(col("tid"), col("pos"), col("hit").as("m0")),
            Seq("tid", "pos"), "left")
          .join(m.select(col("tid"), (col("pos") + 1).as("pos"),
            col("hit").as("m1")), Seq("tid", "pos"), "left")
          .filter(col("m1").isNull) // drop the consumed second symbol
          .select(col("tid"), col("n"), col("pos"),
            when(col("m0").isNotNull, lit(merged))
              .otherwise(col("sym")).as("sym"))
          .withColumn("pos",
            (row_number().over(byTok) - 1).cast("long"))
          .trackedCheckpoint()
        r += 1
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("round", "pair", "w"), syms)
  }

  /** BPE fertility — the tokenizer-quality metric (average sub-word
    * tokens per whitespace word) of the [[bpeTrain]]ed merges, per
    * document: a language/domain whose fertility stays high after
    * training is under-served by the vocabulary (the signal tokenizer
    * teams track per corpus slice). Integer-ppm output.
    *
    * Scale shape: the merges apply to the VOCABULARY symbol table (the
    * training artifact — never the corpus), so post-merge symbol
    * counts per token are a vocab-sized aggregate; the corpus is
    * touched exactly twice, once by training's initial count and once
    * for the (doc, token) occurrence table the per-doc rollup joins ON
    * THE TOKEN KEY (vocab is corpus-derived — never broadcast). */
  def bpeFertility(docs: DataFrame, rounds: Int = BpeRounds): DataFrame =
    bpeFertilityFrom(docs, bpeTrain(docs, rounds)._2)

  /** [[bpeFertility]] against an already-trained symbol table (the
    * registry shares one session-cached training run between the
    * train and fertility queries). */
  def bpeFertilityFrom(docs: DataFrame, syms: DataFrame): DataFrame = {
    val nsyms = syms.groupBy(col("tid"))
      .agg(count(lit(1)).cast("long").as("n_syms"))
    val docToks = docs
      .select(col("doc_id"), explode(tokenArray(col("text"))).as("tid"))
      .groupBy(col("doc_id"), col("tid"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    docToks.join(nsyms, Seq("tid"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_words"),
        sum(col("cnt") * col("n_syms")).cast("long").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        expr("(n_bpe_tokens * 1000000) div n_words").as("fertility_ppm"))
  }

  /** Target slice for [[dsirWeights]]: the language whose
    * distribution the sampler up-weights toward. */
  val DsirTargetLang = "en"

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169
    * — data selection by importance resampling), integer-exact: score
    * each document by how much more likely its tokens are under the
    * TARGET distribution (here the [[DsirTargetLang]] slice) than
    * under the raw corpus. The per-token log-ratio
    * log2(p_tgt/p_raw) = (−log2 p_raw) − (−log2 p_tgt) is spelled with
    * the [[surprisalScores]] integer surprisal
    * (`bit_length(N div ctf)`, ±1 bit), with add-one smoothing on the
    * target side (`(N_tgt + V_raw) div (ctf_tgt + 1)`) so raw-vocab
    * tokens absent from the target stay finite. Positive `dsir_bits`
    * = the doc reads more target-like than corpus-average — the
    * resampling weight exponent.
    *
    * The per-token mean uses the OFFSET spelling
    * `((dsir + 64·n)·10⁶) div n − 64·10⁶`: dsir_bits can be negative
    * and Spark's `div` truncates while DuckDB's `//` floors — the
    * +64-bits-per-token shift (surprisal ≤ 64 bits) keeps the
    * numerator non-negative where the two agree.
    *
    * Shape: one exploded pass, two vocabulary-sized count tables
    * (raw; target via a doc-keyed semi-join), a 1-row totals
    * broadcast, one token-keyed join, one per-doc rollup. */
  def dsirWeights(docs: DataFrame,
      targetLang: String = DsirTargetLang): DataFrame = {
    val ex = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), explode(tokenArray(col("text"))).as("tok")))
    val raw = graft.core.SessionCache.transient(
      ex.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("ctf")))
    val tgtIds = docs.filter(col("lang") === targetLang).select(col("doc_id"))
    val tgt = ex.join(tgtIds, Seq("doc_id"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("ctf_t"))
    val totals = raw.agg(sum(col("ctf")).cast("long").as("n_raw"),
        count(lit(1)).cast("long").as("v_raw"))
      .crossJoin(tgt.agg(
        coalesce(sum(col("ctf_t")), lit(0L)).cast("long").as("n_tgt")))
    val agg = ex.join(raw, Seq("tok"))
      .join(tgt, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        length(bin(expr("n_raw div ctf"))).cast("long").as("rb"),
        length(bin(expr(
          "(n_tgt + v_raw) div (coalesce(ctf_t, 0) + 1)")))
          .cast("long").as("tb"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("rb")).cast("long").as("raw_bits"),
        sum(col("tb")).cast("long").as("tgt_bits"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("raw_bits"), lit(0L)).as("raw_bits"),
        coalesce(col("tgt_bits"), lit(0L)).as("tgt_bits"),
        coalesce(col("raw_bits") - col("tgt_bits"), lit(0L))
          .as("dsir_bits"),
        coalesce(expr("((raw_bits - tgt_bits + 64 * n_tokens) * 1000000)" +
          " div n_tokens - 64000000"), lit(0L)).as("dsir_per_tok_e6"))
  }

  /** CCNet-style perplexity-bucket assignment (Wenzek et al.: split
    * each language into head/middle/tail THIRDS by LM perplexity and
    * mix from the head first — THE published recipe this family's
    * X110 surprisal score exists to feed): per language, exact
    * tercile of [[surprisalScores]]' bits-per-token — head = lowest
    * bits (most fluent), tail = highest. Tercile = `((rk−1)·3) div n`
    * over the (bits, doc_id) order — one window per the BOUNDED
    * language key (the balancedSample class of per-group sort; a
    * dominant language composes the X28 offset decomposition if its
    * group outgrows a task). */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = surprisalScores(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val byLang = Window.partitionBy(col("lang"))
    val w = byLang.orderBy(col("bits_per_token_e6"), col("doc_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(byLang).cast("long"))
      .select(col("doc_id"), col("lang"), col("bits_per_token_e6"),
        expr("((rk - 1) * 3) div n").as("tercile"))
      .select(col("doc_id"), col("lang"), col("bits_per_token_e6"),
        when(col("tercile") === 0, "head")
          .when(col("tercile") === 1, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Top-contributor count for [[vocabDrift]]. */
  val DriftK = 20

  /** Vocabulary drift attribution between two corpus slices (here the
    * doc_id-parity halves, standing in for yesterday's snapshot vs
    * today's): WHICH tokens drive the distribution shift, ranked by
    * their total-variation contribution `|c₁·N₂ − c₂·N₁|` — the
    * cross-multiplied spelling that stays EXACT integer where the
    * naive `|c₁/N₁ − c₂/N₂|` would be float (per-term bound
    * c·N ≲ 10¹⁰ at sf0.1; the house assert guards the Long range).
    * Per-term share `tv_ppm = (contrib·10⁶) div (2·N₁·N₂ div 10⁶
    * …)` is deliberately NOT emitted — the exact contribution and
    * both marginals are, so any downstream normalization stays a
    * consumer choice and the row set hash-matches trivially. The
    * standard drift monitor between ingestion batches: a token
    * surging from nothing (c₁=0) or collapsing (c₂=0) tops the list.
    * Vocabulary-sized work throughout: one exploded count per slice,
    * a full-outer token join, a top-K by the (contrib desc, token
    * asc) total order. */
  def vocabDrift(docs: DataFrame, k: Int = DriftK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), explode(tokenArray(col("text"))).as("tok")))
    def side(p: Int) = ex.filter(col("doc_id") % 2 === p)
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as(s"c$p"))
    val joined = graft.core.SessionCache.transient(
      side(0).join(side(1), Seq("tok"), "full_outer")
        .select(col("tok"), coalesce(col("c0"), lit(0L)).as("c0"),
          coalesce(col("c1"), lit(0L)).as("c1")))
    val totals = joined.agg(sum(col("c0")).cast("long").as("n0"),
      sum(col("c1")).cast("long").as("n1"))
    joined.crossJoin(broadcast(totals))
      .select(col("tok"), col("c0"), col("c1"),
        expr("coalesce(cast(assert_true(" +
          "c0 <= 9223372036854775807 div greatest(n1, 1) and " +
          "c1 <= 9223372036854775807 div greatest(n0, 1)," +
          " 'vocab drift contribution exceeds the Long-exact range: " +
          "move to decimal(38)') as bigint), 0)" +
          " + abs(c0 * n1 - c1 * n0)").as("contrib"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("contrib").desc, col("tok").asc)).cast("long"))
      .filter(col("rk") <= k)
      .select(col("rk"), col("tok"), col("c0"), col("c1"), col("contrib"))
  }

  /** Top-token set size per source for [[sourceOverlap]]. */
  val OverlapK = 50

  /** Per-source vocabulary overlap — source-LEVEL near-mirror
    * detection (two feeds scraping the same site produce few
    * document-level near-dups after templating but nearly identical
    * characteristic vocabularies; X3 can't see that — this can):
    * Jaccard of the top-[[OverlapK]] token sets per source pair, in
    * integer ppm. The compare runs over K-row-per-source TOP SETS,
    * never the full vocabulary — |sources|·K rows into a token-keyed
    * self-join, so a thousand-source corpus compares 50k rows, not
    * its token table; the rank window partitions by the bounded
    * source key. Ties break (count desc, token asc) — the
    * [[vocabTopK]] total order, data-independent. */
  def sourceOverlap(docs: DataFrame, k: Int = OverlapK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = graft.core.SessionCache.transient(
      docs.select(col("source"), explode(tokenArray(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).cast("long").as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n").desc, col("tok").asc)))
        .filter(col("rk") <= k)
        .select(col("source"), col("tok")))
    val sizes = top.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("sz"))
    top.withColumnRenamed("source", "a_source")
      .join(top.withColumnRenamed("source", "b_source"), Seq("tok"))
      .filter(col("a_source") < col("b_source"))
      .groupBy(col("a_source"), col("b_source"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .join(sizes.withColumnsRenamed(
        Map("source" -> "a_source", "sz" -> "na")), Seq("a_source"))
      .join(sizes.withColumnsRenamed(
        Map("source" -> "b_source", "sz" -> "nb")), Seq("b_source"))
      .select(col("a_source"), col("b_source"), col("shared"),
        expr("(shared * 1000000) div (na + nb - shared)")
          .as("jaccard_ppm"))
  }

  /** Number of id-range buckets for [[vocabGrowth]]. */
  val GrowthBuckets = 10

  /** Heaps-law vocabulary growth curve: cumulative distinct-token
    * count as the corpus prefix grows, the standard diagnostic for
    * "is this corpus still contributing new vocabulary or replaying
    * itself" (Heaps' law V(n) ≈ K·n^β; a near-flat tail means the
    * marginal data is vocabulary-exhausted — dedup/mix rebalance
    * territory). One row per prefix bucket with per-bucket and
    * cumulative doc/token/vocab counts.
    *
    * Scale contract: the prefix order is doc_id ID-RANGE deciles
    * (`(doc_id·B) div (max_id+1)`), NOT a rank decile — a global
    * `row_number` would force a total sort of the corpus; the id-range
    * rule needs one 1-row max aggregate and keeps bucketing map-side.
    * Buckets are merely uneven if ids are sparse, and the per-bucket
    * doc count is reported so the curve stays honest. A token's
    * first-appearance bucket is `min(doc-bucket)` per token —
    * vocabulary-sized aggregate; the cumulative rollup is
    * [[GrowthBuckets]] rows. */
  def vocabGrowth(docs: DataFrame, buckets: Int = GrowthBuckets): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = docs.agg(max(col("doc_id")).cast("long").as("max_id"))
    val ex = graft.core.SessionCache.transient(
      docs.crossJoin(broadcast(maxId))
        .select(col("doc_id"),
          expr(s"(doc_id * $buckets) div (max_id + 1)").as("bkt"),
          explode(tokenArray(col("text"))).as("tok")))
    val docBkt = docs.crossJoin(broadcast(maxId))
      .select(expr(s"(doc_id * $buckets) div (max_id + 1)").as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).cast("long").as("n_docs"))
    val tokCnt = ex.groupBy(col("bkt"))
      .agg(count(lit(1)).cast("long").as("n_tokens"))
    val newVocab = ex.groupBy(col("tok"))
      .agg(min(col("bkt")).as("first_bkt"))
      .groupBy(col("first_bkt").as("bkt"))
      .agg(count(lit(1)).cast("long").as("new_vocab"))
    val byBkt = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docBkt
      .join(tokCnt, Seq("bkt"), "left")
      .join(newVocab, Seq("bkt"), "left")
      .select(col("bkt"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_vocab"), lit(0L)).as("new_vocab"))
      .select(col("bkt"), col("n_docs"), col("n_tokens"), col("new_vocab"),
        sum(col("n_tokens")).over(byBkt).cast("long").as("cum_tokens"),
        sum(col("new_vocab")).over(byBkt).cast("long").as("cum_vocab"))
  }

  /** The corpus token-count table — the persisted artifact
    * [[vocabMergeIncremental]] maintains. */
  def tokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(explode(tokenArray(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).cast("long").as("n"))

  /** Incremental vocabulary maintenance: token counts are a
    * commutative monoid, so a grown corpus' vocabulary updates by
    * scanning ONLY the incoming batch and merging its count table
    * into the stored one (union → sum → the same top-k total order as
    * [[vocabTopK]]) — never by re-tokenizing the corpus. This is the
    * X78-incremental-dedup shape applied to corpus statistics: at
    * 100 TB the stored count table is vocabulary-sized (millions of
    * rows, not corpus-sized) and the update cost is \|batch\| + one
    * token-keyed merge shuffle. The result is EXACTLY the full
    * recomputation (count merge is associative, the tie-break total
    * order is data-independent), which is what the oracle asserts. */
  def vocabMergeIncremental(existingCounts: DataFrame, incoming: DataFrame,
      k: Int = VocabK): DataFrame = {
    val merged = existingCounts.unionByName(tokenCountsOf(incoming))
      .groupBy(col("token")).agg(sum(col("n")).cast("long").as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(k)
    merged.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("token").asc))
        .cast("long"))
  }

  /** Pairwise source-vocabulary overlap (X180) — the domain-
    * similarity matrix a mixture designer reads before setting
    * per-source sampling weights (two sources with near-identical
    * vocabularies are redundant; a vocabulary-disjoint source adds
    * coverage): per source pair, |V_a ∩ V_b| with both vocabulary
    * sizes and the Jaccard in exact ppm.
    *
    * Scale: the (source, token) DISTINCT frame is vocabulary-sized
    * per source, never corpus-sized; the pair intersection is a
    * token-keyed equi-join of that frame with itself (the inverted-
    * index shape — a token contributes |sources-containing-it|²
    * pairs, bounded by the SOURCE count squared, not by df). Output
    * is |sources|² rows. */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val sv = graft.core.SessionCache.transient(
      docs.select(col("source"),
          explode(tokenArray(col("text"))).as("token"))
        .distinct())
    val sizes = sv.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("v"))
    val inter = sv.select(col("source").as("src_a"), col("token"))
      .join(sv.select(col("source").as("src_b"), col("token")),
        Seq("token"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
    inter
      .join(sizes.withColumnsRenamed(
        Map("source" -> "src_a", "v" -> "va")), Seq("src_a"))
      .join(sizes.withColumnsRenamed(
        Map("source" -> "src_b", "v" -> "vb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        col("va"), col("vb"),
        expr("(n_common * 1000000) div (va + vb - n_common)")
          .as("jaccard_ppm"))
  }

  /** Gini-impurity class-balance audit (X168) — the label-quality
    * screen a curator runs per corpus slice before training on it: a
    * slice whose language (or any label) distribution has collapsed
    * to one class carries no signal for that dimension, and a nearly
    * uniform one needs no rebalancing. Impurity = 1 − Σ(cᵢ/n)² in
    * exact e6 integer units — `10⁶ − (Σcᵢ²·10⁶) div n²`, ONE
    * truncating div over exact sums (entropy would drag in log; the
    * Gini form is transcendental-free by construction, the reason
    * CART uses it). 0 = single class, → (1−1/k)·10⁶ at uniform-k.
    *
    * Scale: a (group, label) aggregate rolled up to group grain —
    * both map-side combinable; Long guard on Σcᵢ²·10⁶ asserted. */
  def classBalance(df: DataFrame, group: String,
      label: String): DataFrame = {
    df.groupBy(col(group), col(label))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col(group))
      .agg(count(lit(1)).cast("long").as("n_classes"),
        sum(col("c")).cast("long").as("n_rows"),
        max(col("c")).cast("long").as("majority_n"),
        sum(col("c") * col("c")).cast("long").as("ss"))
      .select(col(group), col("n_rows"), col("n_classes"),
        col("majority_n"),
        // two overflow surfaces: ss·10⁶ AND n²; a slice above
        // ~3.04e9 rows (√Long.Max) wraps the denominator silently
        expr("coalesce(cast(assert_true(" +
          "ss <= 9223372036854775807 div 1000000 and " +
          "n_rows <= 3037000499," +
          " 'class-balance sums exceed the Long-exact e6 range: " +
          "audit a finer slice') as bigint), 0) + " +
          "(1000000 - (ss * 1000000) div (n_rows * n_rows))")
          .as("impurity_e6"))
  }

  /** Per-source hapax-legomena / type-token profile (X204) — the
    * vocabulary-health screen beside the Zipf slope (X202): natural
    * text keeps a large once-only tail (hapax ≈ 40–60% of vocabulary,
    * Zipf's corollary), while templated or machine-generated sources
    * collapse it (few hapaxes, low type-token ratio) and OCR-noise
    * sources inflate it (every garble is a new "word"). Both
    * deviations are standard pre-training drop signals; ratios are
    * exact integer ppm, never float division.
    *
    * Scale shape: one explode → (source, token)-grain count (map-side
    * combinable) → source-grain rollup. The corpus-sized frame exists
    * only between the two partial aggregates of one shuffle; output
    * is |sources| rows. */
  def hapaxProfile(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokenArray(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long")
          .as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        expr("(hapax * 1000000) div greatest(vocab, 1)").cast("long")
          .as("hapax_frac_e6"),
        expr("(vocab * 1000000) div greatest(n_tokens, 1)").cast("long")
          .as("ttr_e6"))

  /** Per-source unigram entropy in integer BITS (X205) — the
    * "information density" screen: Shannon entropy of the source's
    * token distribution computed with the floor-log2 device (X110,
    * `bits(x) = ⌊log2 x⌋ + 1`), so the statistic — DEFINED as its
    * bits form, `H ≈ (n·bits(n) − Σ cᵢ·bits(cᵢ)) / n` via the
    * telescoped identity Σ cᵢ·(bits(n) − bits(cᵢ)) — is exact
    * integer arithmetic and replays identically in any engine.
    * Near-zero = one token dominates (degenerate/boilerplate source);
    * high relative to bits(vocab) = near-uniform usage. Entropy needs
    * log; the bits form is the transcendental-free contract the same
    * way Gini is for [[classBalance]].
    *
    * Scale shape: same two-level aggregate as [[hapaxProfile]] —
    * (source, token) grain then source grain, both map-side
    * combinable. Overflow: Σ cᵢ·bits(cᵢ) ≤ 64n and the e6 scaling of
    * the ≤ 64n difference wraps past n ≈ 1.4·10¹¹ rows per source —
    * asserted, not silently wrapped (the X168 discipline). */
  def tokenEntropyBits(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokenArray(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(col("c") * length(bin(col("c")))).cast("long").as("sum_cb"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("coalesce(cast(assert_true(" +
          "n_tokens <= 144115188075, " +
          "'entropy-bits e6 scaling exceeds the Long-exact range: " +
          "audit a finer slice') as bigint), 0) + " +
          "((n_tokens * length(bin(n_tokens)) - sum_cb) * 1000000) " +
          "div greatest(n_tokens, 1)").cast("long").as("h_bits_e6"),
        expr("(length(bin(greatest(vocab, 1))) * 1000000)")
          .cast("long").as("max_bits_e6"))

  /** X279: FORCAST readability grade per source — the reading-level
    * screen a curation pipeline runs beside [[qualityScore]] when
    * selecting pre-training text by audience level.
    *
    * FORCAST (Caylor & Sticht 1973) is the one classic readability
    * formula designed for text WITHOUT sentence structure (forms,
    * listings): `grade = 20 − mono/150-words ÷ 10`, needing only the
    * monosyllabic-word rate — the right family member here because
    * [[graft.text.TextAnalysis.normalize]] strips sentence
    * punctuation, so Flesch-Kincaid's words-per-sentence term is
    * degenerate by construction. Syllables are proxied by vowel-group
    * runs (`[aeiouy]+`) in the normal form; a vowel-less token (codes,
    * numerals) counts one syllable; monosyllabic = at most one run.
    * Emitted exactly: `forcast_grade_e6 = 20e6 − (15e6·mono) div
    * words` — integer arithmetic end to end, so the statistic replays
    * identically in any engine (the X205 bits-form discipline).
    *
    * Scale shape: map-only per-doc counts via higher-order `filter`
    * over the token array — no explode, no per-token shuffle — then
    * ONE keyed aggregate on source. Overflow: the 15e6·mono scaling
    * wraps past ~6·10¹¹ words per source — asserted, not silently
    * wrapped (the X168 discipline). */
  def readability(docs: DataFrame): DataFrame = {
    val syl = "size(regexp_extract_all(t, '[aeiouy]+', 0))"
    docs
      .select(col("source"), tokenArray(col("text")).as("w"))
      .select(col("source"),
        expr("cast(size(w) as bigint)").as("words"),
        expr("cast(size(regexp_extract_all(array_join(w, ' '), " +
          "'[aeiouy]+', 0)) as bigint)").as("vg"),
        expr(s"cast(size(filter(w, t -> $syl <= 1)) as bigint)")
          .as("mono"),
        expr(s"cast(size(filter(w, t -> $syl = 0)) as bigint)")
          .as("zerov"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        max(col("words")).cast("long").as("max_words"),
        max(col("vg") + col("zerov")).cast("long").as("max_syl"),
        sum(col("words")).cast("long").as("words"),
        sum(col("vg") + col("zerov")).cast("long").as("syllables"),
        sum(col("mono")).cast("long").as("mono"))
      .select(col("source"), col("n_docs"), col("words"),
        col("syllables"), col("mono"),
        // Pre-overflow witness (VERDICT r13 #2), two-tier: the loose
        // double-space bounds n_docs·max(words) / n_docs·max(syl)
        // ≤ 9e18 prove the corpus sums never wrapped (per-doc counts
        // are row-bounded, never sums); the original e6 bar then
        // tests the TRUSTWORTHY total — a wrapped sum lands negative
        // and would sail under the one-sided `<=` without it. mono ≤
        // words per doc, so the words witness covers the mono sum.
        expr("coalesce(cast(assert_true(" +
          "cast(n_docs as double) * cast(max_words as double) <= " +
          "9.0e18 and " +
          "cast(n_docs as double) * cast(max_syl as double) <= " +
          "9.0e18 and words <= 600000000000 and " +
          "syllables <= 9223372036854775807 div 1000000, " +
          "'FORCAST e6 scaling exceeds the Long-exact range: " +
          "audit a finer slice') as bigint), 0) + " +
          "(20000000 - (15000000 * mono) div greatest(words, 1))")
          .cast("long").as("forcast_grade_e6"),
        // witness duplicated HERE, not only in forcast_grade_e6: a
        // consumer projecting spw_e6 alone lets Catalyst prune the
        // other column — and its assert with it
        expr("coalesce(cast(assert_true(" +
          "cast(n_docs as double) * cast(max_words as double) <= " +
          "9.0e18 and " +
          "cast(n_docs as double) * cast(max_syl as double) <= " +
          "9.0e18 and " +
          "syllables <= 9223372036854775807 div 1000000, " +
          "'FORCAST e6 scaling exceeds the Long-exact range: " +
          "audit a finer slice') as bigint), 0) + " +
          "(1000000 * syllables) div greatest(words, 1)")
          .cast("long").as("spw_e6"))
  }

  /** Stopword delimiters for [[rakeKeywords]] — the English marker
    * list ([[graft.text.TextAnalysis.LangMarkers]]), the same public
    * function-word set the quality score and language-ID use. */
  val RakeStopwords: Seq[String] =
    graft.text.TextAnalysis.LangMarkers.head._2

  /** Keyword phrases kept per source. */
  val RakeTopK = 5

  /** X285: RAKE keyword extraction per source (Rose et al. 2010 —
    * Rapid Automatic Keyword Extraction): candidate phrases are the
    * maximal stopword-free token runs; each word scores
    * `deg(w)/freq(w)` where `freq` counts occurrences and `deg` sums
    * the lengths of the phrase occurrences containing it (the
    * co-occurrence-inclusive degree); a phrase scores the sum of its
    * word scores, and the top-[[RakeTopK]] phrases per source (score
    * desc, phrase asc — deterministic ties) are the corpus's keyword
    * fingerprint. All scores are integer micro-units
    * (`deg·10⁶ div freq`, summed) — exact cross-engine.
    *
    * Scale shape: phrase splitting is a map-only higher-order
    * transform (stopwords → a delimiter, rejoin, regex split — no
    * per-token shuffle); occurrences collapse to DISTINCT phrases
    * before any word explode (freq/deg factor exactly through the
    * per-phrase occurrence count: freq = Σ n_occ, deg = Σ n_occ·plen),
    * so word stats are one (source, word)-grain map-side-combinable
    * aggregate over phrase-grain rows; phrase scores rejoin words to
    * stats BY KEY off the same persisted exploded frame; top-k is one
    * bounded source-partitioned window. Overflow: deg ≤
    * words-per-source, asserted at the same 6·10¹¹ e6 bound as
    * X279. */
  def rakeKeywords(docs: DataFrame, topK: Int = RakeTopK): DataFrame = {
    val stopList = RakeStopwords.map(w => s"'$w'")
      .mkString("array(", ", ", ")")
    // single consumer (the distinct-phrase collapse below) — no persist
    val pw = docs
      .select(col("source"), tokenArray(col("text")).as("w"))
      .select(col("source"),
        expr(s"filter(split(array_join(transform(w, t -> " +
          s"if(array_contains($stopList, t), '|', t)), ' '), " +
          "'( ?\\\\| ?)+'), p -> p <> '')").as("phrases"))
      .select(col("source"), explode(col("phrases")).as("phrase"))
      .select(col("source"), col("phrase"),
        size(split(col("phrase"), " ")).cast("long").as("plen"))
    // collapse to DISTINCT phrases first, then explode words ONCE for
    // both legs: word freq/degree over occurrences factor exactly
    // through the per-phrase occurrence count (freq = Σ n_occ,
    // deg = Σ n_occ·plen over distinct-phrase word positions), so the
    // occurrence-grain frame is never exploded — the r16 plan exploded
    // pw twice (word stats + phrase scoring) at occurrence grain
    val uniq = pw.groupBy(col("source"), col("phrase"))
      .agg(count(lit(1)).cast("long").as("n_occ"),
        max(col("plen")).cast("long").as("plen"))
    val euw = graft.core.SessionCache.transient(uniq
      .select(col("source"), col("phrase"), col("n_occ"), col("plen"),
        explode(split(col("phrase"), " ")).as("word")))
    val wordStats = euw
      .groupBy(col("source"), col("word"))
      .agg(sum(col("n_occ")).cast("long").as("freq"),
        max(col("plen")).cast("long").as("max_plen"),
        sum(col("n_occ") * col("plen")).cast("long").as("deg"))
      .select(col("source"), col("word"),
        // Pre-overflow witness (VERDICT r13 #2), two-tier: the loose
        // double-space bound freq·max(plen) ≤ 9e18 proves the degree
        // sum never wrapped (plen is a per-phrase length, never a
        // sum); the original e6 bar then tests the TRUSTWORTHY sum —
        // a wrapped deg lands negative and would sail under the
        // one-sided `<=` without it.
        expr("coalesce(cast(assert_true(" +
          "cast(freq as double) * cast(max_plen as double) <= " +
          "9.0e18 and deg <= 600000000000, " +
          "'RAKE e6 scaling exceeds the Long-exact range: audit a " +
          "finer slice') as bigint), 0) + " +
          "(deg * 1000000) div freq").cast("long").as("score_e6"))
    val scored = euw
      .join(wordStats, Seq("source", "word"))
      .groupBy(col("source"), col("phrase"))
      .agg(max(col("n_occ")).cast("long").as("n_occ"),
        sum(col("score_e6")).cast("long").as("phrase_score_e6"))
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("phrase_score_e6").desc, col("phrase"))))
      .filter(col("rk") <= topK)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("phrase"), col("n_occ"), col("phrase_score_e6"))
  }
}
