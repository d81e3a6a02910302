package graft.dedup

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis._

/** Document deduplication for the training-data pipeline surface:
  * exact (hash group-by), MinHash+LSH, SimHash with banded Hamming
  * search, and n-gram Jaccard with a hot-shingle cap.
  *
  * Scale design:
  *  - Signature computation (MinHash / SimHash) is pure per-row map
  *    work inside whole-stage codegen — no UDFs, no shuffle.
  *  - Candidate generation NEVER does an O(n²) cross join: MinHash
  *    pairs come from an equi-join on (band, band-value) buckets and
  *    SimHash pairs from an equi-join on Manku-style 3-of-6-block keys
  *    (pigeonhole: Hamming ≤ 3 flips touch ≤ 3 of 6 blocks ⇒ some
  *    3-block combination matches exactly).
  *    Both shuffle on the bucket key only; AQE's skew-join split
  *    handles a hot bucket (a huge near-identical cluster).
  *  - n-gram Jaccard uses the standard inverted-index join with a
  *    document-frequency cap that drops ubiquitous shingles before the
  *    join — the classic guard against quadratic blow-up on hot terms.
  *
  * Hashing is oracle-checkable in both engines: MinHash uses ONE
  * 31-polynomial base hash per shingle (mod the prime 2^31-1) mixed by
  * 16 affine permutations h ↦ (a_j·h + b_j) mod p — bijective because p
  * is prime — rather than 16 separate digests; SimHash votes by md5
  * hex-digit parity with the digest array materialized once per doc.
  */
object Dedup {

  val NumHashes = 16
  val Bands = 8 // rows-per-band = 2 → LSH S-curve threshold ≈ 0.35
  val SimhashBits = 64 // one vote per hex digit of two md5 digests
  /** Manku et al. (WWW'07) block-permutation search: 64 bits split into
    * 6 blocks; Hamming ≤ 3 flips touch ≤ 3 blocks, so ≥ 3 of 6 blocks
    * are identical ⇒ some 3-block combination matches exactly. Bucket
    * key = one of the C(6,3) = 20 3-block concatenations (~33 bits), so
    * expected bucket width shrinks as n/2³³ — unlike fixed 8-bit
    * segments whose buckets grow linearly (n/256) with corpus size. */
  val SimhashBlocks = 6
  val BlockWidths: Seq[Int] = Seq(11, 11, 11, 11, 10, 10) // sums to 64
  val BlockOffsets: Seq[Int] = BlockWidths.scanLeft(0)(_ + _).init
  val BlockCombos: Seq[Seq[Int]] =
    (0 until SimhashBlocks).combinations(SimhashBlocks / 2).map(_.toSeq).toSeq
  val MaxHamming = 3
  val ShingleN = 3
  /** Hot-shingle doc-frequency cap for the Jaccard inverted index: a
    * shingle in more than this many docs is dropped from BOTH sets
    * before the join (idf-style guard). Exact-dup pairs keep jaccard
    * 1.0 (identical sets stay identical); the cap is what keeps the
    * pair join near-linear when a background vocabulary is shared. */
  val MaxShingleDf = 20
  val MinJaccard = 0.5
  val MinEstJaccard = 0.5

  /** Distinct word-n-gram shingle sets; drops docs too short to shingle.
    *
    * Built as STAGED projections, not one nested expression: `normalize`
    * (two regex passes) and `split` each materialize once per doc.
    * Inlining them into the shingle lambda re-evaluates them per
    * element — Catalyst's CollapseProject keeps these stages apart
    * because the intermediates are non-cheap and multiply referenced.
    * [[graft.core.Spread]] spreads per-doc hashing across all cores
    * ONLY when the source arrives under-parallel (the local single-file
    * fixture); on an already-split cluster-scale source it adds no
    * exchange. */
  def shingleSets(docs: DataFrame, n: Int = ShingleN): DataFrame = {
    val w = col("w")
    val cnt = size(w) - (n - 1)
    // The too-short-to-shingle filter MUST be this cheap word-count
    // pre-filter, NOT a post-filter on size(shingles): PushDownPredicates
    // would rewrite a post-filter by substituting the whole shingle
    // expression into the per-row predicate — with `w` re-inlined as
    // split(normalize(text)) at every lambda reference, i.e. two regex
    // passes per shingle element. (Docs with ≥ n words ⟺ ≥ 1 shingle,
    // so the two forms select identical rows.)
    graft.core.Spread(docs)
      .filter(size(split(normalize(col("text")), " ")) >= n)
      .select(col("doc_id"), normalize(col("text")).as("nt"))
      .select(col("doc_id"), split(col("nt"), " ").as("w"))
      .select(col("doc_id"), array_distinct(
        when(cnt < 1, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), cnt), i =>
            concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))))
        .as("shingles"))
  }

  /** Session-cached shingle sets for the `documents` table at `dir`:
    * every dedup-family registry query starts from the same
    * tokenize→shingle derivation, so a Bench/Verify sweep shares ONE
    * materialization across the family instead of re-paying the two
    * regex passes per query (same rationale as [[graft.core.Star]]'s
    * shared fact). Operators accept it via their `shingles` parameter;
    * ad-hoc callers (tests, non-table frames) omit it and compute
    * per-call. */
  def sharedShingles(spark: org.apache.spark.sql.SparkSession, dir: String,
      n: Int = ShingleN): DataFrame =
    graft.core.SessionCache.cached(spark, s"shingles:$dir:$n")(
      shingleSets(graft.core.Tables(spark, dir, "documents"), n))

  /** Session-cached MinHash+LSH candidate pairs for the `documents`
    * table at `dir` — second tier of the family cache: the pair set
    * feeds clusters, the LSH audit, and the raw pair listing, so a
    * Bench/Verify sweep pays the signature→band→bucket-join once. */
  def sharedPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"lshpairs:$dir")(
      minhashLshPairs(graft.core.Tables(spark, dir, "documents"),
        shingles = Some(sharedShingles(spark, dir))))

  /** Session-cached near-dup cluster labels for the `documents` table
    * at `dir` — third tier of the family cache: clusters, canonical
    * reps, and the size histogram all start from the same connected
    * components, so the label computation materializes once per
    * session instead of once per query. */
  def sharedClusters(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"clusters:$dir")(
      nearDupClusters(graft.core.Tables(spark, dir, "documents"),
        pairs = Some(sharedPairs(spark, dir))))

  /** Exact dedup: group by normalized-text MD5; keeper = min doc_id. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** X298: dedup storage-savings report per source — the capacity
    * answer the X1 exact-dedup verdict feeds ("how much does exact
    * dedup shrink each source's corpus"): every non-keeper copy's
    * characters are savings, attributed to the SOURCE THAT HOLDS THE
    * COPY (the keeper is the global min doc_id, so a copy whose
    * original lives in another source still counts against the copy's
    * own source — that is where the bytes sit). Exact integers
    * end-to-end; ppm by floor-div.
    *
    * Scale: the X1 fingerprint aggregate (fact-grain, map-side
    * combinable), one keyed join back on the fingerprint, one
    * source-grain rollup — no new heavy derivation. */
  def dedupSavings(docs: DataFrame): DataFrame = {
    // persisted: the normalize+md5 fingerprint is the operator's
    // dominant per-row cost and feeds BOTH the keeper aggregate and
    // the join-back leg — unpersisted, each leg scans documents and
    // re-evaluates the chain, and the join's inferred isnotnull(fp)
    // constraint re-inlines it a second time per leg (4 regex+digest
    // passes per document in the r17 before-plan)
    val f = graft.core.SessionCache.transient(
      docs.select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"),
        fingerprintMd5(col("text")).as("fp")))
    // keeper = min doc_id per fingerprint — [[exactDedup]]'s rule on
    // the shared frame
    val keep = f.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"))
    f.join(keep, Seq("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
          .cast("long").as("dup_docs"),
        sum(col("n_chars")).cast("long").as("chars_total"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(0L)).cast("long").as("chars_saved"))
      .select(col("source"), col("n_docs"), col("dup_docs"),
        col("chars_total"), col("chars_saved"),
        expr("(chars_saved * 1000000) div greatest(chars_total, 1)")
          .cast("long").as("saved_ppm"))
  }

  /** The planted repeated-boilerplate paragraph — the same device as
    * the synthetic PII/URL fixtures: the corpus has no `\n\n`
    * structure, so `doc_id % 3 == 0` docs get a per-SOURCE boilerplate
    * paragraph appended (identical expression in the oracle SQL),
    * giving the paragraph rule cross-doc duplicates it demonstrably
    * removes. The mod-3 gate (not every doc, and deliberately NOT
    * parity — the fixture's source/domain derivations fix parity
    * within a domain) keeps the per-DOMAIN template rates of
    * [[graft.pipeline.Pipeline.domainBoilerplate]] discriminative:
    * with the block on every doc, every domain scored an identical
    * constant. */
  def withBoilerplate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n\nSubscribe to the "), col("source"),
          lit(" newsletter today.")))
        .otherwise(col("text")).as("ptext"))

  /** Paragraph-grain dedup (the C4 rule, X273) — the curation
    * mid-grain between whole-document exact dedup (X1) and
    * cross-doc 5-gram span excision (X41): documents split on blank
    * lines, each paragraph deduplicated EXACTLY across the whole
    * corpus (first occurrence in (doc_id, pos) order is kept, every
    * later copy cut), survivors reassembled in original order. Kills
    * the repeated boilerplate (headers, footers, subscribe blocks)
    * that whole-doc hashing never sees and span excision
    * over-fragments.
    *
    * Per doc: paragraph count, kept count, and the reassembled
    * `clean_text` (empty when every paragraph was someone else's
    * first). Scale shape: one `posexplode` (bounded ×paragraphs, a
    * narrow Generate), the first-occurrence verdict is a rank window
    * partitioned by the paragraph hash (partition size = duplicate
    * count, bounded), reassembly is the X41 device —
    * `array_sort(collect_list(struct(pos, para)))` per doc, never a
    * global sort. Two shuffles total (paragraph key, doc key). */
  /** Session-cached [[paragraphDedup]] for the `documents` table at
    * `dir`: the per-doc cleaned text is both a standalone registry
    * query and the pretraining manifest's dedup stage, so a sweep pays
    * the posexplode→rank→reassemble pipeline once. Priced as
    * `[cache:pipe.paradedup]` in Bench. */
  def sharedParagraphDedup(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"paradedup:$dir")(
      paragraphDedup(graft.core.Tables(spark, dir, "documents")))

  def paragraphDedup(docs: DataFrame): DataFrame = {
    val paras = withBoilerplate(docs).select(col("doc_id"),
      posexplode(split(col("ptext"), "\n\n")).as(Seq("pos", "para")))
    val ranked = paras
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("para")))
          .orderBy(col("doc_id"), col("pos"))))
      .withColumn("kept", when(col("rk") === 1, 1L).otherwise(0L))
    ranked.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_paras"),
        sum(col("kept")).cast("long").as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("kept") === 1L, struct(col("pos"), col("para"))))),
          x => x.getField("para")), "\n\n").as("clean_text"))
  }

  /** MinHash permutation modulus (prime, 2^31-1) and mixers: with p
    * prime and a_j ≢ 0, h ↦ (a_j·h + b_j) mod p is a bijection. */
  val P = 2147483647L
  private def aj(j: Column): Column = (lit(2654435761L) * (j + 1)) % P
  private def bj(j: Column): Column = (lit(40503L) * (j + 7)) % P

  /** Base hash of a shingle: first 8 hex digits of md5, as an integer
    * mod P. ONE digest per shingle (md5 and conv are native Catalyst
    * expressions — a per-character rolling hash costs O(len²)
    * interpreted lambda hops inside a HOF); the 16 "permutations" are
    * then integer mixes of this single base, not 16 separate digests.
    * The mod keeps a_j·base < 2^63 (no overflow). */
  private def baseHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long") % P

  /** MinHash signature: sig[j] = min over shingles of (a_j·base + b_j)
    * mod P. The base-hash array is materialized in its own projection
    * (computed ONCE per doc); the 16-permutation min loop runs in the
    * native [[graft.functions.MinHashSig]] expression — the HOF lambda
    * form pays one interpreter dispatch per element per permutation. */
  def minhashSignature(docs: DataFrame,
      numHashes: Int = NumHashes,
      shingles: Option[DataFrame] = None): DataFrame =
    shingles.getOrElse(shingleSets(docs))
      .select(col("doc_id"),
        transform(col("shingles"), baseHash(_)).as("bases"))
      .select(col("doc_id"),
        graft.functions.DedupExpressions.minhashSig(col("bases"), numHashes)
          .as("sig"))

  /** MinHash signatures exploded into LSH band buckets. */
  private def banded(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    sig.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          array_join(slice(col("sig"), b * r + 1, lit(r))
            .cast("array<string>"), "|").as("bval")))).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.bval").as("bval"))
  }

  /** MinHash+LSH near-dup pairs: bucket-join candidates, then estimated
    * Jaccard = fraction of agreeing signature positions, thresholded. */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = NumHashes,
      bands: Int = Bands, minEst: Double = MinEstJaccard,
      shingles: Option[DataFrame] = None): DataFrame = {
    // both join sides share this lineage — persist, or it computes twice
    val sig = graft.core.SessionCache.transient(
      minhashSignature(docs, numHashes, shingles))
    val bk = banded(sig, numHashes, bands)
    val a = bk.select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
      col("band"), col("bval"))
    val b = bk.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
      col("band"), col("bval"))
    val agree = aggregate(
      zip_with(col("a_sig"), col("b_sig"),
        (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    a.join(b, Seq("band", "bval"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"),
        round(agree / numHashes.toDouble, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** SimHash bit string: bit j is the sign of the shingle-vote sum,
    * where shingle s votes ±1 by bit (j mod 4) of the value of hex
    * digit (j div 4) of md5(s) — 4 signature bits per hex char, so the
    * 64-bit signature still costs exactly ONE digest per shingle. The
    * digest array is materialized once per doc in its own projection
    * (the naive form recomputes every digest for every bit: 64× the
    * md5s). */
  def simhash(docs: DataFrame, bits: Int = SimhashBits,
      shingles: Option[DataFrame] = None): DataFrame =
    shingles.getOrElse(shingleSets(docs))
      .select(col("doc_id"),
        transform(col("shingles"), s => md5(s)).as("digests"))
      .select(col("doc_id"),
        graft.functions.DedupExpressions.simhashBits(col("digests"), bits)
          .as("simhash"))

  /** SimHash near-dup pairs at Hamming ≤ [[MaxHamming]] via Manku-style
    * block-combination banding (no cross join): each signature explodes
    * into its 20 3-of-6-block keys; candidates come from the
    * (combo, key) equi-join — see [[BlockCombos]] for the pigeonhole
    * argument and why the ~33-bit keys keep buckets sub-linear in n. */
  def simhashPairs(docs: DataFrame, bits: Int = SimhashBits,
      maxHamming: Int = MaxHamming,
      shingles: Option[DataFrame] = None): DataFrame = {
    // The signature travels through the 20-way explode and the bucket
    // shuffle as two packed longs, not a 64-char string; hamming is
    // then one codegen'd bit_count(xor) pair per candidate instead of
    // 64 interpreted per-char HOF hops. (Split hi/lo because a 64-bit
    // binary string with bit 0 set overflows a signed conv/cast.)
    def half(off: Int) =
      conv(col("simhash").substr(off + 1, 32), 2, 10).cast("long")
    // reused by both join sides
    val sh = graft.core.SessionCache.transient(
      simhash(docs, bits, shingles).select(col("doc_id"), col("simhash"),
        half(0).as("hi"), half(32).as("lo")))
    val keyStructs = BlockCombos.zipWithIndex.map { case (blocks, ci) =>
      struct(lit(ci).as("cb"),
        concat(blocks.map(b =>
          col("simhash").substr(BlockOffsets(b) + 1, BlockWidths(b))): _*)
          .as("kval"))
    }
    val seg = sh.select(col("doc_id"), col("hi"), col("lo"),
        explode(array(keyStructs: _*)).as("k"))
      .select(col("doc_id"), col("hi"), col("lo"),
        col("k.cb").as("cb"), col("k.kval").as("kval"))
    val a = seg.select(col("doc_id").as("a_id"), col("hi").as("a_hi"),
      col("lo").as("a_lo"), col("cb"), col("kval"))
    val b = seg.select(col("doc_id").as("b_id"), col("hi").as("b_hi"),
      col("lo").as("b_lo"), col("cb"), col("kval"))
    val hamming = (bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
      bit_count(col("a_lo").bitwiseXOR(col("b_lo")))).cast("long")
    a.join(b, Seq("cb", "kval"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate cluster assignment: connected components over the
    * MinHash-LSH pair graph — the step a production dedup pipeline
    * runs after candidate pairs (pairs → clusters → keep one per
    * cluster). Iterative min-label propagation: every doc starts
    * labeled with its own id; each round, a doc takes the minimum of
    * its label and its neighbors' labels; at fixpoint the label is the
    * smallest doc id in the component (the canonical cluster id).
    *
    * Scale shape: each round is one equi-join labels⋈edges + one
    * aggregate — the standard large-graph CC loop (GraphFrames/Pregel
    * do the same joins); rounds needed = component diameter, and
    * near-dup clusters are tiny and dense, so it converges in 2-3
    * rounds. Convergence is CHECKED per round (one count), never
    * assumed. Docs in no pair are their own singleton cluster.
    *
    * Pair graphs at or under [[LocalCcMaxEdges]] skip the loop: the
    * collected edge list union-finds on the driver in one pass
    * ([[localUnionFind]]) — identical labels, none of the per-round
    * job scheduling. */
  /** Edge-count bound under which connected components run as one
    * driver-side union-find pass instead of the distributed label
    * loop (see [[graft.core.UnionFind]] — the shared small-graph fast
    * path). Near-dup edge sets are bounded by dup density, not corpus
    * size — but NOT bounded in general, so the distributed loop stays
    * and engages past the threshold. */
  val LocalCcMaxEdges: Long = graft.core.UnionFind.LocalMaxEdges

  def nearDupClusters(docs: DataFrame, maxIters: Int = 10,
      localMaxEdges: Long = LocalCcMaxEdges,
      shingles: Option[DataFrame] = None,
      pairs: Option[DataFrame] = None): DataFrame = {
    // a provided pair frame (e.g. the session-shared [[sharedPairs]])
    // carries its own persistence; only a per-call build is a transient
    // persist, released at the end of the query
    val edges = pairs.map(_.select(col("a_id"), col("b_id")))
      .getOrElse(graft.core.SessionCache.transient(
        minhashLshPairs(docs, shingles = shingles)
          .select(col("a_id"), col("b_id"))))
    if (edges.count() * 2 <= localMaxEdges)
      return joinLabels(docs, localUnionFind(edges))
    distributedClusters(docs, edges, maxIters)
  }

  /** Driver union-find ([[graft.core.UnionFind]]) over a bounded
    * collected pair list; returns (doc_id, cluster_id) for
    * PARTICIPANTS only — the same partial frame the distributed loop
    * produces, joined back identically by [[joinLabels]]. */
  private def localUnionFind(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    graft.core.UnionFind.components(pairs.as[(Long, Long)].collect())
      .toSeq.toDF("doc_id", "cluster_id")
  }

  /** Left-join participant labels back onto the full doc list;
    * non-participants are their own singleton cluster. The local
    * union-find result is bounded (≤ [[LocalCcMaxEdges]] ids) and
    * broadcast; the distributed loop's label frame is unbounded and
    * takes the planner's choice. */
  private def joinLabels(docs: DataFrame, labels: DataFrame,
      broadcastLabels: Boolean = true): DataFrame = {
    val l = labels.withColumnsRenamed(Map("cluster_id" -> "lbl"))
    docs.select(col("doc_id"))
      .join(if (broadcastLabels) broadcast(l) else l, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
  }

  private def distributedClusters(docs: DataFrame, pairs: DataFrame,
      maxIters: Int): DataFrame = {
    // iterate ONLY over docs that appear in some pair — everything
    // else is a singleton cluster and needs no propagation (pair
    // participants are a tiny fraction of the corpus, so each round's
    // frames stay small regardless of corpus size)
    val edges = graft.core.SessionCache.transient(
      pairs.unionByName(pairs.select(col("b_id").as("a_id"),
        col("a_id").as("b_id")))
        .toDF("s", "t"))
    var labels = graft.core.SessionCache.transient(
      edges.select(col("s").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
    // labels only ever decrease (min-propagation is monotone), so the
    // label sum strictly decreases until fixpoint — one scalar
    // aggregate per round detects convergence, no self-join needed
    var prevSum = labels.agg(sum("cluster_id")).head().getLong(0)
    // one propagation hop: adopt min(own label, neighbors' labels).
    // (Pointer jumping would make rounds O(log diameter), but it needs
    // a label->label self-join of the evolving frame — a known Spark
    // self-join-ambiguity trap; near-dup components are shallow, so
    // the hop count stays small anyway.)
    def hop(l: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(l.withColumnsRenamed(
          Map("doc_id" -> "t", "cluster_id" -> "t_label")), Seq("t"))
        .groupBy(col("s").as("doc_id"))
        .agg(min(col("t_label")).as("nbr_min"))
      l.join(neighborMin, Seq("doc_id"))
        .select(col("doc_id"),
          least(col("cluster_id"), col("nbr_min")).as("cluster_id"))
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // eager localCheckpoint truncates the lineage each round — the
      // canonical iterative-algorithm discipline: without it the
      // logical plan (and its per-round analysis cost) grows with
      // every iteration even though execution reads the cache
      val next = hop(labels).trackedCheckpoint()
      val nextSum = next.agg(sum("cluster_id")).head().getLong(0)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    require(converged, s"CC did not converge within $maxIters rounds")
    joinLabels(docs, labels, broadcastLabels = false)
  }

  /** Cross-document shingle novelty — the corpus-level duplication
    * signal BEYOND pairwise dedup: for each document, how many of its
    * distinct word-n-gram shingles appear in at least one OTHER
    * document. High shared fractions flag boilerplate/template text
    * that pairwise near-dup thresholds miss (each pair overlaps a
    * little; the union overlaps a lot). Emitted as integer ppm.
    *
    * Shape: the shingle document-frequency table is one groupBy; the
    * probe is the same inverted-index equi-join the Jaccard operator
    * uses — never an all-pairs comparison. A doc's own occurrence is
    * discounted with df ≥ 2 (shingles are per-doc distinct, so df
    * counts documents). */
  def shingleNovelty(docs: DataFrame, n: Int = ShingleN,
      shingles: Option[DataFrame] = None): DataFrame = {
    val ss = shingles.getOrElse(
      graft.core.SessionCache.transient(shingleSets(docs, n)))
    val ex = ss.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("long")
          .as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        expr("((n_shingles - n_shared) * 1000000) div n_shingles")
          .as("novelty_e6"))
  }

  /** LSH quality audit: the MinHash+LSH candidate pairs compared
    * against the exact (df-capped) n-gram Jaccard pairs at the same
    * threshold — the precision/recall evidence a production dedup
    * rollout needs before trusting the approximate path ('both' = true
    * positive, 'lsh_only' = S-curve false positive, 'true_only' =
    * banding miss). Full-outer join of the two already-proven operators
    * on the pair key; both legs read the same shared shingle frame.
    * Absent-side scores report -1 (the join's null), keeping the output
    * all-non-null for the oracle hash. */
  def lshAudit(docs: DataFrame,
      shingles: Option[DataFrame] = None,
      pairs: Option[DataFrame] = None,
      cappedIndex: Option[DataFrame] = None,
      overlap: Option[DataFrame] = None): DataFrame = {
    val est = pairs.getOrElse(minhashLshPairs(docs, shingles = shingles))
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
    // the truth side is the SAME df-capped inverted-index join the
    // jaccard/containment queries run — take the session tiers through
    // the standard seams so a sweep builds the index self-join once,
    // not once more here (r16 left this caller on the per-query path)
    val tru = ngramJaccardPairs(docs, shingles = shingles,
        cappedIndex = cappedIndex, overlap = overlap)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    est.join(tru, Seq("a_id", "b_id"), "full_outer")
      .select(col("a_id"), col("b_id"),
        coalesce(col("est_jaccard"), lit(-1.0)).as("est_jaccard"),
        coalesce(col("jaccard"), lit(-1.0)).as("jaccard"),
        when(col("est_jaccard").isNotNull && col("jaccard").isNotNull,
          lit("both"))
          .when(col("est_jaccard").isNotNull, lit("lsh_only"))
          .otherwise(lit("true_only")).as("status"))
  }

  /** Duplicated-span token window width (Lee et al. 2022 use 50-token
    * substrings; 5 fits the synthetic corpus' ~40-token docs) and the
    * cross-document df at which a span counts as duplicated. */
  val SpanN = 5
  val SpanMinDf = 2

  /** Shingles of a token ARRAY with every occurrence kept (positions
    * matter — [[shingleSets]]' distinct form can't say where a dup
    * span starts). */
  private def shinglesOfTokens(w: Column, n: Int): Column = {
    val cnt = size(w) - (n - 1)
    when(cnt < 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), cnt), i =>
        concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
  }

  /** Duplicated-span removal — the distributed shape of exact-substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): a token position is COVERED when it
    * falls inside any n-token window that also occurs in ≥ minDf
    * documents; covered positions are cut and the survivors are
    * reassembled in order. Emits per-doc token/coverage counts
    * (integer ppm) plus the MD5 of the cleaned text.
    *
    * Scale shape — everything is linear in corpus size: span df is one
    * groupBy on the span key; coverage is the inverted-index equi-join
    * (the [[ngramJaccardPairs]] guard pattern) followed by a bounded
    * ×n position explode; reassembly is one per-doc aggregate whose
    * `array_sort(collect_list(struct(pos, tok)))` makes the
    * non-deterministic collect order irrelevant. No all-pairs join,
    * no driver-side state. */
  def dupSpanRemoval(docs: DataFrame, n: Int = SpanN,
      minDf: Int = SpanMinDf): DataFrame = {
    import graft.text.CorpusStats.tokenArray
    val toks = graft.core.SessionCache.transient(
      graft.core.Spread(docs)
        .select(col("doc_id"), tokenArray(col("text")).as("w")))
    // spans with their 0-based start position; persisted because both
    // the df aggregate and the coverage probe read it
    val shp = graft.core.SessionCache.transient(
      toks.select(col("doc_id"),
        posexplode(shinglesOfTokens(col("w"), n)))
        .select(col("doc_id"), col("pos"), col("col").as("sh")))
    val dup = shp.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("sh"))
    val cov = shp.join(dup, Seq("sh"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
      .distinct()
    val covAgg = cov.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_covered"))
    val kept = toks
      .select(col("doc_id"), posexplode(col("w")))
      .select(col("doc_id"), col("pos").as("tpos"), col("col").as("tok"))
      .join(cov, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("tpos"), col("tok")))),
        s => s.getField("tok")), " ").as("clean_text"))
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(covAgg, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).cast("long").as("n_covered"),
        coalesce(expr("(coalesce(n_covered, 0) * 1000000) div n_tokens"),
          lit(0L)).as("covered_ppm"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_fp"))
  }

  /** Canonical-representative selection over the near-dup clusters:
    * each cluster keeps its highest-quality member (quality desc,
    * doc_id asc tiebreak) — the curation decision layered on
    * [[nearDupClusters]] when "keep the lowest id" would discard the
    * best-written copy. One window over cluster-partitioned rows after
    * the CC labels; singleton clusters (the vast majority) pass
    * through rank 1 untouched. */
  def canonicalReps(docs: DataFrame,
      shingles: Option[DataFrame] = None,
      clusterLabels: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = clusterLabels.getOrElse(
      nearDupClusters(docs, shingles = shingles))
    val scored = docs.select(col("doc_id"),
      qualityScore(col("text")).as("quality"))
    clusters.join(scored, Seq("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(desc("quality"), asc("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        when(col("rk") === 1, 1L).otherwise(0L).as("is_rep"))
  }

  /** Incremental dedup: flag INCOMING docs that near-duplicate a doc
    * already in the EXISTING corpus — the arrival-time variant of
    * X2/X3 that a rolling 100 TB ingest actually runs. The existing
    * side's banded signatures are the stored index (built once per
    * corpus snapshot and reused across batches; derived on the fly
    * here), the incoming batch bands against it, and candidates come
    * from the band equi-join — cost \|batch\| + \|matched bands\|,
    * never \|corpus\| pairs. Emits one row per incoming doc: its best
    * existing partner by estimated Jaccard (ties → min existing id),
    * or NULL/is_dup=0 when genuinely new. Signatures are per-doc
    * functions, so sign-then-split ≡ split-then-sign and the shared
    * shingle cache serves both sides. */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
      numHashes: Int = NumHashes, bands: Int = Bands,
      minEst: Double = MinEstJaccard,
      incomingShingles: Option[DataFrame] = None,
      existingShingles: Option[DataFrame] = None): DataFrame =
    incrementalDedupBySig(
      graft.core.SessionCache.transient(
        minhashSignature(incoming, numHashes, incomingShingles)),
      graft.core.SessionCache.transient(
        minhashSignature(existing, numHashes, existingShingles)),
      numHashes, bands, minEst,
      allIncoming = Some(incoming.select(col("doc_id"))))

  /** Signature-level core of [[incrementalDedup]]: flag the incoming
    * `(doc_id, sig)` frame against an existing signature index — the
    * form a streaming ingest runs, where the index is STORED state
    * ([[graft.streaming.StreamDedup]]) and each document's signature
    * is computed exactly once, ever. `allIncoming` restores the
    * one-row-per-incoming-doc contract for docs too short to shingle
    * (they carry no signature but still pass through as novel). */
  def incrementalDedupBySig(inSig: DataFrame, exSig: DataFrame,
      numHashes: Int = NumHashes, bands: Int = Bands,
      minEst: Double = MinEstJaccard,
      allIncoming: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inB = banded(inSig, numHashes, bands)
      .select(col("doc_id").as("in_id"), col("sig").as("a_sig"),
        col("band"), col("bval"))
    val exB = banded(exSig, numHashes, bands)
      .select(col("doc_id").as("ex_id"), col("sig").as("b_sig"),
        col("band"), col("bval"))
    val agree = aggregate(
      zip_with(col("a_sig"), col("b_sig"),
        (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    val best = inB.join(exB, Seq("band", "bval"))
      .dropDuplicates("in_id", "ex_id")
      .select(col("in_id"), col("ex_id"),
        round(agree / numHashes.toDouble, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("in_id"))
          .orderBy(desc("est_jaccard"), asc("ex_id"))))
      .filter(col("rk") === 1)
    allIncoming.getOrElse(inSig).select(col("doc_id"))
      .join(best, col("doc_id") === col("in_id"), "left")
      .select(col("doc_id"), col("ex_id").as("dup_of"),
        col("est_jaccard"),
        when(col("ex_id").isNull, 0L).otherwise(1L).as("is_dup"))
  }

  /** Cluster-size histogram over the near-dup components — the dedup
    * coverage report (how much of the corpus is duplicated, at what
    * multiplicity: the "number of copies" curve dedup papers plot, and
    * the first thing to eyeball before choosing keep-one vs drop-all).
    * Two tiny hash aggregates past the shared cluster labels; scale
    * cost is the label computation itself, amortized across the family
    * via the shared shingle cache. */
  def clusterSizeHistogram(docs: DataFrame,
      shingles: Option[DataFrame] = None,
      clusterLabels: Option[DataFrame] = None): DataFrame =
    clusterLabels.getOrElse(nearDupClusters(docs, shingles = shingles))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))

  /** Session-cached df-capped inverted index `(doc_id, sh)` for the
    * `documents` table — the frame BOTH symmetric Jaccard (X5) and
    * directed containment (X176) probe: explode the shared shingle
    * tier, drop shingles with df > [[MaxShingleDf]] (the hot-term
    * guard that is part of both statistics), keep the rest. One
    * sweep-wide materialization instead of one per consuming query
    * (r16, guide §2.4). */
  def sharedCappedIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"cappedindex:$dir") {
      val ex = sharedShingles(spark, dir)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
      val rare = ex.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxShingleDf)
        .select(col("sh"))
      ex.join(rare, Seq("sh"))
    }

  /** Session-cached shared-shingle overlap counts
    * `(a_id < b_id, shared)` over [[sharedCappedIndex]] — the
    * inverted-index self-join both X5 and X176 aggregate; the single
    * most expensive dedup-family step after the shingle tier itself,
    * now paid once per sweep (r16). */
  def sharedOverlapCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"overlapcounts:$dir") {
      val exF = sharedCappedIndex(spark, dir)
      exF.select(col("doc_id").as("a_id"), col("sh"))
        .join(exF.select(col("doc_id").as("b_id"), col("sh")), Seq("sh"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("shared"))
    }

  /** True n-gram Jaccard near-dup pairs via the inverted-index join.
    * Shingles occurring in more than maxDf documents are dropped from
    * BOTH numerator and denominator (consistent set semantics) before
    * the join — the hot-term guard that keeps the join linear-ish.
    * `cappedIndex`/`overlap`: the session tiers ([[sharedCappedIndex]]
    * / [[sharedOverlapCounts]]) when `docs` is the documents table at
    * the tier's `dir` and the caps are the defaults. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = ShingleN,
      minJaccard: Double = MinJaccard, maxDf: Int = MaxShingleDf,
      shingles: Option[DataFrame] = None,
      cappedIndex: Option[DataFrame] = None,
      overlap: Option[DataFrame] = None): DataFrame = {
    // persist BEFORE explode: the cache boundary stops the optimizer
    // from re-inlining the shingle expression into the Generate (which
    // re-evaluates normalize+split per element), and the frame feeds
    // three consumers (df-cap aggregate, and both sides via exF)
    lazy val ss = shingles.getOrElse(
      graft.core.SessionCache.transient(shingleSets(docs, n)))
    val exF = cappedIndex.getOrElse {
      val ex = ss.select(col("doc_id"), explode(col("shingles")).as("sh"))
      val rare = ex.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf)
        .select(col("sh"))
      // read by the counts agg and BOTH sides of the pair join: persist
      graft.core.SessionCache.transient(ex.join(rare, Seq("sh")))
    }
    val counts = exF.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shared = overlap.getOrElse(
      exF.select(col("doc_id").as("a_id"), col("sh"))
        .join(exF.select(col("doc_id").as("b_id"), col("sh")), Seq("sh"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("shared")))
    shared
      .join(counts.withColumnsRenamed(Map("doc_id" -> "a_id", "n_sh" -> "na")),
        Seq("a_id"))
      .join(counts.withColumnsRenamed(Map("doc_id" -> "b_id", "n_sh" -> "nb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(col("shared") / (col("na") + col("nb") - col("shared")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Asymmetric shingle CONTAINMENT pairs (X176) — the sub-document
    * detector symmetric Jaccard is blind to: a short doc fully pasted
    * inside a long one scores C(A→B) = |A∩B|/|A| ≈ 1 while the
    * Jaccard |A∩B|/|A∪B| stays tiny (the union is dominated by B), so
    * a Jaccard-threshold dedup keeps the copy. Quote/excerpt
    * detection, license-text stripping and "is this doc subsumed"
    * curation all need the directed form. Emits BOTH directions per
    * intersecting pair (containment is not symmetric), in exact
    * integer ppm — `(shared·10⁶) div n_src`.
    *
    * Scale: the SAME df-capped inverted-index equi-join as X5 (the
    * hot-shingle cap is part of the statistic there and here), one
    * extra projection to flip direction — no new joins; shares the
    * session shingle cache. */
  def containmentPairs(docs: DataFrame, n: Int = ShingleN,
      minPpm: Long = 500000L, maxDf: Int = MaxShingleDf,
      shingles: Option[DataFrame] = None,
      cappedIndex: Option[DataFrame] = None,
      overlap: Option[DataFrame] = None): DataFrame = {
    lazy val ss = shingles.getOrElse(
      graft.core.SessionCache.transient(shingleSets(docs, n)))
    val exF = cappedIndex.getOrElse {
      val ex = ss.select(col("doc_id"), explode(col("shingles")).as("sh"))
      val rare = ex.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf)
        .select(col("sh"))
      graft.core.SessionCache.transient(ex.join(rare, Seq("sh")))
    }
    val counts = exF.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_sh"))
    val shared = overlap
      .map(_.select(col("a_id"), col("b_id"),
        col("shared").cast("long").as("shared")))
      .getOrElse(exF.select(col("doc_id").as("a_id"), col("sh"))
        .join(exF.select(col("doc_id").as("b_id"), col("sh")), Seq("sh"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).cast("long").as("shared")))
    val directed = shared
      .select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
        col("shared"))
      .unionByName(shared.select(col("b_id").as("src_id"),
        col("a_id").as("dst_id"), col("shared")))
    directed
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "src_id", "n_sh" -> "n_src")), Seq("src_id"))
      .select(col("src_id"), col("dst_id"), col("shared"),
        col("n_src"),
        expr("(shared * 1000000) div n_src").as("containment_ppm"))
      .filter(col("containment_ppm") >= minPpm)
  }

  /** Session-cached [[prefixFilterPairs]] output for the `documents`
    * table at `dir` — third tier of the dedup family cache: the exact
    * τ-Jaccard pair set feeds both the pair listing and the
    * top-k-neighbors view, so a sweep pays the prefix join once. */
  def sharedExactPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"ppjoinpairs:$dir")(
      prefixFilterPairs(graft.core.Tables(spark, dir, "documents"),
        shingles = Some(sharedShingles(spark, dir))))

  /** EXACT threshold-Jaccard pair join via PREFIX FILTERING (the
    * PPJoin family — Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08): every pair with Jaccard ≥ τ is
    * returned, with NO df cap and NO all-pairs join.
    *
    * Why this exists next to [[ngramJaccardPairs]]: the inverted-index
    * join stays linear only by DROPPING shingles with df > maxDf —
    * a semantic change (capped Jaccard). Prefix filtering is lossless:
    * sort each doc's shingles by a global rarest-first total order
    * (df asc, shingle asc) and join only each doc's first
    * n − ⌈τ·n⌉ + 1 shingles. If jac(x,y) ≥ τ then |x∩y| ≥ τ·|x| (since
    * |x∪y| ≥ |x|), so x's overlap cannot fit inside its ⌈τ·n⌉ − 1
    * suffix — every qualifying pair MUST collide on a prefix shingle
    * of both sides, and the candidate set provably contains all
    * answers. Candidates then verify with one exact array
    * intersection.
    *
    * Scale shape: prefixes hold each doc's RAREST shingles, so the
    * candidate join's per-key blowup is df²-bounded over low-df keys
    * by construction (hot shingles sort to the suffix and never join)
    * — the skew-proofing falls out of the algorithm instead of a
    * semantic cap. Everything else is per-doc map work and equi-joins;
    * the length filter (⌊min·10⁶⌋ ≥ max·τ_e6) and the PPJoin
    * positional filter (inline below) prune size- and
    * position-incompatible candidates before verification. All
    * comparisons are integer cross-multiplications — exact in both
    * engines. */
  def prefixFilterPairs(docs: DataFrame, n: Int = ShingleN,
      minJaccard: Double = MinJaccard,
      shingles: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tauE6 = math.round(minJaccard * 1e6)
    val ss = graft.core.SessionCache.transient(
      shingles.getOrElse(shingleSets(docs, n))
        .filter(size(col("shingles")) > 0))
    val ex = ss.select(col("doc_id"), explode(col("shingles")).as("sh"))
    // rarest-first global total order = (df asc, shingle asc); the
    // rank is deterministic because shingles are per-doc unique.
    // df rides a WINDOW over the (sh)-partitioned explode and the
    // per-doc rank/size share the (doc_id) exchange — two exchanges
    // end to end where the r16 shape (groupBy df + join back +
    // collect_list/array_sort/slice/re-explode) paid three plus the
    // per-doc array build (profiled at 1.8 s + 1.1 s persist of the
    // 4.2 s tier). `pos` is the rank itself — free, and what the
    // positional filter below needs.
    // Persisted: BOTH sides of the candidate join read this frame.
    val pfx = graft.core.SessionCache.transient(ex
      .withColumn("dfc", count(lit(1))
        .over(Window.partitionBy(col("sh"))).cast("long"))
      .withColumn("n_sh", count(lit(1))
        .over(Window.partitionBy(col("doc_id"))).cast("long"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("doc_id"))
          .orderBy(col("dfc"), col("sh"))).cast("long"))
      .filter(col("pos") <=
        col("n_sh") - expr(s"(n_sh * $tauE6 + 999999) div 1000000") + 1)
      .select(col("doc_id"), col("n_sh"), col("pos"), col("sh")))
    val cands = pfx
      .select(col("doc_id").as("a_id"), col("n_sh").as("na"),
        col("pos").as("pa"), col("sh"))
      .join(pfx.select(col("doc_id").as("b_id"), col("n_sh").as("nb"),
        col("pos").as("pb"), col("sh")), Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .filter(least(col("na"), col("nb")) * lit(1000000L) >=
        greatest(col("na"), col("nb")) * lit(tauE6))
      // PPJoin POSITIONAL filter (Xiao et al. §3.2), lossless: the
      // tokens of both docs follow ONE global order, so at a
      // qualifying pair's FIRST collision no earlier common token
      // exists and |x∩y| ≤ 1 + min(|x|−pa, |y|−pb); jac ≥ τ ⟺
      // inter·(1+τ) ≥ τ·(na+nb), so a collision row may be dropped
      // unless its bound clears that bar — the first collision of
      // every qualifying pair always does, later collisions of the
      // same pair may not (they need not: distinct keeps the pair) —
      // integer cross-multiplication, exact in both engines
      .filter((lit(1L) + least(col("na") - col("pa"),
          col("nb") - col("pb"))) * lit(1000000L + tauE6) >=
        lit(tauE6) * (col("na") + col("nb")))
      .select(col("a_id"), col("b_id")).distinct()
    val arrays = ss.select(col("doc_id"), col("shingles"))
    cands
      .join(arrays.select(col("doc_id").as("a_id"),
        col("shingles").as("ash")), Seq("a_id"))
      .join(arrays.select(col("doc_id").as("b_id"),
        col("shingles").as("bsh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("ash"), col("bsh"))).cast("long")
          .as("inter"),
        size(col("ash")).cast("long").as("na"),
        size(col("bsh")).cast("long").as("nb"))
      .filter(col("inter") * lit(1000000L) >=
        lit(tauE6) * (col("na") + col("nb") - col("inter")))
      .select(col("a_id"), col("b_id"), col("inter"), col("na"),
        col("nb"),
        expr("(inter * 1000000) div (na + nb - inter)").as("jac_e6"))
  }

  // ---- winnowing (MOSS) fingerprints ----

  /** Winnowing window size w: every w consecutive k-gram hashes
    * contribute their minimum, guaranteeing any shared run of
    * w + WinnowGramN − 1 tokens shares ≥ 1 selected fingerprint —
    * the coverage guarantee fixed-stride sampling (X18) lacks. */
  val WinnowWindow = 4

  /** k-gram width for winnowing (reuses the word-shingle builder). */
  val WinnowGramN: Int = ShingleN

  /** Positions pack into the selection key below this bound —
    * guarded per row, not silently dropped. 2^20 grams ≈ a 1M-token
    * document; longer inputs should be pre-chunked (X96). */
  val WinnowPosCap: Long = 1L << 20

  /** Hot-fingerprint document-frequency cap before the pair join —
    * the same inverted-index guard as [[ngramJaccardPairs]]. */
  val WinnowMaxDf = 20

  /** Minimum shared winnowed fingerprints for a reported pair. */
  val WinnowMinShared = 2

  /** Winnowing (the MOSS local fingerprinting scheme): hash every
    * word k-gram, slide a w-wide window over the hash sequence, and
    * select each window's minimum — rightmost position on hash ties,
    * the standard rule, encoded by packing `(hash asc, pos desc)`
    * into ONE integer key `hash·2^20 + (2^20−1−pos)` so a plain
    * windowed `min` realizes the argmin identically in both engines.
    * Selection is position-LOCAL (a window sees only w neighbors), so
    * two documents sharing any sufficiently long token run select at
    * least one identical fingerprint — robust to content reordering
    * in a way global-min sampling (MinHash) is not, and
    * position-robust in a way fixed-stride sampling (X18) is not.
    *
    * Scale shape: one row per gram position, ONE shuffle on doc_id for
    * the per-doc ordered window (the X90 doc-partitioned-window
    * pattern — linear, never corpus-keyed), then a distinct on
    * (doc_id, fp). Docs with fewer than w grams select nothing (no
    * full window exists — winnowing's own contract).
    *
    * Returns distinct `(doc_id, fp)`. */
  def winnowedFingerprints(docs: DataFrame, n: Int = WinnowGramN,
      w: Int = WinnowWindow): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shingleSets discipline, for the same two reasons: the cheap
    // word-count PRE-filter (docs with < w full windows select nothing,
    // and < n+w−1 words ⟺ < w grams, so the filter is semantics-free)
    // keeps PushDownPredicates from inlining the gram expression into a
    // predicate, Spread repairs single-file parallelism, and the
    // transient persist is the barrier that stops posexplode's
    // Generate from re-inlining split(normalize) per element — without
    // it this ran 111 s at sf0.1 (one quadratic re-evaluation per gram
    // element on one core); with it, ~1 s
    val wcol = col("w")
    val cnt = size(wcol) - (n - 1)
    val gramArrays = graft.core.SessionCache.transient(
      graft.core.Spread(docs)
        .filter(size(split(normalize(col("text")), " ")) >= n + w - 1)
        .select(col("doc_id"), normalize(col("text")).as("nt"))
        .select(col("doc_id"), split(col("nt"), " ").as("w"))
        .select(col("doc_id"),
          transform(sequence(lit(1), cnt), i =>
            concat_ws(" ", (0 until n).map(j =>
              element_at(wcol, i + j)): _*)).as("grams")))
    val grams = gramArrays
      .select(col("doc_id"), posexplode(col("grams")).as(Seq("pos", "gram")))
    // per-row position guard in the house assert_true spelling (cf.
    // CorpusStats.guardedLiftE6): oversized docs fail loudly, never
    // silently lose fingerprints
    val posGuard = expr(
      s"coalesce(cast(assert_true(pos < $WinnowPosCap, " +
        "'winnow: gram position exceeds WinnowPosCap ? pre-chunk " +
        "oversized documents (X96) or raise the cap') as bigint), 0)")
    val keyed = grams
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        baseHash(col("gram")).as("h"))
      .select(col("doc_id"), col("pos"),
        (posGuard + col("h") * WinnowPosCap +
          (lit(WinnowPosCap - 1) - col("pos"))).as("key"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val win = byDoc.orderBy(col("pos")).rowsBetween(Window.currentRow, w - 1)
    keyed
      .select(col("doc_id"), col("pos"),
        min(col("key")).over(win).as("wk"),
        count(lit(1)).over(byDoc).as("ng"))
      .filter(col("pos") <= col("ng") - w) // full windows only
      .select(col("doc_id"), expr(s"wk div $WinnowPosCap").as("fp"))
      .distinct()
  }

  /** Golden-record construction over the near-dup clusters — the MDM
    * survivorship step after matching (X3 finds the cluster, X30 picks
    * the best member, THIS merges the members into one consolidated
    * record): per cluster, field-level survivorship rules — earliest
    * member id (stable key), longest text length (most complete
    * content), member count, distinct source count, and total token
    * mass. All rules are order-free aggregates (min/max/count/sum), so
    * the merge is one keyed aggregation — no window, no sort, exact in
    * any engine. Per-cluster cost is the member list; the cluster key
    * partitions the shuffle. */
  def goldenRecords(docs: DataFrame,
      clusterLabels: Option[DataFrame] = None): DataFrame = {
    val clusters = clusterLabels.getOrElse(nearDupClusters(docs))
    clusters.join(docs, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).cast("long").as("golden_id"),
        count(lit(1)).cast("long").as("n_members"),
        countDistinct(col("source")).cast("long").as("n_sources"),
        max(length(col("text"))).cast("long").as("max_chars"),
        sum(graft.text.TextAnalysis.tokenCount(col("text")))
          .cast("long").as("total_tokens"))
  }

  /** Near-dup candidate pairs from shared winnowed fingerprints:
    * df-capped inverted-index equi-join on fp (never all-pairs),
    * pairs reported with their shared-fingerprint count when it
    * reaches [[WinnowMinShared]]. */
  def winnowPairs(docs: DataFrame, maxDf: Int = WinnowMaxDf,
      minShared: Int = WinnowMinShared): DataFrame = {
    val fps = graft.core.SessionCache.transient(winnowedFingerprints(docs))
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("fp"))
    val f = graft.core.SessionCache.transient(fps.join(rare, Seq("fp")))
    f.select(col("doc_id").as("a_id"), col("fp"))
      .join(f.select(col("doc_id").as("b_id"), col("fp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Seed predicate for [[labelSpread]]: doc_id ≡ 0 (mod 10) —
    * deterministic and SF-invariant. */
  val LabelSeedMod = 10L

  /** Semi-supervised label densification over near-dup clusters
    * (X193) — the cheap label-multiplication step a curation pipeline
    * runs when labels are expensive (human review, an LLM judge) and
    * near-duplicates are plentiful: a label paid for ONCE on a seed
    * doc spreads to the seed's whole near-dup cluster, since
    * near-identical text deserves a near-identical label. Seeds keep
    * their own label; unlabeled docs take the majority seed label of
    * their cluster (ties → lexicographically smallest — deterministic
    * in any engine); docs in clusters with no seed stay `unlabeled`.
    *
    * Scale shape: the vote aggregate is cluster-grain (map-side
    * combinable), the winner pick is one window over the cluster-grain
    * votes (never the corpus), and both joins are key equi-joins
    * against the session-shared cluster labels — the expensive part
    * (LSH + connected components) is [[sharedClusters]], materialized
    * once per session and reused by four queries. */
  def labelSpread(docs: DataFrame, clusterLabels: DataFrame,
      seedMod: Long = LabelSeedMod): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = docs.filter(col("doc_id") % seedMod === 0)
      .select(col("doc_id"), col("source").as("seed_label"))
    val withSeed = clusterLabels.select(col("doc_id"), col("cluster_id"))
      .join(seeds, Seq("doc_id"), "left")
    val votes = withSeed.filter(col("seed_label").isNotNull)
      .groupBy(col("cluster_id"), col("seed_label"))
      .agg(count(lit(1)).cast("long").as("n_votes"))
    val winner = votes.withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(desc("n_votes"), asc("seed_label"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("seed_label").as("maj_label"),
        col("n_votes"))
    withSeed.join(winner, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("seed_label"), col("maj_label"), lit("unlabeled"))
          .as("label"),
        when(col("seed_label").isNotNull, 1L).otherwise(0L)
          .cast("long").as("is_seed"),
        coalesce(col("n_votes"), lit(0L)).cast("long").as("maj_votes"))
  }

  /** Post-dedup source-mix shift (X222) — the composition check run
    * AFTER near-dup dedup and BEFORE training: keeping one canonical
    * representative per cluster changes the SOURCE MIX (a heavily
    * self-duplicating feed shrinks, a clean feed's share grows), and
    * a mix that silently moved is a training-distribution change the
    * curator must sign off on. Per source: docs before, canonical
    * reps kept, integer-ppm drop rate, and the corpus mix share
    * before vs after — the before/after delta IS the distribution
    * shift. Singleton docs are their own cluster's rep, so every doc
    * is counted exactly once on each side.
    *
    * Scale shape: one doc-key equi-join of the (doc_id, source)
    * projection against the rep flags, one source-grain aggregate,
    * 1-row totals broadcast onto the ≤|sources| frame; the expensive
    * LSH + connected-components half is [[sharedClusters]],
    * materialized once per session. */
  def dedupMixShift(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.core.Tables(spark, dir, "documents")
    val reps = canonicalReps(docs,
      clusterLabels = Some(sharedClusters(spark, dir)))
    val per = docs.select(col("doc_id"), col("source"))
      .join(reps.select(col("doc_id"), col("is_rep")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("docs_before"),
        sum(col("is_rep")).cast("long").as("docs_kept"))
    per.crossJoin(broadcast(per.agg(
        sum(col("docs_before")).cast("long").as("t_before"),
        sum(col("docs_kept")).cast("long").as("t_kept"))))
      .select(col("source"), col("docs_before"), col("docs_kept"),
        expr("((docs_before - docs_kept) * 1000000) div docs_before")
          .cast("long").as("drop_ppm"),
        expr("(docs_before * 1000000) div greatest(t_before, 1)")
          .cast("long").as("mix_before_ppm"),
        expr("(docs_kept * 1000000) div greatest(t_kept, 1)")
          .cast("long").as("mix_after_ppm"))
  }

  /** Cross-source duplicate-flow matrix (X218) — the provenance read
    * a corpus curator runs off the near-dup pair set: aggregating the
    * MinHash-LSH pairs by their endpoints' (source, source) tells you
    * which feeds copy which ("crawl-B is mostly mirrors of crawl-A")
    * and how much of the duplication is intra-source boilerplate vs
    * cross-source syndication — the number that decides whether to
    * drop a whole source before paying for per-document dedup. Source
    * pairs are canonicalized unordered (least, greatest) so A→B and
    * B→A aggregate into one cell; `is_intra` flags the diagonal.
    *
    * Scale shape: two doc-key equi-joins at PAIR grain (the LSH pair
    * set is the bounded candidate output, never all-pairs) against
    * the corpus-sized (doc_id, source) projection — hash joins on the
    * doc key, no broadcast of anything corpus-sized; then one
    * aggregate to the ≤|sources|² matrix and a 1-row broadcast total.
    * The expensive half (shingle→signature→band→bucket-join) is
    * [[sharedPairs]], materialized once per session. */
  def sourceDupMatrix(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val src = graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val cells = sharedPairs(spark, dir)
      .join(src.withColumnsRenamed(
        Map("doc_id" -> "a_id", "source" -> "src_a")), Seq("a_id"))
      .join(src.withColumnsRenamed(
        Map("doc_id" -> "b_id", "source" -> "src_b")), Seq("b_id"))
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    cells.crossJoin(broadcast(
        cells.agg(sum(col("n_pairs")).cast("long").as("n_total"))))
      .select(col("source_lo"), col("source_hi"), col("n_pairs"),
        expr("(n_pairs * 1000000) div greatest(n_total, 1)")
          .cast("long").as("share_ppm"),
        when(col("source_lo") === col("source_hi"), 1L).otherwise(0L)
          .as("is_intra"))
  }
}
