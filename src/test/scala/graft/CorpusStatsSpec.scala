package graft

import org.apache.spark.sql.functions._
import graft.text.CorpusStats
import graft.pipeline.Pipeline

class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionSignals: exact ppm fractions; empty/one-token docs zero") {
    val docs = Seq(
      (1L, "a a a b"), // bigrams: "a a","a a","a b"
      (2L, "x"),       // one token, no bigrams
      (3L, "!!!"))     // normalizes to empty
      .toDF("doc_id", "text")
    val r = CorpusStats.repetitionSignals(docs).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
          x.getLong(5))).toMap
    assert(r(1L) == ((4L, 2L, 500000L, 750000L, 666666L)))
    assert(r(2L) == ((1L, 1L, 0L, 1000000L, 0L)))
    assert(r(3L) == ((0L, 0L, 0L, 0L, 0L)))
    graft.core.SessionCache.endQuery()
  }

  test("dupNgramCoverage: positions under a within-doc repeated " +
    "trigram count once; repeat-free and empty docs zero") {
    val docs = Seq(
      // "a b c" occurs twice: covers positions 0-2 and 3-5 of 7 → 6/7
      (1L, "a b c a b c x"),
      (2L, "p q r s"),  // all trigrams unique → 0 covered
      (3L, "!!!"))      // normalizes to empty → 0 tokens
      .toDF("doc_id", "text")
    val r = CorpusStats.dupNgramCoverage(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == ((7L, 6L, 6000000L / 7L)))
    assert(r(2L) == ((4L, 0L, 0L)))
    assert(r(3L) == ((0L, 0L, 0L)))
  }

  test("vocabMergeIncremental: stored counts + batch scan equals the " +
    "full recomputation, including rank flips the batch causes") {
    val old = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    // the batch makes cherry overtake apple and introduces durian
    val batch = Seq((3L, "cherry cherry durian")).toDF("doc_id", "text")
    val merged = CorpusStats.vocabMergeIncremental(
      CorpusStats.tokenCountsOf(old), batch, k = 10)
      .select("rank", "token", "n").as[(Long, String, Long)]
      .collect().toSeq.sortBy(_._1)
    val full = CorpusStats.vocabTopK(old.unionByName(batch), k = 10)
      .select("rank", "token", "n").as[(Long, String, Long)]
      .collect().toSeq.sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(merged == full)
    assert(merged.map(t => (t._2, t._3)) ==
      Seq(("cherry", 3L), ("apple", 2L), ("banana", 2L), ("durian", 1L)))
  }

  test("tokenRarity: corpus term frequencies roll up per doc") {
    val docs = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    // corpus tf: a=2, b=1
    val r = CorpusStats.tokenRarity(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r(1L) == ((2L, 1L, 1500000L))) // (2+1)*1e6 div 2
    assert(r(2L) == ((1L, 2L, 2000000L)))
    graft.core.SessionCache.endQuery()
  }

  test("vocabTopK: count-desc token-asc total order; exact k boundary") {
    val docs = Seq((1L, "a a b c"), (2L, "c")).toDF("doc_id", "text")
    // counts: a=2, c=2, b=1 — tie a/c breaks on token asc
    val r = CorpusStats.vocabTopK(docs, k = 2)
      .select($"token", $"n", $"rank").as[(String, Long, Long)]
      .collect().sortBy(_._3)
    assert(r.toSeq == Seq(("a", 2L, 1L), ("c", 2L, 2L)))
  }

  test("temperature thresholds: tail upsampled, head downsampled, " +
    "mass lands on targetFrac") {
    val docs = ((0 until 80).map(i => (i.toLong, "en")) ++
      (80 until 100).map(i => (i.toLong, "zh")))
      .toDF("doc_id", "lang")
    val th = Pipeline.temperatureThresholds(docs, targetFrac = 0.5).toMap
    assert(th("zh") > th("en")) // α<1 flattens: minority keeps more
    // Σ rate_l · p_l = F exactly when nothing caps at 1
    val mass = th("en") / 1e6 * 0.8 + th("zh") / 1e6 * 0.2
    assert(math.abs(mass - 0.5) < 1e-5, s"mass=$mass")
    // sampling keeps exactly the rows under the per-lang threshold
    val kept = Pipeline.temperatureSample(docs, targetFrac = 0.5)
    assert(kept.filter($"bucket_e6" >= $"keep_thresh_e6").count() == 0)
    val byLang = kept.groupBy($"lang").count().as[(String, Long)]
      .collect().toMap
    assert(byLang("en") > 0 && byLang("zh") > 0)
    // determinism: re-running selects the identical doc set
    val ids1 = kept.select($"doc_id").as[Long].collect().sorted.toSeq
    val ids2 = Pipeline.temperatureSample(docs, targetFrac = 0.5)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
  }

  test("temperature thresholds cap at 1e6 when a tail rate exceeds 1") {
    // one doc of 'rare' among 99 'en': rate_rare = F·sqrt(p)/s/p >> 1
    val docs = ((0 until 99).map(i => (i.toLong, "en")) :+ (99L, "rare"))
      .toDF("doc_id", "lang")
    val th = Pipeline.temperatureThresholds(docs).toMap
    assert(th("rare") == 1000000L)
  }

  test("collocations: glued pair outranks independent pair; min count") {
    // "x y" always adjacent (lift >> 1); "a b" co-occur but a/b also
    // appear apart (lower lift); "q r" appears only 2 times (< min 3)
    val docs = (1 to 6).map(i => (i.toLong, "x y a c b d a b"))
      .++(Seq((7L, "q r q r"), (8L, "a d b c")))
      .toSeq.toDF("doc_id", "text")
    val r = CorpusStats.collocations(docs, k = 10, minCount = 3)
      .select($"bigram", $"lift_e6", $"rank")
      .as[(String, Long, Long)].collect()
    val byB = r.map(x => x._1 -> x._2).toMap
    assert(byB.contains("x y") && byB.contains("a b"))
    assert(byB("x y") > byB("a b"), s"lift order: $byB")
    assert(!byB.contains("q r")) // below min count
    assert(r.map(_._3).sorted.sameElements(1L to r.length))
    graft.core.SessionCache.endQuery()
  }

  test("bpePairCounts: adjacent 2-char pairs weighted by token " +
    "frequency; single-char tokens contribute nothing") {
    // 'xy' ×3, 'zz' ×1, 'q' ×2 (too short to pair)
    val docs = Seq((1L, "xy xy zz q"), (2L, "xy q"))
      .toDF("doc_id", "text")
    val r = CorpusStats.bpePairCounts(docs, k = 10)
      .select($"pair", $"w", $"rank").as[(String, Long, Long)].collect()
    assert(r.toSeq.sortBy(_._3) ==
      Seq(("xy", 3L, 1L), ("zz", 1L, 2L)))
  }

  test("bpeTrainMerges: greedy left-to-right chains (the 'a a a a' " +
    "case), multi-round merge composition, early stop") {
    // 'aaaa' ×2: round 1 merges the doubled pair at chain offsets
    // 0 and 2 (NOT a naive replace-all) → [aa, aa]; round 2 merges
    // the composed pair; then no pairs remain → exactly 2 rows
    val docs = Seq((1L, "aaaa aaaa b")).toDF("doc_id", "text")
    val r = CorpusStats.bpeTrainMerges(docs, rounds = 6)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq((1L, "a a", 6L), (2L, "aa aa", 2L)), r.toSeq)
  }

  test("bpeFertility: per-doc sub-word tokens per word after the " +
    "trained merges, integer ppm") {
    // rounds=2: 'aaaa' fully merges (a a → aa, then aa aa → aaaa);
    // 'ab' stays 2 symbols → doc: 3 words, 2·1 + 1·2 = 4 bpe tokens
    val docs = Seq((1L, "aaaa aaaa ab")).toDF("doc_id", "text")
    val r = CorpusStats.bpeFertility(docs, rounds = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 3L, 4L, 1333333L)), r.toSeq)
  }

  test("cmsHeavyHitters: estimates are one-sided (est >= exact), " +
    "top token exact, and partial-sketch merge = direct sketch") {
    // 'alpha' 30×, 'beta' 12×, singles once each, spread over 2 sources
    val docs = ((1 to 6).map(i =>
      (i.toLong, "alpha alpha alpha alpha alpha beta beta", "s1")) ++
      Seq((7L, "alpha beta gamma delta", "s2"), (8L, "alpha beta zz", "s2")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", lit(0L))
    val r = CorpusStats.cmsHeavyHitters(docs, k = 4)
      .select($"token", $"n_exact", $"est_cms", $"rank")
      .as[(String, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(r.length == 4)
    // CMS error is one-sided: never an underestimate
    assert(r.forall { case (_, ex, est, _) => est >= ex })
    val byTok = r.map(x => x._1 -> x._2).toMap
    assert(byTok("alpha") == 32L && byTok("beta") == 14L)
    assert(r.find(_._4 == 1L).get._1 == "alpha")
    // tiny vocab in an 8192-bucket row: no collisions, so the min
    // over depth rows recovers the exact count
    assert(r.forall { case (_, ex, est, _) => est == ex })
  }

  test("guardedLiftE6: safe range matches the raw formula; overflow range throws") {
    // counts as plain columns: the guard is pure expression logic, so a
    // synthetic count frame exercises ranges no fixture corpus can reach
    def lift(nAb: Long, nA: Long, nB: Long, nUni: Long, nBi: Long) =
      Seq((nAb, nA, nB, nUni, nBi))
        .toDF("n_ab", "n_a", "n_b", "n_uni_total", "n_bi_total")
        .select(CorpusStats.guardedLiftE6.as("lift_e6"))
    // safe: n_ab·1e6·N_uni = 5e13 — well inside 2^63; value = raw formula
    val safe = lift(nAb = 50L, nA = 100L, nB = 200L,
      nUni = 1000000L, nBi = 999000L).as[Long].head()
    assert(safe == ((50L * 1000000L * 1000000L) / (100L * 999000L))
      * 1000000L / 200L)
    // overflow: n_ab·1e6·N_uni ≈ 10^19 > 2^63-1 — the documented
    // 10¹⁰-token-corpus stock-bigram case; must THROW, not wrap
    val big = intercept[Exception] {
      lift(nAb = 1000000L, nA = 2000000L, nB = 2000000L,
        nUni = 10000000000L, nBi = 9999999999L).as[Long].head()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(big).exists(_.contains("Long-exact range")), msgs(big))
  }

  test("oovRate: ppm of tokens outside the top-k vocab; empty doc zeros") {
    // vocab k=2 -> {a, b} (a=3, b=2, z=1); doc 1 has 1 OOV of 3 tokens
    val docs = Seq((1L, "a b z"), (2L, "a b a"), (3L, "!!!"))
      .toDF("doc_id", "text")
    val r = CorpusStats.oovRate(docs, k = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    assert(r(1L) == ((3L, 1L, 333333L)))
    assert(r(2L) == ((3L, 0L, 0L)))
    assert(r(3L) == ((0L, 0L, 0L)))
  }

  test("tfIdfTopTerms: rare term outranks common ones; k bound holds") {
    val docs = Seq(
      (1L, "common common common zebra"),
      (2L, "common common common common"),
      (3L, "common filler filler filler"))
      .toDF("doc_id", "text")
    val r = CorpusStats.tfIdfTopTerms(docs)
      .select("doc_id", "term", "rank", "score_e6")
      .as[(Long, String, Long, Long)].collect().toSeq
    graft.core.SessionCache.endQuery()
    // zebra: tf=1 df=1 dl=4 -> (1*1e6*3)/(1*4) = 750000; common in doc 1:
    // tf=3 df=3 dl=4 -> (3*1e6*3)/(3*4) = 750000 -> term-asc tiebreak
    val d1 = r.filter(_._1 == 1L).sortBy(_._3)
    assert(d1.map(t => (t._2, t._4)) ==
      Seq(("common", 750000L), ("zebra", 750000L)))
    assert(r.groupBy(_._1).values.forall(_.size <= CorpusStats.TfIdfK))
    assert(r.filter(_._1 == 3L).maxBy(_._4)._2 == "filler")
  }

  test("lengthDeciles: ranks are a permutation and tiles are equi-depth") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val n = docs.count()
    val r = Pipeline.lengthDeciles(docs)
      .select("doc_id", "n_chars", "global_rank", "tile")
      .as[(Long, Long, Long, Long)].collect().toSeq
    graft.core.SessionCache.endQuery()
    assert(r.map(_._3).sorted == (1L to n).toSeq)
    // rank agrees with the local sort by (n_chars, doc_id)
    val expect = r.sortBy(x => (x._2, x._1)).zipWithIndex
      .map { case (x, i) => x._1 -> (i + 1L) }.toMap
    r.foreach(x => assert(expect(x._1) == x._3))
    // equi-depth: each tile holds floor(n/10) or ceil(n/10) rows
    val sizes = r.groupBy(_._4).values.map(_.size.toLong)
    assert(sizes.forall(s => s == n / 10 || s == n / 10 + 1))
  }

  test("surprisalScores: bit_length(N div ctf) summed per doc; " +
    "rare tokens cost more bits; empty docs zero") {
    // corpus: a×4, b×2, c×1 → N=7; bits(a)=len(bin(1))=1,
    // bits(b)=len(bin(3))=2, bits(c)=len(bin(7))=3
    val docs = Seq((1L, "a a a a b"), (2L, "b c"), (3L, "!!!"))
      .toDF("doc_id", "text")
    val r = CorpusStats.surprisalScores(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == ((5L, 6L, 1200000L)))  // 4·1 + 2 bits
    assert(r(2L) == ((2L, 5L, 2500000L)))  // 2 + 3 bits
    assert(r(3L) == ((0L, 0L, 0L)))
    // the rare-token doc reads as higher-entropy than the common-token
    // doc — the filter signal
    assert(r(2L)._3 > r(1L)._3)
  }

  test("vocabGrowth: id-range buckets, first-appearance vocab, " +
    "cumulative rollup; empty-normal-form docs count as docs") {
    // ids 0..4, B=10 → bkt = 2·id
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "b c d"),
      (3L, "!!!"), (4L, "d a")).toDF("doc_id", "text")
    val r = CorpusStats.vocabGrowth(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(r.map(_._1).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    assert(r.map(_._3).toSeq == Seq(2L, 2L, 3L, 0L, 2L))  // n_tokens
    assert(r.map(_._4).toSeq == Seq(2L, 1L, 1L, 0L, 0L))  // new_vocab
    assert(r.map(_._5).toSeq == Seq(2L, 4L, 7L, 7L, 9L))  // cum_tokens
    assert(r.map(_._6).toSeq == Seq(2L, 3L, 4L, 4L, 4L))  // cum_vocab
  }

  test("dsirWeights: raw-vs-smoothed-target bits; floor semantics on " +
    "the negative per-token mean") {
    // raw: a:3 b:1 c:2, N=6, V=3; target(en): a:2 b:1, n_tgt=3
    // rb: a=2 b=3 c=2; tb (6 // (ctf_t+1)): a=2 b=2 c=3
    val docs = Seq((1L, "a a b", "en"), (2L, "a c c", "fr"))
      .toDF("doc_id", "text", "lang")
    val r = CorpusStats.dsirWeights(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5, x._6)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == ((3L, 7L, 6L, 1L, 333333L)))
    assert(r(2L) == ((3L, 6L, 8L, -2L, -666667L)))  // floor(-2/3·1e6)
  }

  test("vocabDrift: exact cross-multiplied TV contributions, " +
    "surging/collapsing tokens rank first") {
    // even half: a:3 b:1 c:1 (N0=5); odd half: a:1 b:2 (N1=3)
    // contrib: a=|9-5|=4, b=|3-10|=7, c=|3-0|=3
    val docs = Seq((0L, "a a b"), (2L, "a c"), (1L, "a b b"))
      .toDF("doc_id", "text")
    val r = CorpusStats.vocabDrift(docs)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(r.map(x => (x._1, x._2, x._5)).toSeq ==
      Seq((1L, "b", 7L), (2L, "a", 4L), (3L, "c", 3L)), r.toSeq.toString)
    assert(r.find(_._2 == "c").get._4 == 0L) // collapsed in odd half
  }

  test("perplexityBuckets: per-lang terciles over bits-per-token, " +
    "head = most fluent") {
    // en corpus: 'the'×many dominates; rare-token docs read as tail
    val docs = Seq(
      (1L, "the the the the", "en"), (2L, "the the data here", "en"),
      (3L, "zq xv wk jj", "en"),
      (4L, "aa bb", "fr"))
      .toDF("doc_id", "text", "lang")
    val r = CorpusStats.perplexityBuckets(docs)
      .as[(Long, String, Long, String)].collect()
      .map(x => x._1 -> (x._3, x._4)).toMap
    graft.core.SessionCache.endQuery()
    // exact tercile boundaries for n=3: ranks 1,2,3 → head/middle/tail
    assert(r(1L)._2 == "head" && r(3L)._2 == "tail")
    assert(r(2L)._2 == "middle")
    assert(r(4L)._2 == "head") // singleton language: rank 1 of 1
    assert(r(1L)._1 < r(2L)._1 && r(2L)._1 < r(3L)._1)
  }

  test("sourceOverlap: top-set Jaccard per source pair; disjoint " +
    "sources produce no row") {
    val docs = Seq((1L, "a b c", "A"), (2L, "a b d", "B"),
      (3L, "x y z", "C"))
      .toDF("doc_id", "text", "source")
    val r = CorpusStats.sourceOverlap(docs)
      .as[(String, String, Long, Long)].collect().toSeq
    graft.core.SessionCache.endQuery()
    assert(r == Seq(("A", "B", 2L, 500000L)), r.toString)
  }

  test("classBalance: hand-exact impurity — single class 0, uniform " +
    "two-class 500000, skewed 3-1 landing at 375000") {
    import spark.implicits._
    val df = Seq(
      ("solo", "en"), ("solo", "en"), ("solo", "en"),
      ("even", "en"), ("even", "de"), ("even", "en"), ("even", "de"),
      ("skew", "en"), ("skew", "en"), ("skew", "en"), ("skew", "de")
    ).toDF("source", "lang")
    val got = graft.text.CorpusStats
      .classBalance(df, "source", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("solo") === ((3L, 1L, 3L, 0L)))
    assert(got("even") === ((4L, 2L, 2L, 500000L)))
    // 1 - (9 + 1)/16 = 6/16 = 0.375
    assert(got("skew") === ((4L, 2L, 3L, 375000L)))
  }

  test("sourceVocabOverlap: hand-exact intersection and Jaccard ppm") {
    import spark.implicits._
    val docs = Seq(
      ("w1", "alpha beta gamma"), ("w1", "beta delta"),
      ("w2", "beta gamma epsilon"),
      ("w3", "zeta eta")
    ).toDF("source", "text")
    val got = graft.text.CorpusStats.sourceVocabOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    graft.core.SessionCache.endQuery()
    // V(w1)={alpha,beta,gamma,delta} V(w2)={beta,gamma,epsilon}
    // inter=2, union=5 -> 400000 ppm
    assert(got(("w1", "w2")) === ((2L, 4L, 3L, 400000L)))
    // w3 is disjoint from both: no rows (inner intersection join)
    assert(got.size === 1)
  }

  test("zipfSlope: hand-computed bits-OLS on an engineered " +
    "rank-frequency ladder") {
    // counts a:8 b:4 c:2 d:1 -> ranks 1..4; xb = bits(rank) 1,2,2,3;
    // yb = bits(n) 4,3,2,1; rebased x 0,1,1,2:
    // n=4 sx=4 sy=10 sxy=7 sxx=6 -> slope = (4*7-4*10)/(4*6-16)
    //                                      = -12/8 -> -1500000 e6
    val docs = Seq(("s1", 1L, "a a a a a a a a b b b b c c d"))
      .toDF("source", "doc_id", "text")
    val got = graft.text.CorpusStats.zipfSlope(docs)
      .as[(String, Long, Long, Long)].collect().toList
    assert(got === List(("s1", 4L, -1500000L, 2L)))
  }

  test("zipfSlope on the fixture: every source fits a negative slope") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val got = graft.text.CorpusStats.zipfSlope(docs)
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, n, slope, avg) =>
      assert(n > 10, s"$src vocabulary too small")
      // tiny smoke-SF sources can be all-singleton (flat bits -> 0)
      assert(slope <= 0L, s"$src slope should be <= 0, got $slope")
      assert(avg >= 1L)
    }
  }

  test("hapaxProfile: exact hapax and type-token ratios per source") {
    val docs = Seq(
      (1L, "a a b c", "s1"),   // s1 tokens: a a b c d -> V=4, hapax b,c,d
      (2L, "d", "s1"),
      (3L, "x x x x", "s2"))   // s2: V=1, hapax 0
      .toDF("doc_id", "text", "source")
    val r = CorpusStats.hapaxProfile(docs).collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
          x.getLong(5)))).toMap
    assert(r("s1") == ((5L, 4L, 3L, 750000L, 800000L)))
    assert(r("s2") == ((4L, 1L, 0L, 0L, 250000L)))
  }

  test("tokenEntropyBits: degenerate source scores 0; mixed source " +
    "matches the telescoped bits identity") {
    val docs = Seq(
      (1L, "x x x x", "mono"),  // c=4: 4*bits(4)-4*bits(4) = 0
      (2L, "a a b c", "mix"))   // n=4,bits=3; sum_cb=2*2+1+1=6 -> (12-6)/4
      .toDF("doc_id", "text", "source")
    val r = CorpusStats.tokenEntropyBits(docs).collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r("mono") == ((4L, 1L, 0L, 1000000L)))
    assert(r("mix") == ((4L, 3L, 1500000L, 2000000L)))
  }

  test("termBurstiness: bursty vs sprinkled terms exact; df floor " +
    "drops singletons") {
    val docs = Seq(
      (0L, "spam spam spam a"), // spam: tf 3 in one doc
      (1L, "spam a b"),
      (2L, "a b"))
      .toDF("doc_id", "text")
    val got = CorpusStats.termBurstiness(docs)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // spam: tf 4, df 2 → burst 2e6; a: 3/3 → 1e6; b: 2/2 → 1e6
    assert(got == Map("spam" -> ((4L, 2L, 2000000L)),
      "a" -> ((3L, 3L, 1000000L)), "b" -> ((2L, 2L, 1000000L))))
  }

  test("bigramSurprisalScores property: random small-vocab corpora " +
    "equal a naive recompute of the conditional floor-bits") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val docGen: Gen[List[String]] = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 9).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
          .map(_.mkString(" ")))))
    (1L to 8L).foreach { seed =>
      val texts = sample(docGen, seed)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = CorpusStats.bigramSurprisalScores(docs)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      graft.core.SessionCache.endQuery()
      // naive: corpus bigram counts, head counts, floor-bits per doc
      val docToks = texts.map(_.split("\\s+").filter(_.nonEmpty).toSeq)
      val allBi = docToks.flatMap(ts => ts.zip(ts.drop(1)))
      val cAb = allBi.groupBy(identity).view.mapValues(_.size.toLong)
      val cHead = allBi.groupBy(_._1).view.mapValues(_.size.toLong)
      val want = docToks.zipWithIndex.map { case (ts, i) =>
        val bi = ts.zip(ts.drop(1))
        val bits = bi.map(b =>
          java.lang.Long.toBinaryString(cHead(b._1) / cAb(b)).length
            .toLong).sum
        i.toLong -> ((bi.size.toLong, bits,
          if (bi.isEmpty) 0L else bits * 1000000L / bi.size))
      }.toMap
      assert(got == want, s"seed=$seed texts=$texts")
    }
  }

  test("knSurprisalScores property: random small-vocab corpora equal " +
    "a naive recompute of the interpolated Kneser-Ney floor-bits") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val docGen: Gen[List[String]] = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 9).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
          .map(_.mkString(" ")))))
    val D = CorpusStats.KnDiscountPpm
    (1L to 8L).foreach { seed =>
      val texts = sample(docGen, seed)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = CorpusStats.knSurprisalScores(docs)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      graft.core.SessionCache.endQuery()
      // naive: type counts, head/tail continuation counts, the one-
      // common-denominator KN rational, floor-bits per doc
      val docToks = texts.map(_.split("\\s+").filter(_.nonEmpty).toSeq)
      val allBi = docToks.flatMap(ts => ts.zip(ts.drop(1)))
      val cAb = allBi.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cHead = allBi.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val tHead = cAb.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val tTail = cAb.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val tt = cAb.size.toLong
      val want = docToks.zipWithIndex.map { case (ts, i) =>
        val bi = ts.zip(ts.drop(1))
        val bits = bi.map { b =>
          val num = BigInt(math.max(cAb(b) * 1000000L - D, 0L)) * tt +
            BigInt(D) * tHead(b._1) * tTail(b._2)
          val den = BigInt(cHead(b._1)) * 1000000L * tt
          (den / num).toString(2).length.toLong
        }.sum
        i.toLong -> ((bi.size.toLong, bits,
          if (bi.isEmpty) 0L else bits * 1000000L / bi.size))
      }.toMap
      assert(got == want, s"seed=$seed texts=$texts")
    }
  }

  test("knSurprisalScores: hand-computed interpolated-KN bits exact; " +
    "no-bigram docs report zeros") {
    // corpus bigram types: "a b"×3, "b a"×2, "a c"×1; T = 3,
    // t_head(a) = 2, t_tail(b) = t_tail(a) = t_tail(c) = 1,
    // c_head(a) = 4, c_head(b) = 2. With D = 0.75e6 ppm:
    // "a b": num = (3e6-75e4)*3 + 75e4*2*1 = 825e4, den = 4e6*3 =
    //   12e6, bits = bitlen(12e6 div 825e4 = 1) = 1
    // "b a": num = (2e6-75e4)*3 + 75e4*1*1 = 450e4, den = 2e6*3 =
    //   6e6, bits = bitlen(1) = 1
    // "a c": num = (1e6-75e4)*3 + 75e4*2*1 = 225e4, den = 12e6,
    //   bits = bitlen(12e6 div 225e4 = 5) = 3
    val docs = Seq(
      (0L, "a b a b a b"),
      (1L, "a c"),
      (2L, "z"))
      .toDF("doc_id", "text")
    val got = CorpusStats.knSurprisalScores(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    graft.core.SessionCache.endQuery()
    assert(got(0L) == ((5L, 5L, 1000000L)), s"doc0: ${got(0L)}")
    assert(got(1L) == ((1L, 3L, 3000000L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((0L, 0L, 0L)), s"doc2: ${got(2L)}")
  }

  test("goodTuringProfile: hand-computed count-of-counts — unseen " +
    "mass N1/N ppm, discounted hapax count 2*N2/N1 e6") {
    val docs = Seq(
      (0L, "en", "a a b c"), (1L, "en", "c d"),
      (2L, "fr", "x"),
      (3L, "zz", ""))   // no tokens -> no row
      .toDF("doc_id", "lang", "text")
    val got = CorpusStats.goodTuringProfile(docs)
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7)))
      .toMap
    graft.core.SessionCache.endQuery()
    // en: a:2 b:1 c:2 d:1 -> N=6, types=4, N1=2, N2=2;
    // unseen = 2e6 div 6 = 333333; c1* = (2*2*1e6) div 2 = 2e6
    assert(got("en") == ((6L, 4L, 2L, 2L, 333333L, 2000000L)))
    // fr: one hapax -> unseen mass 1e6, c1* = 0 (no dis legomena)
    assert(got("fr") == ((1L, 1L, 1L, 0L, 1000000L, 0L)))
    assert(got.size == 2, got.toString)
  }

  test("bigramSurprisalScores: conditional bits exact; no-bigram docs " +
    "report zeros") {
    val docs = Seq(
      (0L, "a b a b a b"), // bigrams: "a b"×3, "b a"×2
      (1L, "a c"),         // "a c"×1
      (2L, "z"))           // one token, no bigrams
      .toDF("doc_id", "text")
    val got = CorpusStats.bigramSurprisalScores(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    graft.core.SessionCache.endQuery()
    // heads: c_head(a)=4, c_head(b)=2
    // bits("a b") = bitlen(4 div 3) = 1; bits("b a") = bitlen(2 div 2)
    // = 1; bits("a c") = bitlen(4 div 1) = 3
    assert(got(0L) == ((5L, 5L, 1000000L)))
    assert(got(1L) == ((1L, 3L, 3000000L)))
    assert(got(2L) == ((0L, 0L, 0L)))
  }

  test("markup density: planted HTML spam is boilerplate on both " +
    "signals, clean prose is not, counts hand-exact") {
    val dir = java.nio.file.Files.createTempDirectory("markup").toString
    // doc 1: clean prose — zero tags, zero links
    // doc 2: link farm — short visible text, almost all of it anchors
    // doc 3: tag-heavy template — markup dominates, no anchors
    // doc 4: prose with ONE modest link — neither verdict trips
    val farm = "<ul>" +
      (1 to 6).map(i => s"""<li><a href="/p$i">buy product $i</a></li>""")
        .mkString + "</ul>"
    val template = "<div class='x'><span></span></div>".repeat(8) + "hi"
    val prose = "the quick brown fox jumps over the lazy dog " * 5
    val linked = prose + """see <a href="/doc">the appendix</a> """ + prose
    Seq((1L, prose), (2L, farm), (3L, template), (4L, linked))
      .map { case (i, t) => (i, t, "en", "srcA", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("text_markup_density")(
      spark, dir).orderBy($"doc_id").collect()
    assert(r.map(_.getAs[Long]("is_boilerplate")).toSeq ==
      Seq(0L, 1L, 1L, 0L))
    // doc 1 hand-exact: no markup at all
    assert(r(0).getAs[Long]("tag_count") == 0L &&
      r(0).getAs[Long]("tag_ppm") == 0L &&
      r(0).getAs[Long]("link_ppm") == 0L)
    // doc 2 hand-exact: 2 ul + 6×(li+a+/a+/li) = 26 tags; anchor inner
    // text = "buy product N"×6 = 78 visible chars, all of them links
    assert(r(1).getAs[Long]("tag_count") == 26L)
    val vis2 = r(1).getAs[Long]("visible_chars")
    assert(r(1).getAs[Long]("link_ppm") == 78L * 1000000L / vis2)
    // doc 3: tag chars dominate but zero anchors — tag verdict only
    assert(r(2).getAs[Long]("link_ppm") == 0L &&
      r(2).getAs[Long]("tag_ppm") >=
        graft.text.TextAnalysis.TagPpmBoiler)
    // doc 4: one 12-char anchor inside ~460 visible chars — both
    // signals present but below threshold
    assert(r(3).getAs[Long]("tag_count") == 2L &&
      r(3).getAs[Long]("link_ppm") > 0L)
  }

  test("readability: FORCAST grade from vowel-group syllables; " +
    "vowel-less tokens count one syllable and read as monosyllabic") {
    val docs = Seq(
      // 7 words; vowel groups: the=1 cat=1 runs=1 quickly=2 over=2
      // a=1 banana=3 -> vg=11; mono (<=1 group) = the,cat,runs,a = 4
      (1L, "the cat runs quickly over a banana", "s"),
      // vowel-less tokens: vg=0, zerov=2, mono=2, syllables=2
      (2L, "xyz 42", "s"),
      (3L, "", "t")) // empty normal form -> zero-token doc
      .toDF("doc_id", "text", "source")
    val r = graft.text.CorpusStats.readability(docs)
      .orderBy("source").collect()
    assert(r.length == 2)
    val s = r(0)
    assert(s.getAs[Long]("n_docs") == 2L)
    assert(s.getAs[Long]("words") == 9L)
    assert(s.getAs[Long]("syllables") == 13L)
    assert(s.getAs[Long]("mono") == 6L)
    // 20e6 - (15e6*6) div 9 = 20e6 - 10e6
    assert(s.getAs[Long]("forcast_grade_e6") == 10000000L)
    assert(s.getAs[Long]("spw_e6") == 13000000L / 9L)
    val t = r(1)
    assert(t.getAs[Long]("words") == 0L &&
      t.getAs[Long]("forcast_grade_e6") == 20000000L)
  }

  test("rakeKeywords: deg/freq phrase scores with deterministic " +
    "tie-break; stopword-only docs contribute no phrases") {
    val docs = Seq(
      // phrases: [red apple] x2, [green apple]; red deg=4 freq=2,
      // apple deg=6 freq=3, green deg=2 freq=1 -> all words score 2e6
      // -> both phrases score 4e6, tie broken by phrase asc
      (1L, "red apple of green apple and the red apple", "s"),
      (2L, "the of and", "s"), // all stopwords -> no phrases
      (3L, "", "t"))
      .toDF("doc_id", "text", "source")
    val r = graft.text.CorpusStats.rakeKeywords(docs).collect()
    graft.core.SessionCache.endQuery()
    assert(r.length == 2 && r.forall(_.getString(0) == "s"))
    val byRk = r.map(x => x.getAs[Long]("rk") ->
      ((x.getAs[String]("phrase"), x.getAs[Long]("n_occ"),
        x.getAs[Long]("phrase_score_e6")))).toMap
    assert(byRk(1L) == (("green apple", 1L, 4000000L)))
    assert(byRk(2L) == (("red apple", 2L, 4000000L)))
  }
}
