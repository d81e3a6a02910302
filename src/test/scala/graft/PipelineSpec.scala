package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = graft.core.Tables(spark, SfDir, "documents")

  test("hashBucket is stable, in [0,100), and id-only") {
    val r = Seq(1L, 2L, 1L).toDF("doc_id")
      .select(Pipeline.hashBucket($"doc_id").as("b")).as[Long].collect()
    assert(r(0) == r(2)) // same id -> same bucket, always
    assert(r.forall(b => b >= 0 && b < 100))
  }

  test("canonicalUrl: every normalization rule fires; registeredDomain " +
    "extracts the last two host labels") {
    val raw = Seq(
      "HTTPS://WWW.Site3.COM:443/doc/9/?b=1&utm_source=feed&a=5#top",
      "https://site3.com/doc/9?a=5&b=1",
      "http://www.other.org:80/",
      "http://a.b.example.net/x/y/",
      "https://site3.com/p?utm_source=x&utm_medium=y") // all-tracking
      .toDF("url_raw")
    val c = raw.select(Pipeline.canonicalUrl($"url_raw").as("c"))
      .as[String].collect().toSeq
    assert(c(0) == "https://site3.com/doc/9?a=5&b=1") // all rules at once
    assert(c(1) == "https://site3.com/doc/9?a=5&b=1") // already canonical
    assert(c(2) == "http://other.org/")               // root path stays /
    assert(c(3) == "http://a.b.example.net/x/y")      // m. NOT stripped
    assert(c(4) == "https://site3.com/p") // all-tracking query loses '?'
    val d = raw.select(Pipeline.registeredDomain(
      Pipeline.canonicalUrl($"url_raw")).as("d")).as[String].collect()
    assert(d.toSeq == Seq("site3.com", "site3.com", "other.org",
      "example.net", "site3.com"))
  }

  test("urlCanonical: id pairs sharing a source collapse to one " +
    "canonical URL; differing sources stay distinct") {
    val d = Seq(
      (10L, "hello world", "web"), (11L, "other text", "web"),
      (12L, "third", "web"), (13L, "fourth", "news"))
      .toDF("doc_id", "text", "source")
    val r = Pipeline.urlCanonical(d)
      .select($"doc_id", $"url_canon", $"keep_id", $"is_url_dup")
      .as[(Long, String, Long, Long)].collect()
      .map(x => x._1 -> x).toMap
    // 10/11: same pair id (g=5), same source — raw forms differ in
    // scheme case, default port, trailing slash and param order, but
    // canonicalize identically; 10 is the keeper
    assert(r(10L)._2 == r(11L)._2)
    assert(r(10L)._3 == 10L && r(10L)._4 == 0L)
    assert(r(11L)._3 == 10L && r(11L)._4 == 1L)
    // 12/13: same pair id but different sources -> different domains
    assert(r(12L)._2 != r(13L)._2)
    assert(r(12L)._4 == 0L && r(13L)._4 == 0L)
  }

  test("domainCap: rollup accounts for every doc; shares are exact " +
    "ppm of the corpus total") {
    val r = Pipeline.domainCap(docs)
    assert(r.agg(sum($"n_docs")).as[Long].head() == docs.count())
    val shares = r.select($"tok_share_ppm").as[Long].collect()
    assert(shares.forall(s => s >= 0 && s <= 1000000L))
    // floor-div shares sum to at most 1e6 and within |domains| of it
    assert(shares.sum <= 1000000L && shares.sum > 1000000L - shares.length)
    assert(r.filter($"n_urls" > $"n_docs").count() == 0)
  }

  test("hashSplit partitions every doc into exactly one split") {
    val s = Pipeline.hashSplit(docs)
    assert(s.count() == docs.count())
    val bad = s.filter(
      !($"split" === "train" && $"bucket" < Pipeline.TrainPct ||
        $"split" === "valid" && $"bucket" >= Pipeline.TrainPct &&
          $"bucket" < Pipeline.TrainPct + Pipeline.ValidPct ||
        $"split" === "test" &&
          $"bucket" >= Pipeline.TrainPct + Pipeline.ValidPct)).count()
    assert(bad == 0)
    // deterministic hash split lands near the 80/10/10 target
    val frac = s.filter($"split" === "train").count().toDouble / s.count()
    assert(frac > 0.6 && frac < 0.95)
  }

  test("splitReport doc counts reconcile with the corpus") {
    val total = Pipeline.splitReport(docs)
      .agg(sum($"n_docs")).as[Long].head()
    assert(total == docs.count())
  }

  test("piiRedact scrubs all three classes and counts them") {
    val r = Pipeline.piiRedact(docs)
    // every doc got exactly one synthetic email/phone/IP appended
    assert(r.filter($"n_emails" < 1 || $"n_phones" =!= 1 || $"n_ips" < 1)
      .count() == 0)
    assert(r.filter($"clean_text".contains("@example.com") ||
      $"clean_text".rlike(Pipeline.PhoneRe)).count() == 0)
    assert(r.filter($"clean_text".contains("<EMAIL>") &&
      $"clean_text".contains("<PHONE>") &&
      $"clean_text".contains("<IP>")).count() == r.count())
  }

  test("decontaminate: benchmark docs excluded; overlap in [0,1e6]") {
    val d = Pipeline.decontaminate(docs)
    assert(d.filter($"doc_id" % Pipeline.BenchMod === 0).count() == 0)
    assert(d.filter($"overlap_e6" < 0 || $"overlap_e6" > 1000000).count() == 0)
    assert(d.filter($"n_hit" > $"n_sh").count() == 0)
    // an exact copy of a benchmark doc must flag as contaminated:
    // synthesize one by unioning doc 0's text under a fresh id
    val bench0 = docs.filter($"doc_id" === 0)
      .select($"text").as[String].head()
    val planted = docs.unionByName(
      Seq((999999L, bench0, "en", "planted", bench0.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val hit = Pipeline.decontaminate(planted)
      .filter($"doc_id" === 999999L).select($"contaminated").as[Long].head()
    assert(hit == 1L)
  }

  test("packSequences: cumulative packing is contiguous per part") {
    val p = Pipeline.packSequences(docs)
    assert(p.count() == docs.count())
    // within a part, pack_id is non-decreasing in doc_id order and a
    // doc's pack equals floor(preceding-tokens / budget)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"part").orderBy($"doc_id")
    val viol = p.withColumn("prev", lag($"pack_id", 1).over(w))
      .filter($"prev".isNotNull && $"pack_id" < $"prev").count()
    assert(viol == 0)
  }

  test("qualityLengthCorr: moments equal a driver-side recompute " +
    "from the scored frame") {
    val r = Pipeline.qualityLengthCorr(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    // independent recompute off the per-doc curriculum inputs: token
    // counts from the packing frame, quality from curriculumOrder
    val toks = Pipeline.packSequences(docs)
      .select($"doc_id", $"n_tokens").as[(Long, Long)].collect().toMap
    val q3 = Pipeline.curriculumOrder(docs)
      .select($"doc_id", $"quality_e6").as[(Long, Long)].collect()
      .map { case (id, q) => id -> q / 1000L }.toMap
    graft.core.SessionCache.endQuery()
    val xs = toks.keys.toSeq.map(id => (toks(id), q3(id)))
    assert(r == ((xs.size.toLong, xs.map(_._1).sum, xs.map(_._2).sum,
      xs.map(p => p._1 * p._2).sum, xs.map(p => p._1 * p._1).sum,
      xs.map(p => p._2 * p._2).sum)))
  }

  test("curriculumOrder: phases are rank terciles (quality ranges " +
    "never invert), ranks contiguous per (phase, shard)") {
    val o = Pipeline.curriculumOrder(docs)
      .as[(Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(o.length == docs.count())
    assert(o.map(_._1).distinct.length == o.length)
    assert(o.forall(r => r._3 >= 1L && r._3 <= 3L))
    // phase 1 = cleanest: quality ranges ordered, touching allowed
    val byPhase = o.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    for (p <- byPhase.keys; q <- byPhase.keys if p < q)
      assert(byPhase(p).min >= byPhase(q).max,
        s"phase $p range inverts vs $q")
    // tercile sizes differ by at most 1 (rank split, ties split too)
    val sizes = byPhase.values.map(_.size).toSeq
    assert(sizes.max - sizes.min <= 1, sizes.toString)
    o.groupBy(r => (r._3, r._4)).values.foreach { g =>
      assert(g.map(_._5).sorted.toSeq == (1L to g.size).toSeq)
    }
  }

  test("packOffsets: spans tile each pack exactly — contiguous, " +
    "non-overlapping, first span flagged, widths equal token counts") {
    val o = Pipeline.packOffsets(docs)
      .select($"doc_id", $"pack_id", $"n_tokens", $"tok_start",
        $"tok_end", $"is_first_in_pack")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(o.length == docs.count())
    o.groupBy(_._2).foreach { case (_, spans) =>
      val s = spans.sortBy(_._1) // pack order is doc_id order
      assert(s.head._4 == 0L && s.head._6 == 1L)
      assert(s.tail.forall(_._6 == 0L))
      s.zip(s.tail).foreach { case (a, b) =>
        assert(b._4 == a._5, s"gap between spans: $a -> $b") }
      assert(s.forall(x => x._5 - x._4 == x._3))
    }
  }

  test("stratifiedSample: per-lang rates honored, subset of hashSplit") {
    val s = Pipeline.stratifiedSample(docs).cache()
    assert(s.filter($"bucket" >= $"keep_rate").count() == 0)
    // keep-rate is a pure function of lang
    val rates = Pipeline.StratRates.toMap
    val bad = s.filter($"keep_rate" =!=
      Pipeline.StratRates.foldLeft(lit(Pipeline.DefaultRate)) {
        case (acc, (l, r)) => when($"lang" === l, lit(r)).otherwise(acc)
      }).count()
    assert(bad == 0)
    // a 100%-rate stratum keeps every doc of that lang (if present)
    for ((l, r) <- rates if r == 100) {
      val total = docs.filter($"lang" === l).count()
      assert(s.filter($"lang" === l).count() == total)
    }
    s.unpersist()
  }

  test("shuffleShards: permutation within shards, stable under re-run") {
    val a = Pipeline.shuffleShards(docs).cache()
    assert(a.count() == docs.count())
    // rank is a dense 1..n permutation inside each shard
    val bad = a.groupBy($"shard")
      .agg(count(lit(1)).as("n"), max($"rank").as("mx"), min($"rank").as("mn"))
      .filter($"mx" =!= $"n" || $"mn" =!= 1).count()
    assert(bad == 0)
    // deterministic: identical assignment on recompute
    val b = Pipeline.shuffleShards(docs)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    a.unpersist()
  }

  test("quantizeInt8: values in [-127,127], error bounded by scale/2") {
    val q = graft.similarity.Similarity.quantizeInt8(
      graft.core.Tables(spark, SfDir, "embeddings"))
    val parsed = q.select($"vec_id", $"scale", $"max_err",
      transform(split($"q_str", ","), x => x.cast("long")).as("qv"))
    assert(parsed.filter(exists($"qv",
      x => abs(x) > 127)).count() == 0)
    // |dequant - v| <= 0.5/scale by construction of floor(x+0.5);
    // both max_err and scale are round(…,6) outputs, so allow the
    // 5e-7 round-up each can contribute
    assert(parsed.filter($"max_err" > lit(0.5) / $"scale" + 1e-5)
      .count() == 0)
  }

  test("curatedCorpus: every emitted doc passes all four gates") {
    val c = Pipeline.curatedCorpus(docs).cache()
    assert(c.count() > 0)
    val keep = graft.dedup.Dedup.exactDedup(docs)
      .select($"keep_id".as("doc_id"))
    assert(c.join(keep, Seq("doc_id"), "left_anti").count() == 0)
    assert(c.filter($"quality" < Pipeline.MinQuality).count() == 0)
    assert(c.filter($"doc_id" % Pipeline.BenchMod === 0).count() == 0)
    val contaminated = Pipeline.decontaminate(docs)
      .filter($"contaminated" === 1L).select($"doc_id")
    assert(c.join(contaminated, Seq("doc_id"), "left_semi").count() == 0)
    val split = Pipeline.hashSplit(docs)
      .filter($"split" =!= "train").select($"doc_id")
    assert(c.join(split, Seq("doc_id"), "left_semi").count() == 0)
    c.unpersist()
    graft.core.SessionCache.endQuery()
  }

  test("tClosenessAudit: hand fixture — uniform class scores 0, " +
    "fully-skewed class scores the exact TV distance") {
    // global sensitive distribution: A:4, B:4 (N=8, 50/50)
    // class g1: A:2, B:2 -> TV = 0
    // class g2: A:2, B:0 -> TV = 1/2·(|1/2 − 1/2|·... ) exact:
    //   Σ|c·N − n·g| = |2·8 − 2·4| + |0·8 − 2·4| = 8 + 8 = 16
    //   tv_ppm = 16·10⁶ / (2·2·8) = 500000
    val df = Seq(
      ("g1", "A"), ("g1", "A"), ("g1", "B"), ("g1", "B"),
      ("g2", "A"), ("g2", "A"),
      ("g3", "B"), ("g3", "B"))
      .toDF("qi", "sens")
    val r = Pipeline.tClosenessAudit(df, Seq("qi"), "sens")
      .select("qi", "n_rows", "tv_ppm", "is_far")
      .as[(String, Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r("g1") == ((4L, 0L, 0L)))
    assert(r("g2") == ((2L, 500000L, 1L)))
    assert(r("g3") == ((2L, 500000L, 1L)))
    graft.core.SessionCache.endQuery()
  }

  test("mixEpochs: shares sum to ~1, epochs = share/p, repeat flag " +
    "fires exactly above the 4-epoch bar; head downsampled below 1") {
    val r = Pipeline.mixEpochs(docs)
      .select("lang", "n_tokens", "target_share_ppm", "epochs_e6",
        "repeat_risk")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    val shareSum = r.map(_._3).sum
    assert(math.abs(shareSum - 1000000L) <= r.length,
      s"shares sum to $shareSum")
    val total = r.map(_._2).sum.toDouble
    r.foreach { case (_, n, sharePpm, epochsE6, risk) =>
      // epochs reconciles with share/p on the same double chain
      val p = n / total
      val share = sharePpm / 1000000.0
      assert(math.abs(epochsE6 / 1000000.0 - share / p) < 0.01,
        s"epochs vs share/p mismatch")
      assert((risk == 1L) == (epochsE6 > Pipeline.MaxHealthyEpochsE6))
    }
    // the sqrt mix flattens: biggest language is downsampled (< 1
    // epoch), smallest upsampled (> 1 epoch)
    val byN = r.sortBy(_._2)
    assert(byN.last._4 < 1000000L, "head language not downsampled")
    assert(byN.head._4 > 1000000L, "tail language not upsampled")
    graft.core.SessionCache.endQuery()
  }

  test("pretrainManifest: manifest equals the stage-by-stage " +
    "recomposition and every packing invariant holds") {
    val m = Pipeline.pretrainManifest(docs).cache()
    assert(m.count() > 0)
    // span invariants: width == token count, start inside the budget
    assert(m.filter($"tok_end" - $"tok_start" =!= $"n_tokens")
      .count() == 0)
    assert(m.filter($"tok_start" < 0 ||
      $"tok_start" >= Pipeline.PackBudget).count() == 0)
    // per shard: ranks dense from 1, seq/tok_start are exactly the
    // concat-and-chunk arithmetic over the running token offset
    val rows = m.select("shard", "seq", "rank", "n_tokens", "tok_start")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (s, rs) => s -> rs.sortBy(_._3).toSeq }
    assert(rows.nonEmpty)
    rows.foreach { case (_, rs) =>
      assert(rs.map(_._3) == (1L to rs.length).toSeq)
      var cum = 0L
      rs.foreach { case (_, seq, _, n, start) =>
        assert(seq == cum / Pipeline.PackBudget)
        assert(start == cum - seq * Pipeline.PackBudget)
        cum += n
      }
    }
    // every manifest doc survived the curation funnel
    val cur = Pipeline.curatedCorpus(docs).select($"doc_id")
    assert(m.join(cur, Seq("doc_id"), "left_anti").count() == 0)
    // the doc set is exactly the stage-by-stage recomposition:
    // paragraph dedup -> funnel survivors -> exact re-dedup on the
    // CLEANED text -> token budget
    val cleaned = graft.dedup.Dedup.paragraphDedup(docs)
      .join(cur, Seq("doc_id"), "left_semi")
      .join(docs.select($"doc_id", $"lang", $"source"), Seq("doc_id"))
      .filter($"clean_text" =!= "")
      .select($"doc_id", $"lang", $"source", $"clean_text".as("text"))
    val keep2 = graft.dedup.Dedup.exactDedup(cleaned)
      .select($"keep_id".as("doc_id"))
    val expected = Pipeline.tokenBudgetSelect(
        cleaned.join(keep2, Seq("doc_id"), "left_semi"))
      .select($"doc_id").as[Long].collect().toSet
    assert(m.select($"doc_id").as[Long].collect().toSet == expected)
    m.unpersist()
    graft.core.SessionCache.endQuery()
  }

  test("chunkWithOverlap: stride/overlap invariants, tokens reconcile") {
    val d = Seq((1L, (1 to 30).map(i => s"w$i").mkString(" ")),
      (2L, "a b c"), (3L, "!!!")) // 3 tokens; symbol-only drops out
      .toDF("doc_id", "text")
    val r = Pipeline.chunkWithOverlap(d, size = 16, overlap = 4)
      .select("doc_id", "chunk_id", "start_tok", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // doc 1: 30 tokens, stride 12 -> starts 0,12,24; lengths 16,16,6
    assert(r.filter(_._1 == 1L).map(t => (t._3, t._4)) ==
      Seq((0L, 16L), (12L, 16L), (24L, 6L)))
    // doc 2: one short chunk; doc 3: no tokens -> no chunks
    assert(r.filter(_._1 == 2L) == Seq((2L, 0L, 0L, 3L)))
    assert(!r.exists(_._1 == 3L))
    // consecutive chunks overlap by exactly `overlap` while full
    r.groupBy(_._1).values.foreach { cs =>
      cs.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(b._3 - a._3 == 12L)
        case _ =>
      }
    }
  }

  test("packReport tokens reconcile with per-doc token counts") {
    val perDoc = Pipeline.packSequences(docs)
      .agg(sum($"n_tokens")).as[Long].head()
    val perPack = Pipeline.packReport(docs)
      .agg(sum($"pack_tokens")).as[Long].head()
    assert(perDoc == perPack)
  }

  test("balancedSample: exactly min(k, group size) per group, stable") {
    val r = Pipeline.balancedSample(docs, k = 20)
    val sizes = r.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val groups = docs.groupBy($"lang").count().as[(String, Long)]
      .collect().toMap
    groups.foreach { case (l, n) =>
      assert(sizes(l) == math.min(20L, n), s"lang $l")
    }
    // deterministic: a second run picks the identical set
    val again = Pipeline.balancedSample(docs, k = 20).select($"doc_id")
    assert(r.select($"doc_id").exceptAll(again).count() == 0)
  }

  test("tokenBudgetSelect: greedy prefix by (quality desc, id), " +
    "budget never exceeded, no back-fill") {
    val r = Pipeline.tokenBudgetSelect(docs, budgetPerLang = 200L)
    graft.core.SessionCache.endQuery()
    // budget holds per language
    val over = r.groupBy($"lang").agg(max($"cum_tokens").as("m"))
      .filter($"m" > 200L)
    assert(over.count() == 0)
    // kept set = exact greedy prefix recomputed via one brute window
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy($"quality_e6".desc, $"doc_id".asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val brute = Pipeline.tokenBudgetSelect(docs, budgetPerLang = Long.MaxValue)
      .withColumn("cum2", sum($"n_tokens").over(w))
      .filter($"cum2" <= 200L)
      .select($"lang", $"doc_id")
    graft.core.SessionCache.endQuery()
    val got = r.select($"lang", $"doc_id")
    assert(got.exceptAll(brute).count() == 0 &&
      brute.exceptAll(got).count() == 0)
    assert(r.count() > 0)
  }

  test("perSourceCap: at most cap per source, best quality kept, " +
    "rank is the contiguous within-source prefix") {
    val r = Pipeline.perSourceCap(docs, cap = 5)
    graft.core.SessionCache.endQuery()
    val bySrc = r.groupBy($"source")
      .agg(count(lit(1)).as("n"), max($"rk").as("mx"), min($"rk").as("mn"))
      .as[(String, Long, Long, Long)].collect()
    assert(bySrc.nonEmpty)
    // ≤ cap rows per source and ranks are exactly 1..n
    assert(bySrc.forall { case (_, n, mx, mn) =>
      n <= 5 && mn == 1L && mx == n })
    // kept = the true top-n by (quality desc, id): nothing dropped
    // outranks anything kept within the same source
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      .orderBy($"quality_e6".desc, $"doc_id".asc)
    val brute = Pipeline.perSourceCap(docs, cap = Int.MaxValue)
      .withColumn("rk2", row_number().over(w).cast("long"))
      .filter($"rk2" <= 5)
      .select($"source", $"doc_id", $"rk2".as("rk"))
    graft.core.SessionCache.endQuery()
    val got = r.select($"source", $"doc_id", $"rk")
    assert(got.exceptAll(brute).count() == 0 &&
      brute.exceptAll(got).count() == 0)
  }

  test("splitDrift: dense grid covers every populated bucket × 3 " +
    "splits; shares sum to ≈1e6 per split") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val r = Pipeline.splitDrift(docs)
      .select($"split", $"q_bucket", $"n", $"share_ppm")
      .as[(String, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    val buckets = r.map(_._2).distinct
    assert(r.length == buckets.length * 3, "grid not dense")
    // per split, shares are n_i*1e6 div n_split: sum within 1e6 minus
    // at most one floor-loss per bucket
    Seq("train", "valid", "test").foreach { s =>
      val shares = r.filter(_._1 == s).map(_._4).sum
      assert(shares <= 1000000L && shares > 1000000L - buckets.length,
        s"$s shares sum $shares")
    }
  }

  test("sourceProfile: exact dup share and integer mean quality") {
    val docs = Seq(
      (1L, "aa bb cc", "s1"), (2L, "aa bb cc", "s1"), (3L, "zz", "s1"),
      (4L, "dd ee", "s2"))
      .toDF("doc_id", "text", "source")
    val r = Pipeline.sourceProfile(docs)
      .as[(String, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    // s1: 3 docs, 2 unique fingerprints -> dup_ppm = 333333
    assert(r("s1")._1 == 3L && r("s1")._2 == 333333L)
    assert(r("s2") == ((1L, 0L)))
  }

  test("contentChunks: boundaries are content-defined — a prefix " +
    "insertion leaves downstream chunk fingerprints intact") {
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val prefixed = "inserted words at the front " + base
    val docs = Seq((1L, base), (2L, prefixed)).toDF("doc_id", "text")
    val r = Pipeline.contentChunks(docs)
      .select($"doc_id", $"chunk_md5", $"n_tokens")
      .as[(Long, String, Long)].collect()
    val c1 = r.filter(_._1 == 1L).map(_._2).toSet
    val c2 = r.filter(_._1 == 2L).map(_._2).toSet
    // every chunk after the first post-insertion boundary is identical
    // → the two docs SHARE most fingerprints (the fixed-stride chunker
    // would share none); only the head chunk(s) differ
    val shared = c1.intersect(c2)
    assert(shared.size >= c1.size - 2,
      s"CDC stability lost: ${shared.size} of ${c1.size} shared")
    assert(c1 != c2) // the head of doc 2 really did change
    // chunks reconcile: per-doc token counts sum to the doc length
    val sums = r.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._3).sum }
    assert(sums(1L) == 200L && sums(2L) == 205L)
    // mean chunk length is in the vicinity of the boundary mod
    assert(c1.size >= 200 / Pipeline.ChunkBoundaryMod / 3 &&
      c1.size <= 3 * 200 / Pipeline.ChunkBoundaryMod)
  }

  test("contaminationSpans: one verbatim quote is one long run; " +
    "scattered hits are many short runs; clean docs absent") {
    // doc 50 (id % 50 == 0) is the benchmark; trigrams with positions
    val docs = Seq(
      (50L, "alpha beta gamma delta epsilon"),
      // verbatim 5-token quote at positions 2..6 → hit shingles at
      // 2,3,4 (one run of 3) out of 7 shingle positions
      (1L, "zz yy alpha beta gamma delta epsilon qq ww"),
      // two separated quotes → two runs of 1
      (2L, "alpha beta gamma xx yy zz beta gamma delta"),
      (3L, "nothing shared with the benchmark here at all"))
      .toDF("doc_id", "text")
    val r = Pipeline.contaminationSpans(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(4),
        x.getLong(5), x.getLong(6), x.getLong(7))).toMap
    graft.core.SessionCache.endQuery()
    // (n_sh, n_hit, n_spans, max_span_shingles, max_span_tokens, first)
    assert(r(1L) == ((7L, 3L, 1L, 3L, 5L, 2L)), s"got ${r.get(1L)}")
    assert(r(2L) == ((7L, 2L, 2L, 1L, 3L, 0L)), s"got ${r.get(2L)}")
    assert(!r.contains(3L) && !r.contains(50L))
  }

  test("mixInterleave: positions are a permutation; prefix holds " +
    "sources in ≈weight proportion") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val r = Pipeline.mixInterleave(docs)
      .select($"doc_id", $"source", $"weight", $"mix_pos")
      .as[(Long, String, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(r.length == docs.count())
    assert(r.map(_._4).sorted.sameElements(1L to r.length))
    // in the first half of the schedule, a weight-w source appears
    // ≈ w/Σw of the time (±40% relative — the interleave is exact up
    // to per-source exhaustion)
    val totalW = r.map(x => x._2 -> x._3).distinct.map(_._2).sum
    val half = r.filter(_._4 <= r.length / 2)
    r.map(x => x._2 -> x._3).distinct.foreach { case (src, w) =>
      val got = half.count(_._2 == src).toDouble
      val want = (r.length / 2).toDouble * w / totalW
      assert(math.abs(got - want) <= want * 0.4 + 3,
        s"$src w=$w got=$got want≈$want")
    }
  }

  test("sourceCalibratedQuality: percentile ranks within source; " +
    "singleton source pins to 0") {
    val docs = Seq(
      (1L, "the data " * 2, "en", "X"), (2L, "the data " * 30, "en", "X"),
      (3L, "the data " * 80, "en", "X"), (4L, "anything here", "en", "Y"))
      .map { case (i, t, l, s) => (i, t.trim, l, s) }
      .toDF("doc_id", "text", "lang", "source")
    val r = Pipeline.sourceCalibratedQuality(docs)
      .as[(String, Long, Long, Long)].collect()
      .map(x => x._2 -> x._4).toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == 0L && r(2L) == 500000L && r(3L) == 1000000L)
    assert(r(4L) == 0L)
  }

  test("decontaminate excises exactly the covered token spans and " +
    "reassembles the remainder in order") {
    val docs = Seq(
      (0L, "secret quote here"),                            // benchmark
      (1L, "intro words secret quote here trailing tail"),  // one span
      (2L, "no overlap at all"))                            // untouched
      .toDF("doc_id", "text")
    val r = Pipeline.exciseContamination(docs)
      .as[(Long, Long, Long, String)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    graft.core.SessionCache.endQuery()
    assert(!r.contains(0L)) // bench side not emitted
    assert(r(1L) == ((7L, 3L, "intro words trailing tail")))
    assert(r(2L) == ((4L, 0L, "no overlap at all")))
  }

  test("splitLeakage keeps exactly the near-dup pairs that cross the " +
    "split boundary") {
    val docs = (1L to 60L).map(i => (i, s"doc $i body", "en", 10L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val splits = Pipeline.hashSplit(docs)
      .select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    val ids = splits.keys.toSeq.sorted
    val cross = (for { a <- ids; b <- ids if a < b &&
      splits(a) != splits(b) } yield (a, b)).head
    val same = (for { a <- ids; b <- ids if a < b &&
      splits(a) == splits(b) } yield (a, b)).head
    val pairs = Seq((cross._1, cross._2, 0.9), (same._1, same._2, 0.8))
      .toDF("a_id", "b_id", "est_jaccard")
    val r = Pipeline.splitLeakage(docs, pairs = Some(pairs))
      .as[(Long, Long, String, String, Double)].collect()
    graft.core.SessionCache.endQuery()
    assert(r.length == 1, r.toSeq.toString)
    assert(Set(r(0)._1, r(0)._2) == Set(cross._1, cross._2))
    assert(r(0)._3 != r(0)._4 && r(0)._5 == 0.9)
  }

  test("embargoSplit: fold edges purge exactly gapDays on each side; " +
    "interior days keep") {
    // one event per day for days 0..13 (epoch days), foldDays=7 gap=1:
    // fold 0 embargoes days 0 and 6, keeps 1..5; fold 1 embargoes 7
    // and 13, keeps 8..12
    val ev = (0 to 13).map(day =>
      (day.toLong, new java.sql.Timestamp(day * 86400000L)))
      .toDF("event_id", "ts")
    val r = Pipeline.embargoSplit(ev, foldDays = 7L, gapDays = 1L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5, x._6)).toMap
    assert(r(0L) == ((7L, 2L, 5L, 1L, 5L)))
    assert(r(1L) == ((7L, 2L, 5L, 8L, 12L)))
  }

  test("kAnonymityAudit: hand-exact bands — unique, below-k and " +
    "safe classes land in the right buckets with exact ppm") {
    import spark.implicits._
    // class A: 12 rows (>= k); class B: 3 rows (< k); C, D: 1 each
    val rows = Seq.fill(12)(("A", "x")) ++ Seq.fill(3)(("B", "x")) ++
      Seq(("C", "x"), ("D", "y"))
    val df = rows.toDF("qa", "qb")
    val got = graft.pipeline.Pipeline
      .kAnonymityAudit(df, Seq("qa", "qb"), k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("1_unique") === ((2L, 2L, 17L, 117647L)))
    assert(got("2_below_k") === ((1L, 3L, 17L, 176470L)))
    assert(got("3_at_or_above_k") === ((1L, 12L, 17L, 705882L)))
  }

  test("lDiversityAudit: a large-but-homogeneous class is flagged " +
    "where the k-audit would pass it; bands and ppm hand-exact") {
    import spark.implicits._
    // class A: 12 rows, ONE sensitive value — k-safe, l-homogeneous;
    // class B: 4 rows, 2 values (< 3); class C: 3 rows, 3 values
    val rows = Seq.fill(12)(("A", 1L)) ++
      Seq(("B", 1L), ("B", 1L), ("B", 2L), ("B", 2L)) ++
      Seq(("C", 1L), ("C", 2L), ("C", 3L))
    val df = rows.toDF("qa", "s")
    val got = graft.pipeline.Pipeline
      .lDiversityAudit(df, Seq("qa"), "s")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("1_homogeneous") === ((1L, 12L, 19L, 631578L)))
    assert(got("2_below_l") === ((1L, 4L, 19L, 210526L)))
    assert(got("3_at_or_above_l") === ((1L, 3L, 19L, 157894L)))
  }

  test("srmAudit fields match the scalar SRM formulae on the fixture " +
    "split, and a 100/0/0 declaration zeroes the train deviation") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val got = graft.pipeline.Pipeline.srmAudit(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set("train", "valid", "test"))
    val obs = graft.pipeline.Pipeline.hashSplit(docs)
      .groupBy(col("split")).count()
      .as[(String, Long)].collect().toMap
    val n = obs.values.sum
    for ((split, pct) <- Seq(("train", 80L), ("valid", 10L),
        ("test", 10L))) {
      val (_, ep, nObs, nTot, dev, chi2) = got(split)
      assert(ep == pct && nTot == n)
      assert(nObs == obs.getOrElse(split, 0L))
      val d = 100L * nObs - n * pct
      assert(dev == math.abs(d) * 1000000L / math.max(n * pct, 1L))
      assert(chi2 == d * d / math.max(100L * n * pct / 1000000L, 1L))
    }
    // a declaration matching reality exactly: everything in train
    val perfect = graft.pipeline.Pipeline.srmAudit(docs,
      trainPct = 100, validPct = 0)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(perfect("train") == 0L)
  }

  test("shardMoveAudit: rendezvous moves far fewer keys than mod, " +
    "and both match a scalar md5 recompute") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val got = graft.pipeline.Pipeline.shardMoveAudit(docs, "doc_id")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet === Set("mod", "rendezvous"))
    val (nk, nmMod, ppmMod) = got("mod")
    val (nk2, nmRdv, ppmRdv) = got("rendezvous")
    assert(nk == nk2 && nk > 0)
    // ~80% of keys move under mod 8->10; ~20% under rendezvous
    assert(ppmMod > 600000L && ppmRdv < 350000L && ppmRdv < ppmMod)
    // scalar recompute with the same md5/hex8 derivation
    def hex8(sin: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sin.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16)
    }
    val keys = docs.select(org.apache.spark.sql.functions
      .col("doc_id").cast("string")).distinct()
      .as[String].collect()
    val modMoved = keys.count(k => hex8(k) % 8 != hex8(k) % 10)
    def shard(k: String, n: Int): Long = {
      val scored = (0 until n).map(st =>
        (hex8(s"$k|$st") * 16 + (15 - st), st.toLong))
      scored.maxBy(_._1)._2
    }
    val rdvMoved = keys.count(k => shard(k, 8) != shard(k, 10))
    assert(nmMod == modMoved && nmRdv == rdvMoved)
  }

  test("forgetAudit: per-table rows/keys match an independent md5 " +
    "derivation; lineitem cascades through the orders foreign key") {
    import spark.implicits._
    import java.sql.Timestamp
    // independent forget-flag derivation: first 8 md5 hex chars as a
    // long, mod ForgetMod — java.security, not the Spark expression
    def flagged(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % Pipeline.ForgetMod == 0
    }
    val users = (1L to 500L)
    val ts = Timestamp.valueOf("1997-01-15 00:00:00")
    val events = users.map(u => (u * 7L, ts, u, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    // orders: users 1..400 (the first md5-flagged id is 308, so the
    // order range must reach past it), orderkey = 1000+u; two
    // lineitems each
    val orders = (1L to 400L).map(u => (1000L + u, u))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 400L).flatMap(u =>
      Seq((1000L + u, 1), (1000L + u, 2)))
      .toDF("l_orderkey", "l_linenumber")
    val got = Pipeline.forgetAudit(events, orders, lineitem)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val fAll = users.count(flagged)
    val f100 = (1L to 400L).count(flagged)
    assert(fAll > 0 && f100 > 0, "fixture must flag at least one user")
    assert(got("events") ==
      ((500L, fAll.toLong, fAll.toLong, fAll * 1000000L / 500L)))
    assert(got("orders") ==
      ((400L, f100.toLong, f100.toLong, f100 * 1000000L / 400L)))
    assert(got("lineitem") ==
      ((800L, 2L * f100, f100.toLong, 2L * f100 * 1000000L / 800L)))
  }

  test("prioritySample: the k-row PPSWOR draw matches an independent " +
    "repeated-sqrt derivation; counts reconcile with the corpus") {
    import java.sql.Timestamp
    val _ = Timestamp.valueOf("2024-01-01 00:00:00") // keep import used
    val langs = Array("en", "de", "es", "fr", "zh")
    val docs = (1L to 500L).map(i =>
      (i, s"text $i", langs((i % 5).toInt), "src"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Pipeline.prioritySample(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // independent draw: same md5 uniform, t-fold strict sqrt
    def u(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 1000000 + 1).toDouble / 1000000.0
    }
    val tiers = Pipeline.PriorityTiers.toMap
    def key(id: Long, lang: String): Double =
      (0 until tiers(lang)).foldLeft(u(id))((a, _) => math.sqrt(a))
    val expect = (1L to 500L)
      .map(i => (i, langs((i % 5).toInt)))
      .sortBy { case (i, l) => (-key(i, l), i) }
      .take(Pipeline.PrioritySampleK)
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    for (l <- langs) {
      val (nDocs, nSampled, tier) = got(l)
      assert(nDocs == 100L && tier == tiers(l).toLong)
      assert(nSampled == expect.getOrElse(l, 0L), s"lang $l")
    }
    assert(got.values.map(_._2).sum == Pipeline.PrioritySampleK.toLong)
  }
}
