package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 0/1 exact dups; 2 near-dup of 0 (one word changed); 3 unrelated
  private val docs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (3L, "one two three four five six seven eight nine ten"))
    .toDF("doc_id", "text")

  test("exactDedup groups identical normalized text") {
    val r = Dedup.exactDedup(docs).orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(r == Seq((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("paragraphDedup: first (doc_id,pos) occurrence survives, later " +
    "copies cut, survivors reassembled in order") {
    val d = Seq(
      (0L, "unique zero\n\nshared body", "web"),
      (1L, "shared body\n\nunique one", "web"),
      (3L, "unique two", "books"),
      (6L, "four\n\nshared body", "web"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.paragraphDedup(d)
      .select($"doc_id", $"n_paras", $"n_kept", $"clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(x => x._1 -> x).toMap
    // doc 0 (0 % 3 == 0 -> boilerplate appended): all three paragraphs
    // are first occurrences
    assert(r(0L) == (0L, 3L, 3L, "unique zero\n\nshared body\n\n" +
      "Subscribe to the web newsletter today."))
    // doc 1 (no boilerplate): 'shared body' was doc 0's — only the
    // second paragraph survives, order preserved
    assert(r(1L) == (1L, 2L, 1L, "unique one"))
    // doc 3: different source -> its boilerplate is a first occurrence
    assert(r(3L) == (3L, 2L, 2L, "unique two\n\n" +
      "Subscribe to the books newsletter today."))
    // doc 6: body dup of doc 0's pos-1 paragraph AND the web
    // boilerplate both cut — only 'four' survives
    assert(r(6L) == (6L, 3L, 1L, "four"))
  }

  test("minhash LSH finds exact and near pairs, not unrelated ones") {
    val pairs = Dedup.minhashLshPairs(docs)
      .select("a_id", "b_id", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    assert(pairs.forall(p => p._2 != 3L && p._1 != 3L))
  }

  test("simhash: identical docs get identical hashes; pairs at low hamming") {
    val sh = Dedup.simhash(docs).orderBy("doc_id").as[(Long, String)]
      .collect()
    assert(sh(0)._2 == sh(1)._2)
    assert(sh(0)._2.length == Dedup.SimhashBits)
    val pairs = Dedup.simhashPairs(docs).select("a_id", "b_id")
      .as[(Long, Long)].collect().toSeq
    assert(pairs.contains((0L, 1L)))
  }

  test("ngram Jaccard: exact pair = 1.0, near pair in (0,1)") {
    val r = Dedup.ngramJaccardPairs(docs, minJaccard = 0.1)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(r((0L, 1L)) == 1.0)
    assert(r((0L, 2L)) > 0.1 && r((0L, 2L)) < 1.0)
    assert(!r.contains((0L, 3L)))
  }

  test("hot-shingle cap drops ubiquitous shingles from the index") {
    val many = (0L to 30L).map(i => (i, s"common common common common tail$i"))
      .toDF("doc_id", "text")
    // every doc shares the hot "common common common" shingle; cap at 10
    val pairs = Dedup.ngramJaccardPairs(many, minJaccard = 0.01, maxDf = 10)
    assert(pairs.count() == 0L)
  }

  test("shingleNovelty: shared shingles discount novelty; unique doc 1e6") {
    val r = graft.dedup.Dedup.shingleNovelty(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    // ShingleN=3 over 10 words -> 8 distinct shingles per doc
    // docs 0/1 identical: all 8 shared -> novelty 0
    assert(r(0L) == ((8L, 8L, 0L)) && r(1L) == ((8L, 8L, 0L)))
    // doc 2 differs in the last word, which only the final 3-gram
    // covers: 7 of 8 shingles are shared with docs 0/1
    assert(r(2L) == ((8L, 7L, 125000L)))
    // doc 3 shares nothing
    assert(r(3L) == ((8L, 0L, 1000000L)))
    graft.core.SessionCache.endQuery()
  }

  test("near-dup clusters: pairs share labels, label = min member id") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val labels = Dedup.nearDupClusters(docs)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == docs.count())
    // every LSH pair's endpoints landed in the same cluster
    val pairs = Dedup.minhashLshPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // the label is the minimum member id of its cluster
    labels.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.keys.min == cl)
    }
    // localMaxEdges = 0 forces the distributed label loop; labels
    // must be identical to the union-find fast path's
    val viaLoop = Dedup.nearDupClusters(docs, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    assert(viaLoop == labels, "loop and union-find labels diverge")
  }

  test("incrementalDedup: arrival near-dups flagged with best partner, " +
    "novel docs pass") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val existing = Seq(
      (1L, base),
      (2L, "completely different content about spark streaming windows"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                                    // exact dup of 1
      (11L, "unrelated novel text nothing shared here with anything"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalDedup(incoming, existing)
      .select($"doc_id", $"is_dup")
      .as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    assert(r(10L) == 1L, "planted duplicate not flagged")
    assert(r(11L) == 0L, "novel doc falsely flagged")
    val dupOf = Dedup.incrementalDedup(incoming, existing)
      .filter($"doc_id" === 10L).select($"dup_of")
      .as[Long].head()
    graft.core.SessionCache.endQuery()
    assert(dupOf == 1L)
  }

  test("clusterSizeHistogram: sizes partition the corpus exactly") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val hist = Dedup.clusterSizeHistogram(docs)
      .as[(Long, Long)].collect().toMap
    val labels = Dedup.nearDupClusters(docs).as[(Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    // Σ size · n_clusters = corpus size; histogram matches the labels
    assert(hist.map { case (sz, n) => sz * n }.sum == docs.count())
    val fromLabels = labels.groupBy(_._2).values
      .groupBy(_.size.toLong).map { case (sz, cs) => sz -> cs.size.toLong }
    assert(hist == fromLabels)
  }

  test("dupSpanRemoval: cross-doc repeated 5-gram spans are cut") {
    // docs 10/11 share the 5-token prefix; doc 12 shares nothing
    val d = Seq(
      (10L, "red orange yellow green blue violet indigo maroon"),
      (11L, "red orange yellow green blue crimson scarlet amber"),
      (12L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val r = Dedup.dupSpanRemoval(d)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_covered", "covered_ppm", "clean_fp")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    graft.core.SessionCache.endQuery()
    // only "red orange yellow green blue" is duplicated -> positions
    // 0..4 covered in both docs; doc 12 untouched
    assert(r(0) == (10L, 8L, 5L, 625000L,
      md5Hex("violet indigo maroon")))
    assert(r(1)._3 == 5L && r(1)._5 == md5Hex("crimson scarlet amber"))
    assert(r(2) == (12L, 8L, 0L, 0L,
      md5Hex("one two three four five six seven eight")))
  }

  test("lshAudit statuses reconcile with the two source operators") {
    val d = graft.core.Tables(spark, SfDir, "documents")
    val audit = Dedup.lshAudit(d)
      .select("a_id", "b_id", "status").as[(Long, Long, String)]
      .collect().toSeq
    val est = Dedup.minhashLshPairs(d)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val tru = Dedup.ngramJaccardPairs(d)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    assert(audit.map(a => (a._1, a._2)).toSet == (est ++ tru))
    audit.foreach { case (a, b, st) =>
      val expected =
        if (est((a, b)) && tru((a, b))) "both"
        else if (est((a, b))) "lsh_only" else "true_only"
      assert(st == expected, s"pair ($a,$b): $st != $expected")
    }
    // at this SF the exact and approximate paths agree on the dup set
    assert(audit.exists(_._3 == "both"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("canonicalReps: each cluster keeps exactly one highest-quality rep") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val r = Dedup.canonicalReps(docs)
      .as[(Long, Long, Double, Long)].collect().toSeq
    graft.core.SessionCache.endQuery()
    assert(r.size == docs.count())
    r.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.count(_._4 == 1L) == 1, s"cluster $cl rep count != 1")
      val rep = members.find(_._4 == 1L).get
      // rep has max quality (doc_id tiebreak)
      assert(members.forall(m => m._3 < rep._3 ||
        (m._3 == rep._3 && m._1 >= rep._1)))
    }
  }

  test("goldenRecords: order-free survivorship rules per cluster") {
    val docs = Seq(
      (1L, "x y z", "a"), (2L, "x y z w", "a"), (3L, "hello", "b"))
      .toDF("doc_id", "text", "source")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L))
      .toDF("doc_id", "cluster_id")
    val r = Dedup.goldenRecords(docs, clusterLabels = Some(labels))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5, x._6)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == ((1L, 2L, 1L, 7L, 7L)))
    assert(r(3L) == ((3L, 1L, 1L, 5L, 1L)))
  }

  test("prefixFilterPairs: hand case — near-dup pair found, unrelated " +
    "doc excluded, jac_e6 exact") {
    // docs 1/2: 6-word texts differing in the last word -> shingle
    // sets of 4 trigrams sharing 3: jac = 3/5 = 0.6 >= 0.5
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"),
      (3L, "q r s t u v")).toDF("doc_id", "text")
    val r = Dedup.prefixFilterPairs(docs, minJaccard = 0.5)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(r.toSeq == Seq((1L, 2L, 3L, 4L, 4L, 600000L)))
  }

  test("prefixFilterPairs: complete — equals the uncapped brute-force " +
    "join on fixture docs (lossless prefix filtering)") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val got = Dedup.prefixFilterPairs(docs)
      .select("a_id", "b_id", "inter", "jac_e6")
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    // brute force: inverted-index join with NO prefix and NO df cap
    val ss = Dedup.shingleSets(docs)
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
    val ex = ss.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val cnt = ss.select(col("doc_id"), size(col("shingles")).cast("long")
      .as("n"))
    val tauE6 = math.round(Dedup.MinJaccard * 1e6)
    val want = ex.select(col("doc_id").as("a_id"), col("sh"))
      .join(ex.select(col("doc_id").as("b_id"), col("sh")), Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count("*").cast("long").as("inter"))
      .join(cnt.toDF("a_id", "na"), Seq("a_id"))
      .join(cnt.toDF("b_id", "nb"), Seq("b_id"))
      .filter(col("inter") * 1000000L >=
        lit(tauE6) * (col("na") + col("nb") - col("inter")))
      .select(col("a_id"), col("b_id"), col("inter"),
        expr("(inter * 1000000) div (na + nb - inter)").as("jac_e6"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want && want.nonEmpty,
      s"got ${got.size} pairs, want ${want.size}")
  }

  test("containmentPairs: a short doc pasted inside a long one " +
    "scores near-total containment in its direction only") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " eta theta iota kappa lambda mu nu xi " +
      "omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten"
    val docs = Seq((1L, short), (2L, long),
      (3L, "totally unrelated words appear in this document here"))
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup.containmentPairs(docs, minPpm = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4))
      .toMap
    graft.core.SessionCache.endQuery()
    // every shingle of doc 1 appears in doc 2 -> containment 1e6
    assert(got((1L, 2L)) === 1000000L)
    // the reverse direction is diluted by doc 2's extra shingles
    assert(got((2L, 1L)) < 200000L)
    // the unrelated doc intersects nothing
    assert(!got.keySet.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("labelSpread: majority spread, seed self-label priority, " +
    "deterministic tie, unlabeled cluster") {
    val docs = Seq(
      (1L, "x"), (10L, "srcA"), (20L, "srcA"),   // cluster 1: maj srcA
      (2L, "y"), (3L, "z"),                      // cluster 2: no seed
      (30L, "srcB"), (31L, "w"),                 // cluster 30
      (40L, "srcC"), (50L, "srcA"), (41L, "v"))  // cluster 40: tie
      .toDF("doc_id", "source")
    val cl = Seq((1L, 1L), (10L, 1L), (20L, 1L), (2L, 2L), (3L, 2L),
      (30L, 30L), (31L, 30L), (40L, 40L), (50L, 40L), (41L, 40L))
      .toDF("doc_id", "cluster_id")
    val got = graft.dedup.Dedup.labelSpread(docs, cl)
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    // non-seed inherits the cluster majority
    assert(got(1L) === (("srcA", 0L)))
    // no seed in the cluster -> unlabeled
    assert(got(2L) === (("unlabeled", 0L)) && got(3L)._1 == "unlabeled")
    // spread from a single seed
    assert(got(30L) === (("srcB", 1L)) && got(31L) === (("srcB", 0L)))
    // 1-1 tie -> lexicographically smallest label for the non-seed,
    // but each seed keeps its OWN label
    assert(got(41L) === (("srcA", 0L)))
    assert(got(40L) === (("srcC", 1L)) && got(50L) === (("srcA", 1L)))
  }

  test("dedupMixShift: before counts match the raw source histogram, " +
    "kept totals the cluster count, ppm arithmetic exact") {
    val docsT = graft.core.Tables(spark, SfDir, "documents")
    val before = docsT.groupBy(col("source")).count()
      .as[(String, Long)].collect().toMap
    val nClusters = Dedup.sharedClusters(spark, SfDir)
      .select(col("cluster_id")).distinct().count()
    val got = Dedup.dedupMixShift(spark, SfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(got.map(r => r._1 -> r._2).toMap == before)
    assert(got.map(_._3).sum == nClusters)
    val (tb, tk) = (got.map(_._2).sum, got.map(_._3).sum)
    assert(got.forall(r => r._3 <= r._2))
    assert(got.forall(r => r._4 == (r._2 - r._3) * 1000000L / r._2))
    assert(got.forall(r => r._5 == r._2 * 1000000L / tb &&
      r._6 == r._3 * 1000000L / tk))
  }

  test("sourceDupMatrix: cells equal an independent recount of the " +
    "shared pair set, canonical order, intra flag, ppm shares") {
    val pairs = Dedup.sharedPairs(spark, SfDir)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val srcOf = graft.core.Tables(spark, SfDir, "documents")
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .collect().toMap
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Dedup.sourceDupMatrix(spark, SfDir)
      .as[(String, String, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(got.map(c => (c._1, c._2) -> c._3).toMap == expected)
    assert(got.forall(c => c._1 <= c._2))
    assert(got.forall(c => (c._5 == 1L) == (c._1 == c._2)))
    val total = got.map(_._3).sum
    assert(got.forall(c => c._4 == c._3 * 1000000L / total))
  }

  test("dedupSavings: non-keeper copies' chars count against the " +
    "source holding the copy, cross-source included") {
    val docs = Seq(
      (1L, "same text", "a", 9L), // global keeper
      (2L, "same text", "b", 9L), // cross-source copy -> b pays
      (3L, "same text", "a", 9L), // same-source copy -> a pays
      (4L, "unique", "b", 6L))
      .toDF("doc_id", "text", "source", "n_chars")
    val got = Dedup.dedupSavings(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got("a") == ((2L, 1L, 18L, 9L, 500000L)))
    assert(got("b") == ((2L, 1L, 15L, 9L, 600000L)))
  }
}
