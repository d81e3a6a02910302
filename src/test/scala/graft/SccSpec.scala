package graft

import graft.graph.Scc

class SccSpec extends SparkSpec {
  import spark.implicits._

  // the planted graph every SCC test uses:
  //   {2,3} cycle; 1 -> 2 (drive-by into the cycle); 2 -> 10 (sink);
  //   {5,6,7} 3-cycle; 8 isolated via self-referencing pair 8 -> 9
  // known SCCs: {1} {2,3} {5,6,7} {8} {9} {10}
  private val planted = Seq(
    (2L, 3L), (3L, 2L), (1L, 2L), (2L, 10L),
    (5L, 6L), (6L, 7L), (7L, 5L), (8L, 9L))
  private val want = Map(
    1L -> 1L, 2L -> 2L, 3L -> 2L, 5L -> 5L, 6L -> 5L, 7L -> 5L,
    8L -> 8L, 9L -> 9L, 10L -> 10L)

  test("localScc (Tarjan): planted cycles, chains, and sinks get " +
    "min-member labels") {
    val got = Scc.localScc(planted.toArray).toMap
    assert(got == want, s"got $got")
  }

  test("the distributed peeling loop agrees with Tarjan on the " +
    "planted graph (gate forced off)") {
    val edges = planted.toDF("src", "dst")
    val got = Scc.stronglyConnected(edges, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"got $got")
    graft.core.SessionCache.endQuery()
  }

  test("the counterexample chain: a node reachable FROM a smaller " +
    "foreign node still joins its own cycle's SCC") {
    // 1 -> 2, {2,3} cycle: the naive f(v)=b(v) test mislabels 2 and 3
    // (f=1, b != 1); the peeling loop must find {2,3} in round 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val got = Scc.stronglyConnected(edges, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L), s"got $got")
    graft.core.SessionCache.endQuery()
  }

  test("a long directed path peels entirely through TRIM (singleton " +
    "SCCs, no propagation rounds needed per node)") {
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Scc.stronglyConnected(edges, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 20L).map(i => i -> i).toMap)
    graft.core.SessionCache.endQuery()
  }

  test("tradeReciprocity: mutual counts match a naive pair check and " +
    "reciprocity is consistent with the SCC mutual core") {
    def t(n: String) = graft.core.Tables(spark, SfDir, n)
    val r = graft.graph.Scc.tradeReciprocity(t("lineitem"), t("orders"),
      t("customer"), t("supplier"), t("nation"))
      .select("nationkey", "n_out", "n_mutual", "reciprocity_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (_, out, mut, ppm) =>
      assert(mut <= out && out > 0)
      assert(ppm == mut * 1000000L / out)
    }
    // naive cross-check on the same edge frame
    val e = graft.graph.Scc.tradeEdges(t("lineitem"), t("orders"),
      t("customer"), t("supplier")).as[(Long, Long)].collect().toSet
    val wantMut = e.groupBy(_._1).map { case (s, es) =>
      s -> es.count { case (a, b) => e.contains((b, a)) } }
    r.foreach { case (n, _, mut, _) =>
      assert(wantMut.getOrElse(n, 0) == mut, s"nation $n mutual") }
    graft.core.SessionCache.endQuery()
  }

  test("sharedTradeEdges: one derivation per session — the second " +
    "call returns the SAME cached frame, and the registry faces " +
    "agree with the uncached derivation (VERDICT r14 #1)") {
    def t(n: String) = graft.core.Tables(spark, SfDir, n)
    val a = graft.graph.Scc.sharedTradeEdges(spark, SfDir)
    val b = graft.graph.Scc.sharedTradeEdges(spark, SfDir)
    assert(a eq b, "sharedTradeEdges must be session-cached (eq), " +
      "not rebuilt per call")
    val fresh = graft.graph.Scc.tradeEdges(t("lineitem"), t("orders"),
      t("customer"), t("supplier")).as[(Long, Long)].collect().toSet
    assert(a.as[(Long, Long)].collect().toSet == fresh,
      "cached trade edges diverge from the uncached derivation")
    graft.core.SessionCache.clear(spark)
    graft.core.SessionCache.endQuery()
  }

  test("tradeScc: labels partition the trade graph, scc_id is the " +
    "min member, sizes reconcile, and a mutual core exists") {
    def t(n: String) = graft.core.Tables(spark, SfDir, n)
    val r = Scc.tradeScc(t("lineitem"), t("orders"), t("customer"),
      t("supplier"), t("nation")).cache()
    val rows = r.select("nationkey", "scc_id", "n_members",
      "in_mutual_core").as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // every node labeled exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    // scc_id is the min member of its group; sizes reconcile
    rows.groupBy(_._2).foreach { case (id, ms) =>
      assert(ms.map(_._1).min == id, s"scc $id not min-labeled")
      assert(ms.forall(_._3 == ms.length), s"scc $id size mismatch")
      assert(ms.forall(m => (m._4 == 1L) == (ms.length > 1)))
    }
    // the uniform-share trade matrix has a nontrivial mutual core at
    // every fixture scale (verified against the closure oracle)
    assert(rows.exists(_._4 == 1L), "no mutual-trade core found")
    r.unpersist()
    graft.core.SessionCache.endQuery()
  }
}
