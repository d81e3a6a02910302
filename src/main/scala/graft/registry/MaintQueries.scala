package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.graph.PageRank
import graft.maint.Maintenance

/** Registry: graph-authority and table-maintenance planning operators
  * (SURVEY §2.11 X81–X83). Oracle SQL is generated from the same
  * constants as the Scala operators — iteration count, damping
  * rational, byte targets, and the Morton bit expansion — so both
  * engines evaluate the identical integer arithmetic.
  */
object MaintQueries {

  /** Columns [[graft.maint.Maintenance.columnStats]] profiles, as SQL
    * text BOTH engines parse — the query and the oracle generate from
    * this one list, so they cannot drift. The nullable probe exercises
    * the null-counting path (the fixture itself carries no NULLs). */
  private val StatsCols: Seq[(String, String)] = Seq(
    "l_partkey" -> "l_partkey",
    "l_suppkey" -> "l_suppkey",
    "price_cents" -> ("CAST(floor(CAST(l_extendedprice AS DOUBLE) " +
      "* CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"),
    "qty_units" -> ("CAST(floor(CAST(l_quantity AS DOUBLE) " +
      "* CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"),
    "supp_nullable" -> ("CASE WHEN l_suppkey % 10 = 0 THEN NULL " +
      "ELSE l_suppkey END"))

  /** One PageRank step as a CTE, from the same constants. */
  private def pprStep(prev: String, curr: String): String =
    s"""$curr AS MATERIALIZED (SELECT rs.node,
       |  CAST(rs.restart + (${PageRank.DampNum} *
       |    COALESCE(s.c, 0)) // ${PageRank.DampDen} AS BIGINT) AS pr
       |FROM rs LEFT JOIN (
       |  SELECT e.dst, CAST(SUM(r.pr // g.outdeg) AS BIGINT) AS c
       |  FROM e JOIN deg g ON e.src = g.src
       |       JOIN $prev r ON e.src = r.node
       |  GROUP BY 1) s ON rs.node = s.dst)""".stripMargin

  private def prStep(prev: String, curr: String): String =
    s"""$curr AS (SELECT d.src AS node,
       |  CAST(${PageRank.RestartE6} + (${PageRank.DampNum} *
       |    COALESCE(s.c, 0)) // ${PageRank.DampDen} AS BIGINT) AS pr
       |FROM deg d LEFT JOIN (
       |  SELECT e.dst, CAST(SUM(r.pr // g.outdeg) AS BIGINT) AS c
       |  FROM e JOIN deg g ON e.src = g.src
       |       JOIN $prev r ON e.src = r.node
       |  GROUP BY 1) s ON d.src = s.dst)""".stripMargin

  /** Nation-trade edge CTE chain (flows → pair counts → uniform-share
    * bar → directed edges `e(src, dst)`), generated from
    * [[graft.graph.Scc.MeanSharePpm]] — shared by the graph_scc and
    * graph_reciprocity oracles so the two cannot disagree about an
    * edge. */
  private val TradeEdgeCtes: String = {
    val ppm = graft.graph.Scc.MeanSharePpm
    s"""flows AS (
       |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
       |         l.l_orderkey AS o
       |  FROM lineitem l
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer c ON o_custkey = c_custkey
       |  JOIN supplier s ON l_suppkey = s_suppkey),
       |pc AS (SELECT cn, sn, CAST(count(DISTINCT o) AS BIGINT) AS w
       |       FROM flows GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM pc),
       |e AS MATERIALIZED (
       |  SELECT CAST(cn AS BIGINT) AS src, CAST(sn AS BIGINT) AS dst
       |  FROM pc, tot
       |  WHERE cn <> sn AND w * 1000000 >= t * $ppm)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_pagerank", (s, d) =>
      PageRank.purchaseRanks(Tables(s, d, "orders"),
        Tables(s, d, "lineitem"),
        graph = Some(PageRank.sharedPurchaseGraph(s, d))),
      Oracle(s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM cs
         |      UNION ALL SELECT dst AS src, src AS dst FROM cs),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
         |        FROM e GROUP BY 1),
         |r0 AS (SELECT src AS node, CAST(${PageRank.BaseE6} AS BIGINT)
         |         AS pr FROM deg),
         |${(1 to PageRank.Iters).map(i => prStep(s"r${i - 1}", s"r$i"))
            .mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS kind,
         |  CAST(node // 2 AS BIGINT) AS id, pr AS rank_e6
         |FROM r${PageRank.Iters}""".stripMargin)),
    // X184: personalized PageRank — restart mass only on the seed
    // suppliers, scores = reachability from the seeds (the
    // recommendation primitive); same integer-exact arithmetic
    QuerySpec("graph_ppr", (s, d) =>
      PageRank.personalizedRanks(Tables(s, d, "orders"),
        Tables(s, d, "lineitem"),
        graph = Some(PageRank.sharedPurchaseGraph(s, d))),
      Oracle(s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM cs
         |      UNION ALL SELECT dst AS src, src AS dst FROM cs),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
         |        FROM e GROUP BY 1),
         |rs AS (SELECT src AS node,
         |         CAST(CASE WHEN src % 2 = 1 AND (src // 2) % 10 = 0
         |              THEN ${PageRank.RestartE6} ELSE 0 END AS BIGINT)
         |           AS restart
         |       FROM deg),
         |r0 AS (SELECT node, restart AS pr FROM rs),
         |${(1 to PageRank.Iters).map(i => pprStep(s"r${i - 1}", s"r$i"))
            .mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS kind,
         |  CAST(node // 2 AS BIGINT) AS id, pr AS rank_e6
         |FROM r${PageRank.Iters}""".stripMargin)),
    // X257: integer-exact HITS hubs/authorities — the DIRECTED
    // customer→supplier half of the shared edge cache, session-cached
    // itself (six joins read it; filtering the symmetrized cache per
    // join scans 2|E| each time); per-round max-normalization in
    // floor arithmetic (see Hits scaladoc)
    QuerySpec("graph_hits", (s, d) =>
      graft.graph.Hits.purchaseHits(
        graft.core.SessionCache.cached(s, s"purchase_cs:$d")(
          PageRank.sharedPurchaseGraph(s, d)._1
            .filter(col("src") % 2 === 0)),
        // the odd-src half IS the reversed edge set (the cache is
        // symmetrized), already hash-partitioned on src — the hub
        // leg's per-round edge reshuffle disappears (Hits scaladoc)
        sc = Some(graft.core.SessionCache.cached(s, s"purchase_sc:$d")(
          PageRank.sharedPurchaseGraph(s, d)._1
            .filter(col("src") % 2 === 1)))),
      // same alternating auth/hub rounds unrolled (MATERIALIZED per
      // round) with the same floor-div max-normalization constants
      Oracle({
      import graft.graph.Hits.{BaseE6, Iters}
      def round(i: Int): String =
        s"""ar$i AS MATERIALIZED (
           |  SELECT cs.dst AS node, CAST(SUM(h.s) AS BIGINT) AS raw
           |  FROM cs JOIN h${i - 1} h ON cs.src = h.node GROUP BY 1),
           |a$i AS MATERIALIZED (
           |  SELECT node, CAST(raw * 1000000 // greatest(
           |    (SELECT MAX(raw) FROM ar$i), 1) AS BIGINT) AS s
           |  FROM ar$i),
           |hr$i AS MATERIALIZED (
           |  SELECT cs.src AS node, CAST(SUM(a.s) AS BIGINT) AS raw
           |  FROM cs JOIN a$i a ON cs.dst = a.node GROUP BY 1),
           |h$i AS MATERIALIZED (
           |  SELECT node, CAST(raw * 1000000 // greatest(
           |    (SELECT MAX(raw) FROM hr$i), 1) AS BIGINT) AS s
           |  FROM hr$i)""".stripMargin
      s"""WITH cs AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |h0 AS (SELECT DISTINCT src AS node,
         |         CAST($BaseE6 AS BIGINT) AS s FROM cs),
         |${(1 to Iters).map(round).mkString(",\n")}
         |SELECT 'customer' AS kind, CAST(node // 2 AS BIGINT) AS id,
         |  s AS hub_e6, CAST(0 AS BIGINT) AS auth_e6 FROM h$Iters
         |UNION ALL
         |SELECT 'supplier', CAST(node // 2 AS BIGINT), CAST(0 AS BIGINT),
         |  s FROM a$Iters""".stripMargin
    })),
    // X302: directed strongly-connected components over the
    // nation-trade graph (VERDICT r13 #7) — mutual-trade cores vs
    // drive-by partners; Fleischer-trim + min-pivot coloring loop
    // (driver Tarjan below the small-graph gate), oracle = recursive
    // transitive closure + mutual-reachability min (an independent
    // first-principles derivation, not a loop transcription)
    QuerySpec("graph_scc", (s, d) =>
      graft.graph.Scc.tradeScc(
        graft.graph.Scc.sharedTradeEdges(s, d),
        Tables(s, d, "nation")),
      // SCC from first principles: recursive transitive closure (UNION
      // dedup terminates it on cycles — the graph is the bounded
      // uniform-share trade matrix), then scc_id(v) = min of v and
      // every mutually-reachable u; the engine reaches the same labels
      // by trim + coloring peeling (or the gated driver Tarjan)
      Oracle({
      s"""WITH RECURSIVE $TradeEdgeCtes,
         |nd AS (SELECT DISTINCT v FROM (
         |         SELECT src AS v FROM e
         |         UNION ALL SELECT dst AS v FROM e)),
         |reach AS (
         |  SELECT src AS s, dst AS t FROM e
         |  UNION
         |  SELECT r.s, e.dst FROM reach r JOIN e ON r.t = e.src),
         |mut AS (SELECT a.s AS v, a.t AS u
         |        FROM reach a JOIN reach b
         |          ON a.s = b.t AND a.t = b.s),
         |scc AS (
         |  SELECT nd.v,
         |         CAST(LEAST(nd.v, COALESCE(MIN(m.u), nd.v)) AS BIGINT)
         |           AS scc_id
         |  FROM nd LEFT JOIN mut m ON nd.v = m.v
         |  GROUP BY nd.v),
         |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS n_members
         |       FROM scc GROUP BY 1)
         |SELECT n.n_name, scc.v AS nationkey, scc.scc_id, sz.n_members,
         |  CAST(CASE WHEN sz.n_members > 1 THEN 1 ELSE 0 END AS BIGINT)
         |    AS in_mutual_core
         |FROM scc
         |JOIN sz USING (scc_id)
         |JOIN nation n ON scc.v = n.n_nationkey""".stripMargin
    })),
    // X303: per-nation trade reciprocity — the edge-level mutuality
    // signal beside graph_scc's component-level one; both ride the
    // session-cached trade-edge derivation (VERDICT r14 #1)
    QuerySpec("graph_reciprocity", (s, d) =>
      graft.graph.Scc.tradeReciprocity(
        graft.graph.Scc.sharedTradeEdges(s, d),
        Tables(s, d, "nation")),
      // the shared trade-edge chain + one swapped self-join for the
      // mutual count; reciprocity by floor-div ppm
      Oracle(s"""WITH $TradeEdgeCtes,
         |om AS (
         |  SELECT a.src, CAST(count(*) AS BIGINT) AS n_out,
         |    CAST(SUM(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_mutual
         |  FROM e a LEFT JOIN e b
         |    ON a.src = b.dst AND a.dst = b.src
         |  GROUP BY a.src)
         |SELECT n.n_name, om.src AS nationkey, om.n_out, om.n_mutual,
         |  CAST((om.n_mutual * 1000000) // om.n_out AS BIGINT)
         |    AS reciprocity_ppm
         |FROM om JOIN nation n ON om.src = n.n_nationkey""".stripMargin)),
    QuerySpec("maint_compaction_plan", (s, d) =>
      Maintenance.compactionPlan(
        Tables(s, d, "documents").select(col("source"), col("doc_id"),
          length(col("text")).cast("long").as("bytes"))),
      Oracle(s"""WITH m AS (
         |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS bytes
         |  FROM documents),
         |o AS (
         |  SELECT source, doc_id, bytes,
         |    CAST(COALESCE(SUM(bytes) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS start_off
         |  FROM m)
         |SELECT source, doc_id, bytes,
         |  start_off // ${Maintenance.TargetBytes} AS bin
         |FROM o""".stripMargin)),
    QuerySpec("maint_zorder_stats", (s, d) =>
      Maintenance.zorderStats(Tables(s, d, "lineitem"),
        "l_partkey", "l_suppkey"),
      Oracle(s"""WITH b AS (
         |  SELECT CAST(l_partkey AS BIGINT) AS x,
         |         CAST(l_suppkey AS BIGINT) AS y
         |  FROM lineitem),
         |z AS (SELECT x, y,
         |        ${Maintenance.mortonKeySql("x", "y")} AS zkey
         |      FROM b)
         |SELECT zkey // ${1L << Maintenance.ZBucketShift} AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(x) AS x_min, MAX(x) AS x_max,
         |  MIN(y) AS y_min, MAX(y) AS y_max
         |FROM z GROUP BY 1""".stripMargin)),
    QuerySpec("graph_triangles", (s, d) =>
      graft.graph.Triangles.triangleCounts(
        graft.graph.Triangles.sharedCoPurchaseEdges(s, d)),
      // the oracle enumerates each triangle once in canonical id order
      // (a<b<c via the e1-e2-e3 triple join); the engine enumerates via
      // degree-ordered orientation — a different wedge schedule over the
      // SAME edge set, so the triangle set (and hence every per-node
      // count) is identical
      Oracle("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p),
        |und AS (SELECT a AS u, b AS v FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |        FROM und GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (SELECT x AS n FROM tri
        |          UNION ALL SELECT y FROM tri
        |          UNION ALL SELECT z FROM tri),
        |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS c FROM nodes GROUP BY 1)
        |SELECT d.u AS part, d.deg, CAST(COALESCE(tc.c, 0) AS BIGINT) AS n_tri
        |FROM deg d LEFT JOIN tc ON d.u = tc.n""".stripMargin)),
    // X314: per-edge embeddedness + local-bridge flag (Granovetter
    // weak ties) — shared oriented-wedge enumeration, edge-grain
    // rollup; rides the session-cached weighted co-purchase edges
    QuerySpec("graph_edge_embeddedness", (s, d) =>
      graft.graph.Triangles.edgeEmbeddedness(
        graft.graph.Triangles.sharedWeightedEdges(s, d)),
      // embeddedness recomputed INDEPENDENTLY as a common-neighbor join
      // (adjacent-to-both count per edge), not the engine's orientation
      // transcription — same edge set, same counts
      Oracle("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS w
        |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
        |  GROUP BY 1, 2),
        |und AS (SELECT a AS u, b AS v FROM e
        |        UNION ALL SELECT b, a FROM e),
        |cn AS (
        |  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM e
        |  JOIN und x ON x.u = e.a
        |  JOIN und y ON y.u = e.b AND y.v = x.v
        |  GROUP BY 1, 2)
        |SELECT e.a, e.b, e.w,
        |  CAST(COALESCE(cn.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN COALESCE(cn.n_triangles, 0) = 0 THEN 1
        |       ELSE 0 END AS BIGINT) AS is_local_bridge
        |FROM e LEFT JOIN cn USING (a, b)""".stripMargin)),
    // X212: per-node local clustering coefficient — one ppm
    // projection over the m^(3/2)-bounded triangle frame; shares the
    // session co-purchase edge cache
    QuerySpec("graph_clustering_coeff", (s, d) =>
      graft.graph.Triangles.clusteringCoefficients(
        graft.graph.Triangles.sharedCoPurchaseEdges(s, d)),
      // same canonical triangle enumeration; cc = 2e6·tri // deg·(deg−1)
      // (non-negative, so // ≡ div), degree-1 nodes 0 by convention
      Oracle("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p),
        |und AS (SELECT a AS u, b AS v FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |        FROM und GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (SELECT x AS n FROM tri
        |          UNION ALL SELECT y FROM tri
        |          UNION ALL SELECT z FROM tri),
        |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS c FROM nodes GROUP BY 1)
        |SELECT d.u AS part, d.deg,
        |  CAST(COALESCE(tc.c, 0) AS BIGINT) AS n_tri,
        |  CAST(CASE WHEN d.deg < 2 THEN 0
        |       ELSE (COALESCE(tc.c, 0) * 2000000)
        |            // (d.deg * (d.deg - 1)) END AS BIGINT) AS cc_e6
        |FROM deg d LEFT JOIN tc ON d.u = tc.n""".stripMargin)),
    // X246: power-of-2 degree histogram — the heavy-tail sanity read
    QuerySpec("graph_degree_histogram", (s, d) =>
      graft.graph.Triangles.degreeHistogram(
        graft.graph.Triangles.sharedCoPurchaseEdges(s, d)),
      // same co-purchase edges + undirected degrees, floor-log2 buckets
      Oracle("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p),
        |und AS (SELECT a AS u FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |        FROM und GROUP BY 1),
        |b AS (SELECT CAST(length(format('{:b}', deg)) AS BIGINT)
        |        AS bucket, CAST(count(*) AS BIGINT) AS n_nodes
        |      FROM deg GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS n_total FROM b)
        |SELECT bucket, n_nodes,
        |  CAST((n_nodes * 1000000) // greatest(n_total, 1) AS BIGINT)
        |    AS share_ppm
        |FROM b CROSS JOIN tot""".stripMargin)),
    QuerySpec("graph_communities", (s, d) =>
      graft.graph.Communities.labelPropagationUnd(
        graft.graph.Triangles.sharedUndirectedEdges(s, d)),
      // synchronous LPA unrolled (MATERIALIZED per round — DuckDB inlines
      // chained CTEs otherwise); same deterministic rule as the engine:
      // neighbor-majority, ties to the smallest label, min-id init
      Oracle({
      def round(i: Int): String =
        s"""l$i AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT u AS node, label, row_number() OVER (
           |      PARTITION BY u ORDER BY c DESC, label ASC) AS rn
           |    FROM (SELECT e.u, l.label, CAST(count(*) AS BIGINT) AS c
           |          FROM und e JOIN l${i - 1} l ON e.v = l.node
           |          GROUP BY 1, 2))
           |  WHERE rn = 1)""".stripMargin
      val r = graft.graph.Communities.LpaRounds
      s"""WITH op AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p),
         |und AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
         |       UNION ALL SELECT b, a FROM e0),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT u AS node, u AS label FROM und),
         |${(1 to r).map(round).mkString(",\n")},
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS csize
         |       FROM l$r GROUP BY 1)
         |SELECT l.node AS part, l.label AS community, sz.csize
         |FROM l$r l JOIN sz ON l.label = sz.label""".stripMargin
    })),
    QuerySpec("graph_kcore", (s, d) =>
      graft.graph.KCore.kCoreUnd(
        graft.graph.Triangles.sharedUndirectedEdges(s, d)),
      // synchronous peeling unrolled, same fixed-round contract as the
      // engine (KCore.scala): round i keeps nodes whose degree within the
      // round-(i-1) survivor set is >= K; the final select recomputes
      // degree over the LAST survivor set, matching KCore.kCore
      Oracle({
      def peel(i: Int): String =
        s"""s$i AS MATERIALIZED (
           |  SELECT u FROM (
           |    SELECT n.u, count(*) AS c
           |    FROM und n JOIN s${i - 1} a ON n.u = a.u
           |               JOIN s${i - 1} b ON n.v = b.u
           |    GROUP BY 1)
           |  WHERE c >= ${graft.graph.KCore.K})""".stripMargin
      val r = graft.graph.KCore.PeelRounds
      s"""WITH op AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p),
         |und AS MATERIALIZED (SELECT a AS u, b AS v FROM e
         |       UNION ALL SELECT b, a FROM e),
         |s0 AS MATERIALIZED (SELECT DISTINCT u FROM und),
         |${(1 to r).map(peel).mkString(",\n")}
         |SELECT n.u AS part, CAST(count(*) AS BIGINT) AS core_deg
         |FROM und n JOIN s$r a ON n.u = a.u JOIN s$r b ON n.v = b.u
         |GROUP BY 1""".stripMargin
    })),
    QuerySpec("basket_rules", (s, d) =>
      graft.analytics.Associations.basketRules(Tables(s, d, "lineitem")),
      // same per-order pair derivation as graph_triangles but WITHOUT
      // the distinct — multiplicity IS the support; integer confidence
      // and lift, both directions of each surviving pair
      Oracle(s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders
         |      FROM op),
         |sup AS (SELECT p, CAST(count(*) AS BIGINT) AS n_item
         |        FROM op GROUP BY 1),
         |pc AS (SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT)
         |           AS n_pair
         |       FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
         |       GROUP BY 1, 2
         |       HAVING count(*) >= ${graft.analytics.Associations.MinSupport}),
         |dr AS (SELECT a AS ant, b AS cons, n_pair FROM pc
         |       UNION ALL SELECT b, a, n_pair FROM pc)
         |SELECT dr.ant, dr.cons, dr.n_pair, sa.n_item AS n_ant,
         |  CAST((dr.n_pair * 1000000) // sa.n_item AS BIGINT) AS conf_e6,
         |  CAST((dr.n_pair * 1000000 * n.n_orders)
         |    // (sa.n_item * sc.n_item) AS BIGINT) AS lift_e6
         |FROM dr JOIN sup sa ON dr.ant = sa.p
         |        JOIN sup sc ON dr.cons = sc.p
         |        CROSS JOIN n""".stripMargin)),
    // X170: common-neighbor link prediction — wedge join over the
    // session edge cache, hub middles capped as part of the statistic
    QuerySpec("graph_link_predict", (s, d) =>
      graft.graph.LinkPredict.commonNeighborTopK(
        graft.graph.Triangles.sharedCoPurchaseEdges(s, d)),
      // same wedge join with the same degree-capped middles; NOT EXISTS
      // drops existing edges; (score desc, a, b) is a total order
      Oracle({
      val cap = graft.graph.LinkPredict.MaxMidDegree
      val k = graft.graph.LinkPredict.TopK
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
         |  FROM lineitem),
         |e AS (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p),
         |und AS (SELECT a AS m, b AS x FROM e
         |        UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT m, CAST(count(*) AS BIGINT) AS deg
         |        FROM und GROUP BY 1),
         |nb AS (SELECT und.m, und.x FROM und
         |       JOIN deg ON und.m = deg.m WHERE deg.deg <= $cap),
         |cand AS (
         |  SELECT p1.x AS a, p2.x AS b,
         |         CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM nb p1 JOIN nb p2 ON p1.m = p2.m AND p1.x < p2.x
         |  GROUP BY 1, 2),
         |nonedge AS (
         |  SELECT * FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM e
         |                    WHERE e.a = c.a AND e.b = c.b)
         |  ORDER BY n_common DESC, a ASC, b ASC LIMIT $k)
         |SELECT a, b, n_common,
         |  CAST(row_number() OVER (ORDER BY n_common DESC, a, b)
         |    AS BIGINT) AS rank
         |FROM nonedge""".stripMargin
    })),
    // X143: distributed connected components (min-label propagation to
    // fixpoint) over the support-filtered co-purchase graph
    QuerySpec("graph_components", (s, d) =>
      graft.graph.Components.connectedComponents(
        graft.graph.Triangles.sharedWeightedEdges(s, d)
          .filter(col("w") >= graft.graph.Components.MinSupport)
          .select(col("a"), col("b"))),
      // the oracle computes reachability by recursive label spreading
      // (every node accumulates each reachable id, min per node = the
      // component's minimum member) — exhaustive but self-terminating;
      // the engine reaches the same fixpoint by min-label propagation.
      // Bounded because the support filter keeps the edge set small.
      Oracle({
      val ms = graft.graph.Components.MinSupport
      s"""WITH RECURSIVE op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
         |  FROM lineitem),
         |e AS (
         |  SELECT x.p AS a, y.p AS b
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= $ms),
         |und AS (SELECT a AS u, b AS v FROM e
         |        UNION ALL SELECT b, a FROM e),
         |r AS (
         |  SELECT DISTINCT u AS node, u AS lbl FROM und
         |  UNION
         |  SELECT und.u AS node, r.lbl
         |  FROM r JOIN und ON r.node = und.v),
         |m AS (SELECT node, MIN(lbl) AS lbl FROM r GROUP BY 1)
         |SELECT lbl AS component_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM m GROUP BY 1""".stripMargin
    })),
    // X153: ANALYZE-style column statistics (CBO-feeding profile):
    // one unpivot pass for counts/nulls/min/max + KMV NDV per column;
    // the nullable probe column exercises the null path
    QuerySpec("maint_column_stats", (s, d) =>
      Maintenance.columnStats(Tables(s, d, "lineitem"),
        StatsCols.map { case (n, e) => n -> expr(e) }),
      // generated from the SAME StatsCols list as the engine query; the
      // rank window is the NDV spec the bounded heaps must reproduce
      Oracle({
      val k = graft.maint.Maintenance.StatsNdvK
      val estNum = (k - 1).toLong * graft.operators.KmvSketch.HashSpan
      val h = OracleSql.hex8("md5(CAST(v AS VARCHAR))")
      val arms = StatsCols.map { case (n, e) =>
        s"SELECT '$n' AS col_name, CAST($e AS BIGINT) AS v FROM lineitem"
      }.mkString("\n  UNION ALL ")
      s"""WITH u AS (
         |  $arms),
         |base AS (
         |  SELECT col_name,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_null,
         |    CAST(MIN(v) AS BIGINT) AS min_val,
         |    CAST(MAX(v) AS BIGINT) AS max_val
         |  FROM u GROUP BY 1),
         |dh AS (SELECT DISTINCT col_name, $h AS hh FROM u
         |       WHERE v IS NOT NULL),
         |r AS (SELECT col_name, hh,
         |        row_number() OVER (PARTITION BY col_name
         |          ORDER BY hh) AS rk
         |      FROM dh),
         |ndv AS (
         |  SELECT col_name, CAST(COUNT(*) AS BIGINT) AS ndv_kept,
         |         CAST(MAX(hh) AS BIGINT) AS kth
         |  FROM r WHERE rk <= $k GROUP BY 1)
         |SELECT base.col_name, n_rows, n_null, min_val, max_val,
         |  CAST(COALESCE(ndv_kept, 0) AS BIGINT) AS ndv_kept,
         |  CAST(COALESCE(CASE WHEN ndv_kept < $k THEN ndv_kept
         |       ELSE $estNum // greatest(kth, 1) END, 0) AS BIGINT)
         |    AS ndv_est
         |FROM base LEFT JOIN ndv USING (col_name)""".stripMargin
    })),
    // X148: measured data-skipping audit — the same points bucketed by
    // Morton tiles vs a key-hash layout, a 2-D box planned against
    // both footers' min/max stats; the zorder scan_ppm is the win
    QuerySpec("maint_pruning_audit", (s, d) =>
      Maintenance.pruningAudit(Tables(s, d, "lineitem"),
        "l_partkey", "l_suppkey", "l_orderkey"),
      // same Morton spelling, same quarter-box probe; a bucket scans iff
      // its min corner is inside the box (lo = 0, coords non-negative)
      Oracle({
      import graft.maint.Maintenance._
      val z = mortonKeySql("x", "y", AuditBits)
      val side = 1L << AuditBits
      val hx = OracleSql.hex8("md5(CAST(l_partkey AS VARCHAR))")
      val hy = OracleSql.hex8("md5(CAST(l_suppkey AS VARCHAR))")
      s"""WITH pts AS (
         |  SELECT $hx % $side AS x, $hy % $side AS y,
         |         l_orderkey % $side AS natbucket
         |  FROM lineitem),
         |lay AS (
         |  SELECT 'zorder' AS layout,
         |         $z // ${1L << AuditBucketShift} AS bucket, x, y
         |  FROM pts
         |  UNION ALL
         |  SELECT 'natural', natbucket, x, y FROM pts),
         |bk AS (
         |  SELECT layout, bucket,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    MIN(x) AS x_min, MIN(y) AS y_min,
         |    CAST(SUM(CASE WHEN x <= $AuditBoxHi AND y <= $AuditBoxHi
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |    CASE WHEN MIN(x) <= $AuditBoxHi AND MIN(y) <= $AuditBoxHi
         |         THEN 1 ELSE 0 END AS scanned
         |  FROM lay GROUP BY 1, 2)
         |SELECT layout,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(scanned) AS BIGINT) AS n_scanned,
         |  CAST(SUM(n_rows) AS BIGINT) AS rows_total,
         |  CAST(SUM(scanned * n_rows) AS BIGINT) AS rows_scanned,
         |  CAST(SUM(n_match) AS BIGINT) AS rows_matching,
         |  (CAST(SUM(scanned * n_rows) AS BIGINT) * 1000000)
         |    // CAST(SUM(n_rows) AS BIGINT) AS scan_ppm
         |FROM bk GROUP BY 1""".stripMargin
    })),
    // X188: seed-set BFS hop distance — frontier-based, each edge
    // traversed once per source discovery, anti-join keeps hops minimal
    QuerySpec("graph_bfs_hops", (s, d) =>
      graft.graph.BfsHops.seedHops(Tables(s, d, "orders"),
        Tables(s, d, "lineitem"),
        graph = Some(PageRank.sharedPurchaseGraph(s, d))),
      // same frontier sequence unrolled (MATERIALIZED per round); the
      // NOT EXISTS against the settled set is the minimal-hop guarantee
      Oracle({
      def round(i: Int): String =
        s"""f$i AS MATERIALIZED (
           |  SELECT DISTINCT e.dst AS node
           |  FROM e JOIN f${i - 1} f ON e.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM d${i - 1} s
           |                    WHERE s.node = e.dst)),
           |d$i AS MATERIALIZED (
           |  SELECT node, hops FROM d${i - 1}
           |  UNION ALL
           |  SELECT node, CAST($i AS BIGINT) AS hops FROM f$i)""".stripMargin
      val r = graft.graph.BfsHops.Rounds
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM cs
         |      UNION ALL SELECT dst AS src, src AS dst FROM cs),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
         |        FROM e GROUP BY 1),
         |d0 AS MATERIALIZED (
         |  SELECT src AS node, CAST(0 AS BIGINT) AS hops FROM deg
         |  WHERE src % 2 = 1 AND (src // 2) % 10 = 0),
         |f0 AS MATERIALIZED (SELECT node FROM d0),
         |${(1 to r).map(round).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS kind,
         |  CAST(node // 2 AS BIGINT) AS id, hops
         |FROM d$r""".stripMargin
    })),
    // X293: sampled harmonic centrality — per-node Σ 1e6 div hops over
    // the deterministic seed sample; (seed, node)-keyed frontier BFS
    QuerySpec("graph_harmonic", (s, d) =>
      graft.graph.BfsHops.harmonicSampled(Tables(s, d, "orders"),
        Tables(s, d, "lineitem"),
        graph = Some(PageRank.sharedPurchaseGraph(s, d)),
        // same seed predicate, same frontier recurrence: the σ-BFS
        // level tier IS harmonic's (seed, node, hops) table
        levelsIn = Some(
          graft.graph.Betweenness.sharedForwardLevels(s, d))),
      // the bfs frontier unrolled with (seed, node) state — same
      // MATERIALIZED-per-round device, integer 1e6 div hops scoring
      Oracle({
      def round(i: Int): String =
        s"""f$i AS MATERIALIZED (
           |  SELECT DISTINCT f.seed, e.dst AS node
           |  FROM e JOIN f${i - 1} f ON e.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM d${i - 1} s
           |                    WHERE s.seed = f.seed
           |                      AND s.node = e.dst)),
           |d$i AS MATERIALIZED (
           |  SELECT seed, node, hops FROM d${i - 1}
           |  UNION ALL
           |  SELECT seed, node, CAST($i AS BIGINT) AS hops FROM f$i)"""
          .stripMargin
      val r = graft.graph.BfsHops.Rounds
      val m = graft.graph.BfsHops.HarmonicSeedMod
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM cs
         |      UNION ALL SELECT dst AS src, src AS dst FROM cs),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
         |        FROM e GROUP BY 1),
         |d0 AS MATERIALIZED (
         |  SELECT src AS seed, src AS node, CAST(0 AS BIGINT) AS hops
         |  FROM deg WHERE src % 2 = 1 AND (src // 2) % $m = 0),
         |f0 AS MATERIALIZED (SELECT seed, node FROM d0),
         |${(1 to r).map(round).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS kind,
         |  CAST(node // 2 AS BIGINT) AS id,
         |  CAST(count(*) AS BIGINT) AS n_sources,
         |  CAST(SUM(1000000 // hops) AS BIGINT) AS harm_e6
         |FROM d$r WHERE hops > 0 GROUP BY 1, 2""".stripMargin
    })),
    // X309: sampled betweenness centrality (VERDICT r14 #6) — Brandes
    // dependency accumulation in e6 micro-units over the σ-carrying
    // frontier BFS; forward hop frames reused by the backward pass
    QuerySpec("graph_betweenness", (s, d) => {
      val (e, g) = PageRank.sharedPurchaseGraph(s, d)
      graft.graph.Betweenness.sampledBetweenness(e, g,
        levelsIn = Some(
          graft.graph.Betweenness.sharedForwardLevels(s, d)))
    },
      // the σ-carrying frontier BFS unrolled forward (MATERIALIZED per
      // round), then Brandes' dependency accumulation unrolled BACKWARD
      // level by level — every term the same non-negative integer
      // floor-div in both engines
      Oracle({
      def fwd(i: Int): String =
        s"""f$i AS MATERIALIZED (
           |  SELECT f.seed, e.dst AS node,
           |         CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM e JOIN f${i - 1} f ON e.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM d${i - 1} s
           |                    WHERE s.seed = f.seed
           |                      AND s.node = e.dst)
           |  GROUP BY 1, 2),
           |d$i AS MATERIALIZED (
           |  SELECT seed, node, hops, sigma FROM d${i - 1}
           |  UNION ALL
           |  SELECT seed, node, CAST($i AS BIGINT) AS hops, sigma
           |  FROM f$i)""".stripMargin
      val r = graft.graph.BfsHops.Rounds
      def bwd(l: Int): String =
        s"""b$l AS MATERIALIZED (
           |  SELECT c.seed, c.node, c.sigma,
           |         CAST(COALESCE(t.delta, 0) AS BIGINT) AS delta
           |  FROM (SELECT seed, node, sigma FROM d$r WHERE hops = $l) c
           |  LEFT JOIN (
           |    SELECT c2.seed, c2.node,
           |      CAST(SUM((c2.sigma * (1000000 + n.delta)) // n.sigma)
           |        AS BIGINT) AS delta
           |    FROM (SELECT seed, node, sigma FROM d$r
           |          WHERE hops = $l) c2
           |    JOIN e ON e.src = c2.node
           |    JOIN b${l + 1} n ON n.seed = c2.seed AND n.node = e.dst
           |    GROUP BY 1, 2) t
           |  ON t.seed = c.seed AND t.node = c.node)""".stripMargin
      val m = graft.graph.Betweenness.SeedMod
      val unions = (r - 1 to 1 by -1).map(l =>
        s"      UNION ALL SELECT seed, node, delta FROM b$l")
        .mkString("\n")
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM cs
         |      UNION ALL SELECT dst AS src, src AS dst FROM cs),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
         |        FROM e GROUP BY 1),
         |d0 AS MATERIALIZED (
         |  SELECT src AS seed, src AS node, CAST(0 AS BIGINT) AS hops,
         |         CAST(1 AS BIGINT) AS sigma
         |  FROM deg WHERE src % 2 = 1 AND (src // 2) % $m = 0),
         |f0 AS MATERIALIZED (SELECT seed, node, sigma FROM d0),
         |${(1 to r).map(fwd).mkString(",\n")},
         |b$r AS MATERIALIZED (
         |  SELECT seed, node, sigma, CAST(0 AS BIGINT) AS delta
         |  FROM d$r WHERE hops = $r),
         |${(r - 1 to 1 by -1).map(bwd).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS kind,
         |  CAST(node // 2 AS BIGINT) AS id,
         |  CAST(count(*) AS BIGINT) AS n_seeds,
         |  CAST(SUM(delta) AS BIGINT) AS bc_e6
         |FROM (SELECT seed, node, delta FROM b$r
         |$unions)
         |GROUP BY 1, 2""".stripMargin
    })),
    // X191: seed-set cheapest-path cost — Bellman-Ford min-plus over
    // inverse-support edge costs; full-table relaxation per round (a
    // settled node can still improve, so no frontier shortcut)
    QuerySpec("graph_cheapest_path", (s, d) =>
      graft.graph.CheapestPath.seedCosts(
        graft.graph.Triangles.sharedWeightedEdges(s, d),
        undIn = Some(graft.graph.CheapestPath.sharedCostEdges(s, d))),
      // same min-plus relaxation unrolled (MATERIALIZED per round) over
      // the same integer floor-divided edge costs
      Oracle({
      def round(i: Int): String =
        s"""d$i AS MATERIALIZED (
           |  SELECT node, CAST(MIN(cost_e6) AS BIGINT) AS cost_e6 FROM (
           |    SELECT node, cost_e6 FROM d${i - 1}
           |    UNION ALL
           |    SELECT e.v AS node, d.cost_e6 + e.cost AS cost_e6
           |    FROM e JOIN d${i - 1} d ON e.u = d.node)
           |  GROUP BY 1)""".stripMargin
      import graft.graph.CheapestPath.{CostScale, Rounds, SeedMod}
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
         |  FROM lineitem),
         |w AS (
         |  SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS w
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (
         |  SELECT a AS u, b AS v, CAST($CostScale // w AS BIGINT) AS cost
         |  FROM w
         |  UNION ALL
         |  SELECT b, a, CAST($CostScale // w AS BIGINT) FROM w),
         |d0 AS MATERIALIZED (
         |  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS cost_e6
         |  FROM e WHERE u % $SeedMod = 0),
         |${(1 to Rounds).map(round).mkString(",\n")}
         |SELECT node AS part, cost_e6 FROM d$Rounds""".stripMargin
    })),
    // X199: item-item co-purchase cosine neighborhoods — candidates
    // are exactly the shared weighted edge list (never all-pairs),
    // sim² as exact integer ppm so no sqrt crosses engines
    QuerySpec("graph_item_neighbors", (s, d) =>
      graft.graph.ItemSim.itemNeighbors(
        graft.graph.Triangles.sharedWeightedEdges(s, d),
        Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
          .distinct()),
      // same incidence/edge derivation; sim² ppm and the (ppm, w, nbr)
      // tie-break replayed exactly
      Oracle({
      import graft.graph.ItemSim.TopK
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
         |  FROM lineitem),
         |w AS (
         |  SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS w
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
         |  GROUP BY 1, 2),
         |deg AS (
         |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM op
         |  GROUP BY 1),
         |sym AS (
         |  SELECT a AS part, b AS nbr, w FROM w
         |  UNION ALL
         |  SELECT b, a, w FROM w),
         |sc AS (
         |  SELECT s.part, s.nbr, s.w,
         |    (s.w * s.w * 1000000) // (da.deg * db.deg) AS sim2_ppm
         |  FROM sym s
         |  JOIN deg da ON s.part = da.p
         |  JOIN deg db ON s.nbr = db.p),
         |r AS (
         |  SELECT part, nbr, w, CAST(sim2_ppm AS BIGINT) AS sim2_ppm,
         |    row_number() OVER (PARTITION BY part
         |      ORDER BY sim2_ppm DESC, w DESC, nbr) AS rank
         |  FROM sc)
         |SELECT part, CAST(rank AS BIGINT) AS rank, nbr, w, sim2_ppm
         |FROM r WHERE rank <= $TopK""".stripMargin
    })),
    // X146: exact integer degree-assortativity moments (Newman r's
    // numerator/denominator; the sqrt-and-signed-division stays with
    // the consumer — the X129 mergeable-moments discipline)
    QuerySpec("graph_assortativity", (s, d) =>
      graft.graph.Assortativity.degreeMoments(
        graft.graph.Triangles.sharedCoPurchaseEdges(s, d),
        undIn = Some(graft.graph.Triangles.sharedUndirectedEdges(s, d))),
      // symmetric edge-end multiset (each edge in both orientations), so
      // s_y == s_x and s_y2 == s_x2 are emitted once; arithmetic runs in
      // DuckDB HUGEINT and casts down — the Spark side asserts the same
      // products stay Long-exact
      Oracle("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p),
        |und AS (SELECT a AS u, b AS v FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
        |        FROM und GROUP BY 1),
        |p AS (
        |  SELECT du.d AS dx, dv.d AS dy
        |  FROM und JOIN deg du ON und.u = du.u
        |           JOIN deg dv ON und.v = dv.u)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_ends,
        |  CAST(SUM(dx) AS BIGINT) AS s_x,
        |  CAST(SUM(dx * dy) AS BIGINT) AS s_xy,
        |  CAST(SUM(dx * dx) AS BIGINT) AS s_x2,
        |  CAST(COUNT(*) * SUM(dx * dy) - SUM(dx) * SUM(dx) AS BIGINT)
        |    AS num,
        |  CAST(COUNT(*) * SUM(dx * dx) - SUM(dx) * SUM(dx) AS BIGINT)
        |    AS den
        |FROM p""".stripMargin)))
}
