package graft

import org.apache.spark.sql.functions._
import graft.graph.Triangles

/** Triangle counting on graphs small enough to verify by hand: the
  * degree-ordered orientation must enumerate exactly the triangles a
  * direct id-ordered enumeration finds, count each at all three
  * corners, and zero-fill triangle-free nodes. */
class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  test("one triangle + pendant: counts per corner, pendant zero") {
    // 1-2-3 triangle; 4 hangs off 1
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val r = Triangles.triangleCounts(e)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(r.map(x => x._1 -> x._3).toSeq ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    assert(r.map(x => x._1 -> x._2).toSeq ==
      Seq(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("K4 has 4 triangles, every node in 3; star has none") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("a", "b")
    val rk = Triangles.triangleCounts(k4)
      .as[(Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(rk.forall(x => x._3 == 3L) && rk.map(_._3).sum == 12L)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    val rs = Triangles.triangleCounts(star)
      .as[(Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(rs.forall(_._3 == 0L))
  }

  test("edgeEmbeddedness: triangle edges embed once, the pendant and " +
    "the bridge are local bridges, weights pass through; K4 edges " +
    "embed twice") {
    // triangle 1-2-3, pendant 3-4, bridge 4-5
    val e = Seq((1L, 2L, 7L), (1L, 3L, 1L), (2L, 3L, 2L),
      (3L, 4L, 9L), (4L, 5L, 1L)).toDF("a", "b", "w")
    val r = Triangles.edgeEmbeddedness(e)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4, x._5))).toMap
    graft.core.SessionCache.endQuery()
    assert(r == Map(
      (1L, 2L) -> ((7L, 1L, 0L)), (1L, 3L) -> ((1L, 1L, 0L)),
      (2L, 3L) -> ((2L, 1L, 0L)),
      (3L, 4L) -> ((9L, 0L, 1L)), (4L, 5L) -> ((1L, 0L, 1L))),
      r.toString)
    // K4: every edge sits in exactly 2 of the 4 triangles
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b }
      yield (a, b, 1L)).toDF("a", "b", "w")
    val rk = Triangles.edgeEmbeddedness(k4)
      .as[(Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(rk.length == 6 && rk.forall(x => x._4 == 2L && x._5 == 0L),
      rk.toSeq.toString)
  }

  test("labelPropagation: two triangles over a bridge settle into " +
    "two communities with the deterministic tie rule") {
    // 1-2-3 and 4-5-6 triangles, bridge 3-4; hand-traced sync rounds
    // with min-tie converge to {1,2,3}→1 and {4,5,6}→3 by round 4
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val r = graft.graph.Communities.labelPropagation(e)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(r.map(x => x._1 -> x._2).toSeq ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      r.toSeq.toString)
    assert(r.forall(_._3 == 3L))
  }

  test("co-purchase edges: same-order parts pair once, canonical a<b") {
    val li = Seq((10L, 1L), (10L, 2L), (10L, 2L), (10L, 3L), (20L, 2L),
      (20L, 3L), (30L, 9L))
      .toDF("l_orderkey", "l_partkey")
    val e = Triangles.coPurchaseEdges(li).as[(Long, Long)].collect().sorted
    assert(e.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("LinkPredict: hand case — the open wedge pair scores its " +
    "common neighbors, existing edges and hub middles are excluded") {
    import spark.implicits._
    // path graph 1-2, 2-3 -> candidate (1,3) with middle 2;
    // square 4-5, 5-6, 6-7, 4-7 -> candidates (4,6) and (5,7), two
    // middles each; hub 10 adjacent to 20..29 would make 45 wedge
    // pairs, all suppressed by a cap below its degree
    val edges = (Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L),
      (6L, 7L), (4L, 7L)) ++ (20L to 29L).map(x => (10L, x)))
      .toDF("a", "b")
    val got = graft.graph.LinkPredict
      .commonNeighborTopK(edges, maxMidDegree = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.core.SessionCache.endQuery()
    assert(got.toSeq === Seq((4L, 6L, 2L), (5L, 7L, 2L),
      (1L, 3L, 1L)))
  }

  test("degreeHistogram: known degrees land in exact log2 buckets, " +
    "shares ppm-exact") {
    import spark.implicits._
    // star: hub 0 with leaves 1..4 → hub deg 4 (bucket 3), leaves
    // deg 1 (bucket 1); plus edge (5,6): both deg 1
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (5L, 6L))
      .toDF("a", "b")
    val got = graft.graph.Triangles.degreeHistogram(edges)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(3L -> ((1L, 142857L)), 1L -> ((6L, 857142L))))
  }

  test("clusteringCoefficients: triangle corners close fully, the " +
    "bridge node partially, pendants zero") {
    import spark.implicits._
    // triangle 1-2-3 with pendant edge 3-4: nodes 1/2 have deg 2 and
    // one closed wedge (cc 1e6); node 3 deg 3, one of three wedges
    // closed (2e6/6); node 4 deg 1 (no wedge, 0 by convention)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = graft.graph.Triangles.clusteringCoefficients(edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    graft.core.SessionCache.endQuery()
    assert(got(1L) == ((2L, 1L, 1000000L)))
    assert(got(2L) == ((2L, 1L, 1000000L)))
    assert(got(3L) == ((3L, 1L, 333333L)))
    assert(got(4L) == ((1L, 0L, 0L)))
  }
}
