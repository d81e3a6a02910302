package graft

import org.apache.spark.sql.functions._
import graft.graph.Components

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: hand graph — chain, pair, labels are the " +
    "component minima") {
    // components: {1,2,3,4} (chain through 2-3), {10,11}, {20,21,22}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val r = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    assert(r === Map(1L -> 4L, 10L -> 2L, 20L -> 3L))
    // localMaxEdges = 0 forces the distributed fixpoint loop; labels
    // and counts must be identical to the union-find fast path
    val viaLoop = Components.connectedComponents(edges, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    assert(viaLoop === r)
  }

  test("Assortativity.degreeMoments: path graph is perfectly " +
    "disassortative (num = -den)") {
    // path 1-2-3: degrees 1,2,1; symmetric end multiset
    // {(1,2),(2,1),(2,1),(1,2)} -> n=4, sx=6, sxy=8, sx2=10,
    // num = 32-36 = -4, den = 40-36 = 4  (r = -1)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = graft.graph.Assortativity.degreeMoments(edges)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    graft.core.SessionCache.endQuery()
    assert(r === ((4L, 6L, 8L, 10L, -4L, 4L)))
  }

  test("supportEdges drops sub-threshold pairs; components match a " +
    "scalar union-find on fixture data") {
    val li = graft.core.Tables(spark, SfDir, "lineitem")
    val edges = Components.supportEdges(li)
    val es = edges.as[(Long, Long)].collect()
    // threshold actually binds: the raw co-purchase pair set is much
    // larger than the supported edge set
    val raw = graft.graph.Triangles.coPurchaseEdges(li).count()
    graft.core.SessionCache.endQuery()
    assert(es.nonEmpty && es.length < raw,
      s"support filter did not bind: ${es.length} vs raw $raw")
    // force the DISTRIBUTED loop: the fast path IS the scalar model
    // below, so comparing it against itself would prove nothing
    val got = Components.connectedComponents(edges, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    // scalar model: union-find over the same collected edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r); parent(r) = parent.getOrElse(p, p); r = parent(r)
      }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val want = es.flatMap(e => Seq(e._1, e._2)).distinct
      .groupBy(find).map { case (k, v) => k -> v.length.toLong }
    assert(got === want)
  }
}
