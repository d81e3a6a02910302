package graft

import org.apache.spark.sql.functions._
import graft.graph.CheapestPath

class CheapestPathSpec extends SparkSpec {
  import spark.implicits._

  test("seedCosts: a longer-but-cheaper path beats the direct edge " +
    "(full relaxation, not frontier BFS)") {
    // seed 50; node 3 is reachable directly (cost 1e6) and via hub 4
    // (cost 100000 + 100000) — the 2-hop path must win
    val w = Seq((50L, 1L, 2L), (1L, 2L, 1L), (50L, 2L, 1L),
      (50L, 3L, 1L), (50L, 4L, 10L), (3L, 4L, 10L)).toDF("a", "b", "w")
    val got = CheapestPath.seedCosts(w)
      .as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    assert(got === Map(50L -> 0L, 1L -> 500000L, 2L -> 1000000L,
      3L -> 200000L, 4L -> 100000L))
  }

  test("seedCosts on fixture edges matches a scalar Bellman-Ford " +
    "bounded to the same round count") {
    val li = graft.core.Tables(spark, SfDir, "lineitem")
    val w = graft.graph.Triangles.weightedCoPurchaseEdges(li)
    val got = CheapestPath.seedCosts(w).as[(Long, Long)].collect().toMap
    val es = w.as[(Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    val und = es.flatMap { case (a, b, wt) =>
      val c = CheapestPath.CostScale / wt
      Seq((a, b, c), (b, a, c))
    }
    var dist = und.map(_._1).distinct
      .filter(_ % CheapestPath.SeedMod == 0).map(_ -> 0L).toMap
    for (_ <- 1 to CheapestPath.Rounds) {
      val relaxed = und.flatMap { case (u, v, c) =>
        dist.get(u).map(d => v -> (d + c))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, xs) => n -> xs.map(_._2).min }
    }
    assert(got === dist)
    assert(got.valuesIterator.exists(_ > 0L), "never left the seeds")
  }
}
