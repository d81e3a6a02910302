package graft

import graft.analytics.Associations

/** Association-rule math on hand-traceable baskets: integer support,
  * directed confidence, symmetric lift, and the support threshold. */
class AssociationsSpec extends SparkSpec {
  import spark.implicits._

  test("support threshold, directed confidence, symmetric lift") {
    // o1{1,2} o2{1,2} o3{1,3} o4{2}: pair (1,2) support 2, (1,3)
    // support 1 (pruned); n_1=3, n_2=3, N=4
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L), (4L, 2L), (4L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val r = Associations.basketRules(li)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._5, x._6)).toMap
    graft.core.SessionCache.endQuery()
    assert(r.size == 2)
    // conf(1→2) = 2e6 div 3; lift·1e6 = 2e6·4 div 9
    assert(r((1L, 2L)) == ((2L, 666666L, 888888L)))
    assert(r((2L, 1L)) == ((2L, 666666L, 888888L)))
  }

  test("duplicate lineitem rows collapse before support counting") {
    // o1 lists part 7 twice: basket membership is set-valued
    val li = Seq((1L, 7L), (1L, 7L), (1L, 8L), (2L, 7L), (2L, 8L))
      .toDF("l_orderkey", "l_partkey")
    val r = Associations.basketRules(li)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    // pair (7,8) support 2 with N=2, n_7=n_8=2 → conf 1e6, lift 0.5e6·2
    assert(r.length == 2 && r.forall(x => x._3 == 2L && x._5 == 1000000L
      && x._6 == 1000000L))
  }
}
