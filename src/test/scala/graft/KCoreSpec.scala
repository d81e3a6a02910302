package graft

import org.apache.spark.sql.functions._
import graft.graph.{KCore, Triangles}

/** k-core peeling on hand-verifiable graphs, plus the fixpoint proof
  * that the fixed round count suffices on the real fixture (the
  * determinism contract KCore's oracle unrolling relies on). */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  test("2-core of triangle + pendant chain is exactly the triangle") {
    // 1-2-3 triangle; chain 3-4-5 peels away in two rounds
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val r = KCore.kCore(e, k = 2, rounds = 4)
      .as[(Long, Long)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(r.toSeq == Seq(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("3-core of K4 with a pendant triangle attached is K4 only") {
    // K4 on 1..4; triangle 4-5-6 (deg(5)=deg(6)=2 < 3 peel first,
    // then 4 keeps degree 3 inside K4)
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val e = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))).toDF("a", "b")
    val r = KCore.kCore(e, k = 3, rounds = 4)
      .as[(Long, Long)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(r.toSeq == Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("whole graph below k peels to empty") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r = KCore.kCore(e, k = 3, rounds = 3).count()
    graft.core.SessionCache.endQuery()
    assert(r == 0L)
  }

  test("property: distributed peeling equals a scalar set model on " +
    "random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val edgeGen = for {
      a <- Gen.chooseNum(1L, 12L); b <- Gen.chooseNum(1L, 12L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    (1L to 6L).foreach { seed =>
      val edges = sample(Gen.listOfN(25, edgeGen), seed).distinct
      // scalar model: same fixed-round synchronous peel at k=2
      def degrees(s: Set[Long]): Map[Long, Int] =
        edges.filter(e => s(e._1) && s(e._2))
          .flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (n, xs) => n -> xs.size }
      var surv: Set[Long] = edges.flatMap(e => Seq(e._1, e._2)).toSet
      (1 to 4).foreach { _ =>
        surv = degrees(surv).filter(_._2 >= 2).keySet
      }
      val want = degrees(surv).map { case (n, d) => n -> d.toLong }
      val got = KCore.kCore(edges.toDF("a", "b"), k = 2, rounds = 4)
        .as[(Long, Long)].collect().toMap
      graft.core.SessionCache.endQuery()
      assert(got == want, s"seed=$seed edges=$edges")
    }
  }

  test("fixture converges within PeelRounds: rounds R and R+1 agree, " +
    "and every reported core_deg is >= K") {
    val edges = Triangles.coPurchaseEdges(
      spark.read.parquet(s"$SfDir/lineitem.parquet"))
      .localCheckpoint()
    val atR = KCore.kCore(edges).orderBy("part")
      .as[(Long, Long)].collect().toSeq
    graft.core.SessionCache.endQuery()
    val atR1 = KCore.kCore(edges, rounds = KCore.PeelRounds + 1)
      .orderBy("part").as[(Long, Long)].collect().toSeq
    graft.core.SessionCache.endQuery()
    assert(atR == atR1, "peeling not converged at PeelRounds")
    assert(atR.nonEmpty && atR.forall(_._2 >= KCore.K))
  }
}
