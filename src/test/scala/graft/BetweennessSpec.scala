package graft

import org.apache.spark.sql.functions._
import graft.graph.Betweenness

class BetweennessSpec extends SparkSpec {
  import spark.implicits._

  private def frames(edges: Seq[(Long, Long)]) = {
    val sym = edges ++ edges.map(e => (e._2, e._1))
    val e = sym.toDF("src", "dst")
    val deg = e.groupBy($"src")
      .agg(count(lit(1)).cast("long").as("outdeg"))
    (e, deg)
  }

  test("sampledBetweenness: hand-computed path graph — the bridge " +
    "nodes carry the dependency, endpoints score zero") {
    // path 1-2-3-4-5 (odd = supplier = seed at seedMod 1). From seed
    // 1: delta(2)=3e6, delta(3)=2e6, delta(4)=1e6, delta(5)=0; seed 5
    // mirrors; seed 3: delta(2)=delta(4)=1e6, delta(1)=delta(5)=0.
    val (e, deg) = frames(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val got = Betweenness.sampledBetweenness(e, deg, seedMod = 1)
      .as[(String, Long, Long, Long)].collect().toSet
    graft.core.CacheBay.drain()
    assert(got == Set(
      ("supplier", 0L, 2L, 0L),        // node 1
      ("customer", 1L, 3L, 5000000L),  // node 2
      ("supplier", 1L, 2L, 4000000L),  // node 3
      ("customer", 2L, 3L, 5000000L),  // node 4
      ("supplier", 2L, 2L, 0L)),       // node 5
      s"got $got")
  }

  test("sampledBetweenness: levelsIn must match rounds and seedMod") {
    val (e, deg) = frames(Seq((1L, 2L)))
    val five = Some(IndexedSeq.fill(5)(e))
    val short = intercept[IllegalArgumentException](
      Betweenness.sampledBetweenness(e, deg, rounds = 3, levelsIn = five))
    assert(short.getMessage.contains("rounds = 3 needs 4"))
    val rate = intercept[IllegalArgumentException](
      Betweenness.sampledBetweenness(e, deg, seedMod = 10, levelsIn = five))
    assert(rate.getMessage.contains("seed rate 100, not 10"))
  }

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order, so once a trailing sentinel job is seen every job `body`
    * started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("jobsDuring-sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains("jobsDuring-sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(started.contains("jobsDuring-sentinel"))
      started.size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("sharedForwardLevels belongs to its session: a repeat call runs " +
    "no job, and after clear + drain the levels rebuild") {
    val s2 = spark.newSession()
    try {
      val counts = Betweenness.sharedForwardLevels(s2, SfDir).map(_.count())
      assert(counts.size == graft.graph.BfsHops.Rounds + 1 && counts(0) > 0)
      assert(jobsDuring(Betweenness.sharedForwardLevels(s2, SfDir)) == 0)
      // the tier's checkpoint blocks are gone after these two calls; a
      // memo that outlived clear would hand back unreadable frames
      graft.core.SessionCache.clear(s2)
      graft.core.CheckpointBay.drain()
      assert(Betweenness.sharedForwardLevels(s2, SfDir).map(_.count()) ==
        counts)
    } finally graft.core.SessionCache.clear(s2)
  }

  test("sampledBetweenness property: random bipartite graphs equal a " +
    "naive driver Brandes with the identical e6 quantization") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.chooseNum(3, 14).flatMap(n => Gen.listOfN(n, for {
        c <- Gen.chooseNum(0L, 4L)
        s <- Gen.chooseNum(0L, 4L)
      } yield (c * 2L, s * 2L + 1L)).map(_.distinct))
    (1L to 6L).foreach { sd =>
      val edges = sample(edgeGen, sd)
      val (e, deg) = frames(edges)
      val got = Betweenness.sampledBetweenness(e, deg, seedMod = 1)
        .as[(String, Long, Long, Long)].collect()
        .map(r => (if (r._1 == "customer") r._2 * 2 else r._2 * 2 + 1)
          -> ((r._3, r._4))).toMap
      graft.core.CacheBay.drain()
      assert(got == naive(edges, graft.graph.BfsHops.Rounds),
        s"seed=$sd edges=$edges")
    }
  }

  /** Independent driver-side Brandes with the same horizon, seed rule
    * (every odd node) and e6 floor-div quantization. */
  private def naive(raw: Seq[(Long, Long)], rounds: Int)
      : Map[Long, (Long, Long)] = {
    val sym = (raw ++ raw.map(e => (e._2, e._1))).distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = sym.flatMap(e => Seq(e._1, e._2)).distinct
    val acc = scala.collection.mutable.Map[Long, (Long, Long)]()
    for (s <- nodes.filter(_ % 2 == 1)) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      val levels = scala.collection.mutable.ArrayBuffer(Set(s))
      for (i <- 1 to rounds) {
        val next = scala.collection.mutable.Map[Long, Long]()
        for (u <- levels(i - 1); v <- adj.getOrElse(u, Set.empty))
          if (!dist.contains(v))
            next(v) = next.getOrElse(v, 0L) + sigma(u)
        next.foreach { case (v, sg) => dist(v) = i; sigma(v) = sg }
        levels += next.keySet.toSet
      }
      val delta = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for (l <- rounds - 1 to 1 by -1; u <- levels(l)) {
        var d = 0L
        for (w <- adj.getOrElse(u, Set.empty)
             if dist.get(w).contains(l + 1))
          d += sigma(u) * (1000000L + delta(w)) / sigma(w)
        delta(u) = d
      }
      for (l <- 1 to rounds; u <- levels(l)) {
        val (c, b) = acc.getOrElse(u, (0L, 0L))
        acc(u) = (c + 1L, b + delta(u))
      }
    }
    acc.toMap
  }
}
