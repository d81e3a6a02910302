package graft

import org.apache.spark.sql.functions._
import graft.operators.BloomPrune

class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives, real pruning, and result identity with " +
    "the plain semi-join on fixture data") {
    val li = graft.core.Tables(spark, SfDir, "lineitem")
    val dim = graft.core.Tables(spark, SfDir, "part")
      .filter(col("p_brand") === "Brand#23")
    assert(dim.count() > 0, "selective dimension is empty")
    val truth = li.join(dim.select(col("p_partkey").as("l_partkey")),
      Seq("l_partkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
      .as[(Long, Int)].collect().toSet
    val passed = BloomPrune
      .bloomFilteredFact(li, "l_partkey", dim, "p_partkey")
      .select("l_orderkey", "l_linenumber")
      .as[(Long, Int)].collect().toSet
    // superset (no false negatives) AND a real reduction of the fact
    val total = li.count()
    assert(truth.subsetOf(passed),
      s"false negatives: ${(truth -- passed).take(3)}")
    assert(passed.size < total,
      s"filter did not prune: ${passed.size} of $total")
    val exact = BloomPrune
      .prunedSemiJoin(li, "l_partkey", dim, "p_partkey")
      .select("l_orderkey", "l_linenumber")
      .as[(Long, Int)].collect().toSet
    assert(exact === truth)
  }

  test("bit-63 word test: a key whose hash lands on a sign-bit " +
    "position still passes (AND-mask, not shift-right)") {
    // brute-force a key whose first hash position has pos % 64 == 63,
    // then prove membership testing finds it
    val probe = (1L to 4096L).find { v =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$v:0".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) % BloomPrune.FilterBits) % 64 == 63
    }
    assert(probe.nonEmpty, "no probe key found in range")
    val dim = Seq(probe.get).toDF("k")
    val fact = Seq(probe.get, probe.get + 1000000L).toDF("k")
    val passed = BloomPrune.bloomFilteredFact(fact, "k", dim, "k")
      .as[Long].collect().toSet
    assert(passed.contains(probe.get))
  }

  test("bloomFprAudit: counts match an independent MessageDigest " +
    "replay of the position-membership model") {
    val fact = (1L to 400L).toDF("k")
    val dim = (1L to 12L).toDF("k")
    val r = BloomPrune.bloomFprAudit(fact, "k", dim, "k",
      bits = 64, hashes = 3) // tiny filter so FPs are guaranteed
      .as[(Long, Long, Long, Long, Long)].collect().head
    graft.core.SessionCache.endQuery()
    // independent replay: md5 via MessageDigest, first 8 hex digits,
    // position-set membership for all 3 hashes
    def pos(key: Long, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$key:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val dpos = (for (k <- 1L to 12L; j <- 0 until 3) yield pos(k, j)).toSet
    val nPass = (1L to 400L).count(k =>
      (0 until 3).forall(j => dpos(pos(k, j)))).toLong
    assert(r == ((400L, 12L, nPass, nPass - 12L,
      (nPass - 12L) * 1000000L / 388L)))
    assert(nPass > 12L, "fixture produced no false positives")
  }
}
