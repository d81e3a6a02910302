package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Winnowing fingerprint semantics: the local-window guarantee (any
  * shared run of w+n−1 tokens shares a fingerprint), position
  * robustness under prefix insertion (where fixed-stride sampling
  * breaks), the rightmost-tie rule via the packed key, and the density
  * bound. */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private def fps(rows: Seq[(Long, String)]) =
    Dedup.winnowedFingerprints(rows.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSeq

  test("identical docs select identical fingerprint sets") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val r = fps(Seq(1L -> t, 2L -> t))
    graft.core.SessionCache.endQuery()
    val (a, b) = (r.filter(_._1 == 1L).map(_._2).toSet,
      r.filter(_._1 == 2L).map(_._2).toSet)
    assert(a.nonEmpty && a == b)
  }

  test("prefix insertion preserves fingerprints of the shared tail " +
    "(the winnowing guarantee fixed-stride sampling lacks)") {
    val tail = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val r = fps(Seq(1L -> tail, 2L -> s"completely new leading words $tail"))
    graft.core.SessionCache.endQuery()
    val a = r.filter(_._1 == 1L).map(_._2).toSet
    val b = r.filter(_._1 == 2L).map(_._2).toSet
    // every window fully inside the shared tail selects the same min
    // (hash is content-only; ties broken within the same local run)
    assert((a intersect b).size >= a.size / 2 && (a intersect b).nonEmpty)
  }

  test("docs shorter than window+gram select nothing; density is " +
    "bounded by the window guarantee") {
    val r = fps(Seq(1L -> "too short text", // 3 tokens → 1 gram < w
      2L -> ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 " +
        "w16 w17 w18 w19 w20 w21 w22 w23 w24 w25 w26 w27 w28 w29 w30")))
    graft.core.SessionCache.endQuery()
    assert(r.forall(_._1 != 1L))
    val n2 = r.count(_._1 == 2L)
    // 28 grams, 25 full windows: selections ≥ ng/w (a new min at least
    // once per disjoint window) and ≤ full window count
    assert(n2 >= 25 / Dedup.WinnowWindow && n2 <= 25, s"n2=$n2")
  }

  test("winnowPairs reports near-dup pairs and respects the df cap") {
    val shared = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val docs = Seq(
      1L -> shared, 2L -> (shared + " trailing extras here"),
      3L -> ("entirely different content with no overlap at all " +
        "spanning enough words to fingerprint something real"))
    val p = Dedup.winnowPairs(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().toSeq
    graft.core.SessionCache.endQuery()
    assert(p.exists(x => x._1 == 1L && x._2 == 2L && x._3 >= 2L))
    assert(!p.exists(x => x._1 == 3L || x._2 == 3L))
  }
}
