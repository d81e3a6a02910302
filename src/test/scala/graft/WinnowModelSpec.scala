package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.dedup.Dedup

/** Model-based check: the DISTRIBUTED winnowing implementation must
  * equal an INDEPENDENT in-memory reimplementation of the algorithm
  * (normalize → k-grams → md5-hex8 base hash → packed-key window
  * argmin → fingerprint set) on randomized inputs — a second oracle
  * beside the DuckDB SQL replay, written from the paper's definition
  * rather than from the Spark code. */
class WinnowModelSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // faithful scalar model of the operator contract
  private def modelFingerprints(text: String): Set[Long] = {
    val P = 2147483647L
    val cap = Dedup.WinnowPosCap
    val n = Dedup.WinnowGramN
    val w = Dedup.WinnowWindow
    val norm = text.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
      .replaceAll(" +", " ").trim
    val toks = if (norm.isEmpty) Array.empty[String] else norm.split(" ")
    if (toks.length < n) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = (0 to toks.length - n)
      .map(i => toks.slice(i, i + n).mkString(" "))
    val keys = grams.zipWithIndex.map { case (g, pos) =>
      val hex = md.digest(g.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val h = java.lang.Long.parseLong(hex, 16) % P
      h * cap + (cap - 1 - pos)
    }
    if (keys.length < w) return Set.empty
    (0 to keys.length - w)
      .map(j => keys.slice(j, j + w).min / cap)
      .toSet
  }

  test("distributed winnowing equals the scalar model on random docs") {
    val tokGen = Gen.oneOf("alpha", "Beta", "gamma42", "delta",
      "ep,silon", "zeta!", "eta", "theta")
    val docGen = Gen.chooseNum(4, 40)
      .flatMap(len => Gen.listOfN(len, tokGen))
      .map(_.mkString(" "))
    (1L to 8L).foreach { seed =>
      val texts = sample(Gen.listOfN(4, docGen), seed)
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.winnowedFingerprints(df)
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      graft.core.SessionCache.endQuery()
      texts.zipWithIndex.foreach { case (t, i) =>
        val want = modelFingerprints(t)
        assert(got.getOrElse(i.toLong, Set.empty) == want,
          s"seed=$seed doc=$i text='$t'")
      }
    }
  }
}
