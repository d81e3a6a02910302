package graft

import graft.operators.FuzzyMatch

/** Blocked fuzzy canonicalization semantics: edit-gate, blocking
  * boundary, lexicographic-min representative, and the loud block-size
  * guard. */
class FuzzyMatchSpec extends SparkSpec {
  import spark.implicits._

  test("close-edit variants map to the lexicographic min; distant " +
    "and cross-block names map to themselves") {
    val rows = Seq(
      (1L, "acme corp"), (2L, "acme corpn"), (3L, "acme holdings"),
      (4L, "apex corp"))
      .toDF("id", "name")
    val r = FuzzyMatch.canonicalMap(rows, "id", "name")
      .as[(Long, String, String)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    // "acme corp" ~ "acme corpn" (lev 1); "acme holdings" is 8 edits
    // away; "apex corp" blocks under 'apex' and never compares
    assert(r.map(x => x._1 -> x._3).toSeq == Seq(
      1L -> "acme corp", 2L -> "acme corp",
      3L -> "acme holdings", 4L -> "apex corp"))
  }

  test("every row of a repeated name gets the same rep; case folds") {
    val rows = Seq((1L, "Red Widget"), (2L, "red widget"),
      (3L, "red widgit")).toDF("id", "name")
    val r = FuzzyMatch.canonicalMap(rows, "id", "name")
      .as[(Long, String, String)].collect()
    graft.core.SessionCache.endQuery()
    assert(r.map(_._3).distinct.toSeq == Seq("red widget"))
  }

  test("block-size guard fails loudly past MaxBlock distinct names") {
    val rows = (1L to (FuzzyMatch.MaxBlock + 1))
      .map(i => (i, s"blk name$i")).toDF("id", "name")
    // reference the rep column: a bare count() lets Catalyst eliminate
    // the unique-keyed left join and the guard never evaluates
    val e = intercept[Exception] {
      FuzzyMatch.canonicalMap(rows, "id", "name")
        .agg(org.apache.spark.sql.functions.max("rep")).collect()
    }
    graft.core.SessionCache.endQuery()
    assert(e.getMessage != null &&
      (e.getMessage.contains("fuzzy blocking") ||
        e.getCause != null &&
        e.getCause.getMessage.contains("fuzzy blocking")),
      s"unexpected: $e")
  }

  test("entityResolve: exact name outranks a swap, sub-threshold " +
    "pairs drop, each left key keeps one best match") {
    import spark.implicits._
    val left = Seq(
      (1L, "alpha corp", 5L, 1000L, "AUTO", "b1"),
      (2L, "beta gmbh", 6L, 2000L, "RAIL", "b2"),
      (3L, "gamma llc", 7L, 3000L, "SHIP", "b3")
    ).toDF("l_key", "l_nm", "l_nat", "l_cents", "l_seg", "blk")
    val right = Seq(
      // exact twin of 1 (score 85) and a swapped variant (70):
      // best-match keeps the exact one
      (11L, "alpha corp", 5L, 1010L, "AUTO", "b1"),
      (12L, "aplha corp", 5L, 1010L, "AUTO", "b1"),
      // far name for 2: 0+20+15+10 = 45 < 50 -> dropped
      (21L, "delta spa", 6L, 2010L, "RAIL", "b2"),
      // swapped name for 3, nation off: 25+0+15+10 = 50 -> kept
      (31L, "gamam llc", 8L, 3010L, "SHIP", "b3")
    ).toDF("r_key", "r_nm", "r_nat", "r_cents", "r_seg", "blk")
    val got = graft.operators.FuzzyMatch.entityResolve(left, right)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(6))).toMap
    assert(got === Map(1L -> ((11L, 85L)), 3L -> ((31L, 50L))))
  }
}
