package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Common-neighbor link prediction (X170) — the recommendation-
  * candidate generator over the co-purchase graph: two parts never
  * bought together but sharing many co-purchase partners are the
  * "customers also bought" pairs worth surfacing. Score = the
  * common-neighbor count (Liben-Nowell & Kleinberg 2003's baseline —
  * Adamic-Adar would divide by log deg and become un-hashable; the
  * raw count is the transcendental-free member of the family).
  *
  * Scale: candidate pairs come from the WEDGE join — neighbor lists
  * joined on the middle node — never from all-pairs. The one
  * structural hazard is a hub middle (a part in every basket
  * manufactures |deg|² wedges); middles with degree > `maxMidDegree`
  * are excluded as PART OF THE STATISTIC (the X5 hot-shingle df-cap
  * device: a ubiquitous item says nothing about affinity anyway, and
  * the oracle replays the same rule), which bounds the join at
  * cap·|und| wedges. Existing edges drop by one left-anti join;
  * only the global top-k survives a TakeOrdered on the deterministic
  * (score desc, a asc, b asc) order, so the rank window runs over k
  * rows. */
object LinkPredict {

  val MaxMidDegree = 64
  val TopK = 20

  /** Top-k non-adjacent pairs by common-neighbor count over canonical
    * `(a, b)` edges (`a < b`). */
  def commonNeighborTopK(edges: DataFrame,
      maxMidDegree: Int = MaxMidDegree, k: Int = TopK): DataFrame = {
    val und = edges.select(col("a").as("m"), col("b").as("x"))
      .unionByName(edges.select(col("b").as("m"), col("a").as("x")))
    val deg = und.groupBy(col("m"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val nb = graft.core.SessionCache.transient(
      und.join(deg.filter(col("deg") <= maxMidDegree), Seq("m"))
        .select(col("m"), col("x")))
    val wedges = nb
      .join(nb.select(col("m"), col("x").as("y")), Seq("m"))
      .filter(col("x") < col("y"))
    wedges.groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
      .join(edges, Seq("a", "b"), "left_anti")
      .orderBy(col("n_common").desc, col("a").asc, col("b").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_common").desc, col("a").asc, col("b").asc))
        .cast("long"))
  }
}
