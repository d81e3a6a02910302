package graft.tools

/** Diagnostic main: print the FORMATTED physical plan of named registry
  * queries (default: the bench's historically most expensive ones) so
  * plan regressions — a lost pushdown, a surprise exchange, a
  * nested-loop join — are reviewable as text without a UI.
  * Run: `sbt "runMain graft.tools.ExplainQueries [sfDir] [q1,q2,...]"`. */
object ExplainQueries {
  private val Default = Seq("graph_communities", "graph_kcore",
    "basket_rules", "dedup_winnow", "rfm_segments", "text_surprisal",
    "j_fuzzy_canonical", "events_type_correlation",
    // the round-15 heavyweights: the end-to-end manifest composition
    // and the sampled-Brandes forward/backward frames
    "pipe_manifest", "graph_betweenness")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.lift(1)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Default)
    val spark = graft.core.Sessions.local(4)
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => println(s"== $n: NOT IN REGISTRY ==")
        case Some(fn) =>
          println(s"\n==== $n ====")
          try println(fn(spark, dir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable =>
            println(s"[explain failed: ${e.getMessage}]")
          }
          graft.core.CacheBay.drain()
      }
    }
    graft.core.SessionCache.clear(spark)
    spark.stop()
  }
}
