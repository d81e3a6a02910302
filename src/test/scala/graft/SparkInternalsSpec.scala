package graft

import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.LongType
import graft.operators.BloomPrune

/** Pins every coupling to Spark internals: the version the shims are
  * written against, and each `ColumnShim` entry point. A Spark upgrade
  * that moves `private[sql]` `ExpressionUtils` or Catalyst's `InSet`
  * fails here first, not as a wrong query result. */
class SparkInternalsSpec extends SparkSpec {
  import spark.implicits._

  test("Spark is the 4.1 line the shims are written against") {
    assert(org.apache.spark.SPARK_VERSION.startsWith("4.1."),
      s"ColumnShim and BloomPrune's InSet target Spark 4.1, found " +
        org.apache.spark.SPARK_VERSION)
  }

  test("ColumnShim.tryCast: malformed input is NULL, not an error") {
    val got = Seq("12", "x", null).toDF("s")
      .select(ColumnShim.tryCast($"s", LongType))
      .as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(12L), None, None))
  }

  test("ColumnShim.column and expression round-trip a Catalyst node") {
    val df = Seq(1L, 2L).toDF("v")
    val e = ColumnShim.expression($"v" + 1)
    assert(ColumnShim.expression(ColumnShim.column(e)) == e)
    assert(df.select(ColumnShim.column(e)).as[Long].collect().toSeq ==
      Seq(2L, 3L))
  }

  test("BloomPrune.bloomFilteredFact probes one InSet per hash in the " +
    "optimized plan") {
    // a Range, not a local Seq: a filter over a LocalRelation is
    // folded into the relation and leaves no Filter to inspect
    val fact = spark.range(1, 51).toDF("k")
    val out = BloomPrune.bloomFilteredFact(fact, "k", Seq(3L, 7L).toDF("d"), "d")
    val probes = out.queryExecution.optimizedPlan
      .collect { case f: Filter => f.condition }
      .flatMap(_.collect { case i: InSet => i })
    assert(probes.size == BloomPrune.NumHashes,
      out.queryExecution.optimizedPlan.toString)
    assert(Set(3L, 7L).subsetOf(out.as[Long].collect().toSet))
  }
}
