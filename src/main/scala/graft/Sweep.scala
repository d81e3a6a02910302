package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the Bench and Verify sweeps share: the session size, the query
  * selection and the JSON string escape of their artifacts. */
object Sweep {
  /** Local task threads, from SPARK_GRAFT_CPUS (default 4). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The optional SPARK_GRAFT_ONLY name filter (comma-separated), for
    * single-query iteration. */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** The registry queries to run, in name order, narrowed by [[only]].
    * SPARK_GRAFT_INJECT_FAIL=1 adds `zz_injected_failure`, which always
    * throws: the standing self-test that a broken query surfaces as a
    * loud error record and not as a silent omission. */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val injected: Seq[(String, (SparkSession, String) => DataFrame)] =
      if (sys.env.contains("SPARK_GRAFT_INJECT_FAIL"))
        Seq("zz_injected_failure" -> ((_, _) =>
          throw new RuntimeException("injected failure (harness self-test)")))
      else Seq.empty
    val names = only
    (SparkEntry.queries.toSeq ++ injected).sortBy(_._1)
      .filter { case (n, _) => names.forall(_.contains(n)) }
  }

  /** JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped — a tab or CR in oracle SQL or an error message would
    * otherwise make the artifact unparseable. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
