package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a registered query's output is checked: exactly one of DuckDB
  * oracle SQL over the same parquet tables, or the evidence (the specs)
  * for a query no batch SQL can express. */
sealed trait Check
final case class Oracle(sql: String) extends Check
final case class SpecOnly(evidence: String) extends Check

/** One registered query, declared once: its name, how to build it from
  * a session and a table directory, and how it is checked. */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, check: Check)
