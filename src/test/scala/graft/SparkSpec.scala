package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSession {
  // the production session config (functions + RangeJoinRewrite active
  // session-wide), so tests exercise the plans users would get
  lazy val spark: SparkSession = graft.core.Sessions.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  /** Smallest driver-generated fixture (TESTDATA.md). */
  val SfDir = "/root/testdata/sf0.001"
}
