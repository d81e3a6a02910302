package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession and its logging are configured: Bench,
  * Verify, the diagnostic tools and the test suite all run on this
  * local session. */
object Sessions {
  /** A local session on `cpus` task threads with one shuffle partition
    * per thread, UTC session time, no UI, and the library's functions
    * and optimizer rules installed session-wide from the start, so no
    * query's plan depends on which query ran first. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark WARNs "RDD N was locally checkpointed … cannot be recomputed
    // after unpersisting" for every checkpoint SessionCache.endQuery
    // releases — in a 360-query sweep thousands of lines describing the
    // intended behavior (the safety contract is in SessionCache's
    // scaladoc). Quiet that one logger; the rest keep their levels.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    spark
  }
}
