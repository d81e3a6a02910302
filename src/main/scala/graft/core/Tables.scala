package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated tables (TESTDATA.md).
  *
  * Every engine query reads through here so scan behavior is uniform:
  * plain columnar parquet scans that Catalyst can push filters into and
  * prune columns from. At cluster scale these would be partitioned
  * tables (e.g. by snapshot month); locally they are single files.
  *
  * Each table's schema is inferred once per session (a one-task job
  * that reads a file footer) and memoized in [[SessionCache]];
  * every later read passes it to `spark.read.schema`, so it launches
  * no job. Each call still returns a fresh DataFrame with fresh
  * attribute ids, so two reads of one table self-join cleanly. A
  * table rewritten in place under the same path within one session
  * needs `SessionCache.clear(spark)` before it is read again.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(all.contains(name), s"unknown table $name")
    val path = s"$dir/$name.parquet"
    def read() = spark.read.schema(SessionCache.memo(spark,
      s"table-schema:$path")(spark.read.parquet(path).schema)).parquet(path)
    if (name == "events") {
      // The driver's fixture generator has written events.ts as parquet
      // TIMESTAMP(NANOS) in some rounds and TIMESTAMP(MICROS) in others,
      // so normalize by the dtype Spark actually reads rather than
      // assuming one encoding:
      //  - LongType: NANOS read via the legacy nanos-as-long conf; convert
      //    with INTEGER division (double division loses precision at ~1e18)
      //  - TimestampNTZType: MICROS without UTC adjustment; the session runs
      //    in UTC so a plain cast to TIMESTAMP is value-identical
      //  - TimestampType: already what every downstream query expects
      // (the conf is set first, so inference and the scan both see it)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read()
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      raw.schema("ts").dataType match {
        case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType    => raw
        case other =>
          throw new IllegalStateException(
            s"events.ts has unsupported parquet type $other — update Tables.apply")
      }
    } else read()
  }
}
