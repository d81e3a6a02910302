package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.GraftFunctions.cleanString

/** Ingest wrappers replicating the reference's reader conventions
  * (SURVEY §1.3, §2.1 S1–S4, §2.2 P2–P4/P13/P14):
  * all-string CSV reads, pandas-null normalization, header-row
  * detection, positional duplicate-column disambiguation, candidate-
  * column resolution, schema guards, and folder scans with provenance.
  *
  * All driver-side logic here touches only schema/paths — row data
  * never reaches the driver.
  */
object Readers {

  /** S1: all-string CSV scan (reference `lib.py:92-95` reads with
    * `dtype=str`). Header row taken from the file; every column typed
    * string so cleaning is explicit, as in the reference. */
  def csvAllString(spark: SparkSession, path: String,
      header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString)
      .option("inferSchema", "false").csv(path)

  /** The `na_filter=False` variant (reference `SqlUpload.py:71`): blanks
    * survive as empty strings. Spark CSV yields null for empty by
    * default — restore `""` explicitly. */
  def csvKeepBlanks(spark: SparkSession, path: String): DataFrame = {
    val df = csvAllString(spark, path)
    df.select(df.columns.toIndexedSeq.map(c => coalesce(col(c), lit("")).as(c)): _*)
  }

  /** P13/F1: normalize pandas null artifacts (`""`, `"nan"`, `"None"`)
    * to real nulls across all string columns
    * (reference `SqlUpload_Actuals.py:75-77`). */
  def normalizeNulls(df: DataFrame): DataFrame =
    df.select(df.columns.toIndexedSeq.map { c =>
      df.schema(c).dataType match {
        case StringType => cleanString(col(c)).as(c)
        case _ => col(c)
      }
    }: _*)

  /** P14: schema guard — fail fast when required columns are missing
    * (reference `SqlUpload.py:76-79`, `lib.py:196-202`). */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"missing required columns: ${missing.mkString(", ")}")
    df
  }

  /** P3: candidate-column resolution — first existing column among
    * candidates (reference `pick_col`, `lib.py:149-155`). */
  def pickCol(df: DataFrame, candidates: Seq[String]): Option[String] =
    candidates.find(df.columns.contains)

  /** P2: bulk rename to a canonical schema from (target -> candidates)
    * fallback chains (reference `lib.py:243-283`). Unresolved targets
    * are added as null columns. */
  def renameToCanonical(df: DataFrame,
      mapping: Seq[(String, Seq[String])]): DataFrame =
    mapping.foldLeft(df) { case (acc, (target, candidates)) =>
      pickCol(acc, candidates) match {
        case Some(src) if src == target => acc
        case Some(src) => acc.withColumnRenamed(src, target)
        case None => acc.withColumn(target, lit(null).cast("string"))
      }
    }

  /** P4: positional duplicate-column pick — select the nth occurrence
    * of each (possibly duplicated) header name (reference
    * `transform_sap_gers`, `lib.py:305-318`: 1st "Sales Organization",
    * 2nd "Country"). Spark disallows ambiguous duplicate names, so the
    * frame is read POSITIONALLY (header=false → `_c0.._cN`) and the
    * real header list travels separately; `picks` maps output name ->
    * (header, 0-based occurrence). */
  def pickDuplicateColumns(positional: DataFrame, headers: Seq[String],
      picks: Seq[(String, (String, Int))]): DataFrame = {
    val indexed = headers.zipWithIndex
    val cols = picks.map { case (out, (header, occ)) =>
      val matches = indexed.filter(_._1 == header)
      require(matches.length > occ,
        s"column '$header' occurrence $occ not found")
      col(positional.columns(matches(occ)._2)).as(out)
    }
    positional.select(cols: _*)
  }

  /** §1.3 header-row detection: scan the first `maxRows` rows for known
    * header tokens, drop everything above, re-label columns (reference
    * `lib.py:399-417`). Distributed form: the candidate window is tiny
    * (`limit(maxRows)` on the driver); the body filter runs on
    * executors via a monotonically-increasing row id. */
  def detectHeaderRow(df: DataFrame, knownTokens: Seq[String],
      maxRows: Int = 10): DataFrame = {
    // monotonically_increasing_id is partition-encoded (jumps by 2^33
    // per partition) and limit().collect() has no cross-partition order
    // guarantee, so the ordinal comparison below is only sound on a
    // single-split input. Enforce it — a multi-split file must fail
    // loudly here, not silently keep pre-header rows (ADVICE r7).
    require(df.rdd.getNumPartitions == 1,
      "detectHeaderRow: input must be a single-partition scan (one " +
        "small file); coalesce(1) multi-split inputs explicitly")
    val first = df.limit(maxRows).collect()
    val headerIdx = first.indexWhere(r =>
      r.toSeq.exists(v => v != null && knownTokens.contains(v.toString)))
    require(headerIdx >= 0, "no header row found")
    val headers = first(headerIdx).toSeq.map(v =>
      Option(v).map(_.toString).getOrElse("_unnamed"))
    // rows strictly after the header row — the filter needs no sort
    // (an orderBy here would be a full shuffle buying nothing); on the
    // enforced single partition monotonically_increasing_id equals the
    // row order.
    val body = df.withColumn("_rid", monotonically_increasing_id())
      .filter(col("_rid") > headerIdx).drop("_rid")
    body.toDF(headers.map(h => h.replace(".", "_")): _*)
  }

  /** S3: folder scan + union + provenance column (reference
    * `myFileClass.py:89-131`): one read over the whole directory, the
    * source file kept as a column — Spark's multi-file read IS the
    * union, no driver-side concat. */
  def folderScanWithProvenance(spark: SparkSession, dir: String): DataFrame =
    csvAllString(spark, dir)
      .withColumn("FileName",
        regexp_extract(input_file_name(), "[^/]+$", 0))

  /** Schema-evolution union (X86): align any number of table
    * generations by COLUMN NAME, null-filling columns a generation
    * predates and widening numeric types to the least common arithmetic
    * type (int ⊂ long ⊂ double) — what reading years of parquet
    * generations from one 100 TB lake path requires once columns have
    * been added or widened. Spark's single-path `mergeSchema` read does
    * the same alignment; this operator is the explicit form for
    * generations that live in SEPARATE paths/frames (so each scan still
    * prunes and pushes down independently before the union — the plan
    * is N parallel scans into one union, no shuffle at all).
    * Column order follows the first generation, then first-appearance
    * of new columns. Non-numeric type conflicts are an error, not a
    * silent cast. */
  def evolveUnion(gens: Seq[DataFrame]): DataFrame = {
    require(gens.nonEmpty, "evolveUnion needs at least one generation")
    val rank = Map[String, Int]("integer" -> 0, "long" -> 1, "double" -> 2)
    def widen(a: String, b: String): String =
      if (a == b) a
      else (rank.get(a), rank.get(b)) match {
        case (Some(x), Some(y)) => if (x >= y) a else b
        case _ => throw new IllegalArgumentException(
          s"evolveUnion: incompatible types $a vs $b")
      }
    val ordered = gens.flatMap(_.schema.fields.map(_.name)).distinct
    val types = gens.flatMap(_.schema.fields.map(f =>
        f.name -> f.dataType.typeName))
      .groupBy(_._1).map { case (n, ts) =>
        n -> ts.map(_._2).reduce(widen) }
    gens.map { g =>
      val have = g.schema.fieldNames.toSet
      g.select(ordered.map { c =>
        if (have(c)) col(c).cast(types(c)).as(c)
        else lit(null).cast(types(c)).as(c)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** S4: latest-file selection — prefer max yyyyMMdd filename prefix,
    * else max mtime (reference `find_latest_by_pattern`,
    * `lib.py:56-83`). Driver-side path logic, as in the reference. */
  def findLatestByPattern(dir: java.io.File, suffix: String): Option[java.io.File] = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(suffix))
    val dated = files.flatMap { f =>
      "^(\\d{8})".r.findFirstIn(f.getName).map(d => (d, f))
    }
    if (dated.nonEmpty) Some(dated.maxBy(_._1)._2)
    else files.sortBy(_.lastModified()).lastOption
  }

  /** JSONL ingest with corrupt-record QUARANTINE — the production
    * contract for the web-scale document feeds the pipeline surface
    * consumes (a 100 TB crawl delivery always contains malformed
    * lines; FAILFAST aborts the job, bare PERMISSIVE silently nulls
    * fields — quarantine keeps the batch AND the evidence): explicit
    * schema (never inference — a schema-inference pass is a second
    * full scan AND drifts with the data), PERMISSIVE parse with the
    * corrupt line captured, split into (clean rows, quarantined raw
    * lines). Returns the pair; the caller lands the quarantine
    * side-channel next to the batch (the J7 NotMapped discipline
    * applied at ingest). Spark requires the corrupt-record column in
    * the read schema and caches the parse (documented Spark
    * semantics: the corrupt column is only populated reliably when
    * the parsed frame is materialized once). */
  def jsonlWithQuarantine(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val full = schema.add(corrupt, org.apache.spark.sql.types.StringType)
    val parsed = graft.core.SessionCache.transient(
      spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path))
    val clean = parsed.filter(col(corrupt).isNull)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    val quarantined = parsed.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"))
    (clean, quarantined)
  }
}
