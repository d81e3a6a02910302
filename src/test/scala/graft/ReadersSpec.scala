package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Readers
import graft.load.Load

class ReadersSpec extends SparkSpec {
  import spark.implicits._

  private def tmpCsv(name: String, lines: String*): String = {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    lines.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  test("csvAllString reads everything as string; normalizeNulls cleans") {
    val p = tmpCsv("a.csv", "id,val", "1,nan", "2, x ", "3,")
    val df = Readers.normalizeNulls(Readers.csvAllString(spark, p))
    val rows = df.orderBy("id").collect()
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(rows(0).isNullAt(1) && rows(1).getString(1) == "x" &&
      rows(2).isNullAt(1))
  }

  test("csvKeepBlanks keeps empty strings (na_filter=False parity)") {
    val p = tmpCsv("b.csv", "id,val", "1,", "2,y")
    val rows = Readers.csvKeepBlanks(spark, p).orderBy("id").collect()
    assert(rows(0).getString(1) == "")
  }

  test("requireColumns guards missing columns") {
    val df = Seq((1, "a")).toDF("id", "val")
    Readers.requireColumns(df, Seq("id", "val"))
    val e = intercept[IllegalArgumentException] {
      Readers.requireColumns(df, Seq("id", "missing_col"))
    }
    assert(e.getMessage.contains("missing_col"))
  }

  test("renameToCanonical resolves candidate chains, nulls unresolved") {
    val df = Seq(("m1", "org1")).toDF("Material ID Harmonized", "Org")
    val out = Readers.renameToCanonical(df, Seq(
      "material" -> Seq("Material ID", "Material ID Harmonized"),
      "sales_org" -> Seq("Org"),
      "country" -> Seq("Country")))
    assert(out.columns.toSet == Set("material", "sales_org", "country"))
    val r = out.head()
    assert(r.getString(0) == "m1" && r.getString(1) == "org1" && r.isNullAt(2))
  }

  test("pickDuplicateColumns selects nth occurrence positionally") {
    // headers: SalesOrg, Country, Country  (duplicate header)
    val positional = Seq(("s1", "wrong", "right"))
      .toDF("_c0", "_c1", "_c2")
    val out = Readers.pickDuplicateColumns(positional,
      Seq("SalesOrg", "Country", "Country"),
      Seq("sales_org" -> ("SalesOrg", 0), "country" -> ("Country", 1)))
    val r = out.head()
    assert(r.getString(0) == "s1" && r.getString(1) == "right")
  }

  test("detectHeaderRow finds the header mid-file and relabels") {
    val p = tmpCsv("c.csv",
      "report generated 2026-01-01,,",
      "some,junk,preamble",
      "Material,Country,Value",
      "m1,US,10",
      "m2,DE,20")
    val raw = spark.read.option("header", "false").csv(p)
    val out = Readers.detectHeaderRow(raw, Seq("Material", "Value"))
    assert(out.columns.toSeq == Seq("Material", "Country", "Value"))
    assert(out.count() == 2)
  }

  test("folderScanWithProvenance adds the source file name") {
    val p = tmpCsv("20260101_feed.csv", "id,val", "1,a")
    val df = Readers.folderScanWithProvenance(spark,
      new java.io.File(p).getParent)
    assert(df.select("FileName").head().getString(0) == "20260101_feed.csv")
  }

  test("findLatestByPattern prefers max yyyyMMdd prefix") {
    val dir = Files.createTempDirectory("graft_latest").toFile
    Seq("20250101_feed.csv", "20260101_feed.csv", "zzz_feed.csv").foreach {
      n => new java.io.PrintWriter(new java.io.File(dir, n)) {
        println("x"); close()
      }
    }
    val f = Readers.findLatestByPattern(dir, "_feed.csv")
    assert(f.map(_.getName).contains("20260101_feed.csv"))
  }

  test("guarded join rejects duplicate right-side keys (Err=99)") {
    val left = Seq((1, "a")).toDF("k", "v")
    val dupRight = Seq((1, "x"), (1, "y")).toDF("k", "w")
    val e = intercept[IllegalArgumentException] {
      Load.guardedLeftJoin(left, dupRight, Seq("k"))
    }
    assert(e.getMessage.contains("Err=99"))
    val okRight = Seq((1, "x")).toDF("k", "w")
    assert(Load.guardedLeftJoin(left, okRight, Seq("k")).count() == 1)
  }

  test("lookupWithDefault emits NotMapped + distinct error keys") {
    val facts = Seq((1, 10.0), (2, 20.0), (2, 21.0)).toDF("k", "v")
    val lookup = Seq((1, "US")).toDF("k", "country")
    val (enriched, errors) =
      Load.lookupWithDefault(facts, lookup, "k", "country")
    assert(enriched.filter($"k" === 2 && $"country" === "NotMapped")
      .count() == 2)
    assert(errors.as[Int].collect().toSeq == Seq(2))
  }

  test("regionBackfill fills blank regions from the region-plant map") {
    val facts = Seq(("m1", "NA"), ("m2", null), ("m2", ""))
      .toDF("mat", "region")
    val plants = Seq(("m1", "NA", "p1"), ("m2", "NA", "p2"),
      ("m2", "EU", "p3")).toDF("mat", "region", "plant")
    val out = Load.regionBackfill(facts, plants, "mat")
    // blank m2 rows cross with {NA, EU} and pick each region's plant
    val filled = out.filter($"mat" === "m2" && $"plant".isNotNull)
      .select("plant").as[String].collect().toSet
    assert(filled == Set("p2", "p3"))
  }

  test("month regex filter (P6) matches all last-12-month spellings") {
    import graft.functions.MonthRegex
    val snap = java.time.LocalDate.of(1996, 6, 1)
    val df = Seq("199605", "1996-05", "05/1996", "May 1996", "May-96",
      "199606", "totally different", "199506").toDF("attr")
    val hits = df.filter(
      MonthRegex.lastMonthsFilter($"attr", snap)).as[String].collect().toSet
    assert(hits == Set("199605", "1996-05", "05/1996", "May 1996",
      "May-96", "199506"))
  }

  test("coerceToSchema: per-type cleaning then cast; failures -> NULL") {
    import org.apache.spark.sql.types._
    val dirty = Seq(
      ("  7  ", "1,234.5", "  ok  ", "06/15/1997"),
      ("x", "abc", "nan", "not a date"))
      .toDF("key", "value", "status", "snapshot")
    val out = graft.load.Load.coerceToSchema(dirty, StructType(Seq(
      StructField("key", LongType),
      StructField("value", DoubleType),
      StructField("status", StringType),
      StructField("snapshot", DateType)))).collect()
    assert(out(0).getLong(0) == 7L)
    assert(out(0).getDouble(1) == 1234.5)
    assert(out(0).getString(2) == "ok")
    assert(out(0).getDate(3) == java.sql.Date.valueOf("1997-06-15"))
    assert((0 to 3).forall(out(1).isNullAt))
  }

  test("evolveUnion: aligns by name, widens int→long→double, " +
    "null-fills late columns, rejects type conflicts") {
    val gen1 = Seq((1, 10)).toDF("k", "v") // int, int
    val gen2 = Seq((2L, 2.5, "x")).toDF("k", "v", "tag") // long, double
    val u = graft.io.Readers.evolveUnion(Seq(gen1, gen2))
    assert(u.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("k" -> "long", "v" -> "double", "tag" -> "string"))
    val rows = u.as[(Long, Double, Option[String])].collect().toSet
    assert(rows == Set((1L, 10.0, None), (2L, 2.5, Some("x"))))
    val bad = Seq(("a", 1)).toDF("k", "v") // string k vs numeric k
    intercept[IllegalArgumentException] {
      graft.io.Readers.evolveUnion(Seq(gen1, bad))
    }
  }

  test("jsonlWithQuarantine: clean rows parse, malformed lines land " +
    "in the quarantine verbatim, nothing is silently dropped") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl_").toFile
    val f = new java.io.File(dir, "batch.jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello"}""",
      """{"doc_id": 2 "text": "missing comma"}""",   // malformed
      """{"doc_id": 3, "text": "ok"}""",
      """not json at all""")
    Files.write(f.toPath,
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val (clean, quarantined) =
      Readers.jsonlWithQuarantine(spark, f.getAbsolutePath, schema)
    val good = clean.as[(Long, String)].collect().sortBy(_._1)
    val badLines = quarantined.as[String].collect().toSet
    graft.core.SessionCache.endQuery()
    assert(good.toSeq == Seq(1L -> "hello", 3L -> "ok"))
    assert(badLines == Set(lines(1), lines(3)))
    assert(good.length + badLines.size == lines.length)
  }
}
