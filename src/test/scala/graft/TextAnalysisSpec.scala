package graft

import org.apache.spark.sql.functions._
import graft.text.TextAnalysis._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  test("tokenCount: whitespace tokens; empty and blank are 0") {
    val r = Seq("a b  c", "", "   ", "one").toDF("text")
      .select(tokenCount($"text").as("n")).as[Long].collect()
    assert(r.toSeq == Seq(3L, 0L, 0L, 1L))
  }

  test("bpeishTokenCount: letter runs, digit runs, single marks") {
    val r = one("ab12 cd, x!").select(bpeishTokenCount($"text")).as[Long].head()
    // ab | 12 | cd | , | x | !
    assert(r == 6L)
  }

  test("normalize strips non-alphanumerics and squeezes spaces") {
    val r = one("  Héllo,   WORLD!!  9 ").select(normalize($"text"))
      .as[String].head()
    assert(r == "h llo world 9")
  }

  test("langId picks marker-majority language, und when no markers") {
    val df = Seq(
      "the cat and the hat is in it",
      "der hund und die katze ist nicht da",
      "el perro y la casa en los campos es",
      "le chat et les maisons est un une",
      "qwerty zxcvb").toDF("text")
    val r = df.select(langId($"text")).as[String].collect().toSeq
    assert(r == Seq("en", "de", "es", "fr", "und"))
  }

  test("qualityScore in [0,1] and rewards stopword-rich prose") {
    val good = one("the cat and the dog sat in the house " * 10)
      .select(qualityScore($"text")).as[Double].head()
    val bad = one("!!! ??? *** $$$ %%%")
      .select(qualityScore($"text")).as[Double].head()
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }

  test("wordShingles: n-grams in order; short docs yield empty") {
    val r = one("a b c d").select(wordShingles($"text", 3)).as[Seq[String]]
      .head()
    assert(r == Seq("a b c", "b c d"))
    val short = one("a b").select(wordShingles($"text", 3)).as[Seq[String]]
      .head()
    assert(short.isEmpty)
  }

  test("fingerprints are normalization-invariant") {
    val r = Seq("Hello  World!", "hello world").toDF("text")
      .select(fingerprintMd5($"text"), rollingFingerprint($"text"))
      .collect()
    assert(r(0) == r(1))
  }

  test("encoding QC: U+FFFD and C0/C1 counts; TAB/LF/CR exempt") {
    // same dirty string probed against DuckDB by hand:
    // 'ab' || chr(65533) || chr(7) || chr(9) || chr(155) || 'c'
    // -> length 7, repl 1, ctrl 2 (BEL + C1 U+009B; TAB exempt)
    val dirty = "ab\uFFFD\u0007\t\u009Bc"
    val r = one(dirty).select(
      length($"text").cast("long"),
      replacementCount($"text"), ctrlCount($"text")).collect()(0)
    assert(r.getLong(0) == 7L && r.getLong(1) == 1L && r.getLong(2) == 2L)
    // clean prose with legitimate whitespace: zero on both counters
    val clean = one("line one\nline\ttwo\r\nend").select(
      replacementCount($"text"), ctrlCount($"text")).collect()(0)
    assert(clean.getLong(0) == 0L && clean.getLong(1) == 0L)
    // NUL and DEL are in the control class
    val nulDel = one("a\u0000b\u007Fc").select(ctrlCount($"text"))
      .as[Long].head()
    assert(nulDel == 2L)
  }

  test("gopher screen: stopword-rich prose passes, short or symbol-" +
    "heavy docs fail, measures are exact integers") {
    val dir = java.nio.file.Files.createTempDirectory("gopher").toString
    // 17 words × 4 = 68 words, mean word length ≈ 4.3 (inside 3..10)
    val prose = (("the handsome wizard and a curious dragon wandered " +
      "in the valley of stars to discuss it is ") * 4).trim
    Seq(
      (1L, prose),
      (2L, "too few words here"),
      (3L, prose + " " + "### ### ### ### ### ### ### ###"), // sym-heavy
      (4L, ("zz " * 60).trim)) // no stopwords, still 60 words
      .map { case (i, t) => (i, t, "en", "srcA", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("text_gopher_screen")(
      spark, dir).orderBy($"doc_id").collect()
    assert(r.map(_.getAs[Long]("passes_gopher")).toSeq ==
      Seq(1L, 0L, 0L, 0L))
    // doc 1: 68 words, word chars = len w/o spaces; exact mean e6
    val wc = prose.replaceAll("\\s", "").length.toLong
    assert(r(0).getAs[Long]("n_words") == 68L)
    assert(r(0).getAs[Long]("mean_wlen_e6") == wc * 1000000L / 68L)
    assert(r(0).getAs[Long]("stop_hits") == 8L)
  }

  test("langid confusion: planted mislabel lands off-diagonal; " +
    "share ppm row-normalized and exact") {
    val dir = java.nio.file.Files.createTempDirectory("cm").toString
    Seq(
      (1L, "the cat and the dog is in it", "en"),
      (2L, "a tale of the sea and the sky", "en"),
      (3L, "der hund und die katze ist nicht", "en"), // mislabeled
      (4L, "el perro y la casa es de los", "es"))
      .map { case (i, t, l) => (i, t, l, "srcA", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("text_langid_confusion")(
      spark, dir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[String]("lang_pred")) ->
        ((x.getAs[Long]("n"), x.getAs[Long]("share_ppm")))).toMap
    assert(r(("en", "en")) == ((2L, 666666L)))
    assert(r(("en", "de")) == ((1L, 333333L)))
    assert(r(("es", "es")) == ((1L, 1000000L)))
    assert(r.size == 3)
  }

  test("encoding QC registry query quarantines mojibake, not prose") {
    val dir = java.nio.file.Files.createTempDirectory("encqc").toString
    Seq(
      (1L, "perfectly ordinary prose with\na newline", "en", "srcA", 0L),
      (2L, "bro\uFFFDken transcode \uFFFD residue", "en", "srcB", 0L),
      (3L, "control\u0001\u0002\u0003\u0004heavy", "en", "srcB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = SparkEntry.queries("text_encoding_qc")(
      spark, dir).orderBy($"doc_id").collect()
    assert(q.map(_.getAs[Long]("is_quarantined")).toSeq == Seq(0L, 1L, 1L))
    assert(q(1).getAs[Long]("repl_count") == 2L)
    assert(q(2).getAs[Long]("ctrl_count") == 4L)
    // doc 3: 16 chars, 4 ctrl -> 250000 ppm, over the 1000 ppm bar
    assert(q(2).getAs[Long]("ctrl_ppm") == 4L * 1000000L / 16L)
    val roll = SparkEntry.queries("text_encoding_by_source")(
      spark, dir).orderBy($"source").collect()
    assert(roll.map(r => (r.getAs[String]("source"),
      r.getAs[Long]("n_docs"), r.getAs[Long]("n_quarantined"))).toSeq ==
      Seq(("srcA", 1L, 0L), ("srcB", 2L, 2L)))
  }
}
