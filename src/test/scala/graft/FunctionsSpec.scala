package graft

import java.time.LocalDate

import org.scalacheck.Gen

import graft.functions.Functions
import graft.model.MetaSource

class FunctionsSpec extends SparkSpec {

  /** Tiny property-check driver over scalacheck Gens (the
    * scalatest-scalacheck bridge artifact isn't on the offline
    * classpath, so we sample directly).
    */
  private def forAll[A](gen: Gen[A], n: Int = 200)(check: A => Unit): Unit =
    Iterator
      .continually(gen.sample)
      .flatten
      .take(n)
      .foreach(check)

  import spark.implicits._

  // T1 normalization (generic_import.py:392-394 semantics)
  test("normalizeName lowers and replaces spaces/hyphens only") {
    assert(Functions.normalizeName("Company Name") == "company_name")
    assert(Functions.normalizeName("Sub-Sector") == "sub_sector")
    // slash and parens survive — the reference's quirk the analytics
    // layer depends on (FIXTURES.md F2)
    assert(Functions.normalizeName("Company/Organization") == "company/organization")
    assert(Functions.normalizeName("Company Description (Bio)") == "company_description_(bio)")
  }

  test("normalizeName is idempotent") {
    forAll(Gen.alphaNumStr) { s =>
      val once = Functions.normalizeName(s)
      assert(Functions.normalizeName(once) == once)
    }
  }

  test("Sketches tokenizer matches Spark's split(trim(text), '\\s+') on arbitrary whitespace") {
    // every sketch kernel depends on this identity — drift here would
    // silently desync the native kernels from their SQL oracles
    val wsChars = Gen.oneOf(' ', '\t', '\n', '\r', 'a', 'b', 'Z', '9', '.', ',')
    val gen = Gen.listOfN(30, wsChars).map(_.mkString)
    val texts = Iterator.continually(gen.sample).flatten.take(150).toSeq ++
      Seq("", " ", "\t", "a", " a ", "\ta b\n", "a  b", "\n\n", "x\r\ny")
    val df = texts.toDF("t")
    val sparkSide = df
      .select(org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.trim($"t"), "\\s+").as("w"))
      .collect()
      .map(_.getSeq[String](0).toList)
    val kernelSide = texts.map(t =>
      graft.functions.Sketches.tokens(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).toList)
    sparkSide.zip(kernelSide).zip(texts).foreach { case ((a, b), t) =>
      assert(a == b, s"tokenizer drift on ${t.map(_.toInt).mkString("[", ",", "]")}: $a vs $b")
    }
  }

  // T4 metadata parse (generic_import.py:86-125 semantics)
  test("parseMetadata filename index splits basename on delimiter") {
    val f = "20250401T120000_MeetMax_119179.xls"
    assert(
      Functions.parseMetadata(f, MetaSource.Filename, Some("0"), Some("_"))
        .contains("20250401T120000"))
    assert(
      Functions.parseMetadata(f, MetaSource.Filename, Some("2"), Some("_"))
        .contains("119179"))
    assert(Functions.parseMetadata(f, MetaSource.Filename, Some("9"), Some("_")).isEmpty)
  }

  test("parseMetadata filename regex uses group(1) when groups exist, else group(0)") {
    val f = "20250401T120000_MeetMax_119179.xls"
    assert(
      Functions.parseMetadata(f, MetaSource.Filename, Some("MeetMax_(\\d+)"), None)
        .contains("119179"))
    assert(
      Functions.parseMetadata(f, MetaSource.Filename, Some("\\d{8}T\\d{6}"), None)
        .contains("20250401T120000"))
    assert(Functions.parseMetadata(f, MetaSource.Filename, Some("nomatch_(x)"), None).isEmpty)
  }

  test("parseMetadata static returns the literal") {
    assert(
      Functions.parseMetadata("anything.csv", MetaSource.Static, Some("MeetMaxURLCheck"), None)
        .contains("MeetMaxURLCheck"))
  }

  // T5 date parse with fallback (generic_import.py:564-575)
  test("parseDatasetDate parses the reference timestamp format and falls back to today") {
    val today = LocalDate.of(2026, 8, 12)
    assert(
      Functions.parseDatasetDate(Some("20250401T120000"), "yyyyMMdd'T'HHmmss", today) ==
        LocalDate.of(2025, 4, 1))
    assert(Functions.parseDatasetDate(Some("20250401"), "yyyyMMdd", today) == LocalDate.of(2025, 4, 1))
    assert(Functions.parseDatasetDate(Some("garbage"), "yyyyMMdd", today) == today)
    assert(Functions.parseDatasetDate(None, "yyyyMMdd", today) == today)
  }

  // T6 length policy (generic_import.py:183-193)
  test("safeLength applies 1.5x margin capped at 4000, default 255") {
    assert(Functions.safeLength(Some(10)) == 15)
    assert(Functions.safeLength(Some(3000)) == 4000)
    assert(Functions.safeLength(None) == 255)
    forAll(Gen.chooseNum(0, 10000)) { n =>
      val l = Functions.safeLength(Some(n))
      assert(l <= 4000 && l == math.min((n * 1.5).toInt, 4000))
    }
  }

  test("inferLengths + truncateTo bound every value, counts truncations") {
    val df = Seq(("abcdefghij", "x"), ("ab", "yz")).toDF("a", "b")
    val lengths = Functions.inferLengths(df)
    assert(lengths("a") == 15 && lengths("b") == 3)
    val hard = Map("a" -> 4, "b" -> 1)
    val trunc = Functions.truncateTo(df, hard).collect().map(r => (r.getString(0), r.getString(1)))
    assert(trunc.forall { case (a, b) => a.length <= 4 && b.length <= 1 })
    val counts = Functions.truncationCounts(df, hard)
    assert(counts("a") == 1L && counts("b") == 1L)
  }

  // T2 case-insensitive projection (generic_import.py:405-424)
  test("projectToTarget matches case-insensitively, reorders, reports unmatched") {
    val df = Seq(("1", "a", "x")).toDF("EventID", "Title", "Extra")
    val (proj, unmatchedSrc, unmatchedTgt) =
      Functions.projectToTarget(df, Seq("title", "eventid", "missing"))
    assert(proj.columns.toSeq == Seq("title", "eventid"))
    assert(proj.head().getString(1) == "1")
    assert(unmatchedSrc.toSeq == Seq("Extra"))
    assert(unmatchedTgt == Seq("missing"))
  }

  test("char_diversity kernel matches a naive reference; empty and surrogate-pair inputs") {
    import graft.functions.CharDiversity
    CharDiversity.register(spark)
    def naive(s: String): (Double, Double, Double) = {
      if (s.isEmpty) return (0.0, 0.0, 0.0)
      val cps = s.codePoints().toArray
      val counts = cps.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val n = cps.length.toDouble
      // ascending code point, strict left fold from 0.0 — the pinned order
      var sq = 0.0
      counts.toSeq.sortBy(_._1).foreach { case (_, c) => val p = c / n; sq += p * p }
      (1.0 - sq, counts.size.toDouble, counts.values.max / n)
    }
    val inputs = Seq("", "aaaa", "abab", "abcd", "aab bcc\nd", "a😀b😀",
      "The quick brown fox", "xxxxxxxxxxy")
    val got = inputs.toDF("s")
      .select(CharDiversity(org.apache.spark.sql.functions.col("s")).as("d"))
      .collect().map(_.getSeq[Double](0))
    inputs.zip(got).foreach { case (s, Seq(sim, nd, top)) =>
      val (esim, end, etop) = naive(s)
      assert(sim == esim && nd == end && top == etop, s"input '$s'")
    }
    // null stays null
    assert(Seq[String](null).toDF("s").select(CharDiversity(org.apache.spark.sql.functions.col("s"))).head().isNullAt(0))
  }
}
