package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftFunctions, SparkTestBase}

class UnicodeNormalizeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // Decomposed e + U+0301, precomposed é, ligature ﬁ, fullwidth Ａ.
  private val decomposed = "caf" + "e\u0301"
  private val composed = "caf\u00e9"
  private val ligature = "\ufb01le"
  private val fullwidth = "\uff21BC"

  test("NFC composes, NFD decomposes, round trips are stable") {
    val df = Seq((decomposed, composed)).toDF("d", "c")
    val got = df.select(
      GraftFunctions.unicodeNorm($"d", "NFC").as("nfc"),
      GraftFunctions.unicodeNorm($"c", "NFD").as("nfd"),
      GraftFunctions.unicodeNorm(
        GraftFunctions.unicodeNorm($"d", "NFC"), "NFC").as("idem"))
      .as[(String, String, String)].head()
    assert(got._1 == composed)
    assert(got._2 == decomposed)
    assert(got._3 == composed)
  }

  test("NFKC folds compatibility glyphs NFC leaves alone") {
    val df = Seq((ligature, fullwidth)).toDF("lig", "fw")
    val got = df.select(
      GraftFunctions.unicodeNorm($"lig", "NFC").as("lig_nfc"),
      GraftFunctions.unicodeNorm($"lig", "NFKC").as("lig_nfkc"),
      GraftFunctions.unicodeNorm($"fw", "NFKC").as("fw_nfkc"))
      .as[(String, String, String)].head()
    assert(got._1 == ligature, "NFC must not touch the ligature")
    assert(got._2 == "file")
    assert(got._3 == "ABC")
  }

  test("strip_accents folds Latin accents from both encodings, keeps ligatures") {
    val df = Seq((decomposed, "\u00e9\u00fc\u00f1", ligature)).toDF("d", "p", "lig")
    val got = df.select(
      GraftFunctions.stripAccents($"d"),
      GraftFunctions.stripAccents($"p"),
      GraftFunctions.stripAccents($"lig"))
      .as[(String, String, String)].head()
    assert(got._1 == "cafe")
    assert(got._2 == "eun")
    assert(got._3 == ligature, "accent stripping is not compatibility folding")
  }

  test("normalized fingerprints unify composed and decomposed encodings") {
    // The reason the pass exists: identical text in different encodings
    // must dedup together after normalization, and must NOT before.
    val df = Seq((composed, decomposed)).toDF("a", "b")
    val got = df.select(
      (TextFunctions.fingerprint($"a") ===
        TextFunctions.fingerprint($"b")).as("raw_eq"),
      (TextFunctions.fingerprint(GraftFunctions.unicodeNorm($"a", "NFC")) ===
        TextFunctions.fingerprint(GraftFunctions.unicodeNorm($"b", "NFC")))
        .as("norm_eq"))
      .as[(Boolean, Boolean)].head()
    assert(!got._1 && got._2)
  }

  test("SQL registration: unicode_norm and strip_accents are callable") {
    val got = spark.sql(
      s"SELECT unicode_norm('$decomposed', 'NFC') AS n, " +
        s"strip_accents('$decomposed') AS s")
      .as[(String, String)].head()
    assert(got._1 == composed && got._2 == "cafe")
  }

  test("invalid or non-literal form fails at plan time, not per row") {
    intercept[AnalysisException] {
      spark.sql("SELECT unicode_norm('x', 'NFX')").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT unicode_norm('x', lower('NFC'))").collect()
    }
  }

  test("nulls propagate; codegen-only mode compiles the expressions") {
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      val df = Seq(Some(decomposed), None).toDF("t")
      val rows = df.select(
        GraftFunctions.unicodeNorm($"t", "NFC").as("n"),
        GraftFunctions.stripAccents($"t").as("s")).collect()
      assert(rows(0).getString(0) == composed && rows(0).getString(1) == "cafe")
      assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    }
  }
}
