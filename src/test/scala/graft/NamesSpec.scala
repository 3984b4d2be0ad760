package graft

import org.apache.spark.sql.functions._
import graft.functions.{Names, NamesTwin}

/** Goldens replicate the reference chain by hand
  * (scripts/entity_matching.py:74-97) — pattern ORDER is load-bearing. */
class NamesSpec extends SparkSpec {
  import spark.implicits._

  private def norm(s: String): String =
    Seq(s).toDF("x").select(Names.normalizeName($"x")).as[String].head()

  test("normalize: abbreviations expand after noise strip") {
    assert(norm("Acme Pty Ltd") == "ACME PROPRIETARY LIMITED")
    assert(norm("Acme Pty. Ltd.") == "ACME PROPRIETARY LIMITED")
    assert(norm("Beta Co") == "BETA COMPANY")
  }

  test("normalize: articles, business noise, parens, pipe/dash tails") {
    assert(norm("The Acme Group Pty Ltd (Australia) | Home") == "ACME PROPRIETARY LIMITED")
    assert(norm("Zeta Holdings - Contact Us") == "ZETA")
    assert(norm("Kappa [est 1999] Enterprises") == "KAPPA")
  }

  test("normalize: HTML entities and &/+ become AND") {
    assert(norm("Salt &amp; Pepper") == "SALT AND PEPPER")
    assert(norm("Salt & Pepper") == "SALT AND PEPPER")
    assert(norm("Salt + Pepper") == "SALT AND PEPPER")
  }

  test("normalize: null/blank → empty; idempotent on a corpus") {
    assert(norm("") == "")
    assert(norm("   ") == "")
    val names = spark.read.parquet(s"$sf/customer.parquet").select($"c_name".as("x"))
      .unionByName(spark.read.parquet(s"$sf/part.parquet").select($"p_name".as("x")))
    val diff = names
      .select(Names.normalizeName($"x").as("n1"))
      .select($"n1", Names.normalizeName($"n1").as("n2"))
      .filter($"n1" =!= $"n2").count()
    assert(diff == 0, "normalize must be idempotent")
  }

  test("keywords: stopwords and short words dropped, sorted distinct") {
    val kw = Seq("Acme Widget Co Pty Ltd of The Widget").toDF("x")
      .select(Names.keywords($"x")).as[String].head()
    assert(kw == "ACME WIDGET")
  }

  test("title extraction: legal-suffix pattern wins, digits-only rejected") {
    def ex(s: String): String =
      Seq(s).toDF("x").select(Names.extractFromTitle($"x")).as[String].head()
    assert(ex("Acme Pty Ltd - Best Widgets in Australia") == "Acme Pty Ltd")
    assert(ex("123-456") == "123-456") // fallback to original
  }

  test("validity: anchored-at-start semantics") {
    def valid(s: String): Boolean =
      Seq(s).toDF("x").select(Names.isValidCompanyName($"x")).as[Boolean].head()
    assert(!valid("12-34"))
    assert(!valid("RSS Feed Daily"))
    assert(!valid("Wedding Flowers Co"))
    assert(valid("Acme Wedding Services")) // WEDDING mid-string is fine
    assert(valid("Acme Pty Ltd"))
    assert(!valid("ab"))
  }

  test("null inputs: normalize→'', keywords→[], extract→null, valid→false") {
    val row = Seq(Option.empty[String]).toDF("x")
      .select(Names.normalizeName($"x"), Names.keywordsArr($"x"),
        Names.extractFromTitle($"x"), Names.isValidCompanyName($"x"))
      .head()
    assert(row.getString(0) == "")
    assert(row.getSeq[String](1).isEmpty)
    assert(row.isNullAt(2))
    assert(!row.getBoolean(3))
  }

  test("native name expressions equal their declarative twins on a corpus") {
    // the oracle SQL mirrors the declarative chains literally, so the
    // compact native expressions must be value-identical to them
    import org.scalacheck.Gen
    val word = Gen.choose(1, 8).flatMap(n => Gen.stringOfN(n,
      Gen.frequency(8 -> Gen.alphaChar, 1 -> Gen.numChar, 1 -> Gen.oneOf('&', '-', '|', '(', ')', '+', '.'))))
    val name = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val decorated = Gen.frequency(
      5 -> name,
      2 -> name.map(n => s"The $n Pty Ltd (AU) | Home"),
      1 -> name.map(n => s"RSS $n"),
      1 -> name.map(n => s"$n &amp; Co - Contact"),
      1 -> Gen.oneOf("", "  ", "123-456", "Acme Pty Ltd - Widgets", "\tTabbed Name\t"),
      // multi-byte content: unicode-aware upper/regex in the
      // declarative chain vs the native byte walkers
      1 -> Gen.oneOf("Café Pty Ltd", "Müller & Söhne", "ß GmbH", "中文公司",
        "Ñandú | Home", "Ωμέγα Co", "😀 Emoji Pty", "é̈ Combining", "кириллица"))
    val gen = Fuzz.draw(Gen.listOfN(400, decorated))
    val corpus = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_name".as("x")).limit(500)
      .unionByName(gen.toDF("x"))
    val bad = corpus.select($"x",
        Names.normalizeName($"x").as("n_nat"),
        NamesTwin.normalizeNameDeclarative($"x").as("n_dec"),
        Names.keywordsArr($"x").as("k_nat"),
        NamesTwin.keywordsArrDeclarative($"x").as("k_dec"),
        Names.extractFromTitle($"x").as("e_nat"),
        NamesTwin.extractFromTitleDeclarative($"x").as("e_dec"),
        Names.isValidCompanyName($"x").as("v_nat"),
        NamesTwin.isValidCompanyNameDeclarative($"x").as("v_dec"))
      .filter($"n_nat" =!= $"n_dec" || ($"k_nat" =!= $"k_dec") ||
        !($"e_nat" <=> $"e_dec") || $"v_nat" =!= $"v_dec")
      .collect()
    assert(bad.isEmpty, s"native != declarative on: ${bad.take(5).mkString("; ")}")
  }
}
