package graft

import org.apache.spark.sql.functions._
import graft.functions.{Similarity, SimilarityTwin}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def score(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)
                   (a: String, b: String): Int =
    Seq((a, b)).toDF("a", "b").select(f($"a", $"b")).as[Int].head()

  test("ratio: identity=100, truncated levenshtein similarity, empty cases") {
    assert(score(Similarity.ratio)("ACME", "ACME") == 100)
    assert(score(Similarity.ratio)("ABC", "ABD") == 66) // floor(100*(1-1/3))
    assert(score(Similarity.ratio)("", "") == 100)
    assert(score(Similarity.ratio)("", "XYZ") == 0)
  }

  test("token_sort: word order insensitive") {
    assert(score(Similarity.tokenSortRatio)("ACME WIDGETS", "WIDGETS ACME") == 100)
    assert(score(Similarity.ratio)("ACME WIDGETS", "WIDGETS ACME") < 100)
  }

  test("token_set: subset tokens score 100") {
    assert(score(Similarity.tokenSetRatio)("ACME WIDGETS", "ACME WIDGETS PROPRIETARY LIMITED") == 100)
    assert(score(Similarity.tokenSortRatio)("ACME WIDGETS", "ACME WIDGETS PROPRIETARY LIMITED") < 100)
  }

  test("keyword score: Jaccard*100 truncated on keyword sets") {
    // keywords: {ACME, WIDGET} vs {ACME, BOLT}: 1/3 → 33
    assert(score(Similarity.keywordScore)("Acme Widget", "Acme Bolt") == 33)
    assert(score(Similarity.keywordScore)("The Co", "Acme Bolt") == 0) // empty left set
  }

  test("token kernels bitwise-equal their declarative twins (corpus + edges)") {
    // raw corpus names (punctuation, casing) + adversarial edges: empty,
    // space runs (empty tokens kept by split's limit -1), duplicates,
    // multi-byte UTF-8 (split/sort exactness is NOT ASCII-limited), null
    val edges = Seq(
      "", " ", "  ", "a", "a b", "b a", " a b ", "a  b", "a a a b",
      "ACME PTY LTD", "zz aa mm", "café müller zürich", "☃ snow ☃ man",
      "multi  space   runs", "trailing space ", " leading", null)
      .toDF("t")
    val corpus = spark.read.parquet(s"$sf/part.parquet").select($"p_name".as("t"))
    val all = edges.union(corpus)
    val mismatched = all.select(
      Similarity.tokenSortJoin($"t").as("ks"),
      SimilarityTwin.tokenSortJoinDeclarative($"t").as("ds"),
      Similarity.tokenSet($"t").as("kt"),
      SimilarityTwin.tokenSetDeclarative($"t").as("dt"))
      .filter(!($"ks" <=> $"ds") || !($"kt" <=> $"dt"))
    assert(mismatched.count() == 0)
  }

  test("tokenSetRatio100 kernel bitwise-equals the declarative set-ratio (+ null edge)") {
    // ASCII domain (the kernel's levenshtein is byte-level): normalized
    // corpus names, self/cross pairs
    val names = spark.read.parquet(s"$sf/customer.parquet")
      .select(graft.functions.Names.normalizeName($"c_name").as("n")).limit(200)
    val pairs = names.select(Similarity.tokenSet($"n").as("ta"))
      .crossJoin(names.select(Similarity.tokenSet($"n").as("tb")).limit(23))
    val mismatched = pairs.select(
      Similarity.tokenSetRatioFromSets($"ta", $"tb").as("k"),
      SimilarityTwin.tokenSetRatioFromSetsDeclarative($"ta", $"tb").as("d"))
      .filter(!($"k" <=> $"d"))
    assert(mismatched.count() == 0)
    // the null edge both forms score 100 (see TokenSetRatio100 scaladoc)
    val nullEdge = Seq(Tuple1(Seq("a", "b"))).toDF("ta")
      .select($"ta", lit(null).cast("array<string>").as("tb"))
    val r = nullEdge.select(
      Similarity.tokenSetRatioFromSets($"ta", $"tb").as("k"),
      Similarity.tokenSetRatioFromSets($"tb", $"ta").as("k2"),
      SimilarityTwin.tokenSetRatioFromSetsDeclarative($"ta", $"tb").as("d")).head()
    assert(r.getInt(0) == 100 && r.getInt(1) == 100 && r.getInt(2) == 100)
  }

  test("TokenSetRatio100 propagates null; only the twin boundary scores a null side 100") {
    val sets = Seq((Some(Seq("a", "b")), None), (None, Some(Seq("a"))), (None, None),
      (Some(Seq("a", "b")), Some(Seq("a", "c"))))
      .toDF("ta", "tb")
    def run() = sets.select(
      graft.plans.TokenExprs.tokenSetRatio100($"ta", $"tb").as("kernel"),
      Similarity.tokenSetRatioFromSets($"ta", $"tb").as("boundary"),
      SimilarityTwin.tokenSetRatioFromSetsDeclarative($"ta", $"tb").as("twin")).collect()
    for (rows <- Seq(run(), {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try run() finally spark.conf.unset("spark.sql.codegen.factoryMode")
    })) {
      assert(rows.take(3).forall(r => r.isNullAt(0) && r.getInt(1) == 100 && r.getInt(2) == 100),
        rows.mkString("; "))
      assert(rows(3).getInt(0) == rows(3).getInt(1) && rows(3).getInt(1) == rows(3).getInt(2))
    }
  }

  test("properties on corpus: bounds 0..100 and symmetry") {
    val names = spark.read.parquet(s"$sf/part.parquet").select($"p_name")
    val pairs = names.select($"p_name".as("a"))
      .crossJoin(names.select($"p_name".as("b")).limit(20))
    val checked = pairs.select(
      Similarity.ratio($"a", $"b").as("r_ab"), Similarity.ratio($"b", $"a").as("r_ba"),
      Similarity.tokenSetRatio($"a", $"b").as("s_ab"), Similarity.tokenSetRatio($"b", $"a").as("s_ba"))
    assert(checked.filter($"r_ab" =!= $"r_ba" || $"s_ab" =!= $"s_ba").count() == 0)
    assert(checked.filter($"r_ab" < 0 || $"r_ab" > 100 || $"s_ab" < 0 || $"s_ab" > 100).count() == 0)
  }
}
