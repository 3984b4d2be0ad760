package graft

import org.apache.spark.sql.functions._
import graft.functions.{Hashing, HashingTwin, TextStats, TextStatsTwin}

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("wordlist hits count with multiplicity") {
    val n = Seq("the cat and the dog").toDF("text")
      .select(TextStats.wordlistHits($"text", Seq("the", "and"))).as[Int].head()
    assert(n == 3)
  }

  test("classify: argmax with first-wins tie-break") {
    def cls(s: String) =
      Seq(s).toDF("text").select(TextStats.classify($"text")).as[String].head()
    assert(cls("the a and of to") == "en")
    assert(cls("query scan join") == "query")
    assert(cls("xyzzy") == "en") // all-zero tie → first class
  }

  test("token counts: whitespace vs BPE-ish") {
    val r = Seq("abc de2f 9 x!").toDF("text")
      .select(TextStats.wsTokenCount($"text"), TextStats.bpeTokenCount($"text"))
      .as[(Int, Int)].head()
    assert(r._1 == 4)
    assert(r._2 == 7) // abc | de | 2 | f | 9 | x | !
  }

  test("quality score bounded 0..100 over corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bad = docs.select(TextStats.qualityScore($"text").as("q"))
      .filter($"q" < 0 || $"q" > 100).count()
    assert(bad == 0)
  }

  test("wordlistHits and sumTokenChars kernels bitwise-equal the declarative forms") {
    val edges = Seq(null, "", " ", "the", "the the the", "a the b of to",
      "多字节 the 文本", "no hits here at", "  the  ")
      .toDF("text")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select($"text")
    val words = TextStats.classes.head._2
    val bad = edges.union(corpus).select(
        TextStats.wordlistHits($"text", words).as("nh"),
        TextStatsTwin.wordlistHitsDeclarative($"text", words).as("dh"),
        graft.plans.TokenExprs.sumTokenChars($"text").as("nl"),
        aggregate(split($"text", " "), lit(0L), (a, w) => a + length(w)).as("dl"))
      .filter(!($"nh" <=> $"dh") || !($"nl" <=> $"dl")).count()
    assert(bad == 0)
  }

  test("fingerprint kernel bitwise-equals the declarative twin (corpus + edges)") {
    // edges: null, empty (one padded 0 code), single char, multi-byte
    // UTF-8 (ascii() reads the code point), exactly/over maxLen
    val edges = Seq(null, "", "a", " ", "é", "日本語のテキスト",
      "x" * 64, "y" * 200, "mixed ascii and 日本語 text")
      .toDF("text")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select($"text")
    for (maxLen <- Seq(1, 64)) {
      val bad = edges.union(corpus).select(
          Hashing.fingerprint($"text", maxLen).as("nat"),
          HashingTwin.fingerprintDeclarative($"text", maxLen).as("dec"))
        .filter(!($"nat" <=> $"dec")).count()
      assert(bad == 0, s"fingerprint($maxLen) diverged from twin")
    }
  }

  test("fingerprint: deterministic, prefix-sensitive") {
    val fps = Seq("abcdef", "abcdef", "abcdeg").toDF("text")
      .select(Hashing.fingerprint($"text", 64)).as[Long].collect().toSeq
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("PII redaction: emails and phones scrubbed, counts audited") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",
      "call +61 412 345 678 or 0299998888 today",
      "clean text with no pii at all").toDF("text")
    val (ne, np) = TextStats.piiCounts($"text")
    val rows = df.select(TextStats.redactPii($"text").as("r"), ne, np).collect()
    assert(rows(0).getString(0) == "mail <EMAIL> now")
    assert(rows(0).getInt(1) == 1 && rows(0).getInt(2) == 0)
    assert(rows(1).getString(0) == "call <PHONE> or <PHONE> today")
    assert(rows(1).getInt(1) == 0 && rows(1).getInt(2) == 2)
    assert(rows(2).getString(0) == "clean text with no pii at all")
    assert(rows(2).getInt(1) == 0 && rows(2).getInt(2) == 0)
  }
}
