package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the documents corpus (north-star
  * LLM-pipeline family): wordlist language/topic ID, quality scoring,
  * token counting, and document fingerprinting. All are engine-defined
  * deterministic heuristics (the point is the operator plumbing at
  * scale, not linguistic accuracy), each with a DuckDB twin.
  */
object TextStats {

  /** Wordlist classes for the n-gram/stopword classification heuristic;
    * first-listed class wins score ties. */
  val classes: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "query" -> Seq("query", "scan", "join", "filter", "agg", "group"),
    "data" -> Seq("data", "table", "row", "column", "value"),
    "stream" -> Seq("stream", "batch", "window", "event"))

  private def toks(text: Column): Column = split(text, " ")

  /** Token hits against a wordlist (with multiplicity). Kernel
    * expression — the declarative twin (test tree, TextStatsTwin) is a
    * `filter` HOF whose lambda runs interpreted per token per row (and
    * classify's argmax would inline it once per class comparison);
    * twin pinned in TextStatsSpec. */
  def wordlistHits(text: Column, words: Seq[String]): Column =
    graft.plans.TokenExprs.wordlistHits(text, words)

  /** Class label by argmax of wordlist hits (ties → earlier class). */
  def classify(text: Column): Column = {
    val hits = classes.map { case (_, ws) => wordlistHits(text, ws) }
    val arms = classes.zipWithIndex.map { case ((name, _), i) =>
      val isMax = classes.indices.drop(i + 1)
        .map(j => hits(i) >= hits(j))
        .foldLeft(lit(true))(_ && _)
      (isMax, name)
    }
    arms.init.foldRight(lit(arms.last._2): Column) { case ((cond, name), rest) =>
      when(cond, name).otherwise(rest)
    }
  }

  /** Heuristic quality score 0..100: token volume, stopword ratio, mean
    * token length — all integer-derived, so the double arithmetic is
    * bitwise identical cross-engine. */
  def qualityScore(text: Column): Column = {
    val t = toks(text)
    val nTok = size(t).cast("double")
    val stopHits = wordlistHits(text, classes.head._2).cast("double")
    // kernel: the aggregate fold ran its lambda interpreted per token
    // per row; Σ length(token) == numChars − spaces (one byte pass).
    // Declarative twin pinned in TextStatsSpec.
    val sumLen = graft.plans.TokenExprs.sumTokenChars(text).cast("double")
    val volume = least(lit(1.0), nTok / 50.0)
    val stopRatio = stopHits / greatest(nTok, lit(1.0))
    val meanLen = least(lit(1.0), (sumLen / greatest(nTok, lit(1.0))) / 6.0)
    floor(lit(100) * (volume * 0.4 + stopRatio * 0.3 + meanLen * 0.3)).cast("int")
  }

  /** PII patterns for training-data scrubbing — RE2-safe (no
    * backreferences/lookaround) so Spark's Java regex and DuckDB's RE2
    * agree on every match. Order matters: emails first (a phone regex
    * could otherwise eat digits inside an address). */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9 -]{7,}[0-9]"

  /** Redact emails then phones. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")

  /** Occurrence counts (for audit trails / scrub-rate metrics). */
  def piiCounts(text: Column): (Column, Column) = (
    size(regexp_extract_all(text, lit(emailRe), lit(0))).as("n_emails"),
    size(regexp_extract_all(regexp_replace(text, emailRe, "<EMAIL>"),
      lit(phoneRe), lit(0))).as("n_phones"))

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(split(text, "\\s+"))

  /** BPE-ish token count: runs of letters, runs of digits, single other
    * non-space chars. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  // ───── DuckDB oracle twins ─────

  object sql {
    private def lit1(s: String) = "'" + s.replace("'", "''") + "'"

    def wordlistHits(text: String, words: Seq[String]): String = {
      val set = words.map(lit1).mkString(", ")
      s"length(list_filter(string_split($text, ' '), t -> t IN ($set)))"
    }

    def classify(text: String): String = {
      val hits = classes.map { case (_, ws) => wordlistHits(text, ws) }
      val arms = classes.zipWithIndex.init.map { case ((name, _), i) =>
        val conds = classes.indices.drop(i + 1)
          .map(j => s"${hits(i)} >= ${hits(j)}").mkString(" AND ")
        s"WHEN $conds THEN ${lit1(name)}"
      }
      s"(CASE ${arms.mkString(" ")} ELSE ${lit1(classes.last._1)} END)"
    }

    def qualityScore(text: String): String = {
      val t = s"string_split($text, ' ')"
      val nTok = s"len($t)::DOUBLE"
      val stopHits = s"${wordlistHits(text, classes.head._2)}::DOUBLE"
      val sumLen = s"list_sum(list_transform($t, w -> length(w)::BIGINT))::DOUBLE"
      val volume = s"least(1.0, $nTok / 50.0)"
      val stopRatio = s"($stopHits / greatest($nTok, 1.0))"
      val meanLen = s"least(1.0, ($sumLen / greatest($nTok, 1.0)) / 6.0)"
      s"CAST(floor(100 * ($volume * 0.4 + $stopRatio * 0.3 + $meanLen * 0.3)) AS INT)"
    }

    def redactPii(text: String): String =
      s"regexp_replace(regexp_replace($text, ${lit1(emailRe)}, '<EMAIL>', 'g'), ${lit1(phoneRe)}, '<PHONE>', 'g')"

    def piiCounts(text: String): (String, String) = (
      s"CAST(len(regexp_extract_all($text, ${lit1(emailRe)})) AS INT)",
      s"CAST(len(regexp_extract_all(regexp_replace($text, ${lit1(emailRe)}, '<EMAIL>', 'g'), ${lit1(phoneRe)})) AS INT)")

    def wsTokenCount(text: String): String =
      s"len(string_split_regex($text, '\\s+'))"

    def bpeTokenCount(text: String): String =
      s"len(regexp_extract_all($text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))"
  }
}
