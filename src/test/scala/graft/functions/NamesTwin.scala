package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Names.{abbrevs, digitsOnly, invalidStartPatterns, keywordStopwords,
  noisePatterns, titlePatterns}

/** Declarative twins of [[Names]]' F-5..F-8 kernels: the
  * `regexp_replace`/`rlike` chains over the same pattern lists that
  * [[Names.sql]] emits for the DuckDB oracle. NamesSpec property-checks
  * the kernels against them. */
object NamesTwin {

  /** F-6 ([[Names.normalizeName]]) as the regexp_replace chain. */
  def normalizeNameDeclarative(c: Column): Column = {
    var s = upper(trim(regexp_replace(coalesce(c, lit("")),
      """[^\x00-\x7F]+""", " ")))
    s = regexp_replace(s, """&AMP;""", "&")
    s = regexp_replace(s, """&QUOT;""", "\"")
    s = regexp_replace(s, """&LT;""", "<")
    s = regexp_replace(s, """&GT;""", ">")
    for (p <- noisePatterns) s = regexp_replace(s, p, "")
    for ((p, r) <- abbrevs) s = regexp_replace(s, p, r)
    s = regexp_replace(s, """[^A-Za-z0-9 ]+""", " ")
    trim(regexp_replace(s, """\s+""", " "))
  }

  /** F-7 ([[Names.keywordsArr]]). */
  def keywordsArrDeclarative(c: Column): Column = {
    val toks = split(normalizeNameDeclarative(c), " ")
    array_sort(array_distinct(filter(toks,
      w => length(w) >= 3 && !w.isin(keywordStopwords: _*))))
  }

  /** F-8 ([[Names.extractFromTitle]]). */
  def extractFromTitleDeclarative(title: Column): Column = {
    val candidates = titlePatterns.map { p =>
      trim(regexp_extract(title, "(?i)" + p, 1))
    }
    candidates.foldRight(title) { (cand, rest) =>
      when(length(cand) >= 3 && !cand.rlike(digitsOnly), cand).otherwise(rest)
    }
  }

  /** F-5 ([[Names.isValidCompanyName]]). */
  def isValidCompanyNameDeclarative(c: Column): Column = {
    val nonBlank = c.isNotNull && length(trim(c)) >= 3
    invalidStartPatterns.foldLeft(nonBlank) { (acc, p) =>
      acc && !c.rlike("(?i)" + p)
    }
  }
}
