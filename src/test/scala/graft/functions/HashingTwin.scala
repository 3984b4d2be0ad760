package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative twins of [[Hashing]]'s kernel expressions — the
  * `transform`/`aggregate` chains the kernels replaced. DedupSpec,
  * TextStatsSpec and AdversarialTextSpec pin the kernels to them. */
object HashingTwin {

  /** [[Hashing.shingles]]'s twin: slice + array_join per shingle. */
  def shinglesDeclarative(text: Column, k: Int): Column = {
    val toks = Hashing.tokens(text)
    val n = size(toks)
    when(n >= k,
      transform(sequence(lit(0), n - k),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
      .when(text.isNotNull, array(text))
  }

  /** [[Hashing.charNgrams]]'s twin: substr per gram, distinct, sort. */
  def charNgramsDeclarative(text: Column, n: Int, maxLen: Int): Column = {
    val s = substring(text, 1, maxLen)
    val len = length(s)
    when(len >= n,
      array_sort(array_distinct(transform(
        sequence(lit(1), len - (n - 1)), i => s.substr(i, lit(n))))))
      .when(text.isNotNull, array(s))
  }

  /** [[Hashing.fingerprint]]'s twin: a per-char position sequence
    * folded by `aggregate`. */
  def fingerprintDeclarative(text: Column, maxLen: Int): Column = {
    val s = substring(text, 1, maxLen)
    val codes = transform(sequence(lit(1), greatest(length(s), lit(1))),
      i => ascii(s.substr(i, lit(1))).cast("long"))
    aggregate(codes, lit(0L), (acc, c) => (acc * 31 + c) % 1000000007L)
  }
}
