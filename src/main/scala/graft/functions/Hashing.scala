package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hashing primitives for the dedup /
  * fingerprinting operator family (north-star LLM-pipeline operators).
  *
  * Everything is built on md5 so the SAME 60-bit integer hash is
  * computable in Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
  * (`('0x'||substr(md5(x),1,15))::BIGINT`) — the oracle twins in
  * [[Hashing.sql]] mirror each builder expression exactly. 15 hex chars
  * = 60 bits keeps values positive in a signed 64-bit int in both
  * engines.
  */
object Hashing {

  /** 60-bit positive integer hash of a string column. */
  def hash64(e: Column): Column =
    conv(substring(md5(e.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Whitespace tokens (documents corpus is single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-shingles; a document shorter than k tokens contributes its
    * whole text as one shingle; NULL text propagates to NULL (matching
    * the native kernels — AdversarialTextSpec pins the agreement).
    * Kernel expression — the declarative twin (test tree, HashingTwin)
    * runs a `transform` lambda (slice + array_join) interpreted per
    * SHINGLE per document; twin pinned in DedupSpec. */
  def shingles(text: Column, k: Int): Column =
    graft.plans.TokenExprs.wordShingles(text, k)

  /** Mersenne-31 prime for the minhash affine family. */
  val M31 = 2147483647L

  /** One md5 per shingle, reduced mod M31 — the base hashes from which
    * all H minhash functions derive (16× fewer digests than hashing
    * per (seed, shingle)). */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => hash64(s) % M31)

  /** MinHash signature from precomputed [[shingleHashes]]: element j =
    * min over base hashes h of (A_j·h + B_j) mod M31, the classic
    * affine universal-hash family (A_j = (j+1)·999983 mod M31,
    * B_j = j·101; all arithmetic < 2^62, overflow-free under ANSI). */
  def minhashFromHashes(baseHashes: Column, numHashes: Int): Column =
    when(baseHashes.isNotNull,
      transform(sequence(lit(0), lit(numHashes - 1)),
        j => array_min(transform(baseHashes,
          h => ((j.cast("long") + 1) * 999983L % M31 * h + j.cast("long") * 101L) % M31))))

  /** MinHash signature straight from a shingle array. */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    minhashFromHashes(shingleHashes(shingleArr), numHashes)

  /** LSH band key b over a signature: md5 of the comma-joined band slice
    * (rows = sigLen / bands). */
  def bandKey(sig: Column, band: Int, rowsPerBand: Int): Column =
    md5(array_join(slice(sig, band * rowsPerBand + 1, rowsPerBand), ",").cast("binary"))

  /** Per-token 60-bit hashes — precompute once, then fold per-bit votes. */
  def tokenHashes(text: Column): Column = transform(tokens(text), t => hash64(t))

  /** SimHash from precomputed [[tokenHashes]], `bits` wide (bit j set iff
    * the sum of ±1 votes from token-hash bit j is > 0). */
  def simhashFromHashes(hashes: Column, bits: Int): Column = {
    val terms = (0 until bits).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    // the per-bit otherwise(0) would swallow a NULL hash list into 0;
    // propagate NULL like the native SimHash64 kernel instead
    when(hashes.isNotNull, terms.reduce(_ + _))
  }

  /** Character n-gram set (distinct, sorted) of the first `maxLen` chars;
    * a string shorter than n contributes itself as one gram. Kernel
    * expression — the declarative twin (test tree, HashingTwin) runs a
    * `transform` lambda per gram plus array_sort's interpreted
    * comparator per comparison, per pair side (CodegenFallback); twin
    * pinned in DedupSpec. */
  def charNgrams(text: Column, n: Int, maxLen: Int): Column =
    graft.plans.TokenExprs.charNgramSet(text, n, maxLen)

  /** Jaccard * 100 (truncated int) between two DISTINCT arrays. */
  def jaccard100(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_union(a, b))
    when(union === 0, 0)
      .otherwise(floor(inter.cast("double") * 100 / union.cast("double")).cast("int"))
  }

  /** Rolling polynomial fingerprint of the first `maxLen` chars:
    * fold(acc*31 + ascii(char)) mod 1e9+7 (reference-style document
    * fingerprinting; overflow-free under ANSI mode). Kernel
    * expression — the declarative twin (test tree, HashingTwin)
    * materializes a per-char position sequence and runs interpreted
    * transform + aggregate lambdas per char; twin pinned in
    * TextStatsSpec. */
  def fingerprint(text: Column, maxLen: Int): Column =
    graft.plans.TokenExprs.polyFingerprint(text, maxLen)

  // ───── DuckDB oracle twins ─────

  object sql {
    def hash64(e: String): String =
      s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"

    def tokens(text: String): String = s"string_split($text, ' ')"

    def shingles(text: String, k: Int): String = {
      val toks = tokens(text)
      s"""(CASE WHEN len($toks) >= $k
         | THEN list_transform(generate_series(0, len($toks) - $k),
         |        i -> array_to_string(list_slice($toks, i + 1, i + $k), ' '))
         | WHEN $text IS NOT NULL THEN [$text] END)""".stripMargin
    }

    def shingleHashes(shingleArr: String): String =
      s"list_transform($shingleArr, s -> ${hash64("s")} % 2147483647)"

    /** Over a precomputed list<bigint> base-hash column. */
    def minhashFromHashes(baseHashes: String, numHashes: Int): String =
      s"""(CASE WHEN $baseHashes IS NOT NULL THEN
         | list_transform(generate_series(0, ${numHashes - 1}),
         | j -> list_min(list_transform($baseHashes,
         |        h -> ((j + 1) * 999983 % 2147483647 * h + j * 101) % 2147483647))) END)""".stripMargin

    def minhashSignature(shingleArr: String, numHashes: Int): String =
      minhashFromHashes(shingleHashes(shingleArr), numHashes)

    def bandKey(sig: String, band: Int, rowsPerBand: Int): String =
      s"md5(array_to_string(list_slice($sig, ${band * rowsPerBand + 1}, ${band * rowsPerBand + rowsPerBand}), ','))"

    def tokenHashes(text: String): String =
      s"list_transform(${tokens(text)}, t -> ${hash64("t")})"

    /** Over a precomputed list<bigint> column `h` (see [[tokenHashes]]). */
    def simhashFromHashes(h: String, bits: Int): String = {
      val terms = (0 until bits).map { j =>
        val vote = s"list_sum(list_transform($h, x -> CASE WHEN (x >> $j) % 2 = 1 THEN 1 ELSE -1 END))"
        s"(CASE WHEN $vote > 0 THEN ${1L << j} ELSE 0 END)"
      }
      s"(CASE WHEN $h IS NOT NULL THEN CAST(${terms.mkString(" + ")} AS BIGINT) END)"
    }

    def charNgrams(text: String, n: Int, maxLen: Int): String = {
      val s = s"substr($text, 1, $maxLen)"
      s"""(CASE WHEN length($s) >= $n
         | THEN list_sort(list_distinct(list_transform(
         |        generate_series(1, length($s) - ${n - 1}), i -> substr($s, i, $n))))
         | WHEN $text IS NOT NULL THEN [$s] END)""".stripMargin
    }

    def jaccard100(a: String, b: String): String =
      s"""(CASE WHEN length(list_distinct(list_concat($a, $b))) = 0 THEN 0
         | ELSE CAST(floor(length(list_distinct(list_intersect($a, $b)))::DOUBLE * 100 /
         |   length(list_distinct(list_concat($a, $b)))::DOUBLE) AS INT) END)""".stripMargin

    def fingerprint(text: String, maxLen: Int): String = {
      val s = s"substr($text, 1, $maxLen)"
      // greatest(ord, 0): on EMPTY text the padded single position
      // yields ord('') = -1 in DuckDB where Spark's ascii('') is 0 —
      // the guard rewrites exactly that sentinel (every real code
      // point is >= 0), keeping the documented nonnegative domain.
      // NULL text must stay NULL (the Spark twin null-propagates) and
      // must NOT fall into the same guard: DuckDB's greatest IGNORES
      // null arguments, so without the outer CASE fingerprint(NULL)
      // would collide with fingerprint('')
      val codes = s"list_transform(generate_series(1, greatest(length($s), 1)), i -> greatest(ord(substr($s, i, 1)), 0)::BIGINT)"
      val fp = s"list_reduce(list_prepend(0::BIGINT, $codes), (acc, c) -> (acc * 31 + c) % 1000000007)"
      s"(CASE WHEN $text IS NULL THEN NULL ELSE $fp END)"
    }
  }
}
