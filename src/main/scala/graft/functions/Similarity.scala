package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fuzzy-similarity scorers (SURVEY.md §2.C J-1/J-2, §2.H), as native
  * Column expressions over Spark's codegen'd `levenshtein` — no UDFs.
  *
  * The reference scores with rapidfuzz `ratio` / `token_sort_ratio` /
  * `token_set_ratio` plus a keyword-Jaccard strategy (reference
  * scripts/entity_matching.py:405-443, 155-170). rapidfuzz's `ratio` is
  * indel-based; this engine deliberately defines its scorers on plain
  * Levenshtein similarity — a cleanly specifiable, codegen-able and
  * oracle-expressible (DuckDB `levenshtein`) metric with the same
  * 0..100 scale, truncated (not rounded) like the reference's `int()`
  * (scripts/entity_matching.py:170).
  *
  * Each scorer has a DuckDB twin in [[Similarity.sql]].
  */
object Similarity {

  /** 100 * (1 - lev(a,b) / max(len)) truncated to int; 100 iff both empty. */
  def ratio(a: Column, b: Column): Column = {
    val denom = greatest(length(a), length(b), lit(1))
    floor(lit(100) * (lit(1) - levenshtein(a, b).cast("double") / denom.cast("double"))).cast("int")
  }

  /** [[ratio]] if it is >= `floorScore`, else NULL — computed with
    * Spark's banded threshold levenshtein (O(n·k) with early exit
    * instead of O(n²)). The similarity join's hot path uses the custom
    * [[graft.plans.FuzzyBestScore]] expression instead; this is the
    * declarative twin (property-checked equal in FuzzyBestScoreSpec).
    * Exactness: score >= f  ⟺  lev <= maxlen*(100-f)/100; the threshold
    * is the integer floor of that bound, and an integer distance above
    * the floor is above the bound, so the -1 early-exit can only fire
    * for pairs the caller's qualify-at-floor would discard anyway. */
  def ratioAtLeast(a: Column, b: Column, floorScore: Int): Column = {
    val denom = greatest(length(a), length(b), lit(1))
    val threshold = floor(denom.cast("double") * (100 - floorScore) / 100).cast("int")
    val d = call_function("levenshtein", a, b, threshold)
    when(d >= 0,
      floor(lit(100) * (lit(1) - d.cast("double") / denom.cast("double"))).cast("int"))
  }

  /** token_set_ratio if >= `floorScore`, else NULL (all three component
    * ratios banded; greatest ignores NULLs). */
  def tokenSetRatioAtLeast(ta: Column, tb: Column, floorScore: Int): Column = {
    val inter = array_join(array_sort(array_intersect(ta, tb)), " ")
    val restA = array_join(array_sort(array_except(ta, tb)), " ")
    val restB = array_join(array_sort(array_except(tb, ta)), " ")
    val t1 = trim(concat_ws(" ", inter, restA))
    val t2 = trim(concat_ws(" ", inter, restB))
    greatest(ratioAtLeast(inter, t1, floorScore), ratioAtLeast(inter, t2, floorScore),
      ratioAtLeast(t1, t2, floorScore))
  }

  /** Tokens sorted then re-joined — word order insensitivity. Kernel
    * expression (one pass); array_sort's default comparator would run
    * as an interpreted boxed lambda per comparison per row
    * (CodegenFallback). Declarative twin in the test tree
    * (SimilarityTwin), pinned equal in SimilaritySpec. */
  def tokenSortJoin(c: Column): Column = graft.plans.TokenExprs.tokenSortJoin(c)

  def tokenSortRatio(a: Column, b: Column): Column =
    ratio(tokenSortJoin(a), tokenSortJoin(b))

  /** Sorted distinct token array — precompute ONCE per side before a
    * similarity join so the per-pair work is only set ops + levenshtein.
    * Kernel expression; declarative twin in the test tree
    * (SimilarityTwin). */
  def tokenSet(c: Column): Column = graft.plans.TokenExprs.tokenSet(c)

  /** token_set_ratio over precomputed [[tokenSet]] arrays: max ratio over
    * {intersection, intersection+restA, intersection+restB} joins.
    * Kernel expression (the per-pair set-op merge + banded levenshtein
    * of [[graft.plans.FuzzyBestScore]] at floor 0); ASCII-domain
    * contract as [[sql.ratio]] — call sites feed normalizeName output.
    * A null set scores 100, as in the declarative twin (test tree,
    * SimilarityTwin; its set-op strings all null out, leaving
    * `greatest(null, null, ratio("",""))`); the kernel itself
    * propagates null. */
  def tokenSetRatioFromSets(ta: Column, tb: Column): Column =
    coalesce(graft.plans.TokenExprs.tokenSetRatio100(ta, tb), lit(100))

  def tokenSetRatio(a: Column, b: Column): Column =
    tokenSetRatioFromSets(tokenSet(a), tokenSet(b))

  /** Keyword Jaccard over precomputed (distinct) keyword arrays. */
  def keywordScoreFromArrays(ka: Column, kb: Column): Column = {
    val inter = size(array_intersect(ka, kb))
    val union = size(array_union(ka, kb))
    when(size(ka) === 0 || size(kb) === 0, 0)
      .otherwise(floor(inter.cast("double") * 100 / union.cast("double")).cast("int"))
  }

  /** J-2: keyword Jaccard * 100, truncated; 0 if either keyword set is
    * empty (reference scripts/entity_matching.py:155-170). */
  def keywordScore(a: Column, b: Column): Column =
    keywordScoreFromArrays(Names.keywordsArr(a), Names.keywordsArr(b))

  // ───── DuckDB oracle twins ─────

  object sql {
    /** ASCII-domain precondition: DuckDB's levenshtein counts BYTES
      * while Spark's counts code points, so this twin is exact only
      * over single-byte text. Every pipeline call site satisfies it by
      * construction — ratios run on [[Names.normalizeName]] output,
      * which projects to [A-Za-z0-9 ] (non-ASCII is stripped before
      * upper precisely so the downstream lev/length domain is ASCII).
      * Do not point this at raw text. */
    def ratio(a: String, b: String): String =
      s"CAST(floor(100 * (1 - levenshtein($a, $b)::DOUBLE / greatest(length($a), length($b), 1)::DOUBLE)) AS INT)"

    def tokenSortJoin(e: String): String =
      s"array_to_string(list_sort(string_split($e, ' ')), ' ')"

    def tokenSortRatio(a: String, b: String): String =
      ratio(tokenSortJoin(a), tokenSortJoin(b))

    def tokenSet(e: String): String =
      s"list_sort(list_distinct(string_split($e, ' ')))"

    /** Over precomputed tokenSet list columns `ta`/`tb`. The coalesces
      * mirror Spark's array_join('') on empty lists — DuckDB's
      * array_to_string([]) is NULL, which would null two of the three
      * component ratios whenever the intersection (or a rest side) is
      * empty and understate the score (e.g. two whitespace-only names:
      * Spark 100, un-coalesced DuckDB 0). */
    def tokenSetRatioFromSets(ta: String, tb: String): String = {
      val inter = s"coalesce(array_to_string(list_sort(list_distinct(list_intersect($ta, $tb))), ' '), '')"
      val restA = s"coalesce(array_to_string(list_sort(list_filter($ta, x -> NOT list_contains($tb, x))), ' '), '')"
      val restB = s"coalesce(array_to_string(list_sort(list_filter($tb, x -> NOT list_contains($ta, x))), ' '), '')"
      val t1 = s"trim(concat_ws(' ', $inter, $restA))"
      val t2 = s"trim(concat_ws(' ', $inter, $restB))"
      // DuckDB greatest() promotes INTEGER args to BIGINT; Spark's stays
      // int — re-cast so both engines declare int32
      s"CAST(greatest(${ratio(inter, t1)}, ${ratio(inter, t2)}, ${ratio(t1, t2)}) AS INT)"
    }

    def tokenSetRatio(a: String, b: String): String =
      tokenSetRatioFromSets(tokenSet(a), tokenSet(b))

    /** Over precomputed (distinct) keyword list columns. */
    def keywordScoreFromLists(ka: String, kb: String): String =
      s"""(CASE WHEN length($ka) = 0 OR length($kb) = 0 THEN 0
         |ELSE CAST(floor(length(list_distinct(list_intersect($ka, $kb)))::DOUBLE * 100 /
         |  length(list_distinct(list_concat($ka, $kb)))::DOUBLE) AS INT) END)""".stripMargin

    def keywordScore(a: String, b: String): String =
      keywordScoreFromLists(Names.sql.keywordsList(a), Names.sql.keywordsList(b))
  }
}
