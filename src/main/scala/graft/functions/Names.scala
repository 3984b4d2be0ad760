package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Company-name normalization / extraction / validity operators
  * (SURVEY.md §2.B F-5..F-8), re-expressed as native Column expression
  * chains — codegen-friendly, no UDFs — mirroring the behavior of the
  * reference's Python helpers:
  *
  *  - normalize_name      (reference scripts/entity_matching.py:74-97)
  *  - extract_company_name_from_title (":99-119")
  *  - is_valid_company_name (":121-140")
  *  - get_company_keywords  (":142-153")
  *
  * Every operator has a twin SQL generator in [[Names.sql]] that emits
  * the identical chain as DuckDB SQL from the SAME pattern lists, so the
  * Spark plan and the DuckDB oracle can never drift apart.
  *
  * Pattern-application ORDER matters and is preserved: HTML-entity
  * literal replaces → noise patterns → abbreviation expansion → punct
  * strip → whitespace collapse.
  */
object Names {

  /** reference scripts/entity_matching.py:59-69 (applied to uppercased input) */
  val noisePatterns: Seq[String] = Seq(
    """\b(THE|A|AN)\b""",
    """\b(GROUP|HOLDINGS|ENTERPRISES|SERVICES|SOLUTIONS)\b""",
    """\([^)]*\)""",
    """\[[^\]]*\]""",
    """\|[^|]*$""",
    """\s*-\s*[^-]*$""",
    """&#\d+;""",
    """&[A-Za-z]+;""",
    """\b(BREEDS?|PHOTOGRAPHER?|SERVICES?|PORTAL|CATALOG|SHOP)\b""")

  /** reference scripts/entity_matching.py:43-56 (declaration order) */
  val abbrevs: Seq[(String, String)] = Seq(
    ("""\bPTY\s*LTD\b""", "PROPRIETARY LIMITED"),
    ("""\bPROPRIETARY\s*LIMITED\b""", "PROPRIETARY LIMITED"),
    ("""\bPTY\b""", "PROPRIETARY"),
    ("""\bLTD\b""", "LIMITED"),
    ("""\bCO\b""", "COMPANY"),
    ("""\bCOMP\b""", "COMPANY"),
    ("""\bCORP\b""", "CORPORATION"),
    ("""\bINC\b""", "INCORPORATED"),
    ("""\bLLC\b""", "LIMITED LIABILITY COMPANY"),
    ("""&AMP;""", "AND"),
    ("""&""", "AND"),
    ("""\+""", "AND"))

  /** reference scripts/entity_matching.py:142-153 */
  val keywordStopwords: Seq[String] =
    Seq("PROPRIETARY", "LIMITED", "COMPANY", "CORPORATION", "AND", "THE")

  /** F-6: full normalization; null/blank input → empty string. Hot form:
    * ONE compact expression ([[graft.plans.NormalizeName]]) running the
    * same precompiled pattern chain — Catalyst substitution duplicates a
    * single node instead of a ~27-node chain, and evaluation converts
    * UTF8String↔String once instead of per step. Value-identical to the
    * declarative regexp_replace chain [[sql.normalize]] emits for the
    * DuckDB oracle (NamesSpec property-checks the kernel against its
    * Spark form, the test tree's `NamesTwin.normalizeNameDeclarative`).
    *
    * Non-ASCII is projected to spaces BEFORE `upper`: the engines
    * disagree on full case mappings (Java/Spark upper('ß') = 'SS',
    * which would survive the punctuation strip; DuckDB upper('ß') =
    * 'ẞ', which would not — same class for ligatures), so any such
    * character reaching `upper` silently forks the normalized keys.
    * Every non-ASCII character is destined for the [^A-Za-z0-9 ]
    * strip anyway; removing it first makes the whole chain operate on
    * ASCII, where upper/levenshtein/length agree across engines
    * byte-for-byte.
    *
    * INTENTIONAL reference deviation (COVERAGE.md "normalize_name"):
    * the reference's Python chain upper()s FIRST, so ASCII-expanding
    * case mappings survive as letters ('ß' → 'SS', ligatures → their
    * expansions); here they become a space. Cross-engine exactness is
    * the contract a hash-gated oracle needs, and ABR company names are
    * ASCII-dominated; a consumer needing the Python behavior
    * transliterates (ß→SS, ﬁ→FI, …) BEFORE this normalize. */
  def normalizeName(c: Column): Column = graft.plans.NameExprs.normalizeName(c)

  /** F-7: keyword set as a SORTED DISTINCT array (the reference returns a
    * Python set; sorting pins determinism for the oracle compare). */
  def keywordsArr(c: Column): Column = graft.plans.NameExprs.keywordsArr(c)

  /** F-7 as a space-joined string (hash-compare-friendly shape). */
  def keywords(c: Column): Column = array_join(keywordsArr(c), " ")

  /** reference scripts/entity_matching.py:105-110 (tried in order) */
  val titlePatterns: Seq[String] = Seq(
    """^([A-Z][a-zA-Z\s&]+(?:PTY|LTD|LIMITED|COMPANY|CORP|INC))""",
    """([A-Z][a-zA-Z\s&]+(?:PTY|LTD|LIMITED|COMPANY|CORP|INC))""",
    """^([A-Z][a-zA-Z\s&]{3,20})\s*[-|]""",
    """^([A-Z][a-zA-Z\s&]{3,30})$""")

  private[graft] val digitsOnly = """^[0-9_\-\s]+$"""

  /** F-8: try each title pattern (case-insensitive search); keep the first
    * whose trimmed capture is >=3 chars and not digits/punct-only, else
    * fall back to the original title. */
  def extractFromTitle(title: Column): Column =
    graft.plans.NameExprs.extractFromTitle(title)

  /** reference scripts/entity_matching.py:126-135 — all checked with
    * re.match, i.e. ANCHORED AT START (deliberate semantics: a name
    * merely containing PHOTOGRAPHER mid-string is valid). */
  val invalidStartPatterns: Seq[String] = Seq(
    """^[0-9_\-\s]+$""",
    """^[^a-zA-Z]*$""",
    """^(?:PHOTOGRAPHER|WEDDING|COAST|BREEDS|CATALOG|PORTAL|LOGIN|CONTACT)""",
    """^(?:RSS|FEED|BLOG|NEWS|ARTICLE)""",
    """^(?:RE:|LOG\s+IN|CONTACT\s+US)$""")

  /** F-5: validity predicate. */
  def isValidCompanyName(c: Column): Column =
    graft.plans.NameExprs.isValidCompanyName(c)

  // ───── DuckDB oracle twins (same pattern lists → same chain) ─────

  object sql {
    private def lit1(s: String) = "'" + s.replace("'", "''") + "'"

    def normalize(e: String): String = {
      // pre-upper ASCII projection — see normalizeName's doc
      var s = s"upper(trim(regexp_replace(coalesce($e, ''), '[^\\x00-\\x7F]+', ' ', 'g')))"
      s = s"replace(replace(replace(replace($s, '&AMP;', '&'), '&QUOT;', '\"'), '&LT;', '<'), '&GT;', '>')"
      for (p <- noisePatterns) s = s"regexp_replace($s, ${lit1(p)}, '', 'g')"
      for ((p, r) <- abbrevs) s = s"regexp_replace($s, ${lit1(p)}, ${lit1(r)}, 'g')"
      s = s"regexp_replace($s, '[^A-Za-z0-9 ]+', ' ', 'g')"
      s"trim(regexp_replace($s, '\\s+', ' ', 'g'))"
    }

    def keywordsList(e: String): String = {
      val stop = keywordStopwords.map(lit1).mkString(", ")
      s"list_sort(list_distinct(list_filter(string_split(${normalize(e)}, ' '), w -> length(w) >= 3 AND w NOT IN ($stop))))"
    }

    def keywords(e: String): String =
      // coalesce: DuckDB array_to_string([]) is NULL where Spark
      // array_join([]) is '' — an all-stopword/short-token name would
      // otherwise NULL its key and silently drop from joins/group-bys
      s"coalesce(array_to_string(${keywordsList(e)}, ' '), '')"

    def extractFromTitle(e: String): String = {
      val branches = titlePatterns.map { p =>
        val cand = s"trim(regexp_extract($e, ${lit1("(?i)" + p)}, 1))"
        s"WHEN length($cand) >= 3 AND NOT regexp_matches($cand, ${lit1(digitsOnly)}) THEN $cand"
      }
      s"(CASE ${branches.mkString(" ")} ELSE $e END)"
    }

    def isValid(e: String): String = {
      val checks = invalidStartPatterns
        .map(p => s"NOT regexp_matches($e, ${lit1("(?i)" + p)})")
        .mkString(" AND ")
      s"($e IS NOT NULL AND length(trim($e)) >= 3 AND $checks)"
    }
  }
}
