package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Names, Similarity}
import graft.model.{Stages, Tables}
import graft.operators.MatchJoin

/** J-1/J-2/J-3/A-7 bound to testdata: the right side is a deterministic
  * "dirty" candidate table derived in-query from customer names (same SQL
  * text in both engines), so the fuzzy join produces a real accept/reject
  * score distribution: exact-key candidates score 100 via token_set,
  * near-key names land in the 60-79 reject band, the rest below floor.
  */
object MatchQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private val cutoff = 80

  /** Candidate construction (right side): every 7th customer, wrapped in
    * web-title noise. */
  private val candSql =
    "concat('The ', c_name, ' Pty Ltd | Contact')"

  /** Reference caps matching at ABR_FETCH_LIMIT=10000 rows (scripts/
    * entity_matching.py:38,377); made deterministic with an ordered
    * limit, then fanned back out for the scoring. */
  private def leftDf(s: SparkSession, d: String) =
    graft.model.Tables.fanOut(
      t(s, d, "customer").select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")).limit(10000))

  private def rightDf(s: SparkSession, d: String) =
    graft.model.Tables.fanOut(
      t(s, d, "customer").filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("cand_key"), expr(candSql).as("cand_name")))

  /** j1's match table feeds two declared queries (the join itself and
    * the A-7 rate counters); a persisted per-sfDir stage so the
    * 10000×|candidates| scoring pass runs once per session. */
  private def matchesDf(s: SparkSession, d: String): DataFrame =
    Stages.persisted(s, "matches", d)(
      MatchJoin.broadcastJoin(
        leftDf(s, d), "c_custkey", "c_name",
        rightDf(s, d), "cand_key", "cand_name", cutoff))

  val queries: Map[String, Q] = Map(
    // J-1 flagship: exact (broadcast) multi-strategy fuzzy join
    "j1_similarity_join" -> ((s, d) =>
      matchesDf(s, d).orderBy(col("left_key"))),

    // J-1 blocked variant (scale path) — same inputs; recall bounded by
    // shared-rare-keyword blocking, so declared without an equality oracle
    // to the exact variant; its own oracle replicates the blocking.
    "j1_blocked_join" -> ((s, d) =>
      MatchJoin.blockedJoin(
        leftDf(s, d), "c_custkey", "c_name",
        rightDf(s, d), "cand_key", "cand_name", cutoff, maxTokenFreq = 50L)
        .orderBy(col("left_key"))),

    // J-2: keyword-Jaccard similarity on adjacent part names
    "j2_keyword_jaccard" -> ((s, d) => {
      val p = t(s, d, "part")
      val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
        Names.keywordsArr(col("p_name")).as("kw_a"))
      val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"),
        Names.keywordsArr(col("p_name")).as("kw_b"))
      a.join(b, col("key_b") === col("key_a") + 1)
        .select(col("key_a"), col("key_b"),
          Similarity.keywordScoreFromArrays(col("kw_a"), col("kw_b")).as("kw_score"))
        .orderBy(col("key_a"))
    }),

    // J-3 / O-3: top-5 candidates per left row (left subset)
    "j3_topk_candidates" -> ((s, d) =>
      MatchJoin.topKCandidates(
        leftDf(s, d).filter(col("c_custkey") < 100), "c_custkey", "c_name",
        rightDf(s, d), "cand_key", "cand_name", 5)
        .orderBy(col("left_key"), col("rank"))),

    // A-7: match-rate counters over the similarity join
    "a7_match_rate" -> ((s, d) => {
      val matches = matchesDf(s, d)
      val processed = leftDf(s, d)
        .filter(length(Names.normalizeName(col("c_name"))) > 0)
        .agg(count(lit(1)).as("total_processed"))
      val auto = matches.agg(count(lit(1)).as("total_auto"))
      processed.crossJoin(auto)
        .select(col("total_processed"), col("total_auto"),
          floor(col("total_auto").cast("double") * 10000 / col("total_processed")).cast("int").as("match_rate_bp"))
    }),

    // H: scorer micro-suite — all four scorers on name pairs
    "h1_scorers" -> ((s, d) => {
      val c = t(s, d, "customer")
      val a = c.select(col("c_custkey").as("key_a"), col("c_name").as("name_a"))
      val b = c.select(col("c_custkey").as("key_b"), expr(candSql).as("name_b"))
      val pairs = a.join(b, col("key_b") === col("key_a") + 3)
      val na = Names.normalizeName(col("name_a"))
      val nb = Names.normalizeName(col("name_b"))
      pairs.select(col("key_a"),
          Similarity.ratio(na, nb).as("s_ratio"),
          Similarity.tokenSortRatio(na, nb).as("s_token_sort"),
          Similarity.tokenSetRatio(na, nb).as("s_token_set"),
          Similarity.keywordScore(col("name_a"), col("name_b")).as("s_keyword"))
        .orderBy(col("key_a"))
    })
  )

  // ───── oracle SQL (generated from the same pattern lists) ─────

  private def prepCte(alias: String, src: String, prefix: String, minNorm: Int): String = {
    val p = prefix
    s"""$alias AS (
       |  SELECT ${p}_key, ${p}_name, ${p}_norm,
       |    ${Similarity.sql.tokenSortJoin(s"${p}_norm")} AS ${p}_sorted,
       |    ${Similarity.sql.tokenSet(s"${p}_norm")} AS ${p}_set,
       |    ${Names.sql.keywordsList(s"${p}_name")} AS ${p}_kw
       |  FROM (SELECT ${p}_key, ${p}_name, ${Names.sql.normalize(s"${p}_name")} AS ${p}_norm
       |        FROM ($src)) WHERE length(${p}_norm) >= $minNorm)""".stripMargin
  }

  private val leftSrc =
    "SELECT c_custkey AS left_key, c_name AS left_name FROM customer ORDER BY c_custkey LIMIT 10000"
  private val rightSrc =
    s"SELECT c_custkey AS right_key, $candSql AS right_name FROM customer WHERE c_custkey % 7 = 0"

  // outer CAST: DuckDB greatest() widens INTEGER to BIGINT, Spark's does not
  private def scoredCols(floor: Int): String =
    s"""CAST(coalesce(greatest(
       |  CASE WHEN s_sort >= $floor THEN s_sort END,
       |  CASE WHEN s_set >= $floor THEN s_set END,
       |  CASE WHEN s_ratio >= $floor THEN s_ratio END,
       |  CASE WHEN s_kw >= 30 THEN s_kw END), 0) AS INT)""".stripMargin

  private def rawScores: String =
    s"""SELECT left_key, left_name, right_key, right_name,
       |  ${Similarity.sql.ratio("left_sorted", "right_sorted")} AS s_sort,
       |  ${Similarity.sql.tokenSetRatioFromSets("left_set", "right_set")} AS s_set,
       |  ${Similarity.sql.ratio("left_norm", "right_norm")} AS s_ratio,
       |  ${Similarity.sql.keywordScoreFromLists("left_kw", "right_kw")} AS s_kw""".stripMargin

  private def similaritySql(pairsFrom: String): String =
    s"""WITH ${prepCte("lp", leftSrc, "left", 1)},
       |${prepCte("rp", rightSrc, "right", 3)},
       |scored AS ($rawScores FROM $pairsFrom),
       |best AS (SELECT left_key, left_name, right_key, right_name,
       |  ${scoredCols(cutoff - 20)} AS score FROM scored),
       |ranked AS (SELECT *, row_number() OVER (
       |  PARTITION BY left_key ORDER BY score DESC, right_key ASC) AS rn FROM best)
       |SELECT left_key, left_name, right_key, right_name, score AS merged_confidence
       |FROM ranked WHERE rn = 1 AND score >= $cutoff ORDER BY left_key""".stripMargin

  /** Blocked-pair source: pairs sharing a keyword token whose right-side
    * frequency is <= 50 (mirrors MatchJoin.blockedJoin). */
  private val blockedPairs: String =
    """(SELECT DISTINCT l.left_key, l.left_name, l.left_norm, l.left_sorted, l.left_set, l.left_kw,
      |   r.right_key, r.right_name, r.right_norm, r.right_sorted, r.right_set, r.right_kw
      | FROM (SELECT lp.*, unnest(left_kw) AS tok FROM lp) l
      | JOIN (SELECT rp.*, unnest(right_kw) AS tok FROM rp) r USING (tok)
      | JOIN (SELECT tok FROM (SELECT unnest(right_kw) AS tok FROM rp)
      |       GROUP BY tok HAVING count(*) <= 50) ok USING (tok))""".stripMargin

  val oracles: Map[String, String] = Map(
    "j1_similarity_join" -> similaritySql("lp CROSS JOIN rp"),
    "j1_blocked_join" -> similaritySql(blockedPairs),
    "j2_keyword_jaccard" ->
      s"""SELECT key_a, key_b,
         |  ${Similarity.sql.keywordScoreFromLists("kw_a", "kw_b")} AS kw_score
         |FROM (SELECT p_partkey AS key_a, ${Names.sql.keywordsList("p_name")} AS kw_a FROM part) a
         |JOIN (SELECT p_partkey AS key_b, ${Names.sql.keywordsList("p_name")} AS kw_b FROM part) b
         |  ON key_b = key_a + 1
         |ORDER BY key_a""".stripMargin,
    "j3_topk_candidates" ->
      s"""WITH ${prepCte("lp", s"SELECT * FROM ($leftSrc) WHERE left_key < 100", "left", 1)},
         |${prepCte("rp", rightSrc, "right", 3)},
         |scored AS (SELECT left_key, right_key,
         |  ${Similarity.sql.ratio("left_sorted", "right_sorted")} AS score
         |  FROM lp CROSS JOIN rp),
         |ranked AS (SELECT *, row_number() OVER (
         |  PARTITION BY left_key ORDER BY score DESC, right_key ASC) AS rank0 FROM scored)
         |SELECT left_key, right_key, score, CAST(rank0 AS INT) AS rank FROM ranked
         |WHERE rank0 <= 5 ORDER BY left_key, rank0""".stripMargin,
    "a7_match_rate" ->
      s"""WITH m AS (${similaritySql("lp CROSS JOIN rp").replace("ORDER BY left_key", "")}),
         |p AS (SELECT count(*) AS total_processed FROM ($leftSrc)
         |      WHERE length(${Names.sql.normalize("left_name")}) > 0)
         |SELECT total_processed, (SELECT count(*) FROM m) AS total_auto,
         |  CAST(floor((SELECT count(*) FROM m)::DOUBLE * 10000 / total_processed) AS INT) AS match_rate_bp
         |FROM p""".stripMargin,
    "h1_scorers" -> {
      val na = Names.sql.normalize("name_a")
      val nb = Names.sql.normalize("name_b")
      s"""SELECT key_a,
         |  ${Similarity.sql.ratio("na", "nb")} AS s_ratio,
         |  ${Similarity.sql.tokenSortRatio("na", "nb")} AS s_token_sort,
         |  ${Similarity.sql.tokenSetRatio("na", "nb")} AS s_token_set,
         |  ${Similarity.sql.keywordScore("name_a", "name_b")} AS s_keyword
         |FROM (SELECT key_a, name_a, name_b, $na AS na, $nb AS nb FROM
         |  (SELECT c_custkey AS key_a, c_name AS name_a FROM customer) a
         |  JOIN (SELECT c_custkey AS key_b, $candSql AS name_b FROM customer) b
         |    ON key_b = key_a + 3)
         |ORDER BY key_a""".stripMargin
    }
  )
}
