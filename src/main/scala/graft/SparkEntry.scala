package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (key
  * prefix = SURVEY operator ID) or a north-star LLM-pipeline operator;
  * [[oracleSql]] carries the DuckDB-equivalent ANSI SQL for the driver's
  * hash-compare. Queries are total-ordered and FP-stable by design (see
  * module Scaladocs in graft.queries).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full t1'→t3' pipeline (stage → clean → fuzzy-match → unify). */
  def entry(spark: SparkSession): DataFrame =
    queries("u1_unified_pipeline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.CoreQueries.queries ++
      graft.queries.NameQueries.queries ++
      graft.queries.MatchQueries.queries ++
      graft.queries.DedupQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.AnnQueries.queries ++
      graft.queries.PipelineQueries.queries ++
      graft.queries.EventQueries.queries ++
      graft.queries.ScaleQueries.queries ++
      graft.queries.TemporalQueries.queries ++
      graft.queries.CurationQueries.queries

  /** Names of [[queries]] to run, sorted: those in the comma-separated
    * `only` list (`SPARK_GRAFT_ONLY` by default) when it is set, else
    * all. An unknown name fails loudly — a typo would otherwise filter
    * everything out and read as a green, empty run. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] =
    only.fold(queries.keys.toSeq) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
      val unknown = names.filterNot(queries.contains)
      require(unknown.isEmpty,
        s"query names not in SparkEntry.queries: ${unknown.mkString(", ")}")
      names
    }.sorted

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.CoreQueries.oracles ++
      graft.queries.NameQueries.oracles ++
      graft.queries.MatchQueries.oracles ++
      graft.queries.DedupQueries.oracles ++
      graft.queries.TextQueries.oracles ++
      graft.queries.AnnQueries.oracles ++
      graft.queries.PipelineQueries.oracles ++
      graft.queries.EventQueries.oracles ++
      graft.queries.ScaleQueries.oracles ++
      graft.queries.TemporalQueries.oracles ++
      graft.queries.CurationQueries.oracles
}
