package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.TokenExprs

/** S-10/F-9..F-11: the reference's FastAPI read surface
  * (fastapi_service/main.py:15-59) as DataFrame query builders over the
  * unified table — the route-shadowing defect (SURVEY.md §2.K) is
  * structurally impossible here since each query is its own function.
  * Serialization to JSON happens at the caller's edge (`.toJSON`), not
  * in the engine.
  */
object QueryApi {

  /** GET /companies/{abn} — point lookup (F-9). */
  def byKey(unified: DataFrame, abn: String): DataFrame =
    unified.filter(col("abn") === lit(abn))

  /** GET /companies/search?name= — case-insensitive substring over
    * entity and matched company names (F-10; the HTTP param is `name`,
    * matching the reference route and QueryHttpServer). */
  def search(unified: DataFrame, q: String): DataFrame = {
    // Locale.ROOT: the default-locale toLowerCase diverges from the
    // column-side lower() under Turkish-family locales (III -> 'ııı'
    // driver-side vs 'iii' in the engine — the search silently returns
    // nothing for data that is present)
    val ql = q.toLowerCase(java.util.Locale.ROOT)
    // TokenExprs.lower == Spark's lower(), minus its per-JVM ICU table
    // initialization — which a fresh server would otherwise pay inside
    // its first search request
    unified.filter(
      TokenExprs.lower(col("entity_name")).contains(ql) ||
        TokenExprs.lower(col("company_name")).contains(ql))
  }

  /** GET /companies/by_state/{state} — equality filter (F-11). */
  def byState(unified: DataFrame, state: String): DataFrame =
    unified.filter(col("state") === lit(state))
}
