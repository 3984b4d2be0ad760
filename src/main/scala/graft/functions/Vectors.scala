package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns, as native array
  * expressions (north-star similarity-search operators).
  *
  * Cross-engine FP determinism: every float element is cast to double
  * BEFORE multiplication (float*float would round to float in Spark but
  * not in the DuckDB twin), and accumulation is a sequential left fold in
  * both engines (Spark `aggregate`, DuckDB `list_sum` over the transform
  * — verified bitwise-identical), so cosine scores hash-match exactly.
  */
object Vectors {

  /** Dot product with elementwise double promotion — native expression
    * ([[graft.plans.VecDot]]), bit-identical to the declarative
    * `aggregate(zip_with(...))` chain the DuckDB oracle mirrors (same
    * promote-then-multiply, same sequential fold order; VectorsSpec
    * property-checks it against the test tree's VectorsTwin). */
  def dot(a: Column, b: Column): Column = graft.plans.VecExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm; NULL —
    * never NaN — when the inputs are corrupt (a NaN/Inf element, a
    * null element, or a length mismatch).
    *
    * The NaN→NULL step is load-bearing at scale: SQL comparison
    * semantics rank NaN ABOVE every finite value in both engines, so
    * a single corrupt embedding would otherwise satisfy every
    * `cosine >= threshold` near-dup filter in its bucket (pairing it
    * with the whole bucket, then c5's connected components merge the
    * lot) and take rank 1 in every top-k it collides with — silently.
    * NULL instead fails every threshold filter and sorts LAST under
    * the top-k's descending rank in both engines. */
  def cosine(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    nanvl(when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(a, b) / (na * nb)),
      lit(null).cast("double"))
  }

  /** Cosine from precomputed norms (precompute once per side before a
    * top-k join so the pair stage only does the dot product). Same
    * corrupt-input contract as [[cosine]]: NULL, never NaN. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    cosineFromDot(dot(a, b), na, nb)

  /** [[cosineWithNorms]] with the dot product supplied as a column —
    * the hook for kernels that compute the dot without materializing
    * the vectors (e.g. [[graft.plans.PqPairDot]] over PQ codes).
    * Identical when/nanvl structure, so `cosineWithNorms(a, b, na, nb)`
    * ≡ `cosineFromDot(dot(a, b), na, nb)` by construction. */
  def cosineFromDot(d: Column, na: Column, nb: Column): Column =
    nanvl(when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb)),
      lit(null).cast("double"))

  /** Deterministic pseudo-random hyperplane component (j-th plane, i-th
    * dim) for sign-LSH bucketing — pure integer arithmetic, identically
    * computable in SQL: ((i*2654435761 + j*40503) % 1997) - 998. */
  def hyperplaneComponent(j: Int, i: Column): Column =
    ((i.cast("long") * 2654435761L + lit(j.toLong * 40503L)) % 1997L - 998L).cast("double")

  /** All `tables` sign-LSH bucket ids at once (native single-pass
    * expression; element t == [[lshBucket]](v, bits, t)). */
  def lshBucketsAll(v: Column, bits: Int, tables: Int): Column =
    graft.plans.VecExprs.lshBuckets(v, bits, tables)

  /** [[lshBucketsAll]] over the hyperplane families of absolute table
    * indexes `tableOffset..tableOffset+tables-1` — EXTENSION signs for
    * hot-bucket refinement (element t == [[lshBucket]](v, bits,
    * tableOffset + t)). Independence from the base family is a
    * MODULAR property, not an ordering one: [[hyperplaneComponent]]
    * depends on its plane index only mod 1997, so families recur with
    * that period — callers must hold the two plane-index sets disjoint
    * mod 1997 ([[graft.operators.BucketCap.requireIndependentFamilies]]
    * asserts it at every refine-capable call site). */
  def lshBucketsAllOff(v: Column, bits: Int, tables: Int,
                       tableOffset: Int): Column =
    graft.plans.VecExprs.lshBucketsOff(v, bits, tables, tableOffset)

  /** Sign-LSH bucket id over `bits` hyperplanes; `table` selects an
    * independent hyperplane family for OR-amplified multi-table LSH. */
  def lshBucket(v: Column, bits: Int, table: Int = 0): Column = {
    val terms = (0 until bits).map { j =>
      val proj = aggregate(
        zip_with(v, sequence(lit(1), size(v)),
          (x, i) => x.cast("double") * hyperplaneComponent(table * bits + j, i)),
        lit(0.0), (acc, p) => acc + p)
      when(proj > 0.0, lit(1L << j)).otherwise(lit(0L))
    }
    terms.reduce(_ + _)
  }

  // ───── DuckDB oracle twins ─────

  object sql {
    /** Mirrors [[dot]]/`VecDot` on the EDGES, not just the happy path:
      * DuckDB's bare `list_sum` silently skips NULL terms (so a null
      * element or an out-of-range index from a length mismatch would
      * yield a partial sum where Spark yields NULL) and returns NULL
      * for an empty list (where Spark's fold seed yields 0.0). The
      * guards reproduce the Spark semantics exactly; on clean vectors
      * the ELSE branch is the original bitwise-identical fold. */
    def dot(a: String, b: String): String =
      s"""(CASE WHEN len($a) != len($b)
         |       OR len(list_filter($a, x -> x IS NULL)) > 0
         |       OR len(list_filter($b, x -> x IS NULL)) > 0 THEN NULL
         |  ELSE coalesce(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), 0.0)
         |  END)""".stripMargin

    def norm(a: String): String = s"sqrt(${dot(a, a)})"

    /** Mirrors [[cosineWithNorms]] incl. the corrupt-input contract:
      * NaN (possible via Inf elements even when the norms are finite)
      * becomes NULL, matching the Spark nanvl. `isnan(NULL)` is NULL →
      * CASE falls to ELSE → the NULL value itself, so null inputs pass
      * through identically. */
    def cosineWithNorms(a: String, b: String, na: String, nb: String): String = {
      val c = s"(CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0 ELSE ${dot(a, b)} / ($na * $nb) END)"
      s"(CASE WHEN isnan($c) THEN NULL ELSE $c END)"
    }

    /** Null-ELEMENT parity with the kernel/declarative twin: a null
      * element nulls every Spark projection (zip_with propagation), so
      * all sign bits are 0 and the bucket is 0 — DuckDB's list_sum
      * would skip the null and emit a partial-sum bucket instead; one
      * vector-level guard reproduces the all-zero semantics. */
    def lshBucket(v: String, bits: Int, table: Int = 0): String = {
      val terms = (0 until bits).map { j =>
        val comp = s"(((i * 2654435761 + ${(table.toLong * bits + j) * 40503L}) % 1997 - 998)::DOUBLE)"
        val proj = s"list_sum(list_transform(generate_series(1, len($v)), i -> $v[i]::DOUBLE * $comp))"
        s"(CASE WHEN $proj > 0.0 THEN ${1L << j} ELSE 0 END)"
      }
      s"(CASE WHEN len(list_filter($v, x -> x IS NULL)) > 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE CAST(${terms.mkString(" + ")} AS BIGINT) END)"
    }

    /** [[lshBucket]] with `bits`/`table` as SQL EXPRESSIONS instead of
      * compile-time constants — the plane count folds over
      * generate_series at query run time, so one oracle string serves
      * any corpus-derived geometry (the d10 scaled-bits rule). Plane
      * index `table * bits + j` and the strict `> 0.0` sign test match
      * the static form term-for-term; all integer arithmetic, so the
      * two forms are bitwise-identical for equal (bits, table). */
    def lshBucketDyn(v: String, bits: String, table: String): String =
      s"""(CASE WHEN len(list_filter($v, x -> x IS NULL)) > 0 THEN CAST(0 AS BIGINT)
         |ELSE CAST(list_sum(list_transform(generate_series(0, $bits - 1), j ->
         |  CASE WHEN list_sum(list_transform(generate_series(1, len($v)), i ->
         |    $v[i]::DOUBLE * (((i * 2654435761 + (($table * $bits + j)) * 40503) % 1997 - 998)::DOUBLE))) > 0.0
         |  THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) END)""".stripMargin
  }
}
