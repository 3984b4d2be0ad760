package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative twins of [[Similarity]]'s token kernels; SimilaritySpec
  * and AdversarialTextSpec pin the kernels to them. */
object SimilarityTwin {

  private def tokens(c: Column): Column = split(c, " ")

  /** [[Similarity.tokenSortJoin]]'s twin. */
  def tokenSortJoinDeclarative(c: Column): Column = array_join(array_sort(tokens(c)), " ")

  /** [[Similarity.tokenSet]]'s twin. */
  def tokenSetDeclarative(c: Column): Column = array_sort(array_distinct(tokens(c)))

  /** [[Similarity.tokenSetRatioFromSets]]'s twin: the greatest of the
    * three set-op component ratios. */
  def tokenSetRatioFromSetsDeclarative(ta: Column, tb: Column): Column = {
    val inter = array_join(array_sort(array_intersect(ta, tb)), " ")
    val restA = array_join(array_sort(array_except(ta, tb)), " ")
    val restB = array_join(array_sort(array_except(tb, ta)), " ")
    val t1 = trim(concat_ws(" ", inter, restA))
    val t2 = trim(concat_ws(" ", inter, restB))
    greatest(Similarity.ratio(inter, t1), Similarity.ratio(inter, t2),
      Similarity.ratio(t1, t2))
  }
}
