package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch

/** Declarative twin of [[IncrementalAnn.quantizationError]]'s per-row
  * PqReconSqErr kernel: encode → decode → zip_with squared difference,
  * folded with `aggregate`. VectorsSpec pins the kernel to it bitwise. */
object IncrementalAnnTwin {
  def reconSqErrDeclarative(vecCol: String, codebook: IncrementalAnn.Codebook): Column = {
    val dec = SimilaritySearch.pqDecode(
      graft.plans.VecExprs.pqEncode(col(vecCol), codebook), codebook)
    aggregate(
      zip_with(col(vecCol), dec,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0d), (acc, v) => acc + v)
  }
}
