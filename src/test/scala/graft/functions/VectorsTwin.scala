package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative twin of [[Vectors.dot]], the chain the DuckDB oracle
  * mirrors; VectorsSpec pins the kernel to it bitwise. */
object VectorsTwin {
  def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
}
