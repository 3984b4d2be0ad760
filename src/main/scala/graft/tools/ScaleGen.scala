package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic scale-up of the testdata corpus for the
  * measured scale runs (SCALE.md): every replica `r` of a row keeps the
  * original's SIZE and internal duplicate structure but lives in its
  * own disjoint "dialect", so expected operator output grows linearly
  * in the multiplier — the ground truth a near-linear wall-time ratio
  * is judged against.
  *
  *  - documents: replica r suffixes every token with `·r` — token
  *    count, winnowing density and intra-replica near-dup relations are
  *    preserved exactly; no shingle ever matches across replicas.
  *  - embeddings: replica r flips the sign of each dimension by a
  *    murmur3 hash of (r, dim) — norms and intra-replica cosines are
  *    bit-preserved; cross-replica cosines scatter to ~0 (below every
  *    pairing threshold in use).
  *  - customer: replica r suffixes the name with ` R<r>` — the fuzzy
  *    pipeline's blocking tokens stay intra-replica.
  *  - lineitem (round 14): replica r strides `l_orderkey`; every other
  *    column is kept verbatim, so the clone structure of narrow
  *    projections ((l_linestatus, l_quantity) has ~150 distinct values
  *    over the whole table) grows linearly in the multiplier — the
  *    clone-mass skew relation the x1/x2/x5 scale cells derive their
  *    hot key from (ScaleQueries.skewFacts: 'hot' = 75% of rows at any
  *    multiplier, distinct-valued per row via the strided orderkey).
  *    `supplier` stays symlinked on purpose: the fact grows, the
  *    dimension does not — the realistic 100 TB join shape.
  *
  * Replica ids live at `base_id + r·1_000_000`, clear of every
  * testdata-derived id offset the queries use (≤ 800_000 on bases
  * < 200_000). All remaining tables are symlinked from the base dir.
  *
  * Usage: ScaleGen <baseSfDir> <outDir> <multiplier>
  */
object ScaleGen {
  val IdStride = 1000000L

  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir, multStr) = args
    val mult = multStr.toInt
    require(mult >= 1, "multiplier must be >= 1")
    val spark = graft.GraftSession.local()
    generate(spark, baseDir, outDir, mult)
    spark.stop()
  }

  def generate(spark: SparkSession, baseDir: String, outDir: String,
               mult: Int): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val files = Math.min(64, Math.max(8, mult))

    def replicate(base: DataFrame): DataFrame =
      base.crossJoin(spark.range(mult).select(col("id").cast("int").as("__r")))

    // documents: dialect tokens per replica
    val docs = replicate(spark.read.parquet(s"$baseDir/documents.parquet"))
      .select(
        (col("doc_id") + col("__r") * IdStride).as("doc_id"),
        when(col("__r") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("·"), col("__r").cast("string"))), " "))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
    docs.repartition(files).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    // embeddings: deterministic per-(replica, dim) sign flips
    val emb = replicate(spark.read.parquet(s"$baseDir/embeddings.parquet"))
      .select(
        (col("vec_id") + col("__r") * IdStride).as("vec_id"),
        when(col("__r") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(1), size(col("embedding"))),
            (x, i) => when(pmod(hash(col("__r") * 131071 + i), lit(2)) === 0, x)
              .otherwise(-x)))
          .as("embedding"),
        col("label"))
    emb.repartition(files).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    // customer: dialect names per replica
    val cust = replicate(spark.read.parquet(s"$baseDir/customer.parquet"))
    val custCols = cust.columns.filterNot(_ == "__r").map {
      case "c_custkey" => (col("c_custkey") + col("__r") * IdStride).as("c_custkey")
      case "c_name" => when(col("__r") === 0, col("c_name"))
        .otherwise(concat(col("c_name"), lit(" R"), col("__r").cast("string")))
        .as("c_name")
      case other => col(other)
    }
    cust.select(custCols.toIndexedSeq: _*).repartition(files)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // lineitem: orderkey-strided replicas, all other columns verbatim
    // (the clone mass of narrow projections grows linearly — the skew
    // relation for the x1/x2/x5 scale cells; see class doc)
    val li = replicate(spark.read.parquet(s"$baseDir/lineitem.parquet"))
    val liCols = li.columns.filterNot(_ == "__r").map {
      case "l_orderkey" => (col("l_orderkey") + col("__r") * IdStride).as("l_orderkey")
      case other => col(other)
    }
    li.select(liCols.toIndexedSeq: _*).repartition(files)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // everything else: symlink to the base (read-only inputs)
    for (t <- graft.model.Tables.all
         if !Set("documents", "embeddings", "customer", "lineitem").contains(t)) {
      val link = Paths.get(s"$outDir/$t.parquet")
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(s"$baseDir/$t.parquet"))
    }
  }
}
