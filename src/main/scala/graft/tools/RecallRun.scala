package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch

/** Recall@k-vs-cost curves for the approximate ANN operators
  * (SCALE.md, round-9 item 7): sweep each family's accuracy knob —
  * LSH `tables`/`bits` (OR-amplification), IVF `nProbe`, PQ `rerank`
  * depth — against the brute-force exact top-k on the same corpus, at
  * every [[ScaleGen]] corpus multiplier. The sweep is cheap at any
  * scale because the query set is fixed (8 vectors) while the corpus
  * grows — exactly the shape of a production recall audit, which a
  * 100 TB deployment runs on a query sample, not the full corpus.
  *
  * Usage: RecallRun <label=dir>[,<label=dir>...] [outJsonPath]
  */
object RecallRun {
  private val K = 5

  def main(args: Array[String]): Unit = {
    val pairs = args(0).split(",").map { kv =>
      val Array(l, d) = kv.split("=", 2); (l, d)
    }
    val outPath = if (args.length > 1) args(1) else "target/recall_results.json"
    val cpus = graft.GraftSession.cpus
    val spark = graft.GraftSession.builder(cpus).getOrCreate()

    def corpus(dir: String): DataFrame =
      spark.read.parquet(s"$dir/embeddings.parquet")
    def queriesDf(dir: String): DataFrame =
      corpus(dir).filter(col("vec_id") < 8)

    def topkSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet
        }

    val scaleJsons = pairs.map { case (label, dir) =>
      System.err.println(s"[recall] === $label ($dir) ===")
      val q = queriesDf(dir)
      val c = corpus(dir)
      val exact = topkSets(
        SimilaritySearch.bruteForceTopK(q, c, "vec_id", "embedding", K))

      def measure(name: String)(build: => DataFrame): String = {
        val t0 = System.nanoTime()
        val got = topkSets(build)
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = exact.toSeq.map { case (qid, ex) =>
          got.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
        }
        val mean = recall.sum / recall.size
        System.err.println(f"[recall] $label $name%-16s recall@$K ${mean}%.3f  ${sec}%6.2f s")
        f""""$name":{"recall":$mean%.4f,"sec":$sec%.3f}"""
      }

      val configs =
        // LSH: OR-amplification — more tables, higher recall, linearly
        // more candidates; fewer bits, bigger buckets, same effect.
        Seq(2, 4, 8, 16).map(t => measure(s"lsh_b4_t$t")(
          SimilaritySearch.lshTopK(q, c, "vec_id", "embedding", K, bits = 4, tables = t))) ++
        Seq(2, 6).map(b => measure(s"lsh_b${b}_t4")(
          SimilaritySearch.lshTopK(q, c, "vec_id", "embedding", K, bits = b, tables = 4))) ++
        // IVF: probe depth — nProbe = 10 probes every label cluster
        // (exact recall by construction; its cost is the brute-force
        // bound the curve converges to).
        Seq(1, 2, 3, 5, 10).map(p => measure(s"ivf_p$p")(
          SimilaritySearch.ivfMedianTopK(q, c, "vec_id", "embedding", "label",
            dim = 64, k = K, nProbe = p))) ++
        // IVF + one Lloyd round: geometric partitions from the same
        // label seed — equal recall at fewer probes is the claim.
        Seq(1, 2, 3).map(p => measure(s"ivf_lloyd_p$p")(
          SimilaritySearch.ivfLloydTopK(q, c, "vec_id", "embedding", "label",
            dim = 64, k = K, nProbe = p))) ++
        // PQ: re-rank depth — how many approx-ranked survivors get the
        // exact distance; recall ceiling set by code distortion.
        Seq(4, 16, 64, 256).map(r => measure(s"pq_m8_c16_r$r")(
          SimilaritySearch.pqTopK(q, c, "vec_id", "embedding", dim = 64,
            k = K, m = 8, codewords = 16, rerank = r))) ++
        // PQ: codebook size — finer quantization lifts the ceiling at
        // the same re-rank depth (encode cost grows with codewords).
        Seq(64).map(cw => measure(s"pq_m8_c${cw}_r4")(
          SimilaritySearch.pqTopK(q, c, "vec_id", "embedding", dim = 64,
            k = K, m = 8, codewords = cw, rerank = 4)))

      s"""{"label":"$label","dir":"$dir","k":$K,"configs":{${configs.mkString(",")}}}"""
    }
    val out = s"""{"metric":"recall","cpus":$cpus,"scales":[${scaleJsons.mkString(",")}]}"""
    println(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
