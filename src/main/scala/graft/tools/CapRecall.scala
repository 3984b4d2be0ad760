package graft.tools

/** Measure the pair-recall cost of d10_scaled's candidate-side bucket
  * cap at a given corpus scale. Both the capped and uncapped runs
  * exact-verify every candidate at the same cosine threshold, so the
  * capped output is a strict subset of the uncapped one and recall is
  * exactly the row-count ratio — no truth set to materialize.
  *   scripts/run_tool.sh graft.tools.CapRecall target/scaledata/x100 64,2147483647
  * (2147483647 = Int.MaxValue = uncapped; run caps ascending so the
  * expensive uncapped run comes last and a crash still leaves the
  * capped counts printed.)
  */
object CapRecall {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val caps = (if (args.length > 1) args(1) else "64,2147483647")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession.local()
    val u = graft.queries.DedupQueries.embeddingUniverse(spark, d)
    val bits = graft.operators.SimilaritySearch.scaledLshBits(u.count())
    println(s"BITS $bits")
    val counts = caps.map { cap =>
      val t0 = System.nanoTime()
      val n = graft.operators.SimilaritySearch.pqNearDupPairs(
        u, "vec_id", "vec", dim = 64, threshold = 0.9, margin = 0.15,
        bits = bits, tables = 4, maxBucket = cap).count()
      println(f"CAP $cap pairs=$n wall=${(System.nanoTime() - t0) / 1e9}%.1f")
      cap -> n
    }
    // "recall" is only honest against the UNCAPPED truth: dividing by
    // the largest supplied cap would print 1.0000 for that cap no
    // matter how much it lost. Without an uncapped run the ratios are
    // labeled as the upper bound they are.
    counts.find(_._1 == Int.MaxValue).map(_._2) match {
      case Some(full) =>
        counts.foreach { case (cap, n) =>
          println(f"RECALL cap=$cap ${n.toDouble / math.max(1L, full)}%.4f")
        }
      case None =>
        val (capMax, nMax) = counts.maxBy(_._1)
        println(s"NOTE no uncapped run (2147483647) in this sweep — " +
          s"ratios below are vs cap=$capMax, an UPPER BOUND on true recall")
        counts.foreach { case (cap, n) =>
          println(f"RECALL_VS_CAP$capMax cap=$cap ${n.toDouble / math.max(1L, nMax)}%.4f")
        }
    }
    spark.stop()
  }
}

/** Pairwise recall understates a cap's usefulness for DEDUP: the pair
  * list feeds connected-components clustering (c-family), where an
  * intra-clique edge is redundant — losing it changes nothing as long
  * as the clique stays connected. This variant runs each capped
  * configuration AND the uncapped truth once, keeps the pair lists,
  * and reports per cap (a) pairwise recall and (b) CONNECTIVITY
  * recall: the fraction of true pairs whose endpoints land in the
  * same connected component of the capped pair graph (driver-side
  * union-find — the truth pair list is ~1e5-1e6 rows, trivially
  * collectable).
  *
  * Arg 4 picks the pair generator: "pq" (default — d10's PQ-screened
  * verifier) or "lsh" (c5/d5's exact-cosine lshNearDupPairs — the
  * generator feeding c5_embedding_clusters_scaled, where connectivity
  * recall is the figure of merit: the closure only needs the clique
  * connected, not every edge).
  *   scripts/run_tool.sh graft.tools.CapConnectivity target/scaledata/x100 64,r12:128 "" lsh
  */
object CapConnectivity {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val caps = (if (args.length > 1) args(1) else "64,r64")
      .split(",").map(_.trim).toSeq
    val spark = graft.GraftSession.local()
    val u = graft.queries.DedupQueries.embeddingUniverse(spark, d)
    val bits = graft.operators.SimilaritySearch.scaledLshBits(u.count())
    val gen = if (args.length > 3) args(3) else "pq"
    println(s"BITS $bits GEN $gen")
    // config "N" = flat cap N; "rN" = cap N with 8-bit hot-bucket
    // refinement (BucketCap.splitHot) before the cap; "rB:N" = cap N
    // with B-bit refinement
    def pairsAt(cfg: String): Array[(Long, Long)] = {
      val (cap, refine) =
        if (cfg.startsWith("r") && cfg.contains(":")) {
          val Array(b, c) = cfg.drop(1).split(":"); (c.toInt, b.toInt)
        } else if (cfg.startsWith("r")) (cfg.drop(1).toInt, 8)
        else (cfg.toInt, 0)
      val t0 = System.nanoTime()
      val pairsDf = gen match {
        case "lsh" => graft.operators.SimilaritySearch.lshNearDupPairs(
          u, "vec_id", "vec", minCosine = 0.9,
          bits = bits, tables = 4, maxBucket = cap, refineBits = refine)
        case _ => graft.operators.SimilaritySearch.pqNearDupPairs(
          u, "vec_id", "vec", dim = 64, threshold = 0.9, margin = 0.15,
          bits = bits, tables = 4, maxBucket = cap, refineBits = refine)
      }
      val out = pairsDf.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      println(f"PAIRS $cfg n=${out.length} wall=${(System.nanoTime() - t0) / 1e9}%.1f")
      out
    }
    // optional arg 3: a parquet path caching the uncapped truth pairs
    // (the truth run is ~20 min at x100 — compute once, reuse across
    // config sweeps; the truth is deterministic per corpus). An EMPTY
    // string is "no cache" — the documented way to reach the 4th
    // (generator) arg without caching (Files.exists(Paths.get(""))
    // is true — it stats the CWD — so a bare length check would hand
    // spark.read.parquet an empty path)
    val truth: Array[(Long, Long)] =
      if (args.length > 2 && args(2).nonEmpty) {
        val tp = args(2)
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(tp)))
          spark.read.parquet(tp).select("id_a", "id_b").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        else {
          val t = pairsAt(Int.MaxValue.toString)
          import spark.implicits._
          t.toSeq.toDF("id_a", "id_b").coalesce(1)
            .write.mode("overwrite").parquet(tp)
          t
        }
      } else pairsAt(Int.MaxValue.toString)
    println(s"TRUTH pairs=${truth.length}")
    caps.foreach { cap =>
      val got = pairsAt(cap)
      // union-find over the capped edges; path-halving find
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x); parent(x) = parent.getOrElse(p, p); x = parent(x)
        }
        x
      }
      got.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val connected = truth.count { case (a, b) => find(a) == find(b) }
      println(f"CAP $cap pair_recall=${got.length.toDouble / math.max(1, truth.length)}%.4f " +
        f"connectivity_recall=${connected.toDouble / math.max(1, truth.length)}%.4f")
    }
    spark.stop()
  }
}

/** The same audit for n8's INCREMENTAL candidate cap: run
  * [[graft.streaming.IncrementalAnn.incrementalPairs]] in the declared
  * n8_scaled corpus shape (store = embeddings, batch = every 7th
  * vector id-shifted) under each tail treatment and report pair recall
  * against the uncapped truth. Configs use CapConnectivity's grammar:
  * "N" = flat store-side cap N, "rB:N" = B-bit hot-bucket refinement
  * (BucketCap.splitHot) before cap N, "uncapped" = no tail treatment.
  * Capped outputs are strict subsets of the uncapped one (refinement
  * only partitions buckets further; the cap selects within them; exact
  * verification is shared), so recall is the row-count ratio.
  *   scripts/run_tool.sh graft.tools.IncCapRecall target/scaledata/x100 64,r12:128
  */
object IncCapRecall {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cfgs = (if (args.length > 1) args(1) else "64,r12:128")
      .split(",").map(_.trim).toSeq
    val spark = graft.GraftSession.local()
    import org.apache.spark.sql.functions.col
    val store = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val batch = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val bits = graft.operators.SimilaritySearch.scaledLshBits(
      store.count() + batch.count())
    println(s"BITS $bits")
    def countAt(cfg: String): Long = {
      // full CapConnectivity grammar (the scaladoc imports it by
      // reference): "N", "rN" (default 8-bit refinement), "rB:N"
      val (cap, refine) =
        if (cfg == "uncapped") (Int.MaxValue, 0)
        else if (cfg.startsWith("r") && cfg.contains(":")) {
          val Array(b, c) = cfg.drop(1).split(":"); (c.toInt, b.toInt)
        } else if (cfg.startsWith("r")) (cfg.drop(1).toInt, 8)
        else (cfg.toInt, 0)
      val t0 = System.nanoTime()
      val n = graft.streaming.IncrementalAnn.incrementalPairs(
        store, batch, "vec_id", "embedding", dim = 64,
        lshBits = bits, lshTables = 2, minCosine = 0.9,
        maxBucket = cap, refineBits = refine).count()
      println(f"CFG $cfg pairs=$n wall=${(System.nanoTime() - t0) / 1e9}%.1f")
      n
    }
    val truth = countAt("uncapped")
    cfgs.foreach { cfg =>
      val n = countAt(cfg)
      println(f"RECALL $cfg ${n.toDouble / math.max(1L, truth)}%.4f")
    }
    spark.stop()
  }
}
