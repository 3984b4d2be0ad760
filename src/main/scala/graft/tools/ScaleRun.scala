package graft.tools

import org.apache.spark.graft.TaskMetricsTap.cellJson

/** Measured scale proof for the capstone operators (SCALE.md): run the
  * dedup/ANN/curation capstones at several corpus multipliers
  * ([[ScaleGen]] dialect replicas) and record wall seconds plus
  * shuffle/spill/GC task-metric deltas per query, so near-linearity is
  * measured, not argued from plan shape. Also records recall@k of the
  * approximate ANN paths against the brute-force exact top-k at every
  * scale.
  *
  * Usage: ScaleRun <label=dir>[,<label=dir>...] [outJsonPath]
  */
object ScaleRun {
  /** Round-10 widening: the incremental-store twins (their SCALE.md
    * cells carried the pre-`c2527ef` doubled-shield constant — VERDICT
    * item 4) and the two newly-declared scale-safe variants
    * (u1_blocked, d10_scaled — VERDICT item 1 wants their cells
    * re-confirmed under the oracle-gated declarations). */
  private val Capstones = Seq(
    "c2_dup_clusters", "c3_incremental_clusters", "c5_embedding_clusters",
    "c5_embedding_clusters_scaled",
    "c6_label_resolution",
    "d7_incremental_neardup", "d8_sig_verified_neardup",
    "d10_pq_neardup", "d10_pq_neardup_scaled", "d11_containment",
    "d13_incremental_span_dedup", "d14_winnowing_overlap",
    "d15_substring_scrub", "d16_incremental_substring_scrub",
    "d17_incremental_winnowing",
    "n7_knn_join", "n8_incremental_ann", "n8_incremental_ann_scaled",
    "u1_unified_pipeline", "u1_blocked_pipeline",
    "u3_curation_pipeline", "u5_incremental_ingest",
    // round 14: the skew-cure family — declared over ScaleQueries
    // .skewFacts (derived from lineitem, which ScaleGen now replicates
    // with strided orderkeys), so the hot key's clone mass grows
    // linearly with the label. Their naive counterparts are measured
    // in the skew-contrast block below, never as declared queries.
    "x1_salted_agg", "x2_salted_join", "x5_clone_skew_agg")

  def main(args: Array[String]): Unit = {
    val pairs = args(0).split(",").map { kv =>
      val Array(l, d) = kv.split("=", 2); (l, d)
    }
    val outPath = if (args.length > 1) args(1) else "target/scale_results.json"
    val cpus = graft.GraftSession.cpus
    val spark = graft.GraftSession.builder(cpus).getOrCreate()

    val tap = org.apache.spark.graft.MetricsBridge.install(spark.sparkContext)

    // JVM warmup: codegen, parquet reader, shuffle, kernels
    try {
      spark.range(1000).selectExpr("md5(cast(id as string)) h")
        .groupBy("h").count().count()
      graft.plans.GraftExtensions.register(spark)
      spark.range(1000).selectExpr(
          "graft_shingle_hashes(concat('a b c d e f g ', id), 3) AS sh")
        .selectExpr("graft_minhash(sh, 16) AS sig").count()
    } catch { case _: Throwable => () }

    def topkSets(name: String, dir: String): Map[Long, Set[Long]] =
      graft.SparkEntry.queries(name)(spark, dir)
        .select("q_id", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet
        }

    val scaleJsons = pairs.map { case (label, dir) =>
      System.err.println(s"[scale] === $label ($dir) ===")
      // Start each corpus from clean executor storage: the previous
      // label's shared stages (signature/pair/label, match and unified
      // frames) and the operators' call-local localCheckpoint blocks
      // are dead weight for this label's jobs (different dir →
      // different plans), but they stay resident until unpersisted/
      // GC'd and their eviction + GC churn lands in THIS label's
      // measurements (d11 at x10 measured 141 s in a polluted JVM vs
      // 8–14 s clean). Release the stage registry, drop any remaining
      // cache entries, and give ContextCleaner a GC so dereferenced
      // checkpoint RDDs actually free their blocks.
      graft.model.Stages.release()
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      Thread.sleep(2000) // let ContextCleaner's async unpersists drain
      // SPARK_GRAFT_SCALE_NOPREBUILD=1 skips the dedup-store prebuild —
      // for subset runs (SPARK_GRAFT_SCALE_ONLY) whose queries never
      // touch the stores (the skew family reads only lineitem), paying
      // minutes of store construction at a big label buys nothing.
      // Recorded as null, never as a fake zero-cost cell.
      val noPrebuild = sys.env.get("SPARK_GRAFT_SCALE_NOPREBUILD").contains("1")
      val (_, preSec, preM) =
        if (noPrebuild) ((), 0.0, Array.fill(6)(0L))
        else tap.measure(spark.sparkContext)(
          graft.queries.DedupQueries.prebuildStores(spark, dir))
      val preJson = if (noPrebuild) "null" else cellJson(preSec, preM)
      System.err.println(
        if (noPrebuild) s"[scale] $label prebuild SKIPPED (SPARK_GRAFT_SCALE_NOPREBUILD)"
        else f"[scale] $label prebuild ${preSec}%.1f s")
      // No silent caps: SPARK_GRAFT_SCALE_SKIP=label:query,... excludes
      // a (scale, query) cell EXPLICITLY — logged here and recorded as
      // "skipped" in the JSON. Used for the pinned-geometry c5/d10/n8
      // at x100, whose saturated buckets are measured disk-killers
      // (c5: ~80 GB shuffle; n8: 360 GB spill — values recorded in
      // SCALE.md); their DECLARED scale-safe twins (*_scaled) run as
      // capstone cells above.
      val skip: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_SKIP")
        .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
      // SPARK_GRAFT_SCALE_ONLY=q1,q2 restricts the run to those
      // capstones AND suppresses the variant/recall blocks below —
      // the constrained-memory proof mode (run a few heavy queries in
      // an 8 GiB JVM without paying the full sweep there).
      val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      only.foreach { names =>
        val unknown = names -- Capstones.toSet
        require(unknown.isEmpty, s"SPARK_GRAFT_SCALE_ONLY not capstones: ${unknown.mkString(",")}")
      }
      val qJsons = Capstones.filter(n => only.forall(_.contains(n))).map { name =>
        if (skip.contains(s"$label:$name")) {
          System.err.println(s"[scale] $label $name SKIPPED (SPARK_GRAFT_SCALE_SKIP)")
          s""""$name":{"skipped":true}"""
        } else {
          val (_, sec, m) = tap.measure(spark.sparkContext)(
            graft.SparkEntry.queries(name)(spark, dir).count())
          System.err.println(f"[scale] $label $name%-24s ${sec}%8.2f s  " +
            f"shuffle ${(m(0) + m(1)) / 1e6}%.0f MB  spill ${(m(2) + m(3)) / 1e6}%.0f MB")
          s""""$name":${cellJson(sec, m)}"""
        }
      }
      // Skew-cure contrast block (round 14, VERDICT item 1): the NAIVE
      // shapes of x1/x2/x5, measured over the SAME ScaleQueries.skewFacts
      // relation the declared panel cells above just ran on, plus
      // per-task straggler stats (a funneled hot key is ONE task whose
      // duration dwarfs the stage median — invisible to aggregate
      // counters). Not declared queries: they exist to QUANTIFY the
      // funnel the declared cures avoid. Invoked last within the label so
      // its heap churn cannot heat the panel or recall cells.
      def skewContrastJson(): String = {
        import org.apache.spark.sql.functions._
        val straggler =
          org.apache.spark.graft.MetricsBridge.installDurations(spark.sparkContext)
        def withConf[T](kvs: (String, String)*)(f: => T): T = {
          val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
          kvs.foreach { case (k, v) => spark.conf.set(k, v) }
          try f
          finally olds.foreach { case (k, o) =>
            o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        }
        // expose the shuffle join: AQE broadcasts a 1001-row dim long
        // before any skew machinery matters (the declared x2 panel cell
        // above keeps that plan — it IS the right plan at this dim
        // size); the contrast is about the shuffle-join regime the
        // operator exists for (dim too big / stats too stale to
        // broadcast at 100 TB)
        val shuffleJoinConf = Seq(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
        // SPARK_GRAFT_SCALE_SKEW_SKIP=cell,... excludes a contrast cell
        // EXPLICITLY (logged + recorded as skipped, same no-silent-caps
        // rule as the panel's SCALE_SKIP). Exists because a funnel cell
        // can be LETHAL rather than slow at a big label: at x1000 the
        // unsalted collect_list funnel does not straggle — its map-side
        // partial lists OOM-killed a 48 GiB JVM outright
        // (bench/skew_x1000_oom_firstrun.log: BufferHolder.grow in the
        // aggregate's result projection, 13 OutOfMemoryError). The skip
        // records that outcome instead of re-paying the crash.
        val skewSkip: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_SKEW_SKIP")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty)
        def cell(name: String, extraConf: Seq[(String, String)])(f: => Unit): String = {
          if (skewSkip.contains(name)) {
            System.err.println(s"[scale] $label skew $name SKIPPED (SPARK_GRAFT_SCALE_SKEW_SKIP)")
            return s""""$name":{"skipped":true}"""
          }
          org.apache.spark.graft.MetricsBridge.drain(spark.sparkContext)
          straggler.reset()
          val (_, sec, m) = withConf(extraConf: _*)(tap.measure(spark.sparkContext)(f))
          val (n, p50, mx) = straggler.stats()
          System.err.println(f"[scale] $label skew $name%-24s ${sec}%8.2f s  " +
            f"tasks $n  p50 ${p50}%d ms  max ${mx}%d ms  " +
            f"shuffle ${(m(0) + m(1)) / 1e6}%.0f MB")
          s""""$name":${cellJson(sec, m).dropRight(1)},"tasks":$n,""" +
            s""""task_p50_ms":$p50,"task_max_ms":$mx}"""
        }
        val li = graft.model.Tables.load(spark, dir, "lineitem")
        val factV = graft.queries.ScaleQueries.skewFacts(li).select(col("k"), col("v"))
        val factDv = graft.queries.ScaleQueries.skewFacts(li).select(col("k"), col("dv"))
        val dim = graft.queries.ScaleQueries.skewDim(spark, dir)
        val cells = Seq(
          // x1's shape: combinable aggregate, distinct-valued hot key.
          // EXPECTED flat vs the declared panel cell — map-side partial
          // aggregation already bounds reducer fan-in for sum/count;
          // the cell exists to say so with a number.
          // Consumption rule for contrast cells: reference every
          // aggregate in the consumed result (collect() of the small
          // group list, or head() of a sum over it) — a trailing
          // count() lets Catalyst PRUNE the aggregates (collect_list
          // vanishes entirely; the cell then measures a distinct-shape
          // plan with ~0 shuffle, which is exactly the work the funnel
          // contrast exists to ship).
          cell("x1_plain_groupby", Nil) {
            factV.groupBy(col("k"))
              .agg(sum(col("v")), count(lit(1))).collect(); ()
          },
          // x2's funnel: unsalted shuffle join, AQE's own skew cure OFF
          // — the hot key's entire mass sorts through ONE task
          cell("x2_join_naive_funnel", shuffleJoinConf ++
              Seq("spark.sql.adaptive.skewJoin.enabled" -> "false")) {
            factV.join(dim, "k").groupBy(col("dim_name"))
              .agg(sum(col("v")), count(lit(1))).collect(); ()
          },
          // same join with AQE skew-join ON: Spark's runtime cure
          cell("x2_join_naive_aqeskew", shuffleJoinConf) {
            factV.join(dim, "k").groupBy(col("dim_name"))
              .agg(sum(col("v")), count(lit(1))).collect(); ()
          },
          // the declared salt under the same shuffle-join regime (AQE
          // skew cure off, so the spread is attributable to the salt)
          cell("x2_join_salted_shuffle", shuffleJoinConf ++
              Seq("spark.sql.adaptive.skewJoin.enabled" -> "false")) {
            graft.operators.Skew.saltedJoin(factV, dim, "k", 8)
              .groupBy(col("dim_name"))
              .agg(sum(col("v")), count(lit(1))).collect(); ()
          },
          // salt-width sensitivity (round 14): at x1000 the 8-bucket
          // salt leaves 56 M-row per-bucket sorts that spill ~22 GB —
          // "size the salt to the per-bucket sort budget" needs a
          // measured knob, not a sentence. Wider salts pay more dim
          // replication (rows = |dim| × width) to buy smaller bucket
          // sorts; these cells record where the spill disappears.
          cell("x2_join_salted32_shuffle", shuffleJoinConf ++
              Seq("spark.sql.adaptive.skewJoin.enabled" -> "false")) {
            graft.operators.Skew.saltedJoin(factV, dim, "k", 32)
              .groupBy(col("dim_name"))
              .agg(sum(col("v")), count(lit(1))).collect(); ()
          },
          cell("x2_join_salted128_shuffle", shuffleJoinConf ++
              Seq("spark.sql.adaptive.skewJoin.enabled" -> "false")) {
            graft.operators.Skew.saltedJoin(factV, dim, "k", 128)
              .groupBy(col("dim_name"))
              .agg(sum(col("v")), count(lit(1))).collect(); ()
          },
          // x5's funnel needs a NON-combinable aggregate to ship rows
          // (for sum/count the map-side partial hides it — x1's cell):
          // collect the per-key value multiset three ways; consume via
          // sum(size(vs)) so the lists are computed but never leave
          // the executors. No cure: one reducer buffers the hot key's
          // entire mass in a single collect_list.
          cell("x5_collect_unsalted", Nil) {
            factDv.groupBy(col("k")).agg(collect_list(col("dv")).as("vs"))
              .select(sum(size(col("vs")))).head(); ()
          },
          // naive salt (saltedSumCount's KNOWN LIMITATION): clones hash
          // to ONE (key, salt) bucket — the straggler barely moves
          cell("x5_collect_salt_naive", Nil) {
            factDv.withColumn("_salt",
                pmod(hash(col("k"), col("dv")), lit(16)))
              .groupBy(col("k"), col("_salt"))
              .agg(collect_list(col("dv")).as("vs"))
              .select(sum(size(col("vs")))).head(); ()
          },
          // declared cure applied to the collect shape: dedup-first,
          // then collect (value, count) pairs — ships ~|distinct| rows
          cell("x5_collect_declared", Nil) {
            factDv.groupBy(col("k"), col("dv")).agg(count(lit(1)).as("cnt"))
              .groupBy(col("k"))
              .agg(collect_list(struct(col("dv"), col("cnt"))).as("vs"))
              .select(sum(size(col("vs")))).head(); ()
          })
        // bucket-occupancy numbers (the SkewBucketSpec contrast at real
        // clone mass): rows a non-combinable aggregate would funnel
        // into the fullest (key, salt) bucket, naive vs declared
        val naiveMax = factDv.withColumn("_salt",
            pmod(hash(col("k"), col("dv")), lit(16)))
          .groupBy(col("k"), col("_salt")).count()
          .agg(max(col("count"))).head().getLong(0)
        val declaredMax = factDv.groupBy(col("k"), col("dv")).count()
          .withColumn("_salt", pmod(hash(col("k"), col("dv")), lit(16)))
          .groupBy(col("k"), col("_salt")).count()
          .agg(max(col("count"))).head().getLong(0)
        val cloneMass = factDv.groupBy(col("k"), col("dv")).count()
          .agg(max(col("count"))).head().getLong(0)
        System.err.println(s"[scale] $label skew occupancy: naive max " +
          s"bucket $naiveMax rows, declared stage-1 max $declaredMax, " +
          s"largest clone group $cloneMass")
        org.apache.spark.graft.MetricsBridge.remove(spark.sparkContext, straggler)
        s""""skew_contrast":{${cells.mkString(",")},""" +
          s""""x5_bucket_occupancy":{"naive_max_bucket_rows":$naiveMax,""" +
          s""""declared_stage1_max_bucket_rows":$declaredMax,""" +
          s""""largest_clone_group_rows":$cloneMass}}"""
      }
      if (only.isDefined) {
        // subset mode: capstone cells only — plus, with
        // SPARK_GRAFT_SCALE_SKEW=1, the skew-contrast block (so the
        // skew family's funnel-vs-cure cells can be taken at a label
        // the full sweep doesn't visit, e.g. x1000, without paying the
        // whole panel there).
        val skewExtra =
          if (sys.env.get("SPARK_GRAFT_SCALE_SKEW").contains("1"))
            "," + skewContrastJson()
          else ""
        s"""{"label":"$label","dir":"$dir","prebuild":$preJson,""" +
          s""""queries":{${qJsons.mkString(",")}}$skewExtra}"""
      } else {
      // (The ad-hoc scaled-geometry variant blocks that used to run
      // here are gone: the scale-safe c5/d10 configurations are
      // DECLARED queries since rounds 10-11 — c5_embedding_clusters_
      // scaled / d10_pq_neardup_scaled — and are measured as capstone
      // cells above, under the oracle gate, with their exact declared
      // geometry instead of this block's approximation of it.)
      // ANN recall@k against brute force, same corpus
      val exact = topkSets("n1_ann_bruteforce", dir)
      val recalls = Seq("n2_ann_lsh", "n3_ann_ivf", "n5_ann_pq").map { name =>
        val got = topkSets(name, dir)
        val r = exact.toSeq.map { case (q, ex) =>
          got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
        }
        val mean = r.sum / r.size
        System.err.println(f"[scale] $label recall@5 $name%-12s ${mean}%.3f")
        f""""$name":$mean%.4f"""
      }
      s"""{"label":"$label","dir":"$dir","prebuild":$preJson,""" +
        s""""queries":{${qJsons.mkString(",")}},""" +
        s""""recall_at_5":{${recalls.mkString(",")}},""" +
        skewContrastJson() + "}"
      }
    }
    val out = s"""{"metric":"scale","cpus":$cpus,"scales":[${scaleJsons.mkString(",")}]}"""
    println(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
