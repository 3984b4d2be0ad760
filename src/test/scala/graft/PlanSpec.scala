package graft

/** Physical-plan assertions: the scale properties the engine relies on
  * (scan pushdown, broadcast joins, partial aggregation) must actually
  * appear in the optimized plans — not just be intended. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("s8: filter and projection reach the parquet scan") {
    val p = plan("s8_scan_project")
    assert(p.contains("PushedFilters:") && p.contains("l_quantity"),
      s"expected pushed filter on l_quantity in:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_shipdate"),
      "projection should prune unused columns")
  }

  test("n6: the metadata predicate of filtered ANN runs below the scoring join") {
    val p = plan("n6_ann_filtered")
    // `label % 3 = 0` is not a translatable source predicate (only
    // IsNotNull pushes to parquet), so the real pin is PLACEMENT: the
    // filter must sit BELOW the scoring join — post-scoring filtering
    // silently returns < k results AND scores the whole corpus
    val lines = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toVector
    val joinIdx = lines.indexWhere(l =>
      l.contains("Join") && (l.contains("BroadcastNestedLoop") || l.contains("Cross")))
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("% 3"))
    assert(joinIdx >= 0, s"expected the scoring join in:\n$p")
    assert(filterIdx > joinIdx,
      s"label filter must be below (deeper than) the scoring join:\n$p")
    // and the scan under it still pushes the derived IsNotNull
    assert(lines.exists(l => l.contains("PushedFilters: [IsNotNull(label)")),
      s"expected IsNotNull(label) pushed to the corpus scan in:\n$p")
  }

  test("j6: dimension side is broadcast, not shuffled") {
    val p = plan("j6_equi_join")
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in:\n$p")
  }

  test("j4: anti join planned as broadcast/shuffled hash anti join") {
    val p = plan("j4_left_anti")
    assert(p.contains("LeftAnti"), s"expected LeftAnti in:\n$p")
  }

  test("a2: aggregation is partial (map-side combine) + final") {
    val p = plan("a2_pricing_summary")
    assert(p.contains("partial_"), s"expected partial aggregation in:\n$p")
  }

  test("j1: candidate side broadcast; no shuffle of the scored pairs") {
    val p = plan("j1_similarity_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast join in:\n$p")
  }

  test("j1: accept filter is the join condition, not a post-join filter") {
    // the >= cutoff accept must run INSIDE the broadcast nested-loop
    // join so only surviving pairs materialize (regression guard for
    // the accept-path floor-raise optimization)
    val p = SparkEntry.queries("j1_similarity_join")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("Cross, (fuzzybestscore("),
      s"expected fuzzybestscore >= cutoff as the cross-join condition in:\n$p")
  }

  test("d2 pairs: AQE converts the small-pair-list enrichment to broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text")
    val df = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text", 3, 16, 4, 50)
    df.collect() // AQE decides join strategies from runtime sizes
    val p = df.queryExecution.executedPlan.toString
    // with a small candidate list the enrichment joins must end up
    // broadcast-hash — the wide shingle arrays never shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected AQE-broadcast enrichment joins in:\n$p")
  }

  test("d5: bucket blocking join, no cartesian product, dot only post-pairs") {
    val df = SparkEntry.queries("d5_embedding_neardup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d5 must pair via the (tbl,bucket) equi-join, never a cross product:\n$p")
    // candidate pairs are deduped (HashAggregate on the id pair) before
    // vectors are re-joined
    assert(p.contains("HashAggregate(keys=[id_a"),
      s"expected distinct pair aggregation in:\n$p")
  }

  test("x3: KMV shuffles deduped hashes only, top-k without global sort") {
    val df = SparkEntry.queries("x3_approx_stats")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // map-side partial dedup before the exchange (bounds shuffle to
    // O(n_distinct) longs at any corpus size)
    assert(p.contains("HashAggregate(keys=[h"),
      s"expected hash-dedup of the 60-bit hashes in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered(k) instead of a global sort in:\n$p")
  }

  test("y1: as-of join is window-shaped — no inequality join operator") {
    val df = SparkEntry.queries("y1_asof_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must run as union-merge window, never a theta join:\n$p")
    assert(p.contains("Window [last(__fill"),
      s"expected the forward-fill window in:\n$p")
  }

  test("d14: winnowing fingerprints compute without any shuffle or window") {
    // winnowing is per-document-sequential, so the fingerprint table
    // must be scan -> kernel -> explode: the gram stream (~w/2 x the
    // output) never leaves its scan task. A Window or Exchange in this
    // subtree means the composed-plan regression (two stacked
    // WindowExecs shuffling the full gram table) is back.
    val fps = graft.operators.Dedup.winnowedFingerprints(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 4, 8)
    val p = fps.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"fingerprinting must be shuffle-free:\n$p")
    assert(p.contains("Generate explode"), s"expected kernel+explode in:\n$p")
  }

  test("d15: substring-scrub argmin is a partial min(struct); no theta joins") {
    val p = plan("d15_substring_scrub")
    assert(p.contains("partial_min(struct("),
      s"first-occurrence argmin must partial-aggregate map-side:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"coverage join must stay an equi-join:\n$p")
  }

  test("d16/d17: incremental store probes are hash semi/anti joins, never nested loops") {
    for (name <- Seq("d16_incremental_substring_scrub", "d17_incremental_winnowing")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"$name: store probe must stay an equi-join:\n$p")
      assert(p.contains("partial_"), s"$name: expected partial aggregation:\n$p")
    }
  }

  test("c1: decontamination shuffles 8-byte gram hashes, never text") {
    val df = SparkEntry.queries("c1_decontaminate")(spark, sf)
    df.collect()
    // inspect each exchange's CHILD OUTPUT (the rows actually shuffled),
    // not the partitioning-expression string — the text column must die
    // at the scan projection
    def exchanges(plan: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] =
      plan.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e } ++
        plan.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            exchanges(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            exchanges(q.plan)
        }.flatten
    // the Tables.spread rebalance legitimately carries text (a round-
    // robin exchange whose read side AQE sizes: one partition for this
    // fixture's scan, every shuffle partition once each holds over
    // 1 MB); the HASH shuffles — distinct, join, aggregation, the ones
    // that exist at 100 TB — must not
    val exs = exchanges(df.queryExecution.executedPlan).filter(
      _.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(exs.nonEmpty, "expected hash shuffles in the decontamination plan")
    val shuffledCols = exs.flatMap(_.child.output.map(_.name))
    assert(!shuffledCols.contains("text"),
      s"a hash exchange carries the text column: $shuffledCols")
  }

  test("p4: balance filter runs inside a broadcast join of the tiny totals") {
    val df = SparkEntry.queries("p4_source_balance")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast totals join in:\n$p")
    // the keep decision must be the join condition (rows die in the
    // join), not a post-join filter over a materialized corpus×totals
    assert(p.contains("% src_total"), s"expected hash-mod keep condition in:\n$p")
  }

  test("d8: sig-verified dedup shuffles signatures only, never shingle arrays") {
    val df = SparkEntry.queries("d8_sig_verified_neardup")(spark, sf)
    df.collect()
    def exchanges(plan: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] =
      plan.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e } ++
        plan.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            exchanges(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            exchanges(q.plan)
        }.flatten
    // the whole point of the slim store: the O(corpus tokens) shingle
    // arrays exist only transiently inside the signature projection —
    // nothing that shuffles may carry them (d7's exact verify does)
    val shuffled = exchanges(df.queryExecution.executedPlan)
      .flatMap(_.child.output.map(_.name)).toSet
    assert(shuffled.nonEmpty)
    assert(!shuffled.exists(n => n == "sh" || n.startsWith("sh_")),
      s"a d8 exchange carries shingle arrays: $shuffled")
  }

  test("c3: incremental merge relabels via broadcast, no theta joins") {
    val df = SparkEntry.queries("c3_incremental_clusters")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"expected the (rep -> merged) map to broadcast over the labeling in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental merge must stay equi-join-shaped:\n$p")
  }

  test("p2: hash-bucket pre-filter bounds the rank window input") {
    val df = SparkEntry.queries("p2_stratified_sample")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the histogram edge must gate rows BEFORE the window rank: a
    // broadcast join of the per-stratum edges plus a bucket filter
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast edge join in:\n$p")
    assert(p.contains("__edge"), s"expected bucket-edge pre-filter in:\n$p")
  }

  test("t7: per-doc top-k uses WindowGroupLimit; doc-freq side broadcast") {
    val df = SparkEntry.queries("t7_tfidf_topk")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // Spark 4 rank-limit pushdown: partial top-k BEFORE the doc shuffle
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast doc-freq join in:\n$p")
  }

  test("t7: tf builds on the document partitioning — no (doc_id, token) exchange") {
    // r15 §2.4 restructure: the docs hash-repartition by id once, and
    // HashPartitioning(id) satisfies the groupBy(id, token) clustering,
    // so the full token-pair stream never crosses an exchange — only
    // the raw (id, text) rows do. The tf build runs as a Materialize
    // side execution, so capture it via a listener.
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries("t7_tfidf_topk")(spark, sf).collect()
      // listener delivery is async; poll for the side build's plan
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
        !plans.asScala.exists(_.contains("explode(split"))) Thread.sleep(50)
      val tfBuilds = plans.asScala.filter(p =>
        p.contains("explode(split") && p.contains("REPARTITION_BY_COL"))
      assert(tfBuilds.nonEmpty, s"expected the tf side build among:\n${plans.asScala.mkString("\n---\n")}")
      for (p <- tfBuilds)
        assert(!"hashpartitioning\\(doc_id#\\d+L, token".r.unanchored.matches(p),
          s"tf must aggregate on the doc partitioning, not re-exchange by (id, token):\n$p")
    } finally spark.listenerManager.unregister(l)
  }

  test("t8: shared-gram head set joins broadcast, text never hash-shuffles") {
    val df = SparkEntry.queries("t8_boilerplate")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast shared-set join in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram stream must never self-join all-pairs:\n$p")
  }

  test("c4: bloom probe is a map-side narrow filter fed by one scalar subquery") {
    val df = SparkEntry.queries("c4_bloom_decontaminate")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bloom_filter_agg"),
      s"expected the held-out gram set to aggregate into a Bloom sketch in:\n$p")
    val lines = p.linesIterator.toVector
    val i = lines.indexWhere(_.contains("Filter might_contain"))
    assert(i > 0, s"expected a might_contain probe filter in:\n$p")
    // the probe must gate the exploded gram stream BEFORE the distinct's
    // exchange: its parent is the partial distinct agg and its child
    // (past the subquery line) is the explode itself
    assert(lines(i - 1).contains("HashAggregate"),
      s"probe should sit directly under the partial distinct agg:\n$p")
    assert(lines.slice(i, i + 4).exists(_.contains("Generate explode")),
      s"probe should consume the explode output narrowly:\n$p")
  }

  test("n7: kNN join pairs via the bucket self-equi-join, never a cross product") {
    val df = SparkEntry.queries("n7_knn_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"n7 candidates must come from the (tbl,bucket) equi-join:\n$p")
    // the rank shuffle moves slim (ids, cosine) rows, not vectors: the
    // window sort's input must not carry an embedding payload column
    val i = p.linesIterator.indexWhere(_.contains("WindowGroupLimit"))
    assert(i >= 0 || p.contains("Window"), s"expected rank window in:\n$p")
  }

  test("n7: the bucket frequency cap is a WindowGroupLimit partial, pre-join") {
    val df = SparkEntry.queries("n7_knn_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // two rank-limit windows must survive optimization: the per-bucket
    // candidate cap (partitioned on tbl+bucket) and the final top-k
    // rank (partitioned on q_id). WindowGroupLimit means map tasks drop
    // beyond-cap members BEFORE the window shuffle — even the capping
    // pass never concentrates a hot bucket's full membership.
    val wgl = p.linesIterator.filter(_.contains("WindowGroupLimit")).toVector
    assert(wgl.size >= 2, s"expected cap + rank WindowGroupLimits in:\n$p")
    assert(wgl.exists(l => l.contains("bucket")),
      s"expected a WindowGroupLimit partitioned on the bucket key in:\n$p")
  }

  test("t10: heavy hitters sketch in mapPartitions, candidates broadcast onto the stream") {
    val df = SparkEntry.queries("t10_heavy_hitters")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // stage 1 is the Misra–Gries mapPartitions sketch; it runs inside
    // the eager localCheckpoint (CacheManager-leak fix), so the final
    // plan reads it back as a checkpointed RDD scan rather than
    // showing the MapPartitions node inline
    assert(p.contains("MapPartitions") || p.contains("ExistingRDD")
        || p.contains("Scan ExistingRDD"),
      s"expected the MG sketch (mapPartitions or its checkpoint scan):\n$p")
    // the token stream reaches the candidate join with NO exchange of
    // its own — the vocabulary tail never shuffles
    assert(p.contains("BroadcastHashJoin"),
      s"expected the candidate set to broadcast onto the token stream:\n$p")
  }

  test("x4: z-value arithmetic is pure codegen'd Catalyst with partial aggregation") {
    val df = SparkEntry.queries("x4_zorder_stats")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // shift/mask/add lowers to native long expressions — no UDF — and
    // the zbucket aggregation combines map-side before its exchange
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"zValue must be pure Catalyst arithmetic:\n$p")
    assert(p.contains("partial_count"),
      s"expected map-side partial aggregation under the zbucket exchange:\n$p")
    assert(p.contains("*("), s"expected whole-stage codegen over the scan:\n$p")
  }

  test("d10: PQ screen verifies via equi-joins only; full vectors join after the screen") {
    val df = SparkEntry.queries("d10_pq_neardup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d10 must block and verify via equi-joins, never a cross product:\n$p")
    // the approx screen (PqPairDot kernel over the codes) must sit below
    // the exact-cosine (vecdot) verify in the final plan: the verify
    // consumes the screen's survivors, so the screen is the deeper
    // node — its line prints LATER in the tree string (r15: pinned as
    // relative position, not mere presence)
    val finalLines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toVector
    val verifyIdx = finalLines.indexWhere(l => l.contains("vecdot(") && l.contains(">="))
    val screenIdx = finalLines.indexWhere(_.contains("pqpairdot("))
    assert(verifyIdx >= 0,
      s"expected the exact-cosine (vecdot) verification in the plan:\n$p")
    assert(screenIdx >= 0,
      s"expected the PQ-code cosine screen (pqpairdot kernel) in the plan:\n$p")
    assert(screenIdx > verifyIdx,
      s"pqpairdot screen (line $screenIdx) must sit below the vecdot verify (line $verifyIdx):\n$p")
  }

  test("w7: funnel reuses the user_id partitioning — one event-stream exchange") {
    val df = SparkEntry.queries("w7_funnel")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the raw event stream must hash-shuffle on user_id exactly once in
    // the final plan: stages 2-3 consume the existing partitioning
    val finalPlan = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val scanShuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(finalPlan).size
    assert(scanShuffles <= 1,
      s"funnel stages must reuse the user_id partitioning, found $scanShuffles exchanges:\n$p")
  }

  test("x6: grouped KMV locates the bottom-k via a WindowGroupLimit partial") {
    val df = SparkEntry.queries("x6_grouped_kmv")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the rank filter must push a partial group-limit below the window's
    // exchange — no group ever sorts its full distinct hash set
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$p")
  }

  test("d12: span argmin is a partial min(struct); no theta joins anywhere") {
    val df = SparkEntry.queries("d12_span_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // keep-first must partial-aggregate before the md5 exchange — a hot
    // boilerplate span collapses map-side instead of skewing one reduce
    // key (the window-rank formulation would ship every copy)
    assert(p.contains("partial_min(struct("),
      s"expected map-side partial min(struct) in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span dedup must be aggregates + equi-joins only:\n$p")
  }

  test("d13: incremental scrub probes the store via a hash anti-join on span_md5") {
    val df = SparkEntry.queries("d13_incremental_span_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"expected the store membership anti-join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"store probe must be an equi-anti-join:\n$p")
  }

  test("t11: kept vocabulary broadcasts onto the token stream; OOV probe is an anti-join") {
    val df = SparkEntry.queries("t11_oov_unk")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the high-df head is the broadcast side of the OOV anti-join; the
    // positional stream is never a build side. (The one
    // BroadcastNestedLoopJoin in the tree is the 1-row nDocs scalar
    // crossed onto the df table — the p4 in-plan-totals pattern.)
    assert(p.contains("LeftAnti, BuildRight"),
      s"expected a broadcast anti-join of the vocab head in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian products in the OOV rewrite:\n$p")
  }

  test("t13: model head via TakeOrdered, model join broadcast under AQE") {
    val df = SparkEntry.queries("t13_classifier_score")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the 200-token vocabulary head must come from TakeOrderedAndProject
    // (heap top-k per partition), never a global Sort + Limit
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the model head in:\n$p")
    // the model side (small by construction here) broadcasts onto the
    // token stream; the unhinted join must not have degraded to a
    // sort-merge of the exploded token stream
    assert(p.contains("BroadcastHashJoin [__tok"),
      s"expected the model broadcast onto the token stream in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian products in model scoring:\n$p")
  }

  test("whole-stage codegen spans exist in the relational core") {
    // under AQE the final plan (with codegen stages) exists only after execution
    def executedString(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // codegen stages render as "*(n)" in the plan string
    assert(executedString("a2_pricing_summary").contains("*("))
    assert(executedString("s8_scan_project").contains("*("))
  }
}
