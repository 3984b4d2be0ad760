package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.MetricsBridge.drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan and metrics inspector for the declared queries
  * (`graft.SparkEntry.queries`). Every mode builds a query, reads the
  * side executions its construction ran (`Materialize.once` builds,
  * shared-stage builds, closure rounds), then drives the query's OWN
  * QueryExecution with `collect()` and reads its final adaptive plan
  * (`isFinalPlan=true`). A wrapper action such as `count()` would run a
  * different, column-pruned QueryExecution and leave this one unexecuted.
  *
  *   scripts/run_tool.sh graft.tools.Inspect census <sfDir>
  *   scripts/run_tool.sh graft.tools.Inspect formatted <tag> <suffix> <q1,q2,..> <sfDir>
  *   scripts/run_tool.sh graft.tools.Inspect nodes <query> <sfDir>
  *   scripts/run_tool.sh graft.tools.Inspect plans-md <sfDir>
  *
  *  - census: one line per query (restricted by `SPARK_GRAFT_ONLY`):
  *    exchanges, reused exchanges, join strategies, windows, sorts and
  *    interpreted lambdas (main plan plus side executions) — the table
  *    an optimization round diffs before/after.
  *  - formatted: writes `plans/<tag>/<q>_<suffix>.txt`: the pre-execution
  *    `explain("formatted")`, the final plan, and every side execution.
  *  - nodes: the final plan as a tree with each node's runtime metrics
  *    (rows, data size, shuffle bytes/records, spill), for the main
  *    execution and every side that shuffled over 1 MB, with per-execution
  *    shuffle and wall — two scales diff exchange-by-exchange. An
  *    in-memory scan of a persisted stage shows the plan that built it.
  *  - plans-md: regenerates PLANS.md.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    def names(list: String) = graft.SparkEntry.selected(Some(list))
    val (d, mode): (String, Runner => Unit) = args.toList match {
      case "census" :: d :: Nil => (d, census(_).foreach(println))
      case "formatted" :: tag :: suffix :: qs :: d :: Nil =>
        (d, formatted(_, Paths.get(s"plans/$tag"), suffix, names(qs)))
      case "nodes" :: q :: d :: Nil =>
        val Seq(name) = names(q)
        (d, nodes(_, name).foreach(println))
      case "plans-md" :: d :: Nil =>
        (d, r => {
          Files.writeString(Paths.get("PLANS.md"), plansMd(r))
          println("PLANS.md written")
        })
      case _ =>
        System.err.println("usage: Inspect census <sfDir> | formatted <tag> <suffix> " +
          "<q1,q2,..> <sfDir> | nodes <query> <sfDir> | plans-md <sfDir>")
        sys.exit(2)
    }
    val spark = graft.GraftSession.local()
    try mode(new Runner(spark, d)) finally spark.stop()
  }

  /** One driven query: its DataFrame after the action, the pre-execution
    * formatted explain (when asked for), the side executions its
    * construction ran with their durations, the rows collected, and the
    * wall seconds of construction plus action and of the action alone. */
  final case class Run(df: DataFrame, formatted: String,
                       sides: Seq[(QueryExecution, Long)], rows: Long,
                       sec: Double, driveSec: Double) {
    def plan: SparkPlan = df.queryExecution.executedPlan
  }

  /** Builds and drives declared queries on `spark` over `sfDir`. One
    * listener captures every completed execution; the bus is drained
    * before the capture is cleared and again before it is read, and it
    * is read before the driving action, so that action is never a side.
    * [[close]] unregisters the listener. */
  final class Runner(val spark: SparkSession, val sfDir: String) {
    private val seen =
      new java.util.concurrent.CopyOnWriteArrayList[(QueryExecution, Long)]()
    private val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add((qe, ns)); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    def close(): Unit = { spark.listenerManager.unregister(listener); seen.clear() }

    def run(name: String, withFormatted: Boolean = false): Run = {
      drain(spark.sparkContext) // the previous query's action lands first
      seen.clear()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      drain(spark.sparkContext)
      val sides = seen.asScala.toList
      val formatted =
        if (withFormatted) df.queryExecution.explainString(FormattedMode) else ""
      val t1 = System.nanoTime()
      val rows = df.collect().length.toLong
      val t2 = System.nanoTime()
      Run(df, formatted, sides, rows, (t2 - t0) / 1e9, (t2 - t1) / 1e9)
    }
  }

  /** Every node of a plan in pre-order with its depth: adaptive wrappers
    * and query stages are descended, a reused exchange is a leaf (its
    * subtree is counted where it first ran). */
  def walk(p: SparkPlan, depth: Int = 0): Seq[(SparkPlan, Int)] =
    (p, depth) +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
      case q: QueryStageExec => walk(q.plan, depth + 1)
      case _: ReusedExchangeExec => Nil
      case other => other.children.flatMap(walk(_, depth + 1))
    })

  /** Interpreted higher-order-function lambdas in the nodes of a final
    * plan (an adaptive plan's string also repeats its initial plan). */
  private def lambdas(p: SparkPlan): Int =
    walk(p).map(_._1.expressions.map(_.collect { case l: LambdaFunction => l }.size).sum).sum

  val CensusHeader: String =
    f"${"query"}%-34s exch reuse smj shj bhj bnlj win sortN hof"

  /** The census table: header plus one line per query (default: the
    * `SPARK_GRAFT_ONLY` selection); a query that fails prints `ERR` and
    * the census goes on. */
  def census(r: Runner, names: Seq[String] = graft.SparkEntry.selected()): Seq[String] =
    CensusHeader +: names.map { name =>
      try censusLine(name, r.run(name))
      catch { case e: Throwable => f"$name%-34s ERR ${e.toString.take(80)}" }
    }

  def censusLine(name: String, run: Run): String = {
    val plan = walk(run.plan).map(_._1)
    val names = plan.map(_.nodeName)
    def c(sub: String) = names.count(_.contains(sub))
    val exch = plan.count { case _: ShuffleExchangeLike => true; case _ => false }
    val hof = (run.plan +: run.sides.map(_._1.executedPlan)).map(lambdas).sum
    f"$name%-34s $exch%4d ${c("ReusedExchange")}%5d ${c("SortMergeJoin")}%3d " +
      f"${c("ShuffledHashJoin")}%3d ${c("BroadcastHashJoin")}%3d " +
      f"${c("BroadcastNestedLoopJoin")}%4d ${c("Window")}%3d ${c("Sort")}%5d $hof%3d"
  }

  /** One plan-evidence file: pre-execution formatted explain, final plan,
    * side executions. */
  def formattedText(run: Run): String = {
    val sb = new StringBuilder
    sb.append(s"== explain(formatted), pre-execution ==\n${run.formatted}\n")
    sb.append(s"== executedPlan after AQE (isFinalPlan) ==\n${run.plan}\n")
    for (((qe, _), i) <- run.sides.zipWithIndex)
      sb.append(s"\n== side execution $i (construction-time " +
        s"materialization / closure round) ==\n${qe.executedPlan}\n")
    sb.toString
  }

  /** Writes `<dir>/<name>_<suffix>.txt` per query. */
  def formatted(r: Runner, dir: java.nio.file.Path, suffix: String,
                names: Seq[String]): Unit = {
    Files.createDirectories(dir)
    for (name <- names) {
      val out = dir.resolve(s"${name}_$suffix.txt")
      Files.writeString(out, formattedText(r.run(name, withFormatted = true)))
      println(s"wrote $out")
    }
  }

  private val BytesKeys = Set("dataSize", "shuffleBytesWritten", "spillSize")
  private val NodeKeys =
    BytesKeys ++ Set("numOutputRows", "shuffleRecordsWritten", "numPartitions")
  private val SideShuffleFloor = 1L << 20

  private def fmt(b: Long): String =
    if (b >= (1L << 30)) f"${b / 1e9}%.2fGB"
    else if (b >= (1L << 20)) f"${b / 1e6}%.1fMB"
    else s"${b}B"

  private def shuffleWritten(p: SparkPlan): Long =
    walk(p).map(_._1.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)).sum

  /** [[walk]]'s nodes with their metrics, one line each. Unlike [[walk]],
    * an in-memory scan descends into the plan that built its cache (a
    * `Stages.persisted` stage), under a `(cached stage)` line. */
  private def tree(p: SparkPlan, from: Int = 0): Seq[String] =
    walk(p, from).flatMap { case (n, depth) =>
      val ms = n.metrics.collect {
        case (k, m) if NodeKeys.contains(k) && m.value > 0 =>
          s"$k=${if (BytesKeys.contains(k)) fmt(m.value) else m.value.toString}"
      }.toSeq.sorted.mkString(" ")
      val label = n match {
        case a: AdaptiveSparkPlanExec => a.simpleString(0) // carries isFinalPlan
        case _ => n.nodeName
      }
      val line = ("  " * depth) + label + (if (ms.nonEmpty) s"  [$ms]" else "")
      n match {
        case re: ReusedExchangeExec =>
          Seq(line, ("  " * (depth + 1)) + s"(reused exchange #${re.child.id})")
        case m: InMemoryTableScanExec =>
          Seq(line, ("  " * (depth + 1)) + "(cached stage)") ++
            tree(m.relation.cachedPlan, depth + 2)
        case _ => Seq(line)
      }
    }

  /** Per-operator shuffle attribution for one query: which exchange grew
    * when a total moved. Sides that shuffled under 1 MB (codebook-sample
    * collects, convergence counts) are summed, not printed. */
  def nodes(r: Runner, name: String): Seq[String] = {
    val run = r.run(name)
    val execs = run.sides.map { case (qe, ns) => (qe.executedPlan, ns / 1e9, false) } :+
      ((run.plan, run.driveSec, true))
    val (printed, rest) = execs.partition { case (p, _, main) =>
      main || shuffleWritten(p) > SideShuffleFloor }
    val out = Seq(f"QUERY $name rows=${run.rows} wall=${run.sec}%.1f dir=${r.sfDir}") ++
      printed.zipWithIndex.flatMap { case ((p, sec, main), i) =>
        val sh = fmt(shuffleWritten(p))
        Seq(f"\n=== execution $i${if (main) " MAIN" else ""} " +
          f"(shuffle written $sh, wall $sec%.1f s) ===") ++ tree(p) :+
          s"--- execution $i total shuffle written: $sh"
      }
    val accounted = printed.map(_._2).sum
    val restSec = rest.map(_._2).sum
    out :+ (f"\nWALL $name total=${run.sec}%.1f s: printed executions " +
      f"$accounted%.1f s, ${rest.length} sub-1MB executions " +
      f"$restSec%.1f s (closure rounds, convergence counts), " +
      f"unattributed ${run.sec - accounted - restSec}%.1f s " +
      "(driver-side bookkeeping, plan/codegen time)")
  }

  /** PLANS.md: the final plans of the headline queries, each with the
    * scale-relevant property it is designed to have. */
  def plansMd(r: Runner, names: Seq[String] = PlanNotes.keys.toSeq.sorted): String = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the headline operators\n\n")
    sb.append("Regenerate with `scripts/run_tool.sh graft.tools.Inspect plans-md <sfDir>` ")
    sb.append(s"(AQE on, ${r.spark.sparkContext.master}, ${r.sfDir}). Each plan is the shape the operator\n")
    sb.append("is DESIGNED to produce at scale; PlanSpec asserts the load-bearing\nproperties so they cannot regress silently.\n")
    for (name <- names) {
      val plan = r.run(name).plan.toString
      sb.append(s"\n## $name\n\n${PlanNotes(name)}\n\n```\n")
      sb.append(plan.linesIterator.take(60).mkString("\n"))
      sb.append("\n```\n")
    }
    sb.toString
  }

  private val PlanNotes = Map(
    "s8_scan_project" -> "Filter + projection reach the parquet scan (PushedFilters / pruned ReadSchema) — at 100 TB this is the difference between reading 2 columns and reading 16.",
    "j1_similarity_join" -> "Candidate side broadcast; the >= cutoff accept runs as the BroadcastNestedLoopJoin CONDITION, so only surviving pairs materialize; argmax is a partial-aggregating max(struct), shuffling one row per left key per partition.",
    "j1_blocked_join" -> "Scale path: keyword tokens exploded, stop-token frequency filter broadcast, equi-join on token replaces the cross product; shuffle volume is the sum of block sizes.",
    "d2_minhash_pairs" -> "Signature table persisted once; band explode + equi-join generates candidates (O(docs x bands) shuffle); the wide shingle arrays never shuffle — the corpus streams against the broadcast pair list twice.",
    "a2_pricing_summary" -> "Partial (map-side) + final hash aggregation — one narrow shuffled row per group per partition.",
    "a6_argmax" -> "Argmax as partial-agg max(struct(...)) — no per-group global sort; the oracle runs the equivalent row_number window.",
    "n1_ann_bruteforce" -> "Query set broadcast, corpus streamed once; rank window sees only (ids, cosine).",
    "x1_salted_agg" -> "Two-stage salted aggregation: hot keys split over salt buckets in stage 1, tiny re-merge by key in stage 2.",
    "d6_simhash_neardup" -> "Banded hamming-LSH: fingerprints persisted once, candidates from an equi-join on exact 16-bit slices, bit_count(xor) verification — O(docs x bands) shuffle, never O(docs^2).",
    "n3_ann_ivf" -> "IVF: median centroids from one groupBy, probes broadcast, corpus equi-joined on cluster id only — no corpus-wide scoring.",
    "g3_multijoin_topk" -> "3-way join with selective filters pushed to each scan; grouped integer revenue with partial aggregation; TakeOrdered top-10.",
    "d5_embedding_neardup" -> "LSH-bucket blocking (no label column needed): per-vector buckets from one native-kernel pass, self-equi-join on (table, bucket), distinct slim (id,id) pairs, vectors re-joined by id only for colliding pairs — cosine never runs on the cross product.",
    "x3_approx_stats" -> "KMV bottom-k distinct: map-side partial dedup bounds the exchange to O(n_distinct) longs, TakeOrdered(k) replaces any global sort; the three 1-row aggregates cross-join via broadcast.",
    "y1_asof_join" -> "As-of join as union-merge: no inequality join anywhere — both sides union, one window sort per user fills the latest purchase payload forward; linear shuffle instead of per-key O(L x R).",
    "y2_range_join" -> "Range join as bucket decomposition: intervals explode onto covering buckets, points hash-join on bucket id, exact bound re-checked — no BroadcastNestedLoopJoin in the tree.",
    "c1_decontaminate" -> "Decontamination: both corpora explode to 8-byte gram hashes, distinct per doc bounds the shuffle, join on the hash only — doc texts never appear in a shuffle and nothing is doc x doc.",
    "t7_tfidf_topk" -> "TF-IDF: per-doc term counts stay linear (explode + partial agg); the vocabulary-sized doc-frequency table and the 1-row corpus count broadcast back onto them; integer score, per-doc top-k window.",
    "t8_boilerplate" -> "Boilerplate ratio: one distinct per-doc gram-hash pass reused (persisted) for both the frequency count and the per-doc totals; the high-frequency head set broadcasts — the corpus gram stream is never self-joined.",
    "p4_source_balance" -> "Source-mix balancing: per-source token totals and their global min are two tiny aggregates broadcast back; the keep decision is a narrow hash filter — one linear pass over the corpus.",
    "p2_stratified_sample" -> "Stratified sample: a 1024-bucket hash histogram per stratum (partial agg) broadcasts per-stratum bucket edges back; only rows at or below the edge enter the rank window — window input is ~k + |stratum|/1024 rows, never the whole stratum.",
    "n4_ann_ivf_lloyd" -> "IVF + one Lloyd round: reassignment streams the corpus against broadcast centroids and slims to (id, cluster, cdist) BEFORE the argmin window; median re-centroids are one partial-aggregated groupBy; probe and score equi-join on cluster id only.",
    "n5_ann_pq" -> "PQ ANN: the corpus-wide stage carries (id, 8-int code) — ~8x less than the float embedding payload; encode/decode are codegen'd folds over literal codewords; full vectors re-join by id only for the rerank x k survivors.",
    "d8_sig_verified_neardup" -> "Signature-estimate verification: the store side is (id, sig, bands) only; agreement is the codegen'd SigAgree kernel over two 16-long arrays (the zip_with/aggregate twin was CodegenFallback — interpreted per candidate pair) — no shingle arrays anywhere in the plan.",
    "m2_ppm_decode" -> "Multimodal decode: payload assembly is a codegen'd expression and the codec runs as a narrow mapPartitions — no exchange anywhere before the final presentation sort, so a 100 TB binary corpus decodes at scan speed.",
    "y4_band_join" -> "Band join as +/-1-bucket decomposition: hash join on (user, bucket) with the exact |diff| <= delta re-check as the post-join filter — no BroadcastNestedLoopJoin; shuffle is 3|L|+|R| slim rows.",
    "y5_interval_overlap" -> "Interval overlap via bucket decomposition: both session sides explode onto covering buckets, equi-join on bucket, exact overlap + anchor-bucket emit-once filter — no pair DISTINCT and no nested-loop time join.",
    "t9_scrub_boilerplate" -> "Span scrub: slim (id, pos, hash) gram stream; shared head set broadcast; only shared occurrences' covered positions shuffle back per doc; the final token filter is a narrow array op — text bytes never enter an exchange.",
    "n7_knn_join" -> "kNN JOIN (query set = corpus): candidates from a sign-LSH bucket SELF-equi-join over slim (id, table, bucket) rows — O(N x tables) shuffle, never N^2; embedding payloads re-join by id only for colliding pairs; the rank window sees (ids, cosine) only.",
    "t10_heavy_hitters" -> "Exact heavy hitters: Misra-Gries summaries run as a narrow mapPartitions (no exchange carries the vocabulary tail); the tiny candidate superset broadcasts onto the token stream; one exact recount + integer cutoff makes the sketch's output exact.",
    "x4_zorder_stats" -> "Z-order stats: the Morton interleave lowers to pure codegen'd shift/mask/add longs over the scan; one partial-aggregated groupBy on the z-bucket — the layout writer reuses the same z-value for range-partitioned clustered writes.",
    "w7_funnel" -> "Conversion funnel: the sequential stage dependency runs as three unordered per-user window minima over ONE partitioning — the event stream hash-shuffles on user_id exactly once; no self-join, no per-stage re-read of the stream.",
    "x6_grouped_kmv" -> "Grouped KMV: per-group bottom-k hashes located by a WindowGroupLimit partial — each map task keeps k rows per group before the exchange; no group ever sorts its full distinct set.",
    "x7_kmv_overlap" -> "KMV set algebra: two sketch builds (distinct -> TakeOrdered(k)) and sketch-sized semi-joins estimate |A|, |B|, |union|, |intersection| — the corpus and held-out gram sets are never joined against each other.",
    "d10_pq_neardup" -> "PQ-screened near-dup: one persisted corpus pass computes LSH buckets + PQ codes; pairs block on the bucket equi-join, screen via the PqPairDot kernel (dot straight off the codebooks — no per-collision decode materialization), and only approx-survivors re-join the full vectors for the exact cosine.",
    "d12_span_dedup" -> "C4 span dedup: keep-first is a partial-aggregable min(struct) on the full 128-bit span md5 — a hot boilerplate span collapses map-side before the exchange instead of skewing one reduce key (a window rank would ship every copy); span text rides exactly two exchanges (distinct-span argmin, per-doc regroup); the count join moves (id, n_spans) only.",
    "d13_incremental_span_dedup" -> "Incremental span scrub: only the batch explodes to spans; the store probe is a hash LEFT ANTI join on span_md5 against a membership set of one hash per distinct span — no text, no positions, no corpus re-read; two-layer keep-first (intra-batch argmin, then store anti-join) equals the full recompute.",
    "d14_winnowing_overlap" -> "Winnowing overlap: fingerprinting is scan -> single-pass kernel -> explode — the gram stream (w/2 x the fingerprint table) never leaves its scan task, zero exchanges before the checkpointed ~2/(w+1)-density fingerprint table; the df cap drops corpus-ubiquitous fingerprints BEFORE the self-join so no fingerprint fans out quadratically.",
    "p9_epoch_ordinals" -> "Global ordinals: range partition on the order keys -> local rank -> O(partitions)-row offset aggregate broadcast back; the eager checkpoint freezes ONE physical partitioning before spark_partition_id is read from two subtrees (AQE coalescing or fresh boundary sampling would otherwise corrupt ordinals); no single-partition global window anywhere.",
    "t11_oov_unk" -> "OOV/UNK rewrite: the kept vocabulary (high-df head, small by construction) broadcasts onto the positional token stream as a hash ANTI-join; only OOV positions shuffle back per doc; the rewrite itself is a narrow kept/oov position merge (array_except + sort) — linear per doc, and the only BNLJ is the 1-row nDocs scalar cross.",
    "t12_bigram_fluency" -> "Bigram fluency: the corpus bigram stream materializes once (eager checkpoint) and feeds both the count aggregate and the join probe; the count table joins by key with no broadcast assumption — a real bigram vocabulary can exceed broadcast size; integer-exact sum DIV count.",
    "t13_classifier_score" -> "Linear-model scoring: the vocabulary head comes from TakeOrderedAndProject (per-partition heap top-k, no global sort); the model join is unhinted so AQE broadcasts a small model but shuffle-hashes a multi-million-feature one; single pass — every doc survives the explode, the model joins LEFT onto the token stream, and one groupBy recovers n_tokens/n_hits/score together (no second corpus scan, no rejoin); text never enters an exchange.")
}
