package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, Vectors}
import graft.model.{Stages, Tables}
import graft.operators.Dedup

/** Dedup operator family bound to the documents/embeddings corpus.
  * Near-dup inputs are made non-trivial by unioning a deterministic
  * mutated copy of each document/vector (id + 100000), so every query
  * has a real positive set under the oracle hash-compare.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.spread(Tables.load(s, d, n))

  private val K = 3       // shingle size
  private val H = 16      // minhash functions
  private val B = 4       // LSH bands (rows = 4)

  /** documents ∪ exact copies (ids + 100000). */
  private def docsWithCopies(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** documents ∪ tail-mutated copies (near-dups, not exact). */
  private def docsWithMutations(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz qq ww")).as("text")))
  }

  /** Shared per-(session, sfDir) stages ([[graft.model.Stages]]): ONE
    * signature pass over the mutations corpus feeds the d2 pair list,
    * c2's clustering, and c3's incremental batch pairing; the c2
    * labeling is likewise computed once and reused as c3's starting
    * state. */
  private def mutationSigsDf(s: SparkSession, d: String): DataFrame =
    Stages.persisted(s, "mutation_sigs", d)(
      Dedup.minhashSignatures(docsWithMutations(s, d), "doc_id", "text", K, H, B))

  /** Signatures of the PLAIN documents corpus (no mutations) — the
    * persisted "yesterday's store" side shared by d2's signature dump
    * and the incremental queries d7/d8; each of those reads it from two
    * plan subtrees, so an unpersisted frame would re-run the md5
    * minhash chain per subtree. */
  private def docSigsDf(s: SparkSession, d: String): DataFrame =
    Stages.persisted(s, "doc_sigs", d)(
      Dedup.minhashSignatures(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", K, H, B))

  /** Materialize a production-persisted store as a BUCKETED table
    * (write-once via [[graft.sources.Layout.writeBucketed]], then read
    * back) — unlike the in-memory stages, these model artifacts a real
    * deployment builds ONCE and keeps on disk ("yesterday's store"):
    * every subsequent batch probes the clustered parquet, and because
    * the table is bucketed on the probe key the store side of the join
    * never shuffles. Keyed by sf-dir so a fresh JVM rebuilds (never a
    * stale read across code changes); table lives in the session's
    * warehouse dir, so the registry keeps it unpersisted. */
  private def bucketedStore(s: SparkSession, d: String, name: String,
                            key: String)(build: => DataFrame): DataFrame =
    Stages.shared(s, name, d) {
      val tbl = s"graft_${name}_${(d.hashCode & 0x7fffffff).toHexString}"
      // a previous JVM may have left the managed location behind (its
      // in-memory catalog died with it, but the warehouse dir is on
      // disk); CTAS refuses a pre-existing managed location, so drop
      // both the catalog entry and any orphaned directory first
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      graft.sources.Layout.writeBucketed(build, tbl, 16, key)
      s.table(tbl)
    }

  /** Labeling of the PLAIN documents corpus (self-pairs of the raw
    * 500-doc table — typically sparse), the existing-cluster state u5's
    * ingest merge starts from. Bucketed on `node`: the merge's
    * endpoint-contraction join probes it by node without shuffling the
    * corpus-sized label table. */
  private def plainLabelsDf(s: SparkSession, d: String): DataFrame =
    bucketedStore(s, d, "plain_labels", "node")(
      graft.operators.Components.connectedComponentsStar(
        Dedup.pairsFromSigs(docSigsDf(s, d), "doc_id", B, 50), "id_a", "id_b"))

  /** Grid-16 span store of the PLAIN documents corpus — "yesterday's
    * persisted store" shared by d13 and u5. Bucketed on `span_md5`
    * (the layout [[graft.operators.Dedup.spanStore]]'s doc prescribes):
    * each ingest batch's membership anti-join probes co-located buckets
    * instead of shuffling the store. */
  private def spanStoreDf(s: SparkSession, d: String): DataFrame =
    bucketedStore(s, d, "span_store", "span_md5")(
      Dedup.spanStore(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", 16))

  /** Force-build the persisted stores the incremental queries (d7, d8,
    * d13, c3/c6, u5) probe — span store, plain-corpus labeling, and the
    * signature store they derive from. A deployment pays this ONCE at
    * bootstrap and then runs batches against the artifacts; calling it
    * before measuring puts the bench on the same steady-state footing
    * (Bench times it separately as `prebuild_sec`). */
  def prebuildStores(s: SparkSession, d: String): Unit = {
    docSigsDf(s, d).count()
    spanStoreDf(s, d).count()
    plainLabelsDf(s, d).count()
  }

  /** Delegates to [[graft.model.Stages.release]], which drops every
    * shared stage of every query family. Kept under this name because
    * the benchmark harness (`perfbench/`) calls it between operations. */
  def releaseMemos(): Unit = Stages.release()

  private def minhashPairsDf(s: SparkSession, d: String): DataFrame =
    Stages.persisted(s, "minhash_pairs", d)(
      Dedup.pairsFromSigs(mutationSigsDf(s, d), "doc_id", B, 50))

  private def dupClustersDf(s: SparkSession, d: String): DataFrame =
    Stages.persisted(s, "dup_clusters", d)(
      graft.operators.Components.connectedComponentsStar(
        minhashPairsDf(s, d), "id_a", "id_b"))

  /** The embedding near-dup universe — originals plus a +0.05-on-dim-1
    * mutated copy of every vector (id + 100000) — shared by d5/c5
    * (via [[embeddingPairsDf]]) and d10. ONE definition: the d10-is-a-
    * subset-of-d5 invariant DedupSpec checks is only meaningful while
    * all consumers see byte-identical inputs. */
  private[graft] def embeddingUniverse(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    // array-level Cast + element_at/slice/concat instead of the
    // transform/zip_with HOFs: the HOF pair is CodegenFallback, so the
    // whole-corpus universe construction ran its per-element lambdas
    // INTERPRETED once per row per consuming subtree. The non-HOF form
    // is value-identical: Cast(array<float> → array<double>) is the
    // same elementwise widening (null elements preserved), +0.05 on
    // the double is the same addition, and the empty/NULL-array edges
    // are guarded to the zip_with results (empty → empty, NULL → NULL;
    // DedupSpec's d10⊂d5 invariant and the d5/c5/d10 oracles pin it).
    def dv = col("embedding").cast("array<double>")
    val orig = e.select(col("vec_id"), dv.as("vec"))
    val mut = e.select((col("vec_id") + 100000).as("vec_id"),
      when(size(dv) >= 1,
        concat(array(element_at(dv, 1) + 0.05), slice(dv, lit(2), size(dv) - 1)))
        .otherwise(dv).as("vec"))
    orig.unionByName(mut)
  }

  /** Corpus-sized LSH geometry for d10_scaled, shared per sfDir — one
    * exact count of the embedding universe per corpus per session. An
    * Int stage, not a DataFrame: nothing to unpersist, and the count
    * re-runs per fresh corpus by design. */
  private def scaledBits(s: SparkSession, d: String): Int =
    Stages.shared(s, "scaled_bits", d)(
      graft.operators.SimilaritySearch.scaledLshBits(embeddingUniverse(s, d).count()))

  /** d5's thresholded embedding near-dup pairs, shared by the pair dump
    * (d5) and the cluster formation (c5) — the same one-modality-in,
    * many-consumers stage shape as the minhash pair table. */
  private def embeddingPairsDf(s: SparkSession, d: String): DataFrame =
    Stages.persisted(s, "embedding_pairs", d)(
      // bits=8 / cap=256 is the oracle-pinned geometry: measured max
      // bucket occupancy at sf0.1 is 149, so the cap never binds here
      // and the result equals the uncapped join (SCALE.md round-9
      // notes measure what the same operator does when the corpus
      // outgrows the geometry, and the scaled-bits configuration that
      // restores linearity)
      graft.operators.SimilaritySearch.lshNearDupPairs(
          embeddingUniverse(s, d), "vec_id", "vec",
          minCosine = 0.9, bits = 8, tables = 4, maxBucket = 256))

  val queries: Map[String, Q] = Map(
    // D-1: exact dedup by content hash, keep-lowest-id
    "d1_exact_dedup" -> ((s, d) =>
      Dedup.exactDedup(docsWithCopies(s, d), "doc_id", "text")
        .orderBy(col("content_hash"))),

    // C-5: duplicate clusters over EMBEDDING near-dup pairs — the same
    // star-contraction machinery c2 runs on text-minhash pairs, proving
    // the cluster stage is modality-independent: any pair generator
    // (minhash, simhash, embedding LSH) feeds the same closure.
    // AT SCALE, USE c5_embedding_clusters_scaled: this pinned bits=8
    // geometry is the correctness-tier declaration (the cap never binds
    // at the oracle SFs, so the pair set equals the uncapped join); at
    // x100 the same plan's candidate tail moves full vectors over a
    // ~1000×N collision list (~80 GB shuffle, skipped in SCALE.md's
    // sweep). The scaled twin below is the configuration a 100 TB
    // deployment runs.
    "c5_embedding_clusters" -> ((s, d) =>
      graft.operators.Components.connectedComponentsStar(
          embeddingPairsDf(s, d), "id_a", "id_b")
        .select(col("node").as("vec_id"), col("cluster").as("cluster_id"))
        .orderBy(col("vec_id"))),

    // C-5 scaled: the same star-contraction closure over the SCALE-SAFE
    // pair generator — corpus-sized LSH banding (scaledLshBits holds
    // mean bucket occupancy ~16 as N grows) with refine-then-cap on the
    // occupancy tail (12 extension sign bits from an independent
    // per-table hyperplane family re-split any over-cap bucket; flat
    // cap=128 remains only for clone masses that agree on every
    // extension sign — where dropping intra-clique edges keeps the
    // clique CONNECTED through the asymmetric probe join, exactly what
    // a clustering consumer needs). Same d10_scaled geometry, applied
    // to c5's exact-cosine pair generator; the oracle replicates
    // banding, refinement and cap selection before the recursive
    // closure, so all three geometry stages sit under the hash gate.
    // Pair list is slim (id_a, id_b) and materialized once —
    // connectedComponentsStar reads its edge input from two subtrees.
    "c5_embedding_clusters_scaled" -> ((s, d) =>
      graft.operators.Components.connectedComponentsStar(
          graft.operators.Materialize.once(
            graft.operators.SimilaritySearch.lshNearDupPairs(
                embeddingUniverse(s, d), "vec_id", "vec",
                minCosine = 0.9, bits = scaledBits(s, d), tables = 4,
                maxBucket = 128, refineBits = 12)
              .select(col("id_a"), col("id_b"))),
          "id_a", "id_b")
        .select(col("node").as("vec_id"), col("cluster").as("cluster_id"))
        .orderBy(col("vec_id"))),

    // D-2a: MinHash signatures + band keys (shingle k=3, 16 hashes, 4 bands)
    "d2_minhash_signature" -> ((s, d) =>
      docSigsDf(s, d)
        .select(col("doc_id"), array_join(col("sig"), ",").as("sig_csv"),
          col("band_0"), col("band_1"), col("band_2"), col("band_3"))
        .orderBy(col("doc_id"))),

    // D-2b: LSH candidate pairs verified by exact shingle Jaccard >= 50
    "d2_minhash_pairs" -> ((s, d) =>
      minhashPairsDf(s, d).orderBy(col("id_a"), col("id_b"))),

    // D-7: incremental near-dup — today's batch (mutated copies of every
    // 5th doc) against yesterday's signature store; the existing corpus
    // is never re-hashed, work is O(batch + collisions)
    "d7_incremental_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val incoming = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz qq ww")).as("text"))
      Dedup.incrementalMinhashPairs(incoming, docSigsDf(s, d),
          "doc_id", "text", K, H, B, 50)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D-8: incremental near-dup with SIGNATURE-ESTIMATE verification —
    // same ingest scenario as d7, but the store side carries only
    // (id, sig, bands): no shingle arrays, O(numHashes) longs per doc.
    // Pairs are verified by the MinHash agreement fraction (exact
    // integer arithmetic, unbiased estimator of the Jaccard) — the
    // 100 TB-viable store layout for the continuous path.
    "d8_sig_verified_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val incoming = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz qq ww")).as("text"))
      val store = Dedup.sigOnly(docSigsDf(s, d), "doc_id", B)
      val newSigs = Dedup.sigOnly(
        graft.operators.Materialize.once(
          Dedup.minhashSignatures(incoming, "doc_id", "text", K, H, B)),
        "doc_id", B)
      Dedup.incrementalPairsBySig(newSigs, store, "doc_id", H, B, 50)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // C-2: near-dup pairs → duplicate CLUSTERS via connected
    // components (large-star/small-star contraction — the edge set
    // shrinks every round and no reduce key ever aggregates a whole
    // component, so giant dup-clusters don't skew; ComponentsSpec
    // proves label-equality with min-label propagation). Cluster id =
    // min doc id, so keep-one-per-cluster is a trivial filter
    // downstream. The oracle computes the same closure recursively.
    "c2_dup_clusters" -> ((s, d) =>
      dupClustersDf(s, d)
        .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy(col("doc_id"))),

    // C-3: incremental cluster maintenance — a new ingest batch
    // (near-dup copies of every 9th doc, ids +200000) is banded against
    // the existing corpus (d7-style, O(batch + collisions)), and the
    // resulting pairs are folded into c2's labeling WITHOUT re-running
    // the global closure: contract batch endpoints to their cluster
    // reps, run star CC on the O(batch) contracted graph, broadcast the
    // (rep → merged-min) map over the label table. The oracle recomputes
    // the full closure over (old ∪ batch) pairs — labels must agree.
    "c3_incremental_clusters" -> ((s, d) => {
      val incoming = t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" rr ss")).as("text"))
      // the existing-corpus signatures and labeling are SHARED
      // stages — the batch pays only its own hashing, banding
      // against the store, and the O(batch) contracted merge
      val batchPairs = Dedup.incrementalMinhashPairs(incoming, mutationSigsDf(s, d),
        "doc_id", "text", K, H, B, 50)
      graft.operators.Components.mergeIncrementalClusters(
          dupClustersDf(s, d), batchPairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // C-6: base+delta label RESOLUTION — the perpetual-ingest READ
    // path, oracled: the same ingest as c3, but the batch persists only
    // its O(merged-members) DELTA and the current labeling is resolved
    // latest-batch-wins per node over (base, delta). Resolution must
    // equal the full merged labeling — the same full-closure oracle as
    // c3 proves delta + resolve loses nothing. Scale shape: the
    // corpus-sized base never shuffles (one anti-join against the
    // resolved delta nodes, AQE-broadcast while deltas are small).
    "c6_label_resolution" -> ((s, d) => {
      val incoming = t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" rr ss")).as("text"))
      val batchPairs = Dedup.incrementalMinhashPairs(incoming, mutationSigsDf(s, d),
        "doc_id", "text", K, H, B, 50)
      val base = dupClustersDf(s, d)
      val delta = graft.operators.Components.mergeIncrementalClustersDelta(
        base, batchPairs, "id_a", "id_b")
      graft.operators.Components.resolveLabels(
          base, delta.withColumn("batch_id", lit(1)))
        .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // D-9: the dedup story's last step — keep one canonical document
    // per near-dup cluster (the cluster minimum) plus every unclustered
    // doc. A left-anti join against the non-canonical members (node !=
    // cluster, a frame far smaller than the corpus → AQE broadcasts it)
    // — the corpus streams through in one narrow pass.
    "d9_keep_canonical" -> ((s, d) => {
      val nonCanonical = dupClustersDf(s, d)
        .filter(col("node") =!= col("cluster"))
        .select(col("node").as("doc_id"))
      docsWithMutations(s, d)
        .join(nonCanonical, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).as("text_len"))
        .orderBy(col("doc_id"))
    }),

    // U-4: the full LLM-curation pipeline with NEAR-dup dedup — the
    // capstone composition: corpus → minhash-LSH pairs → star-CC
    // clusters → canonical selection (all via the shared stages)
    // → quality gate → deterministic split → per-(split,class)
    // stats. u3's exact-hash dedup can't collapse tail-mutated copies;
    // this removes a whole near-dup CLUSTER down to its minimum.
    "u4_neardup_curation" -> ((s, d) => {
      val nonCanonical = dupClustersDf(s, d)
        .filter(col("node") =!= col("cluster"))
        .select(col("node").as("doc_id"))
      val canonical = docsWithMutations(s, d)
        .join(nonCanonical, Seq("doc_id"), "left_anti")
      val scored = Tables.spread(canonical)
        .select(col("doc_id"),
          graft.functions.TextStats.classify(col("text")).as("cls"),
          graft.functions.TextStats.qualityScore(col("text")).as("q"),
          size(split(col("text"), " ")).as("n_tokens"))
      graft.operators.Curation.hashSplit(scored.filter(col("q") >= 40), "doc_id")
        .groupBy(col("split"), col("cls"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("q").cast("long")).as("sum_q"))
        .orderBy(col("split"), col("cls"))
    }),

    // D-3: 32-bit SimHash fingerprints
    "d3_simhash" -> ((s, d) =>
      Dedup.simhashes(t(s, d, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", 32)
        .orderBy(col("doc_id"))),

    // D-6: SimHash near-dup search — banded hamming-LSH join, verified
    // by bit_count(xor) <= 4 (48-bit fingerprint, 3 bands of 16 bits)
    "d6_simhash_neardup" -> ((s, d) =>
      Dedup.simhashNearDup(docsWithMutations(s, d), "doc_id", "text",
          bits = 48, bands = 3, maxHamming = 4)
        .orderBy(col("id_a"), col("id_b"))),

    // D-11: full-containment (fragment) detection — finds the 15-token
    // head fragments inside their source docs, exactly the subset dups
    // whose Jaccard is too low for minhash bands to ever collide.
    // Candidates block on each doc's globally rarest gram (guaranteed
    // recall for full containment); the oracle computes exact all-pairs
    // gram-set containment.
    "d11_containment" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val frags = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          array_join(slice(Hashing.tokens(col("text")), 1, 15), " ").as("text"))
      Dedup.containmentPairs(docs.unionByName(frags), "doc_id", "text", K)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D-4: character-3-gram Jaccard over adjacent doc pairs (first 60 chars)
    "d4_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      Dedup.ngramJaccard(a.join(b, col("id_b") === col("id_a") + 1), "text_a", "text_b", 3, 60)
        .select(col("id_a"), col("id_b"), col("ngram_jaccard100"))
        .orderBy(col("id_a"))
    }),

    // D-5: embedding-cosine near-dup pairs, blocked on deterministic
    // multi-table sign-LSH buckets (the honest scale path: a raw corpus
    // has no label column to block on). Candidate generation is
    // O(vectors × tables) bucket rows; cosine is verified only on
    // bucket collisions; pair enrichment shuffle-joins the slim
    // (id_a, id_b) list back to vectors on id — no wide payloads in
    // the candidate shuffle. OR-amplified recall (4 tables × 8 bits)
    // is measured in DedupSpec; see SCALE.md.
    // D-10: the d5 shape with PQ-COMPRESSED pair verification — the
    // corpus-wide pair stage carries 8-int codes (~8× smaller than the
    // float vectors); full vectors join only for approx-survivors. Same
    // universe and 0.9 cutoff as d5; margin 0.15 absorbs PQ distortion
    // (DedupSpec measures recall vs the exact d5 verifier).
    // AT SCALE, USE d10_pq_neardup_scaled: this pinned bits=8 geometry
    // is the correctness-tier declaration; its buckets saturate once
    // the corpus outgrows them (measured 378 s + 47.7 GB spill at x100
    // vs the scaled twin's ~100 s, zero spill).
    "d10_pq_neardup" -> ((s, d) =>
      graft.operators.SimilaritySearch.pqNearDupPairs(
          embeddingUniverse(s, d), "vec_id", "vec", dim = 64,
          threshold = 0.9, margin = 0.15, bits = 8, tables = 4,
          maxBucket = 256)
        .orderBy(col("id_a"), col("id_b"))),

    // D-10 scaled: the same PQ near-dup with CORPUS-SIZED banding —
    // bits = scaledLshBits(N) holds per-bucket occupancy ~16 as N grows,
    // the configuration a 100 TB run uses (the pinned bits=8 geometry
    // saturates its buckets at x100: 47.7 GB spill, 378 s; scaled bits
    // measured 109 s with zero spill — SCALE.md). One exact count()
    // derives the geometry; the oracle recomputes the identical bits
    // from the identical count with integer-only arithmetic. The
    // candidate-side treatment of the occupancy TAIL (scaled bits
    // bound only the MEAN; candidate volume is Σ occupancy², and at
    // x200 the ·r-replica corpus concentrates sign patterns: p99
    // occupancy 230, max 5623 — cap=256 alone measured 398 s warm with
    // 108 GB of spill) is refine-then-cap: members of a bucket over
    // the cap are re-keyed by 12 extension sign bits from an
    // independent per-table hyperplane family
    // (BucketCap.splitHot — the scaled-bits rule applied locally to
    // the tail: 12 bits re-split any bucket up to 2^12× the cap back
    // toward target occupancy), and the flat cap=128 (8× target
    // occupancy — headroom for leaf skew) remains only as the last
    // resort for clone masses that agree on every extension sign
    // (where dropping intra-clique edges is intended; connectivity
    // survives, DedupSpec pins it). Measured x100 pair recall on the
    // cached uncapped truth: flat cap=64 0.794, refine-then-cap
    // 0.954 (SCALE.md sweep; cap=256 alone reached 0.927 only by
    // riding the volume that breaks it at x200). The oracle
    // replicates banding, refinement AND the cap's smallest-hash
    // selection (sqlSplitHot + sqlCapped), so all three geometry
    // stages sit under the cross-engine hash gate.
    "d10_pq_neardup_scaled" -> ((s, d) =>
      graft.operators.SimilaritySearch.pqNearDupPairs(
          embeddingUniverse(s, d), "vec_id", "vec", dim = 64,
          threshold = 0.9, margin = 0.15, bits = scaledBits(s, d), tables = 4,
          maxBucket = 128, refineBits = 12)
        .orderBy(col("id_a"), col("id_b"))),

    "d5_embedding_neardup" -> ((s, d) =>
      embeddingPairsDf(s, d).orderBy(col("id_a"), col("id_b"))),

    // D-12: C4-style duplicate-SPAN removal — the corpus plus pasted
    // docs (+300000) whose 32 tokens are a source doc's first 16-token
    // span twice over. The grid-aligned paste means both spans lose
    // the global keep-first race ((orig, 0) < (dup, 0) < (dup, 1)), so
    // every pasted doc scrubs to "" while originals keep everything —
    // exercising intra-doc repeats, cross-doc repeats, and the
    // empty-reassembly edge in one deterministic universe. This is the
    // sub-document dedup minhash can't do: a doc assembled from other
    // docs' spans has low whole-doc Jaccard against each source.
    "d12_span_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val head16 = array_join(slice(Hashing.tokens(col("text")), 1, 16), " ")
      val pasted = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat_ws(" ", head16, head16).as("text"))
      Dedup.spanDedup(docs.unionByName(pasted), "doc_id", "text", 16)
        .orderBy(col("doc_id"))
    }),

    // D-13: INCREMENTAL span scrub — the d12 semantics in ingest form:
    // the corpus's span hashes are the persisted store (one md5 per
    // distinct span, no text), and only the batch is tokenized. The
    // batch docs are pasted from %11 sources' first-16-token heads, so
    // long-source pastes scrub fully against the store while pastes
    // from docs SHORTER than the grid survive in part (their 2×head
    // paste straddles span boundaries — a genuine misalignment case,
    // not a contrived success). Oracle = full d12-style recompute over
    // corpus ∪ batch restricted to batch rows (corpus ids sort first,
    // so global keep-first equals store-precedence-then-batch-argmin).
    "d13_incremental_span_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val store = spanStoreDf(s, d)
      val head16 = array_join(slice(Hashing.tokens(col("text")), 1, 16), " ")
      val batch = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat_ws(" ", head16, head16).as("text"))
      Dedup.incrementalSpanDedup(batch, store, "doc_id", "text", 16)
        .orderBy(col("doc_id"))
    }),

    // D-14: winnowing partial-overlap detection — fragment docs
    // (+800000) carry 25 tokens sliced from MID-document (offset 11,
    // no grid alignment) plus a unique suffix, so they are neither
    // whole-doc similar (minhash misses), grid-aligned (d12 misses),
    // nor fully contained (d11's n_shared = n_grams_a test misses —
    // the suffix grams aren't in the source). The sliding-window
    // minima still collide on the shared substring: the SIGMOD'03
    // guarantee that any ≥ w+k−1-token overlap shares a fingerprint.
    "d14_winnowing_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val frags = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(array_join(slice(Hashing.tokens(col("text")), 11, 25), " "),
            lit(" qq"), col("doc_id").cast("string")).as("text"))
      Dedup.winnowingOverlap(docs.unionByName(frags), "doc_id", "text",
          k = K, w = 4, minShared = 3, fpDfCap = 100)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D-15: exact-substring scrub at arbitrary offsets (Lee et al. ACL
    // 2022) — the same pasted-fragment universe d14 only DETECTS: every
    // ≥ 8-token run duplicated anywhere in the corpus keeps its first
    // occurrence and is deleted from every later one, so each fragment
    // doc collapses to its unique suffix while its source keeps the
    // text; within-doc repeats scrub too. Oracle replicates the
    // first-occurrence rule with a rank window over the identical
    // positional gram-hash stream.
    "d15_substring_scrub" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val frags = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(array_join(slice(Hashing.tokens(col("text")), 11, 25), " "),
            lit(" qq"), col("doc_id").cast("string")).as("text"))
      Dedup.dedupSubstrings(docs.unionByName(frags), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    }),

    // D-17: incremental winnowing overlap — d14's detector against a
    // persisted fingerprint store: only the pasted-fragment batch is
    // winnowed; pairs touching the batch (fragment-vs-source AND
    // fragment-vs-fragment) must equal the full corpus recompute
    // restricted to batch members, with the df cap computed over
    // store ∪ batch.
    "d17_incremental_winnowing" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val frags = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(array_join(slice(Hashing.tokens(col("text")), 11, 25), " "),
            lit(" qq"), col("doc_id").cast("string")).as("text"))
      val store = Dedup.winnowedFingerprints(docs, "doc_id", "text", K, 4)
      Dedup.incrementalWinnowingOverlap(frags, store, "doc_id", "text",
          k = K, w = 4, minShared = 3, fpDfCap = 100)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D-16: incremental substring scrub — the d15 semantic against a
    // persisted gram store, the way a daily ingest runs it: only the
    // batch is tokenized; a batch gram in the store scrubs everywhere
    // (the store is earlier by construction), a fresh gram duplicated
    // within the batch keeps its batch-first occurrence (the second
    // pasted copy of each fragment scrubs to just its suffix tokens).
    // Oracle = the full d15 recompute over corpus ∪ batch, restricted
    // to batch rows — proving delta processing loses nothing.
    "d16_incremental_substring_scrub" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val frags = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(array_join(slice(Hashing.tokens(col("text")), 11, 25), " "),
            lit(" qq"), col("doc_id").cast("string")).as("text"))
      val copies = frags.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val store = Dedup.substringGramStore(docs, "text", 8)
      Dedup.incrementalSubstringScrub(frags.unionByName(copies), store,
          "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    }),

    // U-5: the INCREMENTAL ingest capstone — one batch flows through
    // the whole continuous-curation path against persisted state, the
    // way a daily 100 TB ingest actually runs: C4 span scrub vs the
    // span store (fully-scrubbed docs DROP here), minhash near-dup of
    // the SCRUBBED text vs the corpus signature store, fold into the
    // existing cluster labeling (O(batch) contracted merge), then
    // leakage-safe split on the merged representative. The batch mixes
    // grid-shifted near-dups (+600000, 'uu' prepended — the scrub
    // keeps them, the minhash catches them, their split follows the
    // source's) with span-pasted docs (+700000 — the scrub kills them
    // before they waste signature work). Oracle = full recompute:
    // span grid over corpus ∪ batch, sigs over corpus ∪ scrubbed
    // survivors, recursive closure over ALL verified pairs, md5 split.
    "u5_incremental_ingest" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val head16 = array_join(slice(Hashing.tokens(col("text")), 1, 16), " ")
      val batch = docs.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 600000).as("doc_id"),
            concat_ws(" ", lit("uu"), col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 15 === 0)
          .select((col("doc_id") + 700000).as("doc_id"),
            concat_ws(" ", head16, head16).as("text")))
      val store = spanStoreDf(s, d)
      // the scrub result feeds two subtrees (signature pass + final
      // join); recomputing the light batch-sized chain beats an eager
      // materialization here (measured at 1x/10x/100x — SCALE.md
      // "u5 recompute vs checkpoint"), and the streaming twin persists
      // instead where the batch recurs across sinks
      val survivors = Dedup.incrementalSpanDedup(batch, store, "doc_id", "text", 16)
        .filter(col("n_spans_kept") > 0)
        .select(col("doc_id"), col("n_spans_kept"), col("clean_text"))
      val batchPairs = Dedup.incrementalMinhashPairs(
        survivors.select(col("doc_id"), col("clean_text").as("text")),
        docSigsDf(s, d), "doc_id", "text", K, H, B, 50)
      val merged = graft.operators.Components.mergeIncrementalClusters(
        plainLabelsDf(s, d), batchPairs, "id_a", "id_b")
      val labeled = survivors
        .join(merged.select(col("node").as("doc_id"), col("cluster")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans_kept"),
          coalesce(col("cluster"), col("doc_id")).as("rep"))
      graft.operators.Curation.hashSplit(labeled, "rep")
        .select(col("doc_id"), col("n_spans_kept"), col("rep"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // P-8: leakage-safe split — train/val/test assignment keyed on the
    // NEAR-DUP CLUSTER representative (min member id; unclustered docs
    // key on themselves), so mutated copies of one document can never
    // straddle the train/test boundary and leak evaluation data into
    // training. Reuses the shared c2 labeling; the assignment itself
    // is p1's md5 bucket arithmetic — one broadcast-or-shuffle join
    // against the slim label table, then a narrow map. CurationSpec
    // asserts every cluster lands in exactly one split.
    "p8_leakage_safe_split" -> ((s, d) => {
      val labels = dupClustersDf(s, d)
        .select(col("node").as("doc_id"), col("cluster"))
      val rep = docsWithMutations(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("rep"))
      graft.operators.Curation.hashSplit(rep, "rep")
        .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    })
  )

  // ───── oracle SQL ─────

  private val copiesSrc =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000, text FROM documents""".stripMargin

  private val mutationsSrc =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000, text || ' zz qq ww' FROM documents""".stripMargin

  /** Full-closure oracle over (old ∪ batch) pairs for the c3-style
    * incremental ingest — shared by c3 (full merged labeling) and c6
    * (delta + latest-wins resolution): both must equal the ground-truth
    * connected components of everything ingested so far. Lazy: refers
    * to SQL-fragment vals whose object-init order must not matter. */
  private lazy val c3FullClosureSql =
    s"""WITH RECURSIVE ${sigCte(
           mutationsSrc + "\n" +
             """UNION ALL SELECT doc_id + 200000, text || ' rr ss'
               |FROM documents WHERE doc_id % 9 = 0""".stripMargin)},
       |banded AS (SELECT doc_id, unnest([${(0 until B).map(b => Hashing.sql.bandKey("sig", b, H / B)).mkString(", ")}]) AS band FROM sigs),
       |bpairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b USING (band)
       |  WHERE a.doc_id < b.doc_id AND (a.doc_id >= 200000 OR b.doc_id >= 200000)),
       |batch AS (SELECT id_a, id_b FROM (
       |    SELECT id_a, id_b,
       |      ${Hashing.sql.jaccard100("list_distinct(sa.sh)", "list_distinct(sb.sh)")} AS j
       |    FROM bpairs JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b)
       |  WHERE j >= 50),
       |allp AS (SELECT id_a, id_b FROM ($d2PairsSql) dp
       |         UNION SELECT id_a, id_b FROM batch),
       |edges AS (SELECT id_a AS u, id_b AS v FROM allp
       |          UNION SELECT id_b, id_a FROM allp),
       |reach(src, dst) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  private def sigCte(src: String): String =
    s"""sigs AS (
       |  SELECT doc_id, sh, ${Hashing.sql.minhashFromHashes("sh", H)} AS sig
       |  FROM (SELECT doc_id, ${Hashing.sql.shingleHashes("shingles")} AS sh
       |        FROM (SELECT doc_id, ${Hashing.sql.shingles("text", K)} AS shingles FROM ($src))))""".stripMargin

  private def bandCols: String =
    (0 until B).map(b => s"${Hashing.sql.bandKey("sig", b, H / B)} AS band_$b").mkString(", ")

  /** D-2b pair generation, reused by c2's cluster oracle (nested WITH
    * runs as a derived table there, so no ORDER BY here). */
  private lazy val d2PairsSql: String =
    s"""WITH ${sigCte(mutationsSrc)},
       |banded AS (SELECT doc_id, unnest([${(0 until B).map(b => Hashing.sql.bandKey("sig", b, H / B)).mkString(", ")}]) AS band FROM sigs),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b USING (band) WHERE a.doc_id < b.doc_id),
       |joined AS (SELECT id_a, id_b,
       |    ${Hashing.sql.jaccard100("list_distinct(sa.sh)", "list_distinct(sb.sh)")} AS jaccard100
       |  FROM pairs JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b, jaccard100 FROM joined
       |WHERE jaccard100 >= 50""".stripMargin

  val oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      s"""SELECT md5(coalesce(text, '')) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
         |FROM ($copiesSrc) GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "d2_minhash_signature" ->
      s"""WITH ${sigCte("SELECT doc_id, text FROM documents")}
         |SELECT doc_id, array_to_string(sig, ',') AS sig_csv, $bandCols
         |FROM sigs ORDER BY doc_id""".stripMargin,
    "d2_minhash_pairs" -> (d2PairsSql + " ORDER BY id_a, id_b"),
    "d7_incremental_neardup" ->
      s"""WITH ${sigCte(
             """SELECT doc_id, text FROM documents
               |UNION ALL SELECT doc_id + 100000, text || ' zz qq ww'
               |FROM documents WHERE doc_id % 5 = 0""".stripMargin)},
         |banded AS (SELECT doc_id, unnest([${(0 until B).map(b => Hashing.sql.bandKey("sig", b, H / B)).mkString(", ")}]) AS band FROM sigs),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band)
         |  WHERE a.doc_id < b.doc_id AND (a.doc_id >= 100000 OR b.doc_id >= 100000)),
         |joined AS (SELECT id_a, id_b,
         |    ${Hashing.sql.jaccard100("list_distinct(sa.sh)", "list_distinct(sb.sh)")} AS jaccard100
         |  FROM pairs JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, jaccard100 FROM joined
         |WHERE jaccard100 >= 50 ORDER BY id_a, id_b""".stripMargin,
    "d8_sig_verified_neardup" ->
      s"""WITH ${sigCte(
             """SELECT doc_id, text FROM documents
               |UNION ALL SELECT doc_id + 100000, text || ' zz qq ww'
               |FROM documents WHERE doc_id % 5 = 0""".stripMargin)},
         |banded AS (SELECT doc_id, unnest([${(0 until B).map(b => Hashing.sql.bandKey("sig", b, H / B)).mkString(", ")}]) AS band FROM sigs),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band)
         |  WHERE a.doc_id < b.doc_id AND (a.doc_id >= 100000 OR b.doc_id >= 100000)),
         |joined AS (SELECT id_a, id_b,
         |    CAST(list_sum(list_transform(generate_series(1, $H),
         |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS INT) AS n_agree
         |  FROM pairs JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, n_agree, CAST((n_agree * 100) // $H AS INT) AS sig_agree100
         |FROM joined WHERE (n_agree * 100) // $H >= 50
         |ORDER BY id_a, id_b""".stripMargin,
    "c2_dup_clusters" ->
      s"""WITH RECURSIVE dpairs AS (SELECT id_a, id_b FROM ($d2PairsSql) dp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM dpairs
         |          UNION SELECT id_b, id_a FROM dpairs),
         |reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "c3_incremental_clusters" -> c3FullClosureSql,
    // c6 resolves (base, delta) latest-wins — the result must equal the
    // full merged labeling, so it shares c3's full-closure oracle
    // verbatim: identical ingest, independent hash-compare
    "c6_label_resolution" -> c3FullClosureSql,
    "d11_containment" ->
      s"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |    array_to_string(list_slice(string_split(text, ' '), 1, 15), ' ')
         |  FROM documents WHERE doc_id % 5 = 0),
         |grams AS (SELECT DISTINCT doc_id AS id, unnest(${Hashing.sql.shingles("text", 3)}) AS g
         |          FROM uni),
         |na AS (SELECT id, count(*) AS n_grams_a FROM grams GROUP BY 1),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.id <> b.id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, n_grams_a, n_shared
         |FROM inter JOIN na ON na.id = id_a
         |WHERE n_shared = n_grams_a
         |ORDER BY id_a, id_b""".stripMargin,
    "d9_keep_canonical" ->
      s"""WITH RECURSIVE dpairs AS (SELECT id_a, id_b FROM ($d2PairsSql) dp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM dpairs
         |          UNION SELECT id_b, id_a FROM dpairs),
         |reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
         |labels AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |           FROM reach GROUP BY src)
         |SELECT doc_id, CAST(length(text) AS INT) AS text_len
         |FROM ($mutationsSrc)
         |WHERE doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "u4_neardup_curation" ->
      s"""WITH RECURSIVE dpairs AS (SELECT id_a, id_b FROM ($d2PairsSql) dp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM dpairs
         |          UNION SELECT id_b, id_a FROM dpairs),
         |reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
         |labels AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |canonical AS (
         |  SELECT doc_id, text FROM ($mutationsSrc)
         |  WHERE doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)),
         |scored AS (
         |  SELECT doc_id, ${graft.functions.TextStats.sql.classify("text")} AS cls,
         |    ${graft.functions.TextStats.sql.qualityScore("text")} AS q,
         |    len(string_split(text, ' ')) AS n_tokens
         |  FROM canonical),
         |sp AS (SELECT *, ${Hashing.sql.hash64("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
         |       FROM scored WHERE q >= 40)
         |SELECT CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split,
         |  cls, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(q) AS BIGINT) AS sum_q
         |FROM sp GROUP BY 1, 2 ORDER BY split, cls""".stripMargin,
    "d3_simhash" ->
      s"""SELECT doc_id, ${Hashing.sql.simhashFromHashes("th", 32)} AS simhash
         |FROM (SELECT doc_id, ${Hashing.sql.tokenHashes("text")} AS th FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "d6_simhash_neardup" ->
      s"""WITH sims AS (
         |  SELECT doc_id, ${Hashing.sql.simhashFromHashes("th", 48)} AS simhash
         |  FROM (SELECT doc_id, ${Hashing.sql.tokenHashes("text")} AS th FROM ($mutationsSrc))),
         |banded AS (
         |  SELECT doc_id, simhash, band, (simhash >> (band * 16)) & 65535 AS bv
         |  FROM sims CROSS JOIN (SELECT unnest([0, 1, 2]) AS band) bands),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM cand
         |WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin,
    "d4_ngram_jaccard" ->
      s"""SELECT id_a, id_b,
         |  ${Hashing.sql.jaccard100(Hashing.sql.charNgrams("text_a", 3, 60), Hashing.sql.charNgrams("text_b", 3, 60))} AS ngram_jaccard100
         |FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS text_a, b.text AS text_b
         |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
         |ORDER BY id_a""".stripMargin,
    "d10_pq_neardup" -> {
      val Bits = 8; val NTables = 4
      d10Sql((0 until NTables).map(tb =>
        s"SELECT vec_id, $tb AS tbl, ${Vectors.sql.lshBucket("vec", Bits, tb)} AS bucket FROM u")
        .mkString("\nUNION ALL "))
    },
    // d10's scale-safe geometry as its own oracle-gated declaration:
    // bits grows with the corpus (SimilaritySearch.scaledLshBits — the
    // SCALE.md rule that measured 3.5× faster with zero spill where the
    // pinned bits=8 saturated at x100 with 47.7 GB of spill). The oracle
    // derives the SAME bits from the SAME corpus count with integer-only
    // arithmetic, then bands with the dynamic-bits bucket expression —
    // so the geometry rule itself is under the cross-engine hash gate —
    // and replicates the tail treatment: 12 extension sign bits per
    // table (the independent RefineFamilyOffset hyperplane family,
    // same dynamic-bits bucket expression) re-key members of over-cap
    // buckets before the cap=128 last resort — banding, refinement and
    // cap selection all cross-engine hash-gated.
    "d10_pq_neardup_scaled" -> {
      val NTables = 4
      d10Sql(
        s"""SELECT vec_id, tb AS tbl,
           |  ${Vectors.sql.lshBucketDyn("vec", "bits", "tb")} AS bucket,
           |  ${Vectors.sql.lshBucketDyn("vec", "12",
                s"(${graft.operators.BucketCap.RefineFamilyOffset} + tb)")} AS xb
           |FROM u CROSS JOIN geo
           |CROSS JOIN (SELECT unnest([${(0 until NTables).mkString(", ")}]) AS tb) tbls""".stripMargin,
        preCtes =
          "geo AS (SELECT greatest(4, length(bin(CAST((2*count(*) + 15) // 16 AS BIGINT) - 1))) AS bits FROM u),\n",
        cap = 128, refine = true)
    },
    "d5_embedding_neardup" -> d5OracleSql,
    "c5_embedding_clusters_scaled" ->
      s"""WITH RECURSIVE dpairs AS (SELECT id_a, id_b FROM ($c5ScaledPairsSql) dp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM dpairs
         |          UNION SELECT id_b, id_a FROM dpairs),
         |reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
         |SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,
    "c5_embedding_clusters" ->
      s"""WITH RECURSIVE dpairs AS (SELECT id_a, id_b FROM ($d5OracleSql) dp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM dpairs
         |          UNION SELECT id_b, id_a FROM dpairs),
         |reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
         |SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,
    "d12_span_dedup" ->
      """WITH uni AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ') || ' ' ||
        |    array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ')
        |  FROM documents WHERE doc_id % 7 = 0),
        |base AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n FROM uni),
        |spans AS (SELECT doc_id, CAST(s // 16 AS INT) AS span_idx,
        |    array_to_string(list_slice(toks, s + 1, s + 16), ' ') AS span_text
        |  FROM (SELECT doc_id, toks, n,
        |        unnest(generate_series(0, greatest(n - 1, 0), 16)) AS s FROM base)),
        |marked AS (SELECT doc_id, span_idx, span_text,
        |    row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
        |  FROM spans)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_spans_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END, ' ' ORDER BY span_idx),
        |           '') AS clean_text
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d13_incremental_span_dedup" ->
      """WITH uni AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ') || ' ' ||
        |    array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ')
        |  FROM documents WHERE doc_id % 11 = 0),
        |base AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n FROM uni),
        |spans AS (SELECT doc_id, CAST(s // 16 AS INT) AS span_idx,
        |    array_to_string(list_slice(toks, s + 1, s + 16), ' ') AS span_text
        |  FROM (SELECT doc_id, toks, n,
        |        unnest(generate_series(0, greatest(n - 1, 0), 16)) AS s FROM base)),
        |marked AS (SELECT doc_id, span_idx, span_text,
        |    row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
        |  FROM spans)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_spans_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END, ' ' ORDER BY span_idx),
        |           '') AS clean_text
        |FROM marked WHERE doc_id >= 400000
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d14_winnowing_overlap" ->
      s"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 800000,
         |    coalesce(array_to_string(list_slice(string_split(text, ' '), 11, 35), ' '), '')
         |      || ' qq' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0),
         |hs AS (SELECT doc_id,
         |    list_transform(${Hashing.sql.shingles("text", K)}, g -> ${Hashing.sql.hash64("g")}) AS hl
         |  FROM uni),
         |fps AS (SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(hl) - 3, 1)),
         |      i -> list_min(list_slice(hl, i, i + 3)))) AS fp
         |  FROM hs),
         |keep AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM fps GROUP BY 1)
         |         WHERE c <= 100),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |  FROM (SELECT * FROM fps JOIN keep USING (fp)) a
         |  JOIN (SELECT * FROM fps JOIN keep USING (fp)) b USING (fp)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared FROM pairs
         |WHERE n_shared >= 3 ORDER BY id_a, id_b""".stripMargin,
    // The coalesce in every `qq` fragment CTE is load-bearing engine
    // parity, not defensiveness: a source doc with < 11 tokens makes
    // the slice EMPTY, and DuckDB's array_to_string([]) is NULL while
    // Spark's array_join([]) is '' — without it the staged fragment is
    // NULL in the oracle and ' qqN' in Spark. Invisible at sf0.01 (no
    // short doc has id % 13 = 0 there); found by the sf0.1 cross-check.
    "d15_substring_scrub" ->
      s"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 800000,
         |    coalesce(array_to_string(list_slice(string_split(text, ' '), 11, 35), ' '), '')
         |      || ' qq' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0),
         |base AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM uni),
         |p AS (SELECT doc_id, text, toks,
         |        unnest(generate_series(0, greatest(len(toks) - 8, 0))) AS pos FROM base),
         |grams AS (SELECT doc_id, pos,
         |  CASE WHEN len(toks) >= 8
         |    THEN ${Hashing.sql.hash64("array_to_string(list_slice(toks, pos + 1, pos + 8), ' ')")}
         |    ELSE ${Hashing.sql.hash64("text")} END AS gh
         |  FROM p),
         |ranked AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
         |  FROM grams),
         |hits AS (SELECT doc_id, pos, unnest(generate_series(0, 7)) AS off
         |  FROM ranked WHERE rn > 1),
         |covered AS (SELECT DISTINCT doc_id, pos + off AS cpos FROM hits),
         |tokpos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM base),
         |tp AS (SELECT doc_id, i - 1 AS tpos, toks[i] AS tok FROM tokpos),
         |kept AS (SELECT t.doc_id, t.tpos, t.tok FROM tp t
         |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.tpos = c.cpos
         |  WHERE c.cpos IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(tok, ' ' ORDER BY tpos) AS cleaned FROM kept GROUP BY 1)
         |SELECT b.doc_id, CAST(len(b.toks) AS INT) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS INT) AS n_kept,
         |  coalesce(a.cleaned, '') AS cleaned
         |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""".stripMargin,

    "d17_incremental_winnowing" ->
      s"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 800000,
         |    coalesce(array_to_string(list_slice(string_split(text, ' '), 11, 35), ' '), '')
         |      || ' qq' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0),
         |hs AS (SELECT doc_id,
         |    list_transform(${Hashing.sql.shingles("text", K)}, g -> ${Hashing.sql.hash64("g")}) AS hl
         |  FROM uni),
         |fps AS (SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(hl) - 3, 1)),
         |      i -> list_min(list_slice(hl, i, i + 3)))) AS fp
         |  FROM hs),
         |keep AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM fps GROUP BY 1)
         |         WHERE c <= 100),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |  FROM (SELECT * FROM fps JOIN keep USING (fp)) a
         |  JOIN (SELECT * FROM fps JOIN keep USING (fp)) b USING (fp)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared FROM pairs
         |WHERE n_shared >= 3 AND id_b >= 800000 ORDER BY id_a, id_b""".stripMargin,

    "d16_incremental_substring_scrub" ->
      s"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 800000,
         |    coalesce(array_to_string(list_slice(string_split(text, ' '), 11, 35), ' '), '')
         |      || ' qq' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0
         |  UNION ALL
         |  SELECT doc_id + 1800000,
         |    coalesce(array_to_string(list_slice(string_split(text, ' '), 11, 35), ' '), '')
         |      || ' qq' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0),
         |base AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM uni),
         |p AS (SELECT doc_id, text, toks,
         |        unnest(generate_series(0, greatest(len(toks) - 8, 0))) AS pos FROM base),
         |grams AS (SELECT doc_id, pos,
         |  CASE WHEN len(toks) >= 8
         |    THEN ${Hashing.sql.hash64("array_to_string(list_slice(toks, pos + 1, pos + 8), ' ')")}
         |    ELSE ${Hashing.sql.hash64("text")} END AS gh
         |  FROM p),
         |ranked AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
         |  FROM grams),
         |hits AS (SELECT doc_id, pos, unnest(generate_series(0, 7)) AS off
         |  FROM ranked WHERE rn > 1),
         |covered AS (SELECT DISTINCT doc_id, pos + off AS cpos FROM hits),
         |tokpos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM base),
         |tp AS (SELECT doc_id, i - 1 AS tpos, toks[i] AS tok FROM tokpos),
         |kept AS (SELECT t.doc_id, t.tpos, t.tok FROM tp t
         |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.tpos = c.cpos
         |  WHERE c.cpos IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(tok, ' ' ORDER BY tpos) AS cleaned FROM kept GROUP BY 1)
         |SELECT b.doc_id, CAST(len(b.toks) AS INT) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS INT) AS n_kept,
         |  coalesce(a.cleaned, '') AS cleaned
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |WHERE b.doc_id >= 800000 ORDER BY b.doc_id""".stripMargin,

    "u5_incremental_ingest" -> {
      val h = Hashing.sql.hash64("CAST(rep AS VARCHAR)")
      val paste =
        """array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ') || ' ' ||
          |array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ')""".stripMargin
      s"""WITH RECURSIVE uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 600000, 'uu ' || text FROM documents WHERE doc_id % 6 = 0
         |  UNION ALL
         |  SELECT doc_id + 700000, $paste FROM documents WHERE doc_id % 15 = 0),
         |sbase AS (SELECT doc_id, string_split(text, ' ') AS toks,
         |          len(string_split(text, ' ')) AS n FROM uni),
         |spans AS (SELECT doc_id, CAST(s // 16 AS INT) AS span_idx,
         |    array_to_string(list_slice(toks, s + 1, s + 16), ' ') AS span_text
         |  FROM (SELECT doc_id, toks, n,
         |        unnest(generate_series(0, greatest(n - 1, 0), 16)) AS s FROM sbase)),
         |marked AS (SELECT doc_id, span_idx, span_text,
         |    row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
         |  FROM spans),
         |scrubbed AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_spans_kept,
         |    coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END, ' ' ORDER BY span_idx),
         |             '') AS clean_text
         |  FROM marked WHERE doc_id >= 600000 GROUP BY doc_id),
         |survivors AS (SELECT doc_id, n_spans_kept, clean_text
         |              FROM scrubbed WHERE n_spans_kept > 0),
         |${sigCte(
             """SELECT doc_id, text FROM documents
               |UNION ALL SELECT doc_id, clean_text AS text FROM survivors""".stripMargin)},
         |banded AS (SELECT doc_id, unnest([${(0 until B).map(b => Hashing.sql.bandKey("sig", b, H / B)).mkString(", ")}]) AS band FROM sigs),
         |apairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band) WHERE a.doc_id < b.doc_id),
         |vpairs AS (SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |      ${Hashing.sql.jaccard100("list_distinct(sa.sh)", "list_distinct(sb.sh)")} AS j
         |    FROM apairs JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b)
         |  WHERE j >= 50),
         |edges AS (SELECT id_a AS u, id_b AS v FROM vpairs
         |          UNION SELECT id_b, id_a FROM vpairs),
         |reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
         |labels AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |rep AS (SELECT s.doc_id, s.n_spans_kept,
         |          coalesce(l.cluster_id, s.doc_id) AS rep
         |        FROM survivors s LEFT JOIN labels l USING (doc_id)),
         |hashed AS (SELECT doc_id, n_spans_kept, rep, $h AS h FROM rep)
         |SELECT doc_id, n_spans_kept, rep,
         |  CASE WHEN h % 1000 < 800 THEN 'train'
         |       WHEN h % 1000 < 900 THEN 'val' ELSE 'test' END AS split
         |FROM hashed ORDER BY doc_id""".stripMargin
    },
    "p8_leakage_safe_split" -> {
      val h = Hashing.sql.hash64("CAST(rep AS VARCHAR)")
      s"""WITH RECURSIVE dpairs AS (SELECT id_a, id_b FROM ($d2PairsSql) dp),
         |edges AS (SELECT id_a AS u, id_b AS v FROM dpairs
         |          UNION SELECT id_b, id_a FROM dpairs),
         |reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
         |labels AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |corpus AS ($mutationsSrc),
         |rep AS (SELECT c.doc_id, coalesce(l.cluster_id, c.doc_id) AS rep
         |        FROM corpus c LEFT JOIN labels l USING (doc_id)),
         |hashed AS (SELECT doc_id, rep, $h AS h FROM rep)
         |SELECT doc_id, rep, CAST(h % 1000 AS INT) AS bucket,
         |  CASE WHEN h % 1000 < 800 THEN 'train'
         |       WHEN h % 1000 < 900 THEN 'val' ELSE 'test' END AS split
         |FROM hashed ORDER BY doc_id""".stripMargin
    }
  )

  /** SQL twin of [[embeddingUniverse]] — one definition for the d5,
    * c5, and d10 oracles. Lazy: the oracles map interpolates it during
    * object init, which runs top-to-bottom. */
  private lazy val embUniverseSql: String =
    """SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
      |UNION ALL
      |SELECT vec_id + 100000,
      |  list_transform(generate_series(1, len(embedding)),
      |    i -> CASE WHEN i = 1 THEN embedding[i]::DOUBLE + 0.05 ELSE embedding[i]::DOUBLE END)
      |FROM embeddings""".stripMargin

  /** d10's oracle SQL parameterized by the banding CTE body — the PQ
    * chain (anchor-sampled codebook → encode → decode → approx screen →
    * exact verify) is geometry-independent; only `banded` (and for the
    * scaled variant the corpus-derived `geo.bits` CTE in `preCtes` and
    * the candidate-side bucket cap) differs between the pinned and
    * scaled declarations. Uncapped (pinned): pairs come from the
    * symmetric banded self-join — valid because the pinned cap (256)
    * exceeds the measured max occupancy at declared scale (149), so
    * capMembers is the identity there. Capped (scaled): the oracle
    * mirrors pqNearDupPairs' asymmetric join — uncapped probe side ×
    * sqlCapped candidate side, pair-normalized with least/greatest —
    * so the cap's deterministic smallest-hash selection is itself
    * under the cross-engine hash gate. With `refine` additionally set
    * (the declared scaled config), `bandedSql` must also emit the
    * per-table extension signs as `xb`, and the oracle inserts the
    * occupancy-conditional re-key between banding and the cap
    * (BucketCap.sqlSplitHot, then sqlCapped over the extended key) so
    * the refinement geometry is ALSO under the hash gate. */
  private def d10Sql(bandedSql: String, preCtes: String = "",
                     cap: Int = Int.MaxValue,
                     refine: Boolean = false): String = {
    val M = 8; val Kcw = 16; val SubDim = 8
    val u = embUniverseSql
    val l2 = s"list_sum(list_transform(generate_series(1, $SubDim), " +
      "j -> (sv[j] - cw[j]) * (sv[j] - cw[j])))"
    val approxCos = Vectors.sql.cosineWithNorms("da.dv", "db.dv", "da.dnorm", "db.dnorm")
    val exactCos = Vectors.sql.cosineWithNorms("ua.vec", "ub.vec", "ua.nrm", "ub.nrm")
    require(!refine || cap != Int.MaxValue,
      "refine without a cap has nothing to split on")
    val (probeSrc, joinCols) =
      if (refine) ("keyed", Seq("tbl", "bucket", "__sub"))
      else ("banded", Seq("tbl", "bucket"))
    val keyedCte =
      if (!refine) ""
      else "keyed AS (" + graft.operators.BucketCap.sqlSplitHot(
        "SELECT * FROM banded", Seq("tbl", "bucket"), "xb", cap) + "),\n"
    val cappedCte =
      if (cap == Int.MaxValue) ""
      else "capped AS (" + graft.operators.BucketCap.sqlCapped(
        s"SELECT * FROM $probeSrc", joinCols, "vec_id", cap) + "),\n"
    val onCols = joinCols.map(c => s"a.$c = b.$c").mkString(" AND ")
    s"""WITH u AS ($u),
       |${preCtes}anch AS (SELECT ki, av FROM (
       |  SELECT row_number() OVER (ORDER BY
       |      ${Hashing.sql.hash64("CAST(vec_id AS VARCHAR)")} ASC,
       |      vec_id ASC) AS ki, vec AS av
       |  FROM u) WHERE ki <= $Kcw),
       |subs AS (SELECT unnest([${(0 until M).mkString(", ")}]) AS mi),
       |cw AS (SELECT mi, ki, list_slice(av, mi * $SubDim + 1, mi * $SubDim + $SubDim) AS cw
       |       FROM anch CROSS JOIN subs),
       |pqd AS (SELECT vec_id, mi, ki, $l2 AS dist FROM (
       |  SELECT vec_id, mi, ki,
       |    list_slice(vec, mi * $SubDim + 1, mi * $SubDim + $SubDim) AS sv, cw
       |  FROM u CROSS JOIN cw)),
       |enc AS (SELECT vec_id, mi, ki FROM (
       |  SELECT vec_id, mi, ki,
       |    row_number() OVER (PARTITION BY vec_id, mi ORDER BY dist ASC, ki ASC) AS rr
       |  FROM pqd) WHERE rr = 1),
       |dec AS (SELECT vec_id, flatten(list(cw ORDER BY mi)) AS dv
       |        FROM enc JOIN cw USING (mi, ki) GROUP BY vec_id),
       |banded AS ($bandedSql),
       |${keyedCte}${cappedCte}pairs AS (${
         if (cap == Int.MaxValue)
           """SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             |  FROM banded a JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket
             |  WHERE a.vec_id < b.vec_id""".stripMargin
         else
           s"""SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
             |                greatest(a.vec_id, b.vec_id) AS id_b
             |  FROM $probeSrc a JOIN capped b ON $onCols
             |  WHERE a.vec_id <> b.vec_id""".stripMargin}),
       |dn AS (SELECT vec_id, dv, ${Vectors.sql.norm("dv")} AS dnorm FROM dec),
       |scr AS (SELECT id_a, id_b
       |  FROM pairs JOIN dn da ON da.vec_id = id_a JOIN dn db ON db.vec_id = id_b
       |  WHERE $approxCos >= (0.9 - 0.15)::DOUBLE),
       |un AS (SELECT vec_id, vec, ${Vectors.sql.norm("vec")} AS nrm FROM u)
       |SELECT id_a, id_b, $exactCos AS cosine
       |FROM scr JOIN un ua ON ua.vec_id = id_a JOIN un ub ON ub.vec_id = id_b
       |WHERE $exactCos >= 0.9
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** c5_scaled's pair-stage oracle SQL: the lshNearDupPairs scale
    * geometry — corpus-derived bits (integer-only, the scaledLshBits
    * twin), 12-bit hot-bucket refinement from the RefineFamilyOffset
    * family (BucketCap.sqlSplitHot), cap=128 smallest-hash selection
    * (BucketCap.sqlCapped), asymmetric probe×capped join, exact cosine
    * ≥ 0.9 verification. Emits the (id_a, id_b) pair set only — the
    * closure consumer never reads the cosine. */
  private lazy val c5ScaledPairsSql: String = {
    val NTables = 4
    val banded =
      s"""SELECT vec_id, vec, nrm, tb AS tbl,
         |  ${Vectors.sql.lshBucketDyn("vec", "bits", "tb")} AS bucket,
         |  ${Vectors.sql.lshBucketDyn("vec", "12",
              s"(${graft.operators.BucketCap.RefineFamilyOffset} + tb)")} AS xb
         |FROM u CROSS JOIN geo
         |CROSS JOIN (SELECT unnest([${(0 until NTables).mkString(", ")}]) AS tb) tbls""".stripMargin
    val keyed = graft.operators.BucketCap.sqlSplitHot(
      "SELECT * FROM banded", Seq("tbl", "bucket"), "xb", 128)
    val capped = graft.operators.BucketCap.sqlCapped(
      "SELECT * FROM keyed", Seq("tbl", "bucket", "__sub"), "vec_id", 128)
    val cos = Vectors.sql.cosineWithNorms("a.vec", "b.vec", "a.nrm", "b.nrm")
    s"""WITH u AS (SELECT vec_id, vec, ${Vectors.sql.norm("vec")} AS nrm
       |           FROM ($embUniverseSql)),
       |geo AS (SELECT greatest(4, length(bin(CAST((2*count(*) + 15) // 16 AS BIGINT) - 1))) AS bits FROM u),
       |banded AS ($banded),
       |keyed AS ($keyed),
       |capped AS ($capped)
       |SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
       |                greatest(a.vec_id, b.vec_id) AS id_b
       |FROM keyed a JOIN capped b
       |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.__sub = b.__sub
       |WHERE a.vec_id <> b.vec_id AND $cos >= 0.9""".stripMargin
  }

  /** d5's oracle SQL, shared verbatim with c5's recursive closure. */
  private lazy val d5OracleSql: String = {
    val Bits = 8; val NTables = 4
    val u = embUniverseSql
    val banded = (0 until NTables).map(tb =>
      s"SELECT vec_id, $tb AS tbl, ${Vectors.sql.lshBucket("vec", Bits, tb)} AS bucket FROM u")
      .mkString("\nUNION ALL ")
    s"""WITH u AS (SELECT vec_id, vec, ${Vectors.sql.norm("vec")} AS nrm FROM ($u)),
       |banded AS ($banded),
       |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM banded a JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id)
       |SELECT id_a, id_b,
       |  ${Vectors.sql.cosineWithNorms("ua.vec", "ub.vec", "ua.nrm", "ub.nrm")} AS cosine
       |FROM pairs JOIN u ua ON ua.vec_id = id_a JOIN u ub ON ub.vec_id = id_b
       |WHERE ${Vectors.sql.cosineWithNorms("ua.vec", "ub.vec", "ua.nrm", "ub.nrm")} >= 0.9
       |ORDER BY id_a, id_b""".stripMargin
  }
}
