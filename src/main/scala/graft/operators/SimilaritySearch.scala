package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star similarity-search operators).
  *
  * Scale design: [[bruteForceTopK]] broadcasts the (small) query set and
  * streams the candidate corpus — one scan, no shuffle of the corpus,
  * per-partition scoring, then a per-query top-k window over only
  * queries×k-ish survivors. Norms are precomputed per side so the pair
  * stage is a single dot product. [[lshTopK]] buckets both sides with
  * deterministic sign-LSH hyperplanes and only scores within-bucket
  * pairs — candidate volume drops from Q×N to Q×(N/2^bits) on average;
  * recall is tunable via `bits` (fewer bits → bigger buckets → higher
  * recall). [[ivfTopK]] probes coarse partitions by nearest centroid.
  */
object SimilaritySearch {

  private def prep(df: DataFrame, idCol: String, vecCol: String, p: String): DataFrame = {
    val base = if (p == "c") graft.model.Tables.spread(df) else df
    base.select(col(idCol).as(s"${p}_id"), col(vecCol).as(s"${p}_vec"))
      .withColumn(s"${p}_norm", Vectors.norm(col(s"${p}_vec")))
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
    // slim BEFORE the window: the rank shuffle+sort moves (ids, cosine),
    // never the embedding payloads
    scored.select(col("q_id"), col("c_id"), col("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("cosine"))
  }

  /** Exact top-k cosine neighbors for each query vector (self excluded). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = prep(queries, idCol, vecCol, "q")
    val c = prep(corpus, idCol, vecCol, "c")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Vectors.cosineWithNorms(
        col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")))
    rankTopK(scored, k)
  }

  /** Approximate top-k: only candidates sharing a sign-LSH bucket with
    * the query in at least one of `tables` independent hyperplane
    * families are scored (OR-amplification: more tables → higher recall,
    * proportionally more candidates). */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int, bits: Int,
              tables: Int = 4): DataFrame = {
    def banded(df: DataFrame, p: String): DataFrame =
      df.select(col(s"${p}_id"), posexplode(
        Vectors.lshBucketsAll(col(s"${p}_vec"), bits, tables))
        .as(Seq("tbl", "bucket")))
    val qp = prep(queries, idCol, vecCol, "q")
    // cp feeds two subtrees (banding + the payload join-back) — without
    // materialization the corpus scan, the spread rebalance and the
    // norm pass all run twice per call (the knnJoin idiom)
    val cp = Materialize.once(prep(corpus, idCol, vecCol, "c"))
    // slim-first: the multi-table collision dedup runs over a
    // (q_id, c_id) pair list — two longs per candidate through the
    // dropDuplicates exchange — and the embedding payloads join back
    // only for surviving pairs (the knnJoin/lshNearDupPairs idiom; a
    // dedup over rows still carrying both vectors ships candidate ×
    // vector-width data through the shuffle once per extra-table
    // collision)
    val cand = banded(cp, "c").join(broadcast(banded(qp, "q")), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .dropDuplicates("q_id", "c_id")
    val scored = cand.join(broadcast(qp), "q_id").join(cp, "c_id")
      .withColumn("cosine", Vectors.cosineWithNorms(
        col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")))
    rankTopK(scored, k)
  }

  /** kNN JOIN: top-k cosine neighbors for EVERY corpus row — the
    * all-pairs form of [[lshTopK]], where the query set IS the corpus
    * and nothing is broadcastable. Candidate pairs come from a
    * multi-table sign-LSH bucket SELF-equi-join over a slim
    * (id, table, bucket) frame: shuffle volume is O(N × tables) rows of
    * a few bytes each, never the N² cross product, and the embedding
    * payloads join back per side only for bucket-colliding pairs
    * (unhinted, so AQE picks broadcast vs shuffle-hash by actual size).
    * Buckets are deterministic integer hyperplanes, so the approximate
    * operator has an exact DuckDB oracle (query n7).
    *
    * At 100 TB this is the shape that matters: a per-document
    * neighbor list (retrieval dedup, clustering seeds, curriculum
    * mining) where both sides are the full corpus. `bits` tunes bucket
    * size (recall vs candidate volume); `tables` OR-amplifies recall.
    *
    * `maxBucket` bounds the degenerate case: a pathological bucket
    * (near-identical corpus mass, all-zero vectors) would otherwise
    * put O(N) ids on one (tbl, bucket) key and the self-join would
    * degrade toward its own cross product — a pair-count blowup AQE's
    * skew splitting cannot reduce (it rebalances post-shuffle
    * partitions, not the join output). Only the CANDIDATE side is
    * capped to the `maxBucket` smallest-hash members per bucket
    * ([[BucketCap]]), so a bucket contributes at most n × maxBucket
    * pair rows (linear, not quadratic) while every corpus row keeps
    * its full query role — no document loses its neighbor list. The
    * hash order differs per table, so an extra table recovers
    * candidates a hot bucket evicts (VectorsSpec measures the recall;
    * with maxBucket >= the largest bucket the result is identical to
    * uncapped). The selection is deterministic, so the capped operator
    * keeps an exact DuckDB oracle.
    */
  def knnJoin(corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, bits: Int, tables: Int = 2,
              maxBucket: Int = 256): DataFrame = {
    // materialize the prepared corpus AND the banded frame: c feeds
    // three subtrees (banded, the query-role payload, the final join)
    // and banded feeds two (the cap and the join's left side) — without
    // this the corpus scan + norm runs 3× and the hyperplane projection
    // pass (bits × tables dot products per vector, the dominant per-row
    // cost) runs twice. Materialize.once, not df.persist (call-local
    // frames; see Materialize) — the pqNearDupPairs idiom.
    val c = Materialize.once(prep(corpus, idCol, vecCol, "c"))
    // slim banded frame: ids and bucket keys only — the self-join never
    // moves an embedding payload
    val banded = Materialize.once(c.select(col("c_id"),
      posexplode(Vectors.lshBucketsAll(col("c_vec"), bits, tables))
        .as(Seq("tbl", "bucket"))))
    val capped = BucketCap.capMembers(banded, Seq("tbl", "bucket"), "c_id", maxBucket)
    val pairs = banded.select(col("c_id").as("q_id"), col("tbl"), col("bucket"))
      .join(capped, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .distinct()
    val q = c.select(col("c_id").as("q_id"), col("c_vec").as("q_vec"),
      col("c_norm").as("q_norm"))
    val scored = pairs.join(q, "q_id").join(c, "c_id")
      .withColumn("cosine", Vectors.cosineWithNorms(
        col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")))
    rankTopK(scored, k)
  }

  /** IVF with DETERMINISTIC centroids: per-cluster, per-dimension exact
    * medians (order statistics are partition-order-independent, and
    * Spark `percentile(0.5)` interpolates identically to DuckDB
    * `median` — bitwise), so this ANN variant carries a full oracle
    * unlike the FP-mean [[ivfTopK]]. Probe the `nProbe` nearest
    * centroids by cosine, score only vectors in probed clusters. */
  def ivfMedianTopK(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, clusterCol: String,
                    dim: Int, k: Int, nProbe: Int): DataFrame = {
    // cnorm ONCE per centroid before the Q×K cross join — evaluating
    // Vectors.norm inside the probe cosine would re-run a dim-length
    // dot product per (query, centroid) pair (the ivfLloydTopK
    // withNorm idiom)
    val centroids = corpus.groupBy(col(clusterCol).as("cluster"))
      .agg(array((0 until dim).map(i =>
        percentile(element_at(col(vecCol), i + 1).cast("double"), lit(0.5))): _*).as("centroid"))
      .withColumn("cnorm", Vectors.norm(col("centroid")))
    val q = prep(queries, idCol, vecCol, "q")
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", Vectors.cosineWithNorms(
        col("q_vec"), col("centroid"), col("q_norm"), col("cnorm")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cdist").desc, col("cluster").asc)))
      .filter(col("prank") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("cluster"))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      col(clusterCol).as("cluster"))
      .withColumn("c_norm", Vectors.norm(col("c_vec")))
    val scored = c.join(broadcast(probes), "cluster")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Vectors.cosineWithNorms(
        col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")))
    rankTopK(scored, k)
  }

  /** [[ivfMedianTopK]] refined by ONE Lloyd iteration: seed centroids
    * are the per-`seedCol`, per-dimension exact medians, every corpus
    * vector is REASSIGNED to its nearest seed centroid by cosine, and
    * centroids are recomputed as medians of the new assignment. The
    * seed column is usually non-geometric (a label, a source id) — one
    * reassignment makes the partitions geometric, so at equal `nProbe`
    * the probed clusters actually contain the near neighbors
    * (VectorsSpec measures the recall gain; at growing corpus size the
    * gap widens because a non-geometric seed spreads each query's
    * neighborhood across ever more clusters).
    *
    * Determinism end-to-end: medians are order statistics, the
    * reassignment argmin is tie-broken by cluster id, and re-medians
    * are again order statistics — so unlike FP-mean k-means this
    * refined variant keeps a bitwise DuckDB oracle (query n4).
    *
    * Scale shape per round: centroids broadcast (K × dim doubles),
    * assignment is a map-side crossJoin scored per partition, slimmed
    * to (id, cluster, cdist) BEFORE the argmin window, then one
    * shuffle on id to re-join vectors for the median agg — the corpus
    * embedding payload never enters a window sort. More rounds =
    * repeat; one round captures most of the recall gain on a sane seed.
    */
  def ivfLloydTopK(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, seedCol: String,
                   dim: Int, k: Int, nProbe: Int): DataFrame = {
    // Materialize.once rather than persist: the prepared corpus
    // feeds four subtrees (seed medians, reassignment, re-medians,
    // scoring), but a session-lifetime cache pin per invocation would
    // compete with the deliberately-memoized tables; cluster blocks
    // stay recomputable + evictable
    val c = Materialize.once(graft.model.Tables.spread(
        corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
          col(seedCol).as("seed")))
      .withColumn("c_norm", Vectors.norm(col("c_vec"))))
    def withNorm(cent: DataFrame): DataFrame =
      cent.withColumn("cnorm", Vectors.norm(col("centroid")))
    def medians(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
      g.agg(array((0 until dim).map(i =>
        percentile(element_at(col("c_vec"), i + 1).cast("double"), lit(0.5))): _*)
        .as("centroid"))
    val seedCent = withNorm(medians(c.groupBy(col("seed").as("cluster"))))
    // Lloyd reassignment: nearest centroid by cosine, slim before window
    val assigned = c.crossJoin(broadcast(seedCent))
      .select(col("c_id"), col("cluster"),
        Vectors.cosineWithNorms(col("c_vec"), col("centroid"),
          col("c_norm"), col("cnorm")).as("cdist"))
      .withColumn("ar", row_number().over(
        Window.partitionBy(col("c_id")).orderBy(col("cdist").desc, col("cluster").asc)))
      .filter(col("ar") === 1)
      .select(col("c_id"), col("cluster"))
    val cc = c.join(assigned, "c_id")
    val cent = withNorm(medians(cc.groupBy(col("cluster"))))
    val q = prep(queries, idCol, vecCol, "q")
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("cdist", Vectors.cosineWithNorms(
        col("q_vec"), col("centroid"), col("q_norm"), col("cnorm")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cdist").desc, col("cluster").asc)))
      .filter(col("prank") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("cluster"))
    val scored = cc.join(broadcast(probes), "cluster")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Vectors.cosineWithNorms(
        col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")))
    rankTopK(scored, k)
  }

  /** Product-quantization codebook: `m` subspaces × `k` codewords, the
    * codewords being the subvectors of `k` deterministically sampled
    * corpus rows (smallest hash64(id) — a fixed uniform sample, the
    * same family of codebook k-means sampling initializes with).
    * codebook(mi)(ki) = one subDim-length codeword. The table is
    * m × k × subDim doubles (a few KB) — driver-collected and
    * broadcast as literals into the encode/decode expressions. */
  def pqTrainCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                      dim: Int, m: Int, k: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val subDim = dim / m
    val anchors = corpus
      .withColumn("__h", graft.functions.Hashing.hash64(col(idCol).cast("string")))
      .orderBy(col("__h").asc, col(idCol).asc)
      .limit(k)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().map { r =>
        // loud argument errors, not a driver NPE / ragged codebook: a
        // null vector, a null element, or a short vector in the k
        // smallest-hash sample would otherwise crash here opaquely (or
        // build short codewords that ArrayIndexOutOfBounds every
        // encode downstream). Null embeddings are in-domain for the
        // ENCODE side (pqEncodeNull semantics); the TRAINING sample
        // must be clean — filter them out before training.
        require(!r.isNullAt(0),
          "PQ codebook anchor sample contains a NULL vector — filter null " +
            "embeddings out of the training corpus before codebook training")
        val v = r.getSeq[Any](0)
        require(!v.contains(null),
          "PQ codebook anchor vector contains a NULL element — clean the " +
            "training corpus before codebook training")
        require(v.length >= dim,
          s"PQ codebook anchor vector has ${v.length} elements but dim=$dim — " +
            "every training vector must carry at least dim elements")
        v.map(_.asInstanceOf[Double]).toArray
      }
    // loud argument error, not an index crash downstream: a codebook
    // needs at least one anchor (EmptyInputSpec pins the message)
    require(anchors.nonEmpty,
      "PQ codebook training corpus is empty — nothing to sample codewords from")
    Array.tabulate(m)(mi => anchors.map(_.slice(mi * subDim, (mi + 1) * subDim)))
  }

  /** Encode a vector to its `m`-byte PQ code: per subspace, the index
    * of the L2-nearest codeword (first-match tie-break). This is the
    * DECLARATIVE form — m × k zip_with/aggregate folds over literal
    * codewords — kept as the oracle-shaped twin that VectorsSpec
    * property-checks against the native kernel
    * ([[graft.plans.PqEncode]], one primitive pass) used on hot paths. */
  def pqEncode(vec: Column, codebook: Array[Array[Array[Double]]]): Column = {
    val m = codebook.length
    val subDim = codebook(0)(0).length
    array((0 until m).map { mi =>
      val sub = slice(vec, mi * subDim + 1, subDim)
      val dists = array(codebook(mi).map { cw =>
        aggregate(
          zip_with(sub, typedLit(cw.toSeq),
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, d) => acc + d)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** Reconstruct the quantized vector from a PQ code (codeword concat). */
  def pqDecode(code: Column, codebook: Array[Array[Array[Double]]]): Column =
    flatten(array((0 until codebook.length).map { mi =>
      element_at(typedLit(codebook(mi).map(_.toSeq).toSeq),
        element_at(code, mi + 1) + 1)
    }: _*))

  /** ANN over PQ-compressed candidates: asymmetric distance scoring —
    * full-precision queries against decoded corpus codes — keeps the
    * per-query top `rerank × k` candidates, then ONE exact re-rank pass
    * over only those survivors.
    *
    * Why at 100 TB: the corpus-wide stage moves (id, m × int8-ish code)
    * — with m=8 that is ~32 B/vector instead of a 256 B float64[64]
    * payload, an ~8× shrink of the scan/shuffle volume where it counts
    * (every vector), while the full-precision vectors are fetched for
    * only queries × rerank × k survivors. Recall against exact brute
    * force is bounded in VectorsSpec; `rerank` trades recall for
    * candidate fetch volume.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, dim: Int, k: Int,
             m: Int = 8, codewords: Int = 16, rerank: Int = 4): DataFrame = {
    val codebook = pqTrainCodebook(corpus, idCol, vecCol, dim, m, codewords)
    // the ONLY corpus-wide frame: ids + compressed codes (native
    // kernel — the per-vector m×k distance scan is one primitive loop)
    val codes = graft.model.Tables.spread(corpus)
      .select(col(idCol).as("c_id"),
        graft.plans.VecExprs.pqEncode(col(vecCol), codebook).as("code"))
    val q = prep(queries, idCol, vecCol, "q")
    val approx = codes
      .withColumn("c_dec", pqDecode(col("code"), codebook))
      .withColumn("c_dnorm", Vectors.norm(col("c_dec")))
      .crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        Vectors.cosineWithNorms(col("q_vec"), col("c_dec"),
          col("q_norm"), col("c_dnorm")).as("approx_cos"))
      .withColumn("ar", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("approx_cos").desc, col("c_id").asc)))
      .filter(col("ar") <= k * rerank)
      .select(col("q_id"), col("c_id"))
    // exact re-rank: full vectors fetched for survivors only
    val c = prep(corpus, idCol, vecCol, "c")
    val scored = approx.join(c, "c_id").join(broadcast(q.select(
        col("q_id"), col("q_vec"), col("q_norm"))), "q_id")
      .withColumn("cosine", Vectors.cosineWithNorms(
        col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")))
    rankTopK(scored, k)
  }

  /** The [[lshNearDupPairs]] scale knob as code: smallest `bits`
    * with 2^bits >= ceil(2n / targetOccupancy), floored at `minBits` —
    * bucket count grows with the corpus so per-bucket membership stays
    * ~`targetOccupancy` and candidate volume stays O(n·tables·occ).
    * Pure integer arithmetic (ceil-divide + bit length), replicated
    * exactly by the DuckDB oracle's
    * `greatest(minBits, length(bin(target - 1)))` — no floating-point
    * log2 whose 1-ulp platform differences could straddle an integer
    * boundary at power-of-two corpus sizes. */
  def scaledLshBits(n: Long, targetOccupancy: Int = 16, minBits: Int = 4): Int = {
    val target = (2 * n + targetOccupancy - 1) / targetOccupancy
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(math.max(target - 1, 0))
    math.max(minBits, bitLen)
  }

  /** LSH-blocked exact near-dup pairs: sign-LSH bucket self-join →
    * cosine ≥ `minCosine` verification over the full vectors. The
    * candidate side is frequency-capped per bucket ([[BucketCap]], cap
    * `maxBucket`): n members in a bucket contribute n×cap pair rows,
    * never n² — the guard that keeps a degenerate bucket (spam-clone
    * mass, all-zero vectors) from rebuilding the cross join inside one
    * shuffle key. With `maxBucket` ≥ the corpus's max bucket occupancy
    * the result is identical to the uncapped join (the oracle-pinned
    * configurations are sized that way; measured occupancy at sf0.1 is
    * ≤ 149 under bits=8 — SCALE.md round-9 notes).
    *
    * Scale knob: bucket count must GROW with the corpus — hold
    * `bits ≈ log2(2N / targetOccupancy)` so per-bucket membership
    * stays constant and candidate volume stays O(N·tables·occupancy)
    * ([[scaledLshBits]]). Fixed geometry at growing N is measurably
    * superlinear (SCALE.md "fixed vs scaled geometry").
    *
    * Tail knob: scaled bits bound only the MEAN occupancy; candidate
    * volume is Σ occupancy² and a replica-concentrated corpus piles
    * sign patterns into a few monster buckets. `refineBits > 0`
    * re-keys members of OVER-cap buckets by that many extension sign
    * bits from an independent per-table hyperplane family BEFORE the
    * cap ([[BucketCap.splitHot]] — same refine-then-cap contract as
    * [[pqNearDupPairs]] and IncrementalAnn), so the flat cap only
    * bites clone masses that agree on every extension sign. */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      minCosine: Double, bits: Int, tables: Int,
                      maxBucket: Int, refineBits: Int = 0): DataFrame = {
    if (refineBits > 0) {
      BucketCap.requireIndependentFamilies(bits, tables, refineBits, tables)
      // refinement re-keys members of OVER-cap buckets; without a
      // finite cap it computes extension signs and runs the occupancy
      // aggregation for a provable no-op (shared contract with
      // pqNearDupPairs / IncrementalAnn and both oracle builders)
      require(maxBucket != Int.MaxValue,
        "refine without a cap has nothing to split on")
    }
    // Vectors ride INTO the bucket join and cosine runs inside the
    // bucket task; only (id_a, id_b, cosine) SURVIVORS ever shuffle
    // again. The alternative (slim pair list → distinct → re-join the
    // wide vectors by id) re-shuffles a candidate-volume × vector-width
    // intermediate through two joins — measured 20 GB of sort spill at
    // 20k vectors (x10) and a filled disk at 200k (x100), vs the
    // corpus-linear O(N·tables·width) banded shuffle here. A pair
    // colliding in several tables is scored ≤`tables` times (the
    // cosines are bitwise identical — same inputs, sequential fold)
    // and collapsed by the groupBy; that redundant arithmetic is noise
    // next to a second wide shuffle.
    val bandCols = Seq(col(idCol).as("id"), col(vecCol).as("vec"),
      Vectors.norm(col(vecCol)).as("nrm"),
      posexplode(Vectors.lshBucketsAll(col(vecCol), bits, tables))
        .as(Seq("tbl", "bucket"))) ++
      (if (refineBits > 0) Seq(Vectors.lshBucketsAllOff(col(vecCol),
        refineBits, tables, BucketCap.RefineFamilyOffset).as("xbuckets"))
       else Nil)
    val banded0 = graft.model.Tables.spread(corpus)
      .select(bandCols: _*)
      .select(Seq("tbl", "bucket", "id", "vec", "nrm").map(col) ++
        (if (refineBits > 0) Seq(col("xbuckets")(col("tbl")).as("xb"))
         else Nil): _*)
    cappedCandidateJoin(banded0, refineBits, maxBucket,
        payload = Seq("vec", "nrm"))
      .withColumn("cosine", Vectors.cosineWithNorms(
        col("vec"), col("cvec"), col("nrm"), col("cnrm")))
      .filter(col("cosine") >= minCosine)
      .select(least(col("id"), col("cid")).as("id_a"),
        greatest(col("id"), col("cid")).as("id_b"), col("cosine"))
      .groupBy("id_a", "id_b").agg(max(col("cosine")).as("cosine"))
  }

  /** Shared candidate-join skeleton of the refine-then-cap generators
    * ([[lshNearDupPairs]] and [[pqNearDupPairs]]) — ONE definition so
    * the two cannot silently diverge on the geometry contract their
    * DuckDB oracles replicate (IncrementalAnn.pairsFromCodes keeps its
    * own sibling: its probe side is the batch only and its replay
    * semantics differ).
    *
    * Input `banded0` carries (id, <payload…>, tbl, bucket[, xb when
    * refineBits > 0 — the per-table extension sign bits]). Steps:
    * occupancy-conditional re-key of over-cap buckets on `xb`
    * ([[BucketCap.splitHot]]; the occupancy aggregation's input prunes
    * to the bucket columns — no payload bytes in that shuffle; the
    * banded stream re-derives from its source, cheaper than
    * materializing N·tables payload rows), then the deterministic
    * smallest-hash cap, then the probe×capped equi-join with the
    * self-pair filter. The candidate side's columns come back
    * prefixed `c` (id → cid, payload p → cp).
    *
    * Plan shape honesty: the cap pass is a WindowGroupLimit — map
    * tasks keep only `cap` members per bucket BEFORE the window
    * shuffle (PlanSpec pins it), so the window sort touches ≤
    * cap·buckets·tables rows, and that is also the shuffle-hash BUILD
    * side's size in the scaled configs where the cap binds. In the
    * pinned identity-cap regime (cap ≥ max occupancy) the build side
    * is the full N·tables exploded stream — fine at the
    * correctness-tier corpus sizes those configs are declared for,
    * and exactly why the `_scaled` twins are the deployment tier. */
  private def cappedCandidateJoin(banded0: DataFrame, refineBits: Int,
                                  maxBucket: Int,
                                  payload: Seq[String]): DataFrame = {
    val (banded, joinKey) =
      if (refineBits == 0) (banded0, Seq("tbl", "bucket"))
      else (BucketCap.splitHot(banded0, Seq("tbl", "bucket"), "xb", maxBucket),
            Seq("tbl", "bucket", "__sub"))
    val capped = BucketCap.capMembers(banded, joinKey, "id", maxBucket)
      .select(joinKey.map(col) ++
        ("id" +: payload).map(c => col(c).as(s"c$c")): _*)
    banded.join(capped.hint("shuffle_hash"), joinKey)
      .filter(col("id") =!= col("cid"))
  }

  /** Embedding near-dup with PQ-COMPRESSED verification — the d5 shape
    * with the pair-stage payload shrunk ~8×: candidates come from the
    * same multi-table sign-LSH bucket self-join, but the colliding
    * pairs are first screened on decoded PQ codes (symmetric approx
    * cosine ≥ threshold − margin) and only approx-survivors re-join
    * the full-precision vectors for the exact threshold test.
    *
    * Why at 100 TB: in d5 every colliding pair moves two full float
    * vectors through the verification join; here the corpus-wide pair
    * stage moves (id, m small ints) codes — the full vectors are
    * fetched for the (far fewer) approx-survivors only. `margin`
    * absorbs PQ distortion: too small loses true pairs (DedupSpec
    * measures recall vs the exact verifier), larger just verifies more
    * candidates exactly. One pass computes buckets AND codes per
    * vector; the whole chain (deterministic codebook → encode →
    * decode → screen → exact) is bitwise oracle-expressible (d10).
    */
  def pqNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int, threshold: Double, margin: Double,
                     bits: Int, tables: Int,
                     m: Int = 8, codewords: Int = 16,
                     maxBucket: Int = 256, refineBits: Int = 0): DataFrame = {
    if (refineBits > 0) {
      BucketCap.requireIndependentFamilies(bits, tables, refineBits, tables)
      // same contract as IncrementalAnn.pairsFromCodes and both oracle
      // builders: refinement re-keys members of OVER-CAP buckets, so
      // without a finite cap it computes extension signs and runs the
      // occupancy aggregation for a provable no-op
      require(maxBucket != Int.MaxValue,
        "refine without a cap has nothing to split on")
    }
    val codebook = pqTrainCodebook(corpus, idCol, vecCol, dim, m, codewords)
    // ONE corpus-wide pass: buckets (for blocking) + code (for approx
    // verification); the float vector is dropped immediately after.
    // Materialized because the banded stream fans out to THREE
    // consumers (the probe side, the capMembers window, and — with
    // refineBits — splitHot's occupancy aggregate); without it the
    // hash+encode+decode-norm pass runs once per subtree.
    // Materialize.once, not df.persist: a persist entry on this
    // call-local frame would pin the CacheManager for the session's
    // life; cluster blocks stay recomputable + evictable
    // (the winnowingOverlap idiom).
    // dnorm depends only on the code — computed once per id INSIDE the
    // materialized frame and carried as 8 bytes, so the per-candidate
    // cosine below references each decoded vector exactly once (a norm
    // recomputed per pair would make Catalyst inline a second decode
    // per reference, and a dnorm outside the materialization would
    // re-decode N rows once per consuming subtree). Two STACKED
    // projections, not one: dnorm's decode must reference the stored
    // `code` ATTRIBUTE, never the raw encode expression — nine inlined
    // copies of the encode (one per element_at + the alias) would make
    // "one codeword scan per vector" depend on subexpression
    // elimination instead of plan structure (CollapseProject declines
    // to inline a non-cheap producer referenced many times, so the
    // structure holds).
    val uCols = Seq(col(idCol).as("id"),
      Vectors.lshBucketsAll(col(vecCol), bits, tables).as("buckets"),
      graft.plans.VecExprs.pqEncode(col(vecCol), codebook).as("code")) ++
      (if (refineBits > 0) Seq(Vectors.lshBucketsAllOff(col(vecCol),
        refineBits, tables, BucketCap.RefineFamilyOffset).as("xbuckets"))
       else Nil)
    // dnorm = ‖decode(code)‖ via the pair-dot kernel with itself —
    // sqrt(pqPairDot(code, code)) ≡ sqrt(dot(dec, dec)) bitwise
    // (KernelOps.pqPairDot parity contract) without materializing the
    // decoded array once per corpus row.
    val u = Materialize.once(
      graft.model.Tables.spread(corpus).select(uCols: _*)
        .withColumn("dnorm", sqrt(graft.plans.VecExprs.pqPairDot(
          col("code"), col("code"), codebook, codebook))))
    // codes + dnorm RIDE the banded stream into the bucket join and the
    // approx screen runs INSIDE it (the lshNearDupPairs shape, proven
    // spill-free at 60 GB shuffle where the former pair-list shape —
    // distinct over every multi-table collision, then two corpus-sized
    // code joins by id — sorted the full candidate list twice and
    // spilled 242 GB at x1000; SCALE.md round-11 "third decade"). The
    // per-candidate decode is map-side CPU that scales linearly and
    // partitions on a cluster; candidate rows stream through the
    // shuffle-hash join and only approx-SURVIVORS are ever sorted
    // (the least/greatest distinct below, ~final-pair-count rows).
    val banded0 = u.select(
      Seq(col("id"), col("code"), col("dnorm"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket"))) ++
        (if (refineBits > 0)
           Seq(col("xbuckets")(col("tbl")).as("xb")) else Nil): _*)
    // per-collision screen: the pair-dot kernel replaces the two
    // decode materializations (flatten + m element_at each) the
    // declarative form paid per candidate — bitwise-identical cosine
    // (same doubles, same fold order; PqKernelSpec pins it), so the
    // approx-survivor set cannot move
    val screened = cappedCandidateJoin(banded0, refineBits, maxBucket,
        payload = Seq("code", "dnorm"))
      .filter(Vectors.cosineFromDot(
        graft.plans.VecExprs.pqPairDot(col("code"), col("ccode"),
          codebook, codebook),
        col("dnorm"), col("cdnorm")) >= threshold - margin)
      .select(least(col("id"), col("cid")).as("id_a"),
        greatest(col("id"), col("cid")).as("id_b"))
      .distinct()
    // exact verification: full vectors fetched for approx-survivors only
    def full(p: String) = corpus
      .select(col(idCol).as(s"id_$p"), col(vecCol).as(s"vec_$p"))
      .withColumn(s"norm_$p", Vectors.norm(col(s"vec_$p")))
    screened.join(full("a"), "id_a").join(full("b"), "id_b")
      .withColumn("cosine", Vectors.cosineWithNorms(col("vec_a"), col("vec_b"),
        col("norm_a"), col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** IVF-style coarse quantization: centroids = per-cluster mean vectors
    * (computed from a labeled/assigned corpus), probe = nearest
    * `nProbe` centroids, score only vectors in probed clusters.
    * Centroid averaging is FP-order-dependent, so this operator is for
    * the scale path (no bitwise oracle). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, clusterCol: String,
              k: Int, nProbe: Int, dim: Int = 64): DataFrame = {
    // dim is a parameter (signature parity with ivfMedianTopK): a
    // hardcoded 64 would ANSI-error on narrower embeddings and
    // silently truncate centroids — wrong probe routing — on wider ones
    require(dim >= 1, "dim must be positive")
    // cnorm once per centroid, not per (query, centroid) pair — the
    // ivfMedianTopK/ivfLloydTopK withNorm idiom
    val centroids = corpus.groupBy(col(clusterCol).as("cluster"))
      .agg(array((0 until dim).map(i => avg(element_at(col(vecCol), i + 1))): _*).as("centroid"))
      .withColumn("cnorm", Vectors.norm(col("centroid")))
    val q = prep(queries, idCol, vecCol, "q")
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", Vectors.cosineWithNorms(
        col("q_vec"), col("centroid"), col("q_norm"), col("cnorm")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cdist").desc, col("cluster").asc)))
      .filter(col("prank") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("cluster"))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      col(clusterCol).as("cluster"))
      .withColumn("c_norm", Vectors.norm(col("c_vec")))
    val scored = c.join(broadcast(probes), "cluster")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Vectors.cosineWithNorms(
        col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")))
    rankTopK(scored, k)
  }
}
