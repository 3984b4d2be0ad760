package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Deduplication operator family over a document corpus (north-star
  * LLM-pipeline operators; the reference's key-level keep-first dedup —
  * SURVEY.md §2 S-2/J-5 — generalized to content-level exact and
  * near-duplicate detection).
  *
  * Scale design: everything is expressed as groupBy/join on derived hash
  * keys — partial hash aggregation and shuffle on high-cardinality keys,
  * no cross joins. MinHash-LSH candidate generation is
  * explode(bands) → equi-join on band key, so the shuffle volume is
  * O(docs × bands), and only bucket-colliding pairs are verified with the
  * exact Jaccard — the standard way to make near-dup detection feasible
  * at 100 TB.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep lowest id as keeper.
    * NULL text coalesces to "" (the family-wide convention —
    * spanDedup/dedupSubstrings treat them as the same empty content):
    * hashing raw NULL would give those docs a NULL content_hash —
    * a separate duplicate class with its own keeper, and a key that
    * silently drops from any downstream equality join. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(
        md5(coalesce(col(textCol), lit("")).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Per-document MinHash signature + band keys.
    * Output: id, sh (array<long> shingle hashes), sig (array<long>),
    * band_0..band_{bands-1}. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    // same guard as simhashNearDup's bits % bands: bands > numHashes
    // would give rows = 0 — every band key becomes md5 of an empty
    // slice, identical for EVERY document, and the banded self-join
    // degenerates into the full N² cross product the banding exists to
    // prevent; a non-divisible split would silently ignore trailing
    // signature entries
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rows = numHashes / bands
    val withSig = graft.model.Tables.spread(docs)
      // native expressions — value-identical to the declarative
      // shingles→shingleHashes→minhashFromHashes chain (DedupSpec twins).
      // sh is persisted SORTED-DISTINCT: every downstream consumer is
      // set-semantic (the minhash min and the Jaccard verify), sorting
      // costs one pass per DOCUMENT here, and the verify kernel's
      // sorted fast path then skips an O(n log n) sort per CANDIDATE
      // PAIR per side — a doc in a duplicate cluster of size c is
      // otherwise re-sorted O(c) times; distinct also shrinks the
      // shuffled arrays exactly on the duplicate-heavy documents.
      // sorted-distinct via one kernel pass: array_sort is a
      // higher-order function whose default comparator runs as an
      // interpreted boxed lambda per comparison per document
      // (CodegenFallback); SortedDistinctLongs is bitwise-identical
      // (VectorsSpec pins value + null edges) inside the codegen stage
      .withColumn("sh", graft.plans.SortedDistinctLongs.column(
        graft.plans.ShingleHashes64.column(col(textCol), shingleK)))
      .withColumn("sig", graft.plans.MinHashSig.column(col("sh"), numHashes))
    (0 until bands).foldLeft(withSig) { (df, b) =>
      df.withColumn(s"band_$b", Hashing.bandKey(col("sig"), b, rows))
    }.select(col(idCol) +: col("sh") +: col("sig") +:
      (0 until bands).map(b => col(s"band_$b")): _*)
  }

  /** MinHash-LSH near-dup candidate pairs, verified by exact Jaccard
    * >= minJaccard100 over the (distinct) shingle-hash sets — the same
    * value as shingle-string Jaccard up to md5%M31 collisions, which
    * both engines compute identically. Output: id_a < id_b, jaccard100. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int, numHashes: Int, bands: Int,
                   minJaccard100: Int): DataFrame = {
    // The signature table feeds three plan subtrees (band explode + both
    // sides of the shingle re-join); without materializing, Spark
    // recomputes the md5 minhash chain 3× — the dominant cost.
    // Materialize.once, not df.persist: a persist on this call-local
    // frame pins a CacheManager entry no call site can unpersist.
    val sigs = graft.operators.Materialize.once(
      minhashSignatures(docs, idCol, textCol, shingleK, numHashes, bands))
    pairsFromSigs(sigs, idCol, bands, minJaccard100)
  }

  /** [[minhashPairs]] over an already-computed (and ideally persisted)
    * signature table — callers that reuse one signature pass across
    * several consumers (pair list, clustering, incremental batches)
    * feed the shared table here instead of re-hashing the corpus.
    *
    * `maxBucket` (optional) frequency-caps each band bucket to its
    * `cap` smallest-hash members before the self-join ([[BucketCap]]):
    * a boilerplate-heavy corpus region can put O(N) docs in one band
    * bucket, whose self-join is O(N²) pair rows through a single
    * shuffle key — unfixable downstream (AQE splits partitions, not
    * pair counts). The cap is a RECALL tradeoff, not free: a capped
    * bucket reports pairs only among its kept members, so inside a
    * degenerate duplicate cluster the pair LIST is a subset (each band
    * keeps a different hash-ordered subset, so more bands widen
    * coverage; pairs whose endpoints never co-survive a band are
    * lost — DedupSpec measures the bound). Use None (default, exact
    * LSH recall) unless bucket skew is a real risk; downstream
    * CLUSTERING recovers most of the loss through transitivity. */
  def pairsFromSigs(sigs: DataFrame, idCol: String, bands: Int,
                    minJaccard100: Int,
                    maxBucket: Option[Int] = None): DataFrame = {
    val exploded0 = sigs.select(col(idCol).as("id"),
      explode(array((0 until bands).map(b => col(s"band_$b")): _*)).as("band"))
    val exploded = maxBucket.fold(exploded0)(cap =>
      BucketCap.capMembers(exploded0, Seq("band"), "id", cap))
    val a = exploded.select(col("id").as("id_a"), col("band"))
    val b = exploded.select(col("id").as("id_b"), col("band"))
    val pairs = a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val shA = sigs.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val shB = sigs.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    // The enrichment joins are deliberately UNHINTED: AQE converts them
    // to broadcast-hash at runtime when the candidate-pair list is small
    // (the usual case — the wide shingle arrays then never shuffle, and
    // skipping an eager count-gate job measures ~2× faster), and keeps
    // them as shuffle hash joins on id for dup-heavy corpora where
    // pairs grow ~quadratically inside duplicate clusters and would
    // blow a forced broadcast. Runtime sizes make the call, not a
    // row-count heuristic; DedupSpec proves the forced-shuffle plan
    // returns byte-identical results.
    shB.join(shA.join(pairs, "id_a"), "id_b")
      .withColumn("jaccard100",
        graft.plans.JaccardLong100.column(col("sh_a"), col("sh_b")))
      .filter(col("jaccard100") >= minJaccard100)
      .select(col("id_a"), col("id_b"), col("jaccard100"))
  }

  /** Incremental near-dup detection: candidate pairs touching at least
    * one INCOMING document, joined against a previously computed
    * signature store (`minhashSignatures` schema, e.g. read back from
    * parquet). The existing corpus is never re-tokenized or re-hashed —
    * per ingest batch the work is O(batch + collisions), not O(corpus),
    * which is what makes continuous dedup feasible at 100 TB. Emits
    * new-vs-old and new-vs-new pairs; old-vs-old pairs never regenerate.
    * Ids must be unique across `incoming` ∪ `existingSigs` (one row per
    * id: a [[graft.sources.StoreManifest]] store read or a write-once
    * artifact); a repeated id verifies its pairs once per copy.
    * Output: id_a < id_b, jaccard100 (same contract as [[minhashPairs]]).
    */
  def incrementalMinhashPairs(incoming: DataFrame, existingSigs: DataFrame,
                              idCol: String, textCol: String,
                              shingleK: Int, numHashes: Int, bands: Int,
                              minJaccard100: Int): DataFrame = {
    val newSigs = graft.operators.Materialize.once( // see minhashPairs
      minhashSignatures(incoming, idCol, textCol, shingleK, numHashes, bands))
    incrementalPairsFromSigs(newSigs, existingSigs, idCol, bands, minJaccard100)
  }

  /** [[incrementalMinhashPairs]] with the batch signatures already
    * computed — the streaming driver uses this so one signature pass
    * feeds both the pair join and the store append. Same input
    * contract: ids unique across `newSigs` ∪ `existingSigs`. */
  def incrementalPairsFromSigs(newSigs: DataFrame, existingSigs: DataFrame,
                               idCol: String, bands: Int,
                               minJaccard100: Int): DataFrame = {
    // verify only ids that appear in a candidate pair: the semi-join
    // bounds the verify side to O(pairs), not O(store).
    // The pair list feeds BOTH the semi-join and the verify join, so
    // materialize it once: without it Catalyst recomputes the banded
    // candidate join per consumer, which measured 3x on every
    // incremental query (u5 9.7 s -> 3.6 s warm at sf0.1). Mechanism
    // is master-aware — see [[Materialize.once]] (cluster runs get the
    // recomputable persist form, not a non-resilient checkpoint).
    val pairs = Materialize.once(
      incrementalCandidatePairs(newSigs, existingSigs, idCol, bands))
    val pairIds = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol))).distinct()
    val allSh = existingSigs.select(col(idCol), col("sh"))
      .unionByName(newSigs.select(col(idCol), col("sh")))
      .join(pairIds, Seq(idCol), "left_semi")
    val shA = allSh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val shB = allSh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    shB.join(shA.join(pairs, "id_a"), "id_b")
      .withColumn("jaccard100",
        graft.plans.JaccardLong100.column(col("sh_a"), col("sh_b")))
      .filter(col("jaccard100") >= minJaccard100)
      .select(col("id_a"), col("id_b"), col("jaccard100"))
  }

  /** [[incrementalPairsFromSigs]] with SIGNATURE-ESTIMATE verification:
    * candidate pairs are verified by the MinHash signature agreement
    * fraction instead of the exact shingle Jaccard. Per MinHash theory
    * P[sig_i(a) = sig_i(b)] = J(a,b) for each of the `numHashes`
    * independent hash slots, so `n_agree / numHashes` is an unbiased
    * estimate of the Jaccard — and, crucially, it needs only the
    * signatures: the store shrinks from O(8 B × corpus tokens) (the
    * `sh` shingle arrays) to O(numHashes) longs per document, which is
    * what makes a perpetual-ingest store viable at 100 TB. The
    * estimate is exact integer arithmetic over the stored longs
    * (deterministic, oracle-expressible); the tradeoff is binomial
    * estimation noise around the threshold — DedupSpec measures recall
    * against the exact-Jaccard verifier.
    *
    * `existingSigs`/`newSigs` need only (id, sig, band_*): pass
    * [[sigOnly]] projections; ids unique across both, as in
    * [[incrementalPairsFromSigs]]. Output: id_a < id_b, n_agree,
    * sig_agree100 (= floor(100 × n_agree / numHashes)).
    */
  def incrementalPairsBySig(newSigs: DataFrame, existingSigs: DataFrame,
                            idCol: String, numHashes: Int, bands: Int,
                            minAgree100: Int): DataFrame = {
    // same semi-join and once-materialized pair list as the
    // exact-Jaccard path (two consumers; master-aware — see
    // [[Materialize.once]])
    val pairs = Materialize.once(
      incrementalCandidatePairs(newSigs, existingSigs, idCol, bands))
    val pairIds = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol))).distinct()
    val allSig = existingSigs.select(col(idCol), col("sig"))
      .unionByName(newSigs.select(col(idCol), col("sig")))
      .join(pairIds, Seq(idCol), "left_semi")
    val sigA = allSig.select(col(idCol).as("id_a"), col("sig").as("sig_a"))
    val sigB = allSig.select(col(idCol).as("id_b"), col("sig").as("sig_b"))
    sigB.join(sigA.join(pairs, "id_a"), "id_b")
      // agreement count: native kernel (graft.plans.SigAgree) — the
      // zip_with/aggregate twin is CodegenFallback and ran INTERPRETED
      // per candidate pair as this join's condition; the kernel is
      // bitwise-identical (VectorsSpec pins value + null edges) and
      // runs inside the codegen'd join
      .withColumn("n_agree",
        graft.plans.VecExprs.sigAgree(col("sig_a"), col("sig_b")))
      .withColumn("sig_agree100",
        expr(s"CAST((n_agree * 100) DIV $numHashes AS INT)"))
      .filter(col("sig_agree100") >= minAgree100)
      .select(col("id_a"), col("id_b"), col("n_agree"), col("sig_agree100"))
  }

  /** Candidate generation shared by both incremental verifiers: batch
    * bands against (store ∪ batch), normalized so each pair appears
    * once even when both sides are incoming (seen in both join
    * orders). AQE broadcasts the (small) incoming band table at
    * runtime. A fix here fixes BOTH verification modes. */
  private def incrementalCandidatePairs(newSigs: DataFrame,
                                        existingSigs: DataFrame,
                                        idCol: String, bands: Int): DataFrame = {
    def banded(sigs: DataFrame) = sigs.select(col(idCol).as("id"),
      explode(array((0 until bands).map(b => col(s"band_$b")): _*)).as("band"))
    val newBands = banded(newSigs)
    val allBands = banded(existingSigs).unionByName(newBands)
    newBands.select(col("id").as("nid"), col("band"))
      .join(allBands, Seq("band"))
      .filter(col("nid") =!= col("id"))
      .select(least(col("nid"), col("id")).as("id_a"),
        greatest(col("nid"), col("id")).as("id_b"))
      .distinct()
  }

  /** Project a [[minhashSignatures]] frame down to what the
    * signature-estimate store needs: id + sig + band keys, no shingle
    * arrays. */
  def sigOnly(sigs: DataFrame, idCol: String, bands: Int): DataFrame =
    sigs.select(col(idCol) +: col("sig") +:
      (0 until bands).map(b => col(s"band_$b")): _*)

  /** Full-containment (fragment) detection: pairs (a, b), a ≠ b, where
    * EVERY distinct word-k-gram of document a also occurs in document b
    * — the quote/fragment/subset duplicates Jaccard LSH cannot see (a
    * small fragment's Jaccard against its source is tiny, so minhash
    * bands never collide).
    *
    * Candidate generation is exact, not probabilistic: if b contains
    * ALL of a's grams it contains a's globally RAREST gram (ties broken
    * on the hash), so blocking a on that single gram has guaranteed
    * 100% recall — and the blocks are the smallest available by
    * construction, the anti-skew mirror of stop-token blocking. The
    * shuffle is O(Σ rarest-gram doc-frequencies). Verification counts
    * shared grams with two slim (id, hash) equi-joins and keeps pairs
    * with inter == |grams(a)|; gram arrays and text never shuffle.
    *
    * Gram identity is the RAW 60-bit hash (no mod-2³¹ reduction): at
    * 31 bits a corpus-scale vocabulary would hash-collide and inflate
    * the intersection; at 60 bits collisions are ~1e-9 per corpus.
    *
    * @return (id_a, id_b, n_grams_a, n_shared) with n_shared == n_grams_a
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int): DataFrame = {
    val grams = graft.model.Tables.spread(docs)
      .select(col(idCol).as("id"),
        explode(array_distinct(
          graft.plans.ShingleHashes64.column60(col(textCol), shingleK))).as("gh"))
      // Materialize.once, not df.persist: four subtrees read the gram
      // table, and a persist entry on a call-local frame outlives every
      // consumer (see Materialize)
      .transform(graft.operators.Materialize.once)
    val gdf = grams.groupBy(col("gh")).agg(count(lit(1)).as("gdf"))
    // rarest gram per doc as a partial-aggregating argmin — min(struct)
    // compares (gdf, gh) lexicographically, the same winner a
    // (gdf asc, gh asc) rank-1 window picks, but with map-side combine
    // instead of shuffling + sorting the whole corpus gram stream
    val rare = grams.join(gdf, "gh")
      .groupBy(col("id"))
      .agg(min(struct(col("gdf"), col("gh"))).as("m"))
      .select(col("id").as("id_a"), col("m.gh").as("gh"))
    // one rare gram per a and grams is distinct per (id, gh), so the
    // candidate list is already duplicate-free
    val cands = rare.join(grams.select(col("id").as("id_b"), col("gh")), "gh")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
    val na = grams.groupBy(col("id")).agg(count(lit(1)).as("n_grams_a"))
    cands
      .join(grams.select(col("id").as("id_a"), col("gh")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("gh")), Seq("id_b", "gh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .join(na.withColumnRenamed("id", "id_a"), "id_a")
      .filter(col("n_shared") === col("n_grams_a"))
      .select(col("id_a"), col("id_b"), col("n_grams_a"), col("n_shared"))
  }

  /** Per-document SimHash fingerprint (native kernels, value-identical
    * to the declarative tokenHashes→simhashFromHashes chain — DedupSpec). */
  def simhashes(docs: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame =
    graft.model.Tables.spread(docs)
      .withColumn("th", graft.plans.ShingleHashes64.tokenColumn(col(textCol)))
      .select(col(idCol), graft.plans.SimHash64.column(col("th"), bits).as("simhash"))

  /** SimHash near-dup search: LSH-for-hamming banding — split the
    * `bits`-wide fingerprint into `bands` equal bit-slices, candidates
    * share at least one exact slice at the same position, then verify
    * bit_count(xor) <= maxHamming. Keeps `bits` below 63 so values stay
    * positive and bit-slicing shifts agree across engines. Guaranteed
    * recall for pairs with fewer than `bands` differing bits
    * (pigeonhole); probabilistic above. Shuffle volume O(docs × bands),
    * never O(docs²). Output: id_a < id_b, hamming.
    *
    * `maxBucket` (optional) frequency-caps each (band, slice-value)
    * bucket to its cap smallest-hash members before the self-join —
    * identical-fingerprint mass (template spam) otherwise makes one
    * bucket's self-join quadratic. Same recall tradeoff and default as
    * [[pairsFromSigs]]: the capped pair list is a per-band-subset, and
    * capping WAIVES the pigeonhole recall guarantee inside oversized
    * buckets (a < bands-bit pair is found only while one of its shared
    * slices keeps both endpoints). None = exact LSH recall. */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     bits: Int, bands: Int, maxHamming: Int,
                     maxBucket: Option[Int] = None): DataFrame = {
    require(bits < 63 && bits % bands == 0)
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    // materialize: both sides of the band self-join read the
    // fingerprints — without it the tokenize+digest pass over the
    // corpus runs twice. One long per doc; negligible storage at any
    // scale. Materialize.once, not df.persist (call-local frame).
    val sims = graft.operators.Materialize.once(
      simhashes(docs, idCol, textCol, bits))
    val banded0 = sims.select(col(idCol).as("id"), col("simhash"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            (shiftright(col("simhash"), b * bandBits) bitwiseAND lit(mask)).as("bv"))): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    val banded = maxBucket.fold(banded0)(cap =>
      BucketCap.capMembers(banded0, Seq("band", "bv"), "id", cap))
    val a = banded.select(col("id").as("id_a"), col("simhash").as("sim_a"),
      col("band"), col("bv"))
    val b = banded.select(col("id").as("id_b"), col("simhash").as("sim_b"),
      col("band"), col("bv"))
    a.join(b, Seq("band", "bv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a") bitwiseXOR col("sim_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Character-n-gram Jaccard between explicitly paired rows (the
    * caller supplies the pairing join). */
  def ngramJaccard(pairs: DataFrame, textA: String, textB: String,
                   n: Int, maxLen: Int): DataFrame =
    pairs.withColumn("ngram_jaccard100",
      Hashing.jaccard100(
        Hashing.charNgrams(col(textA), n, maxLen),
        Hashing.charNgrams(col(textB), n, maxLen)))

  /** Keep-first dedup on an arbitrary key (reference S-2 semantics). */
  def keepFirst(df: DataFrame, keyCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** C4-style duplicate-SPAN removal: each document is cut into
    * disjoint `spanTokens`-token spans on a fixed grid from token 0
    * (the last span may be short), and every occurrence of a span text
    * other than its globally FIRST one — min `(id, span_idx)` across
    * the corpus — is scrubbed. Returns one row per input document:
    * `(id, n_spans, n_spans_kept, clean_text)` where `clean_text` is
    * the surviving spans re-joined in document order ("" when every
    * span was seen before, e.g. a document pasted together from other
    * documents' spans). Unlike minhash (whole-doc, similarity-gated)
    * or boilerplate scrub (frequency-gated), this removes even a
    * SINGLE repetition of a long exact span — the C4 "three-sentence"
    * rule re-expressed on a token grid.
    *
    * Scale shape: one explode (narrow), one groupBy on the FULL
    * 128-bit md5 of the span (a 100 TB corpus holds ~10^10 spans,
    * past the birthday bound of the 60-bit [[Hashing.hash64]] prefix
    * used elsewhere), one per-document regroup. The argmin is a
    * partial-aggregable `min(struct)` — map-side combine collapses a
    * boilerplate span repeated millions of times to one candidate per
    * input partition before the shuffle, so a hot span never skews a
    * reduce key (the window-rank formulation would). Span text rides
    * exactly two exchanges (the distinct-span argmin and the
    * per-document regroup); the final count join moves only
    * `(id, n_spans)`. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanTokens: Int): DataFrame = {
    val winners = spanWinners(df, idCol, textCol, spanTokens)
      .select(col(idCol), col("span_idx"), col("span_text"))
    reassemble(df, winners, idCol, textCol, spanTokens)
  }

  /** The disjoint token-grid span stream of a corpus:
    * `(id, span_idx, span_text)`. */
  private def spanGrid(df: DataFrame, idCol: String, textCol: String,
                       spanTokens: Int): DataFrame = {
    require(spanTokens > 0, "need spanTokens > 0")
    df.withColumn("__toks", Hashing.tokens(coalesce(col(textCol), lit(""))))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__s", explode(
        sequence(lit(0), greatest(col("__n") - 1, lit(0)), lit(spanTokens))))
      .select(col(idCol),
        expr(s"__s DIV $spanTokens").cast("int").as("span_idx"),
        array_join(slice(col("__toks"), col("__s") + 1, lit(spanTokens)), " ")
          .as("span_text"))
  }

  /** First occurrence of every distinct span:
    * `(span_md5, id, span_idx, span_text)`. */
  private def spanWinners(df: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int): DataFrame =
    spanGrid(df, idCol, textCol, spanTokens)
      .groupBy(md5(col("span_text").cast("binary")).as("span_md5"))
      .agg(min(struct(col(idCol), col("span_idx"), col("span_text"))).as("w"))
      .select(col("span_md5"), col(s"w.$idCol"), col("w.span_idx"),
        col("w.span_text"))

  /** Per-document reassembly of kept spans + span counts. */
  private def reassemble(df: DataFrame, kept: DataFrame, idCol: String,
                         textCol: String, spanTokens: Int): DataFrame = {
    val perDoc = kept.groupBy(col(idCol)).agg(
      count(lit(1)).cast("int").as("n_spans_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("span_idx"), col("span_text")))),
          x => x("span_text")), " ").as("clean_text"))
    df.withColumn("__n", size(Hashing.tokens(coalesce(col(textCol), lit("")))))
      .select(col(idCol),
        expr(s"(__n + ${spanTokens - 1}) DIV $spanTokens").cast("int").as("n_spans"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_spans_kept"), lit(0)).as("n_spans_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** The persisted store layout for [[incrementalSpanDedup]]: ONE
    * 32-hex-char md5 per distinct span ever seen — no text, no
    * positions. At 100 TB that is the minimal membership set the C4
    * scrub needs (write it bucketed on `span_md5` via
    * [[graft.sources.Layout]] so each ingest batch probes co-located
    * buckets instead of shuffling the store). */
  def spanStore(df: DataFrame, idCol: String, textCol: String,
                spanTokens: Int): DataFrame =
    spanWinners(df, idCol, textCol, spanTokens).select(col("span_md5"))

  /** MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — beyond-reference): over the positional word-`k`-gram 60-bit
    * hash stream, select the MINIMUM of every `w`-gram sliding window
    * and emit the distinct selected values per document. Guarantee:
    * any shared substring of ≥ w+k−1 tokens shares at least one
    * fingerprint — position-robust local sampling, the overlap
    * detector for the cases minhash (whole-doc similarity) and
    * [[spanDedup]] (grid-aligned exact spans) both miss: a fragment
    * pasted at an arbitrary offset into otherwise-unrelated content.
    * A document shorter than `w` grams contributes its global minimum.
    *
    * Expected density is 2/(w+1) of the gram stream, so the
    * fingerprint table is ~w/2× smaller than the gram table — the
    * sampling IS the scale story. Winnowing is sequential over ONE
    * document's stream, so it runs as a single-pass scalar kernel
    * ([[graft.plans.WinnowFingerprints64]]): zero exchanges — the gram
    * table (w/2× the output) never leaves the scan task, where the
    * former composed plan (posexplode → two stacked WindowExecs →
    * distinct) shuffled it once and carried it through two window
    * buffers before sampling discarded most of it.
    *
    * Requires one row per `idCol` value (the natural fingerprint-table
    * contract); duplicate ids duplicate `(id, fp)` pairs.
    * [[winnowingOverlap]] counts DISTINCT shared fp values and is
    * blind to them, but the incremental path's `fpDfCap` counts rows:
    * a store built from duplicate-id input over-counts df and drops
    * fingerprints near the cap (see [[incrementalWinnowingOverlap]]'s
    * input contract). */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
                           k: Int, w: Int): DataFrame = {
    require(w > 0, "need window w > 0")
    df.select(col(idCol),
      explode(graft.plans.WinnowFingerprints64.column(col(textCol), k, w))
        .as("fp"))
  }

  /** Exact-substring scrub at ARBITRARY offsets (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022 — beyond-reference): every word-`k`-gram occurring more
    * than once in the corpus keeps only its FIRST occurrence (minimal
    * `(id, pos)`); each token covered by a later occurrence is deleted.
    * A duplicated run of ≥ k tokens thus survives in exactly one place
    * however it is aligned — the arbitrary-offset exact companion of
    * [[spanDedup]] (grid-aligned exact spans) and
    * [[winnowedFingerprints]] (sampled detection without a scrub);
    * within-document self-repetition scrubs the same way. Documents
    * shorter than `k` tokens hash as one whole-text gram
    * (ShingleHashes64 semantics): a duplicate short doc scrubs to
    * empty, its first copy survives.
    *
    * Scale shape: one checkpointed pass lowers the corpus to slim
    * (id, pos, 60-bit hash) longs; the first-occurrence argmin is a
    * partial-aggregated `min(struct)` per gram (a boilerplate gram
    * collapses map-side — the [[spanDedup]] keep-first reasoning, never
    * a rank window shipping every copy); only grams with > 1 occurrence
    * — the duplication mass, not the vocabulary — re-join the stream,
    * and only covered POSITIONS shuffle back per doc. The text column
    * never enters an exchange (the removeSharedSpans tail). Full
    * 60-bit hashes: a collision deletes innocent text, so the 31-bit
    * bucket reduction is never used here.
    *
    * @return (idCol, n_tokens, n_kept, cleaned)
    */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    // null text coalesces to "" (the spanDedup convention): without it
    // the output row carries NULL n_tokens/n_kept/cleaned instead of
    // the documented counts, silently breaking downstream sums
    val safe = df.withColumn(textCol, coalesce(col(textCol), lit("")))
    val grams = substringGrams(safe, idCol, textCol, k)
    val covered = laterOccurrences(grams, idCol)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cpos"))
    CorpusStats.scrubCovered(safe, idCol, textCol, covered)
  }

  /** Occurrences of duplicated grams EXCEPT each gram's global first by
    * (id, pos) — the positions the first-occurrence rule deletes. The
    * argmin is a partial-aggregated min(struct): the shuffle carries
    * one row per distinct gram per partition (vocabulary-bounded, not
    * token-bounded), and only duplicated grams — the duplication mass —
    * rejoin the stream. */
  private def laterOccurrences(grams: DataFrame, idCol: String): DataFrame = {
    val dupFirst = grams
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col(idCol), col("pos"))).as("__w"))
      .filter(col("__occ") > 1)
      .select(col("gh"), col(s"__w.$idCol").as("__wid"), col("__w.pos").as("__wpos"))
    grams.join(dupFirst, "gh")
      .filter(!(col(idCol) === col("__wid") && col("pos") === col("__wpos")))
      .select(col(idCol), col("pos"))
  }

  /** The persisted store for [[incrementalSubstringScrub]]: ONE 60-bit
    * hash per distinct word-`k`-gram ever seen — no text, no positions,
    * no ids (the [[spanStore]] reasoning, at gram granularity). Write
    * it bucketed on `gh` so each ingest batch probes co-located buckets
    * instead of shuffling the store; after each ingest, append the
    * batch's fresh RAW grams ([[freshSubstringGrams]] projected to
    * `gh`, exactly what the streaming driver does) — NEVER grams of
    * the scrubbed text: scrubbing deletes tokens and re-joins
    * survivors, so cleaned-text grams include fabricated seam-spanning
    * k-grams (which would silently delete innocent future text) and
    * omit raw grams whose first occurrence lost a constituent token
    * (whose next occurrence would then wrongly survive). */
  def substringGramStore(df: DataFrame, textCol: String,
                         k: Int): DataFrame =
    df.select(explode(graft.plans.ShingleHashes64.column60(
        coalesce(col(textCol), lit("")), k))
        .as("gh"))
      .distinct()

  /** Incremental [[dedupSubstrings]]: scrub an ingest BATCH against the
    * gram store of all prior ingests — only the batch is ever tokenized
    * (O(batch) hashing + one membership probe; the corpus is never
    * re-read). Two scrub sources with one semantics: a batch gram whose
    * hash is IN the store scrubs at every batch position (the store is
    * earlier by construction, so the first occurrence is never in the
    * batch); a fresh gram duplicated WITHIN the batch keeps its batch-
    * first occurrence. When batch ids sort after corpus ids this equals
    * [[dedupSubstrings]] over (corpus ∪ batch) restricted to batch rows
    * (DedupSpec proves it; the d16 oracle recomputes it in full).
    *
    * @return (idCol, n_tokens, n_kept, cleaned) for the batch rows
    */
  def incrementalSubstringScrub(incoming: DataFrame, store: DataFrame,
                                idCol: String, textCol: String,
                                k: Int): DataFrame =
    incrementalSubstringScrubFromGrams(incoming,
      substringGrams(incoming, idCol, textCol, k), store, idCol, textCol, k)

  /** The checkpointed positional gram stream `(idCol, pos, gh)` —
    * compute it ONCE per ingest batch and feed both
    * [[incrementalSubstringScrubFromGrams]] and the store delta
    * (`grams.select("gh").distinct()` anti-joined with the store), so
    * a streaming driver tokenizes the batch a single time.
    *
    * CONSTRUCTION IS EAGER: `Materialize.once` runs the full
    * tokenization job at call time, so merely building a consumer's
    * DataFrame (plan inspection, DumpPlans) pays it even if the result
    * is never collected — the price of sharing one tokenize across the
    * scrub and the store delta without pinning a cache entry. */
  def substringGrams(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame =
    // coalesce BEFORE gram computation (dedupSubstrings' convention):
    // raw NULL text emits no gram rows, so a NULL-text corpus doc's
    // empty-text gram would never enter the store and an empty-text
    // batch doc would wrongly survive — breaking the documented
    // equality with the full recompute, which coalesces first
    Materialize.once(df.select(col(idCol),
      posexplode(graft.plans.ShingleHashes64.column60(
        coalesce(col(textCol), lit("")), k))
        .as(Seq("pos", "gh"))))

  /** Corpus-store screen cap: the largest batch key set the in-join
    * screens below broadcast (8 M longs ≈ 64 MB of key data). Under
    * the cap the corpus-sized store side is SCANNED through a
    * broadcast join instead of SHUFFLED through a sort-merge join —
    * per-batch cost O(corpus scan + collisions) instead of O(corpus
    * shuffle), the [[SimilaritySearch]] pairsFromCodes in-join-screen
    * shape applied to the incremental stores (measured before the
    * screen: the d16/d17 streaming twins re-shuffled ~6 GB of store
    * per batch at x1000, growing with the corpus — SCALE.md). Above
    * the cap the operators fall back to the full-shuffle plan,
    * correct at any batch size. */
  private val StoreScreenCap = 8L * 1000 * 1000

  /** The batch gram stream restricted to hashes the store lacks — the
    * ONE corpus-sized store join of an incremental scrub batch,
    * materialized so the scrub AND the store delta
    * (`fresh.select("gh").distinct()`) both read it without a second
    * full-store join per micro-batch (the [[freshSpanWinners]] shape;
    * the store is the corpus-sized side, so each redundant join is the
    * dominant per-batch I/O once ingest has run for a while).
    *
    * Membership only needs the store rows whose hash the BATCH
    * mentions, so under [[StoreScreenCap]] the store is probed with a
    * broadcast of the batch's distinct hashes (store side: pure scan,
    * zero shuffle) and the grams anti-join the small HIT set — dups in
    * the hit set would be harmless to an anti join, and the store is
    * globally distinct by construction anyway. `grams` is materialized
    * ([[substringGrams]] is eager), so the guard count recomputes
    * nothing. */
  def freshSubstringGrams(grams: DataFrame, store: DataFrame): DataFrame =
    graft.operators.Materialize.once {
      if (grams.count() <= StoreScreenCap) {
        val batchGh = grams.select(col("gh")).distinct()
        val hitGh = store.select(col("gh")).join(broadcast(batchGh), Seq("gh"))
        grams.join(broadcast(hitGh), Seq("gh"), "left_anti")
      } else
        grams.join(store.select(col("gh")), Seq("gh"), "left_anti")
    }

  /** [[incrementalSubstringScrub]] over an already-computed gram
    * stream. */
  def incrementalSubstringScrubFromGrams(incoming: DataFrame, grams: DataFrame,
                                         store: DataFrame,
                                         idCol: String, textCol: String,
                                         k: Int): DataFrame =
    incrementalSubstringScrubWithFresh(incoming, grams,
      freshSubstringGrams(grams, store), idCol, textCol, k)

  /** [[incrementalSubstringScrubFromGrams]] with the fresh (not-in-
    * store) grams already computed — the streaming driver shares ONE
    * [[freshSubstringGrams]] anti-join between this scrub and its
    * store delta. */
  def incrementalSubstringScrubWithFresh(incoming: DataFrame, grams: DataFrame,
                                         fresh: DataFrame,
                                         idCol: String, textCol: String,
                                         k: Int): DataFrame = {
    // null text coalesces to "" (the dedupSubstrings/spanDedup
    // convention): the scrub output must carry counts, never NULLs
    val safe = incoming.withColumn(textCol, coalesce(col(textCol), lit("")))
    // covered-by-store = grams MINUS fresh, by (id, pos) — a
    // batch-vs-batch anti-join, so the corpus-sized store is joined
    // exactly once (inside freshSubstringGrams), not twice; fresh
    // grams replay the batch-local first-occurrence rule
    val coveredByStore = grams.join(fresh.select(col(idCol), col("pos")),
      Seq(idCol, "pos"), "left_anti")
    val covered = coveredByStore.select(col(idCol), col("pos"))
      .unionByName(laterOccurrences(fresh, idCol))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cpos"))
    CorpusStats.scrubCovered(safe, idCol, textCol, covered)
  }

  /** Partial-overlap pairs by shared winnowing fingerprints: documents
    * sharing ≥ `minShared` distinct fingerprint values. Fingerprints
    * occurring in more than `fpDfCap` documents are dropped before the
    * self-join — a corpus-ubiquitous fingerprint (boilerplate minimum)
    * carries no overlap signal but would otherwise contribute
    * O(df²) join rows; the cap bounds any single fingerprint's join
    * fan-out, the same head-exclusion reasoning as the boilerplate
    * operators. */
  def winnowingOverlap(df: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int, minShared: Long,
                       fpDfCap: Long = 1000L): DataFrame = {
    // Materialize.once, not df.persist: the fingerprint table feeds
    // three subtrees (df count + both join sides), but a df.persist
    // entry would pin the CacheManager for the session's life on every
    // call of this call-local frame; cluster blocks stay recomputable
    // + evictable (the contractedMerge reasoning)
    val fps = Materialize.once(
      winnowedFingerprints(df, idCol, textCol, k, w))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= fpDfCap).select(col("fp"))
    val capped = fps.join(keep, Seq("fp"))
    capped.select(col(idCol).as("id_a"), col("fp"))
      .join(capped.select(col(idCol).as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      // count DISTINCT shared values: with the one-row-per-id contract
      // (id_a, id_b, fp) rows are already unique so this equals
      // count(*) at the same shuffle volume (partial distinct dedups
      // map-side), and duplicate-id inputs degrade to correct counts
      // instead of silently inflating n_shared
      .groupBy(col("id_a"), col("id_b")).agg(countDistinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental [[winnowingOverlap]]: partial-overlap pairs TOUCHING
    * an ingest batch, against the fingerprint store of all prior
    * ingests — only the batch is tokenized and winnowed; the store is
    * exactly the `(id, fp)` output of [[winnowedFingerprints]] over
    * prior batches (write it bucketed on `fp`; append the batch's rows
    * after pairing). Old-old pairs never regenerate. The `fpDfCap`
    * head exclusion is computed over store ∪ batch, so results equal
    * the full recompute over (corpus ∪ batch) restricted to pairs with
    * a batch member (DedupSpec proves it; the d17 oracle recomputes
    * it in full).
    *
    * Input contract: ids unique across `incoming` ∪ the store's docs,
    * and the store's (id, fp) rows distinct — [[winnowedFingerprints]]
    * emits each fingerprint once per doc, so df is a plain row count.
    *
    * Output: id_a < id_b, n_shared (≥ `minShared` distinct shared
    * fingerprint values).
    */
  def incrementalWinnowingOverlap(incoming: DataFrame, storeFps: DataFrame,
                                  idCol: String, textCol: String,
                                  k: Int, w: Int, minShared: Long,
                                  fpDfCap: Long = 1000L): DataFrame =
    incrementalWinnowingOverlapFromFps(
      Materialize.once(winnowedFingerprints(incoming, idCol, textCol, k, w)),
      storeFps, idCol, minShared, fpDfCap)

  /** [[incrementalWinnowingOverlap]] over an already-computed (and
    * persisted/checkpointed) batch fingerprint table — the streaming
    * driver winnows once and feeds both the pairing and the store
    * append here. Same input contract. */
  def incrementalWinnowingOverlapFromFps(newFps: DataFrame, storeFps: DataFrame,
                                         idCol: String, minShared: Long,
                                         fpDfCap: Long): DataFrame = {
    // In-join store screen: only store rows whose fp occurs in the
    // BATCH can ever reach the pair join (the fp equi-join against
    // newFps kills every other row), and the df cap only matters for
    // fps that reach it — so restricting the store side through a
    // broadcast semi-join of the batch's fp set changes nothing in the
    // result while turning the per-batch cost from O(corpus) shuffle
    // (the full store re-sorted through the df agg and pair join every
    // batch — measured 6 GB/batch at x1000, growing with the corpus)
    // into O(corpus scan + collisions). df per surviving fp is still
    // counted over ALL its occurrences (store rows with that fp all
    // pass the screen). Guarded by [[StoreScreenCap]]; newFps is
    // materialized by caller contract, so the guard count is free.
    val screenedStore = {
      if (newFps.count() <= StoreScreenCap) {
        val batchFpSet = newFps.select(col("fp")).distinct()
        storeFps.select(col(idCol), col("fp"))
          .join(broadcast(batchFpSet), Seq("fp"))
      } else storeFps.select(col(idCol), col("fp"))
    }
    // the store side is a (bucketed) parquet read — scanning it twice
    // (df counts + pair join) beats checkpointing a corpus-sized frame
    val allFps = screenedStore
      .unionByName(newFps.select(col(idCol), col("fp")))
    // df = docs per fp: (id, fp) rows are distinct by the input
    // contract, so a plain count (no per-group hash set in the partial)
    val keep = allFps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= fpDfCap).select(col("fp"))
    // the new side joins the pair join UNFILTERED: cappedAll is already
    // keep-restricted, so the fp equi-join enforces the cap on both
    // sides — a separate newFps-vs-keep join would re-pay a join
    // against the near-vocabulary-sized keep set per micro-batch for a
    // byte-identical result
    val cappedAll = allFps.join(keep, Seq("fp"))
    newFps.select(col(idCol).as("nid"), col("fp"))
      .join(cappedAll.select(col(idCol).as("oid"), col("fp")), Seq("fp"))
      .filter(col("nid") =!= col("oid"))
      .select(least(col("nid"), col("oid")).as("id_a"),
        greatest(col("nid"), col("oid")).as("id_b"), col("fp"))
      // a new-new pair surfaces in BOTH join orders per shared fp —
      // dedup (id_a, id_b, fp) before counting
      .distinct()
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The batch's surviving spans against a prior-ingest store:
    * intra-batch keep-first winners whose hash the store does NOT
    * contain — `(span_md5, id, span_idx, span_text)`. This is both
    * the scrub input ([[reassembleSpans]]) and, projected to
    * `span_md5`, the store delta to append after the batch — compute
    * it once (persist in a streaming loop) and derive both. */
  def freshSpanWinners(incoming: DataFrame, store: DataFrame,
                       idCol: String, textCol: String,
                       spanTokens: Int): DataFrame = {
    // Same in-join store screen as [[freshSubstringGrams]]: membership
    // only needs store rows whose span hash the BATCH produced. The
    // winners pass is materialized here (eager, the [[substringGrams]]
    // convention) so the guard count and both consumers (scrub + store
    // delta via the caller) share one spans job instead of
    // re-tokenizing.
    val winners = graft.operators.Materialize.once(
      spanWinners(incoming, idCol, textCol, spanTokens))
    if (winners.count() <= StoreScreenCap) {
      val batchMd5 = winners.select(col("span_md5")).distinct()
      val hit = store.select(col("span_md5"))
        .join(broadcast(batchMd5), Seq("span_md5"))
      winners.join(broadcast(hit), Seq("span_md5"), "left_anti")
    } else
      winners.join(store.select(col("span_md5")), Seq("span_md5"), "left_anti")
  }

  /** Rebuild each document of `incoming` from its kept spans
    * (`(id, span_idx, span_text)` rows) — the output shape of
    * [[spanDedup]]. */
  def reassembleSpans(incoming: DataFrame, kept: DataFrame, idCol: String,
                      textCol: String, spanTokens: Int): DataFrame =
    reassemble(incoming, kept.select(col(idCol), col("span_idx"),
      col("span_text")), idCol, textCol, spanTokens)

  /** Incremental C4 span scrub: clean an ingest BATCH against the
    * span-hash store accumulated from all prior ingests — the batch is
    * the only text ever tokenized (O(batch) hashing + one membership
    * probe; the corpus is never re-read). Keep-first runs in two
    * layers with identical semantics to a full [[spanDedup]] over
    * (corpus ∪ batch) when batch ids sort after corpus ids: the
    * intra-batch argmin picks each span's first batch occurrence, and
    * the anti-join against `store` (`span_md5` column) removes any
    * span the corpus already contains. */
  def incrementalSpanDedup(incoming: DataFrame, store: DataFrame,
                           idCol: String, textCol: String,
                           spanTokens: Int): DataFrame =
    reassembleSpans(incoming,
      freshSpanWinners(incoming, store, idCol, textCol, spanTokens),
      idCol, textCol, spanTokens)
}
