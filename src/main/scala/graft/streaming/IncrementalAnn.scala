package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Vectors
import graft.operators.SimilaritySearch

/** Continuous embedding indexing + near-duplicate detection — the
  * vector twin of [[IncrementalDedup]]: each micro-batch of embeddings
  * is PQ-encoded and sign-LSH-bucketed ONCE, candidates are generated
  * by bucket-joining the batch against the accumulated code store, and
  * surviving pairs are verified by the asymmetric PQ cosine (decoded
  * codes on both sides, screened INSIDE the bucket join) — so the
  * store carries `m` small ints, a few bucket ints, and the 8-byte
  * decoded norm per vector, never the float embeddings, and per batch
  * the work is O(batch + collisions), not O(corpus).
  *
  * Codebooks are GENERATIONAL: the first batch trains generation 0
  * (deterministic smallest-hash sample) and persists it beside the
  * store; later batches reuse the newest generation — which is what
  * makes codes cheap to compare — UNLESS the batch's quantization
  * error has drifted past `maxDriftRatio` × the generation's training
  * error, in which case the batch trains a NEW generation and is
  * encoded under it (retrain + re-encode the delta; the store's old
  * codes stay put). Cross-generation comparison stays exact because
  * verification is asymmetric anyway: each side's code is DECODED
  * under the generation that produced it before the cosine — only the
  * coarse LSH blocking (computed from the raw vector, codebook-free)
  * must agree across generations, and it does by construction.
  *
  * Runs on [[MicroBatch]] over a [[StoreCompaction]] code store. The
  * codebook sidecar has its own replay rule: a generation is only
  * trusted once its `_SUCCESS` marker exists — a generation half-written
  * by a crashed retrain is ignored on replay and deterministically
  * rewritten by the same drift decision (StreamingSpec drives both).
  */
object IncrementalAnn {

  /** codebook(mi)(ki)(j): `m` subspaces × `k` codewords × subDim. */
  type Codebook = Array[Array[Array[Double]]]

  /** Ingest new embedding files under `inputDir` once (AvailableNow).
    * Emits (id_a, id_b, approx_cos) pairs with approx_cos >=
    * `minCosine` into `pairsOutDir`; appends (id, gen, code, bucket
    * ints) to `codeStoreDir`. `maxDriftRatio` arms the staleness
    * policy (infinite = single codebook forever). */
  def runOnce(spark: SparkSession, schema: StructType, inputDir: String,
              idCol: String, vecCol: String,
              codeStoreDir: String, pairsOutDir: String, checkpointDir: String,
              dim: Int, m: Int = 8, codewords: Int = 16,
              lshBits: Int = 8, lshTables: Int = 4,
              minCosine: Double = 0.9,
              maxDriftRatio: Double = Double.PositiveInfinity,
              maxBucket: Int = Int.MaxValue,
              refineBits: Int = 0): Unit = {
    if (refineBits > 0)
      graft.operators.BucketCap.requireIndependentFamilies(
        lshBits, lshTables, refineBits, lshTables)
    requireStoreLayout(spark, codeStoreDir, lshBits, lshTables, refineBits)
    adoptStoreLayout(spark, codeStoreDir, lshBits, lshTables, refineBits)
    MicroBatch.run(spark, schema, inputDir, idCol, vecCol, checkpointDir) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val cbDir = s"$codeStoreDir/_codebook"
        val known = loadCodebooks(s, cbDir)
        val gen =
          if (known.isEmpty)
            trainGeneration(s, batch, idCol, vecCol, dim, m, codewords, cbDir, 0)
          else {
            val (curGen, (curCb, baseErr)) = known.maxBy(_._1)
            val drift = quantizationError(batch, vecCol, curCb)
            // replay note: the drift mean is a parallel double sum, so a
            // value EXACTLY at the threshold could flip across replays —
            // callers set maxDriftRatio with real margin, not at 1.0
            if (drift > maxDriftRatio * baseErr)
              trainGeneration(s, batch, idCol, vecCol, dim, m, codewords,
                cbDir, curGen + 1)
            else curGen
          }
        val books = loadCodebooks(s, cbDir).map { case (g, (cb, _)) => g -> cb }
        // ONE pass computes codes + blocking buckets (+ the hot-bucket
        // refinement signs when armed — the store never re-reads raw
        // vectors, so extension signs must be persisted alongside the
        // base buckets; `refineBits` is part of the store's layout
        // contract and must stay constant for the store's lifetime)
        // from the raw vector; everything downstream reads small ints
        val newCodes = batch.select(Seq(col(idCol).as("id"), lit(gen).as("gen"),
            graft.plans.VecExprs.pqEncode(col(vecCol), books(gen)).as("code"),
            Vectors.lshBucketsAll(col(vecCol), lshBits, lshTables).as("buckets")) ++
            (if (refineBits > 0) Seq(Vectors.lshBucketsAllOff(col(vecCol),
              refineBits, lshTables, graft.operators.BucketCap.RefineFamilyOffset)
              .as("xbuckets")) else Nil): _*)
          // dnorm persisted WITH the codes (stacked projection — the
          // decode references the stored code attribute): 8 bytes per
          // row buys never re-decoding the store side for the in-join
          // screen's norms; pre-dnorm store rows null-fill on read and
          // pairsFromCodes recomputes them from the code
          .withColumn("dnorm", sqrt(graft.plans.VecExprs.pqPairDot(
            col("code"), col("code"), books(gen), books(gen))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val existing = StoreCompaction.read(
            s, codeStoreDir, newCodes.schema, ltBatch = batchId).rows
          pairsFromCodes(newCodes, existing, books, minCosine, maxBucket, refineBits)
            .write.mode("overwrite").parquet(s"$pairsOutDir/batch_id=$batchId")
          // append AFTER pairing (the batch must not meet itself twice)
          StoreCompaction.commit(newCodes, codeStoreDir, batchId)
        } finally newCodes.unpersist()
        ()
    }
  }

  /** Batch twin of one [[runOnce]] micro-batch against a store whose
    * codebook already exists — the oracled shape (`n8`): the codebook
    * is trained on `store` ONLY (persisted-codebook semantics: the
    * batch is encoded under a codebook it did not train, exactly the
    * steady state of the stream), both sides are encoded and bucketed
    * once, and candidates are generated batch-vs-(store ∪ batch) so
    * old-vs-old pairs are never regenerated. Emits (id_a, id_b,
    * approx_cos >= minCosine). */
  def incrementalPairs(store: DataFrame, batch: DataFrame,
                       idCol: String, vecCol: String,
                       dim: Int, m: Int = 8, codewords: Int = 16,
                       lshBits: Int = 8, lshTables: Int = 4,
                       minCosine: Double = 0.9,
                       maxBucket: Int = Int.MaxValue,
                       refineBits: Int = 0): DataFrame = {
    if (refineBits > 0)
      graft.operators.BucketCap.requireIndependentFamilies(
        lshBits, lshTables, refineBits, lshTables)
    val codebook = SimilaritySearch.pqTrainCodebook(
      store, idCol, vecCol, dim, m, codewords)
    def codes(df: DataFrame) = df.select(Seq(col(idCol).as("id"), lit(0).as("gen"),
      graft.plans.VecExprs.pqEncode(col(vecCol), codebook).as("code"),
      Vectors.lshBucketsAll(col(vecCol), lshBits, lshTables).as("buckets")) ++
      (if (refineBits > 0) Seq(Vectors.lshBucketsAllOff(col(vecCol),
        refineBits, lshTables, graft.operators.BucketCap.RefineFamilyOffset)
        .as("xbuckets")) else Nil): _*)
    pairsFromCodes(codes(batch), codes(store), Map(0 -> codebook), minCosine,
      maxBucket, refineBits)
  }

  private val LayoutFile = "_layout"

  private def layoutBody(lshBits: Int, lshTables: Int, refineBits: Int): String =
    s"lshBits=$lshBits\nlshTables=$lshTables\nrefineBits=$refineBits"

  /** Enforce the store's layout contract before a run touches it. The
    * persisted columns are parameterized by the FULL tuple
    * (lshBits, lshTables, refineBits) and none of it is recomputable
    * without the raw vectors — so all three must stay constant for the
    * store's lifetime, and all three are persisted in a `_layout`
    * sidecar at first arm ([[adoptStoreLayout]]) and required equal
    * here. The failure this prevents is silent in every variant:
    *  - refineBits on/off mismatch schema-fills null `xbuckets`, the
    *    (tbl, bucket, __sub) equi-join never matches, and every
    *    store-side member of a hot bucket vanishes from candidates
    *    (recall collapses BELOW the flat cap refinement was meant to
    *    fix);
    *  - a changed refineBits VALUE (or lshBits/lshTables) computes the
    *    probe's buckets from a different hyperplane family than the
    *    persisted ones, so stored and probe keys agree only by chance —
    *    same silent recall collapse, no schema signal at all.
    * A store that lists batches but has no `_layout` (deleted, or
    * published by hand) fails loud: nothing in its files pins the
    * geometry it was built with. One metadata read per [[runOnce]]
    * call; within a run the single writer keeps the layout constant by
    * construction. */
  private[graft] def requireStoreLayout(spark: SparkSession,
                                        codeStoreDir: String,
                                        lshBits: Int = 8, lshTables: Int = 4,
                                        refineBits: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(codeStoreDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new org.apache.hadoop.fs.Path(root, LayoutFile)
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val stored = try new String(in.readAllBytes,
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val declared = layoutBody(lshBits, lshTables, refineBits)
      require(stored == declared,
        s"code store $codeStoreDir was armed with [${stored.replace("\n", " ")}] " +
          s"but this run declares [${declared.replace("\n", " ")}] — the LSH " +
          "family and refinement geometry are part of the store's layout " +
          "contract (bucket keys and extension signs are persisted, not " +
          "recomputable) and must stay constant for the store's lifetime")
    } else if (graft.sources.StoreManifest.live(spark, codeStoreDir).nonEmpty)
      throw new IllegalStateException(
        s"code store $codeStoreDir lists committed batches but has no " +
          s"$LayoutFile; refusing to adopt this run's geometry unverified. " +
          "To restore it deliberately, hand-check the lshBits, lshTables " +
          "and refineBits the store was built with and write them to " +
          s"$codeStoreDir/$LayoutFile as the three lines lshBits=<n>, " +
          "lshTables=<n>, refineBits=<n> (no trailing newline)")
  }

  /** Record the layout tuple as the store's contract if none is
    * recorded yet — called by [[runOnce]] AFTER [[requireStoreLayout]]
    * passes, so the adopted values are a brand-new store's first-writer
    * truth. Atomic create-then-rename; the single-writer contract makes
    * the lost-race require a loud invariant. */
  private[streaming] def adoptStoreLayout(spark: SparkSession,
                                          codeStoreDir: String,
                                          lshBits: Int, lshTables: Int,
                                          refineBits: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(codeStoreDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new org.apache.hadoop.fs.Path(root, LayoutFile)
    if (fs.exists(meta)) return
    fs.mkdirs(root)
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".tmp-$LayoutFile-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(layoutBody(lshBits, lshTables, refineBits)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, meta),
      s"layout adopt lost a race at $codeStoreDir — the store's " +
        "single-writer contract was violated")
  }

  /** The staleness statistic: mean squared reconstruction error of
    * `df`'s vectors under `codebook` (encode → decode → ‖v−v̂‖²,
    * averaged). Rises when the ingest distribution departs from the
    * codebook's training sample. One aggregated row to the driver —
    * but the squared error is evaluated per BATCH ROW every
    * micro-batch (the drift check), so it runs as the PqReconSqErr
    * kernel: the declarative chain (`IncrementalAnnTwin` in the test
    * tree, pinned bitwise in VectorsSpec) materialized the code, the
    * decoded array, and a zip_with product array per row and folded
    * them with interpreted HOF lambdas. */
  def quantizationError(df: DataFrame, vecCol: String,
                        codebook: Codebook): Double =
    df.select(avg(graft.plans.VecExprs.pqReconSqErr(col(vecCol), codebook))
      .as("mse")).head().getDouble(0)

  /** Batch-vs-store candidate generation + PQ-approximate verification,
    * mirroring `Dedup.incrementalCandidatePairs`: bucket equi-join,
    * pair normalization (each pair once even when both sides are new),
    * cosine computed between DECODED codes — each side under its own
    * codebook generation — no float vectors anywhere. */
  private[streaming] def pairsFromCodes(newCodes: DataFrame, existing: DataFrame,
                                        books: Map[Int, Codebook],
                                        minCosine: Double,
                                        maxBucket: Int = Int.MaxValue,
                                        refineBits: Int = 0): DataFrame = {
    require(refineBits == 0 || maxBucket != Int.MaxValue,
      "refine without a cap has nothing to split on")
    // dnorm once per id, BEFORE the per-table explode (a norm inside
    // the banded stream would decode `tables` times per vector), in a
    // STACKED projection so the decode references the stored `code`
    // attribute (d10's one-codeword-scan rule). New batches persist
    // dnorm in the store; what the 8-byte column buys is SMALL and
    // bounded: it skips THIS projection's decode+norm fold (one per
    // store row per batch read) — the join screen below still decodes
    // the store-side code once per COLLISION for the dot product, and
    // that per-candidate decode dominates; the persisted norm never
    // touches it. Rows from batches written before dnorm existed
    // null-fill on read and the coalesce recomputes them from the
    // code — bit-identical, dnorm is a pure function of (gen, code).
    def withNorm(df: DataFrame): DataFrame = {
      val freshNorm = sqrt(pairDotOf(books, col("gen"), col("code"),
        col("gen"), col("code")))
      if (df.columns.contains("dnorm"))
        df.withColumn("dnorm", coalesce(col("dnorm"), freshNorm))
      else df.withColumn("dnorm", freshNorm)
    }
    def banded(df: DataFrame, isNew: Boolean) = {
      val b = withNorm(df).select(Seq(col("id"), lit(isNew).as("is_new"),
        col("gen"), col("code"), col("dnorm"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket"))) ++
        (if (refineBits > 0) Seq(col("xbuckets")) else Nil): _*)
      if (refineBits > 0)
        b.withColumn("xb", col("xbuckets")(col("tbl"))).drop("xbuckets")
      else b
    }
    // Candidate-side bucket cap (same contract as d10/n7's BucketCap):
    // scaled bits hold the MEAN occupancy at ~16, but candidate volume
    // is Σ occupancy² — a tail statistic the bit count cannot bound
    // when corpus structure concentrates sign patterns (measured at
    // x200: max bucket 5623 at mean 16, Σc² growing 3.4× for 2× data).
    // The cap bounds each bucket's contribution to |batch∩bucket|×cap,
    // deterministically (per-bucket smallest hash, so a hot-bucket
    // eviction in one table is independently kept in another —
    // OR-amplification compensates). The probe (batch) side is never
    // capped: every new item must be allowed to look. With
    // `refineBits` > 0, members of an over-cap bucket are first
    // re-keyed by the persisted extension signs (BucketCap.splitHot —
    // the d10_scaled cure: a flat cap pays in evidence exactly where
    // the corpus is densest), with the flat cap as last resort for
    // clone masses that refuse to split; the probe side carries the
    // same refined key, so a probe looks in its own sub-bucket.
    val allBands = banded(existing, isNew = false)
      .unionByName(banded(newCodes, isNew = true))
    val (refined, key) =
      if (refineBits == 0) (allBands, Seq("tbl", "bucket"))
      else (graft.operators.BucketCap.splitHot(
              allBands, Seq("tbl", "bucket"), "xb", maxBucket),
            Seq("tbl", "bucket", "__sub"))
    val candBands =
      if (maxBucket == Int.MaxValue) refined
      else graft.operators.BucketCap.capMembers(refined, key, "id", maxBucket)
    // Screen INSIDE the bucket join (the d10_scaled cure, SCALE.md
    // round-11 "third decade", applied here in round 12): codes and
    // the decoded norm RIDE the banded stream, each collision is
    // scored map-side in the join task, and only the pair-collapsing
    // aggregate ever sees survivors. The former pair-list shape —
    // DISTINCT over every collision, then a decode semi-join and two
    // corpus-sized joins by id — moved the candidate list through
    // FIVE candidate-volume exchanges, one of them carrying a
    // 512-byte decoded vector per pair: measured 2.70 GB of n8_scaled's
    // 4.20 GB total shuffle written at x1000, and the candidate volume
    // itself grows 11.7x/decade across the cap-regime transition
    // (ExchangeProf, SCALE.md r12). Here the only candidate-volume
    // shuffle is the join's own partitioning, payload ~90 bytes/row.
    // Per-generation decode: each side's code expands under the
    // codebook that produced it; a code whose generation has NO loaded
    // codebook (store corruption, a deleted _SUCCESS marker) must fail
    // the batch loudly, not decode to NULL and silently drop its pairs.
    // The build side is the PROBE (batch bands — the small side;
    // shuffle-hash, no sort of the corpus-sized candidate stream).
    // Replay safety is structural now: no by-id join exists for a
    // duplicate (store-already-holds-the-batch) id row to multiply —
    // duplicate collisions collapse in the groupBy, whose max() folds
    // bitwise-identical cosines (pure function of the two codes).
    val probe = refined.filter(col("is_new"))
      .select(col("id").as("nid") +: col("gen").as("ngen") +:
        col("code").as("ncode") +: col("dnorm").as("nnorm") +: key.map(col): _*)
    probe.hint("shuffle_hash").join(candBands, key)
      .filter(col("nid") =!= col("id"))
      // pair-dot kernel: per-collision dot straight off the two
      // generational codebooks — bitwise ≡ the former
      // cosineWithNorms(decodeOf(...), decodeOf(...)) (VectorsSpec pins
      // the kernel parity; the when-chain over generations is
      // unchanged in structure), minus the two per-collision decode
      // materializations that dominated the screen's CPU
      .withColumn("approx_cos", Vectors.cosineFromDot(
        pairDotOf(books, col("ngen"), col("ncode"), col("gen"), col("code")),
        col("nnorm"), col("dnorm")))
      .filter(col("approx_cos") >= minCosine)
      // least/greatest is order-safe because the screen is symmetric
      // BITWISE: elementwise multiply and the fixed-index sum fold
      // commute in IEEE754, so (probe, cand) and (cand, probe) roles
      // produce the identical double
      .select(least(col("nid"), col("id")).as("id_a"),
        greatest(col("nid"), col("id")).as("id_b"), col("approx_cos"))
      .groupBy("id_a", "id_b").agg(max(col("approx_cos")).as("approx_cos"))
  }

  /** Decode `codeC` under the generational codebook selected by `genC`
    * — the when-chain is tiny (generation count is small, driver-side)
    * and only the matching branch evaluates per row. A generation with
    * no loaded codebook fails LOUDLY with the generation named. */
  private[streaming] def decodeOf(books: Map[Int, Codebook],
                                  genC: Column, codeC: Column): Column = {
    val noBook: Column = raise_error(concat(
      lit("no codebook loaded for stored code generation "),
      genC.cast("string"))).cast("array<double>")
    books.toSeq.sortBy(_._1).foldLeft(noBook) { case (acc, (g, cb)) =>
      when(genC === g, SimilaritySearch.pqDecode(codeC, cb)).otherwise(acc)
    }
  }

  /** dot(decode(genA, codeA), decode(genB, codeB)) via the
    * [[graft.plans.PqPairDot]] kernel, with the same generational
    * when-chain (and the same loud no-codebook raise_error) as
    * [[decodeOf]] on each side — bitwise-identical to
    * `Vectors.dot(decodeOf(genA, codeA), decodeOf(genB, codeB))`
    * without materializing either decoded array per collision. */
  private[streaming] def pairDotOf(books: Map[Int, Codebook],
                                   genA: Column, codeA: Column,
                                   genB: Column, codeB: Column): Column = {
    def noBook(genC: Column): Column = raise_error(concat(
      lit("no codebook loaded for stored code generation "),
      genC.cast("string"))).cast("double")
    val gens = books.toSeq.sortBy(_._1)
    gens.foldLeft(noBook(genA)) { case (accA, (ga, cbA)) =>
      when(genA === ga,
        gens.foldLeft(noBook(genB)) { case (accB, (gb, cbB)) =>
          when(genB === gb,
            graft.plans.VecExprs.pqPairDot(codeA, codeB, cbA, cbB))
            .otherwise(accB)
        }).otherwise(accA)
    }
  }

  /** Train a codebook generation on `batch` and persist it under
    * `dir/gen=<g>` with its training error (the drift baseline). The
    * write is replay-idempotent: deterministic content, overwrite
    * mode, and readers require the `_SUCCESS` marker — a crashed
    * half-write is invisible and simply retrained. */
  private def trainGeneration(spark: SparkSession, batch: DataFrame,
                              idCol: String, vecCol: String,
                              dim: Int, m: Int, k: Int,
                              dir: String, gen: Int): Int = {
    val cb = SimilaritySearch.pqTrainCodebook(batch, idCol, vecCol, dim, m, k)
    val baseErr = quantizationError(batch, vecCol, cb)
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (cws, mi) =>
      cws.zipWithIndex.map { case (cw, ki) => (mi, ki, cw.toSeq, baseErr) }
    }.toSeq.toDF("mi", "ki", "codeword", "base_err").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/gen=$gen")
    gen
  }

  /** Load every committed codebook generation: gen → (codebook, its
    * training error). Generations without a `_SUCCESS` marker (a
    * crashed write) are ignored — the replayed batch retrains them. */
  private[streaming] def loadCodebooks(spark: SparkSession,
                                       dir: String): Map[Int, (Codebook, Double)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Map.empty
    fs.listStatus(path).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("gen="))
      .flatMap { p =>
        val g = p.getName.stripPrefix("gen=").toInt
        if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) None
        else {
          val rows = spark.read.parquet(p.toString).collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray,
              r.getDouble(3)))
          // a training batch smaller than `k` yields fewer codewords —
          // rebuild from what was actually persisted
          val m = rows.map(_._1).max + 1
          val byMi = rows.groupBy(_._1)
          val cb: Codebook = Array.tabulate(m)(mi => byMi(mi).sortBy(_._2).map(_._3))
          Some(g -> ((cb, rows.head._4)))
        }
      }.toMap
  }

}
