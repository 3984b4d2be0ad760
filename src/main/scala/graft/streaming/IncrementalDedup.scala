package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.Dedup

/** Continuous near-duplicate detection: each micro-batch of documents
  * is banded against the signature store accumulated from all PRIOR
  * batches (`Dedup.incrementalPairsFromSigs`), the surviving pairs are
  * appended, and the batch's own signatures join the store — so a
  * perpetual ingest pays O(batch + collisions) per batch and the
  * corpus is never re-tokenized. The streaming twin of query d7; runs
  * on [[MicroBatch]] over [[StoreCompaction]] stores.
  *
  * Store size: with `verifyBySig = false` (exact-Jaccard verification)
  * the store carries the distinct shingle-hash array (`sh`) per doc —
  * O(8 bytes × corpus tokens). With `verifyBySig = true` the store
  * holds only (id, sig, band keys) — O(numHashes) longs per doc, the
  * layout that stays viable when the corpus is 100 TB — and pairs are
  * verified by the MinHash agreement fraction
  * ([[graft.operators.Dedup.incrementalPairsBySig]]), trading exact
  * verification for binomial estimation noise around the threshold
  * (recall measured in DedupSpec).
  */
object IncrementalDedup {

  /** Ingest any new files under `inputDir` once (AvailableNow), then
    * stop. Call repeatedly for a scheduled-cadence pipeline. */
  def runOnce(spark: SparkSession, schema: StructType, inputDir: String,
              idCol: String, textCol: String,
              sigStoreDir: String, pairsOutDir: String, checkpointDir: String,
              shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
              minJaccard100: Int = 50, verifyBySig: Boolean = false,
              labelsStoreDir: Option[String] = None): Unit =
    MicroBatch.run(spark, schema, inputDir, idCol, textCol, checkpointDir) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val fullSigs = Dedup.minhashSignatures(
            batch, idCol, textCol, shingleK, numHashes, bands)
        // sig-verified mode never materializes shingle arrays into the
        // store — the persisted frame is already the slim projection
        val newSigs = (if (verifyBySig) Dedup.sigOnly(fullSigs, idCol, bands)
                       else fullSigs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the store lists each batch directory once and replays
          // overwrite their own, so ids are unique across batch ∪ store
          // as long as the source never emits one id in two batches
          // (the input contract the batch API states too)
          val existing = StoreCompaction.read(
            s, sigStoreDir, newSigs.schema, ltBatch = batchId).rows
          val pairs =
            if (verifyBySig)
              Dedup.incrementalPairsBySig(
                newSigs, existing, idCol, numHashes, bands, minJaccard100)
            else
              Dedup.incrementalPairsFromSigs(
                newSigs, existing, idCol, bands, minJaccard100)
          pairs.write.mode("overwrite").parquet(s"$pairsOutDir/batch_id=$batchId")
          // append AFTER pairing: the batch must not see its own sigs
          // on the existing side (pairs would double via both orders)
          StoreCompaction.commit(newSigs, sigStoreDir, batchId)
          // continuous cluster maintenance: fold this batch's pairs into
          // the labeling as a per-batch DELTA (changed + new rows only —
          // O(merged components), never O(corpus))
          labelsStoreDir.foreach { labelsDir =>
            val batchPairs = s.read
              .parquet(s"$pairsOutDir/batch_id=$batchId")
            val current = resolveLabels(s, labelsDir, ltBatch = batchId,
              idLike = batchPairs.select(col("id_a")))
            StoreCompaction.commit(
              graft.operators.Components.mergeIncrementalClustersDelta(
                current, batchPairs, "id_a", "id_b"),
              labelsDir, batchId)
          }
        } finally newSigs.unpersist()
        ()
    }

  /** The labeling as of just before `ltBatch`: base + deltas resolved
    * latest-batch-wins per node ([[graft.operators.Components
    * .resolveLabels]] — the oldest partition is the base and never
    * shuffles; only the small deltas enter the recency window).
    * `idLike` supplies the node id type. */
  def resolveLabels(spark: SparkSession, labelsDir: String, ltBatch: Long,
                    idLike: DataFrame): DataFrame = {
    val idType = idLike.schema.head.dataType
    val labels = StoreCompaction.read(spark, labelsDir,
      new StructType().add("node", idType).add("cluster", idType)
        .add("batch_id", LongType), ltBatch)
    if (labels.batchIds.isEmpty) return labels.rows.drop("batch_id")
    val base = labels.batchIds.min
    graft.operators.Components.resolveLabels(
      labels.rows.filter(col("batch_id") === base),
      labels.rows.filter(col("batch_id") > base))
  }

  /** Label-store compaction — the maintenance chore that keeps
    * [[resolveLabels]] linear as batches accumulate (without it, each
    * resolution re-reads base + every delta, so per-batch read cost
    * grows with batch count). Rewrites the labeling resolved through
    * `uptoBatch` as ONE full snapshot ([[StoreCompaction.fold]]);
    * latest-wins resolution is unchanged because the snapshot's id
    * sorts BELOW every live delta — it becomes [[resolveLabels]]'s
    * base, and surviving deltas (> uptoBatch) override per node exactly
    * as they overrode the partitions the snapshot folded.
    *
    * The NEWEST delta may itself still replay. Folding it would be
    * ruinous, not just stale: the replay resolves labels from
    * partitions strictly OLDER than its own id, so it would miss the
    * folded snapshot, recompute the delta against an empty labeling,
    * and commit that — losing every folded label. The fold refuses. */
  def compactLabels(spark: SparkSession, labelsDir: String,
                    uptoBatch: Long): Unit =
    StoreCompaction.fold(spark, labelsDir, uptoBatch) { folded =>
      resolveLabels(spark, labelsDir, ltBatch = uptoBatch + 1,
        idLike = folded.select(col("node")))
    }

  /** Signature-store compaction ([[StoreCompaction.fold]]): batches
    * are disjoint by id, so the snapshot is their rows. */
  def compactSigs(spark: SparkSession, sigStoreDir: String,
                  uptoBatch: Long): Unit =
    StoreCompaction.fold(spark, sigStoreDir, uptoBatch)(_.drop("batch_id"))
}
