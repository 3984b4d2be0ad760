package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import graft.operators.Dedup

/** Continuous partial-overlap detection: each micro-batch is winnowed
  * once ([[graft.operators.Dedup.winnowedFingerprints]]), paired
  * against the fingerprint store of all PRIOR batches
  * ([[graft.operators.Dedup.incrementalWinnowingOverlap]]), and its
  * `(id, fp)` rows join the store — per batch the work is
  * O(batch + fingerprint collisions), the corpus is never re-winnowed,
  * and old-old pairs never re-emit. The streaming twin of query d17;
  * runs on [[MicroBatch]] over a [[StoreCompaction]] store.
  *
  * Unlike the scrub stores (pure membership sets), this store carries
  * `(id, fp)` — pairing needs the document ids on the store side — so
  * partitions are NOT deduplicated against each other; that is fine:
  * each batch appends only its own documents' fingerprints, and ids
  * are unique across batches, so partitions stay disjoint by id.
  */
object IncrementalWinnowing {

  /** Ingest any new files under `inputDir` once (AvailableNow), then
    * stop. Emits (id_a, id_b, n_shared >= `minShared`) pairs touching
    * the batch into `pairsOutDir`; appends the batch's (id, fp) rows
    * to `fpStoreDir`. */
  def runOnce(spark: SparkSession, schema: StructType, inputDir: String,
              idCol: String, textCol: String,
              fpStoreDir: String, pairsOutDir: String, checkpointDir: String,
              k: Int = 4, w: Int = 4, minShared: Long = 3,
              fpDfCap: Long = 1000L): Unit =
    MicroBatch.run(spark, schema, inputDir, idCol, textCol, checkpointDir) {
      (batch, batchId) =>
        val store = readStore(batch.sparkSession, fpStoreDir, idCol,
          schema(idCol).dataType, ltBatch = batchId)
        // ONE winnowing pass (checkpointed inside the operator) feeds
        // both the pairing and the store delta
        val newFps = Dedup.winnowedFingerprints(batch, idCol, textCol, k, w)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          Dedup.incrementalWinnowingOverlapFromFps(newFps, store, idCol,
              minShared, fpDfCap)
            .write.mode("overwrite").parquet(s"$pairsOutDir/batch_id=$batchId")
          // append AFTER pairing (the batch must not meet itself twice)
          StoreCompaction.commit(newFps, fpStoreDir, batchId)
        } finally newFps.unpersist()
        ()
    }

  /** Fingerprint-store compaction ([[StoreCompaction.fold]]): batches
    * are disjoint by id, so the snapshot is their rows. */
  def compactStore(spark: SparkSession, storeDir: String,
                   uptoBatch: Long): Unit =
    StoreCompaction.fold(spark, storeDir, uptoBatch)(_.drop("batch_id"))

  /** The accumulated (id, fp) fingerprint table as of just before
    * `ltBatch`. `idType` shapes the empty first-batch frame — the
    * operator family is generic over orderable id types, so the store
    * must not hard-code one. */
  def readStore(spark: SparkSession, storeDir: String, idCol: String,
                idType: DataType, ltBatch: Long): DataFrame =
    StoreCompaction.read(spark, storeDir, storeSchema(idCol, idType), ltBatch).rows

  private def storeSchema(idCol: String, idType: DataType): StructType =
    new StructType().add(idCol, idType).add("fp", LongType)
}
