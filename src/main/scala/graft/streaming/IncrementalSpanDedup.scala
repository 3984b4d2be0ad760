package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}
import graft.operators.Dedup

/** Continuous C4-style span scrubbing: each micro-batch of documents
  * is cleaned against the span-hash store accumulated from all PRIOR
  * batches ([[graft.operators.Dedup.incrementalSpanDedup]]), and the
  * batch's surviving span hashes join the store — a perpetual ingest
  * tokenizes only its own batch and probes a membership set that holds
  * ONE 16-byte-hash row per distinct span ever seen (no text, no
  * positions: the minimal state the scrub semantics need). The
  * streaming twin of query d13; runs on [[MicroBatch]] over a
  * [[StoreCompaction]] store.
  *
  * Store growth is monotone append-only; partitions are disjoint by
  * construction (each batch appends only hashes the store lacked), so
  * [[compactStore]] is a plain concatenation fold.
  */
object IncrementalSpanDedup {

  /** Ingest any new files under `inputDir` once (AvailableNow), then
    * stop. Call repeatedly for a scheduled-cadence pipeline. */
  def runOnce(spark: SparkSession, schema: StructType, inputDir: String,
              idCol: String, textCol: String,
              storeDir: String, cleanOutDir: String, checkpointDir: String,
              spanTokens: Int = 16): Unit =
    MicroBatch.run(spark, schema, inputDir, idCol, textCol, checkpointDir) {
      (batch, batchId) =>
        val store = readStore(batch.sparkSession, storeDir, ltBatch = batchId)
        // ONE winners pass feeds both the scrub and the store delta
        val fresh = Dedup.freshSpanWinners(batch, store, idCol, textCol, spanTokens)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          Dedup.reassembleSpans(batch, fresh, idCol, textCol, spanTokens)
            .write.mode("overwrite").parquet(s"$cleanOutDir/batch_id=$batchId")
          // append AFTER scrubbing: the batch must not see its own
          // spans on the store side (everything would scrub to "")
          StoreCompaction.commit(fresh.select(col("span_md5")), storeDir, batchId)
        } finally fresh.unpersist()
        ()
    }

  /** Fold the `batch_id=` pile through `uptoBatch` into one snapshot
    * ([[StoreCompaction.fold]]) — the read-amplification chore
    * ([[readStore]] otherwise opens every batch's files forever); the
    * newest batch never folds. */
  def compactStore(spark: SparkSession, storeDir: String,
                   uptoBatch: Long): Unit =
    StoreCompaction.fold(spark, storeDir, uptoBatch)(_.drop("batch_id"))

  /** The span-hash membership set as of just before `ltBatch`. */
  def readStore(spark: SparkSession, storeDir: String,
                ltBatch: Long): DataFrame =
    StoreCompaction.read(spark, storeDir,
      new StructType().add("span_md5", StringType), ltBatch).rows
}
