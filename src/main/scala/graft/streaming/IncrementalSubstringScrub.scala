package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.Dedup

/** Continuous arbitrary-offset exact substring scrubbing: each
  * micro-batch is cleaned against the gram-hash store accumulated from
  * all PRIOR batches ([[graft.operators.Dedup.incrementalSubstringScrub]]),
  * and the batch's FRESH gram hashes join the store — a perpetual
  * ingest tokenizes only its own batch and probes a membership set of
  * ONE 8-byte hash per distinct word-k-gram ever seen (no text, no
  * positions, no ids: the minimal state the first-occurrence rule
  * needs). The streaming twin of query d16; runs on [[MicroBatch]]
  * over a [[StoreCompaction]] store.
  *
  * Store growth is monotone append-only and partitions are DISJOINT by
  * construction (each batch appends only hashes the store lacked), so
  * [[compactStore]] is a plain concatenation fold.
  */
object IncrementalSubstringScrub {

  /** Ingest any new files under `inputDir` once (AvailableNow), then
    * stop. Call repeatedly for a scheduled-cadence pipeline. */
  def runOnce(spark: SparkSession, schema: StructType, inputDir: String,
              idCol: String, textCol: String,
              storeDir: String, cleanOutDir: String, checkpointDir: String,
              k: Int = 8): Unit =
    MicroBatch.run(spark, schema, inputDir, idCol, textCol, checkpointDir) {
      (batch, batchId) =>
        val store = readStore(batch.sparkSession, storeDir, ltBatch = batchId)
        // ONE tokenization pass (checkpointed) feeds both the scrub
        // and the store delta, and ONE store anti-join
        // (freshSubstringGrams) feeds both consumers — the store is
        // the corpus-sized side, so a second full-store join per batch
        // would be the dominant per-batch I/O at steady state
        val grams = Dedup.substringGrams(batch, idCol, textCol, k)
        val fresh = Dedup.freshSubstringGrams(grams, store)
        Dedup.incrementalSubstringScrubWithFresh(batch, grams, fresh,
            idCol, textCol, k)
          .write.mode("overwrite").parquet(s"$cleanOutDir/batch_id=$batchId")
        // append AFTER scrubbing: the batch must not see its own grams
        // on the store side (everything would scrub to ""); fresh-only
        // keeps partitions disjoint for the compaction fold
        StoreCompaction.commit(fresh.select(col("gh")).distinct(), storeDir, batchId)
    }

  /** Fold the `batch_id=` pile through `uptoBatch` into one snapshot
    * ([[StoreCompaction.fold]]); the newest batch never folds. */
  def compactStore(spark: SparkSession, storeDir: String,
                   uptoBatch: Long): Unit =
    StoreCompaction.fold(spark, storeDir, uptoBatch)(_.drop("batch_id"))

  /** The gram-hash membership set as of just before `ltBatch`. */
  def readStore(spark: SparkSession, storeDir: String,
                ltBatch: Long): DataFrame =
    StoreCompaction.read(spark, storeDir,
      new StructType().add("gh", LongType), ltBatch).rows
}
