package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Continuous corpus statistics: each micro-batch APPENDS its partial
  * per-token aggregates — (token, tf, df) summed over just the batch —
  * as a `batch_id=<n>` directory of a [[StoreCompaction]] store;
  * read-time resolution merges the partials, and [[compactStore]]
  * periodically folds them in place into one snapshot. The streaming
  * sibling of the batch corpus-stats operators (t7/t10).
  *
  * Why partials, not a maintained table: a vocabulary-sized store
  * rewritten per batch costs O(vocabulary) writes per ingest — the
  * tail of URLs/ids/typos dominates and grows without bound. Appending
  * per-batch partials costs O(batch vocabulary) and stays exact
  * because tf and df are both algebraic (sums): doc-freq partials sum
  * exactly as long as a document arrives whole in one batch, the same
  * uniqueness contract the signature store already relies on. The
  * read-merge-compact lifecycle is the LSM shape every streaming
  * aggregate store converges to.
  *
  * Runs on [[MicroBatch]]: a replayed micro-batch overwrites its own
  * `batch_id=` directory instead of double-counting. The as-of horizon
  * is read off the manifest listing, with no marker of its own: a fold
  * covers every batch <= its `uptoBatch`, needs a newer batch to exist,
  * and is the only step that deletes batches — so once a snapshot
  * (negative id) is listed, every batch below the smallest listed
  * non-negative id has been folded away.
  */
object IncrementalCorpusStats {

  private val Schema = new StructType()
    .add("token", StringType).add("tf", LongType).add("df", LongType)
    .add("batch_id", LongType)

  /** Ingest any new files under `inputDir` once (AvailableNow), then
    * stop. Call repeatedly for a scheduled-cadence pipeline. */
  def runOnce(spark: SparkSession, schema: StructType, inputDir: String,
              idCol: String, textCol: String,
              storeDir: String, checkpointDir: String): Unit =
    MicroBatch.run(spark, schema, inputDir, idCol, textCol, checkpointDir) {
      (batch, batchId) =>
        StoreCompaction.commit(batchPartial(batch, idCol, textCol), storeDir, batchId)
    }

  /** One batch's partial aggregates: (token, tf = occurrences in the
    * batch, df = docs of the batch containing it). Map-side combined
    * both stages; the batch's text never leaves the executors. */
  private[streaming] def batchPartial(batch: DataFrame, idCol: String,
                                      textCol: String): DataFrame =
    batch
      .select(col(idCol).as("__doc"),
        explode(graft.functions.Hashing.tokens(col(textCol))).as("token"))
      .groupBy(col("__doc"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("tf"), count(lit(1)).as("df"))

  private def merge(partials: DataFrame): DataFrame =
    partials.groupBy(col("token"))
      .agg(sum(col("tf")).as("tf"), sum(col("df")).as("df"))

  /** The live partials — all of them, or AS OF a batch (`uptoBatch =
    * Some(n)`: those with batch_id <= n). The horizon check and the rows
    * come from ONE resolve: a fold landing between two resolves would
    * otherwise hand back its folded totals as batch n. */
  private def partials(spark: SparkSession, storeDir: String,
                       uptoBatch: Option[Long]): DataFrame = {
    val read = StoreCompaction.read(spark, storeDir, Schema, ltBatch = Long.MaxValue)
    uptoBatch.fold(read.rows) { n =>
      if (read.batchIds.exists(_ < 0)) {
        val horizon = read.batchIds.filter(_ >= 0).minOption.fold(Long.MaxValue)(_ - 1)
        require(n >= horizon,
          s"snapshot at batch $n predates the compaction horizon $horizon — " +
            "per-batch history below the horizon was folded away by compactStore")
      }
      read.rows.filter(col("batch_id") <= n)
    }
  }

  /** Merge partials into the (token, tf, df) truth — current, or AS OF
    * a batch (`uptoBatch = Some(n)`): partials are append-only and
    * immutable, so a historical snapshot stays reproducible for as long
    * as its batches survive — which is exactly UNTIL a fold covers
    * them. A snapshot request BELOW the compaction horizon fails loudly
    * (the per-batch history it needs was deliberately discarded;
    * silently returning the folded totals would hand a training run the
    * wrong pin). */
  def resolveStats(spark: SparkSession, storeDir: String,
                   uptoBatch: Option[Long] = None): DataFrame =
    merge(partials(spark, storeDir, uptoBatch))

  /** Fold the partials with `batch_id <= uptoBatch` into one snapshot,
    * in place ([[StoreCompaction.fold]]) — run on a maintenance cadence
    * to bound read-merge fan-in and file count. The newest batch never
    * folds: foreachBatch is at-least-once, so it may still replay on
    * top of a snapshot that already counts it. */
  def compactStore(spark: SparkSession, storeDir: String, uptoBatch: Long): Unit =
    StoreCompaction.fold(spark, storeDir, uptoBatch)(merge)

  /** Corpus heavy hitters straight from the store: tokens whose total
    * tf exceeds corpusTokens/threshold — the continuous form of t10's
    * exact cutoff (the store already holds exact counts, so no
    * sketch/recount round trip is needed). */
  def heavyHittersFromStore(spark: SparkSession, storeDir: String,
                            threshold: Int): DataFrame = {
    // same contract as the batch twin (CorpusStats.heavyHitters):
    // threshold <= 1 makes tf * threshold > total false for every
    // token — a silent empty result, not a meaningful query
    require(threshold > 1, s"threshold must be > 1, got $threshold")
    val rows = partials(spark, storeDir, None)
    // the corpus token total is the sum of PARTIAL tf rows — a single
    // map-side aggregate over the raw partials, so the vocabulary-wide
    // merge groupBy runs once, not on both sides of the cross join
    val total = rows.agg(sum(col("tf")).as("total"))
    merge(rows).crossJoin(broadcast(total))
      .filter(col("tf") * threshold > col("total"))
      .select(col("token"), col("tf").as("cnt"))
  }
}
