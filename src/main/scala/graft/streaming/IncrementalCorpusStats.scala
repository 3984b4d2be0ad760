package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Continuous corpus statistics: each micro-batch APPENDS its partial
  * per-token aggregates — (token, tf, df) summed over just the batch —
  * as a `batch_id=<n>` partition of the store; read-time resolution
  * merges the partials, and [[compactTo]] periodically folds the
  * partition pile back into one base. The streaming sibling of the
  * batch corpus-stats operators (t7/t10).
  *
  * Why partials, not a maintained table: a vocabulary-sized store
  * rewritten per batch costs O(vocabulary) writes per ingest — the
  * tail of URLs/ids/typos dominates and grows without bound. Appending
  * per-batch partials costs O(batch vocabulary) and stays exact
  * because tf and df are both algebraic (sums): doc-freq partials sum
  * exactly as long as a document arrives whole in one batch, the same
  * uniqueness contract the signature store already relies on. The
  * read-merge-compact lifecycle is the LSM shape every streaming
  * aggregate store converges to; small-files pressure is the
  * documented `Layout.compact` chore.
  *
  * Runs on [[MicroBatch]]: a replayed micro-batch overwrites its own
  * `batch_id=` partition instead of double-counting. The store keeps
  * its own layout rather than [[StoreCompaction]]'s: [[compactTo]]
  * folds into a NEW store directory (the stream continues against it),
  * not a fresh snapshot name inside the same one, and its
  * `_compacted_upto` marker — written last — is what publishes the fold
  * and pins the as-of horizon [[resolveStats]] enforces.
  */
object IncrementalCorpusStats {

  /** Ingest any new files under `inputDir` once (AvailableNow), then
    * stop. Call repeatedly for a scheduled-cadence pipeline. */
  def runOnce(spark: SparkSession, schema: StructType, inputDir: String,
              idCol: String, textCol: String,
              storeDir: String, checkpointDir: String): Unit =
    MicroBatch.run(spark, schema, inputDir, idCol, textCol, checkpointDir) {
      (batch, batchId) =>
        batchPartial(batch, idCol, textCol)
          .write.mode("overwrite").parquet(s"$storeDir/batch_id=$batchId")
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

  /** Merge partials into the (token, tf, df) truth — current, or AS OF
    * a batch (`uptoBatch = Some(n)` reads only partitions with
    * batch_id <= n): partials are append-only and immutable, so a
    * historical snapshot stays reproducible for as long as its batches
    * survive — which is exactly UNTIL a compaction folds them. A
    * compacted store carries a `_compacted_upto` horizon marker, and a
    * snapshot request BELOW that horizon fails loudly (the per-batch
    * history it needs was deliberately discarded; silently returning
    * the folded totals would hand a training run the wrong pin). */
  def resolveStats(spark: SparkSession, storeDir: String,
                   uptoBatch: Option[Long] = None): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path))
      return spark.emptyDataFrame
        .withColumn("token", lit("")).withColumn("tf", lit(0L))
        .withColumn("df", lit(0L)).limit(0)
    // a folded base without its horizon marker is an INTERRUPTED
    // compactTo (the marker is written last, atomically): its carried
    // partitions may be missing and nothing records the fold horizon —
    // reading it silently would both undercount current stats and hand
    // snapshot reads folded totals as if they were one batch. Refuse.
    if (fs.exists(new org.apache.hadoop.fs.Path(path, "batch_id=-1")) &&
        compactionHorizon(fs, storeDir).isEmpty)
      throw new IllegalStateException(
        s"$storeDir holds a folded base (batch_id=-1) but no " +
          "_compacted_upto marker — an interrupted compactTo left it " +
          "half-published; delete the directory and re-run compactTo " +
          "from the source store")
    uptoBatch.foreach { n =>
      compactionHorizon(fs, storeDir).foreach { horizon =>
        require(n >= horizon,
          s"snapshot at batch $n predates the compaction horizon $horizon — " +
            "per-batch history below the horizon was folded away by compactTo")
      }
    }
    val all = spark.read.parquet(storeDir)
    uptoBatch.fold(all)(n => all.filter(col("batch_id") <= n))
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("tf"), sum(col("df")).as("df"))
  }

  private def markerPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_compacted_upto")

  private def compactionHorizon(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String): Option[Long] = {
    val p = markerPath(dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes,
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Fold the partials with `batch_id <= uptoBatch` into a single BASE
    * partition at `outDir` (`batch_id=-1` — reserved: stream batch ids
    * are non-negative, so a restarted stream with a fresh checkpoint
    * can never overwrite the base); newer partitions are carried over
    * unfolded, after which new batches append on top — run on a
    * maintenance cadence to bound read-merge fan-in and file count.
    *
    * A strictly newer partition than `uptoBatch` must exist
    * ([[IncrementalSpanDedup.compactStore]]'s guard): foreachBatch is
    * at-least-once, so the NEWEST batch may not yet be committed to the
    * checkpoint — fold it into the base and a post-crash replay would
    * re-append its `batch_id=` partition on top of totals that already
    * include it, double-counting its tf/df. Once a newer batch has
    * committed, the older ones can never replay again and are safe to
    * fold.
    *
    * Must write to a fresh directory: compacting in place would read
    * and double-count the surviving partials on the next resolve.
    * Continue the SAME stream checkpoint against `outDir` so batch ids
    * keep increasing past the horizon — a fresh checkpoint restarts at
    * 0 and its partitions would alias the folded-away ids in as-of
    * snapshot reads. */
  def compactTo(spark: SparkSession, storeDir: String, outDir: String,
                uptoBatch: Long): Unit = {
    require(uptoBatch >= 0, "uptoBatch must be a real batch id")
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(conf)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(conf)
    // compare QUALIFIED paths (the JdbcUpsertSink lock-key rule): raw
    // URIs treat 'store' vs '/cwd/store' vs 'file:/cwd/store' as
    // different, letting an aliased spelling of the SAME directory slip
    // past into the self-destructive in-place compaction this guard
    // exists to prevent
    require(outFs.makeQualified(outPath) != fs.makeQualified(path),
      "compactTo must target a fresh directory — in-place compaction " +
        "would double-count the partials left beside the base")
    val ids =
      if (!fs.exists(path)) Array.empty[Long]
      else fs.listStatus(path).map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)
    require(ids.exists(_ > uptoBatch),
      s"refusing to compact through batch $uptoBatch: no strictly newer " +
        "partition has committed, so it may still be replayed — compact " +
        "only after a newer batch exists")
    // the folded horizon: snapshots below it are unanswerable from the
    // compacted store and must fail loudly in resolveStats. Take the
    // max with the SOURCE's own horizon — re-compacting an
    // already-compacted store would otherwise regress the marker and
    // reopen the silent-wrong-snapshot hole the marker exists to close.
    val horizon = math.max(uptoBatch, compactionHorizon(fs, storeDir).getOrElse(-1L))
    resolveStats(spark, storeDir, uptoBatch = Some(uptoBatch))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=-1")
    // carry the unfolded (still-replayable) partitions into the new
    // store verbatim — a replay overwrites its own batch_id= subdir
    // there, same as in the source store
    ids.filter(_ > uptoBatch).foreach { id =>
      spark.read.parquet(s"$storeDir/batch_id=$id")
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }
    // marker LAST, atomically, through the OUTPUT directory's
    // filesystem (the source fs handle would throw 'Wrong FS' on a
    // cross-store compaction — after the data was already written):
    // marker present => base and carries complete. The inverse crash
    // window (base written, marker missing) is detected loudly by
    // resolveStats, never read silently.
    val tmp = new org.apache.hadoop.fs.Path(outPath,
      s"._tmp_compacted_upto-${System.nanoTime()}")
    val out = outFs.create(tmp, true)
    try out.write(horizon.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(outFs.rename(tmp, markerPath(outDir)),
      s"compaction marker publish failed at $outDir — single-maintainer " +
        "contract violated or marker already present")
  }

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
    val stats = resolveStats(spark, storeDir)
    // the corpus token total is the sum of PARTIAL tf rows — a single
    // map-side aggregate over the raw partials, so the vocabulary-wide
    // merge groupBy in resolveStats runs once, not on both sides of
    // the cross join
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total =
      if (!fs.exists(path)) stats.limit(0).agg(sum(col("tf")).as("total"))
      else spark.read.parquet(storeDir).agg(sum(col("tf")).as("total"))
    stats.crossJoin(broadcast(total))
      .filter(col("tf") * threshold > col("total"))
      .select(col("token"), col("tf").as("cnt"))
  }
}
