package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.sources.StoreManifest

/** The store protocol of the `batch_id=` incremental stores (sig,
  * label, span, gram, fingerprint, ANN code, corpus stats). Every store
  * resolves through its newest [[StoreManifest]] version (atomic old-or-new
  * across compactions, each batch directory listed once); a store root
  * holding batch directories but no version fails loud
  * ([[StoreManifest.live]]). Every store needs three operations:
  *
  *  - [[read]]: the live batches strictly before a batch id, under the
  *    store's declared schema. Directories the resolve does not list
  *    are invisible; before the store's first commit, only the reading
  *    batch's own (or a later batch's) failed attempt may lie unlisted.
  *  - [[commit]]: write one batch directory with overwrite, then add it
  *    to the manifest. A replayed micro-batch (foreachBatch is
  *    at-least-once) rewrites its own directory, and since a batch only
  *    ever reads ids below its own, the replay reads what the first
  *    attempt read: replays are bit-identical.
  *  - [[fold]]: compaction. The snapshot goes to a FRESH directory
  *    (`batch_id=min(-(uptoBatch+1), min(resolved ids)-1)` — fresh even
  *    when a fold is RETRIED at an already-folded horizon; negative so
  *    it sorts before every live batch and can never alias a replayable
  *    id), the manifest swap publishes it atomically, and only then are
  *    the folded directories deleted. Readers never observe a folded
  *    row twice.
  */
private[graft] object StoreCompaction {

  private def idOf(name: String): Long = StoreManifest.batchIdOf(name)

  /** One [[read]]: the rows and the batch ids they came from. */
  final case class Read(rows: DataFrame, batchIds: Seq[Long])

  /** The live batches strictly before `ltBatch`, projected to
    * `schema`'s columns and read under it (columns older files lack
    * null-fill; a `batch_id` field keeps the partition column); a
    * correctly-typed empty frame when nothing qualifies. One resolve
    * per read: a listStatus + open on `_manifest`, driver-side metadata
    * I/O on the per-batch path. */
  def read(spark: SparkSession, storeDir: String, schema: StructType,
           ltBatch: Long): Read = {
    val kept = StoreManifest.live(spark, storeDir, ltBatch).filter(idOf(_) < ltBatch)
    val rows =
      if (kept.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else StoreManifest.readDirs(spark, storeDir, kept, Some(schema))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    Read(rows, kept.map(idOf))
  }

  /** Write `rows` as batch `batchId` (overwrite), then publish it. */
  def commit(rows: DataFrame, storeDir: String, batchId: Long): Unit = {
    val name = s"batch_id=$batchId"
    rows.write.mode("overwrite").parquet(s"$storeDir/$name")
    StoreManifest.commitBatch(rows.sparkSession, storeDir, name)
  }

  /** Fold everything with `batch_id <= uptoBatch` (prior snapshots
    * included — their ids are negative) into one fresh snapshot
    * directory and retire the folded ones. `snapshot` makes the
    * snapshot's rows from the folded rows, their `batch_id` column
    * included; an append-only store's snapshot is the rows themselves
    * (`_.drop("batch_id")`). The newest batch (the only one structured
    * streaming can still replay) must never fold. */
  def fold(spark: SparkSession, storeDir: String, uptoBatch: Long)
          (snapshot: DataFrame => DataFrame): Unit = {
    require(uptoBatch >= 0, "uptoBatch must be a real batch id")
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val names = StoreManifest.live(spark, storeDir)
    require(names.map(idOf).exists(_ > uptoBatch),
      s"refusing to compact through batch $uptoBatch: it is the newest " +
        "batch and may still be replayed — compact only after a newer " +
        "batch has committed")
    val foldNames = names.filter(n => idOf(n) <= uptoBatch)
    if (foldNames.isEmpty) return // nothing below the horizon: no-op
    val rows = snapshot(StoreManifest.readDirs(spark, storeDir, foldNames))
    // the snapshot id must be fresh against EVERY resolved name, not
    // just "fold horizons strictly increase": a retried fold at an
    // already-folded horizon would otherwise target its own listed
    // input — an overwrite whose lazy write plan reads the directory it
    // is destroying (recomputable lineage on a cluster re-reads the
    // half-clobbered files on executor loss). min(existing)-1 keeps the
    // first-fold name at -(uptoBatch+1) and gives every retry a fresh,
    // still-negative, never-replayable id below all prior snapshots.
    val snapName = s"batch_id=${math.min(-(uptoBatch + 1), names.map(idOf).min - 1)}"
    rows.write.mode("overwrite").parquet(s"$storeDir/$snapName")
    StoreManifest.replace(spark, storeDir, foldNames.toSet, Seq(snapName))
    foldNames.foreach(n => fs.delete(new Path(root, n), true))
  }
}
