package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.sources.StoreManifest

/** The store protocol of the `batch_id=` incremental stores (sig,
  * label, span, gram, fingerprint, ANN code) — the one place that
  * knows the manifest-vs-legacy resolution rules. Every store needs
  * three operations:
  *
  *  - [[read]]: the live batches strictly before a batch id, under the
  *    store's declared schema. A managed store resolves through its
  *    newest manifest version (atomic old-or-new across compactions,
  *    duplicate-free unless a legacy migration flagged it); an
  *    unmanaged pile reads the batch directories first contact would
  *    migrate ([[StoreManifest.legacyNames]]) and is never called
  *    duplicate-free. Directories the resolve does not list are
  *    invisible.
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

  private def idOf(name: String): Long = name.stripPrefix("batch_id=").toLong

  /** One resolve of a store: its live batch-directory names and
    * whether reading them is duplicate-free. The only manifest-vs-
    * legacy branch. One resolve per read: each is a listStatus + open
    * on `_manifest`, driver-side metadata I/O on the per-batch path. */
  private def live(spark: SparkSession, storeDir: String): (Seq[String], Boolean) =
    StoreManifest.resolve(spark, storeDir) match {
      case Some(m) => (m.dirs, m.duplicateFree)
      case None => (StoreManifest.legacyNames(spark, storeDir), false)
    }

  /** One [[read]]: the rows, the batch ids they came from, and whether
    * they are duplicate-free. Duplicate-free needs BOTH a managed store
    * (each batch directory listed once) AND no duplicate-possible
    * horizon inherited from an ambiguous legacy migration
    * (StoreManifest.Manifest.dupesUpto); callers keep their dedup
    * shields on otherwise. */
  final case class Read(rows: DataFrame, batchIds: Seq[Long], duplicateFree: Boolean)

  /** The live batches strictly before `ltBatch`, projected to
    * `schema`'s columns and read under it (columns older files lack
    * null-fill; a `batch_id` field keeps the partition column); a
    * correctly-typed empty frame when nothing qualifies. */
  def read(spark: SparkSession, storeDir: String, schema: StructType,
           ltBatch: Long): Read = {
    val (names, duplicateFree) = live(spark, storeDir)
    val kept = names.filter(idOf(_) < ltBatch)
    val rows =
      if (kept.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else StoreManifest.readDirs(spark, storeDir, kept, Some(schema))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    Read(rows, kept.map(idOf), duplicateFree)
  }

  /** The live batch directories' paths — for a caller that inspects the
    * stored files themselves (the ANN layout check). */
  def liveDirs(spark: SparkSession, storeDir: String): Seq[String] =
    live(spark, storeDir)._1.map(n => s"$storeDir/$n")

  /** Write `rows` as batch `batchId` (overwrite), then publish it. */
  def commit(rows: DataFrame, storeDir: String, batchId: Long): Unit = {
    val name = s"batch_id=$batchId"
    rows.write.mode("overwrite").parquet(s"$storeDir/$name")
    StoreManifest.commitBatch(rows.sparkSession, storeDir, name)
  }

  /** Fold everything with `batch_id <= uptoBatch` (prior snapshots
    * included — their ids are negative) into one fresh snapshot
    * directory and retire the folded ones. `snapshot` makes the
    * snapshot's rows from the folded rows (their `batch_id` column
    * included) and whether those are duplicate-free; see [[concat]].
    * The newest batch (the only one structured streaming can still
    * replay) must never fold. */
  def fold(spark: SparkSession, storeDir: String, uptoBatch: Long)
          (snapshot: (DataFrame, Boolean) => DataFrame): Unit = {
    require(uptoBatch >= 0, "uptoBatch must be a real batch id")
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val (names, duplicateFree) = live(spark, storeDir)
    require(names.map(idOf).exists(_ > uptoBatch),
      s"refusing to compact through batch $uptoBatch: it is the newest " +
        "batch and may still be replayed — compact only after a newer " +
        "batch has committed")
    val foldNames = names.filter(n => idOf(n) <= uptoBatch)
    if (foldNames.isEmpty) return // nothing below the horizon: no-op
    val rows = snapshot(StoreManifest.readDirs(spark, storeDir, foldNames),
      duplicateFree)
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

  /** The [[fold]] snapshot of an append-only store: the folded rows
    * themselves. `dedup` absorbs the duplicates a resolve that is not
    * duplicate-free may carry — an unmanaged pile, or a managed listing
    * that migrated an ambiguous legacy state (the fold through its
    * horizon rewrites it and clears the flag). Folding those without
    * the absorber would bake the duplicates into the snapshot. */
  def concat(dedup: DataFrame => DataFrame)
            (folded: DataFrame, duplicateFree: Boolean): DataFrame = {
    val rows = folded.drop("batch_id")
    if (duplicateFree) rows else dedup(rows)
  }
}
