package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Atomic-visibility layout for the incremental `batch_id=` stores.
  *
  * The legacy layout is a bare directory pile: readers list the store
  * root, so a compaction (snapshot-write THEN partition-delete) exposes
  * a mid-window state in which folded rows exist twice, and every
  * incremental operator carries an O(pairs)-bounded dedup shield to
  * tolerate it (~20-30% of each incremental query's steady-state cost —
  * SCALE.md "shield cost and the manifest alternative").
  *
  * The manifest layout removes the window instead of tolerating it:
  * readers resolve the store through the newest committed version file
  * under `_manifest/` (one live batch-directory name per line), writers
  * publish a new version by atomic rename, and directories not listed
  * by the resolved version are invisible garbage. A compaction writes
  * its snapshot to a FRESH directory name (never overwriting a listed
  * one), publishes the swapped listing, and only then deletes the
  * folded directories — so any reader resolves strictly old-or-new,
  * never a mix, and store reads are guaranteed duplicate-free
  * (CompactionWindowSpec pins both states; the operators' shields
  * become opt-in for unmanaged inputs).
  *
  * Concurrency contract (same as the legacy layout, now explicit):
  * ONE writer at a time — the streaming driver's foreachBatch and the
  * maintenance compactor are sequenced, never concurrent; readers are
  * unrestricted. Version files are monotonically numbered; a writer
  * crash mid-publish leaves a `.tmp` file that no reader resolves.
  * Physical deletion of just-unlisted directories races only with a
  * reader that RESOLVED before the publish and is still scanning —
  * the same in-flight race the legacy delete had; on an object store
  * deployment, defer deletion by one maintenance cycle to close it.
  */
object StoreManifest {

  private val Dir = "_manifest"
  private val KeepVersions = 4
  private val DupesFlagPrefix = "!dupes-upto="

  /** One committed manifest version. `dupesUpto` is the duplicate-
    * possible horizon inherited from an ambiguous legacy migration
    * (see [[legacyResolve]]): when set to M, directories with
    * `batch_id <= M` (including the legacy snapshot's negative id) may
    * collectively list the same logical rows twice, so consumers must
    * keep their dedup shields on; directories committed after the
    * migration are above M and clean. The flag self-clears at the
    * first [[replace]] whose surviving set holds nothing at or below
    * M — i.e. a fold that rewrites the entire suspect range. */
  final case class Manifest(version: Long, dirs: Seq[String],
                            dupesUpto: Option[Long]) {
    def duplicateFree: Boolean = dupesUpto.isEmpty
  }

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.drop(1).forall(_.isDigit))
      Some(name.drop(1).toLong)
    else None

  /** The newest committed version (its listed dir names and duplicate-
    * possible horizon), or None when the store is unmanaged (no
    * `_manifest/` with a committed version). */
  def resolve(spark: SparkSession, storeDir: String): Option[Manifest] = {
    val (fs, root) = fsOf(spark, storeDir)
    val mdir = new Path(root, Dir)
    if (!fs.exists(mdir)) return None
    val versions = fs.listStatus(mdir).flatMap(s => versionOf(s.getPath.getName))
    if (versions.isEmpty) return None
    val v = versions.max
    val in = fs.open(new Path(mdir, f"v$v%020d"))
    val body = try new String(in.readAllBytes, java.nio.charset.StandardCharsets.UTF_8)
               finally in.close()
    val lines = body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val (flags, dirs) = lines.partition(_.startsWith("!"))
    val dupes = flags.collectFirst {
      case f if f.startsWith(DupesFlagPrefix) =>
        f.stripPrefix(DupesFlagPrefix).toLong
    }
    Some(Manifest(v, dirs, dupes))
  }

  /** Commit `entries` as the next version: write to a `.tmp` name,
    * then atomic rename to the committed `v<N>` name. Returns the
    * committed version. */
  def publish(spark: SparkSession, storeDir: String,
              entries: Seq[String], dupesUpto: Option[Long] = None): Long = {
    require(entries.forall(!_.startsWith("!")),
      "manifest entries must be directory names — '!' prefixes the flag lines")
    val (fs, root) = fsOf(spark, storeDir)
    val mdir = new Path(root, Dir)
    fs.mkdirs(mdir)
    val v = resolve(spark, storeDir).map(_.version + 1).getOrElse(0L)
    val tmp = new Path(mdir, f".tmp-v$v%020d-${System.nanoTime()}")
    val body = dupesUpto.map(m => s"$DupesFlagPrefix$m").toSeq ++ entries
    val out = fs.create(tmp, true)
    try out.write(body.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, new Path(mdir, f"v$v%020d")),
      s"manifest publish lost a race for version $v at $storeDir — " +
        "the store's single-writer contract was violated")
    // GC old version FILES only (never data dirs): readers of the last
    // few versions keep resolving while this writer moves on
    fs.listStatus(mdir).foreach { s =>
      versionOf(s.getPath.getName).foreach { ov =>
        if (ov + KeepVersions <= v) fs.delete(s.getPath, false)
      }
    }
    v
  }

  private def idOf(name: String): Long = name.stripPrefix("batch_id=").toLong

  /** [[legacyNames]] plus the duplicate-possible horizon the resolved
    * listing inherits. The horizon exists because one legacy state is
    * ambiguous: a snapshot at exactly `batch_id=-1` is EITHER the
    * current naming's first fold (horizon 0 — folded only batch 0) OR
    * an earlier RESERVED-name compaction that folded through an
    * unrecorded horizon u and crashed before deleting its inputs — in
    * which case the surviving `batch_id=1..u` dirs hold rows the
    * snapshot also holds, and nothing on disk says which ids those
    * are. Listing both sides is the only lossless resolution, so the
    * migration records `Some(maxPositiveId)` and consumers keep their
    * duplicate shields for rows at or below it until a full-range fold
    * rewrites the suspect set (deduped) and clears the flag. Snapshots
    * deeper than -1 encode their horizon in the name and stay exact. */
  private def legacyResolve(fs: FileSystem, root: Path): (Seq[String], Option[Long]) = {
    if (!fs.exists(root)) return (Seq.empty, None)
    val all = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).toSeq
    val kept = all.filter(n => idOf(n) >= 0 ||
      fs.exists(new Path(new Path(root, n), "_SUCCESS")))
    val snapIds = kept.map(idOf).filter(_ < 0)
    if (snapIds.isEmpty) (kept, None)
    else {
      // deepest fold horizon wins: the most negative snapshot folded
      // everything at or below its horizon, shallower snapshots included
      val deepest = snapIds.min
      val horizon = -deepest - 1
      val resolved = kept.filter(n => idOf(n) == deepest || idOf(n) > horizon)
      val positives = resolved.map(idOf).filter(_ >= 1)
      val dupes = if (deepest == -1L && positives.nonEmpty) Some(positives.max)
                  else None
      (resolved, dupes)
    }
  }

  /** Idempotently add one batch directory to the live set, migrating a
    * legacy pile (manifest = all existing `batch_id=` dirs) on first
    * contact. Call AFTER the directory's data is fully written. */
  def commitBatch(spark: SparkSession, storeDir: String,
                  dirName: String): Unit = {
    val (fs, root) = fsOf(spark, storeDir)
    val (live, dupes) = resolve(spark, storeDir) match {
      case Some(m) => (m.dirs, m.dupesUpto)
      case None =>
        val (dirs, d) = legacyResolve(fs, root)
        (dirs.filter(_ != dirName), d)
    }
    if (!live.contains(dirName))
      publish(spark, storeDir, live :+ dirName, dupes)
    ()
  }

  /** Atomically swap the live set to (live − drop) + add — the
    * compaction publish. Migrates a legacy pile on first contact.
    * `add` is trusted duplicate-free against the surviving set (the
    * fold dedupes its snapshot whenever the store is flagged or
    * unmanaged); the inherited duplicate-possible horizon survives
    * only while some suspect directory (id at or below it, snapshots
    * included) is still listed — a fold through the horizon clears it. */
  def replace(spark: SparkSession, storeDir: String,
              drop: Set[String], add: Seq[String]): Unit = {
    val (fs, root) = fsOf(spark, storeDir)
    val (live, dupes) = resolve(spark, storeDir) match {
      case Some(m) => (m.dirs, m.dupesUpto)
      case None => legacyResolve(fs, root)
    }
    // dedupe `add` against the POST-drop set, not the pre-drop one: a
    // name in both `drop` and `add` (a compaction retried at a horizon
    // whose snapshot is already listed) must stay listed — filtering
    // against `live` would drop it and never re-add it, unlisting the
    // entire folded history
    val kept = live.filterNot(drop.contains)
    val keptDupes = dupes.filter(m => kept.exists(n => idOf(n) <= m))
    publish(spark, storeDir, kept ++ add.filterNot(kept.contains), keptDupes)
    ()
  }

  /** Read resolved batch directories (one [[resolve]] call's `dirs`)
    * as one DataFrame, the `batch_id` partition column preserved via
    * basePath. With a declared `schema` the files are read under it, so
    * columns older files lack null-fill; without one it is inferred. */
  def readDirs(spark: SparkSession, storeDir: String, dirs: Seq[String],
               schema: Option[StructType] = None): DataFrame =
    schema.foldLeft(spark.read)(_.schema(_)).option("basePath", storeDir)
      .parquet(dirs.map(n => s"$storeDir/$n"): _*)

  /** The names a legacy (pre-manifest) pile holds — its `batch_id=`
    * children — for first-contact migration, with the interrupted-
    * legacy-compaction states resolved rather than baked in:
    *
    *  - a COMPLETE snapshot (negative id, `_SUCCESS` present) at
    *    `-(u+1)` supersedes every dir with id <= u — those are the
    *    folded inputs a crash between snapshot-write and delete left
    *    behind. Listing both would make the manifest itself carry each
    *    folded row twice, permanently, while the clean resolve
    *    simultaneously tells consumers to drop their duplicate shields.
    *  - an INCOMPLETE snapshot (no `_SUCCESS`) is the crashed write
    *    itself: never readable as truth, excluded; its folded inputs
    *    (still intact) carry the data.
    *
    * Positive-id dirs are listed regardless of `_SUCCESS`: a crashed
    * batch write is replayed and overwritten by the at-least-once
    * stream, which is the healing path the layout already relies on. */
  def legacyNames(spark: SparkSession, storeDir: String): Seq[String] = {
    val (fs, root) = fsOf(spark, storeDir)
    legacyResolve(fs, root)._1
  }
}
