package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Atomic-visibility layout for the incremental `batch_id=` stores.
  *
  * A store is its newest committed version file under `_manifest/` (one
  * live batch-directory name per line), or empty when it has none.
  * Writers publish a new version by atomic rename, and directories not
  * listed by the resolved version are invisible garbage. A compaction
  * writes its snapshot to a FRESH directory name (never overwriting a
  * listed one), publishes the swapped listing, and only then deletes the
  * folded directories — so any reader resolves strictly old-or-new,
  * never a mix, and a store read lists each batch directory once
  * (CompactionWindowSpec pins both states).
  *
  * A store root with no committed version but with `batch_id=`
  * directories older than the batch reading or committing is a pile no
  * engine writer produces: [[commitBatch]] and every store read refuse
  * it ([[live]]) instead of adopting it. The one unlisted shape an
  * engine writer does leave, a first batch that crashed before its
  * commit, is at the replaying batch's own id and is overwritten.
  *
  * Concurrency contract: ONE writer at a time — the streaming driver's
  * foreachBatch and the maintenance compactor are sequenced, never
  * concurrent; readers are unrestricted. Version files are
  * monotonically numbered; a writer crash mid-publish leaves a `.tmp`
  * file that no reader resolves. Physical deletion of just-unlisted
  * directories races only with a reader that RESOLVED before the
  * publish and is still scanning; on an object store deployment, defer
  * deletion by one maintenance cycle to close it.
  */
object StoreManifest {

  private val Dir = "_manifest"
  private val KeepVersions = 4

  /** One committed manifest version. */
  final case class Manifest(version: Long, dirs: Seq[String])

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.drop(1).forall(_.isDigit))
      Some(name.drop(1).toLong)
    else None

  /** The newest committed version, or None when the store has no
    * `_manifest/` with a committed version. A version carrying a
    * `!`-prefixed line fails loud: only the retired pre-manifest
    * migration wrote one. */
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
    val dirs = body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val flags = dirs.filter(_.startsWith("!"))
    if (flags.nonEmpty) throw new IllegalStateException(
      s"store $storeDir: manifest version $v carries ${flags.mkString(", ")}, " +
        "a flag of the retired pre-manifest migration; the listing cannot be " +
        "trusted to be duplicate-free")
    Some(Manifest(v, dirs))
  }

  /** Commit `entries` as the next version: write to a `.tmp` name,
    * then atomic rename to the committed `v<N>` name. Returns the
    * committed version. */
  def publish(spark: SparkSession, storeDir: String, entries: Seq[String]): Long = {
    require(entries.forall(!_.startsWith("!")),
      "manifest entries must be directory names, not '!' lines")
    val (fs, root) = fsOf(spark, storeDir)
    val mdir = new Path(root, Dir)
    fs.mkdirs(mdir)
    val v = resolve(spark, storeDir).map(_.version + 1).getOrElse(0L)
    val tmp = new Path(mdir, f".tmp-v$v%020d-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(entries.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
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

  /** The id of a `batch_id=<n>` directory name. */
  private[graft] def batchIdOf(name: String): Long =
    name.stripPrefix("batch_id=").toLong

  /** The store's live batch-directory names: the newest committed
    * version's listing, or none when the store has no version. A store
    * with no version fails loud on any `batch_id=` directory below
    * `ltBatch`: no engine writer leaves older batches unlisted, so
    * nothing says which of them are complete or disjoint. Directories
    * at or above `ltBatch` are the failed first attempt of the batch
    * now reading or committing (a crash before the store's first
    * manifest commit leaves one), which its replay overwrites. */
  private[graft] def live(spark: SparkSession, storeDir: String,
                          ltBatch: Long = Long.MaxValue): Seq[String] =
    resolve(spark, storeDir).map(_.dirs).getOrElse {
      val (fs, root) = fsOf(spark, storeDir)
      val unlisted =
        if (!fs.exists(root)) Seq.empty
        else fs.listStatus(root).map(_.getPath.getName).toSeq.sorted
          .filter(n => n.startsWith("batch_id=") &&
            n.stripPrefix("batch_id=").toLongOption.forall(_ < ltBatch))
      if (unlisted.nonEmpty) throw new IllegalStateException(
        s"store $storeDir has no committed manifest version but holds " +
          s"unlisted ${unlisted.mkString(", ")}; refusing to adopt them. " +
          "To adopt a pile deliberately, hand-check its directories and " +
          "publish their listing once with StoreManifest.publish")
      Seq.empty
    }

  /** Idempotently add one batch directory to the live set. Call AFTER
    * the directory's data is fully written. */
  def commitBatch(spark: SparkSession, storeDir: String,
                  dirName: String): Unit = {
    val listed = live(spark, storeDir, ltBatch = batchIdOf(dirName))
    if (!listed.contains(dirName)) publish(spark, storeDir, listed :+ dirName)
  }

  /** Atomically swap the live set to (live − drop) + add — the
    * compaction publish. `add` is trusted disjoint from the surviving
    * set. */
  def replace(spark: SparkSession, storeDir: String,
              drop: Set[String], add: Seq[String]): Unit = {
    // dedupe `add` against the POST-drop set, not the pre-drop one: a
    // name in both `drop` and `add` (a compaction retried at a horizon
    // whose snapshot is already listed) must stay listed — filtering
    // against the live set would drop it and never re-add it,
    // unlisting the entire folded history
    val kept = live(spark, storeDir).filterNot(drop.contains)
    publish(spark, storeDir, kept ++ add.filterNot(kept.contains))
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
}
