package graft

import java.nio.file.Files

import graft.sources.StoreManifest

class StoreManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-manifest").toString

  /** The live set's rows, read through one resolve. */
  private def readLive(dir: String) =
    StoreManifest.readDirs(spark, dir, StoreManifest.resolve(spark, dir).get.dirs)

  private def writeBatch(dir: String, id: Long, rows: Seq[Long]): Unit =
    rows.toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/batch_id=$id")

  test("unmanaged until first commit; commitBatch is idempotent") {
    val dir = tmp()
    assert(StoreManifest.resolve(spark, dir).isEmpty)
    assert(StoreManifest.legacyNames(spark, dir).isEmpty)
    writeBatch(dir, 0, Seq(1L, 2L))
    StoreManifest.commitBatch(spark, dir, "batch_id=0")
    val m0 = StoreManifest.resolve(spark, dir).get
    assert(m0.dirs == Seq("batch_id=0"))
    // a replayed micro-batch re-commits its own dir: no new version
    StoreManifest.commitBatch(spark, dir, "batch_id=0")
    assert(StoreManifest.resolve(spark, dir).get.version == m0.version)
    writeBatch(dir, 1, Seq(3L))
    StoreManifest.commitBatch(spark, dir, "batch_id=1")
    assert(StoreManifest.resolve(spark, dir).get.dirs.toSet ==
      Set("batch_id=0", "batch_id=1"))
  }

  test("first contact migrates a legacy pile: manifest lists existing dirs") {
    val dir = tmp()
    writeBatch(dir, 0, Seq(1L))
    writeBatch(dir, 1, Seq(2L))
    // legacy pile, no manifest — a new batch commit adopts the history
    writeBatch(dir, 2, Seq(3L))
    StoreManifest.commitBatch(spark, dir, "batch_id=2")
    assert(StoreManifest.resolve(spark, dir).get.dirs.toSet ==
      Set("batch_id=0", "batch_id=1", "batch_id=2"))
  }

  test("readLive sees exactly the listed dirs; unlisted dirs are invisible") {
    val dir = tmp()
    writeBatch(dir, 0, Seq(1L, 2L))
    StoreManifest.commitBatch(spark, dir, "batch_id=0")
    // batch 1 lands on disk AFTER the manifest exists and is NOT
    // committed (a writer mid-crash, or a compactor's fresh snapshot):
    // invisible until its commit
    writeBatch(dir, 1, Seq(3L))
    val live = readLive(dir)
    assert(live.select($"v").as[Long].collect().toSet == Set(1L, 2L))
    // the batch_id partition column survives the basePath read
    assert(live.columns.contains("batch_id"))
  }

  test("replace swaps atomically: snapshot in, folded out") {
    val dir = tmp()
    writeBatch(dir, 0, Seq(1L)); StoreManifest.commitBatch(spark, dir, "batch_id=0")
    writeBatch(dir, 1, Seq(2L)); StoreManifest.commitBatch(spark, dir, "batch_id=1")
    writeBatch(dir, -1, Seq(1L)) // the folded snapshot
    StoreManifest.replace(spark, dir, drop = Set("batch_id=0"),
      add = Seq("batch_id=-1"))
    assert(StoreManifest.resolve(spark, dir).get.dirs.toSet ==
      Set("batch_id=-1", "batch_id=1"))
    // the old version remains readable (KeepVersions window) but
    // resolve() never returns it
    val vals = readLive(dir)
      .select($"v").as[Long].collect().toSet
    assert(vals == Set(1L, 2L))
  }

  test("replace keeps a name listed in both drop and add (retried fold)") {
    val dir = tmp()
    writeBatch(dir, 0, Seq(1L)); StoreManifest.commitBatch(spark, dir, "batch_id=0")
    writeBatch(dir, 1, Seq(2L)); StoreManifest.commitBatch(spark, dir, "batch_id=1")
    writeBatch(dir, -1, Seq(1L))
    StoreManifest.replace(spark, dir, drop = Set("batch_id=0"),
      add = Seq("batch_id=-1"))
    // a compaction retried at the same horizon passes its own listed
    // snapshot in BOTH drop and add — it must stay listed, not be
    // dropped-then-refused-re-add (which would unlist the entire
    // folded history)
    StoreManifest.replace(spark, dir, drop = Set("batch_id=-1"),
      add = Seq("batch_id=-1"))
    assert(StoreManifest.resolve(spark, dir).get.dirs.toSet ==
      Set("batch_id=-1", "batch_id=1"))
  }

  test("legacy migration resolves an interrupted old-style compaction") {
    // crash window of the PRE-manifest layout: snapshot written and
    // committed, folded partitions not yet deleted — listing both
    // would bake every folded row into the manifest twice, forever,
    // while the clean resolve simultaneously disables consumers' dup shields
    val dir = tmp()
    writeBatch(dir, 0, Seq(1L))
    writeBatch(dir, 1, Seq(2L))
    writeBatch(dir, -1, Seq(1L)) // snapshot folding batch 0 (complete)
    writeBatch(dir, 2, Seq(3L))
    StoreManifest.commitBatch(spark, dir, "batch_id=2")
    assert(StoreManifest.resolve(spark, dir).get.dirs.toSet ==
      Set("batch_id=-1", "batch_id=1", "batch_id=2"),
      "complete snapshot supersedes its folded inputs")
    val vals = readLive(dir)
      .select($"v").as[Long].collect().toSeq.sorted
    assert(vals == Seq(1L, 2L, 3L), s"each row exactly once: $vals")
  }

  test("legacy migration ignores an incomplete snapshot; positive dirs need no _SUCCESS") {
    val dir = tmp()
    writeBatch(dir, 0, Seq(1L))
    writeBatch(dir, 1, Seq(2L))
    writeBatch(dir, -1, Seq(1L)) // the crashed snapshot write itself
    Files.delete(java.nio.file.Paths.get(dir, "batch_id=-1", "_SUCCESS"))
    // a crashed POSITIVE batch write is replayed/overwritten by the
    // at-least-once stream — it stays listed
    Files.delete(java.nio.file.Paths.get(dir, "batch_id=1", "_SUCCESS"))
    writeBatch(dir, 2, Seq(3L))
    StoreManifest.commitBatch(spark, dir, "batch_id=2")
    assert(StoreManifest.resolve(spark, dir).get.dirs.toSet ==
      Set("batch_id=0", "batch_id=1", "batch_id=2"),
      "incomplete snapshot excluded; its intact folded inputs carry the data")
  }

  test("legacy migration: the deepest fold horizon wins") {
    val dir = tmp()
    writeBatch(dir, -1, Seq(1L)) // shallow snapshot (folded batch 0)
    writeBatch(dir, -2, Seq(1L, 2L)) // deeper snapshot (folded 0 and 1, incl. -1)
    writeBatch(dir, 2, Seq(3L))
    StoreManifest.commitBatch(spark, dir, "batch_id=2")
    assert(StoreManifest.resolve(spark, dir).get.dirs.toSet ==
      Set("batch_id=-2", "batch_id=2"),
      "the most negative complete snapshot folded everything at or below its horizon")
  }

  test("ambiguous legacy state (fixed -1 snapshot + survivors) flags dupes until a full-range fold") {
    // The OLD (pre-manifest) compactor wrote its snapshot at the
    // RESERVED name batch_id=-1 whatever horizon it folded. This pile
    // is that compactor interrupted after folding batches 0..1: the
    // snapshot holds their rows AND batch_id=1 still exists. Nothing
    // on disk records the horizon, so migration must keep both sides
    // (lossless) and carry a duplicate-possible flag that keeps
    // consumer shields on — silently claiming uniqueness here would
    // double batch 1's rows in every downstream pair/count.
    val dir = tmp()
    writeBatch(dir, -1, Seq(1L, 2L)) // folded rows of batches 0 and 1
    writeBatch(dir, 0, Seq(1L))
    writeBatch(dir, 1, Seq(2L))
    writeBatch(dir, 2, Seq(3L))
    StoreManifest.commitBatch(spark, dir, "batch_id=2")
    val m = StoreManifest.resolve(spark, dir).get
    assert(m.dirs.toSet == Set("batch_id=-1", "batch_id=1", "batch_id=2"))
    assert(m.dupesUpto.contains(2L) && !m.duplicateFree,
      s"ambiguous -1 snapshot must flag ids <= max surviving positive: $m")
    val vals = readLive(dir)
      .select($"v").as[Long].collect().toSeq.sorted
    assert(vals == Seq(1L, 2L, 2L, 3L),
      s"lossless listing duplicates batch 1's row, never drops it: $vals")
    // later commits inherit the flag — the suspect range is still listed
    writeBatch(dir, 3, Seq(4L))
    StoreManifest.commitBatch(spark, dir, "batch_id=3")
    assert(StoreManifest.resolve(spark, dir).get.dupesUpto.contains(2L))
    // a fold BELOW the horizon dedupes its own snapshot but keeps the
    // flag: batch_id=2 (<= horizon) still listed, still suspect
    graft.streaming.IncrementalSpanDedup.compactStore(spark, dir, uptoBatch = 1)
    val partial = StoreManifest.resolve(spark, dir).get
    assert(partial.dupesUpto.contains(2L), s"partial fold must not clear: $partial")
    // the fold THROUGH the horizon rewrites every suspect dir deduped
    // and clears the flag — shields may drop from here on
    graft.streaming.IncrementalSpanDedup.compactStore(spark, dir, uptoBatch = 2)
    val after = StoreManifest.resolve(spark, dir).get
    assert(after.duplicateFree, s"full-range fold must clear the flag: $after")
    val deduped = readLive(dir)
      .select($"v").as[Long].collect().toSeq.sorted
    assert(deduped == Seq(1L, 2L, 3L, 4L), s"fold absorbed the duplicate: $deduped")
  }

  test("unambiguous legacy snapshot (horizon in the name) migrates without the flag") {
    val dir = tmp()
    writeBatch(dir, -2, Seq(1L, 2L)) // new naming: folded batches 0..1
    writeBatch(dir, 2, Seq(3L))
    StoreManifest.commitBatch(spark, dir, "batch_id=2")
    val m = StoreManifest.resolve(spark, dir).get
    assert(m.dirs.toSet == Set("batch_id=-2", "batch_id=2"))
    assert(m.duplicateFree, s"named horizon is exact — no flag: $m")
  }

  test("old manifest versions are GC'd beyond the keep window") {
    val dir = tmp()
    (0 to 6).foreach { i =>
      writeBatch(dir, i.toLong, Seq(i.toLong))
      StoreManifest.commitBatch(spark, dir, s"batch_id=$i")
    }
    val files = new java.io.File(s"$dir/_manifest").listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted
    assert(files.length <= 4, s"expected <= 4 kept versions, got ${files.toSeq}")
    assert(StoreManifest.resolve(spark, dir).get.dirs.length == 7)
  }
}
