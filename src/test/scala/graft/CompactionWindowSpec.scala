package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{IncrementalCorpusStats, IncrementalDedup, IncrementalSpanDedup, IncrementalSubstringScrub, IncrementalWinnowing, StoreCompaction}

/** Store compaction under the manifest layout
  * ([[graft.sources.StoreManifest]]) is snapshot-write → atomic
  * manifest swap → partition-delete. A manifest-resolving reader can
  * therefore observe exactly two states: OLD (manifest not yet
  * swapped — the fresh snapshot directory exists but is unlisted,
  * hence invisible) and NEW (manifest swapped — the folded
  * directories may still exist but are unlisted, hence invisible).
  * These tests reconstruct both states deterministically and assert
  * every reader and consumer resolves the SAME result as
  * before/after the compaction: old or new, never a mix. The
  * consumers count and verify rows as they come (df is a plain count,
  * verification has no by-id dedup), so a read that saw both the
  * snapshot and its folded directories would change their output. */
class CompactionWindowSpec extends SparkSpec {
  import spark.implicits._

  private def copyDir(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { s =>
      val d = dst.resolve(src.relativize(s))
      if (Files.isDirectory(s)) Files.createDirectories(d)
      else Files.copy(s, d)
    }
  }

  /** The states a compaction folding batch 0 passes through,
    * reconstructed from `store`: post (the real compaction), mid1
    * (snapshot directory written, manifest NOT yet swapped — readers
    * must resolve the OLD view; the unlisted snapshot is invisible),
    * mid2 (manifest swapped, folded batch 0 not yet deleted — readers
    * must resolve the NEW view; the unlisted batch dir is invisible).
    * Returns (post, mid1, mid2) store dirs. */
  private def windowStates(root: Path, store: String,
                           compact: String => Unit): (String, String, String) = {
    val post = root.resolve("post")
    copyDir(Paths.get(store), post)
    compact(post.toString)
    val mid1 = root.resolve("mid1")
    copyDir(Paths.get(store), mid1)
    copyDir(post.resolve("batch_id=-1"), mid1.resolve("batch_id=-1"))
    val mid2 = root.resolve("mid2")
    copyDir(post, mid2)
    copyDir(Paths.get(store).resolve("batch_id=0"), mid2.resolve("batch_id=0"))
    (post.toString, mid1.toString, mid2.toString)
  }

  test("substring gram store: readers mid-compaction resolve the same scrub") {
    val root = Files.createTempDirectory("graft-gramwindow")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val out = root.resolve("clean").toString
    val ckpt = root.resolve("ckpt").toString
    def ingest(rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
      IncrementalSubstringScrub.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, out, ckpt, k = 2)
    }
    ingest(1L -> "a b c d", 2L -> "c d e")
    ingest(3L -> "d e f", 4L -> "x y")

    def ghSet(dir: String): Set[Long] =
      IncrementalSubstringScrub.readStore(spark, dir, ltBatch = Long.MaxValue)
        .select($"gh").as[Long].collect().toSet
    def scrub(dir: String): Seq[String] = {
      val probe = Seq((9L, "a b x y q")).toDF("doc_id", "text")
      Dedup.incrementalSubstringScrub(probe,
          IncrementalSubstringScrub.readStore(spark, dir, ltBatch = Long.MaxValue),
          "doc_id", "text", k = 2)
        .collect().map(_.toString).sorted.toSeq
    }
    val wantGh = ghSet(store)
    val wantScrub = scrub(store)
    val (post, mid1, mid2) = windowStates(root, store,
      d => IncrementalSubstringScrub.compactStore(spark, d, uptoBatch = 0))
    for ((state, dir) <- Seq("post" -> post, "mid1" -> mid1, "mid2" -> mid2)) {
      assert(ghSet(dir) == wantGh, s"$state membership set diverged")
      assert(scrub(dir) == wantScrub, s"$state scrub output diverged")
    }
  }

  test("span store: readers mid-compaction resolve the same scrub") {
    val root = Files.createTempDirectory("graft-spanwindow")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val out = root.resolve("clean").toString
    val ckpt = root.resolve("ckpt").toString
    val span = 3
    def ingest(rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
      IncrementalSpanDedup.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, out, ckpt, spanTokens = span)
    }
    ingest(1L -> "a b c d e f", 2L -> "x y z")
    ingest(3L -> "m n o p q r")

    def md5Set(dir: String): Set[String] =
      IncrementalSpanDedup.readStore(spark, dir, ltBatch = Long.MaxValue)
        .select($"span_md5").as[String].collect().toSet
    def scrub(dir: String): Seq[String] = {
      val probe = Seq((9L, "a b c m n o u v w")).toDF("doc_id", "text")
      Dedup.incrementalSpanDedup(probe,
          IncrementalSpanDedup.readStore(spark, dir, ltBatch = Long.MaxValue),
          "doc_id", "text", spanTokens = span)
        .collect().map(_.toString).sorted.toSeq
    }
    val wantMd5 = md5Set(store)
    val wantScrub = scrub(store)
    val (post, mid1, mid2) = windowStates(root, store,
      d => IncrementalSpanDedup.compactStore(spark, d, uptoBatch = 0))
    for ((state, dir) <- Seq("post" -> post, "mid1" -> mid1, "mid2" -> mid2)) {
      assert(md5Set(dir) == wantMd5, s"$state membership set diverged")
      assert(scrub(dir) == wantScrub, s"$state scrub output diverged")
    }
  }

  test("winnowing fingerprint store: df cap and pairing survive the window duplicates") {
    val root = Files.createTempDirectory("graft-fpwindow")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("fps").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    def ingest(rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
      IncrementalWinnowing.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, pairs, ckpt, k = 2, w = 2, minShared = 1)
    }
    // docs 1/2 share the "p q r s" run: its winnowed fingerprint has
    // df = 2 in the store — at fpDfCap = 3 the probe (df -> 3) keeps
    // it, while a read that doubled the folded rows (df -> 5) would
    // drop it
    ingest(1L -> "p q r s t", 2L -> "z p q r s w")
    ingest(4L -> "a b c d e")

    def fpSet(dir: String): Set[(Long, Long)] =
      IncrementalWinnowing.readStore(spark, dir, "doc_id",
          org.apache.spark.sql.types.LongType, ltBatch = Long.MaxValue)
        .select($"doc_id", $"fp").as[(Long, Long)].collect().toSet
    def overlap(dir: String): Set[(Long, Long, Long)] = {
      val probe = Seq((9L, "m p q r s n")).toDF("doc_id", "text")
      val newFps = Dedup.winnowedFingerprints(probe, "doc_id", "text", 2, 2)
        .localCheckpoint(true)
      Dedup.incrementalWinnowingOverlapFromFps(newFps,
          IncrementalWinnowing.readStore(spark, dir, "doc_id",
            org.apache.spark.sql.types.LongType, ltBatch = Long.MaxValue),
          "doc_id", minShared = 1, fpDfCap = 3)
        .select($"id_a", $"id_b", $"n_shared")
        .as[(Long, Long, Long)].collect().toSet
    }
    val wantFps = fpSet(store)
    val wantOverlap = overlap(store)
    assert(wantOverlap.map(p => (p._1, p._2)) == Set((1L, 9L), (2L, 9L)),
      s"probe should pair with both sharers: $wantOverlap")
    val (post, mid1, mid2) = windowStates(root, store,
      d => IncrementalWinnowing.compactStore(spark, d, uptoBatch = 0))
    for ((state, dir) <- Seq("post" -> post, "mid1" -> mid1, "mid2" -> mid2)) {
      assert(fpSet(dir) == wantFps, s"$state fingerprint set diverged")
      assert(overlap(dir) == wantOverlap, s"$state overlap pairs diverged")
    }
    // the guard carried over from the sibling stores
    val e = intercept[IllegalArgumentException] {
      IncrementalWinnowing.compactStore(spark, store, uptoBatch = 1)
    }
    assert(e.getMessage.contains("newest"))
  }

  test("corpus stats store: readers mid-compaction resolve the same stats") {
    // tf and df are sums, so a read that saw both the snapshot and its
    // folded batch would count batch 0's tokens twice
    val root = Files.createTempDirectory("graft-statswindow")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("stats").toString
    val ckpt = root.resolve("ckpt").toString
    def ingest(rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
      IncrementalCorpusStats.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, ckpt)
    }
    ingest(1L -> "a b a", 2L -> "b c")
    ingest(3L -> "a d")

    def stats(dir: String, uptoBatch: Option[Long] = None): Set[(String, Long, Long)] =
      IncrementalCorpusStats.resolveStats(spark, dir, uptoBatch)
        .as[(String, Long, Long)].collect().toSet
    def heavy(dir: String): Set[(String, Long)] =
      IncrementalCorpusStats.heavyHittersFromStore(spark, dir, 4)
        .as[(String, Long)].collect().toSet
    val want = stats(store)
    val wantAsOf0 = stats(store, Some(0L))
    val wantHeavy = heavy(store)
    assert(want == Set(("a", 3L, 2L), ("b", 2L, 2L), ("c", 1L, 1L), ("d", 1L, 1L)))
    val (post, mid1, mid2) = windowStates(root, store,
      d => IncrementalCorpusStats.compactStore(spark, d, uptoBatch = 0))
    for ((state, dir) <- Seq("post" -> post, "mid1" -> mid1, "mid2" -> mid2)) {
      assert(stats(dir) == want, s"$state stats diverged")
      assert(stats(dir, Some(0L)) == wantAsOf0, s"$state as-of-0 stats diverged")
      assert(heavy(dir) == wantHeavy, s"$state heavy hitters diverged")
    }
  }

  test("signature store: verification emits each pair once mid-window") {
    val root = Files.createTempDirectory("graft-sigwindow")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("sigs").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    def ingest(rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
      IncrementalDedup.runOnce(spark, schema, in.toString, "doc_id", "text",
        store, pairs, ckpt)
    }
    ingest(1L -> base, 2L -> (base + " tail"))
    ingest(3L -> "unrelated words only here nothing shared")

    val sigSchema = Dedup.minhashSignatures(Seq((0L, "x")).toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4).schema
    def storeDf(dir: String) =
      StoreCompaction.read(spark, dir, sigSchema, ltBatch = Long.MaxValue).rows
    def probePairs(dir: String): Seq[String] = {
      val probe = Seq((9L, base + " coda")).toDF("doc_id", "text")
      val newSigs = Dedup.minhashSignatures(probe, "doc_id", "text", 3, 16, 4)
      Dedup.incrementalPairsFromSigs(newSigs, storeDf(dir), "doc_id",
          bands = 4, minJaccard100 = 50)
        .collect().map(_.toString).sorted.toSeq
    }
    val wantRows = storeDf(store).collect().map(_.toString).sorted.toSeq
    val wantPairs = probePairs(store)
    assert(wantPairs.nonEmpty)
    val (post, mid1, mid2) = windowStates(root, store,
      d => IncrementalDedup.compactSigs(spark, d, uptoBatch = 0))
    assert(storeDf(post).collect().map(_.toString).sorted.toSeq == wantRows,
      "compaction changed the signature rows")
    for ((state, dir) <- Seq("post" -> post, "mid1" -> mid1, "mid2" -> mid2))
      assert(probePairs(dir) == wantPairs,
        s"$state verification pairs diverged (duplicate rows leaked through)")
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.compactSigs(spark, store, uptoBatch = 1)
    }
    assert(e.getMessage.contains("newest"))

    // a RETRIED fold at the already-folded horizon (idempotent
    // maintenance job re-run after a crash between manifest swap and
    // delete): the snapshot id must be fresh — a fold targeting its
    // own listed input would overwrite the directory its lazy write
    // plan is reading — and the resolved store must be unchanged
    IncrementalDedup.compactSigs(spark, post, uptoBatch = 0)
    val listed = graft.sources.StoreManifest.resolve(spark, post).get.dirs
    assert(listed.exists(_.stripPrefix("batch_id=").toLong < -1),
      s"retry must target a fresh id below all prior snapshots: $listed")
    assert(storeDf(post).collect().map(_.toString).sorted.toSeq == wantRows,
      "retried fold changed the resolved signature rows")
    assert(probePairs(post) == wantPairs,
      "retried fold changed verification output")
  }
}
