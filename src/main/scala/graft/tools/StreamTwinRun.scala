package graft.tools

import org.apache.spark.graft.TaskMetricsTap.cellJson
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Steady per-batch cost of the d16/d17 STREAMING twins at a big scale
  * label (round-14 VERDICT item 2): the committed batch-twin capstone
  * cells (d16_incremental_substring_scrub / d17_incremental_winnowing)
  * rebuild their gram/fingerprint stores inside every call BY
  * CONSTRUCTION — their oracles demand a self-contained plan — so those
  * cells are an UPPER BOUND that re-pays store construction per batch.
  * The deployment shape is the streaming twin
  * ([[graft.streaming.IncrementalSubstringScrub]] /
  * [[graft.streaming.IncrementalWinnowing]]), which maintains the store
  * incrementally across micro-batches. This tool measures that shape
  * with the CapstoneRun lifecycle discipline — one fresh JVM, cells
  * separated so none inherits another's heap:
  *
  *   build   — bootstrap the store from the corpus (the one-time
  *             backfill a deployment pays once): the corpus' gram-hash
  *             membership set (d16) or (id, fp) fingerprint table
  *             (d17), written as a negative-id snapshot partition
  *             (`batch_id=-1` — the store-compaction convention, so
  *             micro-batch 0 reads it and can never collide with it)
  *             and committed to the store manifest.
  *   batch j — one `runOnce` micro-batch through the streaming driver,
  *             including its sink writes and manifest commit (the real
  *             per-batch deployment cost). Batches carry the SAME
  *             increment shape and size as the batch-twin queries
  *             (fragments sliced from corpus docs at doc_id % 13, plus
  *             exact in-batch copies for d16), with per-batch-distinct
  *             ids and suffix tokens so every batch does the same
  *             shape of fresh work. steady = the LAST batch.
  *
  * With `compactAfter=K` the run additionally times a mid-stream store
  * compaction (the twin's `compactStore`, folded through stream batch
  * K-2 so the newest replayable batch never folds) as its own cell
  * after batch K — measuring both the fold's one-time cost and whether
  * the post-compaction batches' shuffle resets (the "+3%/batch store
  * growth is bounded by compaction" claim, as a number).
  *
  * Usage: StreamTwinRun <d16|d17> <label> <dir> <outJson> [batches=N]
  *        [compactAfter=K]
  */
object StreamTwinRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: StreamTwinRun <d16|d17> <label> <dir> <outJson> [batches=N] [compactAfter=K]")
    val Array(which, label, dir, outPath) = args.take(4)
    require(Set("d16", "d17").contains(which), s"unknown twin: $which")
    val nBatches = args.collectFirst { case a if a.startsWith("batches=") =>
      a.stripPrefix("batches=").toInt }.getOrElse(3)
    require(nBatches >= 2, s"need at least first+steady batches, got $nBatches")
    val compactAfter: Option[Int] = args.collectFirst {
      case a if a.startsWith("compactAfter=") =>
        a.stripPrefix("compactAfter=").toInt }
    compactAfter.foreach { k =>
      require(k >= 2 && k < nBatches,
        s"compactAfter must be in [2, batches), got $k of $nBatches " +
          "(needs a foldable prefix and at least one post-compaction batch)")
    }

    val spark = graft.GraftSession.local()

    val tap = org.apache.spark.graft.MetricsBridge.install(spark.sparkContext)

    val work = s"target/streamtwin/$label/$which"
    deleteRecursively(new java.io.File(work))
    val inputDir = s"$work/input"; val storeDir = s"$work/store"
    val outDir = s"$work/out"; val ckptDir = s"$work/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inputDir))

    val docs = graft.model.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val schema = new StructType()
      .add("doc_id", LongType).add("text", StringType)

    // the batch-twin increment shape (DedupQueries d16/d17): fragments
    // sliced from every doc_id % 13 == j corpus doc — a DISJOINT doc
    // subset per batch, so batch j's fingerprints overlap the corpus
    // (the match work being measured) but not earlier batches'
    // (replaying the same docs would make batch j near-dup-match all
    // j-1 prior batches: match output and wall then GROW with batch
    // index and the last batch is not a steady state). Per-batch id
    // offsets stay inside each ScaleGen replica's free id zone
    // (< 1e6 above the replica base) and per-batch suffix tokens make
    // each batch's trailing grams fresh — the same shape of fresh work
    // every batch, never a replay of the previous one.
    def batchDf(j: Int): DataFrame = {
      val off = 500000L + j * 30000L
      val frags = docs.filter(col("doc_id") % 13 === (j % 13))
        .select((col("doc_id") + off).as("doc_id"),
          concat(
            array_join(slice(graft.functions.Hashing.tokens(col("text")), 11, 25), " "),
            lit(" qq"), col("doc_id").cast("string"), lit(s" b$j")).as("text"))
      if (which == "d16")
        frags.unionByName(
          frags.select((col("doc_id") + 15000L).as("doc_id"), col("text")))
      else frags
    }

    // build: bootstrap the store from the corpus as batch_id=-1
    val (_, bSec, bM) = tap.measure(spark.sparkContext) {
      val store =
        if (which == "d16")
          graft.operators.Dedup.substringGramStore(docs, "text", k = 8)
        else
          graft.operators.Dedup.winnowedFingerprints(docs, "doc_id", "text",
            k = 3, w = 4)
      graft.streaming.StoreCompaction.commit(store, storeDir, batchId = -1)
    }
    System.err.println(f"[streamtwin] $label $which build  ${bSec}%8.2f s  " +
      f"shuffle ${(bM(0) + bM(1)) / 1e6}%.0f MB")

    var compactCell: Option[(Double, Array[Long])] = None
    val cells = (1 to nBatches).map { j =>
      // input prep is NOT part of the batch cell (a deployment's
      // upstream producer writes these files)
      batchDf(j).repartition(8).write.mode("append").parquet(inputDir)
      val (_, sec, m) = tap.measure(spark.sparkContext) {
        if (which == "d16")
          graft.streaming.IncrementalSubstringScrub.runOnce(spark, schema,
            inputDir, "doc_id", "text", storeDir, outDir, ckptDir, k = 8)
        else
          graft.streaming.IncrementalWinnowing.runOnce(spark, schema,
            inputDir, "doc_id", "text", storeDir, outDir, ckptDir,
            k = 3, w = 4, minShared = 3, fpDfCap = 100)
      }
      // the sink partition this micro-batch just wrote (batch ids are
      // assigned by the stream: 0-based) — proof the batch did real work
      val outRows = spark.read.parquet(s"$outDir/batch_id=${j - 1}").count()
      val stage = if (j == 1) "batch1" else if (j == nBatches) "steady" else s"batch$j"
      System.err.println(f"[streamtwin] $label $which $stage%-7s ${sec}%8.2f s  " +
        f"shuffle ${(m(0) + m(1)) / 1e6}%.0f MB  spill ${(m(2) + m(3)) / 1e6}%.0f MB  " +
        f"out $outRows%d rows")
      if (compactAfter.contains(j)) {
        // fold through stream batch j-2: after j micro-batches the
        // newest stream batch id is j-1 — the only one structured
        // streaming can still replay, so it never folds (the
        // compactStore contract). The fold sweeps the batch_id=-1
        // bootstrap snapshot and batches 0..j-2 into one fresh
        // negative-id snapshot.
        val (_, cSec, cM) = tap.measure(spark.sparkContext) {
          if (which == "d16")
            graft.streaming.IncrementalSubstringScrub.compactStore(
              spark, storeDir, uptoBatch = j - 2L)
          else
            graft.streaming.IncrementalWinnowing.compactStore(
              spark, storeDir, uptoBatch = j - 2L)
        }
        compactCell = Some((cSec, cM))
        System.err.println(f"[streamtwin] $label $which compact ${cSec}%8.2f s  " +
          f"shuffle ${(cM(0) + cM(1)) / 1e6}%.0f MB (after batch $j, " +
          f"folded through ${j - 2})")
      }
      (sec, m, outRows)
    }

    def js(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val batchJsons = cells.map { case (sec, m, rows) =>
      cellJson(sec, m).dropRight(1) + s""","out_rows":$rows}"""
    }
    val compactJson = (compactCell, compactAfter) match {
      case (Some((cSec, cM)), Some(k)) =>
        s""","compact":${cellJson(cSec, cM).dropRight(1)},"after_batch":$k}"""
      case _ => ""
    }
    val out = s"""{"metric":"streamtwin","query":${js(which + "_streaming_twin")},""" +
      s""""label":${js(label)},"dir":${js(dir)},"build":${cellJson(bSec, bM)},""" +
      s""""batches":[${batchJsons.mkString(",")}],""" +
      s""""first":${batchJsons.head},"steady":${batchJsons.last}$compactJson}"""
    println(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
