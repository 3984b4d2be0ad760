package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.{IncrementalAnn, IncrementalCorpusStats, IncrementalDedup, IncrementalLedger}

/** S-3 / §2.I: exactly-once file-grain incremental processing. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming incremental dedup: pairs accumulate, old-old never re-emits") {
    val root = Files.createTempDirectory("graft-incdedup")
    val in = root.resolve("in"); Files.createDirectories(in)
    val sigs = root.resolve("sigs").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val noise = "completely different unrelated words nothing shared here at all ever"

    // batch 0: docs 1/2 near-identical, doc 3 unrelated
    Seq((1L, base), (2L, base + " tail"), (3L, noise))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    IncrementalDedup.runOnce(spark, schema, in.toString, "doc_id", "text",
      sigs, pairs, ckpt)
    def pairSet(filter: org.apache.spark.sql.Column) =
      spark.read.parquet(pairs).filter(filter)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairSet(lit(true)) == Set((1L, 2L)))

    // batch 1: doc 4 is a near-dup of 1/2; doc 5 unrelated
    Seq((4L, base + " coda"),
        (5L, "quite another body of text with zero overlap against anything prior"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    IncrementalDedup.runOnce(spark, schema, in.toString, "doc_id", "text",
      sigs, pairs, ckpt)
    // the new batch pairs against the STORE (1,2,3) and itself —
    // but the already-known (1,2) pair must not re-emit
    assert(pairSet($"batch_id" === 1) == Set((1L, 4L), (2L, 4L)))
    assert(pairSet(lit(true)) == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // store now holds one signature row per doc, exactly once
    assert(spark.read.parquet(sigs).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("streaming sig-verified dedup: store holds only signatures") {
    val root = Files.createTempDirectory("graft-sigdedup")
    val in = root.resolve("in"); Files.createDirectories(in)
    val sigs = root.resolve("sigs").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    val base = (1 to 20).map(i => s"w$i").mkString(" ")

    Seq((1L, base), (2L, base + " tail"),
        (3L, "completely different unrelated words nothing shared here at all"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    IncrementalDedup.runOnce(spark, schema, in.toString, "doc_id", "text",
      sigs, pairs, ckpt, verifyBySig = true)
    // near-identical pair found via signature agreement alone
    assert(spark.read.parquet(pairs).select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    // the persisted store is the slim layout: no shingle arrays
    val storeCols = spark.read.parquet(sigs).columns.toSet
    assert(!storeCols.contains("sh") && storeCols.contains("sig"))

    // second batch pairs against the slim store
    Seq((4L, base + " coda")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in.toString)
    IncrementalDedup.runOnce(spark, schema, in.toString, "doc_id", "text",
      sigs, pairs, ckpt, verifyBySig = true)
    assert(spark.read.parquet(pairs).filter($"batch_id" === 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet ==
      Set((1L, 4L), (2L, 4L)))
  }

  test("streaming span scrub: batches clean against the accumulated store") {
    val root = Files.createTempDirectory("graft-spanscrub")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val out = root.resolve("clean").toString
    val ckpt = root.resolve("ckpt").toString
    val span = 3

    // batch 0: doc 2 repeats doc 1's first span intra-batch
    Seq((1L, "a b c d e f"), (2L, "a b c x y z"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    graft.streaming.IncrementalSpanDedup.runOnce(spark, schema, in.toString,
      "doc_id", "text", store, out, ckpt, spanTokens = span)
    def clean(): Map[Long, (Int, Int, String)] =
      spark.read.parquet(out)
        .select($"doc_id", $"n_spans", $"n_spans_kept", $"clean_text")
        .as[(Long, Int, Int, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(clean() == Map(
      1L -> ((2, 2, "a b c d e f")),
      2L -> ((2, 1, "x y z"))))

    // batch 1: doc 3 pastes spans seen in batch 0 (cross-batch scrub);
    // doc 4 is all-new
    Seq((3L, "d e f x y z"), (4L, "m n o p q r"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    graft.streaming.IncrementalSpanDedup.runOnce(spark, schema, in.toString,
      "doc_id", "text", store, out, ckpt, spanTokens = span)
    assert(clean() == Map(
      1L -> ((2, 2, "a b c d e f")),
      2L -> ((2, 1, "x y z")),
      3L -> ((2, 0, "")),
      4L -> ((2, 2, "m n o p q r"))))
    // store holds one row per distinct span ever kept, nothing else
    val hashes = spark.read.parquet(store).select($"span_md5").as[String].collect()
    assert(hashes.length == hashes.distinct.length)
    assert(hashes.length == 5) // abc def xyz (b0) + mno pqr (b1); "a b c" only once

    // the NEWEST batch may still replay — folding it must refuse
    val e = intercept[IllegalArgumentException] {
      graft.streaming.IncrementalSpanDedup.compactStore(spark, store, uptoBatch = 1)
    }
    assert(e.getMessage.contains("newest"))
    // folding batch 0 into the reserved base preserves the set; the
    // replayable batch-1 partition survives untouched
    graft.streaming.IncrementalSpanDedup.compactStore(spark, store, uptoBatch = 0)
    val compacted = spark.read.parquet(store).select($"span_md5").as[String].collect()
    assert(compacted.sorted.toSeq == hashes.sorted.toSeq)
    val partIds = new java.io.File(store).listFiles
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(partIds == Seq("batch_id=-1", "batch_id=1"))
    // batch 2 scrubs correctly against the compacted store
    Seq((5L, "p q r a b c")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in.toString)
    graft.streaming.IncrementalSpanDedup.runOnce(spark, schema, in.toString,
      "doc_id", "text", store, out, ckpt, spanTokens = span)
    assert(clean()(5L) == ((2, 0, "")))
  }

  test("streaming substring scrub: batches clean against the accumulated gram store") {
    val root = Files.createTempDirectory("graft-substrscrub")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val out = root.resolve("clean").toString
    val ckpt = root.resolve("ckpt").toString
    val k = 2

    def ingest(rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
      graft.streaming.IncrementalSubstringScrub.runOnce(spark, schema,
        in.toString, "doc_id", "text", store, out, ckpt, k = k)
    }
    def clean(): Map[Long, (Int, Int, String)] =
      spark.read.parquet(out)
        .select($"doc_id", $"n_tokens", $"n_kept", $"cleaned")
        .as[(Long, Int, Int, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    // batch 0: doc 2 repeats doc 1's "c d" INTRA-batch at another offset
    ingest(1L -> "a b c d", 2L -> "c d e")
    assert(clean() == Map(
      1L -> ((4, 4, "a b c d")),
      2L -> ((3, 1, "e"))))

    // batch 1: doc 3 reuses batch-0 grams (cross-batch, arbitrary
    // offset); docs 4/5 duplicate each other inside the batch
    ingest(3L -> "d e f", 4L -> "x y", 5L -> "x y")
    assert(clean() == Map(
      1L -> ((4, 4, "a b c d")),
      2L -> ((3, 1, "e")),
      3L -> ((3, 1, "f")),
      4L -> ((2, 2, "x y")),
      5L -> ((2, 0, ""))))
    // store: one row per distinct gram ever seen, disjoint partitions
    val ghs = spark.read.parquet(store).select($"gh").as[Long].collect()
    assert(ghs.length == ghs.distinct.length)
    assert(ghs.length == 6) // ab bc cd de (b0) + ef xy (b1)

    // the NEWEST batch may still replay — folding it must refuse
    val e = intercept[IllegalArgumentException] {
      graft.streaming.IncrementalSubstringScrub.compactStore(spark, store,
        uptoBatch = 1)
    }
    assert(e.getMessage.contains("newest"))
    // folding batch 0 preserves the membership set
    graft.streaming.IncrementalSubstringScrub.compactStore(spark, store,
      uptoBatch = 0)
    val folded = spark.read.parquet(store).select($"gh").as[Long].collect()
    assert(folded.sorted.toSeq == ghs.sorted.toSeq)
    val partIds = new java.io.File(store).listFiles
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(partIds == Seq("batch_id=-1", "batch_id=1"))

    // batch 2 scrubs correctly against the compacted store
    ingest(6L -> "a b z")
    assert(clean()(6L) == ((3, 1, "z")))
  }

  test("streaming winnowing: batch pairs against the accumulated fingerprint store") {
    val root = Files.createTempDirectory("graft-winnowstream")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("fps").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString

    def ingest(rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
      graft.streaming.IncrementalWinnowing.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, pairs, ckpt, k = 2, w = 2, minShared = 1)
    }
    def pairsOf(batch: Long): Set[(Long, Long)] =
      spark.read.parquet(pairs).filter($"batch_id" === batch)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

    // batch 0: docs 1/2 share the >= w+k-1-token run "p q r s"
    ingest(1L -> "p q r s t", 2L -> "z p q r s w")
    assert(pairsOf(0L) == Set((1L, 2L)))

    // batch 1: doc 3 pastes the run at yet another offset (pairs with
    // BOTH stored docs, which are never re-winnowed); doc 4 is disjoint
    ingest(3L -> "m n p q r s", 4L -> "a b c d e")
    assert(pairsOf(1L) == Set((1L, 3L), (2L, 3L)))
    // old-old pair (1,2) does not re-emit; store holds per-batch rows
    val stored = spark.read.parquet(store)
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(stored == Set(1L, 2L, 3L, 4L))
  }

  test("streaming scrub replay: redelivered micro-batch is bit-identical, store not double-appended") {
    // the idempotence claims are design-by-construction everywhere —
    // this drives an ACTUAL at-least-once redelivery: deleting the
    // checkpoint's commit marker makes structured streaming re-run the
    // batch on the next start
    val root = Files.createTempDirectory("graft-replay")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val out = root.resolve("clean").toString
    val ckpt = root.resolve("ckpt")

    Seq((1L, "a b c d"), (2L, "c d e")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    def run(ck: java.nio.file.Path): Unit =
      graft.streaming.IncrementalSubstringScrub.runOnce(spark, schema,
        in.toString, "doc_id", "text", store, out, ck.toString, k = 2)
    run(ckpt)
    def snap(dir: String): Seq[String] =
      spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val clean1 = snap(out)
    val store1 = snap(store)
    assert(clean1.nonEmpty && store1.nonEmpty)

    // simulate a crash between the sink write and the commit: the
    // checkpoint as the dying driver left it (offsets written, commit
    // marker missing) makes the restarted query redeliver batch 0.
    // Cloned to a fresh path because Spark's same-path concurrent-
    // checkpoint guard keys on the literal directory within one JVM.
    val ckpt2 = root.resolve("ckpt-replay")
    Files.walk(ckpt).forEach { src =>
      val dst = ckpt2.resolve(ckpt.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      // skip Hadoop .crc sidecars and orphaned atomic-write temps: a
      // stale checksum under a re-written commit file surfaces as a
      // bogus concurrent-writer failure
      else if (!src.getFileName.toString.startsWith("."))
        Files.copy(src, dst)
    }
    assert(Files.deleteIfExists(ckpt2.resolve("commits/0")))
    run(ckpt2)
    assert(snap(out) == clean1, "replayed scrub output diverged")
    assert(snap(store) == store1, "replay double-appended the gram store")
  }

  test("streaming cluster maintenance: label deltas resolve to the full closure") {
    val root = Files.createTempDirectory("graft-clusters")
    val in = root.resolve("in"); Files.createDirectories(in)
    val sigs = root.resolve("sigs").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    val labels = root.resolve("labels").toString
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (1 to 20).map(i => s"x$i").mkString(" ")

    def ingest(rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
      IncrementalDedup.runOnce(spark, schema, in.toString, "doc_id", "text",
        sigs, pairs, ckpt, labelsStoreDir = Some(labels))
    }
    def resolved(lt: Long): Map[Long, Long] =
      IncrementalDedup.resolveLabels(spark, labels, lt,
          spark.read.parquet(pairs).select($"id_a"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    ingest(1L -> base, 2L -> (base + " tail"), 3L -> "unrelated words only here")
    assert(resolved(99) == Map(1L -> 1L, 2L -> 1L))

    // batch 1: 4 joins {1,2}; {6,7} forms a separate cluster
    ingest(4L -> (base + " coda"), 6L -> other, 7L -> (other + " tail"))
    assert(resolved(99) == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 6L -> 6L, 7L -> 6L))
    // the batch-1 DELTA carries only new nodes — unchanged 1/2 are not rewritten
    assert(spark.read.parquet(labels).filter($"batch_id" === 1)
      .select($"node").as[Long].collect().toSet == Set(4L, 6L, 7L))

    // batch 2: each cluster grows by one more near-dup
    ingest(8L -> (other + " coda"), 9L -> (base + " fin"))
    val got = resolved(99)
    // ground truth: full star CC over every pair emitted so far
    val want = graft.operators.Components.connectedComponentsStar(
        spark.read.parquet(pairs), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 9L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 6L))

    // the NEWEST delta may still replay — folding it must refuse (a
    // replay would resolve from partitions older than its own id, miss
    // the snapshot written at that id, and overwrite it with a delta
    // computed against an empty labeling)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.compactLabels(spark, labels, uptoBatch = 2)
    }
    assert(e.getMessage.contains("newest"))

    // compaction folds base+deltas through batch 1 into one fresh
    // negative-id snapshot (published by manifest swap) and leaves
    // resolution unchanged — the chore that keeps resolveLabels linear
    // over a long-running stream; the replayable batch-2 delta
    // survives untouched
    IncrementalDedup.compactLabels(spark, labels, uptoBatch = 1)
    val dirs = new java.io.File(labels).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(dirs == Set("batch_id=-2", "batch_id=2"),
      s"expected snapshot + newest delta, got $dirs")
    assert(resolved(99) == got)

    // a negative horizon is no batch id: the shared fold refuses it
    // instead of rewriting the existing snapshot under a new name
    val eNeg = intercept[IllegalArgumentException] {
      IncrementalDedup.compactLabels(spark, labels, uptoBatch = -1)
    }
    assert(eNeg.getMessage.contains("real batch id"))
    assert(graft.sources.StoreManifest.resolve(spark, labels).get.dirs.toSet ==
      Set("batch_id=-2", "batch_id=2"))
    assert(resolved(99) == got)
  }

  test("store protocol: every store commits through the manifest; unlisted batch dirs are invisible") {
    // Every store-backed operator writes its store through
    // StoreCompaction.commit and reads it through StoreCompaction.read,
    // so a batch directory the manifest does not list (a crashed
    // writer's leftover, a compactor's unpublished snapshot) never
    // reaches a micro-batch or a stats read. Pipeline A gets a planted,
    // unlisted batch_id=7 in every store, built to change the next
    // batch's output (or the resolved stats) if it were read; pipeline
    // B is the clean twin.
    import graft.streaming.{IncrementalSpanDedup, IncrementalSubstringScrub, IncrementalWinnowing}
    val root = Files.createTempDirectory("graft-protocol")
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs0 = Seq(1L -> base, 2L -> (base + " tail"),
      3L -> "unrelated words only here nothing shared")
    val docs1 = Seq(4L -> (base + " coda"),
      5L -> "unrelated words only here and something new")
    val v1 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v2 = Array(0.98f, 0.02f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v3 = Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)
    val v4 = Array(0.99f, 0.01f, 1f, 0f, 1f, 0f, 1f, 0f)
    val stores = Seq("sigs", "labels", "spans", "grams", "fps", "codes", "stats")
    val outs = Seq("pairs", "spans", "grams", "fps", "ann")
    def path(tag: String, name: String) = root.resolve(s"$tag/$name").toString
    def ingest(tag: String, docs: Seq[(Long, String)],
               vecs: Seq[(Long, Array[Float])]): Unit = {
      def p(name: String) = path(tag, name)
      docs.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(p("in"))
      vecs.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(p("vin"))
      val schema = spark.read.parquet(p("in")).schema
      IncrementalDedup.runOnce(spark, schema, p("in"), "doc_id", "text",
        p("sigs"), p("out-pairs"), p("ck-dedup"), labelsStoreDir = Some(p("labels")))
      IncrementalSpanDedup.runOnce(spark, schema, p("in"), "doc_id", "text",
        p("spans"), p("out-spans"), p("ck-spans"), spanTokens = 3)
      IncrementalSubstringScrub.runOnce(spark, schema, p("in"), "doc_id", "text",
        p("grams"), p("out-grams"), p("ck-grams"), k = 2)
      IncrementalWinnowing.runOnce(spark, schema, p("in"), "doc_id", "text",
        p("fps"), p("out-fps"), p("ck-fps"), k = 2, w = 2, minShared = 1)
      IncrementalAnn.runOnce(spark, spark.read.parquet(p("vin")).schema, p("vin"),
        "vec_id", "embedding", p("codes"), p("out-ann"), p("ck-ann"),
        dim = 8, m = 4, codewords = 16)
      IncrementalCorpusStats.runOnce(spark, schema, p("in"), "doc_id", "text",
        p("stats"), p("ck-stats"))
    }
    def listed(tag: String, store: String): Seq[String] =
      graft.sources.StoreManifest.resolve(spark, path(tag, store))
        .map(_.dirs).getOrElse(Nil)
    for (tag <- Seq("A", "B")) {
      ingest(tag, docs0, Seq(1L -> v1, 2L -> v2, 3L -> v3))
      for (store <- stores)
        assert(listed(tag, store) == Seq("batch_id=0"),
          s"$tag/$store must resolve to exactly its committed batch")
    }

    // the plants: id-keyed stores get batch 0's rows under new ids (a
    // read would pair the next batch with them), the label store
    // relabels batch 0's cluster, the membership stores hold the next
    // batch's own spans and grams (a read would scrub it bare), and the
    // stats store holds batch 0's partial again (a read would count it
    // twice)
    def plant(store: String, rows: org.apache.spark.sql.DataFrame): Unit =
      rows.coalesce(1).write.parquet(path("A", s"$store/batch_id=7"))
    def batch0(store: String) = spark.read.parquet(path("A", s"$store/batch_id=0"))
    plant("sigs", batch0("sigs").withColumn("doc_id", $"doc_id" + 100))
    plant("fps", batch0("fps").withColumn("doc_id", $"doc_id" + 100))
    plant("codes", batch0("codes").withColumn("id", $"id" + 100))
    plant("labels", batch0("labels").withColumn("cluster", lit(-5L)))
    plant("stats", batch0("stats"))
    val next = docs1.toDF("doc_id", "text")
    plant("spans", graft.operators.Dedup.spanStore(next, "doc_id", "text", 3))
    plant("grams", graft.operators.Dedup.substringGramStore(next, "text", 2))

    for (tag <- Seq("A", "B")) ingest(tag, docs1, Seq(4L -> v4))
    assert(snap(path("B", "out-pairs/batch_id=1")).nonEmpty &&
      snap(path("B", "out-ann/batch_id=1")).nonEmpty,
      "test precondition: batch 1 pairs against batch 0")
    for (out <- outs)
      assert(snap(path("A", s"out-$out/batch_id=1")) ==
        snap(path("B", s"out-$out/batch_id=1")),
        s"an unlisted store directory changed the $out output")
    for (store <- stores) {
      assert(snap(path("A", s"$store/batch_id=1")) ==
        snap(path("B", s"$store/batch_id=1")),
        s"an unlisted store directory changed the $store delta")
      assert(listed("A", store) == Seq("batch_id=0", "batch_id=1"))
    }
    def stats(tag: String) = (
      IncrementalCorpusStats.resolveStats(spark, path(tag, "stats"))
        .collect().map(_.toString).toSet,
      IncrementalCorpusStats.heavyHittersFromStore(spark, path(tag, "stats"), 30)
        .collect().map(_.toString).toSet)
    assert(stats("B")._2.nonEmpty, "test precondition: the w-tokens are heavy")
    assert(stats("A") == stats("B"), "an unlisted store directory changed the stats")
  }

  test("streaming ANN: PQ code store accumulates, near-dups found across batches") {
    val root = Files.createTempDirectory("graft-incann")
    val in = root.resolve("in"); Files.createDirectories(in)
    val codes = root.resolve("codes").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    val v1 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v2 = Array(0.98f, 0.02f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v3 = Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)      // orthogonal to v1
    val v4 = Array(0.99f, 0.01f, 1f, 0f, 1f, 0f, 1f, 0f)

    def ingest(rows: (Long, Array[Float])*): Unit = {
      rows.toSeq.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).schema
      IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
        codes, pairs, ckpt, dim = 8, m = 4, codewords = 16)
    }
    ingest(1L -> v1, 2L -> v2, 3L -> v3)
    assert(spark.read.parquet(pairs).select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    // the codebook trained once, stored beside the codes
    assert(Files.exists(root.resolve("codes/_codebook")))

    // batch 1: v4 pairs against the STORE (1,2) but not 3; (1,2) never re-emits
    ingest(4L -> v4)
    assert(spark.read.parquet(pairs).filter($"batch_id" === 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet ==
      Set((1L, 4L), (2L, 4L)))
    // store holds one compressed row per vector; codes are m ints
    val store = spark.read.parquet(codes + "/batch_id=*")
    assert(store.select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(store.select(size($"code")).as[Int].collect().forall(_ == 4))
  }

  test("pre-dnorm ANN store rows null-fill on read and pair identically") {
    // Round 12 added the persisted decoded norm (dnorm) to the code
    // store so the in-join screen never re-decodes the store side for
    // norms. Stores written BEFORE that column existed must keep
    // working: readStore null-fills the missing column and
    // pairsFromCodes recomputes dnorm from (gen, code) — a pure
    // function, so the pairs must be BIT-IDENTICAL to an untampered
    // store's. A silently-null dnorm would instead null every cosine
    // involving a store row and drop all cross-batch pairs.
    val root = Files.createTempDirectory("graft-prednorm")
    val v1 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v2 = Array(0.98f, 0.02f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v3 = Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)
    val v4 = Array(0.99f, 0.01f, 1f, 0f, 1f, 0f, 1f, 0f)
    def mkRun(tag: String): (String, String, (Int, Seq[(Long, Array[Float])]) => Unit) = {
      val in = root.resolve(s"in-$tag"); Files.createDirectories(in)
      val codes = root.resolve(s"codes-$tag").toString
      val pairs = root.resolve(s"pairs-$tag").toString
      val ingest = (i: Int, rows: Seq[(Long, Array[Float])]) => {
        rows.toDF("vec_id", "embedding")
          .coalesce(1).write.mode("append").parquet(in.toString)
        val schema = spark.read.parquet(in.toString).schema
        // ONE checkpoint per run: AvailableNow must see only the new
        // files each ingest, so batch ids advance (the sibling tests'
        // scaffolding)
        IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
          codes, pairs, root.resolve(s"ckpt-$tag").toString,
          dim = 8, m = 4, codewords = 16)
      }
      (codes, pairs, ingest)
    }
    val (codesA, pairsA, ingestA) = mkRun("legacy")
    val (_, pairsB, ingestB) = mkRun("fresh")
    ingestA(0, Seq(1L -> v1, 2L -> v2, 3L -> v3))
    ingestB(0, Seq(1L -> v1, 2L -> v2, 3L -> v3))
    // strip dnorm from the legacy store's batch files (simulating a
    // store written before the column existed); keep _layout/_codebook
    val batchDir = s"$codesA/batch_id=0"
    val legacy = spark.read.parquet(batchDir).drop("dnorm").collect()
    val legacySchema = spark.read.parquet(batchDir).drop("dnorm").schema
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(batchDir))
    spark.createDataFrame(
        spark.sparkContext.parallelize(legacy.toIndexedSeq), legacySchema)
      .coalesce(1).write.parquet(batchDir)
    assert(!spark.read.parquet(batchDir).columns.contains("dnorm"))
    // next batch pairs against the stripped store
    ingestA(1, Seq(4L -> v4))
    ingestB(1, Seq(4L -> v4))
    val a = spark.read.parquet(pairsA).filter($"batch_id" === 1)
      .select($"id_a", $"id_b", $"approx_cos")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val b = spark.read.parquet(pairsB).filter($"batch_id" === 1)
      .select($"id_a", $"id_b", $"approx_cos")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(a.nonEmpty, "cross-batch pairs vanished against the pre-dnorm store")
    assert(a == b,
      "pre-dnorm store rows must pair bit-identically to a fresh store's")
  }

  test("incremental ANN hot-bucket refinement recovers pairs a flat cap drops") {
    // The n8_scaled tail treatment (the d10_scaled cure on the
    // incremental path): a hot bucket of DISTINCT near-dup pairs is
    // where a flat candidate cap loses evidence. One-hot store vectors
    // on dims whose plane-0 component is positive all share base
    // bucket 1 at bits=1; the batch is a +0.05-mutated twin of each.
    // With cap=2 the flat config keeps 2 members of the shared bucket,
    // so at most 2 true (base, twin) pairs can survive; refinement
    // re-keys the over-cap bucket by extension signs, which DIFFER
    // across unrelated one-hot vectors but mostly agree within a
    // mutated pair. PQ verification is lossless here (store smaller
    // than the codeword budget), so every surviving candidate pair
    // scores approx_cos 1.0 on the shared base codeword.
    //
    // Unlike d10's symmetric self-join (where EITHER endpoint
    // surviving the cap keeps the pair), the incremental probe is
    // one-sided — the batch twin must find its STORE base in the
    // capped sub-bucket — so the test additionally requires the chosen
    // dims' extension patterns to be pairwise distinct: the linear
    // hyperplane family gives dims i and i+10 near-identical
    // components mod 1997, and two colliding one-hot pairs in one
    // sub-bucket exceed cap=2 on the candidate side with no second
    // probe direction to recover. Both sign tests below use the same
    // integer arithmetic as Vectors.hyperplaneComponent.
    def comp(p: Long, i: Int): Long = (i * 2654435761L + p * 40503L) % 1997L - 998L
    def xbPattern(dim: Int): Seq[Boolean] =
      (0 until 8).map(j => comp((graft.operators.BucketCap.RefineFamilyOffset
        .toLong * 8 + j), dim) > 0)
    val posDims = (1 to 16).filter(i => comp(0, i) > 0)
      .foldLeft(Vector.empty[Int]) { (acc, d) =>
        if (acc.exists(a => xbPattern(a) == xbPattern(d))) acc else acc :+ d
      }
    assert(posDims.size >= 4, "test precondition: enough distinct-pattern dims")
    val rows = posDims.zipWithIndex.map { case (dim, k) =>
      val base = Array.tabulate(16)(i => if (i + 1 == dim) 1.0f else 0.0f)
      val mut = base.clone(); mut(dim % 16) += 0.05f
      (k.toLong * 2, base, k.toLong * 2 + 1, mut)
    }
    val store = rows.map(r => (r._1, r._2.toSeq)).toDF("vec_id", "embedding")
    val batch = rows.map(r => (r._3, r._4.toSeq)).toDF("vec_id", "embedding")
    val truth = posDims.indices.map(k => (k.toLong * 2, k.toLong * 2 + 1)).toSet
    def run(refine: Int) = IncrementalAnn.incrementalPairs(store, batch,
        "vec_id", "embedding", dim = 16, m = 4, codewords = 16,
        lshBits = 1, lshTables = 1, minCosine = 0.9,
        maxBucket = 2, refineBits = refine)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val flat = run(0); val refined = run(8)
    assert(refined.subsetOf(truth) && flat.subsetOf(truth),
      "capped outputs must stay subsets of the true pair set")
    assert(flat.size <= 2, s"flat cap=2 cannot keep >2 pairs, got ${flat.size}")
    assert(refined.size > flat.size,
      s"refinement must recover pairs the flat cap drops: ${refined.size} vs ${flat.size}")
    assert(refined.size >= truth.size - 1,
      s"refinement recall too low: ${refined.size}/${truth.size}")
  }

  test("ANN code store enforces its refineBits layout contract") {
    // extension signs are PERSISTED (the store never re-reads raw
    // vectors), so refineBits is part of the store's layout and must
    // stay constant for its lifetime. Arming refinement against a
    // store written without xbuckets must fail loudly — silently
    // schema-filling null xbuckets would make the (tbl,bucket,__sub)
    // join drop every store-side member of a hot bucket, exactly the
    // dense region refinement exists to keep.
    val root = Files.createTempDirectory("graft-annlayout")
    val in = root.resolve("in"); Files.createDirectories(in)
    val codes = root.resolve("codes").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    Seq((1L, Seq(1f, 0f, 1f, 0f)), (2L, Seq(0f, 1f, 0f, 1f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).schema
    def run(refine: Int, ck: String): Unit =
      IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
        codes, pairs, ck, dim = 4, m = 2, codewords = 4,
        maxBucket = if (refine > 0) 2 else Int.MaxValue, refineBits = refine)
    run(0, ckpt) // store now carries the refineBits=0 layout
    val e = intercept[IllegalArgumentException] {
      run(8, root.resolve("ckpt2").toString)
    }
    assert(e.getMessage.contains("layout contract"))
    // the recorded contract pins VALUES, not just presence: a store
    // armed with refineBits=2 rejects refineBits=4 (different
    // hyperplane family — sub-keys would mismatch with no schema
    // signal), and rejects a changed base-LSH geometry the same way
    val codes2 = root.resolve("codes2").toString
    IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
      codes2, root.resolve("pairs2").toString, root.resolve("ckpt3").toString,
      dim = 4, m = 2, codewords = 4, maxBucket = 2, refineBits = 2)
    val eBits = intercept[IllegalArgumentException] {
      IncrementalAnn.requireStoreLayout(spark, codes2, refineBits = 4)
    }
    assert(eBits.getMessage.contains("layout contract"))
    val eLsh = intercept[IllegalArgumentException] {
      IncrementalAnn.requireStoreLayout(spark, codes2,
        lshBits = 4, refineBits = 2)
    }
    assert(eLsh.getMessage.contains("layout contract"))
    // the recorded tuple itself keeps passing
    IncrementalAnn.requireStoreLayout(spark, codes2, refineBits = 2)
    // before any store exists, either layout is acceptable
    IncrementalAnn.requireStoreLayout(spark,
      root.resolve("fresh").toString, refineBits = 8)
  }

  test("a non-empty ANN store without _layout is refused and nothing is written") {
    // A store that lists batches but lost its _layout sidecar (or was
    // published by hand) carries nothing that pins the geometry it was
    // built with: adopting this run's declared tuple would be the
    // silent recall collapse the sidecar exists to prevent. The run
    // must refuse before it touches the store, the outputs or the
    // checkpoint.
    val root = Files.createTempDirectory("graft-nolayout")
    val in = root.resolve("in"); Files.createDirectories(in)
    val codes = root.resolve("codes"); val codesS = codes.toString
    Seq((1L, Seq(1f, 0f, 1f, 0f)), (2L, Seq(0f, 1f, 0f, 1f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).schema
    def run(ck: String): Unit =
      IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
        codesS, root.resolve(s"pairs-$ck").toString, root.resolve(ck).toString,
        dim = 4, m = 2, codewords = 4, maxBucket = 2, refineBits = 2)
    run("ck1")
    val layout = codes.resolve("_layout")
    assert(Files.exists(layout), "first arm must record the contract")
    val listed = graft.sources.StoreManifest.resolve(spark, codesS)
    assert(listed.map(_.dirs) == Some(Seq("batch_id=0")))

    Files.delete(layout)
    val e = intercept[IllegalStateException](run("ck2"))
    assert(e.getMessage.contains(codesS) && e.getMessage.contains("_layout"),
      e.getMessage)
    assert(!Files.exists(layout), "a refused store must not get a contract")
    assert(new java.io.File(codesS).list().filterNot(_.startsWith(".")).toSet ==
      Set("_codebook", "_manifest", "batch_id=0"))
    assert(graft.sources.StoreManifest.resolve(spark, codesS) == listed,
      "nothing was committed")
    assert(!Files.exists(root.resolve("ck2")) &&
      !Files.exists(root.resolve("pairs-ck2")), "no stream was started")
  }

  test("streaming ANN drift policy: stable ingest keeps one codebook, drifted batch retrains; cross-generation pairs verify") {
    val root = Files.createTempDirectory("graft-anndrift")
    val in = root.resolve("in"); Files.createDirectories(in)
    val codes = root.resolve("codes").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    // every batch has <= codewords rows, so each generation's anchors
    // cover ALL its training vectors — PQ is lossless, reconstruction
    // error is exactly 0, and every assertion below is deterministic
    val v1 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v2 = Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)
    val v3 = Array(1f, 1f, 0f, 0f, 1f, 1f, 0f, 0f)
    val w1 = Array(10f, -7f, 10f, -7f, 10f, -7f, 10f, -7f) // far from gen-0 mass

    def ingest(rows: (Long, Array[Float])*): Unit = {
      rows.toSeq.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).schema
      IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
        codes, pairs, ckpt, dim = 8, m = 4, codewords = 16,
        maxDriftRatio = 4.0)
    }
    def gens: Set[String] = new java.io.File(codes, "_codebook").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    // read the store base dir (partition discovery skips the
    // underscore-prefixed _codebook dir) so batch_id is a column
    def storeGens(batch: Long): Set[Int] =
      spark.read.parquet(codes)
        .filter($"batch_id" === batch).select($"gen").as[Int].collect().toSet

    ingest(1L -> v1, 2L -> v2, 3L -> v3)
    assert(gens == Set("gen=0"))

    // batch 1: same distribution (a v1 clone) — zero drift, NO retrain,
    // encoded under the existing generation
    ingest(4L -> v1)
    assert(gens == Set("gen=0"))
    assert(storeGens(1L) == Set(0))
    assert(spark.read.parquet(pairs).filter($"batch_id" === 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet == Set((1L, 4L)))

    // batch 2: mass far outside gen-0's codebook (reconstruction error
    // > 4× the zero baseline) plus a v2 clone → retrains generation 1,
    // encodes the WHOLE batch under it; the clone still pairs with its
    // gen-0 original because verification decodes each side under its
    // own generation
    ingest(5L -> w1, 6L -> w1, 7L -> v2)
    assert(gens == Set("gen=0", "gen=1"))
    assert(storeGens(2L) == Set(1))
    val b2 = spark.read.parquet(pairs).filter($"batch_id" === 2)
      .select($"id_a", $"id_b", $"approx_cos")
      .as[(Long, Long, Double)].collect()
    assert(b2.map(r => (r._1, r._2)).toSet == Set((5L, 6L), (2L, 7L)),
      s"unexpected batch-2 pairs: ${b2.toSeq}")
    // lossless reconstruction both sides → the cross-gen cosine is the
    // true cosine of identical vectors
    assert(b2.forall(_._3 > 0.999), s"cross-gen cosine off: ${b2.toSeq}")
  }

  test("streaming ANN codebook replay guard: a generation without _SUCCESS is ignored, not loaded") {
    val root = Files.createTempDirectory("graft-anncrash")
    val in = root.resolve("in"); Files.createDirectories(in)
    val codes = root.resolve("codes").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    val v1 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v2 = Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)

    def ingest(rows: (Long, Array[Float])*): Unit = {
      rows.toSeq.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).schema
      IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
        codes, pairs, ckpt, dim = 8, m = 4, codewords = 16,
        maxDriftRatio = 4.0)
    }
    ingest(1L -> v1, 2L -> v2)
    val gen0 = new java.io.File(codes, "_codebook/gen=0")
    val gen0Files = gen0.listFiles().map(f => f.getName -> f.length()).toMap

    // simulate a retrain that crashed mid-write: a gen=9 dir holding a
    // parquet part file but NO _SUCCESS commit marker
    val crashed = new java.io.File(codes, "_codebook/gen=9")
    crashed.mkdirs()
    val part = gen0.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      crashed.toPath.resolve(part.getName))

    // next batch must ignore the uncommitted generation: encoded under
    // gen 0, pairs still found, and gen=0's files untouched
    ingest(3L -> v1)
    val store = spark.read.parquet(codes + "/batch_id=*")
    assert(store.select($"gen").as[Int].collect().toSet == Set(0),
      "an uncommitted codebook generation leaked into encoding")
    assert(spark.read.parquet(pairs).filter($"batch_id" === 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet == Set((1L, 3L)))
    assert(gen0.listFiles().map(f => f.getName -> f.length()).toMap == gen0Files,
      "the committed generation was rewritten")
  }

  test("streaming ANN: a stored code whose generation lost its codebook fails the batch loudly") {
    val root = Files.createTempDirectory("graft-anngenloss")
    val in = root.resolve("in"); Files.createDirectories(in)
    val codes = root.resolve("codes").toString
    val pairs = root.resolve("pairs").toString
    val v1 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v2 = Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)
    val w1 = Array(10f, -7f, 10f, -7f, 10f, -7f, 10f, -7f)

    def ingest(ckpt: String, rows: (Long, Array[Float])*): Unit = {
      rows.toSeq.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(in.toString)
      val schema = spark.read.parquet(in.toString).schema
      IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
        codes, pairs, root.resolve(ckpt).toString, dim = 8, m = 4,
        codewords = 16, maxDriftRatio = 4.0)
    }
    ingest("ckpt", 1L -> v1, 2L -> v2)          // gen 0
    ingest("ckpt", 5L -> w1, 6L -> w1)          // drifted: trains gen 1
    // lose generation 0's commit marker: its stored codes (ids 1, 2)
    // can no longer be decoded
    assert(Files.deleteIfExists(root.resolve("codes/_codebook/gen=0/_SUCCESS")))
    // a batch that collides with a gen-0 stored code must FAIL the
    // micro-batch, not silently drop the pair (unbounded recall loss)
    val e = intercept[Throwable] { ingest("ckpt", 3L -> v1) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("no codebook loaded")),
      s"expected loud missing-generation failure, got: ${messages(e)}")
  }

  test("streaming model scoring: per-batch scores equal the batch operator") {
    // classifier scoring is per-doc stateless, so scoring each ingest
    // batch against the static model table must equal one batch pass
    // over the accumulated corpus — the streaming twin of t13
    val root = Files.createTempDirectory("graft-modelscore")
    val in = root.resolve("in"); Files.createDirectories(in)
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    val model = Seq(("good", 3L), ("bad", -5L)).toDF("tok", "w")
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.operators.CorpusStats.linearModelScore(
        df, "doc_id", "text", model, "tok", "w", bias = 0L)
    Seq((1L, "good bad good"), (2L, "nothing matches"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    // the scorer aggregates per doc, which streaming append mode
    // rejects in-plan — the twin is foreachBatch (score each ingest
    // batch as a batch), with batch_id= overwrite for replay idempotence
    def scoreOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          score(batch).write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
          ()
        }
        .start()
      q.awaitTermination()
    }
    scoreOnce()
    Seq((3L, "bad bad")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in.toString)
    scoreOnce()
    val cols = Seq("doc_id", "n_tokens", "n_hits", "score", "label")
    val streamed = spark.read.parquet(out).orderBy($"doc_id")
      .select(cols.map(col): _*)
      .as[(Long, Int, Int, Long, String)].collect().toSeq
    val batch = score(spark.read.parquet(in.toString)).orderBy($"doc_id")
      .select(cols.map(col): _*)
      .as[(Long, Int, Int, Long, String)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(r => (r._1, r._4, r._5)) ==
      Seq((1L, 1L, "keep"), (2L, 0L, "keep"), (3L, -10L, "drop")))
  }

  test("AvailableNow passes ingest each file exactly once across runs") {
    val root = Files.createTempDirectory("graft-stream")
    val in = root.resolve("in"); Files.createDirectories(in)
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString

    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).schema

    IncrementalLedger.runOnce(spark, schema, in.toString, ckpt, out,
      df => df.withColumn("v", upper(col("v"))))
    assert(spark.read.parquet(out).count() == 2)

    // second pass with no new files: nothing re-processed
    IncrementalLedger.runOnce(spark, schema, in.toString, ckpt, out,
      df => df.withColumn("v", upper(col("v"))))
    assert(spark.read.parquet(out).count() == 2)

    // new file arrives: only it is processed
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.mode("append").parquet(in.toString)
    IncrementalLedger.runOnce(spark, schema, in.toString, ckpt, out,
      df => df.withColumn("v", upper(col("v"))))
    val rows = spark.read.parquet(out).orderBy($"id").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "A"), (2L, "B"), (3L, "C")))
  }

  test("streaming corpus stats: partials resolve to the batch recompute; compaction preserves") {
    val root = Files.createTempDirectory("graft-incstats")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt")
    val b0 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
    val b1 = Seq((3L, "alpha delta"), (4L, "beta beta alpha"))
    val b2 = Seq((5L, "gamma gamma epsilon"))
    def schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    def run(ck: java.nio.file.Path): Unit =
      IncrementalCorpusStats.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, ck.toString)
    def ingest(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
      run(ckpt)
    }
    def resolved(uptoBatch: Option[Long] = None): Set[(String, Long, Long)] =
      IncrementalCorpusStats.resolveStats(spark, store, uptoBatch)
        .as[(String, Long, Long)].collect().toSet
    def listed: Set[String] =
      graft.sources.StoreManifest.resolve(spark, store).get.dirs.toSet
    def recompute(rows: Seq[(Long, String)]): Set[(String, Long, Long)] = {
      val toks = rows.toDF("doc_id", "text")
        .select($"doc_id", explode(split($"text", " ")).as("token"))
      toks.groupBy($"token")
        .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
        .as[(String, Long, Long)].collect().toSet
    }
    ingest(b0)
    assert(resolved() == recompute(b0))
    ingest(b1)
    assert(resolved() == recompute(b0 ++ b1))
    // snapshot read: the as-of-batch-0 statistics stay reproducible
    // after later ingests (append-only immutable partials)
    assert(resolved(Some(0L)) == recompute(b0))
    // the store is append-only partials: batch 0's directory unchanged
    assert(spark.read.parquet(s"$store/batch_id=0")
      .as[(String, Long, Long)].collect().toSet == recompute(b0))
    // continuous heavy hitters agree with the batch operator's cutoff
    val hh = IncrementalCorpusStats.heavyHittersFromStore(spark, store, 4)
      .as[(String, Long)].collect().toSet
    val want = graft.operators.CorpusStats.heavyHitters(
        (b0 ++ b1).toDF("doc_id", "text"), "text", 4)
      .as[(String, Long)].collect().toSet
    assert(hh == want)
    // folding through the NEWEST batch is refused: foreachBatch is
    // at-least-once, so an uncommitted newest batch could replay on
    // top of a snapshot that already folded it and double-count
    val eNew = intercept[IllegalArgumentException] {
      IncrementalCorpusStats.compactStore(spark, store, uptoBatch = 1L)
    }
    assert(eNew.getMessage.contains("newest"))
    assert(listed == Set("batch_id=0", "batch_id=1"))
    ingest(b2)
    val all = recompute(b0 ++ b1 ++ b2)
    // the fold replaces batches <= 1 in place by one snapshot under a
    // negative id (no stream batch can replay onto it); batch 2
    // survives as its own replay-overwritable directory
    IncrementalCorpusStats.compactStore(spark, store, uptoBatch = 1L)
    assert(resolved() == all)
    assert(listed == Set("batch_id=-2", "batch_id=2"))
    assert(!Files.exists(root.resolve("store/batch_id=0")) &&
      !Files.exists(root.resolve("store/batch_id=1")), "folded batches are deleted")
    // a replay of the surviving batch overwrites its own directory
    // without double-counting
    run(cloneCkptWithoutCommit(ckpt, batch = 2))
    assert(resolved() == all)
    assert(listed == Set("batch_id=-2", "batch_id=2"))
    // snapshots BELOW the folded horizon are unanswerable and must fail
    // loudly (the snapshot would otherwise satisfy batch_id <= 0 and
    // silently return the folded totals as "batch 0")
    def refusedBelowHorizon(): Unit = {
      val e = intercept[IllegalArgumentException](resolved(Some(0L)))
      assert(e.getMessage.contains("compaction horizon"))
    }
    refusedBelowHorizon()
    // at the horizon the store still answers, and the as-of read
    // excludes the unfolded newer batch
    assert(resolved(Some(1L)) == recompute(b0 ++ b1))
    // a second fold at the same horizon folds the snapshot into a
    // fresh one: stats and horizon unchanged
    IncrementalCorpusStats.compactStore(spark, store, uptoBatch = 1L)
    assert(listed == Set("batch_id=-3", "batch_id=2"))
    assert(resolved() == all)
    assert(resolved(Some(1L)) == recompute(b0 ++ b1))
    refusedBelowHorizon()
  }

  /** Clone `ckpt` to a sibling dir with `batch`'s commit marker (and
    * the Hadoop `.crc` sidecars / atomic-write temps) dropped — the
    * checkpoint exactly as a driver that crashed between the sink
    * write and the commit leaves it, at a fresh path because Spark's
    * same-path concurrent-checkpoint guard keys on the literal
    * directory within one JVM. */
  private def cloneCkptWithoutCommit(ckpt: java.nio.file.Path,
                                     batch: Long = 0): java.nio.file.Path = {
    val ckpt2 = ckpt.resolveSibling(ckpt.getFileName.toString + "-replay")
    Files.walk(ckpt).forEach { src =>
      val dst = ckpt2.resolve(ckpt.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else if (!src.getFileName.toString.startsWith("."))
        Files.copy(src, dst)
    }
    assert(Files.deleteIfExists(ckpt2.resolve(s"commits/$batch")))
    ckpt2
  }

  private def snap(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq

  test("streaming winnowing replay: redelivered micro-batch is bit-identical, store not double-appended") {
    // at-least-once redelivery through the REAL checkpoint machinery
    // (the substring-scrub replay pattern): the store read excludes the
    // batch's own prior attempt (batch_id < batchId), so the replay
    // must reproduce pairs and fingerprints exactly
    val root = Files.createTempDirectory("graft-winnowreplay")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("fps").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt")

    Seq((1L, "p q r s t"), (2L, "z p q r s w"), (3L, "a b c d e"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    def run(ck: java.nio.file.Path): Unit =
      graft.streaming.IncrementalWinnowing.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, pairs, ck.toString, k = 2, w = 2, minShared = 1)
    run(ckpt)
    val pairs1 = snap(pairs)
    val store1 = snap(store)
    assert(pairs1.nonEmpty && store1.nonEmpty)

    run(cloneCkptWithoutCommit(ckpt))
    assert(snap(pairs) == pairs1, "replayed winnowing pairs diverged")
    assert(snap(store) == store1, "replay double-appended the fingerprint store")
  }

  test("streaming ANN replay: redelivered micro-batch is bit-identical, no spurious retrain or self-pairs") {
    // the replayed batch finds its own codes already in the store
    // (same ids) and its own trained generation already committed:
    // pair normalization + id-dedup must make both invisible, and the
    // zero drift against the generation it itself trained must not
    // spawn generation 1
    val root = Files.createTempDirectory("graft-annreplay")
    val in = root.resolve("in"); Files.createDirectories(in)
    val codes = root.resolve("codes").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt")
    val v1 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
    val v2 = Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)

    Seq((1L, v1), (2L, v2), (3L, v1)).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).schema
    def run(ck: java.nio.file.Path): Unit =
      IncrementalAnn.runOnce(spark, schema, in.toString, "vec_id", "embedding",
        codes, pairs, ck.toString, dim = 8, m = 4, codewords = 16,
        maxDriftRatio = 4.0)
    run(ckpt)
    val pairs1 = snap(pairs)
    val store1 = snap(codes + "/batch_id=*")
    assert(pairs1.nonEmpty && store1.nonEmpty)

    run(cloneCkptWithoutCommit(ckpt))
    assert(snap(pairs) == pairs1, "replayed ANN pairs diverged")
    assert(snap(codes + "/batch_id=*") == store1, "replay double-appended the code store")
    // the replay re-used generation 0, not trained a fresh one
    assert(new java.io.File(codes, "_codebook").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet == Set("gen=0"))
  }

  test("streaming dedup replay: redelivered batch re-pairs identically, labels and sigs intact") {
    // the sig store read excludes the batch's own prior attempt
    // (StoreCompaction.read's ltBatch filter) — without
    // it the replay would verify every doc against its own
    // first-attempt copy and double each pair row
    val root = Files.createTempDirectory("graft-dedupreplay")
    val in = root.resolve("in"); Files.createDirectories(in)
    val sigs = root.resolve("sigs").toString
    val pairs = root.resolve("pairs").toString
    val labels = root.resolve("labels").toString
    val ckpt = root.resolve("ckpt")
    val base = (1 to 20).map(i => s"w$i").mkString(" ")

    Seq((1L, base), (2L, base + " tail"), (3L, "unrelated words only here"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    def run(ck: java.nio.file.Path): Unit =
      IncrementalDedup.runOnce(spark, schema, in.toString, "doc_id", "text",
        sigs, pairs, ck.toString, labelsStoreDir = Some(labels))
    run(ckpt)
    val pairs1 = snap(pairs)
    val sigs1 = snap(sigs)
    val labels1 = snap(labels)
    assert(pairs1.nonEmpty && sigs1.nonEmpty && labels1.nonEmpty)

    run(cloneCkptWithoutCommit(ckpt))
    assert(snap(pairs) == pairs1, "replayed dedup pairs diverged")
    assert(snap(sigs) == sigs1, "replay double-appended the signature store")
    assert(snap(labels) == labels1, "replayed label delta diverged")
  }

  test("first-batch crash before the first manifest commit: the replay overwrites the leftover and commits it") {
    // a driver that dies after writing batch_id=0 but before its
    // commitBatch leaves each store an unlisted batch_id=0 and no
    // _manifest; the restarted query replays batch 0, which must read
    // the stores as empty, overwrite the leftovers and publish them
    val root = Files.createTempDirectory("graft-firstcrash")
    val in = root.resolve("in"); Files.createDirectories(in)
    val sigs = root.resolve("sigs").toString
    val pairs = root.resolve("pairs").toString
    val labels = root.resolve("labels").toString
    val ckpt = root.resolve("ckpt")
    val base = (1 to 20).map(i => s"w$i").mkString(" ")

    Seq((1L, base), (2L, base + " tail"), (3L, "unrelated words only here"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    def run(ck: java.nio.file.Path): Unit =
      IncrementalDedup.runOnce(spark, schema, in.toString, "doc_id", "text",
        sigs, pairs, ck.toString, labelsStoreDir = Some(labels))
    run(ckpt)
    val pairs1 = snap(pairs)
    val sigs1 = snap(sigs)
    val labels1 = snap(labels)
    assert(pairs1.nonEmpty && sigs1.nonEmpty && labels1.nonEmpty)

    Seq(sigs, labels).foreach { d =>
      val m = java.nio.file.Paths.get(d, "_manifest")
      Files.walk(m).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
    run(cloneCkptWithoutCommit(ckpt))
    assert(snap(pairs) == pairs1, "replayed dedup pairs diverged")
    assert(snap(sigs) == sigs1, "replay double-appended the signature store")
    assert(snap(labels) == labels1, "replayed label delta diverged")
    Seq(sigs, labels).foreach { d =>
      assert(graft.sources.StoreManifest.resolve(spark, d).map(_.dirs) ==
        Some(Seq("batch_id=0")), s"$d must list its replayed batch")
    }
  }

  test("streaming span dedup replay: redelivered batch scrubs identically, store intact") {
    val root = Files.createTempDirectory("graft-spanreplay")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val out = root.resolve("clean").toString
    val ckpt = root.resolve("ckpt")

    Seq((1L, "a b c d e f"), (2L, "d e f x y z")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    def run(ck: java.nio.file.Path): Unit =
      graft.streaming.IncrementalSpanDedup.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, out, ck.toString, spanTokens = 3)
    run(ckpt)
    val clean1 = snap(out)
    val store1 = snap(store)
    assert(clean1.nonEmpty && store1.nonEmpty)

    run(cloneCkptWithoutCommit(ckpt))
    assert(snap(out) == clean1, "replayed span scrub diverged")
    assert(snap(store) == store1, "replay double-appended the span store")
  }

  test("streaming corpus stats replay: redelivered partial overwrites its own partition bit-identically") {
    val root = Files.createTempDirectory("graft-statsreplay")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt")

    Seq((1L, "a b b c"), (2L, "b c d")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).select("doc_id", "text").schema
    def run(ck: java.nio.file.Path): Unit =
      IncrementalCorpusStats.runOnce(spark, schema, in.toString,
        "doc_id", "text", store, ck.toString)
    run(ckpt)
    val store1 = snap(store)
    val resolved1 = IncrementalCorpusStats.resolveStats(spark, store)
      .as[(String, Long, Long)].collect().toSet
    assert(store1.nonEmpty)

    run(cloneCkptWithoutCommit(ckpt))
    assert(snap(store) == store1, "replayed partial diverged or duplicated")
    assert(IncrementalCorpusStats.resolveStats(spark, store)
      .as[(String, Long, Long)].collect().toSet == resolved1)
  }
}
