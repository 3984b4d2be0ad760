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

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  /** `body` throws (directly, or as the cause of a streaming query's
    * failure) an IllegalStateException that names the store, its two
    * unlisted dirs and the deliberate-adoption route. */
  private def refusesPile(dir: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val ise = causes(e).collectFirst { case i: IllegalStateException => i }
    assert(ise.isDefined, s"expected an IllegalStateException, got $e")
    val msg = ise.get.getMessage
    assert(msg.contains(dir) && msg.contains("batch_id=0") &&
      msg.contains("batch_id=1") && msg.contains("StoreManifest.publish"), msg)
  }

  test("an unmanaged pile fails loud on commit, read, fold, run") {
    // older batch dirs with no manifest: no engine writer leaves this
    // shape, so nothing says which dirs are complete or disjoint
    def pile(): String = {
      val dir = tmp()
      writeBatch(dir, 0, Seq(1L))
      writeBatch(dir, 1, Seq(2L))
      dir
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("v", org.apache.spark.sql.types.LongType)
    val committed = pile()
    writeBatch(committed, 2, Seq(3L))
    refusesPile(committed)(StoreManifest.commitBatch(spark, committed, "batch_id=2"))
    assert(StoreManifest.resolve(spark, committed).isEmpty, "nothing was published")
    val read = pile()
    refusesPile(read)(graft.streaming.StoreCompaction.read(spark, read, schema, ltBatch = 5))
    val folded = pile()
    refusesPile(folded)(
      graft.streaming.StoreCompaction.fold(spark, folded, uptoBatch = 0)(_.drop("batch_id")))
    assert(!Files.exists(java.nio.file.Paths.get(folded, "batch_id=-1")),
      "no snapshot was written")
    val stats = pile()
    refusesPile(stats)(graft.streaming.IncrementalCorpusStats.resolveStats(spark, stats))

    // an unlisted dir at or above the reading batch is that batch's own
    // failed first attempt (see StreamingSpec's first-batch crash test):
    // only the older one is refused
    val partial = intercept[IllegalStateException](
      graft.streaming.StoreCompaction.read(spark, pile(), schema, ltBatch = 1))
    assert(partial.getMessage.contains("batch_id=0") &&
      !partial.getMessage.contains("batch_id=1"), partial.getMessage)

    // the streaming operator, whose signature store lost its manifest
    // after two committed batches: the third batch refuses the pile
    val root = Files.createTempDirectory("graft-manifest-run")
    val in = root.resolve("in").toString
    val sigs = root.resolve("sigs").toString
    val pairs = root.resolve("pairs")
    def runBatch(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
      graft.streaming.IncrementalDedup.runOnce(spark,
        spark.read.parquet(in).schema, in, "doc_id", "text", sigs,
        pairs.toString, root.resolve("ckpt").toString)
    }
    runBatch(Seq(1L -> "alpha beta gamma delta"))
    runBatch(Seq(2L -> "one two three four"))
    deleteRecursively(java.nio.file.Paths.get(sigs, "_manifest"))
    refusesPile(sigs)(runBatch(Seq(3L -> "alpha beta gamma delta epsilon")))
    assert(!Files.exists(pairs.resolve("batch_id=2")),
      "the batch emitted no pairs against the refused store")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  test("a root whose only batch dir is the one being committed commits it") {
    // the bootstrap shape: a corpus snapshot written as batch_id=-1
    // into an empty root, then committed
    val dir = tmp()
    writeBatch(dir, -1, Seq(1L, 2L))
    StoreManifest.commitBatch(spark, dir, "batch_id=-1")
    assert(StoreManifest.resolve(spark, dir).get.dirs == Seq("batch_id=-1"))
    assert(readLive(dir).select($"v").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("a version carrying a flag line fails resolve loudly") {
    // `!dupes-upto=` was the retired migration's duplicate-possible
    // horizon: a listing that carries it cannot be read as duplicate-free
    val dir = tmp()
    writeBatch(dir, 0, Seq(1L)); StoreManifest.commitBatch(spark, dir, "batch_id=0")
    Files.write(java.nio.file.Paths.get(dir, "_manifest", f"v${1L}%020d"),
      "!dupes-upto=2\nbatch_id=0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException](StoreManifest.resolve(spark, dir))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("!dupes-upto=2"),
      e.getMessage)
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
