package graft

import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** The cluster branch of [[graft.operators.Materialize]] — tests run
  * on a local master where every entry point takes the localCheckpoint
  * fast path, so the spec drives [[Materialize.cluster]] directly. The property under test is the review finding it fixed:
  * materialization must NOT register the plan in the SQL CacheManager
  * (whose strong reference outlives any lazy-consumer call site — a
  * perpetual-ingest driver would pin one cached frame per micro-batch,
  * forever); RDD-level persistence is ContextCleaner-released when the
  * plan becomes unreachable. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("eager cluster branch preserves rows/schema and registers no SQL cache entry") {
    val df = spark.range(100)
      .select($"id", (col("id") % 7).as("k"), concat(lit("v"), $"id").as("s"))
    val before = spark.sharedState.cacheManager.isEmpty
    val out = Materialize.cluster(df, eager = true).df
    assert(out.schema == df.schema)
    assert(out.collect().sortBy(_.getLong(0)).toSeq ==
      df.collect().sortBy(_.getLong(0)).toSeq)
    assert(spark.sharedState.cacheManager.isEmpty == before,
      "the cluster branch must not create a CacheManager entry — that " +
        "reference can only be dropped by an explicit unpersist() no " +
        "lazy-consumer call site can issue")
    // the backing RDD IS persisted (that is the materialization), and
    // it is tracked by the context, i.e. cleaner-collectable
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
  }

  test("lazy cluster branch defers the job and populates once: probe fires at first action only") {
    // an accumulator-probed row stream proves all three contract
    // points: (a) NO job runs at call time (the lazy form exists so
    // loop bodies whose next step is an action don't pay one extra job
    // per round); (b) the first action populates through the probe;
    // (c) the second action reads persisted blocks, not the lineage
    val acc = spark.sparkContext.longAccumulator("lazy-probe")
    val base = spark.range(50).select($"id", (col("id") * 2).as("v"))
    val probed = spark.createDataFrame(
      base.rdd.map { r => acc.add(1); r }, base.schema)
    val out = Materialize.cluster(probed, eager = false).df
    assert(acc.value == 0, "the lazy cluster branch ran a job at call time")
    assert(out.schema == base.schema)
    assert(out.count() == 50)
    assert(acc.value >= 50, "first action did not populate through the probe")
    val afterFirst = acc.value
    assert(out.collect().map(_.getLong(1)).sorted.toSeq ==
      base.collect().map(_.getLong(1)).sorted.toSeq)
    assert(acc.value == afterFirst,
      "second action recomputed the lineage instead of reading persisted blocks")
  }

  test("releasable handle frees the round's blocks and stays recomputable; truncateLineage checkpoints when a dir is armed") {
    // the iterative-loop contract: round N's persisted RDD is held
    // live by round N+1's lineage, so an explicit release is the only
    // thing standing between a deep contraction and O(rounds) pinned
    // storage. release() must (a) drop the entry from the context's
    // persistent-RDD registry and (b) NOT invalidate the frame — the
    // data stays recomputable through lineage.
    val df = spark.range(80).select($"id", (col("id") % 3).as("g"))
    val h = Materialize.cluster(df, eager = false, truncateLineage = false)
    assert(h.df.count() == 80)
    val persistedId = h.backing.get.id
    assert(spark.sparkContext.getPersistentRDDs.contains(persistedId),
      "populated handle must be tracked as persisted")
    h.release()
    assert(!spark.sparkContext.getPersistentRDDs.contains(persistedId),
      "release() must drop the round's entry from the persistence registry")
    assert(h.df.count() == 80,
      "a released frame must stay recomputable — unpersist drops blocks, not lineage")

    // truncateLineage: with a checkpoint dir armed, the round's RDD is
    // reliably checkpointed by its materializing action — lineage (and
    // executor-loss replay) resets to the checkpoint files. The dir is
    // armed on the SHARED session, so restore the prior value (and
    // delete the temp dir) in a finally — otherwise every later test
    // in this JVM silently runs with truncateLineage paths active and
    // behavior becomes test-order dependent.
    val prevCkpt = spark.sparkContext.getCheckpointDir
    val ckpt = java.nio.file.Files.createTempDirectory("graft-matckpt")
    try {
      spark.sparkContext.setCheckpointDir(ckpt.toString)
      val h2 = Materialize.cluster(
        spark.range(40).toDF("id"), eager = false, truncateLineage = true)
      assert(h2.df.count() == 40)
      assert(h2.backing.get.isCheckpointed,
        "truncateLineage with an armed checkpoint dir must reliably checkpoint")
      assert(h2.df.count() == 40)
      h2.release()
      assert(h2.df.count() == 40, "checkpointed frame survives release")
    } finally {
      spark.sparkContext.setCheckpointDir(prevCkpt.orNull)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt.toString), true)
      ()
    }
  }
}
