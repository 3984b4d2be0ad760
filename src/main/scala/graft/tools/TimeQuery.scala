package graft.tools

/** Time one named query N times in isolation (profiling aid — the
  * cross-query Bench attributes shared memoized tables to whichever
  * query runs first, and ambient machine load swamps run-to-run
  * totals; this isolates a single operator's warm cost).
  *   sbt "runMain graft.tools.TimeQuery c2_dup_clusters 3 /root/testdata/sf0.1"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val n = if (args.length > 1) args(1).toInt else 3
    val d = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    // Same session geometry as Bench so solo cells compare across core counts.
    val spark = graft.GraftSession.local()
    val fn = graft.SparkEntry.queries(name)
    // Same task-metrics tap as Bench: per-run shuffle/spill/GC/CPU
    // deltas make a wall-clock difference adjudicable (flat metrics +
    // moved wall = contention; moved cpu/shuffle = real change).
    val tap = org.apache.spark.graft.MetricsBridge.install(spark.sparkContext)
    val times = (1 to n).map { _ =>
      val (_, sec, m) = tap.measure(spark.sparkContext)(fn(spark, d).count())
      println(f"RUN $name wall=$sec%.2f shuffle_r=${m(0)} shuffle_w=${m(1)} " +
        f"spill_mem=${m(2)} spill_disk=${m(3)} gc_ms=${m(4)} cpu_sec=${m(5) / 1e9}%.1f")
      sec
    }
    println(f"TIMES $name ${times.map(t => f"$t%.2f").mkString(" ")} min=${times.min}%.2f")
    spark.stop()
  }
}
