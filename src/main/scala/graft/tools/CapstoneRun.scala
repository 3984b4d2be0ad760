package graft.tools

import org.apache.spark.graft.TaskMetricsTap.cellJson

/** One incremental-capstone scale cell, measured with first-touch and
  * steady state SEPARATED (SURVEY §13.6's two-column rule, made
  * mechanical after round 12's c6 mishap: a cold rep taken in a JVM
  * that had already hosted another capstone's build carried 5,900 s of
  * task GC — harness artifact, not deployment cost). One query per
  * invocation, and the harness runs one JVM per invocation, so every
  * column below is measured in a JVM whose ONLY prior work is the
  * column above it:
  *
  *   build  — `DedupQueries.prebuildStores` alone (the one-time store
  *            bootstrap a deployment pays once; requested explicitly
  *            because only the span/signature/label-store probes u5/c3/
  *            c6 need it — d16/d17/n8 build their stores inside the
  *            query, so a prebuild would time stores they never read)
  *   first  — rep 1 of the query: the first batch (pays query-internal
  *            store builds and in-JVM warming — codegen, parquet
  *            footers, memo population)
  *   steady — the LAST rep: the continuously-running per-batch cost,
  *            the cell scale-linearity claims are made on. Default 2
  *            reps total; pass reps=3 when a read path amortizes its
  *            in-JVM cache population over two reps (measured: c6 at
  *            x1000 ran 86.7 s cpu 1645 at rep 2 but 43.0 s cpu 1005
  *            at rep 3 on identical shuffle — rep 2 was still paying
  *            population, not the plan). All intermediate reps are
  *            recorded under "reps" so the amortization curve is
  *            auditable.
  *
  * Usage: CapstoneRun <query> <label> <dir> <outJson> [prebuild] [reps=N]
  */
object CapstoneRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: CapstoneRun <query> <label> <dir> <outJson> [prebuild] [reps=N]")
    val Array(name, label, dir, outPath) = args.take(4)
    val doPrebuild = args.contains("prebuild")
    val reps = args.collectFirst { case a if a.startsWith("reps=") =>
      a.stripPrefix("reps=").toInt }.getOrElse(2)
    require(reps >= 2, s"need at least first+steady reps, got $reps")
    val spark = graft.GraftSession.local()

    val tap = org.apache.spark.graft.MetricsBridge.install(spark.sparkContext)

    val fn = graft.SparkEntry.queries(name)
    val build =
      if (doPrebuild) {
        val (_, s, m) = tap.measure(spark.sparkContext)(
          graft.queries.DedupQueries.prebuildStores(spark, dir))
        System.err.println(f"[capstone] $label $name build  ${s}%8.2f s")
        cellJson(s, m)
      } else "null"
    val runs = (1 to reps).map { i =>
      val (_, sec, m) = tap.measure(spark.sparkContext)(fn(spark, dir).count())
      val stage = if (i == 1) "first" else if (i == reps) "steady" else s"rep$i"
      System.err.println(f"[capstone] $label $name $stage%-6s ${sec}%8.2f s  " +
        f"shuffle ${(m(0) + m(1)) / 1e6}%.0f MB  spill ${(m(2) + m(3)) / 1e6}%.0f MB")
      (sec, m)
    }
    val (fSec, fM) = runs.head
    val (sSec, sM) = runs.last
    val mid = runs.drop(1).dropRight(1)
    val midJson = if (mid.isEmpty) ""
      else s""","reps":[${mid.map { case (s, m) => cellJson(s, m) }.mkString(",")}]"""

    // escape interpolated strings (a dir path with a quote/backslash
    // would otherwise emit invalid JSON and break capstone_table.py)
    def js(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val out = s"""{"metric":"capstone","query":${js(name)},"label":${js(label)},""" +
      s""""dir":${js(dir)},"build":$build,"first":${cellJson(fSec, fM)},""" +
      s""""steady":${cellJson(sSec, sM)}$midJson}"""
    println(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
