package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs (and dumps
    // oracles for) just those queries. Unset for the driver's full run.
    val names = SparkEntry.selected()
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    def keep(name: String) = names.contains(name)
    val failures = names.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.toString.take(300))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // A filtered run must not strand prior full-run results: emit the
    // oracle for every query that either ran now OR already has a result
    // directory in outDir, so a later comparator pass over the directory
    // always finds a matching oracle entry (SQL comes from the
    // authoritative SparkEntry map, not from re-parsing the old file).
    val json = SparkEntry.oracleSql
      .filter(p => keep(p._1) || Files.exists(Paths.get(s"$outDir/${p._1}")))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failures must be loud AND machine-readable: errors.json per query,
    // non-zero exit so a broken query can't ride through a round silently.
    // (oracle_sql.json is written first so partial results stay usable;
    // a clean run removes any stale errors.json from a prior failed one.)
    Files.deleteIfExists(Paths.get(s"$outDir/errors.json"))
    if (failures.nonEmpty) {
      val errJson = failures
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.map(_._1).mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
