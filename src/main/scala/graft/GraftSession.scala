package graft

import org.apache.spark.sql.SparkSession

/** The one way this repo builds a local SparkSession. `Verify`, `Bench`,
  * every `graft.tools` main and the test tree's shared session start
  * from [[builder]]; a caller adds only deployment paths (a warehouse
  * dir, an app name).
  *
  * Adaptive query execution is not set: it is Spark 4's default.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every
    * available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[n]` with `n` shuffle partitions, UTC session time,
    * TIMESTAMP(NANOS) parquet columns read as bigint nanos (the
    * testdata's `events.parquet:ts`; the vectorized reader rejects them
    * otherwise), no UI, WARN logging. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")

  /** A session at [[cpus]] cores. */
  def local(): SparkSession = builder(cpus).getOrCreate()
}
