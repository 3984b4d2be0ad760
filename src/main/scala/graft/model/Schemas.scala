package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Session-keyed stage registry: the one owner of every intermediate
  * several queries of a session share — loaded relations, the minhash
  * signature/pair/label frames, the bucketed stores, the match and
  * unified tables, the corpus-sized LSH geometries. A stage builds once
  * per (session, stage name, sf dir); the data under a dir is taken to
  * be static for the life of a session.
  *
  * Keyed on the SESSION OBJECT (identity), never its hashCode: an
  * identity hash can recur on a new session after the old one is
  * collected, which would hand back a plan bound to a STOPPED session.
  * Entries for stopped sessions are evicted opportunistically (the
  * registry is sessions × stages small, so the sweep is trivial).
  *
  * Not keyed on the logical plan: building a stage's plan already runs
  * the eager materializations inside it (star contraction's edge
  * checkpoints, the minhash pair build), so a plan key would re-run the
  * very work it exists to share.
  */
object Stages {
  private final case class Key(session: SparkSession, name: String, dir: String)
  /** `persisted` is set only for frames this registry persisted —
    * the ones [[release]] unpersists. */
  private final case class Entry(value: Any, persisted: Option[DataFrame])

  private val entries = scala.collection.concurrent.TrieMap[Key, Entry]()

  private def lookup(k: Key)(build: => Entry): Any = {
    entries.keysIterator.foreach { old =>
      if (old.session.sparkContext.isStopped) entries.remove(old)
    }
    entries.getOrElseUpdate(k, build).value
  }

  /** The stage as built, never persisted by the registry: loaded
    * relations (immutable plans), disk-bucketed store tables (their
    * bytes live in the warehouse dir, not executor memory) and scalar
    * geometries. */
  def shared[T](s: SparkSession, name: String, dir: String)(build: => T): T =
    lookup(Key(s, name, dir))(Entry(build, None)).asInstanceOf[T]

  /** The stage persisted `MEMORY_AND_DISK` — for frames several queries
    * (or several subtrees of one query) read, which would otherwise
    * re-run their whole lineage per reader. */
  def persisted(s: SparkSession, name: String, dir: String)(build: => DataFrame): DataFrame =
    lookup(Key(s, name, dir)) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      Entry(df, Some(df))
    }.asInstanceOf[DataFrame]

  /** Unpersist every frame the registry persisted and forget every
    * entry, so the blocks (and, after a GC, their localCheckpoint
    * ancestors) leave executor storage. A session that measures SEVERAL
    * corpora back-to-back must call this between corpora: entries are
    * keyed per (session, dir), so the previous corpus's stages otherwise
    * stay resident and the new corpus's jobs pay their eviction + GC
    * churn (measured: d11 at x10 reads 141 s in a polluted JVM vs 8–14 s
    * in a clean one — SCALE.md round-9 notes). */
  def release(): Unit = entries.keysIterator.foreach { k =>
    entries.remove(k).flatMap(_.persisted).foreach(_.unpersist(false))
  }
}

/** Loaders for the driver-generated testdata (TESTDATA.md). One parquet
  * file per table; reads are partition-parallel and columnar, with
  * Catalyst handling projection/predicate pushdown into the scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One `spark.read.parquet` per (session, path) instead of per query
    * — repeated loads would re-list files and re-read parquet footers on
    * every one of the 58 census queries (pure driver fixed cost). The
    * returned DataFrame is an immutable logical plan, safe to share
    * across queries. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Stages.shared(spark, s"$name.parquet", dir)(spark.read.parquet(s"$dir/$name.parquet"))

  /** Epoch-MICROS (bigint) view of an event-time column, adaptive to the
    * physical type the source shipped. Real feeds deliver all three:
    * parquet TIMESTAMP(MICROS) arrives as TIMESTAMP or TIMESTAMP_NTZ
    * (depending on isAdjustedToUTC), and parquet TIMESTAMP(NANOS) —
    * which the vectorized reader can't widen — arrives as bigint nanos
    * under `spark.sql.legacy.parquet.nanosAsLong`. Downstream operators
    * (as-of/band joins, sessionization, range frames) all do integer
    * time arithmetic, so they get one canonical unit regardless of
    * source. NTZ goes through a cast to TIMESTAMP, which is value-
    * preserving because every entry point pins
    * `spark.sql.session.timeZone=UTC`.
    */
  def epochMicros(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    // FLOOR division, not DIV's truncation-toward-zero: a pre-1970
    // nano timestamp must land on the micro BELOW it, matching both
    // the timestamp paths and DuckDB's `epoch_ns(ts) // 1000`
    case LongType         => expr(s"(`$c` - pmod(`$c`, 1000L)) DIV 1000")
    case TimestampType    => unix_micros(col(c))
    case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"unsupported event-time type for `$c`: $other (expected TIMESTAMP, TIMESTAMP_NTZ, or bigint nanos)")
  }

  /** The events table with `ts` normalized to epoch-micros bigint —
    * the single ingestion point for every event-time query. */
  def loadEventsUs(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.withColumn("ts", epochMicros(df, "ts"))
  }

  /** Fan a scan out by size, for per-row operators (minhash, simhash,
    * vector math) over the testdata's single-row-group tables, whose
    * scan is one task at any size: a round-robin rebalance whose read
    * side AQE coalesces to partitions of at least
    * `coalescePartitions.minPartitionSize` (1 MB) — one task under that
    * size, every shuffle partition above it × `shuffle.partitions`. With
    * AQE off (where Spark drops the hint) it is [[fanOut]]. */
  def spread(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.sql.adaptive.enabled").toBoolean) df.hint("rebalance")
    else fanOut(df)

  /** A round-robin to every shuffle partition at any input size, for
    * the inputs of the match scorers (j1, u1): their work is left rows ×
    * candidate rows, which [[spread]]'s byte sizing does not see (u1 at
    * sf0.1 ran 2.5× slower with its left side as one task). */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
}
