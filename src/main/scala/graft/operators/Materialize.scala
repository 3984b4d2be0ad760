package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialize a small intermediate ONCE for multiple lazy consumers
  * (the pair-list pattern: a candidate join feeding both a semi-join
  * and a verify join — without materialization Catalyst recomputes the
  * join per consumer, measured 3× on every incremental dedup query).
  *
  * Master-aware because the fastest local mechanism is the wrong
  * cluster mechanism:
  *  - local master: eager `localCheckpoint` — blocks live in the one
  *    JVM that is also the driver, so "executor loss without driver
  *    loss" cannot happen and non-recomputability costs nothing;
  *    blocks release when the plan's RDD is GC'd.
  *  - cluster master: RDD-level `persist(MEMORY_AND_DISK)` + a
  *    `count()` to force population — blocks are RECOMPUTABLE on
  *    executor loss (dynamic allocation, preemption), evictable under
  *    memory pressure, and RELEASED by the ContextCleaner when the
  *    plan becomes unreachable on the driver. `DataFrame.persist`
  *    would be wrong here: it registers the plan in the SQL
  *    CacheManager, which holds a strong reference until an explicit
  *    `unpersist()` that no lazy-consumer call site can issue — a
  *    perpetual-ingest driver would pin one cached pair list per
  *    micro-batch, forever. The RDD round-trip costs a row
  *    encode/decode, fine for the narrow pair lists this serves.
  */
object Materialize {
  /** Eager materialization of a call-local frame (no release handle). */
  def once(df: DataFrame): DataFrame = onceReleasable(df).df

  /** A materialized frame plus an explicit storage release — the
    * iterative-loop contract. `release()` drops the round's cached
    * blocks (no-op on the local fast path, whose `localCheckpoint`
    * truncates lineage so prior rounds free themselves on GC); the
    * released frame stays RECOMPUTABLE — unpersist removes blocks, not
    * lineage — so executor-loss recovery replays the chain back to the
    * last truncation point. Call it only once every consumer of this
    * round's frame has run. */
  final class Handle private[Materialize] (
      val df: DataFrame,
      private[graft] val backing: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]) {
    def release(): Unit = backing.foreach(_.unpersist(blocking = false))
  }

  /** Lazy materialization with a [[Handle]] for iterative loops: marks
    * the frame for one-shot materialization at its FIRST action instead
    * of running a job now — for loop bodies whose very next step is
    * itself an action (the star-contraction round counts the frame
    * immediately), where an eager call would pay one extra job per
    * iteration. Release round N's storage once round N+1 is populated
    * and compared: on a cluster each round's persisted RDD is held live
    * by the next round's lineage, so a deep contraction keeps O(1)
    * rounds cached instead of O(rounds).
    *
    * `truncateLineage`: on a cluster whose deployment armed
    * `sparkContext.setCheckpointDir`, ALSO reliable-checkpoint this
    * round's RDD (lazy — rides the materializing action, then one copy
    * job from the cached blocks), resetting both lineage depth and the
    * recovery-replay chain. Ask for it every N rounds from deep loops,
    * not every round — it writes the full frame to the checkpoint dir.
    * Silently a plain persist when no checkpoint dir is set: release()
    * already bounds storage, and demanding a dir would break every
    * deployment without one; only the replay chain stays O(rounds since
    * last truncation). */
  def lazilyReleasable(df: DataFrame, truncateLineage: Boolean = false): Handle =
    materialize(df, eager = false, truncateLineage)

  /** Eager twin of [[lazilyReleasable]] — for loop bodies whose next
    * step is NOT a full action over the frame (an `isEmpty` probe can
    * stop at the first non-empty partition, which must not be what
    * populates the round). */
  def onceReleasable(df: DataFrame, truncateLineage: Boolean = false): Handle =
    materialize(df, eager = true, truncateLineage)

  private def materialize(df: DataFrame, eager: Boolean, truncateLineage: Boolean): Handle =
    if (df.sparkSession.sparkContext.isLocal) new Handle(df.localCheckpoint(eager), None)
    else cluster(df, eager, truncateLineage)

  /** The cluster branch of every entry point, callable directly by its
    * spec (tests run on a local master, where the entry points take the
    * localCheckpoint fast path). `eager` populates the blocks now;
    * otherwise the frame's first action does. */
  private[graft] def cluster(df: DataFrame, eager: Boolean,
                             truncateLineage: Boolean = false): Handle = {
    val rows = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // checkpoint() must be called before any job touches the RDD; the
    // write itself happens after the first action, served from the
    // blocks that action just populated
    if (truncateLineage && df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      rows.checkpoint()
    if (eager) rows.count()
    new Handle(df.sparkSession.createDataFrame(rows, df.schema), Some(rows))
  }
}
