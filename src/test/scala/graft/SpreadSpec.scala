package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_NONE, ShuffleExchangeExec}

import graft.model.Tables
import graft.tools.Inspect

/** `Tables.spread` is a size-aware fan-out: one round-robin rebalance
  * whose read side AQE sizes — one task for a tiny scan, the session's
  * parallelism once partitions may be small, a plain round-robin
  * repartition with AQE off. Read from the plan that ran. */
class SpreadSpec extends SparkSpec {

  /** Runs `spread(load(documents))` on `s` and returns its one exchange
    * and the partition count of the exchange's read side. */
  private def spreadRun(s: SparkSession): (ShuffleExchangeExec, Int) = {
    val df = Tables.spread(Tables.load(s, sf, "documents"))
    assert(df.collect().length == 500)
    val nodes = Inspect.walk(df.queryExecution.executedPlan).map(_._1)
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected one exchange in:\n${nodes.head}")
    val read = nodes.collectFirst { case r: AQEShuffleReadExec => r.partitionSpecs.size }
      .orElse(nodes.collectFirst { case q: ShuffleQueryStageExec => q.outputPartitioning.numPartitions })
      .getOrElse(exchanges.head.outputPartitioning.numPartitions)
    (exchanges.head, read)
  }

  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def partitions(s: SparkSession): Int = s.conf.get("spark.sql.shuffle.partitions").toInt

  test("spread plans one rebalance exchange") {
    val (ex, _) = spreadRun(spark)
    assert(ex.shuffleOrigin == REBALANCE_PARTITIONS_BY_NONE, ex.toString)
  }

  test("spread of the fixture's tiny documents scan reads as one partition") {
    assert(partitions(spark) > 1)
    assert(spreadRun(spark)._2 == 1)
  }

  test("spread keeps the session's parallelism when partitions may be small") {
    val s = session("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
    assert(partitions(s) > 1)
    assert(spreadRun(s)._2 == partitions(s))
  }

  test("spread with AQE off is a round-robin repartition to shuffle.partitions") {
    val s = session("spark.sql.adaptive.enabled" -> "false")
    val (ex, read) = spreadRun(s)
    assert(ex.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning], ex.toString)
    assert(read == partitions(s))
  }
}
