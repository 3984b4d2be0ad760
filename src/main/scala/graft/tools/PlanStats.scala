package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.graft.MetricsBridge.drain
import scala.jdk.CollectionConverters._

/** One-line plan-shape census per declared query: Exchange count, join
  * strategies, window count — the audit table an optimization round
  * diffs before/after (guide §2.4/§3.1). Optionally restrict with
  * SPARK_GRAFT_ONLY.
  *   scripts/run_tool.sh graft.tools.PlanStats /root/testdata/sf0.01
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case r: ReusedExchangeExec => Seq(r) // do not double-count the reused subtree
      case other => other +: other.children.flatMap(walk)
    }
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // side executions (Materialize.once and shared-stage builds) carry
    // real plan shapes too — count their interpreted lambdas alongside
    // the main plan's (the same reasoning as PlanFormat's side capture).
    // Listener delivery is async, so the bus is drained before the
    // buffer is read or cleared.
    val sides = new java.util.concurrent.CopyOnWriteArrayList[String]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = { sides.add(qe.executedPlan.toString); () }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    def lambdas(s: String): Int = {
      var n = 0; var i = s.indexOf("lambdafunction")
      while (i >= 0) { n += 1; i = s.indexOf("lambdafunction", i + 1) }
      n
    }
    println(f"${"query"}%-34s exch reuse smj shj bhj bnlj win sortN hof")
    for (name <- names) {
      try {
        drain(spark.sparkContext) // the previous query's count() lands first
        sides.clear()
        val df = graft.SparkEntry.queries(name)(spark, d)
        drain(spark.sparkContext)
        // summed before count(): that execution's plan is the main plan again
        val sideHof = sides.asScala.map(lambdas).sum
        df.count()
        val nodes = walk(df.queryExecution.executedPlan).map(_.nodeName)
        def c(sub: String) = nodes.count(_.contains(sub))
        val exch = walk(df.queryExecution.executedPlan)
          .count { case _: ShuffleExchangeLike => true; case _ => false }
        val hof = lambdas(df.queryExecution.executedPlan.toString) + sideHof
        println(f"$name%-34s $exch%4d ${c("ReusedExchange")}%5d ${c("SortMergeJoin")}%3d " +
          f"${c("ShuffledHashJoin")}%3d ${c("BroadcastHashJoin")}%3d ${c("BroadcastNestedLoopJoin")}%4d " +
          f"${c("Window")}%3d ${c("Sort")}%5d $hof%3d")
      } catch { case e: Throwable =>
        println(f"$name%-34s ERR ${e.toString.take(80)}")
      }
    }
    spark.stop()
  }
}
