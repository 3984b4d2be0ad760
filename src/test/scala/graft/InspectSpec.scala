package graft

import org.scalatest.BeforeAndAfterAll

import graft.tools.Inspect

/** The plan inspector reads the plan Spark actually ran, and counts a
  * query's construction-time executions — never its driving action — as
  * side executions. */
class InspectSpec extends SparkSpec with BeforeAndAfterAll {
  private lazy val runner = new Inspect.Runner(spark, sf)
  override def afterAll(): Unit = { runner.close(); super.afterAll() }

  private val Plain = "a2_pricing_summary"

  test("every Inspect mode reports the final adaptive plan (isFinalPlan=true)") {
    def isFinal(text: String, mode: String): Unit = {
      assert(text.contains("AdaptiveSparkPlan isFinalPlan=true"), s"$mode:\n$text")
      assert(!text.contains("isFinalPlan=false"), s"$mode:\n$text")
    }
    val run = runner.run(Plain)
    isFinal(run.plan.toString, "census")
    assert(Inspect.census(runner, Seq(Plain)) ==
      Seq(Inspect.CensusHeader, Inspect.censusLine(Plain, run)))

    val dir = java.nio.file.Files.createTempDirectory("inspect")
    Inspect.formatted(runner, dir, "t", Seq(Plain))
    val text = java.nio.file.Files.readString(dir.resolve(s"${Plain}_t.txt"))
    assert(text.startsWith("== explain(formatted), pre-execution =="))
    isFinal(text.substring(text.indexOf("== executedPlan after AQE")), "formatted")

    val nodes = Inspect.nodes(runner, Plain)
    assert(nodes.head.startsWith(s"QUERY $Plain rows="), nodes.head)
    isFinal(nodes.mkString("\n"), "nodes")

    val md = Inspect.plansMd(runner, Seq(Plain))
    assert(md.contains(s"## $Plain"))
    isFinal(md, "plans-md")
  }

  test("side executions: none for a plain query, the construction-time " +
    "materializations for one that materializes, never the driving action") {
    val plain = runner.run(Plain)
    assert(plain.sides.isEmpty, plain.sides.map(_._1.executedPlan).mkString("\n"))
    // lshTopK materializes its prepared corpus with Materialize.once
    val lsh = runner.run("n2_ann_lsh")
    assert(lsh.sides.nonEmpty)
    assert(!lsh.sides.exists(_._1 eq lsh.df.queryExecution))
    assert(lsh.sides.forall(_._1.executedPlan.toString.contains("isFinalPlan=true")))
  }

  test("nodes shows a persisted stage's build plan under its in-memory scan") {
    val q = "d2_minhash_signature" // reads the persisted doc_sigs stage
    val lines = Inspect.nodes(runner, q)
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val scan = lines.indexWhere(_.trim.startsWith("InMemoryTableScan"))
    assert(scan >= 0, lines.mkString("\n"))
    assert(lines(scan + 1).trim == "(cached stage)" &&
      indent(lines(scan + 1)) == indent(lines(scan)) + 2, lines.mkString("\n"))
    val built = lines.drop(scan + 2).takeWhile(indent(_) >= indent(lines(scan)) + 4)
    assert(built.exists(_.contains("numOutputRows=")), lines.mkString("\n"))
    // walk (census, shuffle totals, PLANS.md) keeps the scan as a leaf
    val walked = Inspect.walk(runner.run(q).plan).map(_._1)
    val scans = walked.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }
    assert(scans.nonEmpty)
    assert(scans.forall(m => !walked.exists(_ eq m.relation.cachedPlan)))
  }

  test("query selection: a typo in the only-list fails loudly") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some(s"$Plain, a2_pricing_sumary")))
    assert(e.getMessage.contains("a2_pricing_sumary"))
    assert(SparkEntry.selected(Some(s" s8_scan_project,$Plain ,")) ==
      Seq(Plain, "s8_scan_project"))
    assert(SparkEntry.selected(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("the shared test session comes from the factory at 4 cores") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
