package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session) at a
  * fixed 4 cores, so plan-shape assertions do not move with the host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}

/** Seeded fuzz-corpus drawing: a red fuzz run must be replayable.
  * Every draw in a JVM uses ONE seed — random per run (fresh coverage
  * each CI pass) unless pinned with `-Dgraft.fuzz.seed=N` to replay a
  * failure. The seed only reaches the JUnit XML through failure
  * messages, so every fuzz assert must interpolate [[Fuzz.seed]]; for
  * corpus-shaped inputs [[Fuzz.persist]] additionally snapshots the
  * exact data on divergence.
  */
object Fuzz {
  val seed: Long = sys.props.get("graft.fuzz.seed").map(_.toLong)
    .getOrElse(new scala.util.Random().nextLong())

  def draw[T](g: org.scalacheck.Gen[T]): T =
    g.pureApply(org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(seed))

  /** Persist one string per line to `target/<name>.tsv` (nulls as \N,
    * escaping backslash/tab/newline); returns the path for inclusion in
    * the failure message. */
  def persist(name: String, lines: Seq[String]): String = {
    val enc = lines.map {
      case null => "\\N"
      case s => s.replace("\\", "\\\\").replace("\t", "\\t")
        .replace("\r", "\\r").replace("\n", "\\n")
    }
    val p = java.nio.file.Paths.get("target", s"$name.tsv")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      String.join("\n", enc: _*).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    p.toAbsolutePath.toString
  }
}
