package graft

import org.apache.spark.storage.StorageLevel

import graft.model.{Stages, Tables}

/** The session-keyed stage registry every query family shares its
  * intermediates through: one build per (session, stage, dir), one
  * entry per session object, and one release that unpersists what the
  * registry persisted. */
class StagesSpec extends SparkSpec {

  test("a stage builds once per key: the thunk runs once across two lookups") {
    val dir = "stages-spec/once"
    var frameBuilds = 0
    def frame() = Stages.persisted(spark, "spec_frame", dir) {
      frameBuilds += 1; spark.range(10).toDF("id")
    }
    val a = frame()
    val b = frame()
    assert(frameBuilds == 1)
    assert(a eq b)
    var scalarBuilds = 0
    def scalar() = Stages.shared(spark, "spec_scalar", dir) { scalarBuilds += 1; 7 }
    assert(scalar() == 7 && scalar() == 7)
    assert(scalarBuilds == 1)
    // a different dir is a different key
    Stages.persisted(spark, "spec_frame", dir + "/other") {
      frameBuilds += 1; spark.range(10).toDF("id")
    }
    assert(frameBuilds == 2)
  }

  test("each session object gets its own entry, bound to its own session") {
    // keyed on the session itself, not its identity hash: a hash can
    // recur on a new session once the old one is collected, and would
    // hand back a plan bound to the wrong (possibly stopped) session
    val other = spark.newSession()
    val a = Tables.load(spark, sf, "documents")
    val b = Tables.load(other, sf, "documents")
    assert(!(a eq b))
    assert(a.sparkSession eq spark)
    assert(b.sparkSession eq other)
    assert(Tables.load(spark, sf, "documents") eq a)
    assert(Tables.load(other, sf, "documents") eq b)

    val dir = "stages-spec/sessions"
    val x = Stages.persisted(spark, "spec_frame", dir)(spark.range(5).toDF("id"))
    val y = Stages.persisted(other, "spec_frame", dir)(other.range(5).toDF("id"))
    assert(!(x eq y))
    assert(x.sparkSession eq spark)
    assert(y.sparkSession eq other)
  }

  test("release unpersists the registry's frames and the next lookup rebuilds") {
    val dir = "stages-spec/release"
    var builds = 0
    def frame() = Stages.persisted(spark, "spec_frame", dir) {
      builds += 1; spark.range(20).selectExpr("id", "id * 3 AS v")
    }
    val first = frame()
    val second = Stages.persisted(spark, "spec_frame2", dir)(
      spark.range(30).selectExpr("id", "id % 4 AS g"))
    val loaded = Tables.load(spark, sf, "documents")
    assert(first.count() == 20 && second.count() == 30)
    // Dataset.storageLevel reads the session's CacheManager entry
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(second.storageLevel == StorageLevel.MEMORY_AND_DISK)

    Stages.release()
    assert(first.storageLevel == StorageLevel.NONE,
      "release() must drop the registry's CacheManager entries")
    assert(second.storageLevel == StorageLevel.NONE)

    val again = frame()
    assert(builds == 2, "the lookup after release() must rebuild")
    assert(!(again eq first))
    assert(again.count() == 20)
    assert(!(Tables.load(spark, sf, "documents") eq loaded),
      "release() forgets unpersisted entries too")
    Stages.release()
  }
}
