package graft

import graft.sources.JdbcUpsertSink

/** S-2 sink parity: the reference's Postgres `ON CONFLICT (abn) DO
  * NOTHING` upsert (scripts/extract_abr.py:57-66), proven against an
  * embedded Derby target via the MERGE dialect. */
class JdbcUpsertSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftupsert;create=true"

  private def freshTable(name: String): Unit =
    JdbcUpsertSink.withConnection(url) { conn =>
      val st = conn.createStatement()
      try {
        try st.executeUpdate(s"DROP TABLE $name") catch { case _: Exception => () }
        st.executeUpdate(
          s"""CREATE TABLE $name (
             |  abn VARCHAR(64) PRIMARY KEY,
             |  entity_name VARCHAR(256))""".stripMargin)
      } finally st.close()
    }

  private def readAll(name: String): Map[String, String] =
    JdbcUpsertSink.withConnection(url) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT abn, entity_name FROM $name")
        val b = Map.newBuilder[String, String]
        while (rs.next()) b += rs.getString(1) -> rs.getString(2)
        b.result()
      } finally st.close()
    }

  test("writeIfAbsent inserts new keys and leaves existing rows untouched") {
    freshTable("t1")
    val first = Seq(("1", "Alpha Pty Ltd"), ("2", "Beta Pty Ltd"))
      .toDF("abn", "entity_name").repartition(4)
    JdbcUpsertSink.writeIfAbsent(first, url, "t1", "abn")
    assert(readAll("t1") == Map("1" -> "Alpha Pty Ltd", "2" -> "Beta Pty Ltd"))

    // overlapping re-run: existing keys keep their ORIGINAL values
    // (DO NOTHING), new key lands
    val second = Seq(("1", "Alpha RENAMED"), ("3", "Gamma Pty Ltd"))
      .toDF("abn", "entity_name").repartition(4)
    JdbcUpsertSink.writeIfAbsent(second, url, "t1", "abn")
    assert(readAll("t1") == Map(
      "1" -> "Alpha Pty Ltd", "2" -> "Beta Pty Ltd", "3" -> "Gamma Pty Ltd"))
  }

  test("duplicate keys across partitions collapse to one row per key") {
    freshTable("t2")
    // every key appears in several partitions — the concurrent-insert
    // race the 23505 fallback exists for
    val df = (1 to 200).map(i => (s"k${i % 40}", s"v$i"))
      .toDF("abn", "entity_name").repartition(8)
    JdbcUpsertSink.writeIfAbsent(df, url, "t2", "abn")
    val got = readAll("t2")
    assert(got.size == 40, s"expected 40 distinct keys, got ${got.size}")
    assert(got.keySet == (0 until 40).map(i => s"k$i").toSet)
  }

  test("batched path survives batchSize smaller than the partition") {
    freshTable("t3")
    val df = (1 to 57).map(i => (s"b$i", s"v$i")).toDF("abn", "entity_name")
      .repartition(2)
    JdbcUpsertSink.writeIfAbsent(df, url, "t3", "abn", batchSize = 10)
    assert(readAll("t3").size == 57)
  }

  test("streaming foreachBatch upsert is idempotent across re-runs") {
    freshTable("t4")
    val in = java.nio.file.Files.createTempDirectory("graft-jss").toString
    Seq(("a", "v1"), ("b", "v2")).toDF("abn", "entity_name")
      .coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(checkpoint: String): Unit = {
      val q = graft.streaming.JdbcStreamSink.start(
        spark.readStream.schema(schema).parquet(in),
        url, "t4", "abn", checkpointDir = checkpoint)
      q.awaitTermination()
    }
    val cp = java.nio.file.Files.createTempDirectory("graft-jss-cp").toString
    runOnce(cp)
    assert(readAll("t4") == Map("a" -> "v1", "b" -> "v2"))
    // a FRESH checkpoint replays the same files (the at-least-once
    // worst case) — insert-if-absent absorbs the replay; new file lands
    Seq(("a", "v1-DUP"), ("c", "v3")).toDF("abn", "entity_name")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce(java.nio.file.Files.createTempDirectory("graft-jss-cp2").toString)
    assert(readAll("t4") == Map("a" -> "v1", "b" -> "v2", "c" -> "v3"))
  }

  test("streaming sink fed by a manifest-managed store mid-fold lands one complete version, never mixed") {
    import graft.sources.StoreManifest
    // the layout's core claim at the JDBC consumer edge: a sink run
    // that resolves the manifest INSIDE a fold's race window — snapshot
    // published, folded dirs still on disk — streams exactly one
    // complete version of the store into the database. The duplicate
    // bytes are physically present (a root scan reads them twice); the
    // manifest-resolved stream must not.
    freshTable("t6")
    val dir = java.nio.file.Files.createTempDirectory("graft-jdbc-fold").toString
    def w(id: Long, keys: Seq[String]): Unit = {
      keys.map(k => (k, s"v-$k")).toDF("abn", "entity_name")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_id=$id")
      StoreManifest.commitBatch(spark, dir, s"batch_id=$id")
    }
    w(0, Seq("a", "b")); w(1, Seq("c")); w(2, Seq("d"))
    // enter the race window by hand: fold batches 0+1 into a snapshot,
    // swap the manifest, DO NOT delete the folded dirs
    Seq("a", "b", "c").map(k => (k, s"v-$k")).toDF("abn", "entity_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_id=-2")
    StoreManifest.replace(spark, dir,
      Set("batch_id=0", "batch_id=1"), Seq("batch_id=-2"))
    assert(spark.read.parquet(dir).count() == 7,
      "window not exercised: folded dirs missing from disk")
    // stream the RESOLVED live set (never the root glob — that is the
    // mixed read the manifest exists to prevent) through the real sink
    val live = StoreManifest.resolve(spark, dir).get.dirs
    val glob = s"$dir/batch_id={${live.map(_.stripPrefix("batch_id=")).mkString(",")}}"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("abn",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("entity_name",
        org.apache.spark.sql.types.StringType)))
    val cp = java.nio.file.Files.createTempDirectory("graft-jdbc-fold-cp").toString
    val q = graft.streaming.JdbcStreamSink.start(
      spark.readStream.schema(schema).parquet(glob)
        .select("abn", "entity_name"),
      url, "t6", "abn", checkpointDir = cp)
    q.awaitTermination()
    assert(readAll("t6") == Map(
      "a" -> "v-a", "b" -> "v-b", "c" -> "v-c", "d" -> "v-d"))
  }

  test("postgres dialect emits the reference's ON CONFLICT form") {
    val sql = JdbcUpsertSink.upsertSql("postgresql", "staging_abr",
      Seq("abn", "entity_name"), "abn", "VARCHAR(64)")
    assert(sql == "INSERT INTO staging_abr (abn, entity_name) VALUES (?, ?) " +
      "ON CONFLICT (abn) DO NOTHING")
  }

  test("embedded-Derby write lock keys canonicalize URL variants of one database") {
    import graft.sources.JdbcUpsertSink.embeddedLockKey
    val dir = java.nio.file.Files.createTempDirectory("graft-lockkey")
    val abs = dir.resolve("db").toString
    // attribute suffixes and dot-segments of the SAME path → one key
    assert(embeddedLockKey(s"jdbc:derby:$abs") ==
      embeddedLockKey(s"jdbc:derby:$abs;create=true"))
    assert(embeddedLockKey(s"jdbc:derby:$abs") ==
      embeddedLockKey(s"jdbc:derby:${dir.toString}/./db;create=true"))
    // distinct databases keep distinct keys (no false serialization)
    assert(embeddedLockKey(s"jdbc:derby:$abs") !=
      embeddedLockKey(s"jdbc:derby:${abs}2"))
    assert(embeddedLockKey("jdbc:derby:memory:g1;create=true") == "memory:g1")
    // Derby's explicit 'directory:' subsubprotocol names the same
    // database as the bare form — one key, or the deadlock the lock
    // map prevents stays reachable through the variant pair
    assert(embeddedLockKey(s"jdbc:derby:directory:$abs") ==
      embeddedLockKey(s"jdbc:derby:$abs"))
  }
}
