package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.api.QueryHttpServer

/** SURVEY §2.K: HTTP serving edge over the unified table, including the
  * reference's route-shadowing defect fixed (GET /companies/search must
  * NOT be swallowed by the /companies/{abn} point-lookup route —
  * reference fastapi_service/main.py declares them in shadowing order). */
class QueryHttpSpec extends SparkSpec {
  import spark.implicits._

  private lazy val unified = Seq(
    ("51824753556", "ACME PTY LTD", "Technology", "Active", "1, 0037", "0037", "1", "ACME", 95),
    ("61824753558", "BETA CO", "Mining", "Active", "2, 0074", "0074", "2", "BETA GROUP", 88),
    ("71824753550", "SEARCH HOLDINGS", "Finance", "Active", "3, 0111", "0111", "1", "SEARCHCO", 90))
    .toDF("abn", "entity_name", "entity_type", "entity_status",
      "address", "postcode", "state", "company_name", "merged_confidence")

  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("HTTP edge serves point lookup, search, by_state; literals not shadowed") {
    val srv = new QueryHttpServer(unified)
    val port = srv.start()
    try {
      // point lookup: full record
      val (s1, b1) = get(port, "/companies/51824753556")
      assert(s1 == 200 && b1.contains("\"entity_name\":\"ACME PTY LTD\"")
        && b1.contains("\"merged_confidence\":95"))

      // unknown abn: the reference's not-found shape
      val (s2, b2) = get(port, "/companies/00000000000")
      assert(s2 == 404 && b2.contains("Company not found"))

      // THE regression the reference ships: /companies/search must hit
      // the search route, not resolve as abn="search"
      val (s3, b3) = get(port, "/companies/search?name=beta")
      assert(s3 == 200, s"search shadowed by point-lookup route: $b3")
      assert(b3.contains("\"abn\":\"61824753558\"") && !b3.contains("Company not found"))

      // search matches company_name too (reference ILIKE over both)
      val (s4, b4) = get(port, "/companies/search?name=searchco")
      assert(s4 == 200 && b4.contains("71824753550"))

      // by_state equality
      val (s5, b5) = get(port, "/companies/by_state?state=1")
      assert(s5 == 200 && b5.contains("51824753556") && b5.contains("71824753550")
        && !b5.contains("61824753558"))

      // missing params are 400s, not silent empties
      assert(get(port, "/companies/search")._1 == 400)
      assert(get(port, "/companies/by_state")._1 == 400)

      // malformed percent-encoding is the CLIENT's error: it must
      // answer 400, never a 500 that poisons the gateway's
      // backend-health signal. The JDK HttpServer pre-validates the
      // URI (its own 400) — the handler's decode guard is the second
      // line for any malformed form that slips through. Java's
      // HttpClient also validates client-side, so speak raw HTTP.
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        out.write(("GET /companies/search?name=%zz HTTP/1.1\r\n" +
          "Host: 127.0.0.1\r\nConnection: close\r\n\r\n").getBytes("UTF-8"))
        out.flush()
        val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        assert(resp.startsWith("HTTP/1.1 400"), s"raw response: $resp")
      } finally sock.close()
    } finally srv.stop()
  }

  test("HTTP edge over a manifest-managed store: old-or-new across an in-flight fold, never mixed") {
    import graft.sources.StoreManifest
    // the layout's core claim at the consumer edge: a serving process
    // that re-resolves the manifest per request sees a COMPLETE old or
    // COMPLETE new view at every instant of a fold — including the
    // window where the snapshot AND the folded dirs coexist on disk —
    // while a naive root scan in that window reads the rows twice
    val dir = java.nio.file.Files.createTempDirectory("graft-http-fold").toString
    def rows(ids: Seq[Long]) = ids
      .map(i => (f"$i%011d", s"CO $i", "1", s"NAME$i"))
      .toDF("abn", "entity_name", "state", "company_name")
    Seq((0L, Seq(1L, 2L)), (1L, Seq(3L)), (2L, Seq(4L))).foreach { case (b, ids) =>
      rows(ids).coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_id=$b")
      StoreManifest.commitBatch(spark, dir, s"batch_id=$b")
    }
    // one request against a server built from a FRESH manifest resolve
    // (the re-resolve-per-request consumer); returns every abn served,
    // with multiplicity — mixed visibility shows up as duplicates
    def served(): Seq[String] = {
      val df = StoreManifest.readDirs(spark, dir,
        StoreManifest.resolve(spark, dir).get.dirs).drop("batch_id")
      val srv = new QueryHttpServer(df)
      val port = srv.start()
      try {
        val (st, body) = get(port, "/companies/by_state?state=1")
        assert(st == 200, body)
        "\"abn\":\"(\\d+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq.sorted
      } finally srv.stop()
    }
    val full = Seq(1L, 2L, 3L, 4L).map(i => f"$i%011d")
    assert(served() == full)
    // fold batches 0 and 1 by hand, pausing at each in-flight stage:
    // 1. snapshot directory written, manifest NOT yet swapped — the
    //    consumer still sees the OLD complete view (snapshot invisible)
    rows(Seq(1L, 2L, 3L)).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/batch_id=-2")
    assert(served() == full, "uncommitted snapshot leaked into serving")
    // 2. manifest swapped, folded dirs STILL ON DISK — the race window.
    //    The consumer sees the NEW complete view exactly once; a raw
    //    root scan proves the duplicate bytes really are present
    StoreManifest.replace(spark, dir,
      Set("batch_id=0", "batch_id=1"), Seq("batch_id=-2"))
    assert(served() == full,
      "mixed visibility in the snapshot+folded-dirs window")
    assert(spark.read.parquet(dir).count() == full.size + 3,
      "test no longer exercises the window: folded dirs already gone")
    // 3. folded dirs deleted — steady state, same complete view
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("batch_id=0", "batch_id=1").foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$n"), true))
    assert(served() == full)
  }

  test("point lookup answers ONE well-formed object even over duplicate keys") {
    // duplicate abn rows reach the edge unchecked; stripping the array
    // brackets from a multi-row body would emit '{...},{...}' — parse
    // the response to prove it is a single valid JSON object
    val dup = unified.unionByName(unified.limit(1))
    val srv = new QueryHttpServer(dup)
    val port = srv.start()
    try {
      val (s, b) = get(port, "/companies/51824753556")
      assert(s == 200)
      assert(b.startsWith("{") && b.endsWith("}") &&
        !b.drop(1).dropRight(1).contains("{"),
        s"body must be one flat JSON object: $b")
    } finally srv.stop()
  }

  test("search matches non-ASCII names case-insensitively") {
    val names = unified.unionByName(Seq(
      ("81824753551", "ÉCOLE ÜBER İSTANBUL PTY", "Education", "Active", "4, 0148", "0148",
        "4", "ΟΔΟΣ HOLDINGS", 80)).toDF(unified.columns.toSeq: _*))
    val srv = new QueryHttpServer(names)
    val port = srv.start()
    try {
      def enc(q: String) = java.net.URLEncoder.encode(q, "UTF-8")
      for (q <- Seq("école", "ÜBER", "οδος")) {
        val (st, body) = get(port, s"/companies/search?name=${enc(q)}")
        assert(st == 200 && body.contains("81824753551") && !body.contains("51824753556"),
          s"search '$q': $st $body")
      }
    } finally srv.stop()
  }

  test("QueryApi plans carry no Lower, Upper or InitCap node") {
    import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
    import graft.api.QueryApi
    for (df <- Seq(QueryApi.byKey(unified, "51824753556"), QueryApi.search(unified, "Beta"),
        QueryApi.byState(unified, "1"))) {
      val qe = df.queryExecution
      for (plan <- Seq(qe.analyzed, qe.optimizedPlan, qe.executedPlan);
           node <- plan.collect { case n => n }; e <- node.expressions)
        assert(!e.exists(x => x.isInstanceOf[Lower] || x.isInstanceOf[Upper] || x.isInstanceOf[InitCap]),
          s"case-mapping node in ${plan.getClass.getSimpleName}: $e")
    }
  }
}
