package graft

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._
import graft.sources.{AbrZip, HttpFetcher, Warc}

/** The reference's ingest is HTTP-native; this spec exercises the
  * [[HttpFetcher]] seam against a real (loopback) transport, driving
  * both remote chains end-to-end exactly as a driver program would:
  *
  *  - S-6→S-1→F-1..F-3: fetch the gz crawl index, slice it, fetch the
  *    listed WARC segments, parse, filter, extract companies;
  *  - S-7→S-4: fetch the CKAN-style catalog JSON, discover the ZIP
  *    resources, fetch them, parse every member's XML.
  *
  * The engine operators only ever see staged local files — swapping the
  * transport (HTTP here, filesystem elsewhere, object store at scale)
  * touches no operator code.
  */
class IngestHttpSpec extends SparkSpec {
  import spark.implicits._

  private def gz(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(bos)
    out.write(s.getBytes("UTF-8")); out.close()
    bos.toByteArray
  }

  private def zip(members: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zout = new ZipOutputStream(bos)
    for ((name, body) <- members) {
      zout.putNextEntry(new ZipEntry(name))
      zout.write(body.getBytes("UTF-8"))
      zout.closeEntry()
    }
    zout.close()
    bos.toByteArray
  }

  private def warcRec(uri: String, body: String, typ: String = "response"): String =
    s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n"

  /** Loopback server dishing a fixed route → bytes map; 404 otherwise. */
  private def withServer(routes: Map[String, Array[Byte]])(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        routes.get(ex.getRequestURI.getPath) match {
          case Some(bytes) =>
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          case None => ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("S-6→S-1→F-1..F-3 over HTTP: index slice → WARC fetch → extraction") {
    val seg1 = warcRec("https://acme.com.au/",
      "<html><head><title>Acme Pty Ltd - Home</title>" +
        "<meta name=\"industry\" content=\"Mining\"></head></html>") +
      warcRec("https://other.com/", "<html><title>NotAu</title></html>")
    val seg2 = warcRec("https://beta.net.au/", "<html><title>Beta Co</title></html>") +
      warcRec("https://skip.org.au/", "ignored", typ = "request")
    val seg3 = warcRec("https://beyond-slice.com.au/", "<html><title>Never Fetched</title></html>")
    val index = (1 to 3).map(i => s"crawl/seg$i.warc.gz").mkString("\n")
    withServer(Map(
      "/crawl/warc.paths.gz" -> gz(index),
      "/crawl/seg1.warc.gz" -> gz(seg1),
      "/crawl/seg2.warc.gz" -> gz(seg2),
      "/crawl/seg3.warc.gz" -> gz(seg3))) { base =>
      val root = Files.createTempDirectory("graft-http-warc")
      val fetcher = new HttpFetcher()
      // the crawl index is itself a remote object (S-6)
      val Seq(indexPath) = fetcher.stage(
        Seq(s"$base/crawl/warc.paths.gz"), root.resolve("idx").toString)
      val picked = Warc.readIndex(spark, indexPath, maxFiles = 2)
        .as[String].collect().toSeq
      assert(picked == Seq("crawl/seg1.warc.gz", "crawl/seg2.warc.gz"))
      // fetch ONLY the sliced segments (the reference's [:MAX_WARCS])
      val staged = fetcher.stage(picked.map(p => s"$base/$p"),
        root.resolve("segs").toString)
      assert(staged.size == 2)
      val companies = Warc.extractCompanies(
          Warc.read(spark, root.resolve("segs").toString + "/*.warc.gz").toDF())
        .orderBy($"website_url").collect()
      assert(companies.map(_.getString(0)).toSeq ==
        Seq("https://acme.com.au/", "https://beta.net.au/"))
      assert(companies.head.getString(1) == "Acme Pty Ltd - Home")
      assert(companies.head.getString(2) == "Mining")
    }
  }

  test("S-7→S-4 over HTTP: catalog JSON discovery → ZIP fetch → XML parse") {
    val catalog =
      """{"result": {"resources": [
        |  {"url": "/abr/bulk1.zip", "format": "ZIP"},
        |  {"url": "/abr/notes.txt", "format": "TXT"},
        |  {"url": "/abr/bulk2.zip", "format": "ZIP"}
        |]}}""".stripMargin
    withServer(Map(
      "/api/3/action/package_show" -> catalog.getBytes("UTF-8"),
      "/abr/bulk1.zip" -> zip("part1.xml" -> AbrFixtures.member("51824753556", "ACME PTY LTD")),
      "/abr/bulk2.zip" -> zip("part1.xml" -> AbrFixtures.member("61824753558", "BETA CO")),
      "/abr/notes.txt" -> "not a zip".getBytes("UTF-8"))) { base =>
      val root = Files.createTempDirectory("graft-http-abr")
      val fetcher = new HttpFetcher()
      val Seq(catPath) = fetcher.stage(
        Seq(s"$base/api/3/action/package_show"), root.resolve("cat").toString)
      // JSON discovery runs as engine ops over the staged document
      val zipUrls = spark.read.option("multiLine", "true").json(catPath)
        .select(explode(col("result.resources")).as("r"))
        .filter(col("r.format") === "ZIP")
        .select(col("r.url")).as[String].collect().toSeq
      assert(zipUrls == Seq("/abr/bulk1.zip", "/abr/bulk2.zip"))
      val zipDir = root.resolve("zips").toString
      fetcher.stage(zipUrls.map(u => s"$base$u"), zipDir)
      val rows = AbrZip.readZipped(spark, s"$zipDir/*.zip",
          root.resolve("staging").toString)
        .orderBy($"abn").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("51824753556", "61824753558"))
      assert(rows.map(_.getString(1)).toSeq == Seq("ACME PTY LTD", "BETA CO"))
    }
  }

  test("HTTP fetcher surfaces non-2xx as loud errors") {
    withServer(Map.empty) { base =>
      val ex = intercept[java.io.IOException] {
        new HttpFetcher().fetch(s"$base/missing")
      }
      assert(ex.getMessage.contains("404"))
    }
  }
}
