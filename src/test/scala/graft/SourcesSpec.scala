package graft

import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import graft.sources.{AbrXml, Warc}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): Path = Files.createTempDirectory("graft-src")

  test("ABR XML: field navigation, attributes, date coalesce, address concat") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("abr1.xml"), AbrFixtures.fieldNav)
    val rows = AbrXml.read(spark, dir.toString + "/abr1.xml")
      .orderBy($"abn").collect()
    assert(rows.length == 3)
    val dirty = rows.find(_.getString(0) == "61824753558").get
    assert(dirty.isNullAt(7)) // unparseable date → null, not an abort
    assert(dirty.getString(1) == "GAMMA TRUST")
    val r0 = rows.find(_.getString(0) == "51824753556").get
    assert(r0.getString(1) == "ACME WIDGETS PTY LTD")
    assert(r0.getString(2) == "Australian Private Company")
    assert(r0.getString(3) == "ACT")
    assert(r0.getString(4) == "NSW, 2000")
    assert(r0.getDate(7).toString == "2015-07-01")
    val r1 = rows.find(_.getString(0) == "41824753557").get
    assert(r1.getString(4) == "VIC")          // postcode absent → state only
    assert(r1.getDate(7).toString == "2001-03-01") // empty ABN date → GST fallback
  }

  test("WARC: multi-byte bodies honor the BYTE Content-Length; following records survive") {
    // 'café & naïve' is 2 bytes longer in UTF-8 than in chars — a
    // char-counting reader over-reads and swallows the next record
    def rec(uri: String, body: String): String = {
      val byteLen = body.getBytes("UTF-8").length
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: $byteLen\r\n\r\n$body\r\n\r\n"
    }
    val b1 = "<html><title>Café Naïve Pty Ltd</title></html>"
    val b2 = "<html><title>Plain Second</title></html>"
    val bytes = (rec("https://cafe.com.au/", b1) + rec("https://second.com.au/", b2))
      .getBytes("UTF-8")
    val out = Warc.parseFile("f.warc", bytes).toVector
    assert(out.length == 2, s"second record must survive the multi-byte first: $out")
    assert(out(0).body == b1)
    assert(out(1).body == b2)
    // truncated input: the body carries only the bytes present — no NUL
    // padding from the unread buffer tail
    val cut = bytes.take(rec("https://cafe.com.au/", b1).getBytes("UTF-8").length - 20)
    val trunc = Warc.parseFile("t.warc", cut).toVector
    assert(trunc.length == 1)
    assert(!trunc.head.body.contains('\u0000'), "truncated body must not be NUL-padded")
    assert(b1.startsWith(trunc.head.body))
  }

  test("WARC: malformed headers and corrupt archives never kill the task") {
    def rec(uri: String, body: String, lenHeader: String): String =
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: $lenHeader\r\n\r\n$body\r\n\r\n"
    val good = rec("https://ok.com.au/", "<html>fine</html>",
      "<html>fine</html>".getBytes("UTF-8").length.toString)
    // non-numeric, negative, and absurd declared lengths: body skipped
    // or truncated-at-EOF, never a NumberFormatException / 2 GB alloc
    for (bad <- Seq("abc", "-7", "2147483647", "")) {
      val bytes = (good + rec("https://bad.com.au/", "short", bad)).getBytes("UTF-8")
      val out = Warc.parseFile("m.warc", bytes).toVector
      assert(out.nonEmpty && out.head.body == "<html>fine</html>",
        s"well-formed record must survive a '$bad' Content-Length neighbor: $out")
      assert(out.forall(_.body.length < 1000))
    }
    // header line without a colon is skipped, parse continues
    val noColon = ("WARC/1.0\r\nWARC-Type: response\r\nGARBAGE LINE\r\n" +
      "Content-Length: 2\r\n\r\nhi\r\n\r\n" + good).getBytes("UTF-8")
    val nc = Warc.parseFile("nc.warc", noColon).toVector
    assert(nc.length == 2 && nc(0).body == "hi")
    // a mid-file OVER-declared length swallows its neighbor's header
    // into the body: the mis-framed record must be dropped (its body
    // would carry raw WARC framing) and parsing must resync on the
    // next surviving record instead of silently losing the tail
    val victim = rec("https://victim.com.au/", "victim body",
      "victim body".getBytes("UTF-8").length.toString)
    val swallower = rec("https://swallow.com.au/", "swal",
      ("swal".getBytes("UTF-8").length + 30).toString) // eats into victim
    val tail = (swallower + victim + good).getBytes("UTF-8")
    val sw = Warc.parseFile("sw.warc", tail).toVector
    assert(sw.exists(_.target_uri == "https://ok.com.au/"),
      s"record after the swallowed region must be recovered: $sw")
    assert(!sw.exists(_.body.contains("WARC/")),
      s"no emitted body may contain raw WARC framing: $sw")
    // corrupt gzip: bad magic / truncated deflate yield the records
    // parsed before the corruption point (reference drops the file)
    assert(Warc.parseFile("junk.warc.gz",
      Array[Byte](1, 2, 3, 4, 5)).toVector.isEmpty)
    val realGz = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.GZIPOutputStream(bos)
      z.write((good + good).getBytes("UTF-8")); z.close()
      bos.toByteArray
    }
    val cutGz = realGz.take(realGz.length / 2)
    val partial = Warc.parseFile("cut.warc.gz", cutGz).toVector
    assert(partial.forall(_.target_uri == "https://ok.com.au/"),
      s"partial gzip recovery must only yield well-formed records: $partial")
  }

  test("ABR XML: garbage input fails loudly, never a silent 0-row success") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("junk.xml"), AbrFixtures.garbage)
    val e = intercept[IllegalArgumentException] {
      AbrXml.read(spark, dir.toString + "/junk.xml").collect()
    }
    assert(e.getMessage.contains("no <ABR> records"))
  }

  test("ABR XML: a repeated projected element fails loudly, never silent nulls") {
    val dir = tmpDir()
    // two GST siblings in one record
    Files.writeString(dir.resolve("dup.xml"), AbrFixtures.repeatedGst)
    val e = intercept[IllegalArgumentException] {
      AbrXml.read(spark, dir.toString + "/dup.xml").collect()
    }
    assert(e.getMessage.contains("REPEATED element"))

    // a repeated LEAF must also throw — a join of the values would be
    // as silent as dropping them
    val leafDir = tmpDir()
    Files.writeString(leafDir.resolve("leaf.xml"), AbrFixtures.repeatedLeaf)
    val e2 = intercept[IllegalArgumentException] {
      AbrXml.read(spark, leafDir.toString + "/leaf.xml").collect()
    }
    assert(e2.getMessage.contains("REPEATED element"))
  }

  test("WARC: gz parse, response filter, .au filter, title/meta extraction") {
    def rec(uri: String, body: String, typ: String = "response"): String = {
      val content = body
      s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${content.length}\r\n\r\n$content\r\n\r\n"
    }
    val warc = rec("https://acme.com.au/", "<html><head><title>Acme Pty Ltd - Home</title>" +
      "<meta name=\"industry\" content=\"Mining\"></head></html>") +
      rec("https://other.com/", "<html><title>NotAu</title></html>") +
      rec("https://skip.net.au/", "ignored", typ = "request") +
      rec("https://no-title.org.au/", "<html><body>nothing</body></html>")
    val dir = tmpDir()
    val gz = dir.resolve("f.warc.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write(warc.getBytes("UTF-8")); out.close()

    val records = Warc.read(spark, gz.toString)
    assert(records.count() == 4)
    val companies = Warc.extractCompanies(records.toDF()).orderBy($"website_url").collect()
    assert(companies.length == 2) // .au responses only
    val acme = companies.find(_.getString(0).contains("acme")).get
    assert(acme.getString(1) == "Acme Pty Ltd - Home")
    assert(acme.getString(2) == "Mining")
    val none = companies.find(_.getString(0).contains("no-title")).get
    assert(none.isNullAt(1) && none.isNullAt(2))
  }

  test("gz path-index source: transparent gunzip, ordered slice (S-6)") {
    val dir = tmpDir()
    val gz = dir.resolve("warc.paths.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write((1 to 10).map(i => s"crawl/seg$i.warc.gz").mkString("\n").getBytes("UTF-8"))
    out.close()
    val paths = Warc.readIndex(spark, gz.toString, 3).as[String].collect().toSeq
    assert(paths == Seq("crawl/seg1.warc.gz", "crawl/seg2.warc.gz", "crawl/seg3.warc.gz"))
  }

  test("ABR XML: an extract whose ABN carries no attributes still ingests") {
    // with no status/ABNStatusFromDate attributes anywhere the ABN is a
    // plain text leaf — it must still yield the abn, or the non-empty
    // filter would silently empty the corpus
    val dir = tmpDir()
    Files.writeString(dir.resolve("plain.xml"), AbrFixtures.plainAbn)
    val rows = AbrXml.read(spark, dir.toString + "/plain.xml").collect()
    assert(rows.length == 1, "leaf-ABN extract must not silently empty")
    assert(rows(0).getString(0) == "51824753556")
    assert(rows(0).getString(1) == "PLAIN CO")
    assert(rows(0).isNullAt(3)) // status attribute genuinely absent
    assert(rows(0).getDate(7).toString == "2001-03-01") // GST fallback
  }

  test("ZIP ingest edge: every member of every archive, same-named members included (S-4)") {
    import AbrFixtures.{member, writeZip}
    val dir = tmpDir()
    // collision bait: both ZIPs carry a member named part1.xml, and zip1
    // carries 'a/b.xml' vs 'a_b.xml'
    writeZip(dir.resolve("bulk1.zip"), Seq(
      "part1.xml" -> member("51824753556", "ACME PTY LTD"),
      "a/b.xml" -> member("11111111111", "SLASH CO"),
      "a_b.xml" -> member("22222222222", "UNDERSCORE CO")))
    writeZip(dir.resolve("bulk2.zip"), Seq(
      "part1.xml" -> member("61824753558", "BETA CO")))
    val staging = dir.resolve("staging")
    val rows = graft.sources.AbrZip.readZipped(spark, s"$dir/*.zip", staging.toString)
      .orderBy($"abn").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("11111111111", "22222222222", "51824753556", "61824753558"))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("SLASH CO", "UNDERSCORE CO", "ACME PTY LTD", "BETA CO"))
    assert(!Files.exists(staging), "readZipped must write nothing under its staging dir")
  }

  test("ZIP ingest reads BOTH members when one archive repeats an entry name") {
    // the ZIP format permits two entries with one name (appended/
    // rebuilt archives); ZipOutputStream refuses to write them, so
    // build a legal dup by byte-patching a same-length sibling name in
    // both the local headers and the central directory
    val dir = tmpDir()
    val zipPath = AbrFixtures.writeZip(dir.resolve("dup.zip"), Seq(
      "members/a1.xml" -> AbrFixtures.member("51824753556", "FIRST CO"),
      "members/a2.xml" -> AbrFixtures.member("61824753558", "SECOND CO")))
    val bytes = Files.readAllBytes(zipPath)
    val from = "members/a2.xml".getBytes("UTF-8")
    val to = "members/a1.xml".getBytes("UTF-8")
    for (i <- 0 to bytes.length - from.length)
      if (from.indices.forall(j => bytes(i + j) == from(j)))
        to.indices.foreach(j => bytes(i + j) = to(j))
    Files.write(zipPath, bytes)
    val abns = graft.sources.AbrZip.readZipped(spark, zipPath.toString, s"$dir/staging")
      .orderBy($"abn").collect().map(_.getString(0)).toSeq
    assert(abns == Seq("51824753556", "61824753558"),
      s"duplicate-named member's content lost: $abns")
  }

  test("ZIP ingest: packed and one-member-per-task runs read identical rows") {
    import AbrFixtures.{member, writeZip}
    val dir = tmpDir()
    writeZip(dir.resolve("bulk1.zip"), (1 to 5).map(i =>
      s"part$i.xml" -> member(f"5182475$i%04d", s"CO $i")))
    writeZip(dir.resolve("bulk2.zip"), (6 to 8).map(i =>
      s"part$i.xml" -> member(f"5182475$i%04d", s"CO $i")))
    def read(maxBytes: String) = {
      val key = "spark.sql.files.maxPartitionBytes"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, maxBytes)
      try {
        val df = graft.sources.AbrZip.readZipped(spark, s"$dir/*.zip", s"$dir/staging")
        (df.rdd.getNumPartitions, df.orderBy($"abn").collect().map(_.toString).toSeq)
      } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val (packedTasks, packed) = read("128m")
    val (splitTasks, split) = read("1")
    assert(packedTasks == 1 && splitTasks == 8, s"tasks: packed $packedTasks, split $splitTasks")
    assert(packed.size == 8)
    assert(packed == split)
  }

  test("ingest fetcher seam stages objects for the ZIP/XML readers") {
    val dir = tmpDir()
    val zip = dir.resolve("remote-bulk.zip")
    AbrFixtures.writeZip(zip, Seq("part1.xml" -> AbrFixtures.member("51824753556", "ACME PTY LTD")))
    // same-basename URIs from different "remote" directories must not
    // collide in the staging dir
    val other = dir.resolve("elsewhere")
    Files.createDirectories(other)
    Files.copy(zip, other.resolve("remote-bulk.zip"))
    val staging = dir.resolve("fetched").toString
    val staged = graft.sources.LocalFileFetcher.stage(
      Seq(zip.toString, other.resolve("remote-bulk.zip").toString), staging)
    assert(staged.size == 2 && staged.distinct.size == 2)
    assert(staged.forall(p => Files.exists(java.nio.file.Paths.get(p))))
    // the staged glob feeds the ordinary ZIP->XML lifecycle unchanged
    val rows = graft.sources.AbrZip.readZipped(spark, s"$staging/*.zip",
      dir.resolve("staging2").toString)
    assert(rows.count() == 2) // one member per staged archive
  }

  test("CSV export sink roundtrip (S-9)") {
    val dir = tmpDir().toString + "/csv"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    df.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "v"))
  }

  test("ORC export sink roundtrip preserves schema and values (S-9)") {
    // columnar alternative to parquet for the export edge — schema
    // travels in the file, nested types included
    val dir = tmpDir().toString + "/orc"
    val df = Seq((1L, "a", Seq(1.0f, 2.0f)), (2L, "b", Seq(3.0f)))
      .toDF("id", "v", "vec")
    df.write.orc(dir)
    val back = spark.read.orc(dir)
    // ORC relaxes nullability on read; names and types must survive
    assert(back.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }
}
