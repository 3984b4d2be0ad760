package graft

import java.nio.file.Files

import scala.util.{Failure, Try}

import org.scalacheck.Gen

import graft.sources.{AbrXml, AbrXmlSparkTwin}

/** The engine's one-pass StAX reader ([[AbrXml.read]]) against its
  * reference twin, Spark's XML source plus the column projection of its
  * inferred schema ([[AbrXmlSparkTwin]]): identical rows on every ABR
  * document the ingest specs read and on a generated dirty corpus, and
  * a loud IllegalArgumentException from both wherever either fails. */
class AbrXmlParitySpec extends SparkSpec {

  /** Rows (as sorted strings) or the failure each reader gives on the
    * documents, written as one file each and read through one glob. */
  private def outcomes(docs: Seq[String]): (Try[Seq[String]], Try[Seq[String]]) = {
    val dir = Files.createTempDirectory("graft-abr-parity")
    docs.zipWithIndex.foreach { case (d, i) => Files.writeString(dir.resolve(f"doc$i%03d.xml"), d) }
    def rows(read: => org.apache.spark.sql.DataFrame) =
      Try(read.collect().map(_.toString).toSeq.sorted)
    (rows(AbrXml.read(spark, s"$dir/*.xml")), rows(AbrXmlSparkTwin.read(spark, s"$dir/*.xml")))
  }

  private def assertSameRows(docs: Seq[String], what: String): Unit = {
    val (engine, twin) = outcomes(docs)
    assert(twin.isSuccess, s"$what: twin failed: $twin")
    assert(engine == twin, s"$what (fuzz seed ${Fuzz.seed}):\nengine $engine\ntwin   $twin")
  }

  test("engine reader equals the Spark XML twin on every ingest-spec fixture") {
    import AbrFixtures._
    assertSameRows(Seq(fieldNav), "fieldNav")
    assertSameRows(Seq(plainAbn), "plainAbn")
    assertSameRows(Seq(member("51824753556", "ACME PTY LTD"), member("61824753558", "BETA CO")),
      "member")
    for ((doc, what) <- Seq(garbage -> "garbage", repeatedGst -> "repeatedGst",
        repeatedLeaf -> "repeatedLeaf")) {
      val (engine, twin) = outcomes(Seq(doc))
      for ((side, o) <- Seq("engine" -> engine, "twin" -> twin)) o match {
        case Failure(_: IllegalArgumentException) =>
        case other => fail(s"$what: $side must fail with IllegalArgumentException, got $other")
      }
    }
  }

  // dirty but well-formed bulk-extract content: padded, empty and
  // whitespace-only values, escaped and CDATA text, non-ASCII, bad
  // dates, every fallback path present, absent or both, untracked
  // repeated siblings and comments between elements
  private val text: Gen[String] = Gen.oneOf(
    Gen.const("ACME WIDGETS PTY LTD"), Gen.const("  PADDED  CO "), Gen.const(""),
    Gen.const("   "), Gen.const("A &amp; B &lt;HOLDINGS&gt;"), Gen.const("<![CDATA[R&D <Co>]]>"),
    Gen.const("Café Ünïcødé 中文 😀"), Gen.const("LINE\n  BROKEN"),
    Gen.choose(1, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar)))
  private val date: Gen[String] = Gen.oneOf("20150701", "", "  ", " 20010301 ", "not-a-date",
    "20151341", "19991231")
  private def attr(name: String, v: Gen[String]): Gen[String] =
    Gen.option(v).map(_.fold("")(x => s""" $name="$x""""))
  private def leaf(name: String): Gen[String] =
    Gen.frequency(4 -> text.map(t => s"<$name>$t</$name>"), 1 -> Gen.const(s"<$name/>"),
      2 -> Gen.const(""))

  private val record: Gen[String] = for {
    abn <- Gen.option(Gen.oneOf(Gen.stringOfN(11, Gen.numChar), Gen.const(" 51824753556 "),
      Gen.const(""), Gen.const("   ")))
    status <- attr("status", Gen.oneOf("ACT", "", " SUS ", "CAN"))
    abnFrom <- attr("ABNStatusFromDate", date)
    nested <- Gen.oneOf(true, false)
    name <- leaf("NonIndividualNameText")
    topName <- leaf("NonIndividualNameText")
    typ <- leaf("EntityTypeText")
    topTyp <- leaf("EntityTypeText")
    addrLevel <- Gen.choose(0, 3)
    state <- leaf("State")
    post <- leaf("Postcode")
    gst <- Gen.option(attr("GSTStatusFromDate", date))
    noise <- Gen.oneOf(true, false)
    order <- Gen.listOfN(9, Gen.choose(0, 1000))
  } yield {
    val addr = state + post
    val mainEntity =
      (if (nested && name.nonEmpty) s"<NonIndividualName type=\"MN\">$name</NonIndividualName>" else "") +
        (if (addrLevel == 1) s"<BusinessAddress><AddressDetails>$addr</AddressDetails></BusinessAddress>" else "")
    val parts = Seq(
      abn.fold("")(a => s"<ABN$status$abnFrom>$a</ABN>"),
      if (mainEntity.nonEmpty) s"<MainEntity>$mainEntity</MainEntity>" else "",
      topName,
      if (typ.nonEmpty) s"<EntityType><EntityTypeInd>PRV</EntityTypeInd>$typ</EntityType>" else "",
      topTyp,
      if (addrLevel == 2) s"<AddressDetails>$addr</AddressDetails>" else if (addrLevel == 3) addr else "",
      gst.fold("")(g => s"<GST status=\"ACT\"$g/>"),
      if (noise) "<OtherEntity><NonIndividualName><NonIndividualNameText>X</NonIndividualNameText>" +
        "</NonIndividualName></OtherEntity><OtherEntity/><DGR status=\"ACT\"/><DGR/>" else "",
      "<!-- comment -->")
    val shuffled = parts.zip(order).sortBy(_._2).map(_._1)
    s"""<ABR recordLastUpdatedDate="20240101">${shuffled.mkString("\n  ")}</ABR>"""
  }

  test("engine reader equals the Spark XML twin on a generated dirty corpus") {
    val docs = Fuzz.draw(Gen.listOfN(4, Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, record))))
      .map(recs => recs.mkString("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<Transfer>\n", "\n", "\n</Transfer>"))
    assertSameRows(docs, "dirty corpus")
  }
}
