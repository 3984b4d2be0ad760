package graft

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** The ABR XML documents the ingest specs read — shared so that
  * AbrXmlParitySpec can hold the engine reader to its Spark XML twin on
  * every one of them. */
object AbrFixtures {

  /** Field navigation, attributes, date coalesce, address concat. */
  val fieldNav: String =
    """<Transfer>
      |<ABR recordLastUpdatedDate="20240101">
      |  <ABN status="ACT" ABNStatusFromDate="20150701">51824753556</ABN>
      |  <EntityType><EntityTypeInd>PRV</EntityTypeInd><EntityTypeText>Australian Private Company</EntityTypeText></EntityType>
      |  <MainEntity>
      |    <NonIndividualName type="MN"><NonIndividualNameText>ACME WIDGETS PTY LTD</NonIndividualNameText></NonIndividualName>
      |    <BusinessAddress><AddressDetails><State>NSW</State><Postcode>2000</Postcode></AddressDetails></BusinessAddress>
      |  </MainEntity>
      |  <GST status="ACT" GSTStatusFromDate="20000701"/>
      |</ABR>
      |<ABR>
      |  <ABN status="SUS" ABNStatusFromDate="not-a-date">61824753558</ABN>
      |  <MainEntity><NonIndividualName><NonIndividualNameText>GAMMA TRUST</NonIndividualNameText></NonIndividualName></MainEntity>
      |</ABR>
      |<ABR>
      |  <ABN status="CAN" ABNStatusFromDate="">41824753557</ABN>
      |  <EntityType><EntityTypeText>Sole Trader</EntityTypeText></EntityType>
      |  <MainEntity>
      |    <NonIndividualName><NonIndividualNameText>BETA CO</NonIndividualNameText></NonIndividualName>
      |    <BusinessAddress><AddressDetails><State>VIC</State></AddressDetails></BusinessAddress>
      |  </MainEntity>
      |  <GST status="NON" GSTStatusFromDate="20010301"/>
      |</ABR>
      |</Transfer>""".stripMargin

  /** No `<ABN>` carries attributes: the XML source infers a plain leaf. */
  val plainAbn: String =
    """<Transfer>
      |<ABR>
      |  <ABN>51824753556</ABN>
      |  <MainEntity><NonIndividualName><NonIndividualNameText>PLAIN CO</NonIndividualNameText></NonIndividualName></MainEntity>
      |  <GST status="ACT" GSTStatusFromDate="20010301"/>
      |</ABR>
      |</Transfer>""".stripMargin

  val garbage: String = "this is not xml at all { 12345"

  /** Two GST siblings: a repeated projected element. */
  val repeatedGst: String =
    """<Records><ABR><ABN status="ACT" ABNStatusFromDate="20150701">51824753556</ABN>
      |<GST GSTStatusFromDate="20150701"/><GST GSTStatusFromDate="20160701"/>
      |<EntityType><EntityTypeText>Co</EntityTypeText></EntityType>
      |</ABR></Records>""".stripMargin

  /** Two EntityTypeText siblings: a repeated projected LEAF. */
  val repeatedLeaf: String =
    """<Records><ABR><ABN status="ACT" ABNStatusFromDate="20150701">51824753556</ABN>
      |<EntityType><EntityTypeText>Co</EntityTypeText>
      |<EntityTypeText>Trust</EntityTypeText></EntityType>
      |</ABR></Records>""".stripMargin

  /** One-record member document of the ZIP and HTTP ingest specs. */
  def member(abn: String, name: String): String =
    s"""<Transfer><ABR><ABN status="ACT" ABNStatusFromDate="20150701">$abn</ABN>
       |<MainEntity><NonIndividualName><NonIndividualNameText>$name</NonIndividualNameText></NonIndividualName></MainEntity>
       |</ABR></Transfer>""".stripMargin

  /** Write a ZIP of (entry name, document) members. */
  def writeZip(file: Path, members: Seq[(String, String)]): Path = {
    val zout = new ZipOutputStream(Files.newOutputStream(file))
    for ((name, body) <- members) {
      zout.putNextEntry(new ZipEntry(name))
      zout.write(body.getBytes("UTF-8"))
      zout.closeEntry()
    }
    zout.close()
    file
  }
}
