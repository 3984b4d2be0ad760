package graft.sources

import java.io.InputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamException, XMLStreamReader}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** S-4/S-5: ABR bulk-extract XML into the staging_abr shape in ONE
  * streaming pass — the reference's iterparse loop
  * (scripts/extract_abr.py:93-160) as a StAX cursor per task: each
  * `<ABR>` record is lifted into eight raw strings as it streams past,
  * and [[project]] applies the casts. Nothing is staged, no schema is
  * inferred, and no member is ever held in memory whole.
  *
  * Input is planned on the driver as whole [[Member]]s (plain XML files
  * here, ZIP entries in [[AbrZip]]) packed into tasks up to
  * `spark.sql.files.maxPartitionBytes`; a member is never split.
  *
  * Field navigation mirrors the reference's fallback lookups
  * (find_text exact-path → deep search, scripts/extract_abr.py:69-77),
  * first present path wins:
  *  - abn / status / ABNStatusFromDate from the ABN element + attributes
  *    (:114-117); an attribute-less `<ABN>` is the same text leaf
  *  - entity_type: EntityType/EntityTypeText → EntityTypeText (:121-123)
  *  - entity_name: MainEntity/NonIndividualName/NonIndividualNameText →
  *    NonIndividualNameText (:126-128)
  *  - state/postcode: MainEntity/BusinessAddress/AddressDetails →
  *    AddressDetails → record level (:131-133)
  *  - start_date = ABNStatusFromDate else GSTStatusFromDate, yyyyMMdd,
  *    unparseable → null (:136-139)
  *  - address = ", "-join of present(state, postcode), null if both
  *    absent (:133)
  *
  * Curated-source loud failures (a government bulk extract must never
  * "succeed" with silently missing fields): an element on a projected
  * path that repeats within one record, a member with no `<ABR>` record
  * (non-XML, truncated or non-ABR input), and XML that stops being
  * well-formed all fail the read with an IllegalArgumentException.
  * Field semantics are property-checked equal to Spark's XML source
  * (the AbrXmlSparkTwin reference in the test tree).
  */
object AbrXml {

  /** One whole input document: a plain XML file (`entry` = -1) or the
    * `entry`-th ZIP member of `file` in central-directory order. */
  private[sources] final case class Member(file: String, entry: Int, name: String, bytes: Long)

  /** Read ABR rows from the XML file(s) matching `path`. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val members = listFiles(spark, path).map(f => Member(f.getPath.toString, -1, f.getPath.toString, f.getLen))
    scan(spark, members, path)
  }

  /** Files matching a Hadoop glob, skipping `_`/`.`-prefixed names
    * (`_SUCCESS`, `.crc`) as Spark's file sources do. */
  private[sources] def listFiles(spark: SparkSession, glob: String): Seq[FileStatus] = {
    val p = new Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile)
      .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .sortBy(_.getPath.toString)
    if (matched.isEmpty) throw new java.io.FileNotFoundException(s"no input file matches $glob")
    matched
  }

  /** Whole members packed in order into tasks of at most `maxBytes`
    * (a larger member gets a task of its own). */
  private[sources] def pack(members: Seq[Member], maxBytes: Long): Seq[Seq[Member]] =
    members.foldLeft(Vector.empty[Vector[Member]]) { (tasks, m) =>
      tasks.lastOption match {
        case Some(t) if t.map(_.bytes).sum + m.bytes <= maxBytes => tasks.init :+ (t :+ m)
        case _ => tasks :+ Vector(m)
      }
    }

  /** One task per packed group; each streams its members in order. */
  private[sources] def scan(spark: SparkSession, members: Seq[Member], what: String): DataFrame = {
    if (members.isEmpty) throw noRecords(what, null)
    val maxBytes = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val tasks = pack(members, maxBytes)
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext.parallelize(tasks, tasks.size).mapPartitions { it =>
      it.flatMap(_.iterator.flatMap { m =>
        val in =
          if (m.entry < 0) new Path(m.file).getFileSystem(conf.value).open(new Path(m.file))
          else AbrZip.openEntry(m.file, m.entry, conf.value)
        new Records(in, m.name)
      })
    }
    project(spark.createDataFrame(rows, rawSchema))
  }

  /** The raw strings one record yields, in [[rawSchema]] order, each
    * with its fallback element paths (relative to `<ABR>`, `@` marks an
    * attribute) in priority order. */
  private val fields: Seq[(String, Seq[String])] = Seq(
    "abn" -> Seq("ABN"),
    "entity_name" -> Seq("MainEntity/NonIndividualName/NonIndividualNameText", "NonIndividualNameText"),
    "entity_type" -> Seq("EntityType/EntityTypeText", "EntityTypeText"),
    "entity_status" -> Seq("ABN@status"),
    "state" -> Seq("MainEntity/BusinessAddress/AddressDetails/State", "AddressDetails/State", "State"),
    "postcode" -> Seq("MainEntity/BusinessAddress/AddressDetails/Postcode", "AddressDetails/Postcode", "Postcode"),
    "abn_from" -> Seq("ABN@ABNStatusFromDate"),
    "gst_from" -> Seq("GST@GSTStatusFromDate"))

  private[sources] val rawSchema: StructType =
    StructType(fields.map(f => StructField(f._1, StringType)))

  /** Casts and derived columns over the raw record strings. */
  private def project(raw: DataFrame): DataFrame = {
    val state = col("state")
    val post = col("postcode")
    raw.select(
      trim(col("abn")).as("abn"),
      col("entity_name"),
      col("entity_type"),
      col("entity_status"),
      nullif(concat_ws(", ", state, post), lit("")).as("address"),
      post,
      state,
      // try_to_date: the reference lets Postgres null-reject bad dates
      // (SURVEY §1.3) — ANSI to_date would abort the whole ingest instead
      try_to_date(coalesce(nullif(trim(col("abn_from")), lit("")),
        nullif(trim(col("gst_from")), lit(""))), "yyyyMMdd").as("start_date"))
      .filter(col("abn").isNotNull && length(col("abn")) > 0)
  }

  /** A tracked element: every prefix of a projected path. `bit` flags
    * it in a record's seen-set (repeat detection); a leaf carries its
    * text column, and `attrs` the (attribute, column, priority)
    * triples read off its start tag. */
  private final class Node(val path: String, val bit: Long) {
    val children = new java.util.HashMap[String, Node]()
    var textCol: Int = -1
    var textPrio: Int = 0
    var attrs: List[(String, Int, Int)] = Nil
  }

  private val root: Node = {
    val r = new Node("", 0L)
    var nextBit = 0
    for (((_, paths), c) <- fields.zipWithIndex; (p, prio) <- paths.zipWithIndex) {
      val (elems, attr) = p.split('@') match {
        case Array(e, a) => (e, Some(a))
        case Array(e) => (e, None)
      }
      val node = elems.split('/').foldLeft(r) { (parent, name) =>
        val path = if (parent eq r) name else s"${parent.path}/$name"
        parent.children.computeIfAbsent(name, _ => { nextBit += 1; new Node(path, 1L << (nextBit - 1)) })
      }
      attr match {
        case Some(a) => node.attrs :+= ((a, c, prio))
        case None => node.textCol = c; node.textPrio = prio
      }
    }
    r
  }

  private val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def noRecords(source: String, cause: Throwable): IllegalArgumentException =
    new AbrInputException(s"no <ABR> records found under $source — corrupted or non-ABR input", cause)

  /** The records of one document, parsed lazily as the task consumes
    * them; the stream is closed at its end or when the task ends. */
  private final class Records(in: InputStream, source: String) extends Iterator[Row] {
    private val xml: XMLStreamReader =
      try factory.createXMLStreamReader(in)
      catch { case e: XMLStreamException => in.close(); throw noRecords(source, e) }
    private var found = 0L
    private var pending: Row = _
    private var open = true
    Option(TaskContext.get).foreach(_.addTaskCompletionListener[Unit](_ => close()))

    private def close(): Unit = if (open) { open = false; xml.close(); in.close() }

    override def hasNext: Boolean = {
      if (pending == null && open) advance()
      pending != null
    }

    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }

    private def advance(): Unit = {
      try {
        while (xml.hasNext) {
          if (xml.next() == XMLStreamConstants.START_ELEMENT && xml.getLocalName == "ABR") {
            found += 1
            pending = record()
            return
          }
        }
      } catch {
        case e: XMLStreamException =>
          close()
          throw (if (found == 0) noRecords(source, e)
            else new AbrInputException(s"malformed XML in $source after $found <ABR> records", e))
      }
      close()
      if (found == 0) throw noRecords(source, null)
    }

    /** Reader positioned on an `<ABR>` start tag; returns at its end tag. */
    private def record(): Row = {
      val out = new Array[String](fields.size)
      val prio = Array.fill(fields.size)(Int.MaxValue)
      // values as the XML source reports them: surrounding whitespace
      // trimmed; a present but empty value is "" and, like any present
      // value, wins over the lower-priority fallback paths
      def offer(c: Int, p: Int, v: String): Unit =
        if (p < prio(c)) { out(c) = v.trim; prio(c) = p }
      var stack = new Array[Node](16)
      stack(0) = root
      var depth = 0
      var seen = 0L
      val text = new java.lang.StringBuilder
      while (true) {
        xml.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            val parent = stack(depth)
            val node = if (parent == null) null else parent.children.get(xml.getLocalName)
            depth += 1
            if (depth == stack.length) stack = java.util.Arrays.copyOf(stack, depth * 2)
            stack(depth) = node
            if (node != null) {
              if ((seen & node.bit) != 0) throw new AbrInputException(
                s"XML path '${node.path}' hits a REPEATED element in $source (record $found) — " +
                  "deduplicate the extract or project the array explicitly", null)
              seen |= node.bit
              for ((a, c, p) <- node.attrs) {
                val v = xml.getAttributeValue(null, a)
                if (v != null) offer(c, p, v)
              }
              if (node.textCol >= 0) text.setLength(0)
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA | XMLStreamConstants.SPACE =>
            val node = stack(depth)
            if (node != null && node.textCol >= 0)
              text.append(xml.getTextCharacters, xml.getTextStart, xml.getTextLength)
          case XMLStreamConstants.END_ELEMENT =>
            if (depth == 0) return Row.fromSeq(out.toSeq)
            val node = stack(depth)
            depth -= 1
            if (node != null && node.textCol >= 0) offer(node.textCol, node.textPrio, text.toString)
          case _ =>
        }
      }
      throw new IllegalStateException // unreachable: the loop returns at </ABR>
    }
  }
}

/** A loud ABR input failure. As a user-facing [[SparkThrowable]] (the
  * condition Spark's own `raise_error` uses) the scheduler rethrows it
  * from a failed task as itself, not wrapped in "Job aborted", so the
  * caller of an action sees the IllegalArgumentException. */
final class AbrInputException(msg: String, cause: Throwable)
    extends IllegalArgumentException(msg, cause) with SparkThrowable {
  override def getCondition: String = "USER_RAISED_EXCEPTION"
  override def getMessageParameters: java.util.Map[String, String] =
    java.util.Map.of("errorMessage", msg)
}
