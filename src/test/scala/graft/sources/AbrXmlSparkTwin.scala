package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference twin of [[AbrXml.read]]: the ABR XML read through Spark's
  * built-in XML source (`rowTag = "ABR"`, a schema-inference scan, then
  * a column-level projection of the inferred schema). The engine's
  * one-pass StAX reader is property-checked equal to it in
  * AbrXmlParitySpec, on every fixture the ingest specs use plus a
  * generated dirty corpus.
  *
  * Field navigation mirrors the reference's fallback lookups
  * (find_text exact-path → deep search, scripts/extract_abr.py:69-77):
  *  - abn / status / ABNStatusFromDate from the ABN element + attributes
  *    (:114-117)
  *  - entity_type: EntityType/EntityTypeText → EntityTypeText (:121-123)
  *  - entity_name: MainEntity/NonIndividualName/NonIndividualNameText →
  *    NonIndividualNameText (:126-128)
  *  - state/postcode: AddressDetails paths (:131-133)
  *  - start_date = ABNStatusFromDate else GSTStatusFromDate, yyyyMMdd
  *    (:136-139)
  *  - address = ", "-join of present(state, postcode), null if both
  *    absent (:133)
  */
object AbrXmlSparkTwin {

  /** Read ABR rows from XML file(s) into the staging_abr shape.
    * Schema inference is OFF: bulk-extract attributes are dirty (empty
    * date strings next to yyyyMMdd values would infer LONG and null out
    * whole records in PERMISSIVE mode); everything lands as string and
    * [[project]] applies explicit, null-guarded casts. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.format("xml")
      .option("rowTag", "ABR")
      .option("inferSchema", "false")
      .load(path)
    // curated-source loud-failure policy (same as the repeated-element
    // guard): a corrupted or non-ABR download infers NO real fields —
    // the schema is empty or only `_corrupt_record` — and without this
    // check it would silently project to an all-null frame. "Ingest
    // succeeded, 0 records" is the worst failure mode for a government
    // bulk extract. Schema inspection is driver-side plan state; no
    // extra Spark job runs. (A corpus with real fields plus SOME
    // corrupt rows still loads — per-row dirt is the tolerated case.)
    require(raw.schema.fieldNames.exists(_ != "_corrupt_record"),
      s"no <ABR> records found under $path — corrupted or non-ABR input")
    project(raw)
  }

  /** Column-level mapping from the inferred XML schema; tolerant of
    * absent optional subtrees via a resolve-or-null helper. */
  def project(raw: DataFrame): DataFrame = {
    def opt(path: String) =
      if (hasPath(raw, path)) col(path).cast("string") else lit(null).cast("string")
    val state = coalesce(opt("MainEntity.BusinessAddress.AddressDetails.State"),
      opt("AddressDetails.State"), opt("State"))
    val post = coalesce(opt("MainEntity.BusinessAddress.AddressDetails.Postcode"),
      opt("AddressDetails.Postcode"), opt("Postcode"))
    // ABN fallback: an extract whose <ABN> elements carry no attributes
    // anywhere infers the field as a plain string leaf, not a struct —
    // without this branch, opt("ABN._VALUE") resolves absent, abn is
    // null for every row, and the non-empty filter silently empties the
    // corpus ("ingest succeeded, 0 records" — the failure mode the
    // read() require exists to prevent, bypassed because real fields DO
    // exist). Guarded on the leaf TYPE: when ABN is the attribute
    // struct, casting it to string would stringify the struct.
    val abn =
      if (hasPath(raw, "ABN._VALUE")) opt("ABN._VALUE")
      else if (raw.schema.fieldNames.contains("ABN") &&
          raw.schema("ABN").dataType ==
            org.apache.spark.sql.types.StringType) col("ABN").cast("string")
      else lit(null).cast("string")
    raw.select(
      trim(abn).as("abn"),
      coalesce(opt("MainEntity.NonIndividualName.NonIndividualNameText"),
        opt("NonIndividualNameText")).as("entity_name"),
      coalesce(opt("EntityType.EntityTypeText"), opt("EntityTypeText")).as("entity_type"),
      opt("ABN._status").as("entity_status"),
      nullif(concat_ws(", ", state, post), lit("")).as("address"),
      post.as("postcode"),
      state.as("state"),
      // try_to_date: the reference lets Postgres null-reject bad dates
      // (SURVEY §1.3) — ANSI to_date would abort the whole ingest instead
      try_to_date(coalesce(nullif(trim(opt("ABN._ABNStatusFromDate")), lit("")),
        nullif(trim(opt("GST._GSTStatusFromDate")), lit(""))),
        "yyyyMMdd").as("start_date"))
      .filter(col("abn").isNotNull && length(col("abn")) > 0)
  }

  private def hasPath(df: DataFrame, path: String): Boolean = {
    import org.apache.spark.sql.types._
    def step(dt: DataType, parts: List[String]): Boolean = (dt, parts) match {
      // XML structure inference is corpus-wide: ONE file with a repeated
      // element turns the field into array<...> for EVERY record.
      // Treating that as "absent" would silently null the projected
      // column corpus-wide (and the abn filter would then drop every
      // row), and a repeated LEAF (path ends AT the array) would
      // otherwise stringify to "[a, b]" — dirty bulk extracts must
      // fail loudly either way. The array case therefore precedes the
      // terminal case: a path that ends at or crosses a plausible
      // repeated element throws.
      case (ArrayType(elem, _), parts) =>
        if (parts.isEmpty || step(elem, parts))
          throw new IllegalArgumentException(
            s"XML path '$path' hits a REPEATED element (inferred array) — " +
              "some input file carries duplicate occurrences of this element; " +
              "deduplicate the extract or project the array explicitly")
        else false
      case (_, Nil) => true
      case (s: StructType, h :: t) =>
        s.fields.find(_.name == h).exists(f => step(f.dataType, t))
      case _ => false
    }
    step(df.schema, path.split('.').toList)
  }
}
