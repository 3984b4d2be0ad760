package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextStats}
import graft.model.Tables

/** Text-analysis + multimodal-metadata operators over the documents
  * corpus (north-star LLM-pipeline family).
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.spread(Tables.load(s, d, n))

  /** Deterministic PII decoration — identical SQL text on both sides. */
  private val piiDecor =
    "concat('Contact u', CAST(doc_id AS STRING), '@example.com or +61 4', " +
      "lpad(CAST(doc_id * 7 % 100000000 AS STRING), 8, '0'), ' re: ', substr(text, 1, 80))"

  val queries: Map[String, Q] = Map(
    // T-1: wordlist classification (language-ID heuristic shape)
    "t1_classify" -> ((s, d) => {
      val hitCols = TextStats.classes.map { case (name, ws) =>
        TextStats.wordlistHits(col("text"), ws).as(s"hits_$name")
      }
      t(s, d, "documents")
        .select(col("doc_id") +: hitCols :+ TextStats.classify(col("text")).as("predicted"): _*)
        .orderBy(col("doc_id"))
    }),

    // T-2: heuristic quality score 0..100
    "t2_quality_score" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // T-3: token counting — whitespace + BPE-ish regex
    "t3_token_counts" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextStats.wsTokenCount(col("text")).as("ws_tokens"),
          TextStats.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))),

    // T-4: rolling-hash document fingerprint (first 64 chars)
    "t4_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Hashing.fingerprint(col("text"), 64).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // T-5: PII redaction (training-data scrubbing) — documents decorated
    // with deterministic synthetic emails/phones via the SAME SQL text
    // both engines run, then redacted + audited
    "t5_redact" -> ((s, d) => {
      val (ne, np) = TextStats.piiCounts(col("text"))
      t(s, d, "documents").selectExpr("doc_id", s"$piiDecor AS text")
        .select(col("doc_id"), TextStats.redactPii(col("text")).as("redacted"), ne, np)
        .orderBy(col("doc_id"))
    }),

    // T-7: per-doc top-3 keywords by integer-exact TF-IDF rank —
    // vocabulary-sized doc-freq table broadcast back onto the linear
    // per-doc term counts
    // not spread: tfidfTopK hash-distributes by id itself, and a spread
    // under that repartition is not collapsed into it (a second exchange)
    "t7_tfidf_topk" -> ((s, d) =>
      graft.operators.CorpusStats.tfidfTopK(
          Tables.load(s, d, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rk"))),

    // T-8: cross-document boilerplate ratio — fraction of a doc's
    // distinct word-3-grams appearing in >= 3 docs; the shared-gram
    // head set is small and broadcast
    "t8_boilerplate" -> ((s, d) =>
      graft.operators.CorpusStats.boilerplateRatio(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 3, minDf = 3L)
        .orderBy(col("doc_id"))),

    // T-9: corpus-boilerplate REMOVAL — the transform t8 only measures:
    // scrub every token covered by a word-3-gram shared by >= 3 docs,
    // keep the rest in order. The oracle rebuilds positional grams,
    // covered positions, and the ordered reassembly independently.
    "t9_scrub_boilerplate" -> ((s, d) =>
      graft.operators.CorpusStats.removeSharedSpans(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 3, minDf = 3L)
        .orderBy(col("doc_id"))),

    // T-11: vocabulary pruning with <unk> rewrite — the tokenizer-prep
    // step: keep tokens present in >= half the documents, replace the
    // rare tail with <unk>, report per-doc OOV counts. The kept
    // vocabulary (high-df head) broadcasts onto the positional token
    // stream; only OOV positions shuffle back; the text rewrite is one
    // narrow transform.
    "t11_oov_unk" -> ((s, d) =>
      graft.operators.CorpusStats.oovScrub(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", num = 1, den = 2)
        .orderBy(col("doc_id"))),

    // T-12: bigram-fluency quality proxy — average corpus frequency of
    // a doc's word bigrams, integer-exact (sum DIV count). The cheap
    // LM-free fluency signal: garbled text pairs words the corpus
    // never pairs.
    "t12_bigram_fluency" -> ((s, d) =>
      graft.operators.CorpusStats.bigramFluency(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    // T-13: trained-classifier scoring — apply a linear model (here a
    // deterministic stand-in: the 200 highest-df tokens weighted by
    // hash64 % 21 - 10) to every document via the model-table join,
    // the fasttext-quality-filter shape. TakeOrderedAndProject builds
    // the vocabulary head (no global sort); the unhinted model join
    // lets AQE broadcast it.
    "t13_classifier_score" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val toks = docs.select(col("doc_id"),
        explode(graft.functions.Hashing.tokens(col("text"))).as("tok"))
      val model = toks.distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok")).limit(200)
        .select(col("tok"),
          (graft.functions.Hashing.hash64(col("tok")) % 21 - 10).as("w"))
      graft.operators.CorpusStats.linearModelScore(
          docs, "doc_id", "text", model, "tok", "w", bias = 0L)
        .orderBy(col("doc_id"))
    }),

    // T-10: exact corpus heavy hitters (tokens above a frequency
    // share) via per-partition Misra–Gries + recount of survivors —
    // the shuffle never carries the vocabulary tail, only candidates,
    // yet the integer cutoff makes the result exact and oracle-able.
    "t10_heavy_hitters" -> ((s, d) =>
      graft.operators.CorpusStats.heavyHitters(
          t(s, d, "documents"), "text", threshold = 200)
        .orderBy(col("cnt").desc, col("token"))),

    // M-1: opaque binary column + typed metadata (multimodal plumbing)
    "m1_binary_meta" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("doc_id"))),

    // M-2: the REAL PPM codec under the oracle gate — 8×4 P6 payloads
    // are built byte-exactly from a SQL formula (values 1..127, so
    // string→binary is one byte per char in both engines), parsed by
    // the actual header/raster walker in Multimodal.decode, and the
    // oracle derives dimensions + per-channel means INDEPENDENTLY from
    // the generation formula — a mis-parsed offset, channel order, or
    // header walk breaks the hash.
    "m2_ppm_decode" -> ((s, d) => {
      val withP = t(s, d, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id"))
        .withColumn("payload", expr(
          "CAST(concat('P6\n8 4\n127\n', concat_ws('', " +
            "transform(sequence(0, 95), i -> char(1 + pmod(doc_id * 31 + i * 7, 127))))) AS BINARY)"))
      graft.operators.Multimodal.decode(withP, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("format"),
          col("width"), col("height"), col("n_bytes").cast("int").as("n_bytes"),
          element_at(col("feature"), 1).as("f_r"),
          element_at(col("feature"), 2).as("f_g"),
          element_at(col("feature"), 3).as("f_b"))
        .orderBy(col("doc_id"))
    }),

    // M-3: the REAL WAV codec under the oracle gate — mono PCM-16
    // payloads assembled byte-exactly in SQL (44-byte canonical header
    // as a hex literal + 32 LE samples in [-512, 511] via two's
    // complement), parsed by the actual RIFF chunk walker. With 32
    // samples of <=10 bits, mono=s/32768 and mono^2 sums are exact
    // dyadic doubles, so sqrt is correctly rounded identically in both
    // engines: RMS, ZCR and energy windows are bitwise-comparable. The
    // oracle derives them from the sample formula, never from bytes.
    "m3_wav_decode" -> ((s, d) => {
      val sample = "pmod(pmod(doc_id * 37 + f * 11, 1024) - 512, 65536)"
      val withP = t(s, d, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id"))
        .withColumn("payload", expr(
          s"unhex(concat('$wavHeaderHex', concat_ws('', " +
            s"transform(sequence(0, 31), f -> concat(" +
            s"lpad(hex($sample % 256), 2, '0'), " +
            s"lpad(hex($sample div 256), 2, '0'))))))"))
      graft.operators.Multimodal.decode(withP, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("format"),
          col("width"), col("height"), col("n_bytes").cast("int").as("n_bytes"),
          element_at(col("feature"), 1).as("f_rms"),
          element_at(col("feature"), 2).as("f_zcr"),
          element_at(col("feature"), 3).as("f_e1"),
          element_at(col("feature"), 16).as("f_e14"))
        .orderBy(col("doc_id"))
    }),

    // M-4: resize→decode roundtrip under the oracle gate — the real
    // nearest-neighbor PPM downscale (8×4, factor 2 → 4×2) emits a
    // valid smaller P6 whose sampled pixel set {16y+2x} the oracle
    // reproduces arithmetically; a wrong stride, source index, or
    // rewritten header breaks the hash.
    "m4_ppm_resize" -> ((s, d) => {
      val withP = t(s, d, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id"))
        .withColumn("payload", expr(
          "CAST(concat('P6\n8 4\n127\n', concat_ws('', " +
            "transform(sequence(0, 95), i -> char(1 + pmod(doc_id * 31 + i * 7, 127))))) AS BINARY)"))
      val small = graft.operators.Multimodal.resize(withP, "doc_id", "payload", factor = 2)
      graft.operators.Multimodal.decode(small, "doc_id", "resized")
        .select(col("id").as("doc_id"), col("format"),
          col("width"), col("height"), col("n_bytes").cast("int").as("n_bytes"),
          element_at(col("feature"), 1).as("f_r"),
          element_at(col("feature"), 2).as("f_g"),
          element_at(col("feature"), 3).as("f_b"))
        .orderBy(col("doc_id"))
    })
  )

  /** Canonical 44-byte PCM-16 header, mono, 8 kHz, 64 data bytes —
    * RIFF/WAVE/fmt(16,PCM,1ch,8000Hz,16000Bps,align2,16bit)/data(64),
    * all multi-byte fields little-endian. */
  private val wavHeaderHex =
    "52494646" + "64000000" + "57415645" + "666d7420" + "10000000" +
      "0100" + "0100" + "401f0000" + "803e0000" + "0200" + "1000" +
      "64617461" + "40000000"

  val oracles: Map[String, String] = Map(
    "t1_classify" -> {
      val hitCols = TextStats.classes.map { case (name, ws) =>
        s"CAST(${TextStats.sql.wordlistHits("text", ws)} AS INT) AS hits_$name"
      }.mkString(", ")
      s"""SELECT doc_id, $hitCols, ${TextStats.sql.classify("text")} AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "t2_quality_score" ->
      s"""SELECT doc_id, ${TextStats.sql.qualityScore("text")} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t3_token_counts" ->
      s"""SELECT doc_id, CAST(${TextStats.sql.wsTokenCount("text")} AS INT) AS ws_tokens,
         |  CAST(${TextStats.sql.bpeTokenCount("text")} AS INT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      s"""SELECT doc_id, ${Hashing.sql.fingerprint("text", 64)} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_redact" -> {
      val (ne, np) = TextStats.sql.piiCounts("text")
      s"""SELECT doc_id, ${TextStats.sql.redactPii("text")} AS redacted,
         |  $ne AS n_emails, $np AS n_phones
         |FROM (SELECT doc_id, $piiDecor AS text FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "t12_bigram_fluency" ->
      // coalesce mirrors the operator: a NULL-text doc is one
      // whole-text '' bigram, never a dropped row
      s"""WITH bg AS (SELECT doc_id, unnest(${Hashing.sql.shingles("coalesce(text, '')", 2)}) AS bg
         |  FROM documents),
         |cnt AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
         |  CAST(sum(c) // count(*) AS BIGINT) AS fluency
         |FROM bg JOIN cnt USING (bg) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t13_classifier_score" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |dfc AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         |model AS (SELECT tok, ${Hashing.sql.hash64("tok")} % 21 - 10 AS w
         |  FROM dfc ORDER BY df DESC, tok LIMIT 200),
         |hits AS (SELECT t.doc_id, CAST(count(*) AS INT) AS n_hits,
         |    sum(w) AS raw
         |  FROM toks t JOIN model USING (tok) GROUP BY 1),
         |base AS (SELECT doc_id,
         |    CAST(len(string_split(coalesce(text, ''), ' ')) AS INT) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, n_tokens, coalesce(n_hits, 0) AS n_hits,
         |  CAST(coalesce(raw, 0) AS BIGINT) AS score,
         |  CASE WHEN coalesce(raw, 0) >= 0 THEN 'keep' ELSE 'drop' END AS label
         |FROM base LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin,
    "t11_oov_unk" ->
      // coalesce mirrors oovScrub: a NULL-text doc is one '' token row
      """WITH toks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, i, t[i] AS tok
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)),
        |dfc AS (SELECT tok, count(DISTINCT doc_id) AS df FROM pos GROUP BY tok),
        |n AS (SELECT count(*) AS nd FROM documents),
        |vocab AS (SELECT tok FROM dfc, n WHERE df * 2 >= nd * 1),
        |marked AS (SELECT p.doc_id, p.i, p.tok, v.tok IS NOT NULL AS iv
        |  FROM pos p LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS INT) AS n_oov,
        |  string_agg(CASE WHEN iv THEN tok ELSE '<unk>' END, ' ' ORDER BY i) AS unk_text
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t7_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfc AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS doc_freq FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, token, tf, doc_freq, score, rk FROM (
        |  -- same fixed double op order as the Scala side:
        |  -- ((tf*1e6)*n_docs)/doc_freq, each step correctly rounded
        |  SELECT t.doc_id, t.token, t.tf, f.doc_freq,
        |    CAST(t.tf AS DOUBLE) * 1000000 * n.n_docs / f.doc_freq AS score,
        |    CAST(row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY CAST(t.tf AS DOUBLE) * 1000000 * n.n_docs / f.doc_freq DESC, t.token ASC)
        |      AS INT) AS rk
        |  FROM tfc t JOIN dfq f USING (token), n)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "t8_boilerplate" ->
      s"""WITH grams AS (
         |  SELECT doc_id, unnest(${Hashing.sql.shingles("text", 3)}) AS gram FROM documents),
         |hashed AS (SELECT DISTINCT doc_id, ${Hashing.sql.hash64("gram")} AS gh
         |           FROM grams),
         |shared AS (SELECT gh FROM (
         |  SELECT gh, count(*) AS gdf FROM hashed GROUP BY 1) WHERE gdf >= 3),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM hashed GROUP BY 1),
         |sh AS (SELECT h.doc_id, count(*) AS n_shared
         |       FROM hashed h JOIN shared USING (gh) GROUP BY 1)
         |SELECT t.doc_id, t.n_grams, coalesce(s.n_shared, 0) AS n_shared,
         |  coalesce(s.n_shared, 0)::DOUBLE / t.n_grams::DOUBLE AS boilerplate_ratio
         |FROM tot t LEFT JOIN sh s USING (doc_id) ORDER BY doc_id""".stripMargin,
    "t10_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS total FROM toks),
        |cnt AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1)
        |SELECT token, cnt FROM cnt, tot WHERE cnt * 200 > total
        |ORDER BY cnt DESC, token""".stripMargin,
    "t9_scrub_boilerplate" ->
      """WITH base AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |pos AS (SELECT doc_id, text, toks,
        |          unnest(generate_series(0, greatest(len(toks) - 3, 0))) AS pos FROM base),
        |grams AS (SELECT doc_id, pos,
        |  CASE WHEN len(toks) >= 3
        |    THEN ('0x' || substr(md5(array_to_string(list_slice(toks, pos + 1, pos + 3), ' ')), 1, 15))::BIGINT
        |    ELSE ('0x' || substr(md5(text), 1, 15))::BIGINT END AS gh
        |  FROM pos),
        |shared AS (SELECT gh FROM (
        |  SELECT gh, count(*) AS gdf FROM (SELECT DISTINCT doc_id, gh FROM grams) GROUP BY 1)
        |  WHERE gdf >= 3),
        |hits AS (SELECT doc_id, pos, unnest([0, 1, 2]) AS off FROM grams JOIN shared USING (gh)),
        |covered AS (SELECT DISTINCT doc_id, pos + off AS cpos FROM hits),
        |tokpos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM base),
        |tp AS (SELECT doc_id, i - 1 AS tpos, toks[i] AS tok FROM tokpos),
        |kept AS (SELECT t.doc_id, t.tpos, t.tok FROM tp t
        |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.tpos = c.cpos
        |  WHERE c.cpos IS NULL),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |          string_agg(tok, ' ' ORDER BY tpos) AS cleaned FROM kept GROUP BY 1)
        |SELECT b.doc_id, CAST(len(b.toks) AS INT) AS n_tokens,
        |  CAST(coalesce(a.n_kept, 0) AS INT) AS n_kept,
        |  coalesce(a.cleaned, '') AS cleaned
        |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    "m1_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(text::BLOB) AS INT) AS n_bytes, md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m2_ppm_decode" ->
      """WITH px AS (
        |  SELECT doc_id, unnest(generate_series(0, 31)) AS p
        |  FROM documents WHERE doc_id < 200),
        |sums AS (SELECT doc_id,
        |    sum(1 + (doc_id * 31 + 21 * p) % 127) AS sr,
        |    sum(1 + (doc_id * 31 + 21 * p + 7) % 127) AS sg,
        |    sum(1 + (doc_id * 31 + 21 * p + 14) % 127) AS sb
        |  FROM px GROUP BY 1)
        |SELECT doc_id, 'ppm' AS format, 8 AS width, 4 AS height, 107 AS n_bytes,
        |  CAST(sr::DOUBLE / 32 / 127 * 2 - 1 AS REAL) AS f_r,
        |  CAST(sg::DOUBLE / 32 / 127 * 2 - 1 AS REAL) AS f_g,
        |  CAST(sb::DOUBLE / 32 / 127 * 2 - 1 AS REAL) AS f_b
        |FROM sums ORDER BY doc_id""".stripMargin,
    "m3_wav_decode" ->
      """WITH fr AS (
        |  SELECT doc_id, unnest(generate_series(0, 31)) AS f
        |  FROM documents WHERE doc_id < 200),
        |sm AS (SELECT doc_id, f, (doc_id * 37 + f * 11) % 1024 - 512 AS s FROM fr),
        |lg AS (SELECT doc_id, f, s,
        |         lag(s) OVER (PARTITION BY doc_id ORDER BY f) AS ps FROM sm),
        |agg AS (SELECT doc_id,
        |    sum(s * s) AS ssq,
        |    sum(CASE WHEN f > 0 AND (s >= 0) <> (ps >= 0) THEN 1 ELSE 0 END) AS nc,
        |    sum(CASE WHEN f * 14 // 32 = 0 THEN s * s ELSE 0 END) AS sw0,
        |    sum(CASE WHEN f * 14 // 32 = 13 THEN s * s ELSE 0 END) AS sw13,
        |    count(CASE WHEN f * 14 // 32 = 0 THEN 1 END) AS cw0,
        |    count(CASE WHEN f * 14 // 32 = 13 THEN 1 END) AS cw13
        |  FROM lg GROUP BY 1)
        |SELECT doc_id, 'wav' AS format, 32 AS width, 1 AS height, 108 AS n_bytes,
        |  CAST(sqrt(ssq::DOUBLE / 34359738368) * 2 - 1 AS REAL) AS f_rms,
        |  CAST(nc::DOUBLE / 31 * 2 - 1 AS REAL) AS f_zcr,
        |  CAST(sqrt(sw0::DOUBLE / 1073741824 / cw0) * 2 - 1 AS REAL) AS f_e1,
        |  CAST(sqrt(sw13::DOUBLE / 1073741824 / cw13) * 2 - 1 AS REAL) AS f_e14
        |FROM agg ORDER BY doc_id""".stripMargin,
    "m4_ppm_resize" ->
      """WITH px AS (
        |  SELECT doc_id, unnest(generate_series(0, 7)) AS q
        |  FROM documents WHERE doc_id < 200),
        |sums AS (SELECT doc_id,
        |    sum(1 + (doc_id * 31 + 21 * ((q // 4) * 16 + (q % 4) * 2)) % 127) AS sr,
        |    sum(1 + (doc_id * 31 + 21 * ((q // 4) * 16 + (q % 4) * 2) + 7) % 127) AS sg,
        |    sum(1 + (doc_id * 31 + 21 * ((q // 4) * 16 + (q % 4) * 2) + 14) % 127) AS sb
        |  FROM px GROUP BY 1)
        |SELECT doc_id, 'ppm' AS format, 4 AS width, 2 AS height, 35 AS n_bytes,
        |  CAST(sr::DOUBLE / 8 / 127 * 2 - 1 AS REAL) AS f_r,
        |  CAST(sg::DOUBLE / 8 / 127 * 2 - 1 AS REAL) AS f_g,
        |  CAST(sb::DOUBLE / 8 / 127 * 2 - 1 AS REAL) AS f_b
        |FROM sums ORDER BY doc_id""".stripMargin
  )
}
