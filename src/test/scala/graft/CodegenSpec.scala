package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._

import graft.functions.{Names, Similarity}
import graft.plans._

/** The kernel expressions all implement `doGenCode` (no
  * CodegenFallback anywhere in the library): this suite proves the
  * GENERATED code actually compiles (CODEGEN_ONLY + fallback=false
  * turns a janino error into a test failure instead of a silent
  * interpreted retreat) and is value-identical to the interpreted
  * `eval` path (NO_CODEGEN run of the same frame). */
class CodegenSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val old = pairs.map(p => p._1 -> spark.conf.getOption(p._1))
    pairs.foreach(p => spark.conf.set(p._1, p._2))
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val codebook: Array[Array[Array[Double]]] = Array(
    Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(-1.0, 2.0)),
    Array(Array(0.5, -0.5), Array(2.0, 0.0), Array(0.0, 3.0)))

  /** One frame touching every kernel expression, including the
    * null/empty/non-ASCII edges whose handling differs between the
    * nullSafe wrapper and the custom doGenCode branches. */
  private def kernelFrame(): DataFrame = {
    val rows = Seq(
      ("ACME PTY LTD", "ACME HOLDINGS PTY LTD",
        "the quick brown fox jumps over the lazy dog and runs off fast",
        "Acme Pty Ltd | Official Site", Seq(1.0, 2.0, 0.5, -1.0), Seq(1.0, 0.0, 0.5, 2.0)),
      (null, "ZED BEARING SUPPLIES",
        "one two three one two three one two",
        null, Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0, 1.0)),
      ("Café Müller & Co", "CAFE MULLER", "short", "123 - 456",
        null, Seq(2.0, -3.0, 4.0, 5.0)),
      ("A", "", "", "Best Company Pty Ltd - Home", Seq(1.5, 2.5), Seq(0.5, 0.5, 0.5, 0.5)))
      .toDF("ln", "rn", "text", "title", "va", "vb")
    val prepped = rows
      .withColumn("left_norm", Names.normalizeName(col("ln")))
      .withColumn("right_norm", Names.normalizeName(col("rn")))
      .withColumn("left_sorted", Similarity.tokenSortJoin(col("left_norm")))
      .withColumn("right_sorted", Similarity.tokenSortJoin(col("right_norm")))
      .withColumn("left_set", Similarity.tokenSet(col("left_norm")))
      .withColumn("right_set", Similarity.tokenSet(col("right_norm")))
      .withColumn("left_kw", Names.keywordsArr(col("ln")))
      .withColumn("right_kw", Names.keywordsArr(col("rn")))
    prepped.select(
      // NameExprs
      NameExprs.normalizeName(col("ln")).as("norm"),
      NameExprs.keywordsArr(col("ln")).as("kws"),
      NameExprs.extractFromTitle(col("title")).as("extracted"),
      NameExprs.isValidCompanyName(col("ln")).as("valid"),
      // hashing kernels
      ShingleHashes64.column(col("text"), 3).as("sh31"),
      ShingleHashes64.column60(col("text"), 3).as("sh60"),
      WinnowFingerprints64.column(col("text"), 3, 4).as("winnow"),
      MinHashSig.column(ShingleHashes64.column(col("text"), 3), 8).as("sig"),
      SimHash64.column(ShingleHashes64.tokenColumn(col("text")), 16).as("simhash"),
      // similarity kernels
      JaccardLong100.column(ShingleHashes64.column(col("text"), 2),
        ShingleHashes64.column(col("text"), 3)).as("jacc"),
      RatioScore.column(col("left_norm"), col("right_norm")).as("ratio"),
      FuzzyBestScore.column(
        col("left_sorted"), col("right_sorted"), col("left_norm"), col("right_norm"),
        col("left_set"), col("right_set"), col("left_kw"), col("right_kw"),
        60, 30).as("fuzzy"),
      // vector kernels
      VecExprs.dot(col("va"), col("vb")).as("dot"),
      VecExprs.lshBuckets(col("va"), 8, 2).as("lsh"),
      VecExprs.pqEncode(col("va"), codebook).as("pq"),
      VecExprs.pqPairDot(VecExprs.pqEncode(col("va"), codebook),
        VecExprs.pqEncode(col("vb"), codebook), codebook, codebook).as("pqdot"),
      VecExprs.pqReconSqErr(col("va"), codebook).as("pqrecon"),
      VecExprs.sigAgree(MinHashSig.column(ShingleHashes64.column(col("text"), 3), 8),
        MinHashSig.column(ShingleHashes64.column(col("text"), 2), 8)).as("sigagree"),
      SortedDistinctLongs.column(ShingleHashes64.column(col("text"), 3)).as("sorteddistinct"),
      // token-string kernels
      TokenExprs.lower(col("ln")).as("lower"),
      TokenExprs.tokenSortJoin(col("left_norm")).as("toksortjoin"),
      TokenExprs.tokenSet(col("left_norm")).as("tokset"),
      TokenExprs.charNgramSet(col("text"), 3, 60).as("charngrams"),
      TokenExprs.tokenSetRatio100(col("left_set"), col("right_set")).as("toksetratio"),
      TokenExprs.wordShingles(col("text"), 2).as("wordshingles"),
      TokenExprs.pickJoin(split(col("text"), " "),
        sequence(lit(0), size(split(col("text"), " ")) - 1)).as("pickjoin"),
      TokenExprs.unkText(split(col("text"), " "),
        slice(sequence(lit(0), size(split(col("text"), " ")) - 1), 1, 2)).as("unktext"),
      TokenExprs.polyFingerprint(col("text"), 64).as("polyfp"),
      TokenExprs.wordlistHits(col("text"), Seq("the", "over", "two")).as("wlhits"),
      TokenExprs.sumTokenChars(col("text")).as("sumtok"),
      TokenExprs.chunkStarts(size(split(col("text"), " ")), 6, 4).as("chunkstarts"))
  }

  test("no kernel expression falls back to interpreted codegen") {
    val kernels: Seq[Class[_]] = Seq(
      classOf[ShingleHashes64], classOf[SimHash64], classOf[WinnowFingerprints64],
      classOf[MinHashSig], classOf[JaccardLong100], classOf[RatioScore],
      classOf[FuzzyBestScore], classOf[NormalizeName], classOf[KeywordsArr],
      classOf[ExtractFromTitle], classOf[IsValidCompanyName],
      classOf[VecDot], classOf[LshBuckets], classOf[PqEncode], classOf[PqPairDot],
      classOf[SigAgree], classOf[SortedDistinctLongs],
      classOf[TokenSortJoinExpr], classOf[TokenSetStrings],
      classOf[CharNgramSet], classOf[TokenSetRatio100],
      classOf[WordShingles], classOf[PickJoin],
      classOf[UnkTextExpr], classOf[PolyFingerprint],
      classOf[WordlistHitsExpr], classOf[SumTokenChars],
      classOf[ChunkStartsExpr], classOf[PqReconSqErr], classOf[LowerCase])
    for (k <- kernels)
      assert(!classOf[CodegenFallback].isAssignableFrom(k),
        s"${k.getSimpleName} still extends CodegenFallback")
  }

  test("generated code compiles and matches interpreted eval on every kernel") {
    // CODEGEN_ONLY: a projection that can't compile throws instead of
    // silently running interpreted; fallback=false does the same for
    // whole-stage compilation.
    val gen = withConf(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      kernelFrame().collect()
    }
    val interp = withConf(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false") {
      kernelFrame().collect()
    }
    assert(gen.length == interp.length)
    for ((g, i) <- gen.zip(interp))
      assert(g.toString == i.toString, s"codegen=$g interpreted=$i")
  }
}
