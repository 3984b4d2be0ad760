package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Token-string kernels: the last interpreted higher-order-function
  * population in the hot plans (ArraySort is a HOF — CodegenFallback,
  * one boxed comparator lambda call per comparison per row; `transform`
  * likewise per element).
  *
  * Each expression is value-identical to the declarative chain it
  * replaces (kept as `*Declarative` twins in the test tree's
  * SimilarityTwin / HashingTwin and property-checked equal in
  * SimilaritySpec/DedupSpec):
  *
  *  - [[TokenSortJoinExpr]] == `array_join(array_sort(split(c," ")), " ")`
  *  - [[TokenSetStrings]]   == `array_sort(array_distinct(split(c," ")))`
  *  - [[CharNgramSet]]      == the char-n-gram chain: substr →
  *    transform-gram → distinct → sort, with the short-string edge
  *  - [[TokenSetRatio100]]  == the greatest of the three set-op
  *    component ratios of the token-set-ratio chain, on non-null sets
  *
  * Exactness domains: splitting on the 0x20 byte equals regex-splitting
  * on " " for all valid UTF-8 (a space byte never occurs inside a
  * multi-byte sequence), and UTF8String binary order IS array_sort's
  * string order, so the first three are exact on any valid UTF-8 input.
  * TokenSetRatio100 additionally runs byte-level levenshtein and so
  * carries [[FuzzyBestScore]]'s ASCII contract — every call site feeds
  * it normalizeName output ([A-Za-z0-9 ] only).
  *
  * Codegen emits one static [[KernelOps]] call (whole-stage-friendly,
  * no interpreted-eval boundary).
  */
case class TokenSortJoinExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_token_sort_join", Seq(TypeChecks.string("text", child.dataType)))
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.tokenSortJoin(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.tokenSortJoin($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `lower()` without Spark's ICU table initialization (see
  * [[KernelOps.lower]]); value-identical to Spark's `lower()` under its
  * default ICU case mappings, property-checked in AdversarialTextSpec. */
case class LowerCase(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_lower", Seq(TypeChecks.string("text", child.dataType)))
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.lower(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.lower($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted distinct token array — the per-side similarity-join prep. */
case class TokenSetStrings(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_token_set", Seq(TypeChecks.string("text", child.dataType)))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.tokenSet(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.tokenSet($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted distinct char-n-gram set of the first `maxLen` chars; a
  * non-null string shorter than n contributes itself as one gram
  * (the declarative `when(len >= n, …).when(isNotNull, array(s))`). */
case class CharNgramSet(child: Expression, n: Int, maxLen: Int) extends UnaryExpression {
  // n = 0 would emit len+1 empty grams that dedupe to [""] — every
  // document's gram set identical; maxLen = 0 likewise collapses all
  // inputs to [""] silently
  require(n >= 1, s"need gram size n >= 1, got $n")
  require(maxLen >= 1, s"need maxLen >= 1, got $maxLen")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_char_ngrams", Seq(TypeChecks.string("text", child.dataType)))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.charNgramSet(v.asInstanceOf[UTF8String], n, maxLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.charNgramSet($c, $n, $maxLen)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** token_set_ratio over precomputed sorted distinct token arrays; null
  * if either set is null. (The declarative twin scores a null side 100
  * — `greatest(null, null, ratio("",""))` — and that legacy edge lives
  * only at its one boundary, `Similarity.tokenSetRatioFromSets`.) */
case class TokenSetRatio100(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_token_set_ratio",
      Seq(TypeChecks.stringArray("left_set", left.dataType),
        TypeChecks.stringArray("right_set", right.dataType)))
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(l: Any, r: Any): Any =
    KernelOps.tokenSetRatio100(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"graft.plans.KernelOps.tokenSetRatio100($l, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Word-k-shingle strings in position order — zero-copy slices of the
  * input (see [[KernelOps.wordShingles]]); a doc shorter than k tokens
  * contributes its whole text as one shingle. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  // k = 0 would emit n+1 empty-window shingles of nonsense spans; the
  // declarative twin's sequence(0, n-k) would likewise misbehave
  require(k >= 1, s"need shingle size k >= 1, got $k")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_word_shingles", Seq(TypeChecks.string("text", child.dataType)))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.wordShingles(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.wordShingles($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `array_join(transform(pos, p => element_at(toks, p+1)), " ")` — the
  * scrub-tail rebuild. Null edges pinned to the declarative chain:
  * null pos → null; null toks with non-null pos → "" (every element_at
  * nulls and array_join skips them all). Out-of-range or null POSITIONS
  * are a loud error (unreachable from scrubCovered's construction;
  * the ANSI element_at would also error past the array end). */
case class PickJoin(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_pick_join",
      Seq(TypeChecks.stringArray("toks", left.dataType),
        TypeChecks.intArray("pos", right.dataType)))
  override def dataType: DataType = StringType
  override def nullable: Boolean = right.nullable
  override def eval(input: InternalRow): Any = {
    val pos = right.eval(input)
    if (pos == null) return null
    val toks = left.eval(input)
    if (toks == null) UTF8String.EMPTY_UTF8
    else KernelOps.pickJoin(toks.asInstanceOf[ArrayData], pos.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val resultCode = code"""
      |${r.code}
      |boolean ${ev.isNull} = ${r.isNull};
      |UTF8String ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${l.code}
      |  ${ev.value} = ${l.isNull}
      |    ? UTF8String.EMPTY_UTF8
      |    : graft.plans.KernelOps.pickJoin(${l.value}, ${r.value});
      |}
    """.stripMargin
    ev.copy(code = resultCode)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The oovScrub `<unk>` rewrite (see [[KernelOps.unkText]]). */
case class UnkTextExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_unk_text",
      Seq(TypeChecks.stringArray("toks", left.dataType),
        TypeChecks.intArray("oov", right.dataType)))
  override def dataType: DataType = StringType
  override protected def nullSafeEval(toks: Any, oov: Any): Any =
    KernelOps.unkText(toks.asInstanceOf[ArrayData], oov.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, o) => s"graft.plans.KernelOps.unkText($t, $o)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sliding-window chunk start positions (see
  * [[KernelOps.chunkStarts]]). */
case class ChunkStartsExpr(child: Expression, chunkSize: Int, stride: Int)
    extends UnaryExpression {
  require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
    "need 0 < stride <= chunkSize")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_chunk_starts", Seq(TypeChecks.integer("n", child.dataType)))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.chunkStarts(v.asInstanceOf[Int], chunkSize, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.chunkStarts($c, $chunkSize, $stride)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Wordlist token hits with multiplicity (see
  * [[KernelOps.wordlistHits]]); the wordlist rides in the generated
  * class's reference array like [[PqEncode]]'s codebook. */
case class WordlistHitsExpr(child: Expression, words: Seq[String]) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_wordlist_hits", Seq(TypeChecks.string("text", child.dataType)))
  override def dataType: DataType = IntegerType
  @transient private lazy val wordBytes: Array[Array[Byte]] =
    words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.wordlistHits(v.asInstanceOf[UTF8String], wordBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("wordlist", wordBytes, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.wordlistHits($c, $w)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Summed token code-point lengths (see [[KernelOps.sumTokenChars]]). */
case class SumTokenChars(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_sum_token_chars", Seq(TypeChecks.string("text", child.dataType)))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.sumTokenChars(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.sumTokenChars($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Rolling polynomial fingerprint (see [[KernelOps.polyFingerprint]]). */
case class PolyFingerprint(child: Expression, maxLen: Int) extends UnaryExpression {
  require(maxLen >= 1, s"need maxLen >= 1, got $maxLen")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_fingerprint", Seq(TypeChecks.string("text", child.dataType)))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.polyFingerprint(v.asInstanceOf[UTF8String], maxLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.polyFingerprint($c, $maxLen)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokenExprs {
  def lower(c: Column): Column =
    ExprBridge.toColumn(LowerCase(ExprBridge.toExpression(c)))
  def tokenSortJoin(c: Column): Column =
    ExprBridge.toColumn(TokenSortJoinExpr(ExprBridge.toExpression(c)))
  def tokenSet(c: Column): Column =
    ExprBridge.toColumn(TokenSetStrings(ExprBridge.toExpression(c)))
  def charNgramSet(c: Column, n: Int, maxLen: Int): Column =
    ExprBridge.toColumn(CharNgramSet(ExprBridge.toExpression(c), n, maxLen))
  def tokenSetRatio100(ta: Column, tb: Column): Column =
    ExprBridge.toColumn(TokenSetRatio100(ExprBridge.toExpression(ta), ExprBridge.toExpression(tb)))
  def wordShingles(c: Column, k: Int): Column =
    ExprBridge.toColumn(WordShingles(ExprBridge.toExpression(c), k))
  def pickJoin(toks: Column, pos: Column): Column =
    ExprBridge.toColumn(PickJoin(ExprBridge.toExpression(toks), ExprBridge.toExpression(pos)))
  def unkText(toks: Column, oov: Column): Column =
    ExprBridge.toColumn(UnkTextExpr(ExprBridge.toExpression(toks), ExprBridge.toExpression(oov)))
  def polyFingerprint(c: Column, maxLen: Int): Column =
    ExprBridge.toColumn(PolyFingerprint(ExprBridge.toExpression(c), maxLen))
  def wordlistHits(c: Column, words: Seq[String]): Column =
    ExprBridge.toColumn(WordlistHitsExpr(ExprBridge.toExpression(c), words))
  def sumTokenChars(c: Column): Column =
    ExprBridge.toColumn(SumTokenChars(ExprBridge.toExpression(c)))
  def chunkStarts(n: Column, chunkSize: Int, stride: Int): Column =
    ExprBridge.toColumn(ChunkStartsExpr(ExprBridge.toExpression(n), chunkSize, stride))
}
