package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Names

/** Compact Catalyst expressions for the F-5..F-8 name operators
  * (reference scripts/entity_matching.py:43-153).
  *
  * Value-identical to the declarative `regexp_replace`/`rlike` chains
  * over [[graft.functions.Names]]' pattern lists (the test tree's
  * NamesTwin, property-checked equal in NamesSpec) and to the DuckDB
  * SQL the oracle runs — all three derive from the SAME pattern lists.
  *
  * Why an expression and not the chain: Catalyst re-inlines a chained
  * alias into every consumer (filter pushdown substitutes it into each
  * predicate; a prepSide derives sorted/set/kw from norm), so the
  * ~27-node regex chain appears 3-6× per plan — a combinatorial codegen
  * blowup costing Janino seconds per query, plus 26 intermediate
  * UTF8String↔String conversions per evaluation. One expression node is
  * substituted for free, converts once each way, and runs precompiled
  * `java.util.regex` patterns back to back — the same engine Spark's
  * regexp_replace uses, so results are bit-identical.
  *
  * UTF8String trim/toUpperCase are used where the declarative chain
  * uses Spark's `trim`/`upper` (space-only trim; collation-default
  * upper) — NOT java.lang.String.trim, which strips all <= 0x20.
  */
private[graft] object NameRegex {
  // normalize_name chain, in application order (entities → noise →
  // abbrevs → punct strip → whitespace collapse)
  val entityReplaces: Array[(Pattern, String)] = Array(
    Pattern.compile("&AMP;") -> "&",
    Pattern.compile("&QUOT;") -> "\"",
    Pattern.compile("&LT;") -> "<",
    Pattern.compile("&GT;") -> ">")
  val noise: Array[Pattern] = Names.noisePatterns.map(Pattern.compile).toArray
  val abbrevs: Array[(Pattern, String)] =
    Names.abbrevs.map { case (p, r) => Pattern.compile(p) -> r }.toArray
  val punct: Pattern = Pattern.compile("[^A-Za-z0-9 ]+")
  val ws: Pattern = Pattern.compile("\\s+")
  // pre-upper ASCII projection — see Names.normalizeName's doc:
  // full case mappings (ß→SS vs ß→ẞ) differ between engines, so
  // non-ASCII must never reach upper
  val nonAscii: Pattern = Pattern.compile("[^\\x00-\\x7F]+")

  val stopwords: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Names.keywordStopwords.foreach(s.add)
    s
  }

  val titlePatterns: Array[Pattern] =
    Names.titlePatterns.map(p => Pattern.compile("(?i)" + p)).toArray
  val digitsOnly: Pattern = Pattern.compile("^[0-9_\\-\\s]+$")
  val invalidStart: Array[Pattern] =
    Names.invalidStartPatterns.map(p => Pattern.compile("(?i)" + p)).toArray

  /** The full normalize_name chain on an already coalesced input. */
  def normalize(in: UTF8String): UTF8String = {
    // upper(trim(regexp_replace(coalesce(c,''), nonAscii, ' '))) with
    // Spark semantics (space-only trim, collation-default upper)
    val ascii = nonAscii.matcher(in.toString).replaceAll(" ")
    var s = UTF8String.fromString(ascii).trim().toUpperCase().toString
    var i = 0
    while (i < entityReplaces.length) {
      val (p, r) = entityReplaces(i); s = p.matcher(s).replaceAll(r); i += 1
    }
    i = 0
    while (i < noise.length) { s = noise(i).matcher(s).replaceAll(""); i += 1 }
    i = 0
    while (i < abbrevs.length) {
      val (p, r) = abbrevs(i); s = p.matcher(s).replaceAll(r); i += 1
    }
    s = punct.matcher(s).replaceAll(" ")
    s = ws.matcher(s).replaceAll(" ")
    UTF8String.fromString(s).trim()
  }

  /** split(norm, " ") → len>=3 ∧ !stopword → distinct → sorted.
    * Tokens are ASCII (the chain strips to [A-Za-z0-9 ]), so String
    * natural order == UTF8String binary order == array_sort order. */
  def keywords(norm: String): Array[String] = {
    val toks = norm.split(" ", -1)
    val set = new java.util.TreeSet[String]()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.length >= 3 && !stopwords.contains(t)) set.add(t)
      i += 1
    }
    set.toArray(new Array[String](set.size))
  }
}

/** F-6 normalize_name; null/blank → "". */
case class NormalizeName(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_normalize_name", Seq(TypeChecks.string("name", child.dataType)))
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    KernelOps.normalizeName(
      if (v == null) UTF8String.EMPTY_UTF8 else v.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode = code"""
      |${c.code}
      |UTF8String ${ev.value} = graft.plans.KernelOps.normalizeName(
      |  ${c.isNull} ? UTF8String.EMPTY_UTF8 : ${c.value});
    """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** F-7 keyword extraction: sorted distinct keyword array of the
  * normalized name. */
case class KeywordsArr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_keywords", Seq(TypeChecks.string("name", child.dataType)))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    KernelOps.keywordsArr(
      if (v == null) UTF8String.EMPTY_UTF8 else v.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode = code"""
      |${c.code}
      |ArrayData ${ev.value} = graft.plans.KernelOps.keywordsArr(
      |  ${c.isNull} ? UTF8String.EMPTY_UTF8 : ${c.value});
    """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** F-8 title → company-name extraction: first title pattern whose
  * trimmed capture is >=3 chars and not digits/punct-only; fall back to
  * the original title (null → null). */
case class ExtractFromTitle(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_extract_title", Seq(TypeChecks.string("name", child.dataType)))
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override protected def nullSafeEval(v: Any): Any =
    KernelOps.extractFromTitle(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KernelOps.extractFromTitle($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** F-5 validity predicate (patterns anchored at start via `^` in the
  * pattern text itself; evaluated with find() == Spark rlike). */
case class IsValidCompanyName(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.expect("graft_valid_name", Seq(TypeChecks.string("name", child.dataType)))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) false
    else KernelOps.isValidCompanyName(v.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode = code"""
      |${c.code}
      |boolean ${ev.value} =
      |  !(${c.isNull}) && graft.plans.KernelOps.isValidCompanyName(${c.value});
    """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NameExprs {
  def normalizeName(c: Column): Column =
    ExprBridge.toColumn(NormalizeName(ExprBridge.toExpression(c)))
  def keywordsArr(c: Column): Column =
    ExprBridge.toColumn(KeywordsArr(ExprBridge.toExpression(c)))
  def extractFromTitle(c: Column): Column =
    ExprBridge.toColumn(ExtractFromTitle(ExprBridge.toExpression(c)))
  def isValidCompanyName(c: Column): Column =
    ExprBridge.toColumn(IsValidCompanyName(ExprBridge.toExpression(c)))
}
