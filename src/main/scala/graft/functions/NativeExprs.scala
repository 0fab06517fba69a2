package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot paths.
  *
  * Spark's higher-order array functions (transform/filter/aggregate/
  * zip_with) are CodegenFallback: every element goes through an interpreted
  * lambda with boxing. For per-row loops over 64-dim vectors or hundreds of
  * tokens that interpretation dominates the query (measured: q_lang_id 20 s,
  * q_dedup_simhash 25 s at sf0.1 on the HOF formulation). Each expression
  * here fuses one logical operator into a single primitive-typed pass:
  *
  *   - [[CosineSim]] / [[DotProd]]  — full whole-stage-codegen loops
  *   - [[Tokens]], [[TextStats]], [[TokenSetCounts]] — one-pass text scans
  *   - [[LineTokens]], [[LineKv]] — the MapReduce engine's `tokenize` op
  *     and line→KV split, one pass over the UTF-8 bytes
  *   - [[SimHash64]] — token-hash ±1 bit votes, one pass
  *   - [[MinHashSig]] — k-permutation signature via the standard
  *     two-hash construction h1 + i·h2 (Broder-style), 2 hashes per shingle
  *     instead of k
  *
  * Semantics match the declarative formulations exactly where a DuckDB
  * oracle checks them (tokenization = lowercase + split on `\s+` runs,
  * empties dropped; counts are plain Longs).
  */
object NativeExprs {

  private def c(e: Expression): Column = GraftBridge.column(e)
  private def e(col: Column): Expression = GraftBridge.expression(col)

  def cosineSim(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))
  def dotProd(a: Column, b: Column): Column = c(DotProd(e(a), e(b)))
  def tokens(text: Column): Column = c(Tokens(e(text)))
  def lineTokens(line: Column, suffix: String): Column = c(LineTokens(e(line), suffix))
  def lineKv(line: Column): Column = c(LineKv(e(line)))
  def textStats(text: Column, stopwords: Seq[String]): Column =
    c(TextStats(e(text), stopwords))
  def tokenSetCounts(text: Column, sets: Seq[Seq[String]]): Column =
    c(TokenSetCounts(e(text), sets))
  def charTrigrams(text: Column): Column = c(CharTrigrams(e(text)))
  def langIdScores(
      text: Column, langs: Seq[String], weights: Map[String, Seq[Long]],
      defaults: Seq[Long], priors: Seq[Long]): Column =
    c(LangIdScores(e(text), langs, weights, defaults, priors))
  def simHash64(tokens: Column): Column = c(SimHash64(e(tokens)))
  def minHashSig(shingles: Column, k: Int): Column = c(MinHashSig(e(shingles), k))
  def wordShingles(text: Column, n: Int): Column = c(WordShingles(e(text), n))
  def cdcChunks(text: Column): Column = c(CdcChunks(e(text)))
  def normalizeWs(text: Column): Column = c(NormalizeWs(e(text)))
  def jaroWinkler(a: Column, b: Column): Column = c(JaroWinkler(e(a), e(b)))
  def pqNearestCode(sv: Column, codebook: Seq[Seq[Double]]): Column =
    c(PqNearestCode(e(sv), codebook))
  def int8Quant(v: Column): Column = c(Int8Quant(e(v)))
  def int8Codes(v: Column): Column = c(Int8Codes(e(v)))
  def gopherRep(text: Column): Column = c(GopherRep(e(text)))

  /** Unicode CODE POINT count — what DuckDB's `length()` counts. Any
    * kernel whose character counts ride a hash-compared oracle must use
    * this, not `String.length` (UTF-16 units), or supplementary-plane
    * text diverges. */
  @inline private[functions] def cpLen(s: String): Int =
    s.codePointCount(0, s.length)

  /** Shared normalize-and-trigram pass for [[CharTrigrams]] and
    * [[LangIdScores]]: lowercase, whitespace-tokenize, rejoin with
    * single spaces, pad both ends with a space, emit every 3-CODEPOINT
    * window (codepoints, not UTF-16 units — DuckDB substr parity, cf.
    * [[cpLen]]). Zero tokens → zero trigrams. */
  private[functions] def charTrigramsOf(input: UTF8String): Array[String] = {
    val s = input.toString.toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append(' ')
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) { sb.append(s, start, i); sb.append(' ') }
    }
    val cps = sb.toString.codePoints().toArray
    val m = cps.length - 2
    if (m <= 0) Array.empty[String]
    else {
      val out = new Array[String](m)
      var k = 0
      while (k < m) { out(k) = new String(cps, k, 3); k += 1 }
      out
    }
  }

  /** Code-point-order string comparison ≡ UTF-8 byte order ≡ DuckDB's
    * binary collation. Java's `String.compareTo` is UTF-16 order, which
    * ranks supplementary characters BELOW U+E000..U+FFFF — a latent
    * tie-break divergence on astral text. */
  private[functions] def compareCp(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** THE tokenizer (lowercase already applied by the caller): split on
    * runs of [[isWs]], drop empties — one definition for every kernel
    * that materializes a token list ([[Tokens]], [[WordShingles]],
    * [[GopherRep]]). Streaming kernels that fold per-token without
    * materializing (TextStats, StopwordCounts) keep their in-place scan
    * loops but MUST match this semantics — isWs is the single source of
    * truth for the split class. */
  private[functions] def tokenize(s: String): scala.collection.mutable.ArrayBuffer[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out
  }

  /** Whitespace set of Java regex `\s`, `[ \t\n\x0B\f\r]` (9..13 and
    * 32) — keep identical to split("\\s+"). Takes an Int so one
    * definition tests UTF-16 chars and UTF-8 bytes alike: every member is
    * ASCII and no byte of a multi-byte UTF-8 sequence is (those are
    * ≥ 0x80, negative as a signed Byte), so a byte scan splits exactly
    * where the regex splits the decoded string. */
  @inline def isWs(c: Int): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Bytes [from, until) of `s` followed by `suffix`, as a fresh string
    * (never a view: the input row's buffer is reused by the scan). */
  private[functions] def slice(
      s: UTF8String, from: Int, until: Int, suffix: Array[Byte] = Array.emptyByteArray)
      : UTF8String = {
    val len = until - from
    val out = new Array[Byte](len + suffix.length)
    Platform.copyMemory(
      s.getBaseObject, s.getBaseOffset + from, out, Platform.BYTE_ARRAY_OFFSET, len)
    System.arraycopy(suffix, 0, out, len, suffix.length)
    UTF8String.fromBytes(out)
  }
}

/** Element accessor fragment for float/double arrays in generated code. */
private[functions] object VecCodegen {
  def elem(arr: String, i: String, et: DataType): String = et match {
    case FloatType  => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case other      => throw new IllegalArgumentException(s"unsupported element type $other")
  }
  def elemEval(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType  => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case other      => throw new IllegalArgumentException(s"unsupported element type $other")
  }
}

/** Shared type check for the vector kernels. */
private[functions] object VecTypeCheck {
  def check(name: String, left: Expression, right: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$name expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }
}

/** Fused cosine similarity over two ARRAY<FLOAT|DOUBLE> columns: one
  * codegen'd loop accumulating dot and both norms — replaces three
  * interpreted HOF scans (zip_with + 2× aggregate) and the array<double>
  * cast. Accumulation order matches the left-fold the declarative version
  * used, so results are bit-identical; like that formulation (zip_with
  * null-pads the shorter array, nulling the sum), ragged inputs yield
  * NULL, and so does a NULL element on either side (the HOF sum over a
  * null product is null — folding it in as 0.0 would be a silent wrong
  * answer). */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeCheck.check("cosine_sim", left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (aa, ba) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = aa.numElements()
    if (n != ba.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || ba.isNullAt(i)) return null
      val x = VecCodegen.elemEval(aa, i, lt)
      val y = VecCodegen.elemEval(ba, i, rt)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = ${VecCodegen.elem(a, i, elemType(left))};
         |    double $y = ${VecCodegen.elem(b, i, elemType(right))};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

/** Fused dot product (same codegen shape and ragged-input NULL semantics
  * as [[CosineSim]]). */
case class DotProd(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeCheck.check("dot_prod", left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (aa, ba) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = aa.numElements()
    if (n != ba.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || ba.isNullAt(i)) return null
      dot += VecCodegen.elemEval(aa, i, elemType(left)) *
        VecCodegen.elemEval(ba, i, elemType(right))
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += ${VecCodegen.elem(a, i, elemType(left))} * ${VecCodegen.elem(b, i, elemType(right))};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProd =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_prod"
}

/** One-pass tokenizer: lowercased whitespace tokens, empties dropped —
  * exactly `filter(split(lower(text), "\\s+"), _ != "")`.
  *
  * Lowercasing here (and in every kernel below) is `Locale.ROOT`, which is
  * JVM-default-locale-independent — the same result on every executor
  * regardless of host locale. Spark's builtin `lower()` lowercases via
  * UTF8String's locale-independent Unicode mapping, and the two agree on
  * all one-to-one mappings; they can differ from a default-locale
  * `String.toLowerCase()` (e.g. Turkish dotted I), which is precisely why
  * the kernels pin ROOT instead. */
case class Tokens(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  /** Typed entry point for generated code (no boxing). */
  def kernel(s: UTF8String): ArrayData = nullSafeEval(s).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("tokensExpr", this, classOf[Tokens].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
    val out = NativeExprs.tokenize(s).map(t => UTF8String.fromString(t): Any)
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
  override def prettyName: String = "graft_tokens"
}

/** The MapReduce engine's `tokenize` map op in one pass over the UTF-8
  * bytes: the [[NativeExprs.isWs]]-separated tokens of a line, case kept,
  * empties dropped, each followed by `suffix` — exactly
  * `transform(filter(split(line, "\\s+"), _ != ""), concat(_, suffix))`
  * minus the regex compile per row and the interpreted lambda per token. */
case class LineTokens(child: Expression, suffix: String)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  private val suffixBytes = suffix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def kernel(s: UTF8String): ArrayData = nullSafeEval(s).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("lineTokensExpr", this, classOf[LineTokens].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      while (i < n && NativeExprs.isWs(s.getByte(i))) i += 1
      val start = i
      while (i < n && !NativeExprs.isWs(s.getByte(i))) i += 1
      if (i > start) out += NativeExprs.slice(s, start, i, suffixBytes)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): LineTokens =
    copy(child = newChild)
  override def prettyName: String = "graft_line_tokens"
}

/** The MapReduce engine's line→KV rule as a Catalyst expression: the
  * engine's split of each text-scan line ([[graft.engine.Engine.plan]]).
  * The rule itself is [[LineKv.kernel]]. */
case class LineKv(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))
  override def nullable: Boolean = true

  // not nullSafeCodeGen: that pins isNull to the child's, and a non-null
  // line can still yield NULL here
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    ev.copy(code = code"""
      ${in.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${in.isNull} ? null : ${classOf[LineKv].getName}.kernel(${in.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def nullSafeEval(input: Any): Any =
    LineKv.kernel(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): LineKv =
    copy(child = newChild)
  override def prettyName: String = "graft_line_kv"
}

object LineKv {

  /** The one line→KV rule, in one pass over a line's UTF-8 bytes, after
    * the reference's `iss >> key` (partition.cpp:30-31,
    * reduce.cpp:23-27): leading [[NativeExprs.isWs]] skipped, key = the
    * first token, value = the rest after the whitespace run that ends the
    * key (empty when there is none; trailing whitespace kept). A line with
    * no non-whitespace byte yields null — the reference's extraction
    * fails on it and emits nothing. On other lines ≡
    * `split(regexp_replace(line, "^\\s+", ""), "\\s+", 2)`. Bytes are
    * copied out (`slice`), never decoded, so malformed UTF-8 passes
    * through unchanged and `s` may be a reused buffer. Two callers: the
    * generated code of the [[LineKv]] expression (the engine path) and
    * the `graft-kv` reader ([[graft.sources.KvDirSource]]). */
  def kernel(s: UTF8String): InternalRow = {
    val n = s.numBytes
    var i = 0
    while (i < n && NativeExprs.isWs(s.getByte(i))) i += 1
    if (i == n) return null
    val start = i
    while (i < n && !NativeExprs.isWs(s.getByte(i))) i += 1
    val key = NativeExprs.slice(s, start, i)
    while (i < n && NativeExprs.isWs(s.getByte(i))) i += 1
    InternalRow(key, NativeExprs.slice(s, i, n))
  }
}

/** One-pass text statistics used by token-count and quality scoring:
  * struct(n_tokens, sum_token_len, n_words, n_subwords, stop_hits,
  * n_alnum). Semantics lock-step with the SQL oracles:
  * words = runs of [a-z0-9] in the lowercased text; subwords =
  * Σ ceil(len/4) over whitespace tokens; alnum = count of [a-z0-9] chars. */
case class TextStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  private val stopSet = stopwords.toSet

  def kernel(s: UTF8String): InternalRow = nullSafeEval(s).asInstanceOf[InternalRow]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("textStatsExpr", this, classOf[TextStats].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_token_len", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_subwords", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("n_alnum", LongType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
    val n = s.length
    var nTokens = 0L; var sumLen = 0L; var nWords = 0L
    var nSub = 0L; var stopHits = 0L; var nAlnum = 0L
    var i = 0
    while (i < n) { // whitespace tokens
      while (i < n && NativeExprs.isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !NativeExprs.isWs(s.charAt(i))) i += 1
      if (i > start) {
        val len = i - start
        nTokens += 1; sumLen += len; nSub += (len + 3) / 4
        if (stopSet.contains(s.substring(start, i))) stopHits += 1
      }
    }
    i = 0
    @inline def alnum(ch: Char) = (ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9')
    while (i < n) { // [a-z0-9] runs
      while (i < n && !alnum(s.charAt(i))) i += 1
      val start = i
      while (i < n && alnum(s.charAt(i))) { nAlnum += 1; i += 1 }
      if (i > start) nWords += 1
    }
    InternalRow(nTokens, sumLen, nWords, nSub, stopHits, nAlnum)
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
  override def prettyName: String = "graft_text_stats"
}

/** One-pass membership counts: for each word set, how many whitespace
  * tokens of the lowercased text are in it. Drives language-ID. */
case class TokenSetCounts(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  private val hashSets: Array[Set[String]] = sets.map(_.toSet).toArray

  def kernel(s: UTF8String): ArrayData = nullSafeEval(s).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("tokenSetExpr", this, classOf[TokenSetCounts].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
    val counts = new Array[Long](hashSets.length)
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && NativeExprs.isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !NativeExprs.isWs(s.charAt(i))) i += 1
      if (i > start) {
        val tok = s.substring(start, i)
        var j = 0
        while (j < hashSets.length) {
          if (hashSets(j).contains(tok)) counts(j) += 1
          j += 1
        }
      }
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenSetCounts =
    copy(child = newChild)
  override def prettyName: String = "graft_token_set_counts"
}

/** Char trigrams of the whitespace-normalized, space-padded lowercase
  * text (`' ' + tokens.mkString(" ") + ' '`) in ONE pass — the
  * composed-HOF formulation (`transform(sequence(...), i =>
  * s.substr(i, 3))`) re-evaluates the whole normalization chain at
  * every position (no CSE across lambda boundaries): O(len²) per doc,
  * measured 38 s for a 5000-doc scoring scan that this kernel runs in
  * well under a second. Codepoint-indexed so supplementary-plane text
  * matches DuckDB's substr/length semantics (cf. [[NativeExprs.cpLen]]).
  * Drives language-ID training. */
case class CharTrigrams(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def kernel(s: UTF8String): ArrayData = nullSafeEval(s).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("charTrigramsExpr", this, classOf[CharTrigrams].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      NativeExprs.charTrigramsOf(input.asInstanceOf[UTF8String])
        .map(UTF8String.fromString): Array[Any])

  override protected def withNewChildInternal(newChild: Expression): CharTrigrams =
    copy(child = newChild)
  override def prettyName: String = "graft_char_trigrams"
}

/** Language-ID scoring kernel: normalize + trigram + accumulate the
  * per-language integer log-prob sums in ONE pass over the text, with
  * the trained model carried as expression state (a hash table of
  * trigram → per-language weights, bounded by the profile cap) — no
  * trigram array is ever materialized and each lookup is O(1), where
  * the literal-map HOF it replaces paid a LINEAR key scan per trigram
  * (GetMapValue over a map literal). Output: array<bigint> of scores,
  * one per language in `langs` order, seeded with the priors. */
case class LangIdScores(
    child: Expression,
    langs: Seq[String],
    weights: Map[String, Seq[Long]],
    defaults: Seq[Long],
    priors: Seq[Long])
    extends UnaryExpression with ExpectsInputTypes {
  require(defaults.length == langs.length && priors.length == langs.length)
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val table = {
    val m = new java.util.HashMap[String, Array[Long]](weights.size * 2)
    weights.foreach { case (k, v) => m.put(k, v.toArray) }
    m
  }
  @transient private lazy val dwArr = defaults.toArray
  @transient private lazy val prArr = priors.toArray

  def kernel(s: UTF8String): ArrayData = nullSafeEval(s).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("langIdScoresExpr", this, classOf[LangIdScores].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val k = prArr.length
    val acc = java.util.Arrays.copyOf(prArr, k)
    val tris = NativeExprs.charTrigramsOf(input.asInstanceOf[UTF8String])
    var i = 0
    while (i < tris.length) {
      val w = table.get(tris(i))
      val row = if (w == null) dwArr else w
      var j = 0
      while (j < k) { acc(j) += row(j); j += 1 }
      i += 1
    }
    new GenericArrayData(acc)
  }

  // keep the (potentially thousands-entry) model out of plan strings —
  // the tree display shows the shape, not the weights
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, langs, s"model[${weights.size} trigrams]")

  override protected def withNewChildInternal(newChild: Expression): LangIdScores =
    copy(child = newChild)
  override def prettyName: String = "graft_langid_scores"
}

/** SimHash sketch: 64-bit signature from xxhash64(token, seed=42) bit
  * votes — identical output to the HOF formulation it replaces, one pass,
  * no boxing. */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType

  def kernel(arr: ArrayData): Long = nullSafeEval(arr).asInstanceOf[Long]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("simhashExpr", this, classOf[SimHash64].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      // a NULL token contributes nothing (the tokenizers never emit one,
      // but SQL users can) — hashing it would NPE on the executor
      val t = arr.getUTF8String(i)
      if (t == null) { i += 1 }
      else {
      val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      var b = 0
      while (b < 64) {
        votes(b) += (((h >> b) & 1L) * 2L - 1L).toInt
        b += 1
      }
      i += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** MinHash signature of a shingle set: k permutations via the standard
  * two-hash construction h_i = h1 + i·h2 (h1 = xxhash64 seed 42,
  * h2 = xxhash64 seed 1337 | 1) — 2 hash computations per shingle instead
  * of k. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def kernel(arr: ArrayData): ArrayData = nullSafeEval(arr).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("minhashExpr", this, classOf[MinHashSig].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i) // null token contributes nothing (see SimHash64)
      if (t == null) { i += 1 }
      else {
        val h1 = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
        val h2 = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 1337L) | 1L
        var j = 0
        var h = h1
        while (j < k) {
          if (h < mins(j)) mins(j) = h
          h += h2
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_sig"
}

/** One-pass distinct word n-gram shingles of the lowercased text —
  * replaces the tokenize→sequence→transform→element_at→array_distinct HOF
  * chain. First-occurrence order preserved (≡ array_distinct). */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def kernel(s: UTF8String): ArrayData = nullSafeEval(s).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("shinglesExpr", this, classOf[WordShingles].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
    val toks = NativeExprs.tokenize(s)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var j = 0
    while (j + n <= toks.length) {
      seen += toks.slice(j, j + n).mkString(" ")
      j += 1
    }
    new GenericArrayData(seen.iterator.map(UTF8String.fromString).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "graft_word_shingles"
}

/** Content-defined chunk boundaries (the FastCDC/rsync family's shape):
  * a Rabin-Karp polynomial hash rolls over the last [[CdcChunks.W]] code
  * points, and a cut is declared after every position whose window hash
  * is ≡ 0 mod [[CdcChunks.D]] — so boundaries depend only on LOCAL
  * content. That is the property fixed-stride chunking lacks: insert one
  * character and every later fixed window shifts (all chunk keys churn),
  * while CDC re-synchronizes at the next content-defined cut, which is
  * what makes chunk-level dedup of revisioned corpora work at 100 TB.
  * The hash does NOT reset at cuts (the window spans boundaries), so
  * every constant here is replayable as closed-form SQL: the DuckDB twin
  * recomputes each window hash as Σ cp(i−j)·B^j mod 2²⁰ over a 16-row
  * power table. All arithmetic is mod a power of two via `& Mask`, which
  * on two's-complement Longs yields the mathematical (non-negative)
  * remainder even after the subtraction step. Returns
  * ARRAY<STRUCT<start_cp, len_cp>>; positions are CODE POINTS (DuckDB
  * substr/length units), empty input ⇒ empty array, no zero-length tail
  * (a cut at the last position just ends the final chunk). */
case class CdcChunks(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  import CdcChunks._
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("start_cp", LongType, nullable = false),
      StructField("len_cp", LongType, nullable = false))),
    containsNull = false)

  def kernel(s: UTF8String): ArrayData = nullSafeEval(s).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("cdcChunksExpr", this, classOf[CdcChunks].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cps.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var h = 0L
    var start = 0
    var i = 0
    while (i < n) {
      h = (h * B + (cps(i).toLong & Mask)) & Mask
      if (i >= W) h = (h - (cps(i - W).toLong & Mask) * BwMod) & Mask
      if (i >= W - 1 && (h & (D - 1)) == 0L) {
        out += InternalRow(start.toLong, (i - start + 1).toLong)
        start = i + 1
      }
      i += 1
    }
    if (start < n) out += InternalRow(start.toLong, (n - start).toLong)
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
  override def prettyName: String = "graft_cdc_chunks"
}

object CdcChunks {
  /** Window width in code points. */
  val W = 16
  /** Polynomial base. */
  val B = 31L
  /** Modulus 2²⁰ (power of two so `& Mask` is the mod). */
  val Mod = 1L << 20
  val Mask: Long = Mod - 1
  /** Cut divisor — expected chunk length ≈ D code points. */
  val D = 64L
  /** B^W mod 2²⁰ — the weight of the code point leaving the window. */
  val BwMod: Long = {
    var p = 1L; var k = 0
    while (k < W) { p = (p * B) & Mask; k += 1 }
    p
  }
  /** (j, B^j mod 2²⁰) rows for the SQL twin's power table. */
  def powTableSql: String =
    (0 until W).map { j =>
      var p = 1L; var k = 0
      while (k < j) { p = (p * B) & Mask; k += 1 }
      s"($j, $p)"
    }.mkString(", ")
}

/** One-pass lowercase + whitespace-run collapse (each `\s+` run → one
  * space, leading/trailing runs included) — exactly
  * `regexp_replace(lower(text), "\\s+", " ")` without the regex engine.
  * Feeds the md5 content fingerprint. */
/** Jaro-Winkler similarity, the record-linkage scorer: Jaro with match
  * window ⌊max(|a|,|b|)/2⌋−1 and half-transpositions, plus the Winkler
  * common-prefix boost (≤ 4 code points · 0.1) applied only when the
  * Jaro score exceeds 0.7. Semantics — including sim("","") = 0, the
  * strict > 0.7 boost gate, and arithmetic order — mirror DuckDB's
  * `jaro_winkler_similarity` (rapidfuzz lineage), validated BITWISE
  * against it over 5000 random word-pair samples when this expression
  * was written; the q_entity_match oracle re-checks the equality on
  * every gate run through the 4-decimal rounded score. Operates on RAW
  * UTF-8 BYTES — that is what DuckDB compares (probed: sim("café",
  * "cafe") = 0.8483…, the 5-vs-4-BYTE answer, not the 4-vs-4-code-point
  * 0.8833…), and it makes the kernel a zero-copy loop over the
  * UTF8String buffers. O(|a|·window) per pair — the blocking join
  * around it must bound candidates, exactly like the Levenshtein path. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] =
    Seq(StringType, StringType)
  override def dataType: DataType = DoubleType

  def kernel(a: UTF8String, b: UTF8String): Double =
    JaroWinkler.simBytes(a.getBytes, b.getBytes)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("jwExpr", this, classOf[JaroWinkler].getName)
      s"${ev.value} = $ref.kernel($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_jaro_winkler"
}

object JaroWinkler {
  /** String convenience for specs; the expression path stays on bytes. */
  def sim(s1: String, s2: String): Double =
    simBytes(
      s1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s2.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def simBytes(a: Array[Byte], b: Array[Byte]): Double = {
    // DuckDB's empty rule first: "" vs anything (itself included) is 0
    if (a.length == 0 || b.length == 0) return 0.0
    if (java.util.Arrays.equals(a, b)) return 1.0
    val l1 = a.length
    val l2 = b.length
    val win = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2, i + win + 1)
      var j = math.max(0, i - win)
      var unmatched = true
      while (j < hi && unmatched) {
        if (!m2(j) && b(j) == a(i)) { m1(i) = true; m2(j) = true; m += 1; unmatched = false }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      val cap = math.min(math.min(l1, l2), 4)
      var l = 0
      while (l < cap && a(l) == b(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

case class NormalizeWs(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)
  override def dataType: DataType = StringType

  def kernel(s: UTF8String): UTF8String = nullSafeEval(s).asInstanceOf[UTF8String]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("normWsExpr", this, classOf[NormalizeWs].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      if (NativeExprs.isWs(s.charAt(i))) {
        sb.append(' ')
        while (i < n && NativeExprs.isWs(s.charAt(i))) i += 1
      } else {
        sb.append(s.charAt(i))
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizeWs =
    copy(child = newChild)
  override def prettyName: String = "graft_normalize_ws"
}

/** PQ code assignment: index of the L2-nearest codebook entry for a
  * subvector, ranked by 2·⟨sv,c⟩ − ‖c‖² (the ‖sv‖² term is constant per
  * row), ties to the LOWER index. The codebook rides along as ONE
  * reference object — the alternative, a literal when/struct chain over
  * k codes, inlines k·subdim expression subtrees and blows generated
  * methods past the JVM's 64 KB limit at k = 32 (measured: whole-stage
  * codegen aborts with "Code grows beyond 64 KB" and the scan falls back
  * to interpreted projection). Null elements contribute 0 to the dot —
  * the PQ inputs are normalized vectors that cannot contain nulls. */
case class PqNearestCode(child: Expression, codebook: Seq[Seq[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_nearest_code expects array<float|double>, got $other")
    }

  private val subDim = if (codebook.isEmpty) 0 else codebook.head.length
  @transient private lazy val flat: Array[Double] = codebook.flatten.toArray
  @transient private lazy val norms: Array[Double] =
    codebook.map(cv => cv.map(x => x * x).sum).toArray

  def kernel(sv: ArrayData): Int = {
    val et = child.dataType.asInstanceOf[ArrayType].elementType
    val n = math.min(subDim, sv.numElements())
    var best = Double.NegativeInfinity
    var bestC = -1
    var ci = 0
    while (ci < norms.length) {
      var dot = 0.0
      var j = 0
      val base = ci * subDim
      while (j < n) {
        if (!sv.isNullAt(j)) dot += flat(base + j) * VecCodegen.elemEval(sv, j, et)
        j += 1
      }
      val score = 2 * dot - norms(ci)
      if (score > best) { best = score; bestC = ci }
      ci += 1
    }
    bestC
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("pqCodeExpr", this, classOf[PqNearestCode].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): PqNearestCode =
    copy(child = newChild)
  override def prettyName: String = "graft_pq_nearest_code"
}

/** Symmetric per-vector int8 quantization audit in ONE codegen'd pass:
  * scale m = max|x|, lane codes q_i = ⌊x_i·127/m + 0.5⌋ ∈ [−127, 127],
  * emitting the integer summary (lane count, Σq, Σ|q|, saturated-lane
  * count) plus the micro-scaled scale factor — the storage-compression
  * primitive for embedding columns (4 bytes → 1 byte per lane plus one
  * scale). Stats, not the code array, ride the driver's hash gate: they
  * pin every lane's value through exact integer sums while keeping the
  * compared surface scalar. All arithmetic is double-precision IEEE with
  * a fixed expression shape ((x·127)/m), so the DuckDB oracle replays it
  * bit-for-bit. A NULL lane nulls the row (a silently-zeroed lane would
  * corrupt the audit); m = 0 (zero vector) quantizes to all-zero codes. */
case class Int8Quant(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true
  private def elemType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"int8_quant expects array<float|double>, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_dims", LongType, nullable = false),
    StructField("q_sum", LongType, nullable = false),
    StructField("q_l1", LongType, nullable = false),
    StructField("n_sat", LongType, nullable = false),
    StructField("m_micro", LongType, nullable = false)))

  def kernel(arr: ArrayData): InternalRow =
    nullSafeEval(arr).asInstanceOf[InternalRow]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("int8QuantExpr", this, classOf[Int8Quant].getName)
      s"""${ev.value} = $ref.kernel($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val et = elemType
    var m = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val a = math.abs(VecCodegen.elemEval(arr, i, et))
      if (a > m) m = a
      i += 1
    }
    var qSum = 0L; var qL1 = 0L; var nSat = 0L
    i = 0
    while (i < n) {
      val x = VecCodegen.elemEval(arr, i, et)
      val q = if (m == 0.0) 0L else math.floor(x * 127.0 / m + 0.5).toLong
      qSum += q
      qL1 += math.abs(q)
      if (math.abs(q) == 127L) nSat += 1
      i += 1
    }
    InternalRow(n.toLong, qSum, qL1, nSat, math.floor(m * 1e6 + 0.5).toLong)
  }

  override protected def withNewChildInternal(newChild: Expression): Int8Quant =
    copy(child = newChild)
  override def prettyName: String = "graft_int8_quant"
}

/** The int8 CODES themselves (as exact small integers in doubles —
  * |q| ≤ 127, so doubles hold them losslessly and [[DotProd]]'s codegen
  * loop composes directly for integer-exact quantized dot products).
  * Same per-row scale rule as [[Int8Quant]] (q = floor(x·127/m + ½),
  * m = max |lane|, zero vector → all-zero codes, NULL lane → NULL row);
  * the two expressions must stay semantics-identical — Int8Quant audits
  * the codes this expression materializes for search. */
case class Int8Codes(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true
  private def elemType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"int8_codes expects array<float|double>, got $other")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  def kernel(arr: ArrayData): ArrayData =
    nullSafeEval(arr).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("int8CodesExpr", this, classOf[Int8Codes].getName)
      s"""${ev.value} = $ref.kernel($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val et = elemType
    var m = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val a = math.abs(VecCodegen.elemEval(arr, i, et))
      if (a > m) m = a
      i += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val x = VecCodegen.elemEval(arr, i, et)
      out(i) = if (m == 0.0) 0.0 else math.floor(x * 127.0 / m + 0.5)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Int8Codes =
    copy(child = newChild)
  override def prettyName: String = "graft_int8_codes"
}

/** The Gopher repetition-filter battery (Rae et al. 2021, table A1) in
  * ONE codegen'd pass: per document, the exact number of token
  * characters covered by duplicate n-grams for n ∈ {2,3,4} (a token
  * position counts once no matter how many duplicate windows cover it —
  * the position-union semantics the published filter uses) plus the
  * character mass of the most frequent bigram (count × its token chars,
  * ties broken to the lexicographically smallest gram so the answer is
  * deterministic). Tokenization is the shared lowercase-\s+ convention
  * (identical to [[Tokens]]/`tokensSql`), and every output is an exact
  * integer, so the DuckDB twin replays the definition with window
  * functions and position sets — no float ever rides the comparison.
  * Cost is O(doc tokens) time and space per row; nothing leaves the
  * projection, so the operator scales with the scan. */
case class GopherRep(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftBridge.AbstractDT] = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tok_chars", LongType, nullable = false),
    StructField("top2_chars", LongType, nullable = false),
    StructField("dup2_chars", LongType, nullable = false),
    StructField("dup3_chars", LongType, nullable = false),
    StructField("dup4_chars", LongType, nullable = false)))

  def kernel(s: UTF8String): InternalRow = nullSafeEval(s).asInstanceOf[InternalRow]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("gopherRepExpr", this, classOf[GopherRep].getName)
      s"${ev.value} = $ref.kernel($c);"
    })

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
    val toks = NativeExprs.tokenize(s)
    val m = toks.length
    // all char counts are CODE POINTS (DuckDB length()), not UTF-16 units
    var totChars = 0L
    var j = 0
    while (j < m) { totChars += NativeExprs.cpLen(toks(j)); j += 1 }

    def dupChars(n: Int): Long = {
      if (m < n) return 0L
      val counts = new java.util.HashMap[String, Int]()
      val grams = new Array[String](m - n + 1)
      var k = 0
      while (k <= m - n) {
        val sb = new java.lang.StringBuilder(toks(k))
        var t = 1
        while (t < n) { sb.append(' ').append(toks(k + t)); t += 1 }
        val g = sb.toString
        grams(k) = g
        counts.merge(g, 1, (a, b) => a + b)
        k += 1
      }
      val covered = new Array[Boolean](m)
      k = 0
      while (k <= m - n) {
        if (counts.get(grams(k)) >= 2) {
          var t = 0
          while (t < n) { covered(k + t) = true; t += 1 }
        }
        k += 1
      }
      var c = 0L
      k = 0
      while (k < m) { if (covered(k)) c += NativeExprs.cpLen(toks(k)); k += 1 }
      c
    }

    def top2Chars: Long = {
      if (m < 2) return 0L
      val counts = new java.util.HashMap[String, Int]()
      var k = 0
      while (k < m - 1) {
        counts.merge(toks(k) + " " + toks(k + 1), 1, (a, b) => a + b)
        k += 1
      }
      var bestGram: String = null
      var bestCnt = 0
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val better = e.getValue > bestCnt ||
          (e.getValue == bestCnt &&
            (bestGram == null || NativeExprs.compareCp(e.getKey, bestGram) < 0))
        if (better) { bestCnt = e.getValue; bestGram = e.getKey }
      }
      // token chars of the gram = code points minus the one separator
      bestCnt.toLong * (NativeExprs.cpLen(bestGram) - 1)
    }

    InternalRow(totChars, top2Chars, dupChars(2), dupChars(3), dupChars(4))
  }

  override protected def withNewChildInternal(newChild: Expression): GopherRep =
    copy(child = newChild)
  override def prettyName: String = "graft_gopher_rep"
}
