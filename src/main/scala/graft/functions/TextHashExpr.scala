package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-shingle hashing kernel shared by interpreted eval and codegen.
  *
  * One compiled pass per document: normalize (lowercase, trim,
  * collapse whitespace) -> word n-grams -> distinct -> 32-bit hash
  * (first 4 sha256 bytes). Semantically identical to the Column
  * pipeline `lower(trim(regexp_replace(text,'\s+',' ')))` -> split ->
  * n-gram concat -> array_distinct -> sha2/conv, but with none of its
  * costs: no intermediate string arrays, no per-element lambda
  * interpretation, no four-stage projection discipline (see the
  * wordShingles performance contract in TextDedup). The hash is
  * engine-reproducible, so DuckDB oracles recompute it exactly. */
object TextHash {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("SHA-256")
  }

  /** First 4 sha256 bytes of the UTF-8 string, as an unsigned 32-bit
    * value in a long — equal to parsing the first 8 hex chars. */
  def hash32(s: String): Long = {
    val d = digest.get()
    d.reset()
    val b = d.digest(s.getBytes(StandardCharsets.UTF_8))
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
      ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }

  /** First 60 bits of the sha256 of the string's UTF-8 bytes — equal
    * to parsing the first 15 hex chars of `sha2(w, 256)`. */
  def hash60(s: UTF8String): Long = {
    val d = digest.get()
    d.reset()
    val b = d.digest(s.getBytes)
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (b(k) & 0xffL); k += 1 }
    v >>> 4
  }

  /** 60-bit SimHash of a word array: each word's [[hash60]] votes +1 on
    * its set bits and -1 on the others; a bit is set where its vote
    * total is above 0. A null word votes like hash 0 (-1 everywhere),
    * as a null `sha2` does in the SQL spelling. */
  def simhash60(words: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      val h = if (words.isNullAt(i)) 0L else hash60(words.getUTF8String(i))
      var b = 0
      while (b < 60) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /** Exactly Java regex `\s` (what the Column pipeline's
    * regexp_replace uses; RE2's `\s` omits \v — an edge shared by
    * every normText oracle, unreachable in the ASCII corpus):
    * space, \t, \n, \v, \f, \r). Character.isWhitespace would also
    * accept U+001C-001F / U+1680 / U+2028... and silently diverge from
    * the Column pipeline and the DuckDB oracles. */
  @inline private def isWsRegexS(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // \t \n  \f \r

  /** Distinct word n-gram hash32 values of the normalized text; empty
    * array when the text has fewer than n words. Called from generated
    * code (object methods compile to static forwarders). */
  def ngramHashes(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Long])
    // normalize: lowercase + split on \s+ runs (equivalent to
    // regexp_replace(\s+,' ') + trim + split(' ') for any input)
    val s = text.toLowerCase.toString
    val words = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWsRegexS(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWsRegexS(s.charAt(i))) i += 1
      if (i > start) words.add(s.substring(start, i))
    }
    val w = words.size()
    if (w < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var p = 0
    while (p <= w - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words.get(p + j))
        j += 1
      }
      seen.add(hash32(sb.toString))
      p += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen'd `array<long>` n-gram hasher (SURVEY §2.10: custom
  * Expression over UDF — no boxing, stays inside whole-stage codegen,
  * and the whole shingle pipeline is one virtual call per row). */
case class NgramHash32(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hash32"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    TextHash.ngramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.ngramHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): NgramHash32 =
    copy(child = newChild)
}

/** MinHash signature kernel: k affine-permutation minima
  * `min_h (a_s * h + b_s) mod P` over a shingle-hash array, all k
  * permutations folded in ONE traversal of the array. Semantically
  * identical to k separate `array_min(transform(...))` columns, but
  * those evaluate an interpreted lambda per (permutation, element) —
  * measured as the dominant cost of the whole MinHash pipeline at the
  * sf1 decade (k * |shingles| closure calls per document vs one tight
  * loop here). Arithmetic is exact signed-64 (a*h < 2^63), matching
  * the DuckDB oracle bit for bit. */
object MinhashSig {
  def sigs(hashes: ArrayData, a: Array[Long], b: Array[Long],
      p: Long): ArrayData = {
    val k = a.length
    val out = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var s = 0
      while (s < k) {
        val v = (a(s) * h + b(s)) % p
        if (v < out(s)) out(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `minhash_sigs(hs)` — array of the k permutation minima; null-safe
  * over the non-empty hash arrays the shingle pipeline produces. */
case class MinhashSigs(child: Expression, a: Seq[Long], b: Seq[Long],
    p: Long) extends UnaryExpression {
  require(a.length == b.length && a.nonEmpty)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sigs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> input, got ${t.sql}")
  }

  private lazy val aArr = a.toArray
  private lazy val bArr = b.toArray

  override protected def nullSafeEval(input: Any): Any =
    MinhashSig.sigs(input.asInstanceOf[ArrayData], aArr, bArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinhashSig.sigs($c, $aRef, $bRef, ${p}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

/** `simhash60(words)`: a document's 60-bit SimHash
  * ([[TextHash.simhash60]]) in one pass over its word array — the
  * explode + sha2-per-word + 60 `sum(when)` aggregate, without the
  * explode, the shuffle or the 60-column aggregate. A null or empty
  * array has no votes and gives null, where the aggregate form has no
  * row (explode drops both). */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash60"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> input, got ${t.sql}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    if (words.numElements() == 0) null else TextHash.simhash60(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.TextHash.simhash60($c); }""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object TextHashColumns {
  /** Distinct word n-gram hash32 array of `text` in one compiled pass. */
  def ngramHashes(text: Column, n: Int): Column =
    GraftBridge.column(NgramHash32(GraftBridge.expression(text), n))

  /** k MinHash permutation minima of a hash array in one traversal. */
  def minhashSigs(hs: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    GraftBridge.column(MinhashSigs(GraftBridge.expression(hs), a, b, p))

  /** 60-bit SimHash of a word array in one pass (null when empty). */
  def simhash60(words: Column): Column =
    GraftBridge.column(SimHash60(GraftBridge.expression(words)))
}
