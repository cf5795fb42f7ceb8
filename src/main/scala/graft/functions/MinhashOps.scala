package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the MinHash band-key computation over a shingle
  * set — all k = bands·rows signature minima and the `h:h:h` band keys
  * in ONE codegen'd loop.
  *
  * Why an Expression and not composed builtins: the declarative shape
  * (k separate `array_min(transform(_sh, s -> substr(md5(i# || s),1,8)))`
  * projections) collapses with the shingle-construction projection, so
  * the full shingle array was re-evaluated k+1 times per row (measured
  * 6.4 s vs 0.8 s for one shingling pass at sf0.1); the HOF-fold
  * alternative references `_sh` once but higher-order lambdas are
  * interpreted (NamedLambdaVariable indirection per element — measured
  * 2× WORSE). This kernel is the same arithmetic as the declarative
  * form, bit-for-bit.
  *
  * The one hash family is md5: hash_i(s) = first 8 hex chars of
  * md5(utf8("i#" ++ s)). Fixed-width lowercase hex means lexicographic
  * min ≡ unsigned min of the first 4 digest bytes — tracked as an
  * unsigned int, hex rendered once at the end. The DuckDB oracle
  * replays `min(substr(md5('i#' || shg), 1, 8))` verbatim.
  */
object MinhashKernels {
  private val tlMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Byte]]]()

  private def prefixes(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k,
      (kk: Integer) => Array.tabulate(kk)(j => s"$j#".getBytes("UTF-8")))

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex8(v: Int, sb: java.lang.StringBuilder): Unit = {
    var shift = 28
    while (shift >= 0) { sb.append(HexChars((v >>> shift) & 0xf)); shift -= 4 }
  }

  /** Distinct n-word shingles from a word array — the same law as the
    * declarative `array_distinct(filter(transform(sequence(...),
    * i -> concat_ws(' ', w[i+1..i+n])), s -> size(split(s,' ')) = n))`
    * chain, proven element-by-element:
    *  - fewer than n words → empty set (the declarative chain's partial
    *    concat always fails its size filter);
    *  - n or more words → exactly len−n+1 sliding shingles, each the
    *    ' '-join of n consecutive words (split words are never null, so
    *    concat_ws drops nothing, and a shingle's re-split size is
    *    always n — empty words round-trip: 'a'∥''∥'b' → "a  b" → 3);
    *  - distinct keeps FIRST occurrence order (array_distinct law).
    * Why a kernel: higher-order functions are interpreted
    * (NamedLambdaVariable per element), and a size()>0 filter pushed
    * below the projection inlined the whole chain with split(text)
    * re-evaluated per element slot — measured 4× the cost of the
    * shingling itself (r9).
    */
  def shingles(w: ArrayData, n: Int): ArrayData = {
    val len = w.numElements()
    if (len < n) return new GenericArrayData(new Array[AnyRef](0))
    val m = len - n + 1
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      var hasNull = false
      while (j < n) {
        parts(j) = w.getUTF8String(i + j)
        if (parts(j) == null) hasNull = true
        j += 1
      }
      // windows containing a null word are dropped, matching the old
      // declarative chain exactly: concatWs SKIPS nulls, so its shingle
      // re-split to fewer than n words and failed the size filter
      // (r9 advice — split()-derived arrays never hit this, but the
      // minhash.wordShingles API is public)
      if (!hasNull) seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[UTF8String](seen.size))
      .asInstanceOf[Array[AnyRef]])
  }

  /** Band keys for one shingle set.
    * EMPTY shingle set → null: posexplode then emits no rows, which is
    * exactly the old `filter(size(_sh) > 0)` semantics without a Filter
    * node for the optimizer to push below the shingle projection.
    */
  def bandKeys(sh: ArrayData, bands: Int, rows: Int): ArrayData = {
    val k = bands * rows
    val n = sh.numElements()
    if (n == 0) return null
    val pfx = prefixes(k)
    val digest = tlMd5.get()
    val mins = new Array[Int](k)
    java.util.Arrays.fill(mins, -1) // 0xffffffff = unsigned max
    var i = 0
    while (i < n) {
      val sBytes = sh.getUTF8String(i).getBytes
      var j = 0
      while (j < k) {
        digest.reset()
        digest.update(pfx(j))
        digest.update(sBytes)
        val d = digest.digest()
        val h = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) |
          ((d(2) & 0xff) << 8) | (d(3) & 0xff)
        if (java.lang.Integer.compareUnsigned(h, mins(j)) < 0) mins(j) = h
        j += 1
      }
      i += 1
    }
    val out = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(rows * 9)
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append(':')
        hex8(mins(b * rows + r), sb)
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** `array<string>` shingles → `array<string>` of `bands` band keys
  * (null on an empty shingle set — see [[MinhashKernels.bandKeys]]).
  */
case class MinhashBandKeys(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_band_keys"

  override def nullSafeEval(v: Any): Any =
    MinhashKernels.bandKeys(v.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // nullSafeCodeGen so the kernel's null return (empty shingle set)
    // propagates: defineCodeGen assumes a non-null result
    nullSafeCodeGen(ctx, ev, v => s"""
      ${ev.value} = graft.functions.MinhashKernels.bandKeys($v, $bands, $rows);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `array<string>` words → `array<string>` distinct n-word shingles. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(v: Any): Any =
    MinhashKernels.shingles(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.MinhashKernels.shingles($v, $n)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object minhash {
  def bandKeys(sh: Column, bands: Int, rows: Int): Column =
    Bridge.column(MinhashBandKeys(Bridge.expression(sh), bands, rows))
  def wordShingles(w: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(w), n))
}
