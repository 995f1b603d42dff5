package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd word-n-gram construction — the round-14 sweep of the
  * repo's single largest known constant factor. Every gram generator
  * used to be the obvious higher-order-function spelling,
  * `transform(sequence(1, size(toks) - n + 1), g -> concat_ws(' ',
  * slice(toks, g, n)))` — but Catalyst HOF lambdas evaluate
  * INTERPRETED per element (the q51b lesson, where a codegen'd regex
  * rewrite measured ~10× on the explode stage), and the gram stream is
  * the hot path of the heaviest registry keys (q153's 9 bands were
  * 13.7% of the entire 183-key sf1 suite; q66/q81's 8-grams, the q32
  * shingle backbone, CDC/winnowing/DSIR/LM grams all share the shape).
  *
  * Three expressions, one compiled kernel family, all with exact
  * HOF-spelling semantics so no oracle hash can move:
  *
  *  - [[WordNgramsExpr]]    → array&lt;string&gt; of space-joined grams
  *    (`concat_ws(' ', …)` semantics: null tokens are SKIPPED, no
  *    doubled separator);
  *  - [[WordNgramH64Expr]]  → array&lt;long&gt; of the house 60-bit
  *    md5-derived h64 over `prefix ++ gram` — fusing gram construction
  *    and hashing into one pass so consumers that only ever hash the
  *    gram (winnowing, CDC, span-dedup, DSIR) never materialize the
  *    string at all;
  *  - [[WordNgramStructsExpr]] → array&lt;struct&lt;w1…wn&gt;&gt; of
  *    adjacent-token tuples (the n-gram LM count keys).
  *
  * Gram count: max(size − n + 1, `minOne` ? 1 : 0). `minOne = false`
  * is the guarded-IF spelling (short docs yield an EMPTY array, never
  * the phantom grams `sequence(1, 0)`'s backward step would emit);
  * `minOne = true` replays [[graft.operators.Cdc]]'s clamped range
  * where a sub-n doc yields one gram over whatever tokens exist
  * (out-of-range positions read as absent, exactly `get()` + the
  * concat_ws null-skip).
  *
  * h64 equivalence: `conv(substring(md5(x), 1, 15), 16, 10)` reads the
  * first 15 hex digits of the md5 — i.e. the first 60 bits — so the
  * kernel takes the digest's first 8 bytes as an unsigned big-endian
  * long and drops the low nibble (`>>> 4`). [[NgramExprSpec]] pins the
  * equivalence against the SQL spelling property-style, and the md5
  * itself runs over exactly the bytes the string concat would hash
  * (prefix bytes, then token bytes joined by single 0x20s).
  */
object WordNgrams {

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def gramCount(size: Int, n: Int, minOne: Boolean): Int = {
    val c = size - n + 1
    if (c > 0) c else if (minOne) 1 else 0
  }

  /** array&lt;string&gt; kernel (concat_ws(' ') join, nulls skipped). */
  def grams(arr: ArrayData, n: Int, minOne: Boolean): ArrayData = {
    val size = arr.numElements()
    val cnt = gramCount(size, n, minOne)
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      var total = 0
      var emitted = 0
      var j = 0
      // Two passes per gram: measure, then copy — allocation-exact, no
      // intermediate builders on the corpus scan.
      while (j < n) {
        val idx = i + j
        if (idx < size && !arr.isNullAt(idx)) {
          total += arr.getUTF8String(idx).numBytes()
          emitted += 1
        }
        j += 1
      }
      val buf = new Array[Byte](total + math.max(emitted - 1, 0))
      var off = 0
      var written = 0
      j = 0
      while (j < n) {
        val idx = i + j
        if (idx < size && !arr.isNullAt(idx)) {
          if (written > 0) { buf(off) = ' '.toByte; off += 1 }
          val s = arr.getUTF8String(idx)
          s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
          off += s.numBytes()
          written += 1
        }
        j += 1
      }
      out(i) = UTF8String.fromBytes(buf)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** array&lt;long&gt; kernel: h64(prefix ++ gram) per gram, no string
    * materialization.
    */
  def gramH64s(arr: ArrayData, n: Int, prefix: Array[Byte],
      minOne: Boolean): ArrayData = {
    val size = arr.numElements()
    val cnt = gramCount(size, n, minOne)
    val out = new Array[Long](cnt)
    val md = mdLocal.get()
    var i = 0
    while (i < cnt) {
      md.reset()
      if (prefix.length > 0) md.update(prefix)
      var emitted = 0
      var j = 0
      while (j < n) {
        val idx = i + j
        if (idx < size && !arr.isNullAt(idx)) {
          if (emitted > 0) md.update(' '.toByte)
          md.update(arr.getUTF8String(idx).getBytes)
          emitted += 1
        }
        j += 1
      }
      val d = md.digest()
      // First 8 digest bytes as unsigned big-endian, low nibble dropped
      // = integer value of the first 15 hex digits (60 bits, positive).
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = v >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }

  /** array&lt;struct&lt;gh, chars&gt;&gt; kernel: per gram, the h64 and
    * the TOKEN-character count `length(gram) − (n−1)` (the q153
    * repetition numerators' unit — separator chars excluded). Fuses
    * what used to be three operators per gram: string construction,
    * the builtin md5 (which materializes a 32-char hex STRING), and
    * `conv`'s base-16 string parse.
    */
  def gramH64Chars(arr: ArrayData, n: Int): ArrayData = {
    val size = arr.numElements()
    val cnt = gramCount(size, n, minOne = false)
    val out = new Array[Any](cnt)
    val md = mdLocal.get()
    var i = 0
    while (i < cnt) {
      md.reset()
      var emitted = 0
      var chars = 0L
      var j = 0
      while (j < n) {
        val idx = i + j
        if (!arr.isNullAt(idx)) {
          if (emitted > 0) md.update(' '.toByte)
          val s = arr.getUTF8String(idx)
          md.update(s.getBytes)
          chars += s.numChars()
          emitted += 1
        }
        j += 1
      }
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      // length(gram) − (n−1): gram length = token chars + max(emitted−1, 0)
      // separators (an all-null window is the EMPTY gram — zero
      // separators, matching `length('') − (n−1)`); identical to
      // Σ token chars when no element is null.
      out(i) = new GenericInternalRow(
        Array[Any](v >>> 4,
          chars + math.max(emitted - 1, 0).toLong - (n - 1).toLong))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Multi-band gram stream, hash form: rows struct(n, gh, chars) for
    * every n in [nLo, nHi] and every gram of that size, band-major in
    * gram order — the q153 duplicate-band generator as ONE array per
    * document (one explode, no per-band intermediate arrays, no
    * array-of-struct-of-array wrapper). Values per row are exactly
    * [[gramH64Chars]]'s.
    */
  def gramH64CharsBands(arr: ArrayData, nLo: Int, nHi: Int): ArrayData = {
    val size = arr.numElements()
    val md = mdLocal.get()
    var total = 0
    var n = nLo
    while (n <= nHi) { total += gramCount(size, n, minOne = false); n += 1 }
    val out = new Array[Any](total)
    var o = 0
    n = nLo
    while (n <= nHi) {
      val cnt = gramCount(size, n, minOne = false)
      var i = 0
      while (i < cnt) {
        md.reset()
        var emitted = 0
        var chars = 0L
        var j = 0
        while (j < n) {
          val idx = i + j
          if (!arr.isNullAt(idx)) {
            if (emitted > 0) md.update(' '.toByte)
            val s = arr.getUTF8String(idx)
            md.update(s.getBytes)
            chars += s.numChars()
            emitted += 1
          }
          j += 1
        }
        val d = md.digest()
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        out(o) = new GenericInternalRow(Array[Any](n, v >>> 4,
          chars + math.max(emitted - 1, 0).toLong - (n - 1).toLong))
        o += 1
        i += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Multi-band gram stream, string form: rows struct(n, gram) —
    * the q153 top-band generator (bands that keep the gram STRING for
    * the lexicographic tie-break). Gram values are [[grams]]'s.
    */
  def gramBands(arr: ArrayData, nLo: Int, nHi: Int): ArrayData = {
    val size = arr.numElements()
    var total = 0
    var n = nLo
    while (n <= nHi) { total += gramCount(size, n, minOne = false); n += 1 }
    val out = new Array[Any](total)
    var o = 0
    n = nLo
    while (n <= nHi) {
      val g = grams(arr, n, minOne = false)
      val cnt = g.numElements()
      var i = 0
      while (i < cnt) {
        out(o) = new GenericInternalRow(Array[Any](n, g.getUTF8String(i)))
        o += 1
        i += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Σ length(token) in CHARACTERS (codepoints — Spark `length()`
    * semantics), replaying `aggregate(toks, 0L, (acc, x) -> acc +
    * length(x))` exactly: a null element nulls the whole sum (null
    * propagates through the fold's `+`).
    */
  def tokenLengthSum(arr: ArrayData): java.lang.Long = {
    val size = arr.numElements()
    var total = 0L
    var i = 0
    while (i < size) {
      if (arr.isNullAt(i)) return null
      total += arr.getUTF8String(i).numChars()
      i += 1
    }
    java.lang.Long.valueOf(total)
  }

  /** h64(prefix ++ s) for a SCALAR string — the fused form of the
    * builtin spelling `conv(substring(md5(concat(prefix, s)), 1, 15),
    * 16, 10)`, which materializes a 32-char hex STRING per row and
    * parses 15 of its digits back through conv. One md5 over the raw
    * bytes, first 8 digest bytes as unsigned big-endian `>>> 4` —
    * the [[gramH64s]] identity, for consumers whose unit is a row,
    * not a gram (the sketch family hashes every token row 3–4×).
    */
  def h64string(s: UTF8String, prefix: Array[Byte]): Long = {
    val md = mdLocal.get()
    md.reset()
    if (prefix.length > 0) md.update(prefix)
    md.update(s.getBytes)
    val d = md.digest()
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v >>> 4
  }

  /** 16-bit SimHash over a token array, one compiled pass — replaces
    * the 16× bit-explode + two-level groupBy spelling (per token:
    * h64 = first 60 md5 bits; per bit b: vote +1 if bit set else −1;
    * code bit b := votes(b) > 0). Exact vote semantics of the SQL
    * form `sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0`,
    * including the null-token lane (h64(null) is null; the CASE's
    * `when(null = 1)` falls to the −1 arm — unreachable from tokens(),
    * which emits containsNull=false, but pinned in NgramExprSpec).
    */
  def simhash16(arr: ArrayData): Long = {
    val size = arr.numElements()
    val votes = new Array[Int](16)
    val md = mdLocal.get()
    var i = 0
    while (i < size) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        v = v >>> 4
        var bit = 0
        while (bit < 16) {
          if (((v >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      } else {
        var bit = 0
        while (bit < 16) { votes(bit) -= 1; bit += 1 }
      }
      i += 1
    }
    var code = 0L
    var bit = 0
    while (bit < 16) {
      if (votes(bit) > 0) code |= (1L << bit)
      bit += 1
    }
    code
  }

  /** array&lt;struct&lt;w1…wn&gt;&gt; kernel (fields may be null — the
    * struct spelling `struct(toks[i] AS w1, …)` keeps nulls).
    */
  def gramStructs(arr: ArrayData, n: Int): ArrayData = {
    val size = arr.numElements()
    val cnt = gramCount(size, n, minOne = false)
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      val fields = new Array[Any](n)
      var j = 0
      while (j < n) {
        fields(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = new GenericInternalRow(fields)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `char_ngrams(s)`: overlapping character n-grams of a string — the
  * fastText-style langid feature. One compiled sliding window over
  * CODE POINTS (round-14; the previous spelling was a codegen'd
  * regex-lookahead pass, `(?s)(?=(.{n})).`, already ~6× the HOF it
  * replaced — but the regex engine still runs a full match attempt
  * per position, and q51b's scan is corpus × positions). Substring
  * semantics are identical: every code-point position with ≥ n code
  * points remaining emits s[i, i+n). NgramExprSpec pins the
  * equivalence on multibyte fixtures.
  */
object CharNgrams {
  def ngrams(s: UTF8String, n: Int): ArrayData = {
    val chars = s.numChars()
    val cnt = chars - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt)
    // Slide two byte offsets one code point at a time instead of
    // calling UTF8String.substring(i, i+n) per position — substring
    // locates code point i by scanning from byte 0, making that
    // spelling O(len²) per document (q51b runs this over full
    // lowercased document text). One O(len) pass; each gram shares
    // the doc's byte array (fromBytes(bytes, off, len) wraps, no copy).
    val bytes = s.getBytes
    var startOff = 0
    var endOff = 0
    var k = 0
    while (k < n) {
      endOff += UTF8String.numBytesForFirstByte(bytes(endOff))
      k += 1
    }
    var i = 0
    while (i < cnt) {
      out(i) = UTF8String.fromBytes(bytes, startOff, endOff - startOff)
      i += 1
      if (i < cnt) {
        startOff += UTF8String.numBytesForFirstByte(bytes(startOff))
        endOff += UTF8String.numBytesForFirstByte(bytes(endOff))
      }
    }
    new GenericArrayData(out)
  }
}

case class CharNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ if n < 1 => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams size must be >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects string input, got $other")
  }

  override def nullSafeEval(a: Any): Any =
    CharNgrams.ngrams(a.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.CharNgrams.ngrams($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_ngrams"
}

sealed abstract class WordNgramExprBase extends UnaryExpression {
  def n: Int
  // n-validation lives in checkInputDataTypes, NOT a constructor
  // require: Java deserialization on executors constructs through the
  // first non-serializable superclass with fields unset (n = 0), so a
  // constructor require poisons every task that receives the
  // expression (found by DsirSpec the moment a shuffle crossed task
  // boundaries). The builders in [[Ngrams]] still fail fast.

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ if n < 1 => TypeCheckResult.TypeCheckFailure(
      s"$prettyName gram size must be >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> input, got $other")
  }
}

/** `word_ngrams(toks)`: overlapping word n-grams joined by single
  * spaces. See [[WordNgrams]].
  */
case class WordNgramsExpr(child: Expression, n: Int, minOne: Boolean)
    extends WordNgramExprBase {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    WordNgrams.grams(a.asInstanceOf[ArrayData], n, minOne)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.WordNgrams.grams($a, $n, $minOne)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngrams"
}

/** `word_ngram_h64s(toks)`: h64(prefix ++ gram) per overlapping word
  * n-gram — the fused gram-hash for consumers that never need the gram
  * string. See [[WordNgrams]].
  */
case class WordNgramH64Expr(child: Expression, n: Int, prefix: String,
    minOne: Boolean) extends WordNgramExprBase {

  private lazy val prefixBytes: Array[Byte] =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    WordNgrams.gramH64s(a.asInstanceOf[ArrayData], n, prefixBytes, minOne)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("ngramH64Prefix", prefixBytes, "byte[]")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.WordNgrams.gramH64s($a, $n, $pRef, $minOne)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngram_h64s"
}

/** `word_ngram_structs(toks)`: adjacent-token tuples as
  * struct(w1, …, wn) — the n-gram LM count keys. See [[WordNgrams]].
  */
case class WordNgramStructsExpr(child: Expression, n: Int)
    extends WordNgramExprBase {

  override def dataType: DataType = ArrayType(
    StructType((1 to n).map(i => StructField(s"w$i", StringType))),
    containsNull = false)

  override def nullSafeEval(a: Any): Any =
    WordNgrams.gramStructs(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.WordNgrams.gramStructs($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngram_structs"
}

/** `word_ngram_h64_chars(toks)`: struct(gh, chars) per overlapping
  * word n-gram — the fused hash + token-character-count pair the
  * repetition bands aggregate. See [[WordNgrams.gramH64Chars]].
  */
case class WordNgramH64CharsExpr(child: Expression, n: Int)
    extends WordNgramExprBase {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("gh", LongType, nullable = false),
      StructField("chars", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(a: Any): Any =
    WordNgrams.gramH64Chars(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.WordNgrams.gramH64Chars($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngram_h64_chars"
}

sealed abstract class WordNgramBandExprBase extends UnaryExpression {
  def nLo: Int
  def nHi: Int

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if nLo >= 1 && nHi >= nLo =>
      TypeCheckResult.TypeCheckSuccess
    case _ if nLo < 1 || nHi < nLo => TypeCheckResult.TypeCheckFailure(
      s"$prettyName band range must satisfy 1 <= nLo <= nHi, got [$nLo, $nHi]")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> input, got $other")
  }
}

/** `word_ngram_h64_chars_bands(toks)`: struct(n, gh, chars) rows for
  * every band in [nLo, nHi]. See [[WordNgrams.gramH64CharsBands]].
  */
case class WordNgramH64CharsBandsExpr(child: Expression, nLo: Int, nHi: Int)
    extends WordNgramBandExprBase {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("n", IntegerType, nullable = false),
      StructField("gh", LongType, nullable = false),
      StructField("chars", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(a: Any): Any =
    WordNgrams.gramH64CharsBands(a.asInstanceOf[ArrayData], nLo, nHi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.WordNgrams.gramH64CharsBands($a, $nLo, $nHi)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngram_h64_chars_bands"
}

/** `word_ngram_bands(toks)`: struct(n, gram) rows for every band in
  * [nLo, nHi]. See [[WordNgrams.gramBands]].
  */
case class WordNgramBandsExpr(child: Expression, nLo: Int, nHi: Int)
    extends WordNgramBandExprBase {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("n", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(a: Any): Any =
    WordNgrams.gramBands(a.asInstanceOf[ArrayData], nLo, nHi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.WordNgrams.gramBands($a, $nLo, $nHi)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngram_bands"
}

/** `h64(prefix ++ s)` as ONE compiled md5-bytes pass — no hex string,
  * no conv parse. See [[WordNgrams.h64string]].
  */
case class H64Expr(child: Expression, prefix: String)
    extends UnaryExpression {

  private lazy val prefixBytes: Array[Byte] =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"h64 expects string input, got $other")
  }

  override def nullSafeEval(a: Any): Any =
    WordNgrams.h64string(a.asInstanceOf[UTF8String], prefixBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("h64Prefix", prefixBytes, "byte[]")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.WordNgrams.h64string($a, $pRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "h64"
}

/** `simhash16(toks)`: 16-bit SimHash code of a token array — one
  * compiled pass per document instead of a 16× bit-explode through two
  * aggregations. See [[WordNgrams.simhash16]].
  */
case class SimHash16Expr(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash16 expects array<string> input, got $other")
  }

  override def nullSafeEval(a: Any): Any =
    WordNgrams.simhash16(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.WordNgrams.simhash16($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash16"
}

/** `token_length_sum(toks)`: Σ character-length over the array's
  * elements — the Gopher/repetition denominators' per-doc total, as a
  * compiled loop instead of an interpreted `aggregate` fold. See
  * [[WordNgrams.tokenLengthSum]].
  */
case class TokenLengthSumExpr(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_length_sum expects array<string> input, got $other")
  }

  override def nullSafeEval(a: Any): Any =
    WordNgrams.tokenLengthSum(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("lenSum")
      s"""
         |java.lang.Long $r = graft.functions.WordNgrams.tokenLengthSum($a);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "token_length_sum"
}

/** Column builders. */
object Ngrams {
  import org.apache.spark.sql.GraftSqlBridge

  /** Overlapping word n-grams of a token-array column, space-joined
    * (`concat_ws` semantics). `minOne = false`: short docs yield an
    * empty array.
    */
  def wordNgrams(toks: Column, n: Int, minOne: Boolean = false): Column = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    GraftSqlBridge.column(
      WordNgramsExpr(GraftSqlBridge.expression(toks), n, minOne))
  }

  /** h64(prefix ++ gram) per overlapping word n-gram — fused
    * gram-construction + portable 60-bit hash.
    */
  def wordNgramH64s(toks: Column, n: Int, prefix: String = "",
      minOne: Boolean = false): Column = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    GraftSqlBridge.column(
      WordNgramH64Expr(GraftSqlBridge.expression(toks), n, prefix, minOne))
  }

  /** Adjacent-token n-gram tuples struct(w1…wn). */
  def wordNgramStructs(toks: Column, n: Int): Column = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    GraftSqlBridge.column(
      WordNgramStructsExpr(GraftSqlBridge.expression(toks), n))
  }

  /** struct(gh, chars) per overlapping word n-gram (h64 + token-char
    * count) — the repetition bands' fused unit.
    */
  def wordNgramH64Chars(toks: Column, n: Int): Column = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    GraftSqlBridge.column(
      WordNgramH64CharsExpr(GraftSqlBridge.expression(toks), n))
  }

  /** Overlapping character n-grams of a string column (code-point
    * window; substring semantics).
    */
  def charNgrams(s: Column, n: Int): Column = {
    require(n >= 1, s"char-gram size must be >= 1, got $n")
    GraftSqlBridge.column(CharNgramsExpr(GraftSqlBridge.expression(s), n))
  }

  /** Multi-band struct(n, gh, chars) gram rows, one array per doc. */
  def wordNgramH64CharsBands(toks: Column, nLo: Int, nHi: Int): Column = {
    require(nLo >= 1 && nHi >= nLo, s"bad band range [$nLo, $nHi]")
    GraftSqlBridge.column(
      WordNgramH64CharsBandsExpr(GraftSqlBridge.expression(toks), nLo, nHi))
  }

  /** Multi-band struct(n, gram) rows, one array per doc. */
  def wordNgramBands(toks: Column, nLo: Int, nHi: Int): Column = {
    require(nLo >= 1 && nHi >= nLo, s"bad band range [$nLo, $nHi]")
    GraftSqlBridge.column(
      WordNgramBandsExpr(GraftSqlBridge.expression(toks), nLo, nHi))
  }

  /** 16-bit SimHash code of a token array (bit-explode vote
    * semantics, one compiled pass).
    */
  def simhash16(toks: Column): Column =
    GraftSqlBridge.column(SimHash16Expr(GraftSqlBridge.expression(toks)))

  /** h64(prefix ++ s) of a string column, one compiled md5-bytes pass
    * (value-identical to [[graft.functions.TextFunctions.h64]] over
    * the concatenation).
    */
  def h64p(s: Column, prefix: String = ""): Column =
    GraftSqlBridge.column(H64Expr(GraftSqlBridge.expression(s), prefix))

  /** Σ character-length over a token array (`aggregate`-fold
    * semantics: null element → null sum).
    */
  def tokenLengthSum(toks: Column): Column =
    GraftSqlBridge.column(
      TokenLengthSumExpr(GraftSqlBridge.expression(toks)))
}
