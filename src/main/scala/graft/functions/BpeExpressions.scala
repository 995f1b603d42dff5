package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Compiled BPE encode-length kernel — the round-14 fusion of
  * [[graft.operators.Bpe.encodedLenSum]]'s hot path. The Column
  * spelling evaluated a k-deep literal `replace` chain INTERPRETED per
  * word inside a `transform` lambda (k merge rules × every token of
  * the corpus); this kernel applies the merges as single left-to-right
  * passes over the word's symbol list and sums the symbol counts in
  * one compiled call per document.
  *
  * Exactness argument (BpeSpec pins it against the replace-chain
  * spelling): the bracket representation's `replace("⟨l⟩⟨r⟩",
  * "⟨lr⟩")` can only match at symbol boundaries — `⟨` opens every
  * symbol and symbols contain no brackets, so the pattern's interior
  * `⟩⟨` forces l and r to be WHOLE adjacent symbols — and
  * `String.replace` substitutes non-overlapping occurrences left to
  * right, which is exactly the single list pass (emit-or-merge,
  * advance by 2 on merge). Applying k merges in training order is
  * then k such passes. Symbol atoms are CODE POINTS (the bracketize
  * regex `(.)` matches per code point).
  *
  * A per-executor word→length memo (bounded; corpora repeat words
  * heavily) makes the amortized cost one hash lookup per token — the
  * value is a pure function of (merges, word), so caching cannot
  * change results.
  */
final class BpeEncoder(val merges: Array[Array[String]]) extends Serializable {

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val CacheCap = 1 << 16

  def encodedLen(word: String): Int = {
    val hit = cache.get(word)
    if (hit != null) return hit.intValue()
    var syms = {
      val cps = word.codePoints().toArray
      val a = new Array[String](cps.length)
      var i = 0
      while (i < cps.length) { a(i) = new String(Character.toChars(cps(i))); i += 1 }
      a
    }
    var m = 0
    while (m < merges.length) {
      val l = merges(m)(0)
      val r = merges(m)(1)
      val out = new Array[String](syms.length)
      var i = 0
      var o = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out(o) = l + r; i += 2
        } else { out(o) = syms(i); i += 1 }
        o += 1
      }
      syms = java.util.Arrays.copyOf(out, o)
      m += 1
    }
    if (cache.size() < CacheCap) cache.put(word, Integer.valueOf(syms.length))
    syms.length
  }

  /** Σ encodedLen over the array's words; null element → null (the
    * fold's `+` null propagation).
    */
  def lenSum(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var total = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      total += encodedLen(arr.getUTF8String(i).toString)
      i += 1
    }
    java.lang.Long.valueOf(total)
  }
}

/** `bpe_encoded_len_sum(toks)`: per-document token total after the
  * learned merges. See [[BpeEncoder]].
  */
case class BpeEncodedLenSumExpr(child: Expression,
    merges: Seq[(String, String)]) extends UnaryExpression {

  @transient private lazy val encoder =
    new BpeEncoder(merges.map(m => Array(m._1, m._2)).toArray)

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encoded_len_sum expects array<string> input, got $other")
  }

  override def nullSafeEval(a: Any): Any =
    encoder.lenSum(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val encRef = ctx.addReferenceObj("bpeEncoder", encoder,
        classOf[BpeEncoder].getName)
      val r = ctx.freshName("bpeLen")
      s"""
         |java.lang.Long $r = $encRef.lenSum($a);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bpe_encoded_len_sum"
}

/** Column builder. */
object BpeFunctions {
  import org.apache.spark.sql.GraftSqlBridge

  def encodedLenSum(toks: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(
      BpeEncodedLenSumExpr(GraftSqlBridge.expression(toks), merges))
}
