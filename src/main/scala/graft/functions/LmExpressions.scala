package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Broadcast-model n-gram LM scoring as ONE compiled pass per document
  * — the q153/NB-fusion observation applied to
  * [[graft.operators.NgramLm.score]] and
  * [[graft.operators.NgramLm.scoreBackoff]]: every aggregation in both
  * score plans is doc_id-keyed (the (doc, gram) tf agg and the per-doc
  * NLL reduce — nothing corpus-wide), so when the count tables fit a
  * broadcast, the whole plan is per-document state one local pass over
  * the token array already has. Scoring becomes a narrow projection:
  * zero exchanges at any corpus size.
  *
  * This is also the shape a production CCNet-style curation stage
  * actually runs at 100 TB: the quality LM is a FIXED-SIZE pretrained
  * artifact (CCNet ships per-language KenLM models of bounded size),
  * broadcast once, scored embarrassingly parallel. The corpus-trained
  * unbounded-vocabulary model here is the oracle-replayable stand-in,
  * so the DataFrame join spelling remains the general-vocabulary scale
  * path — [[graft.operators.NgramLm.localize]] size-gates the collect
  * (`graft.operators.DriverLocal`) and callers fall back to the join
  * spelling above the gate. LmLocalSpec pins both kernels against
  * their exchange spellings on the real corpus (emitted ROUNDED
  * scores — the oracle-parity contract: raw doubles differ only in
  * per-doc float-sum order, the same equivalence class the
  * Spark-vs-DuckDB gate already accepts) plus the null/short-doc/OOV
  * lanes.
  *
  * Exact-replay contract (bigram, vs [[graft.operators.NgramLm.score]]):
  *  - tf counts each DISTINCT adjacent pair (nulls group like Spark
  *    groupBy: null == null), accumulated in first-occurrence order;
  *  - num = c2 + 1.0 with c2 = 0 when the pair misses the model (the
  *    left-join coalesce; a null component never matches a join key);
  *  - den = c1 + V as double, c1 = 0 on miss;
  *  - nll = −Σ tf·ln(num/den) / Σ tf; n_bigrams = Σ tf;
  *  - a doc with < 2 tokens has no pair rows → NULL (the join
  *    spelling's absent row; callers filter).
  *
  * Backoff contract (trigram, vs scoreBackoff): per DISTINCT trigram,
  *   s = c3/c2(w1w2)            when the trigram was seen
  *     = 0.4 · c2(w2w3)/c1(w2)  else when that bigram was seen
  *     = 0.16 · (c1(w3)+1)/(N+V)  else (long +1 then cast, literal
  *       0.16 — never a folded 0.4·0.4; N+V summed as LONG first)
  * with the same float op order as the join spelling's `when` chain.
  */
object LmScoreKernel {

  /** Composite pair key with Spark groupBy null semantics (null is a
    * key value; null == null).
    */
  private final class Pair2(val a: UTF8String, val b: UTF8String) {
    override def hashCode: Int =
      (if (a == null) 0 else a.hashCode) * 31 + (if (b == null) 0 else b.hashCode)
    override def equals(o: Any): Boolean = o match {
      case p: Pair2 =>
        (if (a == null) p.a == null else a.equals(p.a)) &&
          (if (b == null) p.b == null else b.equals(p.b))
      case _ => false
    }
  }

  private final class Pair3(val a: UTF8String, val b: UTF8String, val c: UTF8String) {
    override def hashCode: Int =
      ((if (a == null) 0 else a.hashCode) * 31 +
        (if (b == null) 0 else b.hashCode)) * 31 +
        (if (c == null) 0 else c.hashCode)
    override def equals(o: Any): Boolean = o match {
      case p: Pair3 =>
        (if (a == null) p.a == null else a.equals(p.a)) &&
          (if (b == null) p.b == null else b.equals(p.b)) &&
          (if (c == null) p.c == null else c.equals(p.c))
      case _ => false
    }
  }

  /** Collected add-one bigram model: c1 by unigram, c2 by (w1, w2)
    * nested on w1, V the smoothing denominator. Shipped with the plan
    * like any literal reference — one task-binary broadcast per stage,
    * the same wire cost class as the broadcast joins it replaces.
    */
  final case class LocalBigramModel(
      unigrams: java.util.HashMap[UTF8String, java.lang.Long],
      bigrams: java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]],
      vocab: Long) extends Serializable {
    // Expressions stringify their args into every explain/UI plan —
    // summarize instead of dumping the vocabulary.
    override def toString: String =
      s"LocalBigramModel(V=$vocab, biW1=${bigrams.size()})"
    // Identity equality (ADVICE r15): the model is a case-class field
    // of a catalyst expression, so expression equality/semanticEquals
    // and plan canonicalization would otherwise compare the full
    // nested HashMaps — O(model) per plan comparison, invoked
    // repeatedly during analysis. Models are memoized singletons, so
    // reference identity IS value identity for every live use.
    override def hashCode: Int = System.identityHashCode(this)
    override def equals(o: Any): Boolean = o match {
      case m: AnyRef => this eq m
      case _ => false
    }
  }

  /** Collected stupid-backoff trigram model (Brants 2007): uni/bi/tri
    * count maps plus N (total positions) and V.
    */
  final case class LocalBackoffModel(
      unigrams: java.util.HashMap[UTF8String, java.lang.Long],
      bigrams: java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]],
      trigrams: java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]]],
      total: Long, vocab: Long) extends Serializable {
    override def toString: String =
      s"LocalBackoffModel(N=$total, V=$vocab, triW1=${trigrams.size()})"
    // Identity equality — see LocalBigramModel.
    override def hashCode: Int = System.identityHashCode(this)
    override def equals(o: Any): Boolean = o match {
      case m: AnyRef => this eq m
      case _ => false
    }
  }

  private def lookup2(
      m: java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]],
      a: UTF8String, b: UTF8String): java.lang.Long = {
    val inner = m.get(a)
    if (inner == null) null else inner.get(b)
  }

  /** (n_bigrams, nll) over one token array, or null for < 2 tokens. */
  def scoreBigram(arr: ArrayData, model: LocalBigramModel): InternalRow = {
    val size = arr.numElements()
    if (size < 2) return null
    // DISTINCT pair -> [tf]; counts captured at first occurrence so the
    // final reduce runs once per distinct pair in first-occurrence
    // order (the join spelling's tf·ln term, one per distinct pair).
    val tf = new java.util.LinkedHashMap[Pair2, Array[Double]](16)
    var i = 0
    while (i < size - 1) {
      val a = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      val b = if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1)
      val k = new Pair2(a, b)
      val slot = tf.get(k)
      if (slot != null) slot(0) += 1.0
      else {
        val c2 = lookup2(model.bigrams, a, b)
        val c1 = if (a == null) null else model.unigrams.get(a)
        // num = coalesce(c2,0) + 1.0 ; den = coalesce(c1,0) + V (double)
        val num = (if (c2 == null) 0L else c2.longValue()) + 1.0
        val den = (if (c1 == null) 0L else c1.longValue()) + model.vocab.toDouble
        tf.put(k, Array(1.0, Math.log(num / den)))
      }
      i += 1
    }
    var nb = 0L
    var acc = 0.0
    val it = tf.values().iterator()
    while (it.hasNext) {
      val slot = it.next()
      nb += slot(0).toLong
      acc += slot(0) * slot(1) // tf * ln(num/den), double mult like the plan
    }
    new GenericInternalRow(Array[Any](nb, -acc / nb))
  }

  /** (n_trigrams, nll) under stupid backoff, or null for < 3 tokens. */
  def scoreBackoff(arr: ArrayData, model: LocalBackoffModel): InternalRow = {
    val size = arr.numElements()
    if (size < 3) return null
    val floorDen = (model.total + model.vocab).toDouble
    val tf = new java.util.LinkedHashMap[Pair3, Array[Double]](16)
    var i = 0
    while (i < size - 2) {
      val a = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      val b = if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1)
      val c = if (arr.isNullAt(i + 2)) null else arr.getUTF8String(i + 2)
      val k = new Pair3(a, b, c)
      val slot = tf.get(k)
      if (slot != null) slot(0) += 1.0
      else {
        // Null components are MODEL MISSES before any map lookup
        // (ADVICE r15): the join spelling's contract is that a null
        // never equals a join key, so a null token must fall through
        // to the next backoff rung — a model that somehow carried a
        // null-keyed gram must not match it here, and the seen-branch
        // denominators stay provably non-null.
        val outer = if (a == null || b == null || c == null) null
          else model.trigrams.get(a)
        val c3 = if (outer == null) null else lookup2(outer, b, c)
        val s =
          if (c3 != null) {
            // seen trigram: its context bigram is seen by construction
            c3.longValue().toDouble / lookup2(model.bigrams, a, b).longValue()
          } else {
            val c2b = if (b == null || c == null) null
              else lookup2(model.bigrams, b, c)
            if (c2b != null) {
              // seen backoff bigram: its context unigram c1(w2) is seen
              0.4 * c2b.longValue().toDouble / model.unigrams.get(b).longValue()
            } else {
              val c1w3 = if (c == null) null else model.unigrams.get(c)
              // (coalesce(c1w3,0) + 1) in LONG, then cast — the join
              // spelling's literal op order; 0.16 stays a literal.
              0.16 * ((if (c1w3 == null) 0L else c1w3.longValue()) + 1L).toDouble / floorDen
            }
          }
        tf.put(k, Array(1.0, Math.log(s)))
      }
      i += 1
    }
    var nt = 0L
    var acc = 0.0
    val it = tf.values().iterator()
    while (it.hasNext) {
      val slot = it.next()
      nt += slot(0).toLong
      acc += slot(0) * slot(1)
    }
    new GenericInternalRow(Array[Any](nt, -acc / nt))
  }
}

private[functions] abstract class LmScoreExprBase extends UnaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("nll", DoubleType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> input, got $other")
  }
}

/** `lm_score_bigram(toks)`: struct(n, nll) — per-doc count of bigram
  * positions and mean add-one NLL, or NULL below 2 tokens. See
  * [[LmScoreKernel.scoreBigram]].
  */
case class LmScoreBigramExpr(child: Expression,
    model: LmScoreKernel.LocalBigramModel) extends LmScoreExprBase {

  override def nullSafeEval(a: Any): Any =
    LmScoreKernel.scoreBigram(a.asInstanceOf[ArrayData], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("lmBigramModel", model,
      classOf[LmScoreKernel.LocalBigramModel].getName)
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("lmScore")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.functions.LmScoreKernel.scoreBigram($a, $mRef);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lm_score_bigram"
}

/** `lm_score_backoff(toks)`: struct(n, nll) — per-doc trigram position
  * count and mean stupid-backoff NLL, or NULL below 3 tokens. See
  * [[LmScoreKernel.scoreBackoff]].
  */
case class LmScoreBackoffExpr(child: Expression,
    model: LmScoreKernel.LocalBackoffModel) extends LmScoreExprBase {

  override def nullSafeEval(a: Any): Any =
    LmScoreKernel.scoreBackoff(a.asInstanceOf[ArrayData], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("lmBackoffModel", model,
      classOf[LmScoreKernel.LocalBackoffModel].getName)
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("lmScore")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.functions.LmScoreKernel.scoreBackoff($a, $mRef);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lm_score_backoff"
}

object LmFunctions {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column facade for [[LmScoreBigramExpr]]. */
  def lmScoreBigram(toks: Column, model: LmScoreKernel.LocalBigramModel): Column =
    GraftSqlBridge.column(
      LmScoreBigramExpr(GraftSqlBridge.expression(toks), model))

  /** Column facade for [[LmScoreBackoffExpr]]. */
  def lmScoreBackoff(toks: Column, model: LmScoreKernel.LocalBackoffModel): Column =
    GraftSqlBridge.column(
      LmScoreBackoffExpr(GraftSqlBridge.expression(toks), model))
}
