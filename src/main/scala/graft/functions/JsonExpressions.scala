package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken,
  StreamReadConstraints}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled JSON-validity probe for the envelope router — the
  * validation half of `try_parse_json(x).isNull` WITHOUT building the
  * VariantVal: one streaming Jackson pass that tokenizes, walks and
  * discards, instead of tokenizing + encoding the full variant binary
  * (two byte buffers + a key dictionary per record) only to null-check
  * it. The route() hot path runs this once per delivered record beside
  * the typed `from_json`, so the delivery transform pays ~one parse of
  * validation instead of a parse + a variant build.
  *
  * Exact-replay contract (vs `VariantBuilder.parseJson(s, false)`, the
  * engine behind try_parse_json — bytecode-audited, CodecSpec
  * property-pinned against try_parse_json itself):
  *  - same [[JsonFactory]] dialect (strict RFC) and stream-read
  *    constraints (number length; nesting depth pinned to the same
  *    default cap, see [[JsonValidKernel.MaxNestingDepth]]);
  *  - ONE value is parsed; trailing bytes after a complete first value
  *    are never read (variant accepts "{} junk" — so does this);
  *  - empty / whitespace-only input is invalid (no first token);
  *  - object keys must be unique per object at every nesting level
  *    (allowDuplicateKeys = false throws VARIANT_DUPLICATE_KEY);
  *  - any lexically valid number token is valid (the builder's
  *    long → decimal → double fallback chain never rejects one).
  *
  * One deliberate divergence, impossible without building the value:
  * the builder's 16 MiB variant SIZE limit (a valid JSON document
  * whose variant encoding exceeds it parses null under
  * try_parse_json but valid here). Envelope payloads are single
  * delivery records, orders of magnitude below it by contract.
  */
object JsonValidKernel {

  /** Jackson's default nesting cap, which `VariantBuilder.parseJson`
    * gets from its own `new JsonFactory()`. Parity rests on that
    * default staying this value: a deeper document is invalid here and
    * null under try_parse_json only while the two caps agree (CodecSpec
    * pins both sides at the cap and one past it). Pinned, so a
    * process-wide `overrideDefaultStreamReadConstraints` cannot loosen
    * this side; `walk` recurses once per level, so the cap also bounds
    * its stack depth.
    */
  private[graft] val MaxNestingDepth = 1000

  private val factory: JsonFactory = new JsonFactoryBuilder()
    .streamReadConstraints(StreamReadConstraints.defaults().rebuild()
      .maxNestingDepth(MaxNestingDepth).build())
    .build()

  def isValid(s: UTF8String): Boolean = {
    if (s == null) return false
    try {
      val p = factory.createParser(s.toString)
      try {
        val first = p.nextToken()
        if (first == null) false
        else { walk(p); true }
      } finally p.close()
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Consume exactly the value whose first token is current — the
    * token-for-token walk of VariantBuilder.buildJson, minus the
    * encoding.
    */
  private def walk(p: JsonParser): Unit = (p.currentToken(): @unchecked) match {
    case JsonToken.START_OBJECT =>
      val seen = new java.util.HashSet[String]()
      var t = p.nextToken()
      while (t != JsonToken.END_OBJECT) {
        if (t != JsonToken.FIELD_NAME) throw bad(p)
        if (!seen.add(p.currentName())) throw bad(p) // VARIANT_DUPLICATE_KEY
        p.nextToken()
        walk(p)
        t = p.nextToken()
      }
    case JsonToken.START_ARRAY =>
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY) {
        walk(p)
        t = p.nextToken()
      }
    case JsonToken.VALUE_STRING => p.getText
    // Numbers: lexical validation happened at nextToken, and the
    // builder never rejects a tokenized number — beyond-long integers
    // fall back to its decimal/double path (the parity spec CAUGHT a
    // getLongValue spelling here flagging 2^63-range ints invalid), and
    // double conversion saturates to ±Infinity instead of throwing.
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => ()
    case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE | JsonToken.VALUE_NULL => ()
    case _ => throw bad(p)
  }

  private def bad(p: JsonParser) =
    new com.fasterxml.jackson.core.JsonParseException(p, "invalid for variant")
}

/** `json_valid(s)`: true iff `try_parse_json(s)` would be non-null
  * (see [[JsonValidKernel]]). NULL input is FALSE, not null — the
  * router's `when(NOT valid, ProcessingFailed)` must fire for null
  * payload bytes exactly like `try_parse_json(null).isNull` does.
  */
case class JsonValidExpr(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string input, got $other")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    JsonValidKernel.isValid(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        boolean ${ev.value} = graft.functions.JsonValidKernel.isValid(
          ${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "json_valid"
}

object JsonFunctions {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column facade for [[JsonValidExpr]]. */
  def jsonValid(s: Column): Column =
    GraftSqlBridge.column(JsonValidExpr(GraftSqlBridge.expression(s)))
}
