package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.DeliveryStatus

/** Envelope codecs + 3-way status routing as pure Catalyst expressions —
  * the Spark re-expression of the reference's per-record Lambda loop
  * (kds_example/lbd/common.py:12-31, kds_example/kds_helper.py:29-63).
  * The CPython for-loop becomes one codegen'd projection; statuses become
  * a CASE column; the DropIt control-flow exception becomes a predicate.
  */
object Codecs {

  /** base64 wire form → raw bytes (reference common.py:14: b64decode). */
  def decodeBase64(data: Column): Column = unbase64(data)

  /** Name of the corrupt-record marker field (Spark's PERMISSIVE-mode
    * convention). NOTE: the marker also fires on valid-JSON-wrong-type
    * records, so ROUTING must not use it — see [[isCorruptRaw]].
    */
  val CorruptField = "_corrupt_record"

  /** raw NDJSON bytes → typed payload struct. PERMISSIVE from_json yields
    * an all-null struct (not null) on bad input; the corrupt-record
    * column records the raw text of anything that didn't fully convert.
    */
  def decodeJson(data: Column, schema: StructType): Column =
    from_json(data.cast("string"), schema.add(CorruptField, "string"),
      Map("columnNameOfCorruptRecord" -> CorruptField))

  /** `json.loads`-equivalent corruption: the bytes are not valid JSON
    * (reference kds_helper.py:49-51). from_json's PERMISSIVE corrupt
    * column would ALSO fire on schema type mismatches — valid JSON the
    * reference parses fine and delivers Ok — so routing parity requires
    * checking JSON validity itself, not schema conformance.
    *
    * Round-16: validity runs through the compiled [[JsonValidExpr]]
    * kernel — one streaming Jackson pass, same verdict as
    * `try_parse_json(x).isNull` (CodecSpec property-pins the two over
    * an adversarial corpus) without building the VariantVal binary the
    * router immediately discards.
    */
  def isCorruptRaw(data: Column): Column =
    !JsonFunctions.jsonValid(data.cast("string"))

  /** payload struct → NDJSON bytes (reference common.py:27-29:
    * `json.dumps(...) + "\n"` then b64encode; base64 applied separately).
    * `ignoreNullFields = false`: json.dumps keeps null-valued keys, and
    * Spark 4's to_json default would silently drop them — downstream
    * consumers could no longer tell "field was null" from "field absent".
    */
  def encodeJson(payload: Column): Column =
    concat(to_json(payload, Map("ignoreNullFields" -> "false")), lit("\n"))
      .cast("binary")

  def encodeBase64(data: Column): Column = base64(data)

  /** NDJSON framing for the text writer: a codec `line` carries its own
    * trailing newline; strip exactly ONE so the writer's separator
    * re-creates the original bytes. (rtrim would eat ALL trailing
    * newlines, corrupting raw payloads that legitimately end in blank
    * lines — and the backup channel promises untouched bytes.)
    */
  def stripOneTrailingNewline(line: Column): Column =
    regexp_replace(line, "\n\\z", "")

  /** 3-way routing column over the RAW bytes + user predicate. JSON-
    * invalid → ProcessingFailed; user drop predicate → Dropped; else Ok.
    * Non-Ok records keep the RAW payload (reference
    * kds_helper.py:47-51,56-61 routes the original bytes).
    */
  def route(data: Column, dropIf: Column): Column =
    when(isCorruptRaw(data), DeliveryStatus.ProcessingFailed)
      .when(coalesce(dropIf, lit(false)), DeliveryStatus.Dropped)
      .otherwise(DeliveryStatus.Ok)

  /** Full transform stage over an envelope frame with binary NDJSON
    * `data`: returns recordId, result, data (transformed payload when Ok,
    * raw bytes otherwise) + the decoded payload for downstream sinks.
    *
    * Routing parity note: corruption is JSON validity ([[isCorruptRaw]]),
    * so a valid-JSON record with a schema TYPE mismatch routes Ok like
    * the reference — its mismatched field decodes to null in the typed
    * payload (the one residual divergence from an identity json.dumps,
    * which would echo the original value).
    *
    * @param transform identity by default — both deployed reference
    *   lambdas are identity (lbd/to_s3.py:6-7, lbd/to_oss.py:6-7).
    */
  def transformEnvelope(
      df: DataFrame,
      payloadSchema: StructType,
      dropIf: Column => Column,
      transform: Column => Column = identity): DataFrame = {
    val decoded = decodeJson(col("data"), payloadSchema)
    df.withColumn("payload", decoded)
      .withColumn("result", route(col("data"), dropIf(col("payload"))))
      .withColumn("payload", col("payload").dropFields(CorruptField))
      .withColumn("out", transform(col("payload")))
      .withColumn("data",
        when(col("result") === DeliveryStatus.Ok, encodeJson(col("out")))
          .otherwise(col("data")))
      .select("recordId", "result", "data", "payload")
  }
}
