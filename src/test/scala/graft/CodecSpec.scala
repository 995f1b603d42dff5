package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Codecs
import graft.model.DeliveryStatus

/** Mirrors the reference's unit round-trip (tests/test_lbd_to_s3.py:9-25):
  * decode(encode(payload)) == payload, plus routing totality — every
  * record lands in exactly one status (kds_helper.py:43-51).
  * Property inputs come from ScalaCheck generators (fixed seed, one
  * batched DataFrame so the whole property is a single Spark job).
  */
class CodecSpec extends SparkSpec {

  private val payloadSchema = StructType(Seq(
    StructField("id", StringType), StructField("firstname", StringType),
    StructField("lastname", StringType), StructField("description", StringType),
    StructField("balance", IntegerType)))

  private val jsonSafe: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', '_', '.', '"', '\\', 'é', '中')))
      .map(_.mkString)

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("decode(encode(p)) == p over generated payloads (incl. quotes/escapes/unicode)") {
    import spark.implicits._
    val cases = samples(for {
      f <- jsonSafe; l <- jsonSafe; b <- Gen.chooseNum(-1000000, 1000000)
    } yield (f, l, b), 60)
    val df = cases.toDF("firstname", "lastname", "balance")
      .select(struct(lit("id-1").as("id"), col("firstname"), col("lastname"),
        lit("desc").as("description"), col("balance")).as("p"))
    val bad = df
      .withColumn("data", Codecs.encodeBase64(Codecs.encodeJson(col("p"))))
      .withColumn("back",
        Codecs.decodeJson(Codecs.decodeBase64(col("data")), payloadSchema)
          .dropFields(Codecs.CorruptField))
      .filter(not(col("p") === col("back")))
      .count()
    assert(bad == 0, s"$bad of ${cases.size} payloads failed the round-trip")
  }

  test("the reference's canonical envelope round-trips through the transform") {
    import spark.implicits._
    // Hand-built event from reference tests/test_lbd_to_s3.py:11-22.
    val payload = """{"id": "id-1", "firstname": "John", "lastname": "Doe", "description": "d", "balance": 0}"""
    val b64 = java.util.Base64.getEncoder.encodeToString((payload + "\n").getBytes("UTF-8"))
    val env = Seq(("49546986683135544286507457936321625675700192471156785154", 1495072949453L, b64))
      .toDF("recordId", "approximateArrivalTimestamp", "data")
      .withColumn("data", Codecs.decodeBase64(col("data")))
    val out = Codecs.transformEnvelope(env, payloadSchema, _ => lit(false))
    val row = out.select("result", "payload.firstname", "payload.balance").head()
    assert(row.getString(0) == DeliveryStatus.Ok)
    assert(row.getString(1) == "John")
    assert(row.getInt(2) == 0)
  }

  test("a non-identity transform rewrites the Ok payload (A4 user map hook)") {
    import spark.implicits._
    val rows = Seq(
      ("r1", """{"id":"a","firstname":"john","lastname":"doe","description":"d","balance":7}"""))
      .toDF("recordId", "data")
      .withColumn("data", col("data").cast("binary"))
    val out = Codecs.transformEnvelope(rows, payloadSchema,
      dropIf = _ => lit(false),
      transform = p => p.withField("firstname", upper(p.getField("firstname")))
        .withField("balance", p.getField("balance") * 2))
    val line = out.select(col("data").cast("string")).head().getString(0)
    val back = spark.read.json(Seq(line).toDS)
    assert(back.select("firstname").head().getString(0) == "JOHN")
    assert(back.select("balance").head().getLong(0) == 14)
  }

  test("null fields survive encoding; schema type mismatches route Ok (json.loads parity)") {
    import spark.implicits._
    val rows = Seq(
      ("r1", """{"id":"a","firstname":null,"lastname":"d","description":"x","balance":5}"""),
      ("r2", """{"id":"b","firstname":"f","lastname":"l","description":"x","balance":"not-a-number"}"""))
      .toDF("recordId", "data")
      .withColumn("data", col("data").cast("binary"))
    val out = Codecs.transformEnvelope(rows, payloadSchema, _ => lit(false))
    // Valid JSON with a wrong-typed field parses under json.loads — the
    // reference delivers it Ok; only JSON-invalid bytes are corrupt.
    val statuses = out.select("recordId", "result").as[(String, String)].collect().toMap
    assert(statuses == Map("r1" -> "Ok", "r2" -> "Ok"), s"got $statuses")
    // json.dumps keeps null-valued keys; the encode must too (Spark's
    // to_json default silently drops them).
    val line1 = out.filter(col("recordId") === "r1")
      .select(col("data").cast("string")).head().getString(0)
    assert(line1.contains("\"firstname\":null"), s"null field dropped from: $line1")
  }

  test("json_valid kernel == try_parse_json IS NOT NULL over an " +
      "adversarial corpus (the round-16 router-validity contract)") {
    import spark.implicits._
    // Hand-built shapes covering every branch the variant parser takes:
    // scalars, nesting, duplicate keys (rejected at any depth),
    // trailing garbage AFTER a complete value (accepted — the variant
    // parser never reads past the first value), beyond-long integers
    // (getLongValue throws), huge exponents, strict-RFC rejects
    // (single quotes, unquoted keys, comments, NaN, trailing commas),
    // empty/whitespace, and raw non-JSON text.
    val shapes = Seq(
      """{"a":1}""", """[1,2,3]""", """"str"""", "123", "-0.5", "1e10",
      "true", "false", "null", """{"a":{"b":[1,{"c":null}]}}""",
      """{"a":1,"b":2}""", """{"a":1,"a":2}""", """{"a":{"x":1,"x":2}}""",
      """[{"k":1,"k":2}]""", """{} junk""", """123 456""", """"s" trailing""",
      "92233720368547758079", "9223372036854775807", "-9223372036854775808",
      "1e999", "-1e999", "0.1e-999", """{"a":}""", """{"a":1,}""",
      """[1,2,""", """{'a':1}""", """{a:1}""", "NaN", "Infinity",
      "// c\n1", "1 // c", "", "   ", "\n\t", "not json at all",
      "tru", "nullx", "{", "}", "[]", "{}", """{"":""}""",
      """{"\u0041":1}""", "\"\\ud800\"", "\u0000", "01", "+1", ".5", "5.",
      """{"a":"\q"}""", "[\"" + "\\" + "u12\"]", s""""${"x" * 5000}"""",
      "[" * 50 + "1" + "]" * 50)
    val fuzz = samples(Gen.listOf(
      Gen.oneOf(Seq('{', '}', '[', ']', '"', ':', ',', '1', 'a', ' ', '\\', '.')))
      .map(_.mkString), 80)
    val df = (shapes ++ fuzz).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("i", "s")
    val out = df.select(col("i"), col("s"),
      graft.functions.JsonFunctions.jsonValid(col("s")).as("kernel"),
      try_parse_json(col("s")).isNotNull.as("variant"))
      .collect()
    val diverged = out.filter(r => r.getBoolean(2) != r.getBoolean(3))
      .map(r => s"${r.getLong(0)}: <${r.getString(1)}> kernel=${r.getBoolean(2)} variant=${r.getBoolean(3)}")
    assert(diverged.isEmpty, diverged.mkString("\n"))
    // Null input: the kernel must read FALSE (router fires
    // ProcessingFailed) exactly where try_parse_json(null).isNull.
    val nullRow = Seq(Tuple1(null: String)).toDF("s")
      .select(graft.functions.JsonFunctions.jsonValid(col("s"))).head()
    assert(!nullRow.getBoolean(0))
  }

  test("json_valid == try_parse_json IS NOT NULL at the nesting cap and " +
      "one past it, and neither side throws") {
    import spark.implicits._
    val cap = graft.functions.JsonValidKernel.MaxNestingDepth
    def nested(depth: Int): String = "[" * depth + "]" * depth
    val out = Seq((0, nested(cap)), (1, nested(cap + 1))).toDF("i", "s")
      .select(col("i"),
        graft.functions.JsonFunctions.jsonValid(col("s")).as("kernel"),
        try_parse_json(col("s")).isNotNull.as("variant"))
      .orderBy("i").collect()
      .map(r => (r.getBoolean(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((true, true), (false, false)), out.toSeq)
  }

  test("routing is total and 3-way: Ok / Dropped / ProcessingFailed") {
    import spark.implicits._
    val rows = Seq(
      ("r1", """{"id":"a","firstname":"x","lastname":"y","description":"d","balance":5}"""),
      ("r2", """{"id":"b","firstname":"x","lastname":"y","description":"d","balance":-1}"""),
      ("r3", """not json at all"""))
      .toDF("recordId", "data")
      .withColumn("data", col("data").cast("binary"))
    val out = Codecs.transformEnvelope(rows, payloadSchema,
      p => p.getField("balance") < 0)
    val statuses = out.select("recordId", "result").as[(String, String)].collect().toMap
    assert(statuses == Map("r1" -> "Ok", "r2" -> "Dropped", "r3" -> "ProcessingFailed"))
    // Non-Ok records keep raw bytes (reference kds_helper.py:56-61).
    val rawKept = out.filter(col("recordId") === "r3")
      .select(col("data").cast("string")).head().getString(0)
    assert(rawKept == "not json at all")
  }
}
