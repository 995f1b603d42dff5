package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Similarity}

/** The oracle-checked Q36/Q37 batch contracts re-executed as REAL
  * Structured Streaming queries (readStream → windowed agg → memory
  * sink) — proving Spark's batch/stream unification holds for our
  * operators: same code, same results, on the same closed input.
  */
class StreamingTwinSpec extends SparkSpec {

  private def eventsStream = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-twin").toString
    val ev = queries.Tables.events(spark, sfDir)
    ev.write.mode("overwrite").parquet(s"$tmp/in")
    spark.readStream.schema(ev.schema).parquet(s"$tmp/in")
  }

  test("q36 tumbling window: streaming output equals the batch contract") {
    import spark.implicits._
    val agg = eventsStream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), queries.Par.r2(sum("value")).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("ws"),
        col("event_type"), col("n"), col("sum_value"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("twin36").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("twin36")
      .as[(String, String, Long, Double)].collect().toSet
    val expect = SparkEntry.queries("q36_tumbling_window")(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == expect)
  }

  test("q37 sliding window: streaming output equals the batch contract") {
    import spark.implicits._
    val agg = eventsStream
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), queries.Par.r2(sum("value")).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("ws"),
        col("n"), col("sum_value"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("twin37").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("twin37").as[(String, Long, Double)].collect().toSet
    val expect = SparkEntry.queries("q37_sliding_window")(spark, sfDir)
      .as[(String, Long, Double)].collect().toSet
    assert(got == expect)
  }

  test("q11 stream-stream interval self-join equals the batch contract") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ss").toString
    val ev = queries.Tables.events(spark, sfDir)
    ev.write.mode("overwrite").parquet(s"$tmp/in")
    def side(a: String, b: String, c: String) = spark.readStream
      .schema(ev.schema).parquet(s"$tmp/in")
      .select(col("user_id").as(a), col("ts").as(b), col("event_id").as(c))
      .withWatermark(b, "10 minutes")
    val s1 = side("u1", "ts1", "id1")
    val s2 = side("u2", "ts2", "id2")
    // Stream-stream inner join: watermarks + the time-range condition
    // bound the join state — the streaming form of q11's operator.
    val joined = s1.join(s2,
      col("u1") === col("u2") &&
        col("ts2") > col("ts1") &&
        col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTES"))
      .select("id1", "id2")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("twin11")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("twin11").as[(Long, Long)].collect().toSet
    val expect = SparkEntry.queries("q11_range_join")(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(got == expect)
  }

  test("streaming funnel: stage-reached emissions over event-time-ordered epochs " +
      "equal the q129 batch contract") {
    import spark.implicits._
    import graft.streaming.Funnel
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-funnel").toString
    val ev = queries.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
    // Three epoch files split on GLOBAL event-time boundaries — the
    // in-order delivery the operator's precondition names (a replayed
    // shard-ordered log, or a CEP runtime's watermark buffer).
    val bounds = ev.select(min("ts").as("lo"), max("ts").as("hi")).head()
    val (lo, hi) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val cut1 = new java.sql.Timestamp(lo + (hi - lo) / 3)
    val cut2 = new java.sql.Timestamp(lo + 2 * (hi - lo) / 3)
    Seq(
      ev.filter(col("ts") <= cut1),
      ev.filter(col("ts") > cut1 && col("ts") <= cut2),
      ev.filter(col("ts") > cut2)
    ).zipWithIndex.foreach { case (chunk, i) =>
      chunk.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/chunk=$i")
      // FileStreamSource orders files by modification time: pin each
      // chunk's files to strictly increasing mtimes so the delivery
      // order is the EPOCH order by construction, not a race against
      // filesystem timestamp granularity.
      val dir = java.nio.file.Paths.get(s"$tmp/in/chunk=$i")
      val ls = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.foreach { p =>
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
      } finally ls.close()
    }
    val src = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1) // one epoch file per micro-batch
      .parquet(s"$tmp/in/chunk=*")
      .as[Funnel.Event]
    val q = Funnel.track(spark, src,
        stages = Seq("view", "click", "purchase"),
        windowMillis = 24L * 3600 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("twin_funnel")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    val live = spark.table("twin_funnel")
      .groupBy("stage").agg(countDistinct("user_id").as("n"))
      .as[(Int, Long)].collect().toMap
    val batch = SparkEntry.queries("q129_funnel")(spark, sfDir)
      .as[(String, Long)].collect().toMap
    assert(live.getOrElse(1, 0L) == batch("l1_view"), s"live $live batch $batch")
    assert(live.getOrElse(2, 0L) == batch("l2_click"), s"live $live batch $batch")
    assert(live.getOrElse(3, 0L) == batch("l3_purchase"), s"live $live batch $batch")
    // Monotone facts: a stage is reached at most once per user.
    assert(spark.table("twin_funnel")
      .groupBy("user_id", "stage").count().filter(col("count") > 1).count() == 0)
  }

  /** Shared delivery scaffolding for the four sink twins: wrap a
    * pre-shaped (recordId string, line string) frame in the wire
    * envelope, append it to the test's input dir, and run one
    * IndexSink.start pass over the accumulated files (the shared
    * checkpoint carries epoch ids across calls, so repeated deliveries
    * append epochs exactly like a long-running stream).
    */
  private def deliverEnvelopes(tmp: String,
      lines: org.apache.spark.sql.DataFrame,
      payloadSchema: org.apache.spark.sql.types.StructType,
      enrich: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity,
      tag: String = "epoch"): Unit = {
    import org.apache.spark.sql.types._
    import graft.streaming.IndexSink
    lines.select(to_json(struct(col("recordId"), col("line"))).as("value"))
      .coalesce(1).write.mode("append").text(s"$tmp/in")
    val env = spark.readStream
      .schema(StructType(Seq(StructField("recordId", StringType),
        StructField("line", StringType))))
      .json(s"$tmp/in")
      .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
        col("line").cast("binary").as("data"))
    val q = IndexSink.start(env, payloadSchema, s"$tmp/index", s"$tmp/backup",
      s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false), enrich = enrich)
    assert(q.awaitTermination(120000), s"delivery $tag timed out")
  }

  test("scrub-on-ingest: PII redaction + text fix applied per delivered " +
      "epoch equal the batch scrub of the same closed corpus") {
    // The reference pattern is transform-on-delivery (its Lambda
    // rewrites records in flight); the curation analogue is scrubbing
    // PII and normalizing bytes as epochs land, so the index never
    // stores an unscrubbed row. Both operators are stateless narrow
    // expressions, so per-epoch application must equal one batch pass.
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.IndexSink
    import graft.operators.{Redact, TextFix}
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-scrub").toString
    val docs = queries.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit("  mail u"), col("doc_id").cast("string"),
          lit("@ex.com\t10.0.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
          lit(" ")).as("text"))
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def scrub(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("text", TextFix.fix(Redact.scrub(col("text"))))
    // Two epochs, split mid-corpus.
    Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
      .foreach { chunk =>
        deliverEnvelopes(tmp,
          chunk.select(to_json(struct(col("doc_id"), col("text"))).as("line"),
            col("doc_id").cast("string").as("recordId")),
          payloadSchema, enrich = scrub)
      }
    val live = IndexSink.liveVectors(spark, s"$tmp/index", "recordId")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val batch = scrub(docs).as[(Long, String)].collect().toMap
    assert(live == batch, "per-epoch scrub diverged from the batch scrub")
    // And the scrub actually fired: no raw emails/IPs survive.
    assert(live.values.forall(t => t.contains("<EMAIL>") && t.contains("<IP>")))
    assert(live.values.forall(t => !t.contains("@ex.com") && !t.contains("\t")))
  }

  test("curation-on-store: Gopher gates + CCNet buckets over the delivered " +
      "view equal the batch pass on the independently-resolved corpus") {
    // The two round-12 curation operators are corpus-statistics reads
    // (q136's tercile cutoffs shift retroactively as epochs land —
    // they are properties of the RESOLVED corpus, not per-record
    // state), so their live form is simply the batch operator over the
    // upsert-resolved delivered view. Three epochs with an upsert
    // prove the store's last-write-wins resolution feeds them the
    // right corpus: the expected side is constructed independently in
    // the test, not read back from the store.
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.functions.TextFunctions.tokens
    import graft.operators.{NgramLm, QualityRules}
    import graft.streaming.IndexSink
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-cur").toString
    val docs = queries.Tables.t(spark, sfDir, "documents")
      .select("doc_id", "source", "text")
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    def wire(df: org.apache.spark.sql.DataFrame) =
      df.select(to_json(struct(col("doc_id"), col("source"), col("text")))
        .as("line"), col("doc_id").cast("string").as("recordId"))
    // Epochs 0/1 split the corpus; epoch 2 UPSERTS every 10th doc with
    // doubled text (changes n_words, mean_word_len, and its LM score).
    val upserts = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" "), col("text")))
    Seq(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), upserts)
      .foreach(chunk => deliverEnvelopes(tmp, wire(chunk), payloadSchema))
    val resolved = docs.filter(col("doc_id") % 10 =!= 0).unionByName(upserts)
    val live = IndexSink.liveVectors(spark, s"$tmp/index", "recordId")
      .select("doc_id", "source", "text")

    def gopherRows(df: org.apache.spark.sql.DataFrame) =
      QualityRules.gopher(df).collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(gopherRows(live) == gopherRows(resolved),
      "Gopher gates over the delivered view diverged from the resolved corpus")

    def bucketRows(df: org.apache.spark.sql.DataFrame) = {
      val toks = df.select(col("doc_id"), tokens(col("text")).as("toks"))
      val scored = NgramLm.score(toks, NgramLm.train(toks))
        .select(col("doc_id"),
          (floor(col("nll") * 100 + lit(0.5)) / 100).as("nll"))
        .join(df.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "nll")
      NgramLm.sourceBuckets(scored)
        .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    }
    val liveBuckets = bucketRows(live)
    assert(liveBuckets == bucketRows(resolved),
      "CCNet buckets over the delivered view diverged from the resolved corpus")
    assert(liveBuckets.values.toSet == Set("head", "middle", "tail"))
  }

  test("streaming ANN: epochs delivered through the sink are searchable " +
      "between epochs, equal to the batch index on the same closed input") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.IndexSink
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-ann").toString
    val emb = queries.Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    // The FROZEN model: trained once on the full corpus (the reference
    // pattern — a model trained offline, new data encoded against it as
    // it lands; iac/s2_app.py:830-914's sink is continuously queryable).
    val model = Ivf.train(spark, emb, k = 8, iters = 2)
    val payloadSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))

    def deliver(rows: org.apache.spark.sql.DataFrame, batchTag: String): Unit =
      deliverEnvelopes(tmp,
        rows.select(to_json(struct(col("vec_id"), col("embedding"))).as("line"),
          col("vec_id").cast("string").as("recordId")),
        payloadSchema, enrich = df => Ivf.withCell(df, model),
        tag = batchTag)
    def liveSearch(probes: org.apache.spark.sql.DataFrame) =
      Ivf.search(spark,
        IndexSink.liveVectors(spark, s"$tmp/index", "recordId")
          .select("vec_id", "embedding", "cell"),
        model, probes, k = 10, nprobe = 3)
        .select("probe_id", "neighbor_id", "cos", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
    def batchSearch(corpus: org.apache.spark.sql.DataFrame,
        probes: org.apache.spark.sql.DataFrame) =
      Ivf.search(spark, Ivf.index(corpus, model), model, probes,
          k = 10, nprobe = 3)
        .select("probe_id", "neighbor_id", "cos", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSet

    val probes = emb.filter(col("vec_id") < 5)
    val embA = emb.filter(col("vec_id") % 2 === 0)
    // Epoch 1 lands; searches run BETWEEN epochs against exactly the
    // delivered half — bit-equal to a batch index of that half (cells
    // assigned epoch-side must match a batch rebuild's, cosines are the
    // same double folds over the same floats after the JSON wire).
    deliver(embA, "epoch-1")
    val got1 = liveSearch(probes)
    assert(got1.nonEmpty)
    assert(got1 == batchSearch(embA, probes), "live epoch-1 diverged from batch")
    // Epoch 2 completes the corpus: live results converge to the full
    // batch index without ANY re-encode of epoch 1.
    deliver(emb.filter(col("vec_id") % 2 === 1), "epoch-2")
    val got2 = liveSearch(probes)
    assert(got2 == batchSearch(emb, probes), "live epoch-2 diverged from batch")
  }

  test("streaming ANN (IVFADC): delivered epochs carry residual codes; " +
      "live ADC search equals the batch encode") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.IvfPq
    import graft.streaming.IndexSink
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-ivfpq").toString
    val emb = queries.Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    // IVFADC needs exact subspace tiling: restrict to the modal width.
    val dim = emb.groupBy(size(col("embedding")).as("d")).count()
      .orderBy(col("count").desc, col("d")).head().getInt(0)
    val embW = emb.filter(size(col("embedding")) === dim)
    val model = IvfPq.train(spark, embW, kCoarse = 4, coarseIters = 2,
      nSub = 4, subDim = dim / 4, kSub = 4, pqIters = 2, meanRound = 4)
    val payloadSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = embW.filter(size(col("embedding")) === (dim / 4) * 4)
    deliverEnvelopes(tmp,
      rows.select(to_json(struct(col("vec_id"), col("embedding"))).as("line"),
        col("vec_id").cast("string").as("recordId")),
      payloadSchema, enrich = df => IvfPq.withCellCodes(df, model))
    val probes = rows.filter(col("vec_id") < 5)
    val live = IvfPq.search(spark,
        IndexSink.liveVectors(spark, s"$tmp/index", "recordId")
          .select("vec_id", "cell", "codes"),
        model, probes, k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id", "pq_cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val batch = IvfPq.search(spark, IvfPq.encode(rows, model), model,
        probes, k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id", "pq_cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(live.nonEmpty && live == batch,
      "streamed IVFADC codes diverged from the batch encode")
  }

  test("streaming ANN (LSH): delivered epochs carry hyperplane buckets; " +
      "live bucket search equals the batch bucketing") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.IndexSink
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-lsh").toString
    val emb = queries.Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    // The plane family is data-independent — the only "model" is the
    // plane WIDTH, fixed up front like a trained artifact (streaming
    // frames cannot run hyperplaneLsh's eager width probe).
    val dim = emb.agg(max(size(col("embedding")))).head().getInt(0)
    val payloadSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    deliverEnvelopes(tmp,
      emb.select(to_json(struct(col("vec_id"), col("embedding"))).as("line"),
        col("vec_id").cast("string").as("recordId")),
      payloadSchema,
      enrich = df => Similarity.hyperplaneLsh(df, nPlanes = 8, dim = dim))
    val probes = emb.filter(col("vec_id") < 5)
    val live = Similarity.lshSearch(
        IndexSink.liveVectors(spark, s"$tmp/index", "recordId")
          .select("vec_id", "embedding", "bucket"),
        probes, nPlanes = 8, k = 5, dim = dim)
      .select("probe_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val batch = Similarity.lshSearch(
        Similarity.hyperplaneLsh(emb, nPlanes = 8, dim = dim),
        probes, nPlanes = 8, k = 5, dim = dim)
      .select("probe_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(live.nonEmpty && live == batch,
      "streamed LSH buckets diverged from the batch bucketing")
  }

  test("streaming ANN (multi-table LSH): delivered epochs carry every table's " +
      "bucket; live OR-amplified search equals the batch bucketing") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.IndexSink
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-mlsh").toString
    val emb = queries.Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    val dim = emb.agg(max(size(col("embedding")))).head().getInt(0)
    val payloadSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    deliverEnvelopes(tmp,
      emb.select(to_json(struct(col("vec_id"), col("embedding"))).as("line"),
        col("vec_id").cast("string").as("recordId")),
      payloadSchema,
      enrich = df => Similarity.multiBuckets(df, nPlanes = 4, tables = 4, dim = dim))
    val probes = emb.filter(col("vec_id") < 5)
    val live = Similarity.lshSearchMultiBucketed(
        IndexSink.liveVectors(spark, s"$tmp/index", "recordId")
          .select("vec_id", "embedding", "buckets"),
        probes, nPlanes = 4, tables = 4, k = 5, dim = dim)
      .select("probe_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val batch = Similarity.lshSearchMulti(emb, probes,
        nPlanes = 4, tables = 4, k = 5, dim = dim)
      .select("probe_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(live.nonEmpty && live == batch,
      "streamed multi-table buckets diverged from the batch bucketing")
  }

  test("streaming text search: BM25-ranked match over delivered epochs, " +
      "upsert-resolved, equals the batch ranking of the same closed input") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.IndexSink
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-text").toString
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("body", StringType)))

    def deliver(rows: Seq[(Long, String)], tag: String): Unit =
      deliverEnvelopes(tmp,
        rows.toDF("doc_id", "body")
          .select(to_json(struct(col("doc_id"), col("body"))).as("line"),
            col("doc_id").cast("string").as("recordId")),
        payloadSchema, tag = tag)
    def liveSearch(query: String): Seq[(Long, Double)] = {
      IndexSink.registerLatestView(spark, s"$tmp/index", "live_text", "recordId")
      IndexSink.rankedMatch(spark, "live_text", "body", "doc_id", query)
        .as[(Long, Double)].collect().toSeq
    }
    def batchSearch(rows: Seq[(Long, String)], query: String): Seq[(Long, Double)] = {
      rows.toDF("doc_id", "body").createOrReplaceTempView("batch_text")
      IndexSink.rankedMatch(spark, "batch_text", "body", "doc_id", query)
        .as[(Long, Double)].collect().toSeq
    }

    val epoch1 = Seq(
      1L -> "mortgage deposit approved for the savings account",
      2L -> "wire transfer completed without a deposit",
      3L -> "ATM withdrawal fee charged on checking")
    deliver(epoch1, "epoch-1")
    // Live ranking between epochs == batch ranking of the closed input:
    // same analyzer, same BM25, and the live stats (df, avgdl) are
    // computed from exactly the delivered docs.
    val got1 = liveSearch("deposit mortgage")
    assert(got1.nonEmpty && got1 == batchSearch(epoch1, "deposit mortgage"))
    assert(got1.head._1 == 1L) // both terms
    // Epoch 2 UPSERTS doc 1 (drops its terms) and adds doc 4: the live
    // ranking must reflect last-write-wins — doc 1's old text gone from
    // tf AND from df/avgdl — matching a batch over the resolved state.
    val epoch2 = Seq(
      1L -> "closed account with nothing relevant",
      4L -> "new deposit recorded at the branch")
    deliver(epoch2, "epoch-2")
    val resolved = Seq(
      1L -> "closed account with nothing relevant",
      2L -> "wire transfer completed without a deposit",
      3L -> "ATM withdrawal fee charged on checking",
      4L -> "new deposit recorded at the branch")
    val got2 = liveSearch("deposit mortgage")
    assert(got2 == batchSearch(resolved, "deposit mortgage"),
      s"live $got2 diverged from batch over the resolved corpus")
    assert(!got2.exists(_._1 == 1L)) // the upsert removed doc 1's match
  }

  test("incremental postings index: per-epoch deltas + one upsert equal " +
      "a batch index rebuild, before and after compaction") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.{IndexSink, LiveTextIndex}
    val tmp = java.nio.file.Files.createTempDirectory("graft-live-postings").toString
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("body", StringType)))
    val spec = IndexSink.LiveIndexSpec(s"$tmp/textindex", field = "body",
      key = "doc_id", shards = 2)

    def deliver(rows: Seq[(Long, String)], tag: String): Unit = {
      rows.toDF("doc_id", "body")
        .select(to_json(struct(col("doc_id"), col("body"))).as("value"))
        .coalesce(1).write.mode("append").text(s"$tmp/in")
      val env = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("body", StringType))))
        .json(s"$tmp/in")
        .select(col("doc_id").cast("string").as("recordId"),
          lit(0L).as("approximateArrivalTimestamp"),
          to_json(struct(col("doc_id"), col("body"))).cast("binary").as("data"))
      val q = IndexSink.start(env, payloadSchema, s"$tmp/index", s"$tmp/backup",
        s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false), textIndex = Some(spec))
      assert(q.awaitTermination(120000), s"delivery $tag timed out")
    }
    def liveSearch(query: String): Seq[(Long, Double)] =
      IndexSink.rankedMatch(spark, LiveTextIndex.read(spark, spec.root),
          "doc_id", query, "or", 10)
        .select(col("doc_id").cast("long"), col("_score"))
        .as[(Long, Double)].collect().toSeq
    def batchSearch(rows: Seq[(Long, String)], query: String): Seq[(Long, Double)] = {
      // The rebuild the live index must MATCH WITHOUT DOING: one full
      // corpus pass over the resolved state (buildTextIndex), queried
      // through the identical index-backed path.
      rows.toDF("doc_id", "body")
        .select(col("doc_id").cast("string"), col("body"))
        .createOrReplaceTempView("batch_live_text")
      IndexSink.rankedMatch(spark,
          IndexSink.textIndex(spark, "batch_live_text", "body", "doc_id"),
          "doc_id", query, "or", 10)
        .select(col("doc_id").cast("long"), col("_score"))
        .as[(Long, Double)].collect().toSeq
    }
    def deltaEpochs(): Int = {
      val p = new org.apache.hadoop.fs.Path(s"${spec.root}/postings")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.startsWith("epoch="))
    }

    val epoch1 = Seq(
      1L -> "mortgage deposit approved for the savings account",
      2L -> "wire transfer completed without a deposit",
      3L -> "ATM withdrawal fee charged on checking")
    deliver(epoch1, "epoch-1")
    val got1 = liveSearch("deposit mortgage")
    assert(got1.nonEmpty && got1 == batchSearch(epoch1, "deposit mortgage"))
    assert(got1.head._1 == 1L) // both terms
    // Epoch 2 UPSERTS doc 1 (drops its terms) and adds doc 4. The
    // currency rule must retire doc 1's old postings even though its
    // NEW version never mentions them — per-term latest-epoch would
    // keep the stale rows forever; the doclen authority retires them.
    val epoch2 = Seq(
      1L -> "closed account with nothing relevant",
      4L -> "new deposit recorded at the branch")
    deliver(epoch2, "epoch-2")
    val resolved = Seq(
      1L -> "closed account with nothing relevant",
      2L -> "wire transfer completed without a deposit",
      3L -> "ATM withdrawal fee charged on checking",
      4L -> "new deposit recorded at the branch")
    assert(deltaEpochs() >= 2, "expected one postings delta per epoch")
    val got2 = liveSearch("deposit mortgage")
    assert(got2 == batchSearch(resolved, "deposit mortgage"),
      s"live $got2 diverged from the batch rebuild over the resolved corpus")
    assert(!got2.exists(_._1 == 1L)) // the upsert retired doc 1's match
    // df currency: "mortgage" existed only in doc 1's RETIRED version,
    // so it must vanish from the document-frequency table entirely,
    // while "deposit" counts exactly its two current docs (2 and 4).
    val idx = LiveTextIndex.read(spark, spec.root)
    assert(idx.df.filter(col("term") === "mortgage").count() == 0)
    assert(idx.df.filter(col("term") === "deposit").as[(String, Double)]
      .collect().toSeq == Seq("deposit" -> 2.0))
    assert(idx.stats.select(col("n")).as[Double].head() == 4.0)
    // Compaction folds the history into one snapshot per store and
    // changes NOTHING observable; superseded doc-1 rows are gone.
    val kept = LiveTextIndex.compact(spark, spec.root, shards = 2)
    assert(deltaEpochs() == 1, "compaction should leave one snapshot dir")
    assert(liveSearch("deposit mortgage") == got2)
    val postSnapshot = LiveTextIndex.read(spark, spec.root)
    assert(postSnapshot.postings.count() == kept)
    // A post-compaction delta keeps composing: epoch 3 re-adds a
    // mortgage doc; live == rebuild again, no corpus pass in between.
    val epoch3 = Seq(5L -> "second mortgage deposit approved")
    deliver(epoch3, "epoch-3")
    assert(liveSearch("deposit mortgage") ==
      batchSearch(resolved ++ epoch3, "deposit mortgage"))
    // Plan pin: the query's term filter reaches the postings scans —
    // pushed below BOTH the currency join and the df aggregate — so
    // per-query cost is the terms' postings, never the corpus.
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.operators.Retrieval.bm25FromIndex(
        LiveTextIndex.read(spark, spec.root), Seq("deposit", "mortgage"))
        .explain("formatted")
    }
    val p = out.toString("UTF-8")
    assert("In\\(term|EqualTo\\(term".r.findAllIn(p).size >= 2, p)
  }

  test("live positional postings: phrase search over delivered epochs equals " +
      "batch, through upserts and compaction; coverage misuse fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.SearchDsl
    import graft.streaming.{IndexSink, LiveTextIndex}
    val tmp = java.nio.file.Files.createTempDirectory("graft-live-pos").toString
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("body", StringType)))
    val spec = IndexSink.LiveIndexSpec(s"$tmp/textindex", field = "body",
      key = "doc_id", shards = 2, positions = true)

    def deliver(rows: Seq[(Long, String)], tag: String): Unit = {
      rows.toDF("doc_id", "body")
        .select(to_json(struct(col("doc_id"), col("body"))).as("value"))
        .coalesce(1).write.mode("append").text(s"$tmp/in")
      val env = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("body", StringType))))
        .json(s"$tmp/in")
        .select(col("doc_id").cast("string").as("recordId"),
          lit(0L).as("approximateArrivalTimestamp"),
          to_json(struct(col("doc_id"), col("body"))).cast("binary").as("data"))
      val q = IndexSink.start(env, payloadSchema, s"$tmp/index", s"$tmp/backup",
        s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false), textIndex = Some(spec))
      assert(q.awaitTermination(120000), s"delivery $tag timed out")
    }
    def livePhrase(phrase: Seq[String]): Map[Long, Long] =
      SearchDsl.phraseMatch(
          LiveTextIndex.readPositional(spark, spec.root), phrase)
        .select(col("doc_id").cast("long"), col("n_hits"))
        .as[(Long, Long)].collect().toMap
    def batchPhrase(rows: Seq[(Long, String)], phrase: Seq[String]): Map[Long, Long] = {
      import graft.functions.TextFunctions.tokens
      val toks = rows.toDF("doc_id", "body")
        .select(col("doc_id"), tokens(col("body")).as("toks"))
      SearchDsl.phraseMatch(SearchDsl.positionalPostings(toks), phrase)
        .as[(Long, Long)].collect().toMap
    }

    val phrase = Seq("mortgage", "deposit")
    val epoch1 = Seq(
      1L -> "mortgage deposit approved for the savings account",
      2L -> "deposit mortgage reversed order never matches",
      3L -> "mortgage deposit twice mortgage deposit here")
    deliver(epoch1, "epoch-1")
    val got1 = livePhrase(phrase)
    assert(got1 == batchPhrase(epoch1, phrase) && got1 == Map(1L -> 1L, 3L -> 2L))
    // Epoch 2 UPSERTS doc 1 (phrase gone — its old positions must
    // retire under the doclen currency even though the new version
    // never mentions either term) and adds doc 4 with the phrase.
    val epoch2 = Seq(
      1L -> "closed account with nothing relevant",
      4L -> "approved mortgage deposit at the branch")
    deliver(epoch2, "epoch-2")
    val resolved = Seq(
      1L -> "closed account with nothing relevant",
      2L -> "deposit mortgage reversed order never matches",
      3L -> "mortgage deposit twice mortgage deposit here",
      4L -> "approved mortgage deposit at the branch")
    val got2 = livePhrase(phrase)
    assert(got2 == batchPhrase(resolved, phrase) && got2 == Map(3L -> 2L, 4L -> 1L))
    // Compaction folds all four stores; nothing observable changes.
    LiveTextIndex.compact(spark, spec.root, shards = 2)
    assert(livePhrase(phrase) == got2)
    assert(LiveTextIndex.status(spark, spec.root).contains("positions"))
    // A post-compaction delta keeps composing.
    val epoch3 = Seq(5L -> "final mortgage deposit closes it")
    deliver(epoch3, "epoch-3")
    assert(livePhrase(phrase) == batchPhrase(resolved ++ epoch3, phrase))
    // Plan pin: the phrase terms' filter pushes below the currency
    // join to the positional delta scans.
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      SearchDsl.phraseMatch(
        LiveTextIndex.readPositional(spark, spec.root), phrase).explain("formatted")
    }
    val p = out.toString("UTF-8")
    assert("In\\(term|EqualTo\\(term".r.findAllIn(p).nonEmpty, p)

    // COVERAGE GUARDS: flipping the positions flag mid-life fails
    // loudly in both directions (positions cannot be backfilled).
    val e = intercept[IllegalArgumentException] {
      LiveTextIndex.writeDelta(
        Seq((9L, Seq("a", "b"))).toDF("doc_id", "toks"),
        spec.root, epoch = 99L, shards = 2, positions = false)
    }
    assert(e.getMessage.contains("positional store"))
    val noPos = java.nio.file.Files.createTempDirectory("graft-nopos").toString
    LiveTextIndex.writeDelta(
      Seq((1L, Seq("a", "b"))).toDF("doc_id", "toks"),
      noPos, epoch = 0L, shards = 2)
    intercept[IllegalArgumentException] {
      LiveTextIndex.writeDelta(
        Seq((2L, Seq("c"))).toDF("doc_id", "toks"),
        noPos, epoch = 1L, shards = 2, positions = true)
    }
    intercept[IllegalStateException] {
      LiveTextIndex.readPositional(spark, noPos)
    }
  }

  test("cross-epoch span dedup: gram state over delivered epochs equals " +
      "batch SpanDedup on the closed corpus, before and after compaction") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.functions.TextFunctions.tokens
    import graft.streaming.LiveSpanDedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-live-span").toString
    val root = s"$tmp/gramstate"
    val k = 3

    // A REAL streaming maintenance path: each delivery appends to the
    // file source and one AvailableNow pass writes that epoch's gram
    // delta from inside foreachBatch (the shared checkpoint carries
    // epoch ids across calls, like the index-delivery tests).
    def deliver(rows: Seq[(Long, String)], tag: String): Unit = {
      rows.toDF("doc_id", "body")
        .select(to_json(struct(col("doc_id"), col("body"))).as("value"))
        .coalesce(1).write.mode("append").text(s"$tmp/in")
      val q = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("body", StringType))))
        .json(s"$tmp/in")
        .writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
          LiveSpanDedup.writeDelta(
            batch.select(col("doc_id"), tokens(col("body")).as("toks")),
            root, epochId, k, shards = 2)
        }
        .start()
      assert(q.awaitTermination(120000), s"delivery $tag timed out")
    }
    def liveSpans(): Set[(Long, Long, Long)] =
      LiveSpanDedup.duplicatedSpans(spark, root, k, idType = LongType)
        .as[(Long, Long, Long)].collect().toSet
    def batchSpans(rows: Seq[(Long, String)]): Set[(Long, Long, Long)] =
      graft.operators.SpanDedup.duplicatedSpans(
          rows.toDF("doc_id", "body")
            .select(col("doc_id"), tokens(col("body")).as("toks")), k)
        .as[(Long, Long, Long)].collect().toSet

    val epoch1 = Seq(
      1L -> "alpha beta gamma delta closes the unique first document",
      2L -> "wholly unrelated second text with nothing repeated")
    deliver(epoch1, "epoch-1")
    // No duplication yet — and live agrees with batch on that too.
    assert(liveSpans().isEmpty && batchSpans(epoch1).isEmpty)
    // Epoch 2 re-uses epoch 1's boilerplate run: the duplicated span
    // crosses the epoch boundary, which batch SpanDedup could only see
    // by re-processing the closed corpus — the live state sees it from
    // the merged gram counts, marking BOTH occurrences (doc 1's span
    // retroactively, doc 3's on arrival).
    val epoch2 = Seq(
      3L -> "preamble then alpha beta gamma delta and a novel tail")
    deliver(epoch2, "epoch-2")
    val closed2 = epoch1 ++ epoch2
    val live2 = liveSpans()
    assert(live2 == batchSpans(closed2),
      s"cross-epoch spans $live2 diverged from batch on the closed corpus")
    assert(live2.map(_._1) == Set(1L, 3L), s"both copies must be marked: $live2")
    // Epoch 3 duplicates WITHIN the delivery; merged counts catch it
    // the same way.
    val epoch3 = Seq(
      4L -> "shared run one two three four ends here",
      5L -> "prefix one two three four suffix words")
    deliver(epoch3, "epoch-3")
    val closed3 = closed2 ++ epoch3
    assert(liveSpans() == batchSpans(closed3))
    // Compaction consolidates the stores to one snapshot each and
    // changes nothing observable; a post-compaction delta composes.
    LiveSpanDedup.compact(spark, root, shards = 2)
    def dirs(sub: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(p).count(_.getPath.getName.startsWith("epoch="))
    }
    assert(dirs("occ") == 1 && dirs("counts") == 1 && dirs("docs") == 1)
    assert(liveSpans() == batchSpans(closed3))
    val epoch4 = Seq(6L -> "echoes alpha beta gamma delta once more")
    deliver(epoch4, "epoch-4")
    assert(liveSpans() == batchSpans(closed3 ++ epoch4))
    // Epoch 5 UPSERTS doc 3, REMOVING its boilerplate: the superseded
    // version's grams retract, so the resolved corpus has the "alpha
    // beta gamma delta" run in docs 1 and 6 only — doc 3's span is
    // gone AND docs 1/6 stay marked (still two copies). Also upsert
    // doc 4, erasing the epoch-3 within-delivery duplication: doc 5's
    // "one two three four" loses its partner, so its span must
    // retroactively UNMARK — the case only true retraction can get
    // right.
    val epoch5 = Seq(
      3L -> "rewritten clean text with no repeats",
      4L -> "also rewritten into novel content")
    deliver(epoch5, "epoch-5")
    val resolved5 = Seq(
      1L -> "alpha beta gamma delta closes the unique first document",
      2L -> "wholly unrelated second text with nothing repeated",
      3L -> "rewritten clean text with no repeats",
      4L -> "also rewritten into novel content",
      5L -> "prefix one two three four suffix words",
      6L -> "echoes alpha beta gamma delta once more")
    val live5 = liveSpans()
    assert(live5 == batchSpans(resolved5),
      s"post-upsert spans $live5 diverged from batch on the resolved corpus")
    assert(live5.map(_._1) == Set(1L, 6L), s"retraction failed: $live5")
    // Re-delivering doc 3 WITH the boilerplate re-counts it (the
    // second retraction chain: e2 version retracted at e5, e5 version
    // retracted now) — and compaction after upserts stays equal.
    val epoch6 = Seq(3L -> "back again alpha beta gamma delta indeed")
    deliver(epoch6, "epoch-6")
    val resolved6 = resolved5.filterNot(_._1 == 3L) ++ epoch6
    assert(liveSpans() == batchSpans(resolved6))
    LiveSpanDedup.compact(spark, root, shards = 2)
    assert(dirs("occ") == 1 && dirs("docs") == 1)
    assert(liveSpans() == batchSpans(resolved6))
  }

  test("delivery sink spanState hook: spans over epochs delivered through " +
      "IndexSink.start equal batch SpanDedup on the resolved corpus") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.functions.TextFunctions.tokens
    import graft.streaming.{IndexSink, LiveSpanDedup}
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink-span").toString
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("body", StringType)))
    // compactEvery = 2: the second delivery folds the stores inline —
    // the sink-managed maintenance cadence, asserted below.
    val spec = IndexSink.LiveSpanSpec(s"$tmp/spanstate", field = "body",
      key = "doc_id", k = 3, shards = 2, compactEvery = 2)

    def deliver(rows: Seq[(Long, String)], tag: String): Unit = {
      rows.toDF("doc_id", "body")
        .select(to_json(struct(col("doc_id"), col("body"))).as("value"))
        .coalesce(1).write.mode("append").text(s"$tmp/in")
      val env = spark.readStream
        .schema(payloadSchema)
        .json(s"$tmp/in")
        .select(col("doc_id").cast("string").as("recordId"),
          lit(0L).as("approximateArrivalTimestamp"),
          to_json(struct(col("doc_id"), col("body"))).cast("binary").as("data"))
      val q = IndexSink.start(env, payloadSchema, s"$tmp/index", s"$tmp/backup",
        s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false),
        spanState = Some(spec))
      assert(q.awaitTermination(120000), s"delivery $tag timed out")
    }
    // The hook stores doc_id as string (the delivery key contract);
    // compare as longs against the batch operator over long ids.
    def liveSpans(): Set[(Long, Long, Long)] =
      LiveSpanDedup.duplicatedSpans(spark, spec.root, spec.k)
        .select(col("doc_id").cast("long"), col("span_start"), col("span_end"))
        .as[(Long, Long, Long)].collect().toSet
    def batchSpans(rows: Seq[(Long, String)]): Set[(Long, Long, Long)] =
      graft.operators.SpanDedup.duplicatedSpans(
          rows.toDF("doc_id", "body")
            .select(col("doc_id"), tokens(col("body")).as("toks")), spec.k)
        .as[(Long, Long, Long)].collect().toSet

    val epoch1 = Seq(
      1L -> "alpha beta gamma delta anchors the first document",
      2L -> "unrelated second body with no repeats")
    deliver(epoch1, "epoch-1")
    assert(liveSpans().isEmpty)
    // Epoch 2 repeats epoch 1's run across the boundary AND upserts
    // doc 2 — the full contract (cross-epoch detection + retraction)
    // through the delivery sink, not a hand-rolled foreachBatch.
    val epoch2 = Seq(
      2L -> "rewritten alpha beta gamma delta appears here",
      3L -> "third doc closes quietly")
    deliver(epoch2, "epoch-2")
    val resolved = Seq(
      1L -> "alpha beta gamma delta anchors the first document",
      2L -> "rewritten alpha beta gamma delta appears here",
      3L -> "third doc closes quietly")
    val live = liveSpans()
    assert(live == batchSpans(resolved),
      s"sink-maintained spans $live diverged from batch over the resolved corpus")
    assert(live.map(_._1) == Set(1L, 2L))
    // The compactEvery policy fired on the second delivery: each store
    // is one snapshot dir, and nothing observable changed.
    def dirs(sub: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"${spec.root}/$sub")
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(p).count(_.getPath.getName.startsWith("epoch="))
    }
    assert(dirs("occ") == 1 && dirs("counts") == 1 && dirs("docs") == 1,
      "compactEvery=2 should have folded the stores on the second epoch")
  }

  test("delivery sink percolator hook: per-epoch alerts through IndexSink.start " +
      "equal batch percolation, and a re-delivered match alerts again") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.functions.TextFunctions.tokens
    import graft.streaming.IndexSink
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink-perc").toString
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("body", StringType)))
    val registry = Seq(
      (10L, Seq("alpha", "beta")),   // conjunctive pair
      (11L, Seq("quiet")),           // single rare term
      (12L, Seq("alpha", "zzz")))    // never satisfiable
      .toDF("query_id", "terms")
    val spec = IndexSink.PercolatorSpec(registry, s"$tmp/alerts",
      field = "body", key = "doc_id")

    def deliver(rows: Seq[(Long, String)], tag: String): Unit = {
      rows.toDF("doc_id", "body")
        .select(to_json(struct(col("doc_id"), col("body"))).as("value"))
        .coalesce(1).write.mode("append").text(s"$tmp/in")
      val env = spark.readStream
        .schema(payloadSchema)
        .json(s"$tmp/in")
        .select(col("doc_id").cast("string").as("recordId"),
          lit(0L).as("approximateArrivalTimestamp"),
          to_json(struct(col("doc_id"), col("body"))).cast("binary").as("data"))
      val q = IndexSink.start(env, payloadSchema, s"$tmp/index", s"$tmp/backup",
        s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false),
        percolator = Some(spec))
      assert(q.awaitTermination(120000), s"delivery $tag timed out")
    }
    def alerts(): Set[(Long, Long, Long)] =
      spark.read.parquet(s"$tmp/alerts/*")
        .select(col("doc_id").cast("long"), col("query_id"), col("_epoch"))
        .as[(Long, Long, Long)].collect().toSet
    def batchPerc(rows: Seq[(Long, String)]): Set[(Long, Long)] =
      graft.operators.SearchDsl.percolate(
          rows.toDF("doc_id", "body")
            .select(col("doc_id"), tokens(col("body")).as("toks")), registry)
        .as[(Long, Long)].collect().toSet

    val epoch1 = Seq(
      1L -> "alpha beta gamma",     // query 10
      2L -> "alpha only here")      // no full match
    deliver(epoch1, "epoch-1")
    assert(alerts() == batchPerc(epoch1).map { case (d, q) => (d, q, 0L) })
    // Epoch 2: a new match (doc 3 → query 11) AND doc 1 re-delivered
    // still matching — the alert LOG fires again for the new delivery,
    // while each epoch's alert set equals batch percolation of that
    // epoch alone (stateless per doc).
    // Epoch 2 also lands doc 4 TWICE with different bodies (an
    // at-least-once duplicate inside one delivery): the hook percolates
    // only the version IndexSink's rule keeps. Both rows carry
    // recordId "4", so the content tiebreak decides ("quiet..." >
    // "nothing..."), and the alert reflects a delivered version, never
    // the UNION of both versions' terms.
    val epoch2 = Seq(
      1L -> "alpha beta rewritten",
      3L -> "closes quiet",
      4L -> "nothing here",
      4L -> "quiet corner")
    deliver(epoch2, "epoch-2")
    val resolved2 = Seq(
      1L -> "alpha beta rewritten",
      3L -> "closes quiet",
      4L -> "quiet corner")
    val expect = batchPerc(epoch1).map { case (d, q) => (d, q, 0L) } ++
      batchPerc(resolved2).map { case (d, q) => (d, q, 1L) }
    assert(alerts() == expect)
    assert(alerts().contains((1L, 10L, 0L)) && alerts().contains((1L, 10L, 1L)),
      "a re-delivered matching doc must alert on both deliveries")
    assert(alerts().contains((4L, 11L, 1L)),
      "the resolved duplicate's surviving version must drive the alert")
  }

  test("IVF search recall vs brute force (nprobe=4 of k=8 cells)") {
    import spark.implicits._
    val emb = queries.Tables.t(spark, sfDir, "embeddings")
    val model = Ivf.train(spark, emb, k = 8, iters = 3)
    val indexed = Ivf.index(emb, model)
    assert(indexed.select(countDistinct(col("cell"))).head().getLong(0) > 1)
    val probes = emb.filter(col("vec_id") < 5)
    val ivfTop = Ivf.search(spark, indexed, model, probes, k = 10, nprobe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bruteTop = Similarity.topKPerProbe(
        emb.select(col("vec_id").as("id"), col("embedding")),
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")), 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // Probing half the cells must recover a solid share of true top-10.
    val recalls = bruteTop.map { case (p, truth) =>
      ivfTop.getOrElse(p, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"IVF mean recall too low: $mean")
  }

  test("q154 twin: the REAL delivery pipeline's success channel, fed " +
      "through the shared curation->packing->shards chain, equals the " +
      "batch chain key row-for-row") {
    import org.apache.spark.sql.types._
    import graft.streaming.DeliveryPipeline
    import graft.streaming.DeliveryPipeline.Sinks
    val tmp = java.nio.file.Files.createTempDirectory("graft-q154-twin").toString
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // The q154 fixture verbatim: corrupted bytes at doc_id % 17 == 0,
    // Dropped below 200 chars — but routed by the streaming pipeline's
    // four-channel delivery instead of the batch projection.
    val docs = queries.Tables.t(spark, sfDir, "documents")
    val lines = docs.select(
      col("doc_id").cast("string").as("recordId"),
      when(pmod(col("doc_id"), lit(17L)) === 0, lit("definitely not json"))
        .otherwise(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))).as("line"))
    lines.select(to_json(struct(col("recordId"), col("line"))))
      .coalesce(2).write.mode("overwrite").text(s"$tmp/in")
    val env = spark.readStream
      .schema(StructType(Seq(StructField("recordId", StringType),
        StructField("line", StringType))))
      .json(s"$tmp/in")
      .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
        col("line").cast("binary").as("data"))
    val sinks = Sinks(s"$tmp/out")
    val pipe = DeliveryPipeline.start(env, payloadSchema, sinks, s"$tmp/ckpt",
      dropIf = p => p.getField("n_chars") < 200)
    assert(pipe.awaitTermination(120000), "delivery timed out")
    // Success channel -> decoded payloads -> the SHARED downstream
    // (queries.TrainingData.deliveryToShards — one definition with the
    // registry key, so the comparison proves the pipeline's routing,
    // not a re-implementation).
    val ok = spark.read.schema(payloadSchema).json(sinks.success + "/object-*")
      .select(col("doc_id"), col("text"))
    val got = queries.TrainingData.deliveryToShards(ok).collect().toSeq
    val want = SparkEntry.queries("q154_delivery_to_shards")(spark, sfDir)
      .collect().toSeq
    assert(got == want,
      s"streamed chain diverged: ${got.size} vs ${want.size} rows")
    assert(want.nonEmpty, "empty chain output proves nothing")
  }

  test("live multi_match twin: per-field live indexes equal the batch " +
      "multiMatch on the resolved corpus, through upserts + compaction") {
    // Completes the every-search-verb-has-a-live-counterpart pattern
    // for q183 (VERDICT r14 #8): each FIELD is its own LiveTextIndex
    // store (per-field df/avgdl is Lucene's per-field index layout, so
    // the live mapping is one store per field), and
    // SearchDsl.multiMatchFromIndexes over the maintained stores must
    // equal the batch multiMatch over the upsert-resolved corpus —
    // bit-exact, both match types.
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    import graft.streaming.LiveTextIndex
    import graft.operators.SearchDsl
    val tmp = java.nio.file.Files.createTempDirectory("graft-mm-twin").toString
    val bodyRoot = s"$tmp/body"
    val titleRoot = s"$tmp/title"
    // Three epochs; doc 2 is UPSERTED in epoch 2 (its epoch-0 terms
    // must stop scoring), and the query terms appear with different
    // tf/dl shapes across docs so both fields rank non-trivially.
    val epochs = Seq(
      Seq(1L -> "data spark shuffles partitions catalyst tungsten",
        2L -> "stale draft data data data nothing useful"),
      Seq(3L -> "spark data streams delivery epochs compaction",
        4L -> "unrelated words entirely different vocabulary here"),
      Seq(2L -> "data spark replaces the stale draft cleanly"))
    def bodyToks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id").cast("string").as("doc_id"),
        tokens(col("body")).as("toks"))
    def titleToks(rows: Seq[(Long, String)]) =
      bodyToks(rows).select(col("doc_id"), slice(col("toks"), 1, 3).as("toks"))
    epochs.zipWithIndex.foreach { case (rows, e) =>
      LiveTextIndex.writeDelta(bodyToks(rows), bodyRoot, e.toLong, shards = 2)
      LiveTextIndex.writeDelta(titleToks(rows), titleRoot, e.toLong, shards = 2)
    }
    LiveTextIndex.compact(spark, bodyRoot, shards = 2)
    LiveTextIndex.compact(spark, titleRoot, shards = 2)
    val resolved = epochs.flatten.toMap.toSeq
    val rBody = bodyToks(resolved)
    val rTitle = titleToks(resolved)
    for (mt <- Seq("best_fields", "most_fields")) {
      val live = SearchDsl.multiMatchFromIndexes(
          Seq((LiveTextIndex.read(spark, bodyRoot), 1.0),
            (LiveTextIndex.read(spark, titleRoot), 2.0)),
          Seq("data", "spark"), mt, tieBreaker = 0.3)
        .as[(String, Double)].collect().toMap
      val batch = SearchDsl.multiMatch(
          Seq((rBody, 1.0), (rTitle, 2.0)),
          Seq("data", "spark"), mt, tieBreaker = 0.3)
        .as[(String, Double)].collect().toMap
      assert(live == batch, s"$mt twin diverged: live $live batch $batch")
      assert(batch.nonEmpty, "degenerate corpus: no multi_match hits")
      // The upserted doc scores under its NEW text only: its stale
      // epoch-0 body was pure 'data' spam, so a retraction failure
      // would inflate its tf and show as a score mismatch above; also
      // pin that doc 2 is still a hit at all.
      assert(live.contains("2"), "upserted doc lost from the live ranking")
    }
  }
}
