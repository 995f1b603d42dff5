package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions.tokens
import graft.streaming.{IndexSink, LiveNearDedup, LiveSpanDedup, LiveTextIndex}

/** One in-epoch version rule for the live index: a doc id delivered
  * twice in one epoch resolves to the later `recordId` in every read
  * surface and every maintained store, whatever the input row order,
  * and the hooks share one scan of the epoch parquet.
  */
class LiveVersionRuleSpec extends SparkSpec {

  private val payloadSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("body", StringType)))
  private val envelopeSchema = StructType(Seq(
    StructField("recordId", StringType), StructField("line", StringType)))
  private val k = 3

  /** Append one envelope file of (recordId, doc_id, body) rows. */
  private def land(in: String, rows: Seq[(String, Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("recordId", "doc_id", "body")
      .select(to_json(struct(col("recordId"),
        to_json(struct(col("doc_id"), col("body"))).as("line"))).as("value"))
      .coalesce(1).write.mode("append").text(in)
  }

  /** Deliver everything under `$tmp/in` through `IndexSink.start` with
    * all six hooks, one file per epoch.
    */
  private def deliver(tmp: String): Unit = {
    import spark.implicits._
    val env = spark.readStream.schema(envelopeSchema)
      .option("maxFilesPerTrigger", 1).json(s"$tmp/in")
      .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
        col("line").cast("binary").as("data"))
    val queries = Seq((10L, Seq("alpha", "kappa")), (11L, Seq("zulu")))
      .toDF("query_id", "terms")
    val q = IndexSink.start(env, payloadSchema, s"$tmp/delivered",
      s"$tmp/backup", s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false),
      textIndex = Some(IndexSink.LiveIndexSpec(s"$tmp/tindex", "body",
        key = "doc_id", shards = 2)),
      spanState = Some(IndexSink.LiveSpanSpec(s"$tmp/sstate", "body",
        key = "doc_id", k = k, shards = 2)),
      percolator = Some(IndexSink.PercolatorSpec(queries, s"$tmp/alerts",
        "body", key = "doc_id")),
      nearDupState = Some(IndexSink.LiveNearDupSpec(s"$tmp/ndstate", "body",
        key = "doc_id", shards = 2)),
      sketchState = Some(IndexSink.LiveSketchSpec(s"$tmp/sketch", "body",
        key = "doc_id")),
      rateState = Some(IndexSink.LiveRateSpec(s"$tmp/rates", "body")))
    assert(q.awaitTermination(180000), s"delivery into $tmp timed out")
  }

  /** Every row of every store dir under `tmp` except the raw index and
    * backup, as sorted strings keyed by the dir: the maintained state.
    */
  private def storeState(tmp: String): Map[String, Seq[String]] = {
    val root = java.nio.file.Paths.get(tmp)
    val walk = Files.walk(root)
    val dirs = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("epoch=")).toList
    } finally walk.close()
    dirs.map(root.relativize(_).toString)
      .filterNot(d => d.startsWith("delivered") || d.startsWith("backup"))
      .map(d => d -> spark.read.parquet(s"$tmp/$d").collect()
        .map(_.toString).toSeq.sorted)
      .toMap
  }

  // Doc 1 twice in one epoch. The later recordId ("e0-10" is later
  // than "e0-9" by length, though lexically smaller) carries the later
  // version. The earlier version has the greater token array
  // ("zulu" > "alpha"), so a greatest-array pick keeps the wrong one.
  private val earlier = "zulu yankee xray whiskey victor uniform tango"
  private val later = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val other = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
  private val epoch0 = Seq(
    ("e0-1", 2L, other),
    ("e0-9", 1L, earlier),
    ("e0-10", 1L, later))

  test("a doc id delivered twice in one epoch: the later recordId's " +
      "version is current in every read surface and store, in any row order") {
    import spark.implicits._
    val resolved = Seq("1" -> later, "2" -> other)
    val resolvedToks = resolved.toDF("doc_id", "body")
      .select(col("doc_id"), tokens(col("body")).as("toks"))
    val states = Seq(Seq(0, 1, 2), Seq(2, 1, 0), Seq(1, 0, 2)).zipWithIndex.map {
      case (ord, i) =>
        val tmp = Files.createTempDirectory(s"graft-version-rule-$i").toString
        land(s"$tmp/in", ord.map(epoch0))
        deliver(tmp)

        IndexSink.registerLatestView(spark, s"$tmp/delivered", "version_rule", "doc_id")
        assert(spark.table("version_rule").select(col("doc_id").cast("string"), col("body"))
          .as[(String, String)].collect().toMap == resolved.toMap, s"order $ord")

        val tindex = LiveTextIndex.read(spark, s"$tmp/tindex")
        def ranked(q: String) = IndexSink.rankedMatch(spark, tindex, "doc_id", q, "or", 10)
          .as[(String, Double)].collect().toSeq
        assert(ranked("kappa").map(_._1) == Seq("1"), s"order $ord")
        assert(ranked("zulu").isEmpty, s"order $ord: the earlier version is indexed")
        assert(ranked("alpha kappa") ==
          IndexSink.rankedMatch(spark, "version_rule", "body", "doc_id", "alpha kappa")
            .select(col("doc_id").cast("string"), col("_score"))
            .as[(String, Double)].collect().toSeq, s"order $ord")

        val pairs = LiveNearDedup.candidatePairs(spark, s"$tmp/ndstate")
          .as[(String, String, Double)].collect().toSet
        assert(pairs == graft.operators.Dedup.lshCandidatePairs(
            resolved.toDF("doc_id", "text"), "doc_id", "text")
          .as[(String, String, Double)].collect().toSet, s"order $ord")
        assert(pairs.map(p => (p._1, p._2)) == Set(("1", "2")), s"order $ord: $pairs")

        val spans = LiveSpanDedup.duplicatedSpans(spark, s"$tmp/sstate", k)
          .as[(String, Long, Long)].collect().toSet
        assert(spans == graft.operators.SpanDedup.duplicatedSpans(resolvedToks, k)
          .as[(String, Long, Long)].collect().toSet, s"order $ord")
        assert(spans.map(_._1) == Set("1", "2"), s"order $ord: $spans")

        val alerts = spark.read.parquet(s"$tmp/alerts/epoch=0")
          .select(col("doc_id").cast("string"), col("query_id"))
          .as[(String, Long)].collect().toSet
        assert(alerts == Set(("1", 10L)), s"order $ord: $alerts")
        storeState(tmp)
    }
    assert(states.forall(_.nonEmpty))
    assert(states.distinct.size == 1, "the row order changed the maintained state")
  }

  /** Runs `body` and counts, per epoch, the file scans of the delivered
    * index's `epoch=N` dir among the plans it executed. A cached frame's
    * scan counts once, however many queries read the cache.
    */
  private def epochScans(body: => Unit): Map[Long, Int] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val caches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = p match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.foreach(r => scans.add(r.toString))
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec =>
        if (caches.synchronized(caches.add(m.relation.cacheBuilder)))
          walk(m.relation.cachedPlan)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    observingQueries(qe => walk(qe.executedPlan))(body)
    val epoch = "/delivered/epoch=(\\d+)$".r
    scans.toArray.toSeq.flatMap(p => epoch.findFirstMatchIn(p.toString))
      .map(_.group(1).toLong).groupBy(identity).map { case (e, s) => e -> s.size }
  }

  test("with all six hooks, each epoch's parquet is scanned once") {
    val tmp = Files.createTempDirectory("graft-one-scan").toString
    land(s"$tmp/in", epoch0)
    land(s"$tmp/in", Seq(("e1-1", 1L, other), ("e1-2", 3L, earlier)))
    val scans = epochScans(deliver(tmp))
    assert(scans == Map(0L -> 1, 1L -> 1), s"epoch parquet scans per epoch: $scans")
  }
}
