package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the enclosing span (-1 at
  * the root); times are `System.nanoTime` readings.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def secs: Double = (end - start) / 1e9
}

/** In-memory span recorder. When disabled, [[span]] only runs the body.
  * Spans opened on the caller's thread nest through a thread-local
  * stack; spans reconstructed from listener events name their parent
  * explicitly. Everything stays in memory until [[write]].
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def current: Int = stack.get.headOption.getOrElse(-1)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Record an interval observed elsewhere (listener events). */
  def add(name: String, parent: Int, start: Long, end: Long): Int =
    if (!enabled) -1
    else {
      val id = ids.incrementAndGet()
      done.add(Span(id, parent, name, start, math.max(start, end)))
      id
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Per-name self time: each span's length minus the union of its
    * children's coverage (clipped to the span).
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Tracer.coverage(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.name -> ((s.end - s.start - covered) / 1e9)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Seconds of `root` covered by descendant layer spans: every span
    * except the `workload.*` and `phase.*` spans that only group them.
    */
  def attributedSeconds(root: Span): Double = {
    val kids = spans.groupBy(_.parent)
    def desc(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c => c +: desc(c.id))
    Tracer.coverage(desc(root.id).filterNot(s => Tracer.isGroup(s.name)).map(c =>
      (math.max(c.start, root.start), math.min(c.end, root.end)))) / 1e9
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)) += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  def isGroup(name: String): Boolean = name.startsWith("workload.") || name.startsWith("phase.")

  /** Length of the union of [start, end) intervals. */
  def coverage(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Cost of one enabled span, measured on this JVM. */
  def perSpanNanos(): Double = {
    val t = new Tracer(true, "calibrate")
    val n = 200000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { t.span("x")(i); i += 1 }
    (System.nanoTime() - t0).toDouble / n
  }
}

/** One streaming progress event as seen by the listener. */
final case class Progress(queryName: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects every streaming progress event of the session. */
final class ProgressCollector extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(Progress(Option(p.name).getOrElse(""), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows))
  }
  def of(name: String): Seq[Progress] =
    events.asScala.filter(_.queryName == name).toSeq.sortBy(_.batchId)
  /** Wait until `name` has reported `rows` input rows in total. */
  def awaitRows(name: String, rows: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (of(name).map(_.inputRows).sum < rows) {
      if (System.currentTimeMillis() > deadline) return false
      Thread.sleep(2)
    }
    true
  }
}

/** SQL-level counters: executed-plan metrics per finished query, plus
  * job/task counts from the scheduler. Counts only while `on` is set.
  */
final class SqlCollector extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  val scanBytes = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val planningNs = new AtomicLong()
  val jobs = new AtomicLong()
  val tasks = new AtomicLong()
  private object Helper extends AdaptiveSparkPlanHelper

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) tasks.incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) {
      Helper.collectWithSubqueries(qe.executedPlan) { case p => p }.foreach { p =>
        p.metrics.foreach { case (k, m) =>
          k match {
            case "filesSize" => scanBytes.addAndGet(m.value)
            case "shuffleBytesWritten" => shuffleWriteBytes.addAndGet(m.value)
            case "spillSize" => spillBytes.addAndGet(m.value)
            case _ =>
          }
        }
      }
      planningNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Post-GC heap and cumulative GC time of this JVM. */
object Jvm {
  private val peak = new AtomicLong()

  /** Full collection, then record the used heap it leaves. The second
    * collection reclaims what the first one's reference processing
    * released (Spark's cleaner drops blocks of collected datasets).
    */
  def checkpointHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.accumulateAndGet(used, math.max)
  }
  def peakHeapMb: Double = peak.get / (1024.0 * 1024.0)
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A p-quantile is reported only with at least 10 samples beyond it. */
  def checkedQuantile(xs: Seq[Double], q: Double): Double = {
    val beyond = math.floor(xs.size * (1 - q) + 1e-9)
    require(beyond >= 10, s"p${(q * 100).round} needs 10 samples beyond it, have ${xs.size} samples")
    quantile(xs, q)
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Attempt/failure ledger: every tick, epoch, read and query is one
  * attempt; a thrown one is one failure with its message kept.
  */
final class Ledger {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val errors = new ConcurrentLinkedQueue[String]()
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        fail(what, e)
        None
    }
  }
  def fail(what: String, e: Throwable): Unit = {
    failed.incrementAndGet()
    errors.add(s"$what: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(400)}")
  }
  def failedShare: Double =
    if (attempted.get == 0) 0.0 else failed.get.toDouble / attempted.get
}

/** One run's shared state: session, collectors, tracer, ledger and the
  * metric/check registers the workloads fill.
  */
final class Ctx(val spark: SparkSession, val work: java.nio.file.Path,
    val seed: Long, val tracer: Tracer,
    val progress: ProgressCollector, val sql: SqlCollector) {
  val ledger = new Ledger
  val cores: Int = spark.sparkContext.defaultParallelism
  /** End-to-end metrics by name → (value, unit). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics by name → (value, unit). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Output checks: name → passed, with a detail line. */
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  /** Oracle SQL of each query key whose result was dumped for checking. */
  val oracles = mutable.LinkedHashMap.empty[String, String]
  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks(name) = (ok, if (ok) "ok" else detail)
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Spans from progress events, under span `parent`: one span per
    * micro-batch of each named query, with its `durationMs` stages laid
    * out in execution order as child spans. With `idleGaps`, the stretches
    * where no batch of any query ran become `sources.idle` spans.
    * `startNs`/`startMs` are one instant on the two clocks.
    */
  def traceBatches(qs: Seq[(String, Seq[Progress])], parent: Int, startNs: Long,
      startMs: Long, idleGaps: Boolean): Unit = if (tracer.enabled) {
    def ns(ms: Long): Long = startNs + (ms - startMs) * 1000000L
    val order = Seq("latestOffset" -> "sources.latest_offset", "walCommit" -> "wal_commit",
      "getBatch" -> "sources.get_batch", "queryPlanning" -> "query_planning",
      "addBatch" -> "add_batch", "commitOffsets" -> "commit_offsets")
    val batches = qs.flatMap { case (k, ev) =>
      ev.filter(_.inputRows > 0).map { p =>
        val id = tracer.add(s"streaming.$k.batch", parent, ns(p.startMs), ns(p.endMs))
        var at = ns(p.startMs)
        order.foreach { case (d, layer) =>
          val len = p.durations.getOrElse(d, 0L) * 1000000L
          val name = if (layer.startsWith("sources.")) layer else s"streaming.$k.$layer"
          tracer.add(name, id, at, at + len)
          at += len
        }
        (ns(p.startMs), ns(p.endMs))
      }
    }
    if (idleGaps) {
      var cur = startNs
      batches.sortBy(_._1).foreach { case (s, e) =>
        if (s > cur) tracer.add("sources.idle", parent, cur, s)
        cur = math.max(cur, e)
      }
    }
  }
  def dir(name: String): String = {
    val p = work.resolve(name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}

object Session {
  def create(cores: Int, work: java.nio.file.Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.pollingDelay", "5ms")
      .getOrCreate()

  /** Stop the active session and wait until its context is gone. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
