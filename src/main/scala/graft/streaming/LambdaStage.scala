package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model.{DeliveryStatus, RoutedRecord}

/** The reference's transform-Lambda INVOCATION contract, Spark-native.
  *
  * Firehose does not hand its Lambda one record at a time: it buffers
  * source records at its own processing hint — 3 MB or 60 s, whichever
  * first (reference iac/s2_app.py:814-815, `lambda_buffer_hint_size_in_mb
  * =3`) — and invokes the function once per accumulated batch; the
  * function returns exactly one `(recordId, result, data)` per input
  * record (reference kds_example/kds_helper.py:29-63). Declarative
  * transforms don't care ([[graft.functions.Codecs.transformEnvelope]]
  * is a codegen'd projection — batch shape is irrelevant), but a user
  * PORTING an opaque reference Lambda needs the invocation semantics:
  * bounded payload per call, per-call failure isolation, per-record
  * status results.
  *
  * Mapping of the two buffer dimensions onto Spark's execution model:
  * - SIZE (3 MB): enforced here, inside each task — records are grouped
  *   greedily into invocation batches whose summed payload stays under
  *   `maxInvocationBytes`; an oversized single record gets a solo
  *   invocation (Firehose does the same — the hint bounds accumulation,
  *   not one record).
  * - TIME (60 s): in micro-batch execution an invocation never waits on
  *   accumulation — the trigger boundary IS the time flush. Any trigger
  *   cadence ≤ the reference's 60 s interval honors the hint; there is
  *   deliberately no second timer here.
  *
  * Failure semantics match the reference pipeline: a failed invocation
  * — a throw, or a violation of the one-result-per-record contract —
  * is retried `retries` times against the SAME batch (the reference
  * configures its processor with `NumberOfRetries=1`, iac/s2_app.py:
  * 354-356, so one retry is the default here too); only when every
  * attempt fails is the batch routed `ProcessingFailed` with its raw
  * payloads preserved (Firehose sends a failed transform batch to the
  * processing-failed prefix; other invocations are unaffected). A
  * transient fault — a dependency hiccup the next attempt clears —
  * therefore delivers records instead of misrouting them to 04-failed.
  *
  * Scale shape: one `mapPartitions` — narrow, no shuffle, no driver
  * involvement; memory per task is bounded by one invocation batch
  * (`maxInvocationBytes`), not the partition.
  */
object LambdaStage {

  /** One invocation input record: (recordId, raw payload bytes). */
  final case class Rec(recordId: String, data: Array[Byte])

  /** A ported Lambda: one call per ≤`maxInvocationBytes` batch, one
    * result per input record (any order), statuses from
    * [[graft.model.DeliveryStatus]].
    *
    * AT-LEAST-ONCE contract (matching the Firehose transform it
    * ports): under retries `fn` is re-invoked against the SAME batch —
    * including after a deterministic contract violation — and Spark
    * task re-execution can replay whole partitions on top of that.
    * Any external side effect `fn` performs before throwing is
    * repeated on each attempt, so `fn` MUST be idempotent; a pure
    * transform (the reference's Lambda is one) satisfies this
    * trivially.
    */
  type BatchFn = Seq[Rec] => Seq[RoutedRecord]

  val DefaultMaxInvocationBytes: Long = 3L * 1024 * 1024 // iac/s2_app.py:814

  val DefaultRetries: Int = 1 // NumberOfRetries=1, iac/s2_app.py:354-356

  /** Run `fn` over an envelope frame (columns: recordId, data binary)
    * under the invocation contract. Returns (recordId, result, data).
    */
  def invoke(envelope: DataFrame, fn: BatchFn,
      maxInvocationBytes: Long = DefaultMaxInvocationBytes,
      retries: Int = DefaultRetries): DataFrame =
    invokeWithRaw(envelope, fn, maxInvocationBytes, retries)
      .select(col("recordId"), col("result"), col("routed").as("data"))

  /** [[invoke]] that keeps each record's raw bytes beside its result:
    * columns recordId, data (raw), result, routed (the Lambda's bytes).
    * The delivery epoch writes the raw backup and the routed output from
    * this one pass.
    */
  private[streaming] def invokeWithRaw(envelope: DataFrame, fn: BatchFn,
      maxInvocationBytes: Long = DefaultMaxInvocationBytes,
      retries: Int = DefaultRetries): DataFrame = {
    val spark = envelope.sparkSession
    import spark.implicits._
    // data may arrive string-typed (Dataset.as cannot upcast string →
    // binary); the cast keeps both envelope spellings working, like the
    // declarative transformEnvelope path does.
    envelope.select(col("recordId"), col("data").cast("binary").as("data")).as[Rec]
      .mapPartitions(it => invokePartition(it, fn, maxInvocationBytes, retries)
        .map { case (in, out) => (in.recordId, in.data, out.result, out.data) })
      .toDF("recordId", "data", "result", "routed")
  }

  /** Each input record paired with its result, in input order. */
  private def invokePartition(it: Iterator[Rec], fn: BatchFn,
      maxBytes: Long, retries: Int): Iterator[(Rec, RoutedRecord)] =
    groupByBytes(it, maxBytes).flatMap { batch =>
      // 1 + `retries` attempts against the same batch; the first
      // conforming result wins. Only TOTAL failure fails the batch.
      val out = Iterator.range(0, 1 + math.max(0, retries))
        .map(_ => attemptInvoke(batch, fn))
        .collectFirst { case Some(out) => out }
        .getOrElse(failAll(batch))
      batch.zip(out)
    }

  /** One invocation attempt: Some(per-record results, input order) when
    * `fn` returned a conforming result set, None on a throw or a
    * contract violation (the caller decides whether to retry).
    */
  private def attemptInvoke(batch: Seq[Rec],
      fn: BatchFn): Option[Seq[RoutedRecord]] =
    try {
      val out = fn(batch)
      val byId = out.groupBy(_.recordId)
      val inCounts = batch.groupBy(_.recordId).view.mapValues(_.size)
      // Firehose's contract: one result per input record. Counted per
      // OCCURRENCE, not per distinct id — an at-least-once source
      // without dedupByRecordId can legitimately replay the same
      // recordId into one batch, and a conforming Lambda then returns
      // one result per copy; failing the whole batch for that would
      // misroute every successfully transformed record to 04-failed.
      val conforms = out.size == batch.size &&
        inCounts.forall { case (id, n) => byId.get(id).exists(_.size == n) } &&
        out.forall(o => DeliveryStatus.all.contains(o.result))
      if (conforms) {
        // k-th input occurrence of an id takes the k-th result for it.
        val cursor = scala.collection.mutable.Map.empty[String, Int]
        Some(batch.map { r =>
          val k = cursor.getOrElse(r.recordId, 0)
          cursor(r.recordId) = k + 1
          byId(r.recordId)(k)
        })
      } else None
    } catch { case scala.util.control.NonFatal(_) => None }

  private def failAll(batch: Seq[Rec]): Seq[RoutedRecord] =
    batch.map(r => RoutedRecord(r.recordId, DeliveryStatus.ProcessingFailed, r.data))

  /** Greedy byte-bounded batching: cut before a record that would push
    * the running sum past `maxBytes`; an oversized record rides alone.
    * Lazy — only one batch is materialized at a time.
    */
  private[graft] def groupByBytes(it: Iterator[Rec],
      maxBytes: Long): Iterator[Seq[Rec]] =
    new Iterator[Seq[Rec]] {
      private val in = it.buffered
      override def hasNext: Boolean = in.hasNext
      override def next(): Seq[Rec] = {
        val batch = Seq.newBuilder[Rec]
        var bytes = 0L
        var n = 0
        while (in.hasNext &&
            (n == 0 || bytes + recBytes(in.head) <= maxBytes)) {
          val r = in.next()
          batch += r
          bytes += recBytes(r)
          n += 1
        }
        batch.result()
      }
      private def recBytes(r: Rec): Long =
        (if (r.data == null) 0 else r.data.length).toLong
    }
}
