package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark DataFrame pipeline plus (optionally) the
  * equivalent ANSI SQL the DuckDB oracle runs over the same parquet tables.
  *
  * Conventions (oracle-parity rules, see SURVEY.md §2B / FIXTURES.md §3):
  *  - every query ends in a total ORDER BY (tie-breaks on key columns);
  *  - doubles that result from arithmetic are wrapped in round(x, 2) on
  *    BOTH sides;
  *  - timestamps are never emitted raw: cast to DATE (midnight-aligned
  *    columns) or formatted to a string with an explicit pattern;
  *  - computed integers are coerced to the same width on both sides
  *    (DuckDB year()/length()/ceil() widths differ from Spark's);
  *  - booleans are emitted as INT (0/1).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String]
)(val build: (SparkSession, String) => DataFrame)

object Tables {
  import org.apache.spark.sql.functions._

  /** All testdata tables ship as one parquet file per table. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else
      rebalanced(spark, spark.read.parquet(s"$dir/$name.parquet"),
        s"$dir/$name.parquet")

  /** Parallelism floor for degenerate single-chunk layouts (round-15).
    *
    * Scan parallelism comes from file LAYOUT (files × row groups), and
    * a small table that ships as ONE single-row-group parquet file —
    * exactly this testdata's shape; `documents.parquet` is one row
    * group at every tier — pins every downstream narrow stage to one
    * task no matter the core count: the whole text suite's scan-side
    * compute (tokenize, gram kernels, regex chains) ran single-
    * threaded while 31 threads idled, invisible to plan audits because
    * the PLAN was right and only the split count was degenerate.
    *
    * The mitigation is a bounded round-robin rebalance: only files in
    * [minBytes, maxBytes) move — one exchange over a few MB — so tiny
    * broadcast dims stay put (no exchange in front of a 25-row
    * broadcast) and a genuinely large, well-laid-out corpus is never
    * reshuffled (at 100 TB layout is the fix, not a post-scan
    * shuffle; maxBytes caps the mitigation at small extracts).
    * Values are partition-independent by the repo's own audit
    * discipline (every query ends in a total ORDER BY).
    *
    * Row-group gate (the q40 lesson): the exchange only pays when the
    * file's LAYOUT is actually degenerate. Size alone over-fires — a
    * table whose footer already carries ≥ par/4 row groups scans with
    * enough natural parallelism that the residual speedup is bounded
    * (≤4×, usually far less) while the exchange cost is linear in the
    * table; a 9-row-group events tier re-shuffled for a 3-task
    * aggregation read 2.5× SLOWER. So the footer is consulted (one
    * driver-side metadata read per path, cached for the session —
    * the same footer every scan planning reads anyway) and only
    * layouts under max(2, par/4) row groups move.
    *
    * Bytes-per-row gate (round-16, the q40 lesson completed): the
    * rebalance buys SCAN-SIDE COMPUTE parallelism, which only pays
    * when per-row work is heavy — fat text/vector rows (documents
    * ~119 compressed B/row, embeddings ~400: tokenizers, gram kernels,
    * quantizer math) — while on narrow relational rows (lineitem /
    * orders / customer / events, 9–52 B/row: column arithmetic) the
    * exchange is a pure fixed cost. A one-window A/B at sf0.1 read the
    * narrow-row suite 2–3× FASTER without it (q13 1.07→0.41 s, q62
    * 1.47→0.72, q24 1.33→0.56, q165 0.70→0.24) with the fat-row wins
    * untouched, and two of the three window CANARIES (q02 customer,
    * q58 orders) were carrying the exchange — inflating window_factor
    * and excusing the whole suite's flags. Footer rows are read from
    * the same cached metadata as the row-group count.
    *
    * The byte floor and the bytes-per-row floor are parameters only so
    * a spec can force the rebalance on a test-sized table.
    */
  private[graft] def rebalanced(spark: SparkSession, df: DataFrame, path: String,
      minBytes: Long = RebalanceMinBytes,
      minBytesPerRow: Long = RebalanceMinBytesPerRow): DataFrame = {
    // Hadoop FS status, not java.io.File (round-16, VERDICT r15 note):
    // File.length() returns 0 for any non-local store, which would
    // silently no-op the rebalance off local disk. Cached per path
    // beside the row-group count (same immutability argument).
    val bytes = fileLen(spark, path)
    val par = spark.sparkContext.defaultParallelism
    if (bytes >= minBytes && bytes < RebalanceMaxBytes && par > 1 && {
      val (groups, rows) = footerMeta(spark, path)
      groups < math.max(2, par / 4) && rows > 0 && bytes / rows >= minBytesPerRow
    }) df.repartition(par)
    else df
  }

  /** [[rebalanced]]'s bounds: files in [256 KB, 64 MB) at ≥ 64 B/row. */
  private val RebalanceMinBytes: Long = 256L << 10
  private val RebalanceMaxBytes: Long = 64L << 20
  private val RebalanceMinBytesPerRow: Long = 64L

  /** (row-group count, total rows) from the parquet footer, cached per
    * path for the session (testdata files are immutable while a
    * session runs).
    */
  private val footerCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Long)]

  private val fileLenCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** `read` once per path, caching only a success: a failed read (the
    * path does not exist yet, or is not a readable file) is retried by
    * the next call, so a file written after the first probe is seen.
    */
  private def cachedRead[V](cache: scala.collection.concurrent.TrieMap[String, V],
      path: String)(read: => V): Option[V] =
    cache.get(path).orElse(scala.util.Try(read).toOption.map { v =>
      cache.putIfAbsent(path, v).getOrElse(v)
    })

  /** File size in bytes; 0 when the path cannot be read. */
  private[graft] def fileLen(spark: SparkSession, path: String): Long =
    cachedRead(fileLenCache, path) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
    }.getOrElse(0L)

  // An unreadable footer (e.g. a DIRECTORY-shaped table a caller fed
  // through the single-file loader) safely declines the rebalance
  // instead of failing the read.
  private[graft] def footerMeta(spark: SparkSession, path: String): (Int, Long) =
    cachedRead(footerCache, path) {
      import scala.jdk.CollectionConverters._
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
      try (r.getRowGroups.size, r.getRowGroups.asScala.map(_.getRowCount).sum)
      finally r.close()
    }.getOrElse((Int.MaxValue, 0L))

  /** `events.ts` is `timestamp[us]` with isAdjustedToUTC=false at
    * every tier: it arrives as TIMESTAMP_NTZ and is cast to the
    * session-zone type every downstream query expects. All graft
    * sessions pin the session zone to UTC, so the cast preserves the
    * wall-clock value DuckDB sees in its naive TIMESTAMP read of the
    * same file. A TIMESTAMP(NANOS) file fails at read with Spark's own
    * error; this read never changes the session conf.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val raw = spark.read.parquet(path)
    val adapted = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already the session-zone timestamp type
    }
    rebalanced(spark, adapted, path)
  }
}

/** Oracle-parity helpers (see QueryDef scaladoc).
  *
  * `r2` is round-half-up-to-2-decimals spelled as explicit double
  * arithmetic: `floor(x*100 + 0.5)/100`. Spark's `round` rounds the
  * shortest decimal repr of the double (BigDecimal.valueOf) while C-family
  * engines round the binary value — e.g. round(1222.745, 2) is 1222.75 in
  * Spark but 1222.74 in DuckDB. Spelling the formula out forces BOTH
  * engines through the same IEEE ops, so results are bit-equal. The SQL
  * oracles inline the same formula.
  */
object Par {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  def r2(c: Column): Column = floor(c * 100 + lit(0.5)) / 100

  /** SQL form of [[r2]] for oracle strings. */
  def r2sql(e: String): String = s"floor(($e) * 100 + 0.5) / 100"

  /** 4-decimal variant for scores whose interesting range sits near
    * zero (e.g. KL divergences), where [[r2]] would collapse every
    * value to 0.00. Same engine-portable construction.
    */
  def r4(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000

  /** SQL form of [[r4]] for oracle strings. */
  def r4sql(e: String): String = s"floor(($e) * 10000 + 0.5) / 10000"
}
