package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2B is exposed here as a named query; each
  * SQL-expressible one also declares the equivalent DuckDB oracle SQL.
  */
object SparkEntry {

  /** All registered queries, in SURVEY §2B order. */
  def registry: Seq[QueryDef] = {
    val r = Relational.all ++ TrainingData.all ++ StreamingBatch.all
    // The hand-maintained concat makes a copy-paste name collision easy,
    // and toMap would silently drop the shadowed query from BOTH the
    // correctness gate and the bench — fail loudly instead.
    val dups = r.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names in registry: ${dups.mkString(",")}")
    r
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q07_multijoin.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The local session [[Bench]] and [[Verify]] run on:
    * `local[SPARK_GRAFT_CPUS]` (default: the available cores, at most
    * 32), AQE on, UTC session zone, UI off, WARN logging. Shuffle
    * partitions default to the core count, so a timed plan matches the
    * host it runs on.
    */
  private[graft] def localSession(
      shufflePartitions: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Set before the context starts, so its start-up INFO lines are
      // suppressed too (a setLogLevel call can only follow them).
      .config("spark.log.level", "WARN")
      .getOrCreate()
  }
}
