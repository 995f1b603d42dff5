package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, UTC, AQE on, 8 shuffle
  * partitions for test speed).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with a QueryExecutionListener that hands every query
    * it executes (succeeded or failed) to `record`, and returns once the
    * listener has seen them all: events arrive asynchronously but in
    * order, so a marker write showing up proves every earlier one has.
    * Registered before `body` runs, because a streaming query's session
    * clones the listeners it sees when it starts.
    */
  protected def observingQueries(
      record: org.apache.spark.sql.execution.QueryExecution => Unit)(body: => Unit): Unit = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = java.nio.file.Files.createTempDirectory("graft-marker").toString
    @volatile var seen = false
    val listener = new QueryExecutionListener {
      private def on(qe: QueryExecution): Unit = {
        record(qe)
        qe.logical.foreach {
          case c: InsertIntoHadoopFsRelationCommand
              if c.outputPath.toString.endsWith(marker) => seen = true
          case _ =>
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = on(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = on(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).selectExpr("'m'").write.mode("overwrite").text(marker)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(seen, "the marker write never reached the listener")
    } finally spark.listenerManager.unregister(listener)
  }

  /** Crash-point stand-ins for the store protocol specs: delete a
    * store dir the way a crash between two writes leaves it missing,
    * and probe whether a dir survived.
    */
  protected def deleteDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
  protected def dirExists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Naive sequential-fold cosine reference (zero-norm pairs pin to
    * -1.0, matching Similarity.cosSafe) — shared by the semDedup specs
    * so the sentinel/fold semantics can't silently diverge between
    * suites.
    */
  protected def naiveCos(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    if (na == 0.0 || nb == 0.0) -1.0 else dot / (na * nb)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
