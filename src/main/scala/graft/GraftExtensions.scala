package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProductF, DotProductL, Int8CodesExpr}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions for SQL use.
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT dot_f(a.embedding, b.embedding) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.checkedBuilder))
    }
    e.injectOptimizerRule(_ => graft.plans.BucketedIntervalJoin)
  }
}

object GraftExtensions {
  /** One SQL function: name, expression class (for `DESCRIBE FUNCTION`),
    * arity and builder over exactly `arity` arguments.
    */
  private final case class Fn(name: String, cls: Class[_], arity: Int,
      build: Seq[Expression] => Expression) {
    // Explicit arity check: extra args would otherwise be silently
    // IGNORED (wrong results, no diagnostic) and too few would throw an
    // index error instead of an analysis error.
    val checkedBuilder: Seq[Expression] => Expression = { exprs =>
      require(exprs.length == arity, s"$name expects exactly $arity " +
        s"argument${if (arity == 1) "" else "s"}, got ${exprs.length}")
      build(exprs)
    }
  }

  /** The one table both registration paths read. */
  private val functions = Seq(
    Fn("dot_f", classOf[DotProductF], 2, a => DotProductF(a(0), a(1))),
    Fn("dot_l", classOf[DotProductL], 2, a => DotProductL(a(0), a(1))),
    Fn("quantize_i8", classOf[Int8CodesExpr], 1, a => Int8CodesExpr(a(0))))

  /** Same registrations for an already-built session: the SQL function
    * via the registry, the optimizer rule via experimental
    * extraOptimizations (both session-scoped).
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach(f =>
      org.apache.spark.sql.GraftSqlBridge.registerFunction(spark, f.name, f.checkedBuilder))
    if (!spark.experimental.extraOptimizations.contains(graft.plans.BucketedIntervalJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BucketedIntervalJoin
  }
}
