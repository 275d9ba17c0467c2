package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SQL surface for the native graft kernels: registers every
  * [[Kernels.Kernel]] marked `sql` as a SQL function so
  * `spark.sql("SELECT extract_spans(spans, doc_id) ...")` works — the
  * operators are usable from pure SQL (the reference's callers are
  * HTTP+SQL, not Scala), and from any JDBC/thrift front end.
  *
  * Two registration paths:
  *  - config: `spark.sql.extensions=graft.GraftExtensions` (applied to
  *    every new session — the deployment shape);
  *  - programmatic: [[GraftExtensions.register]] on an existing session
  *    (tests, notebooks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo("graft.GraftExtensions", k.name), k.expr))
    }
}

object GraftExtensions {

  /** The SQL-registered kernels. */
  val functions: Seq[Kernels.Kernel] = Kernels.all.filter(_.sql)

  /** Register all functions on an existing session's catalog. */
  def register(spark: SparkSession): Unit =
    functions.foreach { k =>
      org.apache.spark.sql.graftshim.FunctionShim.registerTemp(spark, k.name, k.expr)
    }
}
