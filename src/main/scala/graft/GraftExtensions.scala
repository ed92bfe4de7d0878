package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.VectorExpressions

/** Library packaging of the engine's Catalyst surface: register with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`), which injects the
  * custom functions into every session built from that config —
  * including Spark Connect and thrift-server sessions where imperative
  * registration isn't reachable. The function list is
  * [[functions.VectorExpressions.kernels]] — one registry consumed by
  * both this path and the imperative
  * [[functions.VectorExpressions.register]] fallback, so the two can't
  * drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    VectorExpressions.kernels.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), VectorExpressions.info(name), builder))
    }
}
