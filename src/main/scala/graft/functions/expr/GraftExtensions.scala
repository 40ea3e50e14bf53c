package graft.functions.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions hook registering the native vector
  * expressions — so `graft_dot` / `graft_sqdist` resolve in both the
  * DataFrame API (`call_function`) and raw `spark.sql` text — and the
  * LevenshteinPrefilter optimizer rule (implied length-difference
  * conjunct for edit-distance predicates).
  *
  * Usage: `.withExtensions(new GraftExtensions)` on a session builder
  * (`graft.GraftSession.build` and the test session do), or
  * `spark.sql.extensions=graft.functions.expr.GraftExtensions` on any
  * cluster — the standard injection point, no fork of Spark needed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorExprs.functions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), VectorExprs.info(name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinPrefilter)
  }
}
