package graft.plans

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions installer for the graft native functions —
  * the first registration path: [[graft.GraftSession]] installs it on
  * every session it builds, and other deployments can opt in with
  * spark-submit `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * Sessions without it get the same builders from the idempotent
  * GraftFunctions.register, which operators call on their input's
  * session, so both paths see identical functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, builder) =>
      extensions.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
}
