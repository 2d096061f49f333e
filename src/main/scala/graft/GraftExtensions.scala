package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.engine.expr.NativeFunctions

/** Session-wide installation of graft's engine functions and optimizer
  * rule — Spark's supported route (`spark.sql.extensions`, which
  * [[GraftSession]] sets on every graft session): the builder applies this
  * class when each session (and each `newSession()`) is constructed, so
  * the functions behave like built-ins in SQL gateways, notebooks and
  * thriftservers without application code running first.
  *
  * The functions come from [[NativeFunctions.Functions]], the same table
  * `NativeFunctions.ensureRegistered` reads for a session built without
  * this extension — so `ensureRegistered` is a no-op on a graft session.
  * The optimizer rule ([[graft.engine.plans.RewriteDeclarativeDot]]) is
  * installed only here.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.engine.plans.RewriteDeclarativeDot)
    NativeFunctions.Functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
  }
}

object GraftExtensions {
  /** Value for `spark.sql.extensions`. */
  val Name: String = classOf[GraftExtensions].getName
}
