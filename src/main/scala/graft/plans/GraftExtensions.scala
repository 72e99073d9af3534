package graft.plans

import graft.GraftSession
import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension wiring for the engine's native functions, the
  * as-of join strategy and the cosine rules.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * Sessions constructed without extensions (the harness ones) get the
  * functions, the strategy and the CosineTopK rule from
  * `GraftSession.install`; the AccelerateCosine/AccelerateSqL2
  * rewrites are extension-only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftSession.nativeFunctions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => AccelerateCosine)
    e.injectOptimizerRule(_ => AccelerateSqL2)
    e.injectPostHocResolutionRule(s => ResolveCosineTopK(s))
  }
}
