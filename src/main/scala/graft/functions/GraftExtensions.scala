package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point, the engine's one install path:
  * injects every [[GraftFunctions.Table]] function and the range-join
  * optimizer rule into a session built with
  * `.withExtensions(new GraftExtensions)` (what `Sessions.local` does) or
  * with `spark.sql.extensions=graft.functions.GraftExtensions` (a
  * cluster job). Sessions derived from it by `newSession()` or
  * `cloneSession()` inherit both.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    GraftFunctions.Table.foreach(ext.injectFunction)
  }
}
