package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension that injects the [[Functions]] table, so any
  * session built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (or `.withExtensions`) resolves every graft SQL function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Functions.table.foreach(ext.injectFunction)
}
