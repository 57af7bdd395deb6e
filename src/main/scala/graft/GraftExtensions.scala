package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{GraftFunctions, RewriteSetCardinality}

/** SparkSessionExtensions entry point: makes graft's native kernels
  * first-class SQL functions in any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) — no per-session
  * registry call needed, and the functions are visible to plain
  * `spark.sql(...)` users. The functions are the rows of
  * [[GraftFunctions.functions]], the same table `register` installs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteSetCardinality)
    GraftFunctions.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
  }
}
