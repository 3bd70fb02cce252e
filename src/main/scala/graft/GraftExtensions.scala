package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.ArrayMath

/** SparkSessionExtensions entry point: installs graft's native functions
  * into any session at build time —
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)  // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * making them usable from plain SQL (`SELECT graft_dot_product(a, b)`) in
  * e.g. a Thrift server, not just through the Scala API. The extension and
  * the runtime registration [[graft.functions.ArrayMath.register]] (for
  * sessions built without it) both come from the one table
  * [[graft.functions.ArrayMath.nativeFns]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    ArrayMath.nativeFns.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
}
