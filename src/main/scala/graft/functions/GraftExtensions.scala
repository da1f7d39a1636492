package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook: makes graft's native kernels
  * ([[GraftFunctions.sqlFunctions]]) available to pure-SQL users:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * ...
  * spark.sql("SELECT doc_id, minhash_bands(shingles, 32, 8) FROM docs")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName.stripSuffix("$"), name), build))
    }
}
