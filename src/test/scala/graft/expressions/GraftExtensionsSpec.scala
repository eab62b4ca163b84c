package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The session factory installs graft's extensions once, at build time:
  * a session derived from it carries them with no registration call.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("derived session: every function resolves and the rule rewrites") {
    val fresh = spark.newSession()
    GraftFunctions.functions.foreach { case (ident, _, _) =>
      assert(fresh.catalog.functionExists(ident.funcName), ident.funcName)
    }
    // a range, not a local relation: the filter must survive to the
    // optimized plan instead of being folded into literal rows
    val words = fresh.range(3).select(concat(lit("kitte"), col("id").cast("string")).as("w"))
    val optimized = words.filter(levenshtein(col("w"), lit("kitten")) <= 1)
      .queryExecution.optimizedPlan.toString
    assert("levenshtein\\(.*Some\\(1\\)\\) >= 0".r.findFirstIn(optimized).isDefined,
      s"expected banded rewrite in:\n$optimized")
  }
}
