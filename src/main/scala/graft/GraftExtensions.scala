package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expr.Functions

/** Session-extension entry point: wires every custom Catalyst expression of
  * [[graft.expr.Functions]] into SQL via configuration —
  * `--conf spark.sql.extensions=graft.GraftExtensions` — so SQL users get
  * them without touching library code:
  * `SELECT * FROM entities ORDER BY iast_sort_key(label)`.
  *
  * This is the only registry path; the Column helpers build the same
  * expressions directly and need no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Functions.table.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
    // predicate strengthening: levenshtein(a,b) ≤ k gains its implied O(1)
    // length band so the DP short-circuits (see EditDistanceBandRule)
    ext.injectOptimizerRule(_ => graft.plans.EditDistanceBandRule)
  }
}
