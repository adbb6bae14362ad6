package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: install the graft Catalyst additions at
  * session BUILD time —
  *
  *   - [[OffsetComparisonRewrite]] as an optimizer rule, and
  *   - the four codegen expressions as SQL functions: `graft_dot`
  *     ([[graft.functions.FloatDotProduct]]), `graft_simhash60`
  *     ([[graft.functions.SimHash60]]), `graft_shingles`
  *     ([[graft.functions.ShingleArray]]), `graft_winnow`
  *     ([[graft.functions.WinnowArray]], k=8/w=4)
  *
  * via `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` on a cluster.
  * This is the packaged-deploy form of what the registry does per-session
  * with `experimental.extraOptimizations` / `createOrReplaceTempFunction`
  * (RuleSpec builds such a session and runs the rule and the functions).
  *
  * ==Overflow caveat (read before deploying session-wide)==
  * [[OffsetComparisonRewrite]] turns `x + C cmp K` into `x cmp K - C`. It
  * already refuses to rewrite when folding `K ∓ C` itself would overflow,
  * but under non-ANSI mode (`spark.sql.ansi.enabled=false`) the two forms
  * can still disagree on rows where the ORIGINAL `x + C` wraps around
  * Long/Int range: the original predicate sees the wrapped value, the
  * rewritten one sees the true comparison. Installing via this class
  * applies the rule to EVERY query in the session — do that only when (a)
  * ANSI mode is on (overflow errors instead of wrapping, so the rewrite
  * can never silently change a result), or (b) the offset columns are
  * known to be far from the integer boundaries, as with the id-space
  * offsets here (≤3e6 + keys). For surgical use, install into a child
  * session via `OffsetComparisonRewrite.install(spark.newSession())` —
  * the pattern the w2b registry entry and RuleSpec use. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.AnalysisException
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** Enforce arity BEFORE building: a call like `graft_winnow(text, 16, 8)`
    * must fail analysis loudly, not silently drop the extra arguments and
    * run with the hardcoded k=8/w=4. */
  private[graft] def checked(name: String, expected: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != expected)
        throw new AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> s"`$name`", "expectedNum" -> expected.toString,
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(exprs)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => OffsetComparisonRewrite)
    ext.injectFunction((
      FunctionIdentifier(graft.functions.FloatDotProduct.FnName),
      new ExpressionInfo(classOf[graft.functions.FloatDotProduct].getName,
        graft.functions.FloatDotProduct.FnName),
      checked(graft.functions.FloatDotProduct.FnName, 2)(exprs =>
        graft.functions.FloatDotProduct(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.SimHash60.FnName),
      new ExpressionInfo(classOf[graft.functions.SimHash60].getName,
        graft.functions.SimHash60.FnName),
      checked(graft.functions.SimHash60.FnName, 1)(exprs =>
        graft.functions.SimHash60(exprs.head))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.ShingleArray.FnName),
      new ExpressionInfo(classOf[graft.functions.ShingleArray].getName,
        graft.functions.ShingleArray.FnName),
      checked(graft.functions.ShingleArray.FnName, 1)(exprs =>
        graft.functions.ShingleArray(exprs.head))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.WinnowArray.FnName),
      new ExpressionInfo(classOf[graft.functions.WinnowArray].getName,
        graft.functions.WinnowArray.FnName),
      checked(graft.functions.WinnowArray.FnName, 1)(exprs =>
        graft.functions.WinnowArray(exprs.head, 8, 4))))
  }
}
