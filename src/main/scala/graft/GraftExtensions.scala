package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DemojizeExpr, DotProduct, Poly31Hash, WordShingles}

/** The library's `SparkSessionExtensions` entry point — the deployment
  * path for the native codegen Expressions (`dotp`, `poly31`,
  * `shingles3`). A user session opts in with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`), and
  * the functions resolve in ANY SQL/DataFrame context of that session —
  * no per-frame `register()` call, and injection happens before the
  * session's first query, which is what a shared 1000-executor cluster
  * deployment needs. The per-operator `register()` helpers remain for
  * ad-hoc sessions; both routes bind the same Expression classes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      (exprs: Seq[Expression]) => builder(exprs))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("dotp", es => DotProduct(es(0), es(1))))
    ext.injectFunction(fn("poly31", es => Poly31Hash(es.head)))
    ext.injectFunction(fn("shingles3", es => WordShingles(es.head, 3)))
    ext.injectFunction(fn("demojize", es => DemojizeExpr(es.head)))
    ext.injectFunction(fn("bpe_apply", es =>
      graft.functions.BpeApplyExpr(es(0), es(1))))
    ext.injectFunction(fn("bpe_apply_pairs", es =>
      graft.functions.BpeApplyPairsExpr(es(0), es(1), es(2))))
    ext.injectFunction(fn("zorder2", es => graft.functions.ZOrder2(es(0), es(1))))
    ext.injectFunction(fn("nfc_norm", es => graft.functions.NfcNormalize(es.head)))
    ext.injectFunction(fn("unaccent", es => graft.functions.StripAccents(es.head)))
    // Spark's internal bloom build/probe pair — see
    // graft.functions.BloomProbe.
    ext.injectFunction(fn("bloom_filter_agg", es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        es(0), es(1), es(2))))
    ext.injectFunction(fn("might_contain", es =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))))
    // Plan-hygiene lint: warn (never mutate) on single-reducer windows.
    ext.injectOptimizerRule(_ => new graft.plans.SingleReducerWindowWarning)
    // Whole-operator replacement: row_number-then-filter(<=k) plans as
    // the streaming TopKPerGroupExec (no window buffering) — custom
    // LogicalPlan + optimizer Rule + SparkStrategy + SparkPlan.
    ext.injectOptimizerRule(_ => new graft.plans.TopKPerGroupRewrite)
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerGroupStrategy)
    // Global sorts whose range split cannot pay for its sampling job
    // (small settled input, or one input task) plan one range partition.
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallRangeSort)
    // DSV2 ViewCatalog SQL path (stock 4.1 ships the interface but no
    // analyzer/planner wiring): CREATE/DROP/SHOW/RENAME VIEW against a
    // graft catalog, plus definition substitution on read. Hint-phase —
    // must run before ResolveSessionCatalog's missing-ability check.
    ext.injectHintResolutionRule(s => new graft.plans.GraftViewSubstitution(s))
    ext.injectPlannerStrategy(s => new graft.plans.GraftViewStrategy(s))
  }
}
