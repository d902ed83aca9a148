package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.BinaryType

/** Optimizer rule: rewrite a binary `startswith(col, prefix)` filter
  * into the equivalent rowkey range
  * `col >= prefix AND col < prefixSuccessor(prefix)`.
  *
  * Why: `startswith` is how a user naturally writes an HBase
  * PrefixFilter scan (`WHERE startswith(rowkey, X'0003...')`), but no
  * DSv2 source filter exists for binary prefixes (only
  * `StringStartsWith`), so the predicate cannot push past the scan —
  * the graft-hfile source would read EVERY file and post-filter. The
  * equivalent range predicates DO translate
  * ([[org.apache.spark.sql.sources.GreaterThanOrEqual]]/`LessThan` on
  * byte arrays), and the source prunes whole files against its
  * `_manifest` key ranges at plan time (HFileSourceV2.scala `mayMatch`)
  * — at 100 TB that is the difference between touching one region's
  * files and scanning the table.
  *
  * The equivalence is exact under Spark's unsigned-lexicographic
  * binary ordering ([[org.apache.spark.sql.catalyst.util.TypeUtils]]):
  * `b startswith p  ⟺  p <= b < succ(p)` where `succ` increments the
  * last non-0xFF byte and truncates ([[graft.functions.BytesCodec
  * .prefixSuccessor]] — the same helper the manual range construction
  * in `hfilePointLookup` uses); an all-0xFF prefix has no successor
  * and rewrites to the lower bound alone. Null-semantics match too:
  * a null input yields null through both forms. The rewrite runs in
  * the injected operator-optimization batch — BEFORE
  * `V2ScanRelationPushDown` — and is idempotent (the output contains
  * no `startswith`, so the fixed-point batch converges).
  *
  * Registered by [[graft.GraftExtensions]] via `injectOptimizerRule`;
  * any session built with `spark.sql.extensions=graft.GraftExtensions`
  * (e.g. [[graft.GraftSession]]) gets it.
  *
  * Scope: ONLY binary operands (strings keep their collation-aware
  * `StartsWith`, which already pushes as `StringStartsWith`). By
  * optimizer time the analyzer has replaced the binary form with
  * `BinaryPredicate`'s `StaticInvoke(ByteArray.startsWith)`
  * replacement, so that is the shape matched here.
  */
object PrefixRangeRewrite extends Rule[LogicalPlan] {

  private def rangeOf(input: Expression, prefix: Array[Byte]): Expression = {
    val ge = GreaterThanOrEqual(input, Literal(prefix, BinaryType))
    graft.functions.BytesCodec.prefixSuccessor(prefix) match {
      case Some(upper) => And(ge, LessThan(input, Literal(upper, BinaryType)))
      case None => ge
    }
  }

  private def rewrite(cond: Expression): Expression = cond.transform {
    // the analyzed binary startswith: BinaryPredicate, already replaced
    // with its StaticInvoke(ByteArray.startsWith) runtime form
    case s: StaticInvoke
        if s.functionName == "startsWith" && s.arguments.size == 2 &&
          s.arguments.head.dataType == BinaryType &&
          s.arguments.head.deterministic =>
      s.arguments(1) match {
        case Literal(p: Array[Byte], BinaryType) if p != null && p.nonEmpty =>
          rangeOf(s.arguments.head, p)
        case _ => s
      }
    // pre-replacement shape, in case the rule ever runs before
    // ReplaceExpressions (e.g. unit tests on hand-built plans)
    case b: BinaryPredicate
        if b.prettyName == "startswith" &&
          b.left.dataType == BinaryType && b.left.deterministic =>
      b.right match {
        case Literal(p: Array[Byte], BinaryType) if p != null && p.nonEmpty =>
          rangeOf(b.left, p)
        case _ => b
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val next = rewrite(cond)
      if (next.fastEquals(cond)) f else f.copy(condition = next)
  }
}
