package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: an edit-distance predicate implies a length-band
  * predicate — `levenshtein(a, b) <= k` can only hold when
  * `abs(length(a) - length(b)) <= k` (each edit changes the length by at
  * most one). The rule injects the implied band as an extra conjunct, so
  * the O(|a|·|b|) DP runs only on length-compatible pairs and — because
  * the band is a plain deterministic predicate on the two sides — the
  * stock optimizer can push it below the join that produced the pair,
  * pruning candidates before they are even formed. This is q108's manual
  * blocking trick, automated for ANY query in the session.
  *
  * Soundness: `lev <= k ⇒ band <= k`, so rewriting the conjunct
  * `lev <= k` to `band <= k AND lev <= k` preserves semantics at any
  * position where the conjunct itself is not negated — including in 3VL
  * (null inputs make BOTH the distance bound and the band null, so the
  * conjunction's null behavior is unchanged), which is why the rewrite is
  * safe inside ANY join type's condition, not just inner. The rule
  * touches TOP-LEVEL conjuncts of a Filter condition AND of a Join
  * condition (negations and disjunctions are left alone) — the Join case
  * matters because `PushDownPredicates` absorbs a filter sitting above a
  * join into the join condition in the same optimizer iteration, so the
  * natural fuzzy-join spelling `a.join(b, levenshtein(x, y) <= k)` never
  * reaches us as a Filter. Injected bands are deduped by `semanticEquals`
  * so a re-run never stacks duplicates (the rule is fixed-point-safe).
  * Bands are PREPENDED so the O(1) length check short-circuits the
  * conjunction before the O(|a|·|b|) DP runs per surviving pair.
  *
  * Covered shapes (both orientations):
  *   - `levenshtein(a, b) <= k`  /  `k >= levenshtein(a, b)`
  *   - `levenshtein(a, b) <  k`  /  `k >  levenshtein(a, b)`
  *   - `levenshtein(a, b, t) >= 0` (thresholded form returns -1 above t)
  *
  * Registered via [[graft.GraftExtensions]]:
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object LevenshteinBandRule extends Rule[LogicalPlan] {

  private def band(l: Expression, r: Expression, k: Int): Expression =
    LessThanOrEqual(Abs(Subtract(Length(l), Length(r))), Literal(k))

  /** The band implied by one positive conjunct, if it is a recognized
    * edit-distance bound. */
  private def impliedBand(conjunct: Expression): Option[Expression] = conjunct match {
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, IntegerType)) =>
      Some(band(a, b, k))
    case LessThan(Levenshtein(a, b, None), Literal(k: Int, IntegerType)) =>
      Some(band(a, b, k - 1))
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(a, b, None)) =>
      Some(band(a, b, k))
    case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(a, b, None)) =>
      Some(band(a, b, k - 1))
    case GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(t: Int, IntegerType))), Literal(0, IntegerType)) =>
      Some(band(a, b, t))
    case _ => None
  }

  /** `cond` with every implied band prepended, or None if nothing new. */
  private def withBands(cond: Expression): Option[Expression] = {
    val conjuncts = splitConjuncts(cond)
    val bands = conjuncts.flatMap(impliedBand)
      // fixed point: don't re-add a band that's already a conjunct
      .filterNot(b => conjuncts.exists(_.semanticEquals(b)))
    if (bands.isEmpty) None else Some((bands ++ conjuncts).reduce(And))
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      withBands(cond).map(Filter(_, child)).getOrElse(f)
    case j @ Join(_, _, _, Some(cond), _) =>
      withBands(cond).map(c => j.copy(condition = Some(c))).getOrElse(j)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}

// Registered alongside the custom-function injection in
// [[graft.GraftExtensions]] (one extensions entry point for the library).
