package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{SketchExprs, Uuid5 => Uuid5Obj}

/** Custom optimizer rule: self-dot-products collapse to single-pass norms.
  *
  *  - `sqrt(dot_product(x, x))`  -> `l2_norm(x)`
  *  - `dot_product(x, x)`        -> `l2_norm_squared(x)`
  *
  * Both rewrites are bitwise-exact (identical left-fold over the same
  * elements) and halve the array reads; the pattern is live in the engine's
  * own PQ distance expansion `||a-b||² = a·a - 2a·b + b·b`. Demonstrates the
  * `Rule[LogicalPlan]` extension point (SURVEY.md §4.1). */
object SelfDotRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Sqrt(SketchExprs.DotProduct(a, b)) if a.semanticEquals(b) =>
      SketchExprs.L2Norm(a)
    case SketchExprs.DotProduct(a, b) if a.semanticEquals(b) =>
      SketchExprs.L2NormSquared(a)
  }
}

/** Engine extension point: registers every custom Catalyst expression as a
  * SQL function, so the full surface is reachable from `spark.sql(...)` as
  * well as the Column API, plus the [[SelfDotRewrite]] optimizer rule.
  * Activate with `spark.sql.extensions=graft.GraftExtensions` (standard
  * Spark mechanism — works identically under spark-submit on a cluster).
  *
  * The reference has no SQL surface at all; this is what makes the engine a
  * queryable library rather than a fixed pipeline (SURVEY.md §2 Part B).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String, pos: Int): Int = {
    require(e.foldable, s"$fn: argument $pos must be a literal integer")
    e.eval().asInstanceOf[Number].intValue()
  }

  private def stringArg(e: Expression, fn: String, pos: Int): String = {
    require(e.foldable, s"$fn: argument $pos must be a literal string")
    String.valueOf(e.eval())
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def reg(name: String, arity: Range)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          require(arity.contains(args.length),
            s"$name expects ${arity.min}..${arity.max} arguments, got ${args.length}")
          builder(args)
        }))

    ext.injectOptimizerRule(_ => SelfDotRewrite)
    // Whole-operator extension: backward as-of join as a first-class
    // physical operator (logical node + strategy + exec, graft.plans).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)

    reg("uuid5", 1 to 1)(a => graft.functions.Uuid5(a.head))
    reg("py_list_literal", 1 to 1)(a => graft.functions.PyListLiteral(a.head))
    reg("prefix_each", 2 to 2)(a =>
      graft.functions.PrefixEach(a(1), stringArg(a(0), "prefix_each", 1)))
    reg("dot_product", 2 to 2)(a => SketchExprs.DotProduct(a(0), a(1)))
    reg("long_sqdist", 2 to 2)(a => SketchExprs.LongSqDist(a(0), a(1)))
    reg("pack_ints", 1 to 1)(a => SketchExprs.PackInts(a.head))
    reg("packed_sqdist", 2 to 2)(a => SketchExprs.BinIntSqDist(a(0), a(1)))
    reg("l2_norm", 1 to 1)(a => SketchExprs.L2Norm(a.head))
    reg("l2_norm_squared", 1 to 1)(a => SketchExprs.L2NormSquared(a.head))
    reg("simhash64", 1 to 1)(a => SketchExprs.SimHash64(a.head))
    reg("sig_agreement", 2 to 2)(a => SketchExprs.SigAgreement(a(0), a(1)))
    reg("array_intersect_count", 2 to 2)(a => SketchExprs.ArrayIntersectCount(a(0), a(1)))
    reg("sorted_long_intersect_count", 2 to 2)(a =>
      SketchExprs.SortedLongIntersectCount(a(0), a(1)))
    reg("word_shingles", 1 to 2)(a =>
      SketchExprs.WordShingles(a.head,
        if (a.length > 1) intArg(a(1), "word_shingles", 2) else 3))
    reg("shingle_hashes", 1 to 2)(a =>
      SketchExprs.ShingleHashes(a.head,
        if (a.length > 1) intArg(a(1), "shingle_hashes", 2) else 3))
    reg("minhash_sig", 2 to 2)(a =>
      SketchExprs.MinHashSig(a(0), intArg(a(1), "minhash_sig", 2)))
    reg("long_slice_hash", 3 to 3)(a =>
      SketchExprs.LongSliceHash(a(0),
        intArg(a(1), "long_slice_hash", 2), intArg(a(2), "long_slice_hash", 3)))
    reg("hyperplane_lsh", 2 to 3)(a =>
      SketchExprs.HyperplaneLsh(a(0), intArg(a(1), "hyperplane_lsh", 2),
        if (a.length > 2) intArg(a(2), "hyperplane_lsh", 3) else 0))
    reg("cdc_chunks", 2 to 2)(a =>
      SketchExprs.CdcChunks(a(0), intArg(a(1), "cdc_chunks", 2)))
    reg("word_ngrams", 2 to 2)(a => // generator: usable in SELECT / LATERAL VIEW
      graft.functions.WordNgrams(a(0), intArg(a(1), "word_ngrams", 2)))
  }
}
