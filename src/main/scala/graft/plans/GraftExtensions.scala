package graft.plans

import graft.functions.CosineSim
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Engine extensions, registered the production way:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (wired into the Verify/Bench/test session builders).
  *
  * Three injection points: the [[ReplaceHofCosine]] optimizer rule,
  * the `graft_cosine` SQL function, and the [[AsOfStrategy]] planner
  * strategy (the whole-operator extension — see plans/AsOfJoin.scala).
  * Every graft session loads this class, so it also selects
  * [[graft.streaming.LocalCheckpointFileManager]] for streaming
  * checkpoints on the SparkContext's Hadoop configuration.
  *
  * [[ReplaceHofCosine]] — users write
  * the portable higher-order-function cosine (`Vectors.cosine`:
  * round(aggregate(zip_with(a,b,*))/ (sqrt(aggregate(a,x²)) *
  * sqrt(aggregate(b,x²))), 6)) and the optimizer swaps in the fused
  * native codegen expression [[graft.functions.CosineSim]] — same
  * bits (both fold left-to-right, divide after sqrt-product), one
  * loop instead of three HOF folds with a per-pair array allocation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // local streaming checkpoints through the FileSystem API (no process
    // fork per rename) — see streaming/LocalCheckpointFileManager.scala.
    // Extensions are applied once the session's SparkContext is active,
    // so this returns that context; a conf the user set is kept.
    graft.streaming.LocalCheckpointFileManager.install(
      org.apache.spark.SparkContext.getOrCreate().hadoopConfiguration)
    ext.injectOptimizerRule(_ => ReplaceHofCosine)
    // transparent materialized-view rewrite (exact-match view catalog,
    // fingerprint-fresh by construction) — see plans/MatviewRewrite.scala
    ext.injectOptimizerRule(_ => MatviewRewrite)
    // declared-constraint PK–FK join elimination (RELY constraints) —
    // inert until a constraint is registered; see plans/JoinElimination.scala
    ext.injectOptimizerRule(_ => JoinElimination)
    // automatic range-join binning (inequality-band join → equi-join
    // on a bin key) — see plans/AutoRangeJoin.scala. Injected as a
    // PRE-CBO rule (a Once batch), NOT an operator-optimization rule:
    // in the fixed-point operator batch, BooleanSimplification strips
    // the wide-tail marker conjunct between iterations and the rule
    // re-wraps its own fallback branch ~100× (measured: a 0.6 s plan
    // ballooned to a 2400-node Union at 36 s). The Once batch runs the
    // rewrite exactly once; the marker keeps it idempotent under
    // Once-idempotence checks.
    ext.injectPreCBORule(_ => AutoRangeJoin)
    // whole-operator extension: the native as-of join (AsOfJoinPlan →
    // AsOfJoinExec, merge over co-partitioned sorted children)
    ext.injectPlannerStrategy(_ => AsOfStrategy)
    // SQL surface for the native expression:
    //   SELECT graft_cosine(a, b) FROM …
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CosineSim].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    // SQL surface for the native sketch aggregate:
    //   SELECT graft_heavy_hitters(term, 64) FROM … — the analyzer
    // wraps the returned AggregateFunction in an AggregateExpression
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_heavy_hitters"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MisraGriesTopK].getName, "graft_heavy_hitters"),
      (exprs: Seq[Expression]) => {
        // capacity must be a foldable, non-null, integral literal > 0 —
        // anything else (NULL, a string, a fractional/zero/negative
        // value) is a user error and must surface as a descriptive
        // analysis-time failure, not an executor NPE/ClassCastException
        val capMsg = "graft_heavy_hitters(term, capacity) — capacity must be " +
          "a positive integral literal (e.g. graft_heavy_hitters(term, 64))"
        require(exprs.length == 2 && exprs(1).foldable, capMsg)
        val cap = exprs(1).eval() match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case s: java.lang.Short => s.longValue()
          case b: java.lang.Byte => b.longValue()
          case _ => throw new IllegalArgumentException(capMsg) // null / string / fractional
        }
        require(cap > 0 && cap <= Int.MaxValue, capMsg)
        graft.functions.MisraGriesTopK(exprs(0), cap.toInt)
      }))
    // SQL surface for the bounded-sample aggregate:
    //   SELECT graft_bottomk(priority, id, 10) FROM … GROUP BY g
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bottomk"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.BottomKByPriority].getName, "graft_bottomk"),
      (exprs: Seq[Expression]) => {
        val kMsg = "graft_bottomk(priority, id, k) — k must be a positive " +
          "integral literal (e.g. graft_bottomk(pri, doc_id, 10))"
        require(exprs.length == 3 && exprs(2).foldable, kMsg)
        val k = exprs(2).eval() match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case s: java.lang.Short => s.longValue()
          case b: java.lang.Byte => b.longValue()
          case _ => throw new IllegalArgumentException(kMsg) // null / string / fractional
        }
        require(k > 0 && k <= Int.MaxValue, kMsg)
        graft.functions.BottomKByPriority(exprs(0), exprs(1), k.toInt)
      }))
    // SQL surface for the KMV sketch family:
    //   SELECT graft_kmv_estimate(graft_kmv(user_id, 64)) FROM …
    //   SELECT graft_kmv_intersect(a.sk, b.sk) FROM sketches a, sketches b
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kmv"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KmvSketchAgg].getName, "graft_kmv"),
      (exprs: Seq[Expression]) => {
        val kMsg = "graft_kmv(value, k) — k must be an integral literal >= 16 " +
          "(e.g. graft_kmv(user_id, 64))"
        require(exprs.length == 2 && exprs(1).foldable, kMsg)
        val k = exprs(1).eval() match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case s: java.lang.Short => s.longValue()
          case b: java.lang.Byte => b.longValue()
          case _ => throw new IllegalArgumentException(kMsg)
        }
        require(k >= 16 && k <= Int.MaxValue, kMsg)
        graft.functions.KmvSketchAgg(exprs(0), k.toInt)
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kmv_union"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KmvUnionAgg].getName, "graft_kmv_union"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_kmv_union(sketch) takes exactly one argument")
        graft.functions.KmvUnionAgg(exprs(0))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kmv_estimate"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KmvEstimate].getName, "graft_kmv_estimate"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_kmv_estimate(sketch) takes exactly one argument")
        graft.functions.KmvEstimate(exprs(0))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kmv_intersect"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KmvIntersectEstimate].getName, "graft_kmv_intersect"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_kmv_intersect(a, b) takes exactly two arguments")
        graft.functions.KmvIntersectEstimate(exprs(0), exprs(1))
      }))
    // SQL surface for the KLL quantile-sketch family:
    //   SELECT graft_kll_quantiles(graft_kll(price, 200), array(0.5, 0.99)) FROM …
    //   SELECT graft_kll_merge(sk) FROM sketch_table
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kll"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KllSketchAgg].getName, "graft_kll"),
      (exprs: Seq[Expression]) => {
        val kMsg = "graft_kll(value, k) — k must be an integral literal >= " +
          s"${graft.functions.Kll.MinK} (e.g. graft_kll(price, 200))"
        require(exprs.length == 2 && exprs(1).foldable, kMsg)
        val k = exprs(1).eval() match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case s: java.lang.Short => s.longValue()
          case b: java.lang.Byte => b.longValue()
          case _ => throw new IllegalArgumentException(kMsg)
        }
        require(k >= graft.functions.Kll.MinK && k <= Int.MaxValue, kMsg)
        graft.functions.KllSketchAgg(exprs(0), k.toInt)
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kll_merge"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KllMergeAgg].getName, "graft_kll_merge"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_kll_merge(sketch) takes exactly one argument")
        graft.functions.KllMergeAgg(exprs(0))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kll_quantiles"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KllQuantiles].getName, "graft_kll_quantiles"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          "graft_kll_quantiles(sketch, fractions) takes exactly two arguments")
        graft.functions.KllQuantiles(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kll_count"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KllCount].getName, "graft_kll_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_kll_count(sketch) takes exactly one argument")
        graft.functions.KllCount(exprs(0))
      }))
    // SQL surface for the EXACT bitmap-distinct family (the mergeable
    // exact twin of the HLL/KMV estimators):
    //   SELECT graft_bitmap_count(graft_bitmap(user_id)) FROM …
    //   SELECT graft_bitmap_count(graft_bitmap_union(bm)) FROM monthly
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bitmap"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.BitmapAgg].getName, "graft_bitmap"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_bitmap(key) takes exactly one argument")
        graft.functions.BitmapAgg(exprs(0))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bitmap_union"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.BitmapUnionAgg].getName, "graft_bitmap_union"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_bitmap_union(bitmap) takes exactly one argument")
        graft.functions.BitmapUnionAgg(exprs(0))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bitmap_count"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.BitmapCount].getName, "graft_bitmap_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_bitmap_count(bitmap) takes exactly one argument")
        graft.functions.BitmapCount(exprs(0))
      }))
    // SQL surface for the count-min family:
    //   SELECT graft_cms_estimate(graft_cms(term), 'join') FROM …
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cms"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CmsSketchAgg].getName, "graft_cms"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_cms(value) takes exactly one argument")
        graft.functions.CmsSketchAgg(exprs(0))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cms_union"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CmsUnionAgg].getName, "graft_cms_union"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_cms_union(sketch) takes exactly one argument")
        graft.functions.CmsUnionAgg(exprs(0))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cms_estimate"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CmsEstimate].getName, "graft_cms_estimate"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_cms_estimate(sketch, item) takes exactly two arguments")
        graft.functions.CmsEstimate(exprs(0), exprs(1))
      }))
    // SQL surface for the string normalizer:
    //   SELECT graft_nfc(text) FROM …
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nfc"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NfcNormalize].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_nfc(text) takes exactly one argument")
        graft.functions.NfcNormalize(exprs(0))
      }))
  }
}

object ReplaceHofCosine extends Rule[LogicalPlan] {

  /** aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,x) -> acc+x).
    * The multiply must be of the two DISTINCT zip_with parameters (so
    * `(x,y) -> x*x` — a self-product, not a dot — never matches), and
    * the fold must add the accumulator to the element (not acc+acc /
    * x+x). The rewrite is null-safe because CosineSim mirrors the HOF
    * null semantics (null on length mismatch / null elements). */
  private object DotAgg {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
                zipArgs, _)),
            Literal(0.0, DoubleType),
            LambdaFunction(Add(acc: NamedLambdaVariable, el: NamedLambdaVariable, _), _, _),
            LambdaFunction(_: NamedLambdaVariable, _, _))
          if x.exprId != y.exprId &&
            zipArgs.map(_.exprId).toSet == Set(x.exprId, y.exprId) &&
            acc.exprId != el.exprId =>
        Some((a, b))
      case _ => None
    }
  }

  /** sqrt(aggregate(x, 0.0, (acc,v) -> acc + v*v)) — the squared term
    * must be the element variable (v), not the accumulator. */
  private object NormAgg {
    def unapply(e: Expression): Option[Expression] = e match {
      case Sqrt(ArrayAggregate(x,
            Literal(0.0, DoubleType),
            LambdaFunction(
              Add(acc: NamedLambdaVariable,
                Multiply(v1: NamedLambdaVariable, v2: NamedLambdaVariable, _), _), _, _),
            LambdaFunction(_: NamedLambdaVariable, _, _)))
          if v1.exprId == v2.exprId && acc.exprId != v1.exprId =>
        Some(x)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case r @ Round(
            Divide(DotAgg(a, b), Multiply(NormAgg(a2), NormAgg(b2), _), _),
            scale @ Literal(6, IntegerType), _)
          if a.semanticEquals(a2) && b.semanticEquals(b2) =>
        r.withNewChildren(Seq(CosineSim(a, b), scale))
    }
}
