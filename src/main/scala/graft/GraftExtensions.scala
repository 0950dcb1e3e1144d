package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{MinHashAgg, SimHashAgg, TopKAgg, VecDot}

/** Session-extension installer for the engine's custom Catalyst
  * functions — the deployment path for a real cluster:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * or programmatically via `SparkSession.builder.withExtensions(new
  * GraftExtensions) ` (GraftSession does this). The per-session
  * `VecDot.register` / `MinHashAgg.register` calls remain as a fallback
  * for sessions built without extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // naive bit_count(a^b) <= k joins plan as BroadcastNestedLoopJoin;
    // this rule rewrites them to the exact pigeonhole banded equi-join
    ext.injectOptimizerRule(_ => graft.plans.HammingJoinRewrite)
    // the idiomatic aggregate(zip_with(a, b, *), 0d, +) dot product
    // fuses into the codegen'd vec_dot kernel (bit-identical, incl.
    // null-element / length-mismatch edges)
    ext.injectOptimizerRule(_ => graft.plans.VecDotRewrite)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot takes exactly 2 arguments")
        VecDot(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "minhash_agg takes (column, numHashes literal)")
        val k = args(1).eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"numHashes must be an integer literal, got $other")
        }
        MinHashAgg(args.head, k).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash_agg takes (column)")
        SimHashAgg(args.head).toAggregateExpression()
      }))
    // Spark's own bloom-filter expressions (the runtime-filter-join
    // machinery), surfaced for explicit membership pre-filters
    graft.functions.BloomFn.injections.foreach(ext.injectFunction)
    // the remaining scalar/aggregate kernels — registered here so a
    // spark-submit deployment (--conf spark.sql.extensions) gets the
    // FULL function surface without any per-session register() call
    ext.injectFunction(graft.functions.VecDist2.injection)
    ext.injectFunction(graft.functions.VecDotL.injection)
    ext.injectFunction(graft.functions.CountMinAgg.injection)
    ext.injectFunction(graft.functions.CountMinAgg.injectionPortable)
    ext.injectFunction(graft.functions.MisraGriesAgg.injection)
    ext.injectFunction(graft.functions.KMeansAssignExpr.injection)
    ext.injectFunction(graft.functions.LongSetCountExpr.injection)
    ext.injectFunction(graft.functions.NormKey.injection)
    ext.injectFunction((
      FunctionIdentifier("topk_agg"),
      new ExpressionInfo(classOf[TopKAgg].getName, "topk_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "topk_agg takes (score, id, k literal)")
        val k = args(2).eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"k must be an integer literal, got $other")
        }
        TopKAgg(args.head, args(1), k).toAggregateExpression()
      }))
  }
}
