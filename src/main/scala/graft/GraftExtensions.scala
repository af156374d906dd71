package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CurateGate, DotProduct, EuclideanDistance, MinHashSig, ShingleSet, SimHashAgg}
import graft.plans.TopKJoinStrategy

/** Engine extensions registered through the public
  * `SparkSessionExtensions` API (SURVEY §2 "custom operators" path (c)):
  * native codegen'd kernels `graft_euclid(array<float>, array<float>) ->
  * double` (distance) and `graft_dot(array<float>, array<float>) ->
  * double` (similarity), plus the planner strategy for the
  * [[graft.plans.TopKJoin]] whole-operator node.
  *
  * Activate via `SparkSession.builder.withExtensions(new GraftExtensions)`
  * or `--conf spark.sql.extensions=graft.GraftExtensions`. Callers that
  * may run in an unextended session (the KNN/similarity operators) probe
  * `spark.catalog.functionExists` and fall back to an equivalent UDF/HOF.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_euclid"),
      new ExpressionInfo(classOf[EuclideanDistance].getName, "graft_euclid"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "graft_euclid takes exactly 2 arguments")
        EuclideanDistance(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "graft_simhash_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1,
          "graft_simhash_agg takes exactly 1 argument")
        SimHashAgg(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingles"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "graft_shingles takes exactly 2 arguments")
        ShingleSet(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3, "graft_minhash takes exactly 3 arguments")
        MinHashSig(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_curate_gate"),
      new ExpressionInfo(classOf[CurateGate].getName, "graft_curate_gate"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1,
          "graft_curate_gate takes exactly 1 argument")
        CurateGate(children.head)
      }))
    ext.injectPlannerStrategy(_ => TopKJoinStrategy)
    // optimizer rule: the portable HOF dot-product pattern on float
    // arrays becomes the codegen'd kernel — same IEEE sequence, so
    // results and oracle hashes are unchanged (ExtensionsSpec)
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
  }
}
