package graft

import org.apache.spark.sql.{Column, GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.types.IntegerType
import graft.dedup.{LevBanded, Shingles, TokenHash}
import graft.functions.{FusedParse, Kernel}

/** SparkSessionExtensions entry point: registers the engine's fused
  * kernels as SQL functions so pure-SQL users get the fused parse too:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT parse_turn(text).error_number FROM transcripts
  *
  * (SURVEY.md §4: the fused multi-field extract is the one custom
  * Catalyst component; no custom Rule/Strategy is needed — stock Catalyst
  * folds and prunes everything else.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // optimizer rule: plain-SQL bounded-levenshtein predicates run the
    // banded kernel (see plans.BandedLevRewrite)
    ext.injectOptimizerRule(_ => graft.plans.BandedLevRewrite)
  }
}

object GraftExtensions {
  /** The SQL functions, each built by the Column builder the engine calls:
    *   SELECT token_sketches(text).mh0, shingle_hashes(text) FROM docs
    *   SELECT lev_banded(a, b, 5) FROM pairs   -- k an integer constant */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    function("parse_turn", 1)(a => FusedParse.parsed(col(a(0)))),
    function("token_sketches", 1)(a => TokenHash.sketches(col(a(0)))),
    function("shingle_hashes", 1)(a => Shingles.shingles(col(a(0)))),
    function("lev_banded", 3) { a =>
      val k = a(2)
      val value = if (k.foldable && k.dataType == IntegerType) k.eval() else null
      if (value == null) throw new IllegalArgumentException(
        s"lev_banded: k (argument 3) must be a non-null INT constant, got ${k.sql}")
      LevBanded.levBanded(col(a(0)), col(a(1)), value.asInstanceOf[Int])
    })

  private def col(e: Expression): Column = GraftBridge.column(e)

  private def function(name: String, arity: Int)(build: Seq[Expression] => Column)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (new FunctionIdentifier(name), new ExpressionInfo(classOf[Kernel].getName, name),
      (args: Seq[Expression]) => {
        if (args.length != arity) throw new IllegalArgumentException(
          s"$name takes $arity arguments, got ${args.length}")
        GraftBridge.expression(build(args))
      })
}
