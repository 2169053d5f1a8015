package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayCosine, ArrayDot, ArrayL2, JaroWinklerSim, MisraGriesSketch, SimHash64, TokenShingles, TopKPairs, UnicodeNfc}

/** `SparkSessionExtensions` hook: registers the graft native functions
  * (so SQL users get `array_dot`/`array_cosine` without touching the
  * Scala API), [[graft.plans.AsofJoinStrategy]] and
  * [[graft.plans.ApproxDistinctRewrite]], once, when a session is built.
  * [[GraftSession]] sets `spark.sql.extensions=graft.GraftExtensions`
  * on every session it builds; other deployments activate it with the
  * same setting or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** A sketch bound must be a plan-time constant (it sizes the
    * aggregation buffer); reject anything non-foldable loudly.
    */
  private def foldableInt(e: Expression, fn: String): Int = e match {
    case lit if lit.foldable =>
      lit.eval(null) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$fn: bound must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn: bound must be a literal, got ${e.sql}")
  }

  /** SQL function `name` taking exactly `arity` arguments. The count is
    * checked before `build` sees them: a call with one argument too few
    * must not reach an unchecked index, nor one too many be silently
    * dropped (`simhash64(toks, 7)` would return seed-42 signatures).
    */
  private def fn[E <: Expression: scala.reflect.ClassTag](name: String,
      arity: Int)(build: Seq[Expression] => E) =
    (FunctionIdentifier(name),
      new ExpressionInfo(scala.reflect.classTag[E].runtimeClass.getName, name),
      (args: Seq[Expression]) => {
        if (args.length != arity)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> name,
              "expectedNum" -> arity.toString,
              "actualNum" -> args.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        build(args): Expression
      })

  /** Every graft SQL function, declared once. Sketch aggregates take
    * their bound as a foldable int literal (the buffer size must be
    * fixed at plan time).
    */
  private val functions = Seq(
    fn("array_dot", 2)(a => ArrayDot(a(0), a(1))),
    fn("array_cosine", 2)(a => ArrayCosine(a(0), a(1))),
    fn("array_l2", 2)(a => ArrayL2(a(0), a(1))),
    fn("unicode_nfc", 1)(a => UnicodeNfc(a(0))),
    fn("jaro_winkler", 2)(a => JaroWinklerSim(a(0), a(1))),
    fn("token_shingles", 2)(a => TokenShingles(a(0), a(1))),
    fn("simhash64", 1)(a => SimHash64(a(0))),
    fn("misra_gries", 2)(a =>
      MisraGriesSketch(a(0), foldableInt(a(1), "misra_gries"))),
    fn("top_k_pairs", 3)(a =>
      TopKPairs(a(0), a(1), foldableInt(a(2), "top_k_pairs"))))

  override def apply(e: SparkSessionExtensions): Unit = {
    functions.foreach(e.injectFunction)
    // whole-operator surface: plans the AsofJoinPlan logical node onto
    // the sorted-merge AsofJoinExec
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // opt-in rewrite: exact count(distinct) -> HLL++ sketch when
    // spark.graft.approxCountDistinct=true (off by default)
    e.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
  }
}
