package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{ArrayCosine, ArrayDot, JaroWinklerSim, MisraGriesSketch, SimHash64, TokenShingles, TopKPairs, UnicodeNfc}

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
  private def foldableInt(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String): Int = e match {
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

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("array_dot"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ArrayDot].getName, "array_dot"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          ArrayDot(exprs(0), exprs(1))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("array_cosine"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ArrayCosine].getName, "array_cosine"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          ArrayCosine(exprs(0), exprs(1))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("unicode_nfc"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[UnicodeNfc].getName, "unicode_nfc"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          UnicodeNfc(exprs(0))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("jaro_winkler"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[JaroWinklerSim].getName, "jaro_winkler"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          JaroWinklerSim(exprs(0), exprs(1))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("token_shingles"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[TokenShingles].getName, "token_shingles"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          TokenShingles(exprs(0), exprs(1))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[SimHash64].getName, "simhash64"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          // arity-checked: silently dropping a second argument would
          // return seed-42 signatures for simhash64(toks, 7) with no
          // error — fail analysis instead (SimHash64 takes no seed).
          if (exprs.length != 1)
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map(
                "functionName" -> "simhash64",
                "expectedNum" -> "1",
                "actualNum" -> exprs.length.toString,
                "docroot" -> "https://spark.apache.org/docs/latest"))
          SimHash64(exprs(0))
        }))
    // sketch aggregates: SQL form takes the bound as a foldable int
    // literal (the buffer size must be fixed at plan time)
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("misra_gries"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[MisraGriesSketch].getName, "misra_gries"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          MisraGriesSketch(exprs(0), foldableInt(exprs(1), "misra_gries"))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("top_k_pairs"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[TopKPairs].getName, "top_k_pairs"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          TopKPairs(exprs(0), exprs(1), foldableInt(exprs(2), "top_k_pairs"))))
    // whole-operator surface: plans the AsofJoinPlan logical node onto
    // the sorted-merge AsofJoinExec
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // opt-in rewrite: exact count(distinct) -> HLL++ sketch when
    // spark.graft.approxCountDistinct=true (off by default)
    e.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
  }
}
