package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path (SURVEY.md §7.4):
  * dot product and cosine similarity over `array<float|double>`.
  *
  * Why a custom Expression instead of `aggregate(zip_with(...))`:
  * higher-order functions are interpreted per-element with boxed
  * lambdas; these expressions emit a tight primitive loop via
  * `doGenCode`, keeping the ANN scan inside whole-stage codegen. The
  * interpreted path (`nullSafeEval`) computes the identical
  * left-to-right double accumulation, so results are bit-identical
  * either way.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t => throw new IllegalArgumentException(s"expected array, got $t")
  }

  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float|double> args, " +
          s"got ${left.dataType} / ${right.dataType}")
  }

  @inline protected final def get(a: ArrayData, i: Int, t: DataType): Double =
    t match {
      case FloatType => a.getFloat(i).toDouble
      case _ => a.getDouble(i)
    }

  /** Java snippet reading element i of `v` as double. */
  protected def getJava(v: String, i: String, t: DataType): String =
    t match {
      case FloatType => s"(double) $v.getFloat($i)"
      case _ => s"$v.getDouble($i)"
    }
}

/** dot(a, b); null if lengths differ. Null elements count as 0. */
case class ArrayDot(left: Expression, right: Expression)
  extends VectorBinaryExpression {
  override def prettyName: String = "array_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      val (lt, rt) = (elemType(left), elemType(right))
      var dot = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i)) dot += get(a, i, lt) * get(b, i, rt)
        i += 1
      }
      dot
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (lt, rt) = (elemType(left), elemType(right))
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |      $dot += ${getJava(a, i, lt)} * ${getJava(b, i, rt)};
         |    }
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) = dot/(|a||b|); null on length mismatch or zero norm. */
case class ArrayCosine(left: Expression, right: Expression)
  extends VectorBinaryExpression {
  override def prettyName: String = "array_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      val (lt, rt) = (elemType(left), elemType(right))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        val x = if (a.isNullAt(i)) 0.0 else get(a, i, lt)
        val y = if (b.isNullAt(i)) 0.0 else get(b, i, rt)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) null else dot / denom
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (lt, rt) = (elemType(left), elemType(right))
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.isNullAt($i) ? 0.0 : ${getJava(a, i, lt)};
         |    double $y = $b.isNullAt($i) ? 0.0 : ${getJava(b, i, rt)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Euclidean (L2) distance: sqrt(Σ (a_i − b_i)²); null on length
  * mismatch. Null elements count as 0, matching [[ArrayDot]].
  */
case class ArrayL2(left: Expression, right: Expression)
  extends VectorBinaryExpression {
  override def prettyName: String = "array_l2"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      val (lt, rt) = (elemType(left), elemType(right))
      var acc = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        val x = if (a.isNullAt(i)) 0.0 else get(a, i, lt)
        val y = if (b.isNullAt(i)) 0.0 else get(b, i, rt)
        val d = x - y
        acc += d * d
        i += 1
      }
      math.sqrt(acc)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (lt, rt) = (elemType(left), elemType(right))
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.isNullAt($i) ? 0.0 : ${getJava(a, i, lt)};
         |    double $y = $b.isNullAt($i) ? 0.0 : ${getJava(b, i, rt)};
         |    double $d = $x - $y;
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = java.lang.Math.sqrt($acc);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column wrappers (the SQL names are registered by
  * [[graft.GraftExtensions]]). Spark 4 removed `Column.expr` from the
  * public surface; the classic `ExpressionUtils` bridge is the
  * supported way to cross Column ↔ Expression.
  */
object VectorFunctions {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column => toCol, expression => toExpr}

  def array_dot(a: Column, b: Column): Column =
    toCol(ArrayDot(toExpr(a), toExpr(b)))

  def array_cosine(a: Column, b: Column): Column =
    toCol(ArrayCosine(toExpr(a), toExpr(b)))

  def array_l2(a: Column, b: Column): Column =
    toCol(ArrayL2(toExpr(a), toExpr(b)))
}
