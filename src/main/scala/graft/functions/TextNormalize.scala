package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helper for [[UnicodeNfc]] — called from both the interpreted
  * path and generated code (scalac emits a static forwarder for object
  * methods, so codegen references `graft.functions.TextNorm.nfc`).
  */
object TextNorm {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // Already-normalized fast path: for ASCII (and most NFC text) this
    // is a quickCheck scan with no allocation — the common case at
    // 100 TB, where normalization is a defensive pass, not a rewrite.
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** Unicode NFC normalization as a native Catalyst expression.
  *
  * Why it matters for the dedup surface: the same visible text can
  * arrive composed (U+00E9 "é") or decomposed (U+0065 U+0301 "é"), and
  * byte-level fingerprints ([[graft.text.TextAnalysis.fingerprint]],
  * MinHash/SimHash shingles) would treat those as DIFFERENT documents —
  * canonical normalization before hashing is the standard first step of
  * a web-scale dedup pipeline. A custom expression (not a UDF) keeps
  * the pass inside whole-stage codegen; the JDK normalizer is the
  * Unicode-standard NFC, byte-identical to any other conforming
  * implementation (DuckDB's `nfc_normalize` is the oracle).
  */
case class UnicodeNfc(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got $t")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_nfc"

  override def nullSafeEval(input: Any): Any =
    TextNorm.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNorm.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column wrapper for the text-normalization family (the SQL name is
  * registered by [[graft.GraftExtensions]]).
  */
object TextNormFunctions {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column => toCol, expression => toExpr}

  def unicode_nfc(c: Column): Column = toCol(UnicodeNfc(toExpr(c)))
}
