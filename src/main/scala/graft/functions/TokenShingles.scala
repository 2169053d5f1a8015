package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** UDTF-style table function (the `Generator` leg of SURVEY §2.10/§7.4):
  * explode a text column into its word n-gram shingles, one output row
  * per shingle, with the shingle's token position.
  *
  * This is the tokenize step the dedup family (n-gram Jaccard, MinHash)
  * otherwise expresses as `split` + `transform` + `explode`; as a native
  * Generator it runs in one pass without materializing the intermediate
  * shingle ARRAY per row — at 100 TB the array form allocates
  * O(tokens × n) characters per document in the row buffer before the
  * explode, while the generator streams shingles out one at a time.
  * Tokenization matches `TextAnalysis.tokens` (trim + split on runs of
  * whitespace) plus the case-fold the dedup shinglers apply.
  *
  * Registered as SQL `token_shingles(text, n)` by [[graft.GraftExtensions]]:
  * `SELECT s.pos, s.shingle FROM docs LATERAL VIEW token_shingles(text, 3) s`.
  * Generators sit outside whole-stage codegen by design (they produce
  * many rows per input row — `GenerateExec` handles the fan-out), so
  * CodegenFallback costs nothing extra here.
  */
case class TokenShingles(child: Expression, n: Expression)
    extends Generator with CodegenFallback {

  override def prettyName: String = "token_shingles"
  override def children: Seq[Expression] = Seq(child, n)

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("shingle", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a STRING first argument, got ${child.dataType}")
    else if (n.dataType != IntegerType || !n.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a constant INT shingle size, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input)
    val size = n.eval(input)
    if (text == null || size == null) return Nil
    val k = size.asInstanceOf[Int]
    if (k < 1) return Nil
    val toks = text.asInstanceOf[UTF8String].toString.trim
      .toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k) Nil
    else (0 to toks.length - k).iterator.map { i =>
      InternalRow(i, UTF8String.fromString(toks.slice(i, i + k).mkString(" ")))
    }
  }

  override def terminate(): IterableOnce[InternalRow] = Nil

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TokenShingles =
    copy(child = newChildren(0), n = newChildren(1))
}

object TokenShingles {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column => toCol, expression => toExpr}

  /** DataFrame form: `df.select($"doc_id", tokenShingles($"text", 3))`
    * fans each row out to its shingle rows (columns `pos`, `shingle`).
    */
  def tokenShingles(text: Column, n: Int): Column =
    toCol(TokenShingles(toExpr(text),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))
}
