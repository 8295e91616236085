package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Character-entropy as ONE narrow per-row pass — the native form of
  * the `text_char_entropy` dataflow, which spells the same integers
  * as explode → (doc, char) count → per-doc total → join → sum: four
  * operators and TWO shuffles for what is a per-row fold. At 100 TB
  * the difference is a full corpus shuffle (×2) versus none at all.
  *
  * Semantics are BIT-IDENTICAL to the composed query so the same
  * DuckDB oracle verifies both: characters are Unicode CODE POINTS —
  * what Spark's `split(text, '')` explodes (an astral emoji is ONE
  * element, pinned by EntropyParitySpec) and what DuckDB's
  * string_split('') yields — the grid is Σ c·⌊ln(n/c)·1e6⌋ on JVM
  * `Math.log` (the same libm path Spark's `ln` takes), and the empty
  * string degenerates to the composed form's single-empty-token row
  * (n=1, entropy 0).
  * Returns struct(n_chars BIGINT, entropy_micro_nats BIGINT).
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("entropy_micro_nats", LongType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"char_entropy expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val out = new GenericInternalRow(2)
    if (s.isEmpty) {
      // split('', '') yields [''] — one empty token, zero entropy
      out.update(0, 1L)
      out.update(1, 0L)
      return out
    }
    val counts = new java.util.HashMap[Integer, Long](64)
    var i = 0
    var nCp = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      i += Character.charCount(cp)
      nCp += 1
    }
    val n = nCp.toDouble
    var micro = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      micro += c * math.floor(math.log(n / c) * 1e6).toLong
    }
    out.update(0, nCp)
    out.update(1, micro)
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharEntropy {
  def apply(text: Column): Column =
    GraftBridge.column(CharEntropy(GraftBridge.expression(text)))
}
