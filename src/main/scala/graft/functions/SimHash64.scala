package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 64-bit SimHash of a token array — the production signature width
  * (the 16-bit [[SimHash16]] demonstrates the structure; at corpus
  * scale 16 bits saturates and every bucket collides). One narrow
  * per-row pass: distinct tokens hashed once (first 8 md5 bytes,
  * big-endian → 64-bit value), ±1 per bit accumulated, sign taken.
  * Near-dup mining bands the signature 4×16 bits — the same
  * k+1-bands-for-distance-k pigeonhole guarantee as the 16-bit 4×4
  * banding, so hamming-≤3 recall stays COMPLETE. Matches the DuckDB
  * hi/lo-32-bit oracle spelling bit-for-bit.
  */
case class SimHash64(child: Expression)
    extends TokenArrayFunction("simhash64") with CodegenFallback {

  override def dataType: DataType = LongType

  @transient private lazy val digest: MessageDigest =
    MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      SimHashEval.signature(input.asInstanceOf[ArrayData], digest, bits = 64))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  def apply(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))
}
