package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 16-bit SimHash of a token array in one native per-row pass.
  *
  * Replaces the relational spelling (explode distinct tokens × 16-row
  * bit table cross join + two grouped aggregations — two shuffles) with
  * a narrow scan: distinct tokens hashed once (first 4 hex chars of
  * md5 → 16-bit value), ±1 per bit accumulated, sign taken. Matches
  * the DuckDB oracle bit-for-bit. At 100 TB the signature pass becomes
  * shuffle-free; only the (tiny) signature relation moves for the
  * bucketed near-dup join.
  */
case class SimHash16(child: Expression)
    extends TokenArrayFunction("simhash16") with CodegenFallback {

  override def dataType: DataType = LongType

  @transient private lazy val digest: MessageDigest =
    MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      SimHashEval.signature(input.asInstanceOf[ArrayData], digest, bits = 16))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared SimHash evaluation: ±1 per bit over the first `bits/8` md5
  * bytes (big-endian) of each DISTINCT token, sign taken — one
  * definition so the 16-bit demo and 64-bit production widths can
  * never drift from each other or their DuckDB oracle spellings
  * (first-N-hex-chars == first-N/2-bytes big-endian for both). */
private[functions] object SimHashEval {

  def signature(toks: ArrayData, md: MessageDigest, bits: Int): Long = {
    val nBytes = bits / 8
    val n = toks.numElements()
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      // null elements are skipped (split() never yields them)
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i).toString
        if (seen.add(t)) {
          md.reset()
          val dg = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var v = 0L
          var j = 0
          while (j < nBytes) { v = (v << 8) | (dg(j) & 0xffL); j += 1 }
          var b = 0
          while (b < bits) {
            if (((v >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

object SimHash16 {
  def apply(tokens: Column): Column =
    GraftBridge.column(SimHash16(GraftBridge.expression(tokens)))
}
