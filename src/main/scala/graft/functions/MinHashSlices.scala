package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All eight MinHash signature slices in one native per-row pass.
  *
  * The composable spelling (8 × `array_min(transform(...))` over an
  * md5-per-shingle array) runs through the interpreted higher-order-
  * function path — measured as the dominant cost of the LSH query.
  * This expression walks the token array once per row: builds each
  * word shingle, hashes it twice (md5 seeds "0|", "1|"), slices the 64
  * hex chars into eight 8-char (32-bit) hashes and keeps the running
  * min of each — one compiled loop, no intermediate arrays.
  *
  * Output is BIT-IDENTICAL to the composable form / the DuckDB oracle
  * (same shingling, same md5 hex, same lexicographic min).
  */
case class MinHashSlices(child: Expression, shingleWidth: Int)
    extends TokenArrayFunction("minhash_slices") with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val hexChars = "0123456789abcdef".toCharArray

  // one digest per task (expression instances are single-threaded);
  // getInstance per row was measurable on the 250k-shingle corpus
  @transient private lazy val digest: MessageDigest =
    MessageDigest.getInstance("MD5")

  private def md5Hex(md: MessageDigest, s: String): String = {
    md.reset()
    val dg = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((dg(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(dg(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    // null elements are skipped (split() never yields them)
    val words = (0 until toks.numElements())
      .filterNot(toks.isNullAt).map(toks.getUTF8String(_).toString).toArray
    val n = words.length
    val md = digest
    val mins = new Array[String](8)
    val nShingles = math.max(n - (shingleWidth - 1), 1)
    val sb = new java.lang.StringBuilder(64)
    var p = 0
    while (p < nShingles) {
      sb.setLength(0)
      val end = math.min(p + shingleWidth, n)
      var j = p
      while (j < end) {
        if (j > p) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      val sh = sb.toString
      val h64 = md5Hex(md, "0|" + sh) + md5Hex(md, "1|" + sh)
      var k = 0
      while (k < 8) {
        val slice = h64.substring(8 * k, 8 * k + 8)
        if (mins(k) == null || slice.compareTo(mins(k)) < 0) mins(k) = slice
        k += 1
      }
      p += 1
    }
    new GenericArrayData(mins.map(UTF8String.fromString(_)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSlices {
  def apply(tokens: Column, width: Int = 5): Column =
    GraftBridge.column(MinHashSlices(GraftBridge.expression(tokens), width))
}
