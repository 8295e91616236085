package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ksqlDB 0.28's `UUID(bytes)` arity (reference stack:
  * docker-compose.yml:83): re-interpret a 16-byte value as the
  * big-endian msb/lsb pair of a UUID and render the canonical
  * hyphenated string. Anything but exactly 16 bytes → NULL (ksql's
  * documented behavior — no exception, the row survives).
  *
  * The 0-arg `UUID()` and `RANDOM()` spellings are the `ksql_uuid` /
  * `ksql_random` twins in [[KsqlCompat.builders]], built directly over
  * Spark's own `Uuid` / `Rand` expressions (same per-partition PRNG
  * machinery Spark's builtins use), with an engine extension: when
  * `spark.graft.randomSeed` is set on the session, both draw from
  * that seed, making corpus builds that sample with RANDOM() or tag
  * with UUID() reproducible run-over-run (given the same partitioning
  * — the standard Spark seeded-RNG contract).
  */
case class UuidFromBytes(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"uuid expects BYTES, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    if (bytes.length != 16) null
    else {
      val bb = ByteBuffer.wrap(bytes)
      UTF8String.fromString(
        new java.util.UUID(bb.getLong, bb.getLong).toString)
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): UuidFromBytes = copy(child = newChild)
}
