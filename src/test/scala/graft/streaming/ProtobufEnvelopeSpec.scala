package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** [[ProtobufEnvelope]] — the Protobuf ingress door's guard pattern
  * and the Confluent Protobuf wire-prefix math (magic + schema id +
  * message-indexes varint list). The sandbox ships neither
  * spark-protobuf nor protobuf-java, so the NEGATIVE path (clear
  * fail-fast naming the jar) is the production wiring under test —
  * the same contract AvroEnvelopeSpec pins for its door. */
class ProtobufEnvelopeSpec extends AnyFunSuite with SharedSpark {

  private def wire(id: Int, indexBytes: Byte*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(5 + indexBytes.length + 3)
    bb.put(0.toByte).putInt(id)
    indexBytes.foreach(bb.put)
    bb.put(Array[Byte](0x08, 0x01, 0x42)) // fake message body
    bb.array()
  }

  test("schema id parses from the Confluent prefix; bad magic rejected") {
    assert(ProtobufEnvelope.schemaIdOf(wire(7)) == 7)
    assert(ProtobufEnvelope.schemaIdOf(wire(0x01020304)) == 0x01020304)
    val bad = wire(7); bad(0) = 1
    assertThrows[IllegalArgumentException](ProtobufEnvelope.schemaIdOf(bad))
  }

  test("wire prefix length: single-0x00 index list and zigzag multi-index") {
    // common case: one top-level message → index list is the byte 0x00
    assert(ProtobufEnvelope.wirePrefixLength(wire(7, 0x00)) == 6)
    // list [2]: zigzag count 1 → 0x02, zigzag index 2 → 0x04
    assert(ProtobufEnvelope.wirePrefixLength(wire(7, 0x02, 0x04)) == 7)
    // list [1, 300]: zigzag count 2 → 0x04, 1 → 0x02, 300 → 0xD8 0x04
    assert(ProtobufEnvelope.wirePrefixLength(
      wire(7, 0x04, 0x02, 0xD8.toByte, 0x04)) == 9)
    // truncated varint fails loudly, not silently
    val trunc = java.util.Arrays.copyOf(wire(7, 0x02), 6)
    assertThrows[IllegalArgumentException](
      ProtobufEnvelope.wirePrefixLength(trunc))
  }

  test("absent module: isAvailable false, from_protobuf fails naming the jar") {
    assume(!ProtobufEnvelope.isAvailable) // sandbox ships no spark-protobuf
    val e = intercept[IllegalStateException](
      ProtobufEnvelope.fromProtobuf(
        org.apache.spark.sql.functions.col("value"), "Msg", "/tmp/x.desc"))
    assert(e.getMessage.contains("spark-protobuf"))
  }

  test("prefix strip is a pure column expression, null-preserving") {
    import spark.implicits._
    val payload = wire(7, 0x00)
    val stripped = Seq(Some(payload), None).toDF("value")
      .select(ProtobufEnvelope.stripConfluentPrefix(
        org.apache.spark.sql.functions.col("value"),
        ProtobufEnvelope.wirePrefixLength(payload)).as("body"))
      .collect()
    assert(stripped(0).getAs[Array[Byte]](0).toSeq ==
      Seq[Byte](0x08, 0x01, 0x42))
    assert(stripped(1).isNullAt(0)) // tombstone stays a tombstone
  }
}
