package graft.streaming

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The Avro ingress façade must decode real binary Avro offline (core
  * Avro is always on a Spark classpath) and feed the existing
  * JSON-envelope unwrap unchanged — so the engine ingests the
  * reference's actual wire format (Avro everywhere,
  * docker-compose.yml:102-103) with only the value-decode column
  * differing from the JSON path. The native `from_avro` door must
  * degrade predictably where spark-avro is absent (this sandbox). */
class AvroEnvelopeSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private val rowSchemaJson =
    """{"type":"record","name":"row","fields":[
      |  {"name":"id","type":"long"},
      |  {"name":"name","type":"string"}]}""".stripMargin

  /** Debezium envelope as Avro: nullable before/after record branches. */
  private val envSchemaJson =
    s"""{"type":"record","name":"env","fields":[
       |  {"name":"before","type":["null",$rowSchemaJson],"default":null},
       |  {"name":"after","type":["null","row"],"default":null},
       |  {"name":"op","type":"string"},
       |  {"name":"ts_ms","type":"long"}]}""".stripMargin

  private def encode(schema: Schema, rec: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def envBytes(op: String, id: Long, name: String): Array[Byte] = {
    val envSchema = new Schema.Parser().parse(envSchemaJson)
    val rowSchema = envSchema.getField("before").schema().getTypes.get(1)
    val row = new GenericData.Record(rowSchema)
    row.put("id", id)
    row.put("name", name)
    val env = new GenericData.Record(envSchema)
    if (op == "d") env.put("before", row) else env.put("after", row)
    env.put("op", op)
    env.put("ts_ms", 1700000000000L)
    encode(envSchema, env)
  }

  test("binary Avro envelopes decode offline and unwrap through the JSON path unchanged") {
    import spark.implicits._
    val df = Seq(
      ("k1", envBytes("c", 1L, "alice")),
      ("k2", envBytes("u", 2L, "bob")),
      ("k3", envBytes("d", 3L, "carol")),
      ("k3", null.asInstanceOf[Array[Byte]]) // Kafka tombstone
    ).toDF("key", "value")

    val jsonized = AvroEnvelope.binaryToJson(df, "value", envSchemaJson)
    assert(jsonized.schema("value").dataType == StringType)

    val afterSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val out = DebeziumEnvelope.unwrap(jsonized, col("value"), afterSchema,
        DebeziumEnvelope.Rewrite, tombstoneKey = Some("key" -> "name"))
      .select("id", "name", "__deleted")
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getString(2))).toSet

    assert(out == Set(
      (Some(1L), "alice", "false"),
      (Some(2L), "bob", "false"),
      (Some(3L), "carol", "true"), // delete rewrites the before image
      (None, "k3", "true")))       // tombstone surfaces the topic key
  }

  test("null payloads survive decode as nulls (tombstones stay tombstones)") {
    import spark.implicits._
    val df = Seq(("k", null.asInstanceOf[Array[Byte]])).toDF("key", "value")
    val jsonized = AvroEnvelope.binaryToJson(df, "value", rowSchemaJson)
    assert(jsonized.filter(col("value").isNull).count() == 1)
  }

  test("decoder init is per-instance, not per-row: many rows, one schema parse each task") {
    import spark.implicits._
    val rowSchema = new Schema.Parser().parse(rowSchemaJson)
    val rows = (1 to 200).map { i =>
      val r = new GenericData.Record(rowSchema)
      r.put("id", i.toLong)
      r.put("name", s"doc$i")
      encode(rowSchema, r)
    }
    val decoded = AvroEnvelope.binaryToJson(
        rows.toDF("value").repartition(4), "value", rowSchemaJson)
      .select(from_json(col("value"),
        StructType(Seq(StructField("id", LongType),
          StructField("name", StringType)))).as("r"))
      .select("r.id").as[Long].collect().toSet
    assert(decoded == (1 to 200).map(_.toLong).toSet)
  }

  test("Confluent wire prefix strips to plain binary Avro, null-preserving") {
    import spark.implicits._
    val rowSchema = new Schema.Parser().parse(rowSchemaJson)
    val r = new GenericData.Record(rowSchema)
    r.put("id", 42L)
    r.put("name", "pfx")
    val plain = encode(rowSchema, r)
    val framed = Array[Byte](0, 0, 0, 0, 1) ++ plain // magic + schema id 1
    val df = Seq(("k", framed), ("tomb", null.asInstanceOf[Array[Byte]]))
      .toDF("key", "value")
      .withColumn("value", AvroEnvelope.stripConfluentPrefix(col("value")))
    val stripped = df.filter(col("key") === "k")
      .select("value").collect().head.getAs[Array[Byte]](0)
    assert(stripped.sameElements(plain))
    assert(df.filter(col("key") === "tomb" && col("value").isNull).count() == 1)
    // and the stripped bytes decode
    val got = AvroEnvelope.binaryToJson(df.filter(col("key") === "k"),
        "value", rowSchemaJson)
      .select(from_json(col("value"), StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))).as("r"))
      .select("r.id").collect().head.getLong(0)
    assert(got == 42L)
  }

  test("registry fetch: schema id from the wire prefix, GET /schemas/ids/<id>, cached") {
    // mock Schema Registry on a loopback ephemeral port (JDK HttpServer)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/7", ex => {
      hits.incrementAndGet()
      // registry responses JSON-escape the schema string
      val body = new com.fasterxml.jackson.databind.ObjectMapper()
        .createObjectNode().put("schema", rowSchemaJson).toString
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type",
        "application/vnd.schemaregistry.v1+json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.createContext("/schemas/ids/404", ex => {
      ex.sendResponseHeaders(404, 0); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      // the id comes off a sampled wire payload, never per row
      val framed = Array[Byte](0, 0, 0, 0, 7) ++ Array[Byte](1, 2, 3)
      assert(AvroEnvelope.schemaIdOf(framed) == 7)
      intercept[IllegalArgumentException] {
        AvroEnvelope.schemaIdOf(Array[Byte](1, 0, 0, 0, 7, 9)) // bad magic
      }
      intercept[IllegalArgumentException] {
        AvroEnvelope.schemaIdOf(Array[Byte](0, 0)) // truncated
      }
      val schema = AvroEnvelope.registrySchema(url, 7)
      assert(schema == rowSchemaJson) // exact writer schema round-trip
      // the fetched schema drives the offline decoder end-to-end
      import spark.implicits._
      val rowSchema = new Schema.Parser().parse(rowSchemaJson)
      val r = new GenericData.Record(rowSchema)
      r.put("id", 11L)
      r.put("name", "reg")
      val wire = Array[Byte](0, 0, 0, 0, 7) ++ encode(rowSchema, r)
      val got = AvroEnvelope.binaryToJson(
          Seq(wire).toDF("value")
            .withColumn("value", AvroEnvelope.stripConfluentPrefix(col("value"))),
          "value", schema)
        .select(from_json(col("value"), StructType(Seq(
          StructField("id", LongType), StructField("name", StringType)))).as("r"))
        .select("r.id").collect().head.getLong(0)
      assert(got == 11L)
      // cached: a second lookup of the same (url, id) never re-fetches
      AvroEnvelope.registrySchema(url, 7)
      assert(hits.get() == 1, s"expected 1 registry hit, got ${hits.get()}")
      // HTTP errors surface with the target, not as a decode mystery
      val e = intercept[java.io.IOException] {
        AvroEnvelope.registrySchema(url, 404)
      }
      assert(e.getMessage.contains("404"))
    } finally server.stop(0)
  }

  test("native from_avro door: available ⇒ decodes; absent ⇒ fails fast naming the jar") {
    if (AvroEnvelope.isAvailable) {
      import spark.implicits._
      val rowSchema = new Schema.Parser().parse(rowSchemaJson)
      val r = new GenericData.Record(rowSchema)
      r.put("id", 7L)
      r.put("name", "x")
      val got = Seq(encode(rowSchema, r)).toDF("value")
        .select(AvroEnvelope.fromAvro(col("value"), rowSchemaJson).as("r"))
        .select("r.id").collect().head.getLong(0)
      assert(got == 7L)
    } else {
      val e = intercept[IllegalStateException] {
        AvroEnvelope.fromAvro(lit(Array[Byte]()), rowSchemaJson)
      }
      assert(e.getMessage.contains("spark-avro"))
    }
  }
}
