package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The disk-backed inter-query hop must be exactly-once per batch id:
  * a crash between the parquet append and the foreachBatch commit
  * makes Spark replay the batch, and a naive append would duplicate
  * every record in the downstream stream. */
class FileChannelSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))

  test("replayed batch id writes nothing; distinct ids append") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-chan-").toString
    val chan = new FileChannel(spark, dir, schema)
    chan.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), batchId = 0)
    chan.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), batchId = 0) // replay
    chan.write(Seq(("c", 3L)).toDF("k", "v"), batchId = 1)
    val rows = spark.read.schema(schema).parquet(dir)
      .as[(String, Long)].collect().sorted.toSeq
    assert(rows == Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("markers are invisible to the streaming reader") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-chan-").toString
    val chan = new FileChannel(spark, dir, schema)
    chan.write(Seq(("x", 9L)).toDF("k", "v"), batchId = 7)
    val q = chan.readStream.writeStream.format("memory")
      .queryName("chan_read")
      .option("checkpointLocation", Files.createTempDirectory("graft-chk-").toString)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    assert(spark.table("chan_read").as[(String, Long)].collect().toSeq ==
      Seq(("x", 9L)))
  }
}
