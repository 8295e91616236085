package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream.Leg

/** No process is forked on the checkpoint path: offset and commit logs,
  * source metadata and state-store files are written without Hadoop's
  * shell-outs (`chmod` per created file, `readlink` per rename). Forks
  * are observed with JFR's `jdk.ProcessStart` event, in-process. */
class CheckpointForkSpec extends AnyFunSuite with SharedSpark {

  // checkpoints with Spark's default CRC sidecars on (the session
  // factory turns them off), as any deployment outside the factory runs
  override def sessionConf = Map(
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "true")

  /** The command line of every process started while `body` runs. */
  private def forked(body: => Unit): Seq[String] = {
    val file = Files.createTempFile("graft-forks-", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.setDestination(file)
      rec.start()
      try body finally rec.stop()
      RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** The `chmod`/`readlink` commands among `cmds` that name a path
    * (plain or as a `file:` URI) starting with one of `prefixes`. */
  private def checkpointForks(cmds: Seq[String], prefixes: Seq[String]): Seq[String] =
    cmds.filter { c =>
      val argv = c.split(' ')
      Set("chmod", "readlink")(argv.head.split('/').last) &&
        argv.tail.map(_.stripPrefix("file:")).exists(a => prefixes.exists(a.startsWith))
    }

  test("a finite stream-stream join drains without forking on its checkpoint") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = Timestamp.valueOf("2020-04-02 00:00:00")
    def at(h: Int) = new Timestamp(t0.getTime + h * 3600000L)
    val orders = MemoryStream[(String, Timestamp)]
    val ships = MemoryStream[(String, Timestamp)]
    orders.addData(("a", at(0)), ("b", at(1)), ("c", at(2)))
    ships.addData(("a", at(3)), ("c", at(40)), ("d", at(4)))
    val joined = orders.toDF().toDF("o_id", "o_ts").withWatermark("o_ts", "1 day")
      .join(ships.toDF().toDF("s_id", "s_ts").withWatermark("s_ts", "1 day"),
        expr("o_id = s_id AND s_ts BETWEEN o_ts AND o_ts + INTERVAL 1 DAY"))
    var rows = Seq.empty[String]
    val cmds = forked {
      val Seq(out) = FiniteStream.drain(Leg(joined, "append", statePartitions = 2))
      rows = out.select("o_id").as[String].collect().toSeq
    }
    assert(rows == Seq("a"))
    val root = s"${FiniteStream.scratchRoot}/graft-sq-"
    val hits = checkpointForks(cmds, Seq(root))
    assert(hits.isEmpty, s"${hits.size} forks on the checkpoint, e.g. ${hits.take(3)}")
  }

  test("a Pipeline start and step() fork nothing on its query checkpoints") {
    val root = Files.createTempDirectory("graft-ckpt-fork-").toString
    var p: Pipeline = null
    val cmds = forked {
      p = new Pipeline(spark, root)
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34))
      p.ordersFeed.add("17" ->
        """{"customer_id":"5","order_id":"17","price":25.25,"currency":"eur","ts":"2020-04-02T17:22:00"}""")
      p.shipmentsFeed.add("17" ->
        """{"order_id":"17","shipment_id":"75","origin":"texas","ts":"2020-04-04T19:20:00"}""")
      p.step()
    }
    try {
      assert(p.shippedOrders.values.map(r => (r.order_id, r.customer_name)) ==
        Seq(("17", Some("fred"))))
      val ckpts = Seq("customers_by_key", "enriched_orders", "shipped_orders")
        .map(q => s"$root/$q/")
      val hits = checkpointForks(cmds, ckpts)
      assert(hits.isEmpty, s"${hits.size} forks on the checkpoints, e.g. ${hits.take(3)}")
    } finally p.stop()
  }
}
