package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSql, SharedSpark}

/** ksql PAUSE / RESUME through [[QueryControl]] and the DDL surface:
  * pausing stops processing with offsets committed, SHOW QUERIES
  * reports the PAUSED row, rows fed while paused are NOT processed,
  * and RESUME restarts from the checkpoint delivering everything
  * exactly once (the file sink would show duplicates or gaps
  * otherwise). */
class QueryControlSpec extends AnyFunSuite with SharedSpark {

  // checkpoints with Spark's default CRC sidecars on (the session
  // factory turns them off), as any deployment outside the factory runs
  override def sessionConf = Map(
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "true")

  test("pause stops, resume restarts from the checkpoint, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[Long]
    val out = Files.createTempDirectory("graft-qc-out-").toString
    val ckpt = Files.createTempDirectory("graft-qc-ckpt-").toString

    def start() = feed.toDF().toDF("v")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .queryName("qc_sink").start()

    QueryControl.register(spark, "qc_sink", () => start())
    try {
      feed.addData(1L, 2L, 3L)
      spark.streams.active.find(_.name == "qc_sink").get.processAllAvailable()
      assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))

      // PAUSE through the ksql statement surface
      val paused = GraftSql.sql(spark, "PAUSE qc_sink;").collect()
      assert(paused.map(_.getString(1)).toSeq == Seq("PAUSED"))
      assert(spark.streams.active.forall(_.name != "qc_sink"))
      val shown = GraftSql.sql(spark, "SHOW QUERIES;").collect()
        .map(r => (r.getString(1), r.getString(2)))
      assert(shown.contains(("qc_sink", "PAUSED")), shown.toSeq)

      // rows fed while paused are not processed...
      feed.addData(4L, 5L)
      assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))

      // ...until RESUME restarts from the checkpoint — no dupes, no gaps
      val resumed = GraftSql.sql(spark, "RESUME qc_sink;").collect()
      assert(resumed.map(_.getString(1)).toSeq == Seq("RUNNING"))
      spark.streams.active.find(_.name == "qc_sink").get.processAllAvailable()
      assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L))

      // double-resume and pause-of-unknown fail loudly
      assertThrows[IllegalArgumentException](
        GraftSql.sql(spark, "RESUME qc_sink;"))
      assertThrows[IllegalArgumentException](
        GraftSql.sql(spark, "PAUSE nope;"))
    } finally {
      GraftSql.sql(spark, "TERMINATE ALL;")
      spark.streams.resetTerminated()
    }
  }

  test("PAUSE ALL / RESUME ALL cover every registered running query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feeds = Seq("qc_all_a", "qc_all_b").map { n =>
      val feed = MemoryStream[Long]
      val out = Files.createTempDirectory(s"graft-$n-out-").toString
      val ckpt = Files.createTempDirectory(s"graft-$n-ckpt-").toString
      QueryControl.register(spark, n, () =>
        feed.toDF().toDF("v").writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .queryName(n).start())
      (n, feed, out)
    }
    try {
      feeds.foreach { case (n, feed, _) =>
        feed.addData(1L)
        spark.streams.active.find(_.name == n).get.processAllAvailable()
      }
      val paused = GraftSql.sql(spark, "PAUSE ALL;").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(paused == Seq("qc_all_a", "qc_all_b"), paused)
      assert(spark.streams.active.forall(q =>
        !q.name.startsWith("qc_all_")))
      val resumed = GraftSql.sql(spark, "RESUME ALL;").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(resumed == Seq("qc_all_a", "qc_all_b"), resumed)
      feeds.foreach { case (n, feed, out) =>
        feed.addData(2L)
        spark.streams.active.find(_.name == n).get.processAllAvailable()
        assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
          Seq(1L, 2L), n)
      }
      // RESUME ALL with nothing paused is a no-op, not an error
      assert(GraftSql.sql(spark, "RESUME ALL;").collect().isEmpty)
    } finally {
      GraftSql.sql(spark, "TERMINATE ALL;")
      spark.streams.resetTerminated()
    }
  }

  test("pause refuses unregistered queries, naming TERMINATE") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[Long]
    val q = feed.toDF().writeStream.format("memory")
      .queryName("qc_adhoc")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-qc-adhoc-").toString)
      .start()
    try {
      val e = intercept[IllegalArgumentException](
        GraftSql.sql(spark, "PAUSE qc_adhoc;"))
      assert(e.getMessage.contains("TERMINATE"))
    } finally {
      q.stop()
      spark.catalog.dropTempView("qc_adhoc")
      spark.streams.resetTerminated()
    }
  }
}
