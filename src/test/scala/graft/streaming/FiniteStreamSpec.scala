package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream.{Batches, Keyed, Leg}

/** The [[FiniteStream.drain]] contract: every leg drains to the end of
  * its input, and afterwards the session and the scratch root hold no
  * running query, temp view or checkpoint — also when a leg fails to
  * start. */
class FiniteStreamSpec extends AnyFunSuite with SharedSpark {

  private def checkpoints(): Set[String] =
    scala.util.Using.resource(Files.list(FiniteStream.scratchRoot))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-sq-")).toSet)

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet

  private def assertClean(viewsBefore: Set[String],
                          ckptsBefore: Set[String]): Unit = {
    assert(spark.streams.active.isEmpty, "a streaming query was left running")
    assert(!spark.streams.awaitAnyTermination(50L),
      "a terminated query was left registered")
    val views = tempViews() -- viewsBefore
    assert(views.isEmpty, s"temp views leaked: $views")
    val ckpts = checkpoints() -- ckptsBefore
    assert(ckpts.isEmpty, s"checkpoints leaked: $ckpts")
  }

  private def ints(xs: Int*): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Int]
    in.addData(xs: _*)
    in.toDF()
  }

  test("memory and batch-function legs both drain; results come back detached") {
    val (viewsBefore, ckptsBefore) = (tempViews(), checkpoints())
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val Seq(table) = FiniteStream.drain(
      Leg(ints(1, 2, 3), "append"),
      Leg(ints(4, 5), "append", statePartitions = 2, sink = Batches { (b, _) =>
        b.collect().foreach(r => seen.add(r.getInt(0)))
      }))
    assertClean(viewsBefore, ckptsBefore)
    assert(table.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    assert(seen.asScala.toSeq.sorted == Seq(4, 5))
  }

  test("a leg whose start() throws leaks no checkpoint, view or query") {
    val (viewsBefore, ckptsBefore) = (tempViews(), checkpoints())
    // complete mode without an aggregation fails analysis at start(),
    // after the first leg is already running
    intercept[AnalysisException] {
      FiniteStream.drain(
        Leg(ints(1, 2), "append"),
        Leg(ints(3), "complete"))
    }
    assertClean(viewsBefore, ckptsBefore)
    intercept[AnalysisException] {
      FiniteStream.drain(Leg(ints(3), "complete"))
    }
    assertClean(viewsBefore, ckptsBefore)
  }

  test("a drain logs no AQE-disabled warning and leaves the session's AQE on") {
    val aqe = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqe) == "true")
    val lines = graft.LogCapture.logged {
      FiniteStream.drain(Leg(ints(1, 2), "append"),
        Leg(ints(3), "append", sink = Batches((_, _) => ())))
      // the scheduler logs a failed job-group cancel on its event loop;
      // a job submitted after the drain queues behind any such cancel
      spark.range(1).collect()
    }
    assert(!lines.exists(_.contains(s"$aqe is not supported in streaming")), lines)
    assert(!lines.exists(_.contains("Failed to cancel job group")), lines)
    assert(spark.conf.get(aqe) == "true")
  }

  test("a drain leaves no job of its legs running") {
    val sc = spark.sparkContext
    def running(group: String): Seq[Int] =
      sc.statusTracker.getJobIdsForGroup(group).toSeq.filter(
        sc.statusTracker.getJobInfo(_).exists(
          _.status == org.apache.spark.JobExecutionStatus.RUNNING))
    @volatile var group = ""
    FiniteStream.drain(Leg(ints(1), "append", sink = Batches { (_, _) =>
      // a job the batch submits and does not wait for, as a broadcast
      // its plan no longer needs is; it runs in the batch's job group
      group = sc.getLocalProperty("spark.jobGroup.id")
      new Thread(() =>
        try sc.parallelize(1 to 2, 2).foreach { _ =>
          FiniteStreamSpec.liveTasks.incrementAndGet()
          try Thread.sleep(30000L)
          finally { FiniteStreamSpec.liveTasks.decrementAndGet(); () }
        } catch { case _: Exception => () }).start()
      while (running(group).isEmpty) Thread.sleep(10L)
    }))
    assert(running(group).isEmpty, s"jobs of group $group still running")
    assert(FiniteStreamSpec.liveTasks.get == 0, "a task of a left job still runs")
  }

  private def pairs(xs: (String, String, Long)*): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String, Long)]
    in.addData(xs: _*)
    in.toDF().toDF("a", "b", "v")
  }

  test("a keyed leg keeps the last row per key across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-keyed-in-")
    try {
      // one file per micro-batch, in modification-time order
      Seq(Seq(("a", 1L), ("b", 1L)), Seq(("a", 2L)), Seq(("a", 3L), ("c", 1L)))
        .zipWithIndex.foreach { case (rows, i) =>
          val f = dir.resolve(s"part-$i.json")
          Files.write(f, rows.map { case (k, v) => s"""{"k":"$k","v":$v}""" }
            .asJava)
          f.toFile.setLastModified(1000000000000L + i * 1000L)
        }
      val in = spark.readStream.schema("k STRING, v BIGINT")
        .option("maxFilesPerTrigger", 1).json(dir.toString)
      val (viewsBefore, ckptsBefore) = (tempViews(), checkpoints())
      val Seq(table) = FiniteStream.drain(Leg(in, "append", sink = Keyed("k")))
      assertClean(viewsBefore, ckptsBefore)
      assert(table.as[(String, Long)].collect().toMap ==
        Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    } finally FiniteStream.deleteRecursively(dir.toString)
  }

  test("a keyed leg keys by the tuple: concatenation-colliding pairs keep two rows") {
    import spark.implicits._
    val Seq(table) = FiniteStream.drain(Leg(
      pairs(("s1", "ab", 1L), ("s1a", "b", 2L)), "append",
      sink = Keyed("a", "b")))
    assert(table.as[(String, String, Long)].collect().toSet ==
      Set(("s1", "ab", 1L), ("s1a", "b", 2L)))
  }

  test("a keyed leg returns the stream's columns in order, every one nullable") {
    val in = pairs(("x", "y", 1L))
    assert(!in.schema("v").nullable)
    val Seq(table) = FiniteStream.drain(Leg(in, "append", sink = Keyed("v")))
    assert(table.schema == StructType(Seq(StructField("a", StringType),
      StructField("b", StringType), StructField("v", LongType))))
  }

  test("an unknown key column fails before any leg starts and leaks nothing") {
    val (viewsBefore, ckptsBefore) = (tempViews(), checkpoints())
    val e = intercept[IllegalArgumentException] {
      FiniteStream.drain(
        Leg(ints(1, 2), "append"),
        Leg(pairs(("x", "y", 1L)), "append", sink = Keyed("a", "nope")))
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
    assertClean(viewsBefore, ckptsBefore)
  }

  test("SnapshotStore keeps a null key apart from the string \"null\"") {
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("v", LongType)))
    val store = new SnapshotStore(schema, keys = Seq("k"))
    store.upsert(spark.createDataFrame(
      java.util.Arrays.asList(Row(null, 1L), Row("null", 2L)), schema))
    assert(store.size == 2)
    assert(store.df(spark).collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet == Set((null, 1L), ("null", 2L)))
  }
}

object FiniteStreamSpec {
  /** Tasks of the left-running job in flight (local mode: one JVM). */
  val liveTasks = new java.util.concurrent.atomic.AtomicInteger(0)
}
