package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream.{Batches, Leg}

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
    val lines = graft.LogCapture.logged(FiniteStream.drain(Leg(ints(1, 2), "append")))
    assert(!lines.exists(_.contains(s"$aqe is not supported in streaming")), lines)
    assert(spark.conf.get(aqe) == "true")
  }
}
