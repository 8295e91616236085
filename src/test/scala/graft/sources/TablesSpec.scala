package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The [[Tables.schema]] memo: a repeat read starts no Spark job, the
  * memoized schema is the one inference gives, and a rewritten table or
  * a different inference conf is inferred again. */
class TablesSpec extends AnyFunSuite with SharedSpark {

  // the repository's copy of the sf0.01 tables
  private val sf = "perfbench/fixtures/sf0.01"

  /** Spark jobs started by the calling thread while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet(); ()
          case Some(g) if g == s"$group-fence" => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once the fence job is seen,
      // every job the body started has been counted
      sc.setJobGroup(s"$group-fence", "fence")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(fenced.await(30, TimeUnit.SECONDS), "fence job never reported")
    } finally sc.removeSparkListener(listener)
    started.get
  }

  private def withTempDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec-")
    try body(dir) finally graft.streaming.FiniteStream.deleteRecursively(dir.toString)
  }

  /** The one part file a `coalesce(1)` parquet write left under `dir`. */
  private def partFile(dir: Path): Path =
    scala.util.Using.resource(Files.list(dir))(_.iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toList) match {
      case Seq(p) => p
      case ps => fail(s"expected one part file under $dir, got $ps")
    }

  test("a second read of an unchanged table starts no Spark job") {
    withTempDir { dir =>
      // a copy no other suite has read, so the first read must infer
      val copy = dir.resolve("documents.parquet")
      Files.copy(Paths.get(s"$sf/documents.parquet"), copy)
      val d = dir.toString
      assert(jobsDuring(Tables.documents(spark, d)) > 0)
      assert(jobsDuring {
        Tables.documents(spark, d)
        Tables.stream(spark, d, "documents")
        Tables.schema(spark, copy.toString)
      } == 0)
    }
  }

  test("the memoized schema equals a fresh inference for every fixture table") {
    for (n <- Tables.names) {
      val inferred = spark.read.parquet(s"$sf/$n.parquet").schema
      assert(Tables(spark, sf, n).schema == inferred, n)
      assert(Tables.stream(spark, sf, n).schema == inferred, n)
    }
    // events.ts (a naive micros timestamp here) normalizes to TIMESTAMP
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
    val normalized = Tables.normalizeEventsTs(
      spark.read.parquet(s"$sf/events.parquet"))
    assert(Tables.events(spark, sf).collect().toSeq == normalized.collect().toSeq)
  }

  test("a table rewritten at the same path with a new schema reads the new schema") {
    import spark.implicits._
    withTempDir { dir =>
      // directory layout: the path is a directory of part files
      val tableDir = dir.resolve("t.parquet").toString
      Seq(1, 2).toDF("a").coalesce(1).write.parquet(tableDir)
      assert(Tables(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("a"))
      Seq((1, "x")).toDF("a", "b").coalesce(1).write.mode("overwrite").parquet(tableDir)
      assert(Tables(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("a", "b"))
      assert(Tables(spark, dir.toString, "t").collect().toSeq.map(_.toSeq) ==
        Seq(Seq(1, "x")))

      // single-file layout: the path is one parquet file, replaced in place
      val single = dir.resolve("s.parquet")
      Files.copy(partFile(Paths.get(tableDir)), single)
      assert(Tables.schema(spark, single.toString).fieldNames.toSeq == Seq("a", "b"))
      val other = dir.resolve("other").toString
      Seq(7L).toDF("c").coalesce(1).write.parquet(other)
      Files.copy(partFile(Paths.get(other)), single,
        StandardCopyOption.REPLACE_EXISTING)
      assert(Tables.schema(spark, single.toString).fieldNames.toSeq == Seq("c"))
      assert(Tables(spark, dir.toString, "s").collect().map(_.getLong(0)).toSeq == Seq(7L))
    }
  }

  /** A one-row parquet file whose `ts` is TIMESTAMP(NANOS), the
    * physical type Spark reads only under `nanosAsLong`. */
  private def writeNanos(path: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path.toUri))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000L))
    finally w.close()
  }

  test("a different inference conf is not served from the memo") {
    withTempDir { dir =>
      val nanos = dir.resolve("e.parquet")
      writeNanos(nanos)
      assert(Tables.schema(spark, nanos.toString)("ts").dataType == LongType)
      val other = spark.newSession()
      other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      // without the legacy conf Spark cannot read TIMESTAMP(NANOS) at all
      intercept[Exception](Tables.schema(other, nanos.toString))
      assert(Tables.schema(spark, nanos.toString)("ts").dataType == LongType)
    }
    val events = s"$sf/events.parquet"
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.schema(ltz, events)("ts").dataType == TimestampType)
    assert(Tables.schema(spark, events)("ts").dataType == TimestampNTZType)
  }

  test("a self-join of two reads resolves: each read is a fresh relation") {
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_orderkey"), b("o_custkey"))
    assert(joined.count() == a.count())
  }
}
