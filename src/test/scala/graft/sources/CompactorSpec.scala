package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Compaction must shrink the file count to the size-derived target
  * and keep the relation byte-for-byte identical — and it must do so
  * with a NARROW plan (coalesce, no shuffle), since a 100 TB compact
  * that redistributes the data costs a full extra shuffle for nothing. */
class CompactorSpec extends AnyFunSuite with SharedSpark {

  test("compaction hits the size-derived file count and preserves the relation") {
    val src = Files.createTempDirectory("graft-compact-src-").toString
    val out = Files.createTempDirectory("graft-compact-out-").toString
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // fragment: 64 small files — the post-streaming-sink shape
    docs.repartition(64).write.mode("overwrite").parquet(src)
    assert(Compactor.parquetFileCount(spark, src) == 64)

    val srcBytes = spark.read.parquet(src)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    // target a quarter of the data per file → expect ~4 files
    val n = Compactor.compact(spark, src, out,
      targetBytes = (srcBytes / 4).toLong max 1L)
    assert(n <= 8 && n >= 1, s"got $n files")
    assert(n < 64)

    val a = spark.read.parquet(src)
    val b = spark.read.parquet(out)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("hive-partitioned input is refused (compaction would silently flatten the layout)") {
    val src = Files.createTempDirectory("graft-compact-part-").toString
    val out = Files.createTempDirectory("graft-compact-pout-").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.mode("overwrite").partitionBy("lang").parquet(src)
    val e = intercept[IllegalArgumentException] {
      Compactor.compact(spark, src, out)
    }
    assert(e.getMessage.contains("partition"), e.getMessage)
    // per-partition compaction (the documented path) works and the
    // recursive counter sees files INSIDE partition directories
    assert(Compactor.parquetFileCount(spark, src) > 0)
  }

  test("the compaction plan is narrow — coalesce, never a shuffle") {
    val src = Files.createTempDirectory("graft-compact-plan-").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(16).write.mode("overwrite").parquet(src)
    // assert on the frame compact() actually writes — an inline
    // coalesce here would keep passing even if compact regressed to a
    // repartition shuffle
    val plan = Compactor.compactionFrame(spark, src, targetBytes = 1L << 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }
}
