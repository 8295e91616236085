package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Index lifecycle contract: build once, probe many, append without
  * rebuild. The probe-side plan properties (partition pruning to the
  * probed cells, no corpus scan) are pinned in PlanPropertiesSpec via
  * `sim_ann_ivf_indexed`; this spec covers the layout itself. */
class IvfIndexSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private def fixture = {
    import spark.implicits._
    // two well-separated cells on the first axis
    Seq(
      (1L, 0, Array(1.0, 0.1)), (2L, 0, Array(0.9, 0.2)),
      (3L, 1, Array(-1.0, 0.1)), (4L, 1, Array(-0.9, -0.2)))
      .toDF("vec_id", "cell", "emb")
  }

  private def centroids = {
    import spark.implicits._
    Seq((0, Array(0.95, 0.15)), (1, Array(-0.95, -0.05)))
      .toDF("label", "cemb")
  }

  test("build is memoized per key; the layout carries both halves") {
    val l1 = IvfIndex.ensure("spec-ivf-a", centroids, fixture)
    val l2 = IvfIndex.ensure("spec-ivf-a",
      sys.error("second ensure must not rebuild"), sys.error("nor rewrite"))
    assert(l1 == l2)
    assert(spark.read.parquet(l1.centroids).count() == 2)
    assert(spark.read.parquet(l1.vectors).count() == 4)
  }

  test("append lands inside the cell directory: probes see it, pruning still holds") {
    import spark.implicits._
    val layout = IvfIndex.ensure("spec-ivf-b", centroids, fixture)
    IvfIndex.append(layout,
      Seq((9L, 0, Array(0.99, 0.12))).toDF("vec_id", "cell", "emb"))
    // the appended vector is visible under ONLY its cell partition
    val cell0 = spark.read.parquet(layout.vectors)
      .filter(col("cell") === 0)
    assert(cell0.count() == 3)
    assert(cell0.filter(col("vec_id") === 9L).count() == 1)
    assert(spark.read.parquet(layout.vectors)
      .filter(col("cell") === 1).count() == 2)
    // and the probe-side scan of cell 0 plans with a partition filter
    val plan = cell0.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1500))
  }

  test("append to a brand-new cell creates its directory (new coarse cell after retrain)") {
    import spark.implicits._
    val layout = IvfIndex.ensure("spec-ivf-c", centroids, fixture)
    IvfIndex.append(layout,
      Seq((10L, 7, Array(0.0, 1.0))).toDF("vec_id", "cell", "emb"))
    assert(spark.read.parquet(layout.vectors)
      .filter(col("cell") === 7).count() == 1)
    // existing cells untouched
    assert(spark.read.parquet(layout.vectors).count() == 5)
  }
}
