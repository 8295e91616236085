package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The drift→retrain lifecycle contract of [[IvfIndex]]: versioned
  * publishes with an atomic `_CURRENT` swap, the drift gate (below
  * threshold nothing is written; above it a Lloyd completion re-homes
  * the corpus), recall RECOVERY after a retrain, old-version
  * readability until [[IvfIndex.vacuumVersions]] reclaims them.
  *
  * Fixture geometry (2-dim unit vectors, angles in degrees): the
  * "trained" centroids sit at 0° and 45°, so their routing bisector is
  * 22.5°. The query's true-neighbor cluster B straddles that bisector
  * (angles 12°…35°) — the classic boundary-drift failure: a probe-1
  * lookup reads ONE cell and misses the neighbors homed across the
  * line. One Lloyd step pulls the centroids to the actual clusters
  * (far cluster A at ≈ -60° dominates cell 0), the bisector moves
  * below cluster B, and the whole cluster re-homes into one cell —
  * probe-1 recall returns to 5/5.
  */
class IvfRetrainSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private def vec(deg: Double): Array[Double] =
    Array(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))

  /** Cluster B (ids 1-8) straddles the 22.5° bisector; cluster A
    * (ids 101-110) is far away at ≈ -60°. */
  private val bAngles = Map(1 -> 12.0, 2 -> 16.0, 3 -> 19.0, 4 -> 21.0,
    5 -> 24.0, 6 -> 28.0, 7 -> 31.0, 8 -> 35.0)
  private val aAngles = (101 to 110).map(i => i -> (-58.0 - (i - 101))).toMap
  private val queryDeg = 22.4

  private def corpus: DataFrame = {
    import spark.implicits._
    (bAngles ++ aAngles).toSeq.sortBy(_._1)
      .map { case (id, deg) => (id.toLong, 0, vec(deg)) }
      .toDF("vec_id", "label", "emb")
  }

  private def staleCentroids: DataFrame = {
    import spark.implicits._
    Seq((0, vec(0.0)), (1, vec(45.0))).toDF("label", "cemb")
  }

  private def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    round(
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x) /
        (sqrt(aggregate(transform(a, x => x * x), lit(0.0), (s, x) => s + x)) *
          sqrt(aggregate(transform(b, x => x * x), lit(0.0), (s, x) => s + x))),
      6)

  /** Home each corpus row by nearest centroid — the same argmax the
    * engine uses (rounded cosine, centroid-id tie-break). */
  private def assigned(cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    corpus.crossJoin(broadcast(cents.select(col("label").as("cid"), col("cemb"))))
      .select(col("vec_id"), col("label"), col("emb"), col("cid"),
        cos(col("emb"), col("cemb")).as("csim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("emb"), col("cid").as("cell"))
  }

  /** Probe-1 against a published layout: route by the stored routing
    * table, rank ONLY the routed cell — what a production lookup does. */
  private def probe1(layout: IvfIndex.Layout): Seq[Long] = {
    import spark.implicits._
    val q = Seq(Tuple1(vec(queryDeg))).toDF("qemb")
    val routed = spark.read.parquet(layout.centroids).crossJoin(broadcast(q))
      .select(col("label"), cos(col("cemb"), col("qemb")).as("csim"))
      .orderBy(col("csim").desc, col("label")).limit(1)
      .collect().head.getAs[Number](0).intValue
    spark.read.parquet(layout.vectors)
      .filter(col("cell") === routed).crossJoin(broadcast(q))
      .select(col("vec_id"), cos(col("emb"), col("qemb")).as("csim"))
      .orderBy(col("csim").desc, col("vec_id")).limit(5)
      .collect().toSeq.map(_.getLong(0))
  }

  private def exactTop5: Seq[Long] = {
    import spark.implicits._
    val q = Seq(Tuple1(vec(queryDeg))).toDF("qemb")
    corpus.crossJoin(broadcast(q))
      .select(col("vec_id"), cos(col("emb"), col("qemb")).as("csim"))
      .orderBy(col("csim").desc, col("vec_id")).limit(5)
      .collect().toSeq.map(_.getLong(0))
  }

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("ivf-retrain-spec").toString

  test("publish versions and atomically repoint _CURRENT; old versions stay readable") {
    val root = freshRoot()
    val v1 = IvfIndex.publish(root, staleCentroids, assigned(staleCentroids))
    assert(v1.vectors.contains("v1"))
    assert(IvfIndex.currentLayout(root).contains(v1))
    val v2 = IvfIndex.publish(root, staleCentroids, assigned(staleCentroids))
    assert(v2.vectors.contains("v2"))
    assert(IvfIndex.currentLayout(root).contains(v2))
    // a reader that resolved v1 before the second publish still reads a
    // complete, consistent layout
    assert(spark.read.parquet(v1.vectors).count() === 18)
    assert(spark.read.parquet(v1.centroids).count() === 2)
  }

  test("publish sweeps stale _CURRENT.tmp* pointers left by a crashed publish") {
    val root = freshRoot()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // simulate a crash between writing the tmp pointer and the atomic
    // move: the orphan would otherwise live forever (vacuumVersions
    // only reclaims v<N> directories). Version 0 ≤ the committed
    // version, so the sweep reclaims it.
    val orphan = java.nio.file.Paths.get(root, "_CURRENT.tmp0")
    java.nio.file.Files.write(orphan, "v0".getBytes("UTF-8"))
    // a HIGHER-version tmp is a concurrent publisher's in-flight
    // pointer — deleting it would crash that publisher's atomic move
    val inflight = java.nio.file.Paths.get(root, "_CURRENT.tmp99")
    java.nio.file.Files.write(inflight, "v99".getBytes("UTF-8"))
    // a SAME-version tmp is a concurrent publisher that read the same
    // committed `_CURRENT` and computed the same next version (here
    // v1) — the sweep is strictly-below-v so it must survive too
    val sameVer = java.nio.file.Paths.get(root, "_CURRENT.tmp1.cafe0123")
    java.nio.file.Files.write(sameVer, "v1".getBytes("UTF-8"))
    val v1 = IvfIndex.publish(root, staleCentroids, assigned(staleCentroids))
    assert(!java.nio.file.Files.exists(orphan))
    assert(java.nio.file.Files.exists(inflight))
    assert(java.nio.file.Files.exists(sameVer))
    // the committed pointer itself survives the sweep
    assert(IvfIndex.currentLayout(root).contains(v1))
  }

  test("below the drift threshold nothing is retrained or written") {
    val root = freshRoot()
    val v1 = IvfIndex.publish(root, staleCentroids, assigned(staleCentroids))
    val (layout, retrained) =
      IvfIndex.maybeRetrain(spark, root, thresholdMicros = Long.MaxValue)
    assert(!retrained)
    assert(layout === v1)
    assert(IvfIndex.currentLayout(root).contains(v1))
  }

  test("zero drift when the stored centroids equal the cell means exactly") {
    import spark.implicits._
    val root = freshRoot()
    // grid means of the two cells are exactly the stored centroids
    val vecs = Seq(
      (1L, 0, Array(1.0, 0.0), 0), (2L, 0, Array(0.8, 0.2), 0),
      (3L, 0, Array(-1.0, 0.0), 1), (4L, 0, Array(-0.8, -0.2), 1))
      .toDF("vec_id", "label", "emb", "cell")
    val cents = Seq((0, Array(0.9, 0.1)), (1, Array(-0.9, -0.1)))
      .toDF("label", "cemb")
    IvfIndex.publish(root, cents, vecs)
    val (_, retrained) = IvfIndex.maybeRetrain(spark, root, thresholdMicros = 0L)
    assert(!retrained)
  }

  test("drifted corpus: retrain re-homes the boundary cluster and probe-1 recall recovers") {
    val root = freshRoot()
    val v1 = IvfIndex.publish(root, staleCentroids, assigned(staleCentroids))
    val truth = exactTop5
    val before = probe1(v1)
    // the boundary split: some true neighbors live across the 22.5°
    // bisector, so the single-cell probe misses them
    assert((truth.toSet -- before.toSet).nonEmpty,
      s"fixture must start degraded: truth=$truth before=$before")
    val (v2, retrained) =
      IvfIndex.maybeRetrain(spark, root, thresholdMicros = 100L)
    assert(retrained)
    assert(v2.vectors.contains("v2"))
    assert(IvfIndex.currentLayout(root).contains(v2))
    // cluster B re-homed into ONE cell → the probe sees every neighbor
    val after = probe1(v2)
    assert(after.toSet === truth.toSet, s"truth=$truth after=$after")
    // the retrain rewrote the routing table, not just the homes
    val oldC = spark.read.parquet(v1.centroids).orderBy("label")
      .collect().map(_.getSeq[Double](1))
    val newC = spark.read.parquet(v2.centroids).orderBy("label")
      .collect().map(_.getSeq[Double](1))
    assert(oldC.toSeq != newC.toSeq)
  }

  test("deleteAndCompact: tombstones vanish, routing holds, probe-1 recall over the remaining corpus is exact") {
    import spark.implicits._
    val root = freshRoot()
    // start from the RETRAINED layout, where probe-1 is exact
    IvfIndex.publish(root, staleCentroids, assigned(staleCentroids))
    val (v2, retrained) = IvfIndex.maybeRetrain(spark, root, 100L)
    assert(retrained)
    val before = probe1(v2)
    assert(before.toSet === exactTop5.toSet)
    // tombstone two of the query's current top-5 (the dedup-removal
    // shape: flagged ids handed to the index lifecycle)
    val dead = Seq(before(0), before(2))
    val v3 = IvfIndex.deleteAndCompact(spark, root,
      dead.toDF("vec_id"))
    assert(v3.vectors.contains("v3"))
    assert(IvfIndex.currentLayout(root).contains(v3))
    // the routing table is carried over UNCHANGED (deletes don't retrain)
    val c2 = spark.read.parquet(v2.centroids).orderBy("label")
      .collect().map(r => (r.getAs[Number](0).intValue, r.getSeq[Double](1)))
    val c3 = spark.read.parquet(v3.centroids).orderBy("label")
      .collect().map(r => (r.getAs[Number](0).intValue, r.getSeq[Double](1)))
    assert(c2.toSeq === c3.toSeq)
    // dead ids are physically gone from the layout
    assert(spark.read.parquet(v3.vectors)
      .filter(col("vec_id").isin(dead: _*)).count() === 0)
    // recall-after-delete, the sim_ann_recall protocol: probe-1 equals
    // the exact top-5 of the REMAINING corpus
    val q = Seq(Tuple1(vec(queryDeg))).toDF("qemb")
    val exactRemaining = corpus.filter(!col("vec_id").isin(dead: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cos(col("emb"), col("qemb")).as("csim"))
      .orderBy(col("csim").desc, col("vec_id")).limit(5)
      .collect().toSeq.map(_.getLong(0))
    val after = probe1(v3)
    assert(after === exactRemaining, s"after=$after exact=$exactRemaining")
    assert(after.toSet.intersect(dead.toSet).isEmpty)
    // vacuum reclaims both retired versions; the compacted one survives
    val vics = IvfIndex.vacuumVersions(root, keepLast = 1)
    assert(vics.size === 2)
    assert(probe1(IvfIndex.currentLayout(root).get) === after)
  }

  test("vacuumVersions keeps the newest keepLast and deletes the rest") {
    val root = freshRoot()
    val v1 = IvfIndex.publish(root, staleCentroids, assigned(staleCentroids))
    val (v2, retrained) = IvfIndex.maybeRetrain(spark, root, 100L)
    assert(retrained)
    val deleted = IvfIndex.vacuumVersions(root, keepLast = 1)
    assert(deleted.size === 1 && deleted.head.endsWith("v1"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(v1.vectors)))
    // the current version is untouched and fully probe-able
    assert(IvfIndex.currentLayout(root).contains(v2))
    assert(probe1(v2).nonEmpty)
    // vacuum on an unpublished root is a no-op
    assert(IvfIndex.vacuumVersions(freshRoot(), 1) === Nil)
  }

  test("deleteAndCompact rewrites only touched cells; untouched cell files carry over") {
    import spark.implicits._
    val root = freshRoot()
    val v1 = IvfIndex.publish(root, staleCentroids, assigned(staleCentroids))
    // pick a tombstone confined to one cell; the OTHER cell must ride
    // along untouched (same part files, hard-linked from v1)
    val homes = spark.read.parquet(v1.vectors).select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).intValue).toMap
    val (deadId, deadCell) = homes.head
    val otherCell = homes.values.find(_ != deadCell).get
    def partFiles(dir: String, cell: Int): Set[String] =
      Option(new java.io.File(s"$dir/cell=$cell").listFiles())
        .getOrElse(Array.empty).map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    val untouchedBefore = partFiles(v1.vectors, otherCell)
    val touchedBefore = partFiles(v1.vectors, deadCell)
    assert(untouchedBefore.nonEmpty && touchedBefore.nonEmpty)
    val v2 = IvfIndex.deleteAndCompact(spark, root, Seq(deadId).toDF("vec_id"))
    // untouched cell: identical file set (carried over, not rewritten)
    assert(partFiles(v2.vectors, otherCell) === untouchedBefore)
    // touched cell: rewritten (fresh task files), dead row gone
    assert(partFiles(v2.vectors, deadCell).intersect(touchedBefore).isEmpty)
    val v2rows = spark.read.parquet(v2.vectors).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!v2rows.contains(deadId))
    assert(v2rows === homes.keySet - deadId)
  }
}
