package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The durable keyed-upsert contract: per-key latest visible state,
  * idempotent under batch replay, snapshot readers never see partial
  * writes. */
class KeyedParquetSinkSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  test("streamed upserts produce latest-per-key durable state; replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("graft-kps-").toString
    val sink = new KeyedParquetSink(spark, root, "k")
    val feed = MemoryStream[(String, String)]
    val q = feed.toDF().toDF("k", "v").writeStream
      .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
      .start()
    try {
      feed.addData(("a", "v1"), ("b", "w1"))
      q.processAllAvailable()
      feed.addData(("a", "v2"), ("c", "x1"))
      q.processAllAvailable()
      val got = sink.df.get.as[(String, String)].collect().toMap
      assert(got == Map("a" -> "v2", "b" -> "w1", "c" -> "x1"))

      // redelivery of the same logical batch (at-least-once): same state
      sink.upsert(Seq(("a", "v2"), ("c", "x1")).toDF("k", "v"), 1L)
      val replayed = sink.df.get.as[(String, String)].collect().toMap
      assert(replayed == got)
    } finally q.stop()
  }

  test("time travel: dfAsOf reproduces each committed batch's exact snapshot") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-tt-").toString
    val sink = new KeyedParquetSink(spark, root, "k")
    sink.upsert(Seq(("a", "v1"), ("b", "w1")).toDF("k", "v"), 0L)
    sink.upsert(Seq(("a", "v2")).toDF("k", "v"), 1L)
    sink.upsert(Seq(("c", "x1")).toDF("k", "v"), 2L)
    def at(id: Long) =
      sink.dfAsOf(id).get.as[(String, String)].collect().toMap
    assert(at(0) == Map("a" -> "v1", "b" -> "w1"))
    assert(at(1) == Map("a" -> "v2", "b" -> "w1"))
    assert(at(2) == Map("a" -> "v2", "b" -> "w1", "c" -> "x1"))
    assert(at(2) == sink.df.get.as[(String, String)].collect().toMap)
    assert(sink.dfAsOf(99).isEmpty) // never committed
    // crash-window guard: a history manifest whose batch the _CURRENT
    // pointer never reached (history publishes first; the crash hit
    // between the two moves) must read as never-committed, not as a
    // dirty snapshot of the uncommitted batch
    val orphan = java.nio.file.Paths.get(root, "_manifests", "m7")
    Files.copy(java.nio.file.Paths.get(root, "_manifests", "m2"), orphan)
    val body = Files.readString(orphan).replace("batch=2", "batch=7")
    Files.writeString(orphan, body)
    assert(sink.dfAsOf(7).isEmpty,
      "dfAsOf served a history manifest ahead of the committed pointer")
  }

  test("time travel past the data-retention window fails loudly, never silently wrong") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-ttp-").toString
    // one bucket → every batch rewrites it; retainVersions=2 keeps only
    // the last two version directories alive
    val sink = new KeyedParquetSink(spark, root, "k",
      numBuckets = 1, retainVersions = 2)
    (0L to 3L).foreach(i =>
      sink.upsert(Seq(("a", s"v$i")).toDF("k", "v"), i))
    // recent history still materializes
    assert(sink.dfAsOf(3).get.as[(String, String)].collect().toMap ==
      Map("a" -> "v3"))
    // batch 0's version dir is pruned: the metadata survives but the
    // data read must refuse, naming the pruned version and the knob
    val e = intercept[IllegalStateException] { sink.dfAsOf(0) }
    assert(e.getMessage.contains("v0") &&
      e.getMessage.contains("retainVersions"), e.getMessage)
  }

  test("a newer writer on the same root fences the older one: its next upsert throws") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-fence-").toString
    val first = new KeyedParquetSink(spark, root, "k")
    first.upsert(Seq(("a", "v1")).toDF("k", "v"), 0L)
    // a second instance takes the writer lease (the crash-restart
    // path: reopening always succeeds, no stale lock to clean)
    val second = new KeyedParquetSink(spark, root, "k")
    second.upsert(Seq(("a", "v2")).toDF("k", "v"), 1L)
    // the old writer must fail LOUDLY, not last-writer-wins the pointer
    val e = intercept[java.util.ConcurrentModificationException] {
      first.upsert(Seq(("a", "stale")).toDF("k", "v"), 1L)
    }
    assert(e.getMessage.contains("fenced"))
    // the surviving snapshot is the new writer's, untouched by the loser
    assert(second.df.get.as[(String, String)].collect().toMap ==
      Map("a" -> "v2"))
  }

  test("reopening a root with a different numBuckets is refused, not silently corrupted") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-nb-").toString
    new KeyedParquetSink(spark, root, "k", numBuckets = 16)
      .upsert(Seq(("a", "v1")).toDF("k", "v"), 0L)
    val e = intercept[IllegalStateException] {
      new KeyedParquetSink(spark, root, "k", numBuckets = 8).df
    }
    assert(e.getMessage.contains("numBuckets=16") &&
      e.getMessage.contains("numBuckets=8"))
  }

  test("a non-manifest _CURRENT (older sink format) fails with a clear error") {
    val root = Files.createTempDirectory("graft-kps-legacy-")
    Files.writeString(root.resolve("_CURRENT"), s"$root/v5\n")
    val e = intercept[IllegalStateException] {
      new KeyedParquetSink(spark, root.toString, "k").df
    }
    assert(e.getMessage.contains("incompatible"))
  }

  test("a manifest without numBuckets (pre-validation format) is refused, not stamped over") {
    val root = Files.createTempDirectory("graft-kps-nonb-")
    // shape of the first bucketed format: batch/schema lines but no
    // numBuckets entry — its layout count is unknowable
    Files.writeString(root.resolve("_CURRENT"),
      "batch=3\nschema=k STRING,v STRING\nrecent=v3\nbucket.0=v3/__gbkt=0\n")
    val e = intercept[IllegalStateException] {
      new KeyedParquetSink(spark, root.toString, "k").df
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("empty first batch commits id + schema: snapshot is empty-but-readable, replay guarded") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-empty-").toString
    val sink = new KeyedParquetSink(spark, root, "k")
    sink.upsert(Seq.empty[(String, String)].toDF("k", "v"), 0L)
    val snap = sink.df
    assert(snap.isDefined && snap.get.count() == 0 &&
      snap.get.columns.toSeq == Seq("k", "v"))
    // batch 0 is committed: its replay is a no-op even with data now
    sink.upsert(Seq(("a", "late")).toDF("k", "v"), 0L)
    assert(sink.df.get.count() == 0)
    sink.upsert(Seq(("a", "v1")).toDF("k", "v"), 1L)
    assert(sink.df.get.as[(String, String)].collect().toMap == Map("a" -> "v1"))
  }

  test("configured deletedCol missing from the batch fails loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-delcol-").toString
    val sink = new KeyedParquetSink(spark, root, "k",
      deletedCol = Some("__deleted"))
    val e = intercept[IllegalArgumentException] {
      sink.upsert(Seq(("a", "v1")).toDF("k", "v"), 0L)
    }
    assert(e.getMessage.contains("__deleted"))
  }

  /** The incremental-merge contract: a micro-batch rewrites ONLY the
    * hash buckets its keys fall into — untouched buckets' parquet files
    * stay byte-identical (same paths, same bytes), so write
    * amplification is O(touched buckets), not O(total sink state). */
  test("upsert rewrites only touched buckets; untouched bucket files are byte-identical") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-bkt-").toString
    val sink = new KeyedParquetSink(spark, root, "k", numBuckets = 8)
    // 64 keys spread over all 8 buckets
    val keys = (0 until 64).map(i => s"key$i")
    sink.upsert(keys.map(k => (k, "v0")).toDF("k", "v"), 0L)

    def bucketFiles(): Map[String, Seq[(String, Long, Array[Byte])]] = {
      import scala.jdk.CollectionConverters._
      val manifest = Files.readAllLines(java.nio.file.Paths.get(root, "_CURRENT"))
        .asScala.filter(_.startsWith("bucket."))
        .map { l => val Array(b, p) = l.split("=", 2); (b.stripPrefix("bucket."), p) }
      manifest.map { case (b, rel) =>
        val dir = java.nio.file.Paths.get(root).resolve(rel)
        val files = Files.walk(dir).iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.toString)
          .map(p => (p.toString, Files.size(p), Files.readAllBytes(p)))
        b -> files
      }.toMap
    }

    val before = bucketFiles()
    assert(before.size == 8, s"expected 8 populated buckets, got ${before.size}")

    // touch exactly one key → exactly one bucket
    sink.upsert(Seq(("key0", "v1")).toDF("k", "v"), 1L)
    val after = bucketFiles()
    assert(after.size == 8)

    val touched = after.filter { case (b, fs) => before(b).map(_._1) != fs.map(_._1) }
    assert(touched.size == 1,
      s"exactly one bucket should be rewritten, got ${touched.keys}")
    // all other buckets: identical file paths AND identical bytes
    (after.keySet - touched.keys.head).foreach { b =>
      val (bf, af) = (before(b), after(b))
      assert(bf.map(_._1) == af.map(_._1), s"bucket $b file set changed")
      bf.zip(af).foreach { case ((p, sz, bytes), (_, sz2, bytes2)) =>
        assert(sz == sz2 && java.util.Arrays.equals(bytes, bytes2),
          s"bucket $b file $p was rewritten")
      }
    }
    // and the merged state is still right
    val got = sink.df.get.as[(String, String)].collect().toMap
    assert(got("key0") == "v1" && got("key1") == "v0" && got.size == 64)
  }

  test("tombstone deletes its key; a bucket emptied of keys leaves the manifest") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-del-").toString
    val sink = new KeyedParquetSink(spark, root, "k",
      deletedCol = Some("__deleted"), numBuckets = 4)
    sink.upsert(Seq(("a", "v1", null.asInstanceOf[String])).toDF("k", "v", "__deleted"), 0L)
    assert(sink.df.get.count() == 1)
    sink.upsert(Seq(("a", "v1", "true")).toDF("k", "v", "__deleted"), 1L)
    // key gone, snapshot readable (empty, schema preserved)
    val cur = sink.df.get
    assert(cur.count() == 0)
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v", "__deleted"))
  }

  test("vacuum reclaims deep history: last-N time travel survives, older version dirs are deleted") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-vac-").toString
    // high retainVersions = the deep-history configuration vacuum is
    // for; every batch rewrites the single bucket, so each version dir
    // is live only through its own manifest
    val sink = new KeyedParquetSink(spark, root, "k",
      numBuckets = 1, retainVersions = 10)
    (0L to 5L).foreach(i =>
      sink.upsert(Seq(("a", s"v$i")).toDF("k", "v"), i))
    import scala.jdk.CollectionConverters._
    def versionDirs(): Set[String] =
      Files.list(java.nio.file.Paths.get(root)).iterator().asScala
        .map(_.getFileName.toString).filter(_.matches("v\\d+")).toSet
    assert(versionDirs() == (0 to 5).map(i => s"v$i").toSet)

    val deleted = sink.vacuum(keepLast = 3)
    // the last 3 manifests (m3,m4,m5) keep their versions; the
    // current manifest's recent list also pins v5..; v0-v2 go
    assert(deleted.toSet == Set("v0", "v1", "v2"), deleted)
    assert(versionDirs() == Set("v3", "v4", "v5"), versionDirs())
    // time travel within retention still reproduces exact snapshots
    assert(sink.dfAsOf(4).get.as[(String, String)].collect().toMap ==
      Map("a" -> "v4"))
    assert(sink.df.get.as[(String, String)].collect().toMap ==
      Map("a" -> "v5"))
    // beyond retention: metadata survives, the data read refuses loudly
    val e = intercept[IllegalStateException] { sink.dfAsOf(1) }
    assert(e.getMessage.contains("v1") &&
      e.getMessage.contains("retainVersions"), e.getMessage)
    // vacuum is fenced: a newer writer on the root makes it throw
    new KeyedParquetSink(spark, root, "k", numBuckets = 1,
      retainVersions = 10)
    val fenced = intercept[java.util.ConcurrentModificationException] {
      sink.vacuum(keepLast = 2)
    }
    assert(fenced.getMessage.contains("fenced"))
  }

  test("vacuum never touches an unreferenced version NEWER than the kept set (in-flight write protection)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-vacnew-").toString
    val sink = new KeyedParquetSink(spark, root, "k",
      numBuckets = 1, retainVersions = 10)
    (0L to 4L).foreach(i =>
      sink.upsert(Seq(("a", s"v$i")).toDF("k", "v"), i))
    // simulate a fencing winner's in-flight batch: a version directory
    // newer than anything committed, referenced by NO manifest yet —
    // exactly what a concurrent writer's half-written upsert looks like
    val inflight = java.nio.file.Paths.get(root, "v9", "b0")
    Files.createDirectories(inflight)
    Files.write(inflight.resolve("part-inflight.parquet"), Array[Byte](1))
    val deleted = sink.vacuum(keepLast = 2)
    assert(deleted.toSet == Set("v0", "v1", "v2"), deleted)
    // the monotone guard kept the newer unreferenced dir intact
    assert(Files.exists(inflight.resolve("part-inflight.parquet")))
  }

  test("old versions are pruned but the retention window keeps lagging readers alive") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-ret-").toString
    val sink = new KeyedParquetSink(spark, root, "k", numBuckets = 2,
      retainVersions = 3)
    // one key upserted repeatedly: every version rewrites the same
    // bucket, so only the newest is referenced and the rest age out
    (0 until 6).foreach(i => sink.upsert(Seq(("k", s"v$i")).toDF("k", "v"), i.toLong))
    import scala.jdk.CollectionConverters._
    val versions = Files.list(java.nio.file.Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v")).toSet
    // live = referenced by manifest ∪ 3 most recent (v5,v4,v3)
    assert(versions == Set("v3", "v4", "v5"), s"got $versions")
    assert(sink.df.get.as[(String, String)].collect().toSeq == Seq(("k", "v5")))
  }

  test("a resolved snapshot stays readable while later commits prune past it") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kps-pin-").toString
    val retain = 3
    val sink = new KeyedParquetSink(spark, root, "k", numBuckets = 1,
      retainVersions = retain)
    sink.upsert(Seq(("k", "v0")).toDF("k", "v"), 0L)
    // the frame's files are resolved now and read only at collect(),
    // after retain + 1 commits have rewritten the one bucket: without
    // the reader pin, v0 is pruned in between and the read fails with
    // FAILED_READ_FILE.FILE_NOT_EXIST
    val got = sink.withSnapshot { snap =>
      (1 to retain + 1).foreach(i =>
        sink.upsert(Seq(("k", s"v$i")).toDF("k", "v"), i.toLong))
      snap.get.as[(String, String)].collect().toSeq
    }
    assert(got == Seq(("k", "v0")))
    // the pin ends with the scope: the next commit reclaims v0
    sink.upsert(Seq(("k", "last")).toDF("k", "v"), retain + 2L)
    assert(!Files.exists(java.nio.file.Paths.get(root, "v0")))
    assert(sink.df.get.as[(String, String)].collect().toSeq == Seq(("k", "last")))
  }
}
