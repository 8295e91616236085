package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Durable K2: keyed upsert sink over parquet with BUCKETED
  * copy-on-write snapshots — the offline stand-in for the reference's
  * Elasticsearch `_id`-from-key sink (reference README.md:487-493),
  * holding the same contract: at-least-once delivery collapses to
  * exactly-once-per-key visible state.
  *
  * Mechanics: the visible snapshot is partitioned into `numBuckets`
  * hash buckets of the key (`pmod(hash(key), n)`). Each micro-batch
  * merges ONLY the buckets containing batch keys into a new version
  * directory (`v<batchId>/__gbkt=<b>`), then a bucket→path manifest is
  * atomically moved onto `_CURRENT` — untouched buckets keep pointing
  * at their previous files (not rewritten, not even read), readers
  * always see a complete consistent snapshot, a replayed batch id is a
  * no-op, and failures leave the previous manifest intact.
  *
  * This is the Delta/Iceberg merge pattern: cost per micro-batch is
  * O(size of touched buckets), not O(total sink state) — the property
  * that keeps a long-running stream's write amplification flat when
  * the keyed state is 100× the batch. Bucket count is the scale knob:
  * size buckets so one bucket ≈ one comfortable executor write
  * (state / numBuckets ≲ a few hundred MB at the target scale).
  */
/** @param deletedCol when set, a merged row whose latest version has
  *                    this column = 'true' is a deletion: the key
  *                    disappears from the visible snapshot (ksqlDB
  *                    tombstone semantics for a durable table).
  * @param orderCol   when set, ties WITHIN a batch resolve to the
  *                    greatest value of this column (e.g. the Kafka
  *                    offset) — the ES `_id`-sink contract keeps the
  *                    LAST record per key, and without an explicit
  *                    order two same-key rows in one micro-batch would
  *                    pick a shuffle-dependent, replay-unstable winner.
  * @param numBuckets number of hash buckets the snapshot is split into;
  *                    per batch only buckets containing batch keys are
  *                    rewritten.
  * @param retainVersions how many of the most recent version
  *                    directories survive pruning even when no longer
  *                    referenced by the current manifest (≥2 so a
  *                    concurrent reader holding a slightly-stale
  *                    manifest never loses its files mid-query;
  *                    versions still referenced by the current manifest
  *                    are always kept regardless of age, and so are
  *                    versions an in-process [[withSnapshot]] reader
  *                    holds). */
class KeyedParquetSink(spark: SparkSession, root: String, keyCol: String,
                       deletedCol: Option[String] = None,
                       orderCol: Option[String] = None,
                       numBuckets: Int = 16,
                       retainVersions: Int = 3) {
  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
  require(retainVersions >= 2,
    s"retainVersions must be >= 2 (current + grace for lagging readers), got $retainVersions")

  private val rootPath = Paths.get(root).toAbsolutePath.normalize
  Files.createDirectories(rootPath)
  private val pointer = rootPath.resolve("_CURRENT")

  // Writer fencing: two live sinks on one root would race the
  // _CURRENT move last-writer-wins and silently interleave snapshots.
  // Each instance takes the lease at construction by bumping the
  // epoch in _WRITER (so reopening after a crash always works — no
  // stale lock to clean up); the PREVIOUS holder discovers it lost
  // the lease on its next upsert and fails loudly instead of
  // committing onto the new writer's snapshot — the HDFS/ZooKeeper
  // lease-recovery shape, and what Delta's commit check does for the
  // same race.
  private val writerFile = rootPath.resolve("_WRITER")
  private val writerToken = java.util.UUID.randomUUID().toString
  acquireWriterLease()

  private def acquireWriterLease(): Unit = {
    val prevEpoch =
      if (!Files.exists(writerFile)) 0L
      else Files.readString(writerFile).trim.split(':')
        .headOption.flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(0L)
    val tmp = rootPath.resolve(s"_WRITER.tmp$writerToken")
    Files.writeString(tmp, s"${prevEpoch + 1}:$writerToken\n")
    Files.move(tmp, writerFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    assertWriterLease() // confirm this instance won any concurrent race
  }

  /** Throws if another sink instance has taken the writer lease on
    * this root since this instance was constructed. The check-then-move
    * pair is not one atomic primitive, so a loser can slip a publish
    * through the pre-check/move gap — which is why writeManifest ALSO
    * re-checks AFTER its pointer move (the loser dies loudly one step
    * late) and upsert verifies the current manifest still carries this
    * writer's token once it has committed (the winner detects a
    * clobbered pointer instead of merging onto the loser's snapshot);
    * on a real object store the same fence is the conditional-put/ETag
    * (S3) or atomic-rename (HDFS) primitive under the manifest move. */
  private def assertWriterLease(): Unit = {
    val holder =
      if (Files.exists(writerFile)) Files.readString(writerFile).trim else ""
    if (!holder.endsWith(s":$writerToken"))
      throw new java.util.ConcurrentModificationException(
        s"writer fenced out: $rootPath's lease is now held by " +
          s"[${holder}] (this instance: $writerToken) — a newer " +
          "KeyedParquetSink was opened on the same root; stop this one")
  }

  /** Committed snapshot manifest: bucket id → version-relative path
    * (e.g. `v12/__gbkt=3`), plus the schema for empty snapshots, the
    * recent version roots kept for lagging readers, and the bucket
    * count the snapshot was written with. */
  private case class Manifest(batch: Long, schemaDdl: String,
                              recent: Seq[String], buckets: Map[Int, String],
                              writer: String = "")

  private def readManifest(): Option[Manifest] = readManifestAt(pointer)

  private def readManifestAt(file: Path): Option[Manifest] =
    if (!Files.exists(file)) None
    else {
      val lines = Files.readAllLines(file)
      import scala.jdk.CollectionConverters._
      val kv = lines.asScala.filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
      }.toSeq
      val m = kv.toMap
      if (!m.contains("batch"))
        throw new IllegalStateException(
          s"$file is not a bucketed-sink manifest (no 'batch=' entry) — " +
            "this root was written by an incompatible/older sink format; " +
            "point the sink at a fresh root or migrate the snapshot")
      // the bucket count is part of the on-disk layout: reopening with a
      // different count would look up keys in the wrong buckets and
      // silently violate exactly-once-per-key — refuse instead. A
      // manifest WITHOUT the entry predates this check and its layout
      // count is unknowable: refuse that too rather than stamping the
      // constructor's count onto possibly-mismatched data.
      m.get("numBuckets") match {
        case None =>
          throw new IllegalStateException(
            s"$file has no 'numBuckets=' entry (written by an older sink " +
              "version); its bucket layout cannot be validated — point the " +
              "sink at a fresh root or migrate the snapshot")
        case Some(n) if n.toInt != numBuckets =>
          throw new IllegalStateException(
            s"$rootPath was written with numBuckets=$n but the sink was " +
              s"constructed with numBuckets=$numBuckets; reuse the original " +
              "count or rewrite the snapshot into the new bucketing")
        case _ => ()
      }
      Some(Manifest(
        m("batch").toLong,
        m.getOrElse("schema", ""),
        m.get("recent").filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil),
        kv.collect { case (k, v) if k.startsWith("bucket.") =>
          k.stripPrefix("bucket.").toInt -> v
        }.toMap,
        m.getOrElse("writer", "")))
    }

  /** True once THIS instance has committed at least one manifest —
    * after which the visible manifest must keep carrying this
    * instance's writer token (see [[assertWriterLease]]). */
  @volatile private var committedOnce = false

  private def writeManifest(m: Manifest): Unit = {
    assertWriterLease() // last-moment fence: never commit over a newer writer
    val body = new StringBuilder
    body ++= s"batch=${m.batch}\n"
    body ++= s"numBuckets=$numBuckets\n"
    body ++= s"writer=$writerToken\n"
    body ++= s"schema=${m.schemaDdl}\n"
    body ++= s"recent=${m.recent.mkString(",")}\n"
    m.buckets.toSeq.sortBy(_._1).foreach { case (b, p) =>
      body ++= s"bucket.$b=$p\n"
    }
    // 1. immutable per-batch history copy FIRST ([[dfAsOf]]): the
    //    replay guard skips a batch whose id is already in _CURRENT,
    //    so a crash between pointer move and history write would leave
    //    that batch's time-travel manifest permanently unwritable —
    //    publishing history before the pointer closes the window
    //    (manifests are a few hundred bytes; metadata is kept forever,
    //    DATA retention is governed by retainVersions)
    val mdir = rootPath.resolve("_manifests")
    Files.createDirectories(mdir)
    val hist = mdir.resolve(s"m${m.batch}")
    // a history manifest for this batch that ALREADY exists must be
    // ours (our own replay) once this instance has committed: a
    // foreign token means a fenced-out loser published history for a
    // batch we are only now reaching — replacing it would let dfAsOf
    // time-travel onto the loser's snapshot undetected, and the
    // REPLACE below would be the clobber. (A FRESH instance replacing
    // a crashed predecessor's debris is the normal recovery path and
    // stays allowed — same committedOnce gate as upsert's check.)
    if (committedOnce)
      readManifestAt(hist).foreach { prev =>
        if (prev.writer.nonEmpty && prev.writer != writerToken)
          throw new java.util.ConcurrentModificationException(
            s"history manifest $hist carries foreign writer " +
              s"[${prev.writer}] (this instance: $writerToken) — " +
              "concurrent writers raced the batch history; stop this one")
      }
    val mtmp = mdir.resolve(s"m${m.batch}.tmp")
    Files.writeString(mtmp, body.toString)
    Files.move(mtmp, hist,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // fence BETWEEN the history move and the pointer move: a loser that
    // slipped the pre-check gap dies here, after (at worst) writing its
    // own m<batch> but BEFORE clobbering _CURRENT — the history check
    // above keeps even that write off a winner's committed batch
    assertWriterLease()
    // 2. atomic pointer move — the commit
    val tmp = rootPath.resolve(s"_CURRENT.tmp${m.batch}")
    Files.writeString(tmp, body.toString)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // 3. post-publish fence re-check: the pre-check and the move are
    //    not one atomic primitive, so a writer that lost its lease in
    //    the gap has just clobbered the winner's pointer — fail loudly
    //    HERE so the interleave is detected at its source (the winner
    //    additionally detects the foreign token on its next upsert)
    assertWriterLease()
    committedOnce = true
  }

  private def bucketExpr = pmod(hash(col(keyCol)), lit(numBuckets))

  /** Current visible state (None before the first commit). All bucket
    * leaf directories are read directly — no partition discovery, so
    * readers see exactly the data columns. */
  def df: Option[DataFrame] = readManifest().map(snapshot)

  /** Open reader scopes per version directory name ([[withSnapshot]]);
    * also the lock that orders a reader's manifest read against
    * [[prune]]. */
  private val pins = scala.collection.mutable.Map.empty[String, Int]

  /** [[df]] for a reader that executes the frame later: runs `body`
    * over the current snapshot, and no version directory that snapshot
    * names is pruned until `body` returns. Spark resolves a snapshot's
    * files when the frame is built but reads them when it executes, and
    * a commit in between prunes versions the new manifest no longer
    * names. The pin is in-process; a reader in another process relies on
    * the `retainVersions` grace alone. */
  def withSnapshot[T](body: Option[DataFrame] => T): T = {
    val m = pins.synchronized {
      val m = readManifest()
      versionsOf(m).foreach(v => pins(v) = pins.getOrElse(v, 0) + 1)
      m
    }
    try body(m.map(snapshot))
    finally pins.synchronized {
      versionsOf(m).foreach { v =>
        if (pins(v) == 1) pins -= v else pins(v) -= 1
      }
    }
  }

  private def versionsOf(m: Option[Manifest]): Set[String] =
    m.toSeq.flatMap(_.buckets.values.map(_.split('/').head)).toSet

  /** Time travel: the EXACT visible state as of `batchId`'s commit —
    * the reproducibility primitive a training-data pipeline needs
    * ("rebuild precisely the corpus run X trained on"). Manifest
    * METADATA is retained forever (bytes); the underlying version
    * directories obey `retainVersions`, so a snapshot whose buckets
    * reference pruned versions fails loudly (raise retainVersions for
    * deeper data history) instead of returning a silently-wrong mix.
    * Returns None for a batch id that never committed — including the
    * crash window where the history copy landed but the _CURRENT
    * pointer move did not (history publishes FIRST so a committed
    * batch always has its copy): batch ids are monotone, so a batch is
    * committed iff the current pointer has reached it. */
  def dfAsOf(batchId: Long): Option[DataFrame] =
    readManifest().filter(_.batch >= batchId)
      .flatMap(_ =>
        readManifestAt(rootPath.resolve("_manifests").resolve(s"m$batchId")))
      .map { m =>
        val missing = m.buckets.values
          .map(_.split('/').head).toSet
          .filterNot(v => Files.isDirectory(rootPath.resolve(v)))
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"snapshot as of batch $batchId references pruned version " +
              s"director${if (missing.size == 1) "y" else "ies"} " +
              s"${missing.toSeq.sorted.mkString(", ")} — raise " +
              s"retainVersions (currently $retainVersions) to keep deeper " +
              "data history")
        snapshot(m)
      }

  private def snapshot(m: Manifest): DataFrame =
    if (m.buckets.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL(m.schemaDdl))
    else {
      val paths = m.buckets.values.toSeq.sorted.map(rel => rootPath.resolve(rel).toString)
      spark.read.parquet(paths: _*)
    }

  /** Merge a micro-batch: batch rows win over current rows per key;
    * only the hash buckets containing batch keys are read and
    * rewritten. Replay-idempotent: if the manifest already names this
    * batch id, the batch was fully committed before a crash — skip. */
  def upsert(batch: DataFrame, batchId: Long): Unit = {
    assertWriterLease()
    val manifest = readManifest()
    // once this instance has committed, the visible manifest must still
    // be OURS: a foreign writer token here means a fenced-out loser
    // slipped a publish through the lease-check/move gap and clobbered
    // the pointer — refuse to merge onto its snapshot
    if (committedOnce && manifest.exists(m =>
        m.writer.nonEmpty && m.writer != writerToken))
      throw new java.util.ConcurrentModificationException(
        s"$rootPath's manifest was overwritten by writer " +
          s"[${manifest.get.writer}] after this instance " +
          s"[$writerToken] committed — concurrent writers raced the " +
          "pointer; re-open the sink on a consistent snapshot")
    if (manifest.exists(_.batch == batchId)) return
    SinkChecks.requireDeletedCol(batch, deletedCol)

    val tiebreak = orderCol.map(c => col(c).desc).toSeq
    def latestPerKey(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col(keyCol))
        .orderBy(col("__pri").desc +: tiebreak: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__pri", "__rn")
    }

    // the batch lineage is read twice (touched-bucket scan + merge
    // write) — pin it so the upstream micro-batch isn't recomputed,
    // unless the caller already did: then the cache is the caller's
    val ownCache = batch.storageLevel == StorageLevel.NONE
    val pinned = if (ownCache) batch.persist() else batch
    try {
    // which buckets does this batch touch? ≤ numBuckets tiny rows —
    // the one driver-side read, and it carries bucket IDs, not data
    val touched = pinned.select(bucketExpr.as("__gbkt")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) {
      // empty batch: commit the id (and, on a fresh root, the schema —
      // so df is an empty-but-readable snapshot and the batch-0 replay
      // guard engages) without moving any data
      writeManifest(manifest.map(_.copy(batch = batchId)).getOrElse(
        Manifest(batchId, pinned.schema.toDDL, Nil, Map.empty)))
      return
    }

    // current rows of ONLY the touched buckets participate in the merge
    val curTouchedPaths = manifest.toSeq.flatMap(m =>
      touched.toSeq.sorted.flatMap(m.buckets.get)).map(rel => rootPath.resolve(rel).toString)
    val mergedAll =
      if (curTouchedPaths.isEmpty) {
        if (orderCol.isEmpty) pinned.dropDuplicates(keyCol)
        else latestPerKey(pinned.withColumn("__pri", lit(1)))
      } else {
        val cur = spark.read.parquet(curTouchedPaths: _*).withColumn("__pri", lit(0))
        latestPerKey(cur.unionByName(pinned.withColumn("__pri", lit(1))))
      }
    // tombstone semantics: if the key's LATEST version is a delete
    // marker, the key leaves the snapshot (rather than surviving as a
    // marked row); the entry check above guarantees the column exists
    val merged = deletedCol
      .map(c => mergedAll.filter(col(c).isNull || col(c) =!= "true"))
      .getOrElse(mergedAll)

    val versionName = s"v$batchId"
    val target = rootPath.resolve(versionName)
    merged.withColumn("__gbkt", bucketExpr)
      .write.mode("overwrite").partitionBy("__gbkt").parquet(target.toString)

    // buckets that actually materialized (a bucket whose keys all
    // deleted writes no directory and leaves the manifest)
    val written: Map[Int, String] = listDirs(target)
      .flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("__gbkt=")) Some(n.stripPrefix("__gbkt=").toInt -> s"$versionName/$n")
        else None
      }.toMap
    val newBuckets =
      manifest.map(_.buckets).getOrElse(Map.empty[Int, String]) -- touched ++ written
    val schemaDdl = merged.schema.toDDL
    val recent = (versionName +: manifest.map(_.recent).getOrElse(Nil))
      .distinct.take(retainVersions)
    writeManifest(Manifest(batchId, schemaDdl, recent, newBuckets))

    // retention: delete version directories neither referenced by the
    // committed manifest nor among the retainVersions most recent —
    // comparison is on directory NAMES (never interpolated absolute
    // paths), so root spelling can't desynchronize the keep set.
    val live = newBuckets.values.map(_.split('/').head).toSet ++ recent
    prune(live)
    } finally { if (ownCache) pinned.unpersist(blocking = false); () }
  }

  /** Deep-history vacuum: delete every version directory not
    * referenced by the last `keepLast` COMMITTED batch manifests (the
    * `_manifests` history [[dfAsOf]] reads) nor by the current
    * snapshot. The per-upsert `retainVersions` pruning bounds steady-
    * state growth; vacuum is the retention KNOB — run it to reclaim a
    * long-running sink's deep time-travel data on a schedule, or once
    * after lowering the desired history depth. Manifest METADATA is
    * kept forever (a few hundred bytes per batch), so a vacuumed
    * snapshot fails loudly in dfAsOf ("references pruned version …")
    * instead of silently disappearing or mixing epochs.
    *
    * Concurrent-reader safety: a Spark reader resolves a manifest to
    * concrete file paths at PLAN time, so the hazard window is a
    * reader holding paths while vacuum deletes them. Readers of the
    * current snapshot or of any of the last `keepLast` batches keep
    * their files (their version dirs are in the live set — and
    * `keepLast >= 2` guarantees a reader holding a one-behind stale
    * _CURRENT is covered by the history manifests, the same grace
    * argument as `retainVersions >= 2` for the upsert prune; the
    * current manifest's `recent` list is deliberately NOT pinned —
    * it is the steady-state knob's artifact, and everything it
    * protects is protected by those same last-`keepLast` manifests).
    * Deeper time-travel readers race the delete, but the failure mode
    * is a loud missing-file/pruned-version error, never a
    * silently-wrong mix: every surviving bucket directory is only ever
    * read through a manifest that names it explicitly. On an object
    * store the same call maps to delete-after-grace lifecycle rules.
    *
    * Fenced by the writer lease on BOTH sides of the deletes, and by
    * the batch-monotone guard in between: only versions OLDER than the
    * newest kept one are ever deleted, so a fencing winner's in-flight
    * (not-yet-committed, hence unreferenced) newer version can never
    * land in this instance's delete set even if the lease is stolen
    * between the entry assertion and the delete — the lease checks
    * catch the theft loudly, the monotone guard makes the race
    * harmless rather than merely detected.
    *
    * @return names of the version directories deleted */
  def vacuum(keepLast: Int): Seq[String] = {
    require(keepLast >= 2,
      s"keepLast must be >= 2 (current + grace for lagging readers), got $keepLast")
    assertWriterLease()
    val mdir = rootPath.resolve("_manifests")
    val keptBatches = listDirs(mdir)
      .map(_.getFileName.toString)
      .filter(_.matches("m\\d+"))
      .map(_.stripPrefix("m").toLong)
      .sorted.takeRight(keepLast)
    val histLive = keptBatches.flatMap(b =>
        readManifestAt(mdir.resolve(s"m$b")).toSeq.flatMap(_.buckets.values))
      .map(_.split('/').head).toSet
    val victims = prune(histLive ++ versionsOf(readManifest()))
    assertWriterLease()
    victims.sorted
  }

  /** Batch-monotone delete guard: an unreferenced version NEWER than
    * the newest kept one is not reclaimable history — it is (or may
    * be) a fencing winner's in-flight, not-yet-committed write, which
    * no lease check on THIS instance can rule out (the lease can be
    * stolen between the entry assertion and the delete). Version names
    * are batch-monotone, so "older than everything kept" is a safe,
    * purely name-local test; newer leftovers from a crashed writer are
    * reclaimed later, once a newer batch commits past them. With
    * nothing kept, nothing is deleted. */
  private def reclaimable(name: String, keep: Set[String]): Boolean = {
    val keepMax = keep.flatMap(_.drop(1).toLongOption)
      .reduceOption(_ max _)
    val n = name.drop(1).toLongOption
    (keepMax, n) match {
      case (Some(mx), Some(v)) => v < mx
      case _ => false
    }
  }

  private def listDirs(dir: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(dir)) Nil
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala.toSeq finally stream.close()
    }
  }

  /** Deletes every reclaimable version directory outside `keepNames`
    * that no [[withSnapshot]] reader has pinned; returns their names. */
  private def prune(keepNames: Set[String]): Seq[String] = pins.synchronized {
    val victims = listDirs(rootPath)
      .filter(p => p.getFileName.toString.startsWith("v") && Files.isDirectory(p))
      .filterNot(p => keepNames.contains(p.getFileName.toString))
      .filterNot(p => pins.contains(p.getFileName.toString))
      .filter(p => reclaimable(p.getFileName.toString, keepNames))
    victims.foreach { dir =>
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
    victims.map(_.getFileName.toString)
  }
}

/** Contract checks shared by the keyed sinks ([[KeyedParquetSink]],
  * [[BulkUpsertSink]]) — one definition, one error message. */
private[streaming] object SinkChecks {

  /** A configured delete marker the batch doesn't carry would silently
    * ship deletions as ordinary rows — fail loudly instead. */
  def requireDeletedCol(batch: DataFrame, deletedCol: Option[String]): Unit =
    deletedCol.filterNot(batch.schema.fieldNames.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"sink configured with deletedCol='$c' but the batch schema is " +
          s"[${batch.schema.fieldNames.mkString(", ")}] — project the marker " +
          "column or drop the deletedCol setting")
    }
}
