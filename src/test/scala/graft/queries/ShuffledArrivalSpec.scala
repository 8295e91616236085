package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream

/** Order-independence gate for every stream consumer of the claim-log
  * registries (r16 verdict #1 "done" criterion): a MULTI-FILE fixture
  * whose part files interleave doc_ids (residue classes mod 4,
  * md5-scrambled within each file), delivered ONE FILE PER
  * MICRO-BATCH — so arrival order is radically non-monotone in doc_id
  * across batches — must produce byte-identical results to the batch
  * min-doc_id owner election. Before the claim-log redesign every one
  * of these five queries matched its oracle only under doc_id-ordered
  * single-file arrival. */
class ShuffledArrivalSpec extends AnyFunSuite with SharedSpark {

  private var dir: String = _

  override def beforeAll(): Unit = {
    dir = FiniteStream.scratchDir("shuffled-fixture-")
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // 4 part files, each holding one doc_id residue class (so every
    // file spans the whole id range) scrambled internally by md5 —
    // any file order + any in-file order is non-monotone in doc_id
    docs.repartitionByRange(4, pmod(col("doc_id"), lit(4)))
      .sortWithinPartitions(md5(col("doc_id").cast("string")))
      .write.parquet(s"$dir/documents.parquet")
    // one file per micro-batch: true cross-batch out-of-order arrival
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
  }

  override def afterAll(): Unit = {
    spark.conf.unset("graft.stream.maxFilesPerTrigger")
    FiniteStream.deleteRecursively(dir)
    super.afterAll()
  }

  /** Batch min-owner election over a (doc_id, band-ish, sig-ish) band
    * relation — the oracle spelling each stream twin must match. */
  private def batchElection(bands: DataFrame, bandCol: String,
                            sigCol: String): Set[Seq[Any]] = {
    val owners = bands.groupBy(col(bandCol), col(sigCol))
      .agg(min(col("doc_id")).as("min_id"))
    bands.join(owners, Seq(bandCol, sigCol))
      .filter(col("doc_id") > col("min_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_dup_bands"))
      .collect().map(_.toSeq).toSet
  }

  private def docsBatch: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  test("fixture really is multi-file and doc_id-shuffled") {
    val files = new java.io.File(s"$dir/documents.parquet")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, files.mkString(","))
    // at least one file must be internally non-monotone in doc_id
    val nonMonotone = files.exists { f =>
      val ids = spark.read.parquet(f.getPath)
        .select("doc_id").collect().map(_.getLong(0))
      ids.zip(ids.tail).exists { case (a, b) => a > b }
    }
    assert(nonMonotone, "shuffle produced sorted files — fixture is too weak")
  }

  test("stream_neardup matches the batch election under shuffled arrival") {
    val streamed = StreamingQueries.streamNeardup(spark, dir)
      .collect().map(_.toSeq).toSet
    val expected = batchElection(DedupQueries.bandRows(docsBatch),
      "band", "sig")
    assert(streamed == expected)
    assert(streamed.nonEmpty, "fixture produced no near-duplicates")
  }

  test("stream_mm_phash matches the batch election under shuffled arrival") {
    val streamed = MultimodalQueries.streamPhashNearDup(spark, dir)
      .collect().map(_.toSeq).toSet
    val expected = batchElection(
      MultimodalQueries.phashBands(docsBatch)
        .filter(col("band_val") =!= 0L), "band_no", "band_val")
    assert(streamed == expected)
    assert(streamed.nonEmpty, "fixture produced no phash near-duplicates")
  }

  test("stream_mm_audio_fp matches the batch election under shuffled arrival") {
    val streamed = MultimodalQueries.streamAudioFp(spark, dir)
      .collect().map(_.toSeq).toSet
    val expected = batchElection(
      MultimodalQueries.audioFpBands(docsBatch)
        .filter(col("band_val") =!= 0L), "band_no", "band_val")
    assert(streamed == expected)
  }

  test("stream_mm_video matches the batch election under shuffled arrival") {
    val streamed = MultimodalQueries.streamVideoFp(spark, dir)
      .collect().map(_.toSeq).toSet
    val expected = batchElection(
      MultimodalQueries.videoFpBands(docsBatch)
        .filter(col("band_val") =!= 0L), "band_no", "band_val")
    assert(streamed == expected)
  }

  test("stream_mm_pair matches the batch election under shuffled arrival") {
    val streamed = MultimodalQueries.streamPairNearDup(spark, dir)
      .collect().map(_.toSeq).toSet
    val expected = batchElection(
      MultimodalQueries.pairBands(
        MultimodalQueries.textSimhashBands(docsBatch),
        MultimodalQueries.phashBands(docsBatch))
        .filter(col("band_val") =!= 0L), "band_no", "band_val")
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("stream_cross_source equals the batch matrix under shuffled arrival") {
    // the seventh registry consumer (r17 verdict #6): the shingle-
    // keyed claim log must reconstruct the exact ngramJaccard pair
    // relation — and thus the same (canonical, dup) source counts —
    // under file-at-a-time, doc_id-shuffled delivery
    val streamed = StreamingQueries.streamCrossSource(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = DedupQueries.crossSourceMatrix(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream_containment equals the batch gate under shuffled arrival") {
    val streamed = StreamingQueries.streamContainment(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = DedupQueries.containment(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream_excise_repeated equals the batch excision under shuffled arrival") {
    val streamed = CurationQueries.streamExciseRepeated(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = CurationQueries.exciseRepeated(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream_cross_source_banded equals its banded batch relation under shuffled arrival") {
    // the ninth registry consumer (r18 verdict #1): the MinHash-banded
    // registry's drained log must reproduce the batch LSH candidate
    // relation — and thus the banded matrix — under file-at-a-time,
    // doc_id-shuffled delivery
    val streamed = StreamingQueries.streamCrossSourceBanded(spark, dir)
      .collect().map(_.toSeq).toSet
    val docs = docsBatch
    val batch = DedupQueries.jaccardPairs(
        docs.select(col("doc_id"), col("text")),
        candidates = Some(DedupQueries.minhashLshOver(docs)),
        threshold = 0.8)
      .join(docs.select(col("doc_id").as("doc_a"),
        col("source").as("src_canonical")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"),
        col("source").as("src_dup")), Seq("doc_b"))
      .groupBy(col("src_canonical"), col("src_dup"))
      .agg(count(lit(1)).as("n_pairs"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream_incremental_containment equals the batch gate under shuffled arrival") {
    // no registry here — order independence must come from the stored
    // at-rest index plus the pair-keyed idempotent upsert alone
    val streamed = StreamingQueries
      .streamIncrementalContainment(spark, dir)
      .collect().map(_.toSeq).toSet
    val docs = docsBatch
    val batch = DedupQueries.incrementalContainmentAgainst(
        docs.filter(col("doc_id") % 10 === 9),
        DedupQueries.restIndexOf(docs.filter(col("doc_id") % 10 =!= 9)))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture produced no containment rejections")
  }

  test("stream_index_delete equals the rebuilt-index gate under shuffled arrival") {
    // takedown twin: tombstone masking happens per micro-batch on the
    // stored index, so shuffled delta arrival must still reproduce the
    // batch rebuild over the surviving corpus
    val streamed = StreamingQueries.streamIndexDelete(spark, dir)
      .select(col("doc_id"), col("dup_of")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = docsBatch
    val batch = DedupQueries.incrementalOver(
        docs.filter(col("doc_id") % 10 === 9),
        docs.filter(col("doc_id") % 10 =!= 9 && col("doc_id") % 10 =!= 7))
      .select(col("doc_id"), col("dup_of")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("banded registry state cardinality is O(docs x bands), orders below the shingle-keyed twin") {
    // the state-footprint contrast (r18 verdict #1 done-criterion):
    // the exact twin keys one state tuple per DISTINCT CORPUS SHINGLE;
    // the banded twin one per distinct MinHash (band, sig) bucket —
    // hard-bounded by 4 x docs regardless of document length
    val docs = docsBatch
    val nDocs = docs.count()
    val shingleKeys = graft.functions.TextShingles
      .shingleHashSet(docs, "doc_id", "text", 5)
      .select("sh").distinct().count()
    val bandKeys = DedupQueries.bandRows(docs)
      .select("band", "sig").distinct().count()
    assert(bandKeys <= 4 * nDocs,
      s"banded keys $bandKeys exceed the 4x$nDocs bound")
    assert(bandKeys * 10 < shingleKeys,
      s"expected >=10x contrast: banded $bandKeys vs shingle $shingleKeys")
  }
}
