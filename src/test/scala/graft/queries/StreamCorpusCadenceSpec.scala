package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream

/** The re-pack cadence of the streaming corpus build — the production
  * amortization the per-batch design documents, made real: with
  * `repackEvery = N`, the O(staged) re-election + re-pack runs once
  * per N staged batches plus one drain-time publish, and the FINAL
  * corpus is identical to both the every-batch configuration and the
  * one-shot batch build. Delivery is forced to multiple micro-batches
  * by splitting the fixture into several files and capping
  * maxFilesPerTrigger at 1. */
class StreamCorpusCadenceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("repack cadence: every-N packing publishes the same corpus as every-batch and batch") {
    // the same documents, split across 4 files → 4 micro-batches at
    // maxFilesPerTrigger=1
    val splitDir = Files.createTempDirectory("scb-cadence-in").toString
    try {
      spark.read.parquet(s"$sf/documents.parquet")
        .repartition(4).write.mode("overwrite").parquet(splitDir)
      val nFiles = new java.io.File(splitDir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(nFiles == 4, s"expected 4 split files, got $nFiles")
      val batch = Catalog.queries("curate_corpus_build")(spark, sf)
        .collect().toSet
      // cadence 3 over 4 batches: packs after batch id 2, plus the
      // drain-time publish = 2 re-packs (vs 4 for every-batch)
      val (cadenced, packs) = StreamingQueries.streamCorpusBuildOver(
        spark, schemaFrom = s"$sf/documents.parquet",
        glob = s"$splitDir/*.parquet", repackEvery = 3,
        maxFilesPerTrigger = Some(1))
      assert(packs == 2, s"cadence-3 over 4 batches should pack twice, got $packs")
      assert(cadenced.collect().toSet == batch)
      // every-batch over the same split input: 4 packs, no extra
      // drain-time pass, same corpus
      val (everyBatch, packsEvery) = StreamingQueries.streamCorpusBuildOver(
        spark, schemaFrom = s"$sf/documents.parquet",
        glob = s"$splitDir/*.parquet", repackEvery = 1,
        maxFilesPerTrigger = Some(1))
      assert(packsEvery == 4, s"every-batch over 4 batches should pack 4 times, got $packsEvery")
      assert(everyBatch.collect().toSet == batch)
    } finally FiniteStream.deleteRecursively(splitDir)
  }
}
