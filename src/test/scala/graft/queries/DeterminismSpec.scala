package graft.queries

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The sampling/mixing/shuffling/packing operators all claim the same
  * property: their output is a PURE FUNCTION of the rows — identical
  * across runs, partitioning, and cluster layout (what `sample()`,
  * `rand()`, `spark_partition_id()`, and `monotonically_increasing_id`
  * are NOT). That property is the whole reason a 100 TB corpus rebuild
  * is reproducible, so it gets its own pin: each operator must return
  * the exact same multiset when the session re-plans with a different
  * shuffle-partition count. (Single-run determinism — e.g. the
  * exchange-reuse hazard in the old range-partitioned shard packer —
  * is covered by CurationPackSpec's equivalence to the naive window.)
  */
class DeterminismSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, old)
  }

  for (q <- Seq("curate_stratified_sample", "curate_mix_sources",
                "curate_train_order", "curate_pack_shards",
                "curate_pack_overflow", "dedup_minhash_lsh",
                "text_fingerprint",
                // round-6 reproducibility-critical additions: the cap's
                // md5 draw, the delta's continuation offsets, chunk
                // geometry, the manifest's per-shard content hashes,
                // span-dedup counts, and the per-event session/epoch
                // numbering must all survive a re-plan unchanged
                "curate_cap_sources", "curate_corpus_delta",
                "curate_chunk_docs", "curate_shard_manifest",
                "curate_epoch_plan", "dedup_repeated_spans",
                "q_sessionize", "curate_temperature_mix",
                // round 10: the semantic dedup's centroid assignment
                // (rounded-cosine argmax with label tie-break) must not
                // move with partitioning, or clusters — and thus dup
                // flags — would differ run to run
                "dedup_semantic",
                // round 10 second half: the z-order code (claimed a
                // pure row function — zero-coordination rebuilds), the
                // BPE trainer (argmax winners must not move with the
                // pair-count partitioning), and the classifier (hash
                // buckets + integer sums)
                "curate_zorder_layout", "text_bpe_train",
                "text_classifier_score", "sim_threshold_sweep",
                // round 17: the DSIR draw (md5-u32 vs a score-derived
                // ladder) and both tuner sweeps (measured-similarity /
                // measured-recall aggregates + a min-config election)
                // are reproducibility-critical serving configs
                "curate_importance_sample", "dedup_lsh_autotune",
                "sim_ann_autoprobe",
                // round 18: the external-target DSIR draw and the
                // component-keyed split assignment (leakage-auditing
                // flags included) are likewise rebuild-critical
                "curate_importance_target", "curate_leakage_split",
                "mm_crossmodal_autoprobe"))
    test(s"$q is identical under different shuffle partitioning") {
      val base = Catalog.queries(q)(spark, sf)
      val schema = base.schema
      val baseRows = base.collect()
      // COLLECT inside the conf block: shuffle.partitions is read at
      // action time, so a lazily-returned DataFrame evaluated after the
      // finally would silently run under the restored conf and the test
      // would compare a 4-partition run against itself
      val otherRows = withShufflePartitions(7) {
        Catalog.queries(q)(spark, sf).collect()
      }
      val baseDf = spark.createDataFrame(
        spark.sparkContext.parallelize(baseRows.toSeq), schema)
      val otherDf = spark.createDataFrame(
        spark.sparkContext.parallelize(otherRows.toSeq), schema)
      assert(sameRows(baseDf, otherDf),
        s"$q changed rows when shuffle partitioning changed")
    }

  test("the float-sqrt-then-correct integer sqrt is exact (isqrt fuzz)") {
    // curate_neyman_alloc computes w = isqrt(vnum) as
    // floor(sqrt(double)) +- integer-comparison corrections; that must
    // equal the true integer sqrt for ANY vnum both engines can hold,
    // whatever the platform's sqrt rounding. Fuzz around the hard
    // spots: perfect squares and their +-1 neighbors, huge values
    // where the double grid is >1 apart, and random longs.
    val rnd = new scala.util.Random(140501)
    def spelled(v: Long): Long = {
      val s0 = math.floor(math.sqrt(v.toDouble)).toLong
      s0 + (if ((s0 + 1) * (s0 + 1) <= v) 1L else 0L) -
        (if (s0 * s0 > v) 1L else 0L)
    }
    def isqrt(v: Long): Long = {
      val r = math.sqrt(v.toDouble).toLong
      Seq(r - 2, r - 1, r, r + 1, r + 2)
        .filter(x => x >= 0 && x * x <= v && x <= 3037000499L).max
    }
    val cases = Seq(0L, 1L, 2L, 3L, 4L) ++
      (1 to 2000).map(_ => { val r = rnd.nextLong(3037000499L); r * r }) ++
      (1 to 2000).map(_ => { val r = rnd.nextLong(3037000499L); r * r - 1 })
        .filter(_ >= 0) ++
      (1 to 2000).map(_ => { val r = rnd.nextLong(3037000499L); r * r + 1 }) ++
      (1 to 2000).map(_ => rnd.nextLong(Long.MaxValue))
    cases.foreach { v =>
      assert(spelled(v) == isqrt(v), s"isqrt mismatch at $v")
    }
  }
}
