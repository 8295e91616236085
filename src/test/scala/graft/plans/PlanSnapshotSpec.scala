package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** EXPLAIN-diff regression guard over the most expensive catalog
  * queries: each query's STATIC physical plan (AQE off — the
  * deterministic pre-runtime shape) is reduced to a signature of the
  * scale-relevant node counts, and the committed snapshot below pins
  * an upper bound. A refactor that silently adds a shuffle, degrades a
  * broadcast join to sort-merge, or introduces a nested-loop/cartesian
  * product fails HERE, mechanically, instead of surfacing as a bench
  * regression two rounds later.
  *
  * Bounds are UPPER bounds (fewer shuffles than pinned is an
  * improvement, not a failure); CartesianProduct is globally forbidden.
  * To regenerate after an intentional plan change, run with
  * SPARK_GRAFT_PLAN_REGEN=1 — the suite prints the current snapshot
  * literal instead of asserting. */
class PlanSnapshotSpec extends AnyFunSuite with SharedSpark {

  // static plans: AQE rewrites happen at runtime and would make the
  // snapshot depend on row counts; the guard pins the planner output
  override def sessionConf = Map("spark.sql.adaptive.enabled" -> "false")

  private val sf = "/root/testdata/sf0.001"

  /** (shuffle exchanges, sort-merge joins, broadcast nested-loop
    * joins) — the three shapes that hurt at 100 TB. */
  private case class Sig(shuffles: Int, smj: Int, bnlj: Int)

  private def signature(name: String): Sig = {
    val df = graft.queries.Catalog.queries(name)(spark, sf)
    val plan = df.queryExecution.executedPlan
    val names = plan.collectWithSubqueries {
      case p => p.getClass.getSimpleName
    }
    def n(c: String) = names.count(_ == c)
    assert(n("CartesianProductExec") == 0,
      s"$name: CartesianProduct in the plan — forbidden at any scale")
    Sig(n("ShuffleExchangeExec"), n("SortMergeJoinExec"),
      n("BroadcastNestedLoopJoinExec"))
  }

  /** The committed snapshot: the 20 most expensive BATCH queries of
    * the round-11 bench (streaming plans are pinned by their own
    * specs), upper-bounding (shuffles, sort-merge joins, broadcast
    * NLJs) in the static plan at sf0.001. */
  // NB: several builders materialize intermediate stages eagerly
  // (localCheckpoint / write-then-read), so their RETURNED plan is the
  // final stage only — a 0 here pins "the returned stage stays
  // shuffle-free", not "the whole pipeline is". The BNLJs in the two
  // sim_* rows are crossJoin(broadcast(<query vector / ADC table>))
  // scalar patterns — broadcast of a tiny side, not data×data.
  private val pinned: Map[String, Sig] = Map(
    "curate_corpus_build" -> Sig(11, 1, 0),
    "curate_corpus_build_clean" -> Sig(16, 4, 0),
    "curate_canonical_docs" -> Sig(1, 0, 0),
    "curate_dataset_card" -> Sig(5, 2, 0),
    "sim_ann_recall" -> Sig(5, 0, 7),
    "sim_ann_ivfpq" -> Sig(1, 0, 1),
    "dedup_minhash_lsh" -> Sig(0, 0, 0),
    "dedup_components" -> Sig(0, 0, 0),
    "dedup_cluster_sizes" -> Sig(3, 0, 0),
    "dedup_semantic" -> Sig(0, 0, 0),
    "text_composition_report" -> Sig(2, 0, 0),
    "text_heavy_hitters" -> Sig(0, 0, 0),
    "text_fingerprint" -> Sig(0, 0, 0),
    "q_salted_join" -> Sig(0, 0, 0),
    "q_semi_join" -> Sig(0, 0, 0),
    "q_session_window" -> Sig(1, 0, 0),
    "q_ksql_multi_explode" -> Sig(0, 0, 0),
    "q_scalar_subquery" -> Sig(1, 0, 0),
    "q1_pricing_summary" -> Sig(1, 0, 0),
    "src_bucketed_join" -> Sig(1, 0, 0),
    // round-13 batch families (the BNLJs are broadcast of aggregated
    // sketch/scalar sides: |sources| rows / 1 row — never data×data)
    "q_table_agg" -> Sig(2, 0, 0),
    "sketch_kmv_distinct" -> Sig(2, 0, 0),
    "sketch_kmv_jaccard" -> Sig(1, 0, 1),
    "sketch_kmv_rollup" -> Sig(4, 0, 0),
    "text_bm25_topk" -> Sig(5, 0, 1),
    "text_bm25_full" -> Sig(5, 0, 1),
    // round-14 batch families. BNLJs are broadcast 1-row stat sides;
    // text_rrf_fusion's one SMJ is the FULL OUTER list-merge join of
    // two <=(10 terms x 20 docs)-row bounded lists (Spark cannot
    // broadcast-hash a full outer join) - bounded by construction
    "text_rrf_fusion" -> Sig(10, 1, 2),
    "text_phrase_match" -> Sig(5, 0, 0),
    "sketch_mg_topk" -> Sig(2, 0, 0),
    "sketch_mg_rollup" -> Sig(3, 0, 0),
    "mm_phash_neardup" -> Sig(7, 0, 0),
    "curate_neyman_alloc" -> Sig(4, 0, 1),
    "curate_decontam_span" -> Sig(4, 0, 0),
    "q_cusum_changepoint" -> Sig(3, 0, 0),
    "q_seasonal_decompose" -> Sig(4, 0, 0),
    // r15 rows. text_hybrid_rrf's 1 SMJ is the FULL OUTER fuse of two
    // <=terms*20-row bounded lists (Spark cannot broadcast-hash full
    // outer — the documented text_rrf_fusion pattern) and its 1 BNLJ
    // is the 1-row corpus-stat broadcast; the dense leg itself is
    // partition-pruned broadcast joins (pinned in PlanPropertiesSpec).
    "text_hybrid_rrf" -> Sig(9, 1, 1),
    "text_phrase_ngram" -> Sig(5, 0, 0),
    "text_proximity" -> Sig(5, 0, 0),
    "mm_audio_fp" -> Sig(3, 0, 0),
    "sketch_mg_sliding" -> Sig(4, 0, 0),
    // r16: text_maxsim = the hybrid candidate pipeline (its Sig) plus
    // the candidate-broadcast-into-corpus-scan scoring stage and one
    // per-term rank window shuffle — the MaxSim fold itself is a
    // narrow per-row pass and must add NO join beyond the broadcast.
    "text_maxsim" -> Sig(10, 1, 1),
    // r16: excise_repeated = gram-keyed owner election + hits join +
    // per-doc islands + the (deliberately unhinted) excision join;
    // video near-dup = the shared bandedNearDup skeleton over the
    // narrow per-row band pass (mm_audio_fp's Sig shape + the two
    // verify-leg joins resolved as broadcasts at this SF)
    "curate_excise_repeated" -> Sig(6, 0, 0),
    "mm_video_neardup" -> Sig(3, 0, 0),
    // corpus-scale MaxSim: bucket equi-join (broadcast of the 40-row
    // query-token relation) + two-phase hit counts + the k-bounded
    // top-100 + the shortlist-broadcast exact stage + rank windows —
    // the exact MaxSim fold itself must add no join beyond the
    // shortlist broadcast
    "text_maxsim_corpus" -> Sig(7, 0, 0),
    // RM3 PRF: three chained bounded stages — feedback top-5 (the
    // bm25 skeleton), feedback-bounded expansion mining, and the
    // 30-row weighted scoring relation broadcast over the postings;
    // the BNLJs are the two 1-row n_docs broadcasts
    "text_prf_expand" -> Sig(8, 0, 2),
    // r18 rows. crossmodal's 1 BNLJ is the ≤5-query-vector broadcast
    // into the pruned index scan; importance_target's is the 1-row
    // max-score normalizer; fertility_drift's 2 are the broadcast
    // global-mix and 1-row total stat attaches (the langDrift
    // pattern); leakage_split's returned stage is the split scoring
    // over the checkpointed component relation — one doc_id join.
    "mm_crossmodal_topk" -> Sig(2, 0, 1),
    "curate_leakage_split" -> Sig(1, 0, 0),
    "curate_importance_target" -> Sig(3, 0, 1),
    "text_fertility_drift" -> Sig(7, 0, 2),
    "mm_pair_neardup" -> Sig(9, 0, 0),
    // r19 rows. temporal_split's 2 BNLJs are the 1-row cutoff
    // broadcasts (corpus leg + straddle leg); the audit's four SMJs
    // are the four doc_id split pickups over the checkpointed split
    // relation — corpus-sized at scale, so an equi-join that shuffles
    // is the RIGHT 100 TB shape (a broadcast hint here would OOM the
    // driver on a real corpus); the containment gate's single shuffle
    // is the candidate groupBy over the shingle equi-join;
    // target_ess's BNLJ is the 1-row max-score normalizer.
    // r20: rows whose shuffle count rose by 1-3 did so from the
    // graft.util.Widen scan-width guard — a deliberate RoundRobin
    // exchange right above a narrow (single-row-group local) scan so
    // the heavy per-row derivation above it parallelizes; at cluster
    // scale the guard no-ops and the extra exchange is absent.
    "curate_temporal_split" -> Sig(2, 0, 2),
    "curate_temporal_audit" -> Sig(8, 4, 0),
    "dedup_incremental_containment" -> Sig(3, 0, 0),
    "curate_importance_target_ess" -> Sig(4, 0, 1))

  test("no expensive query gains a shuffle / SMJ / NLJ vs the pinned snapshot") {
    val regen = sys.env.get("SPARK_GRAFT_PLAN_REGEN").contains("1")
    val actual = pinned.keys.toSeq.sorted.map(n => n -> signature(n))
    if (regen) {
      val lit = actual.map { case (n, s) =>
        s"""    "$n" -> Sig(${s.shuffles}, ${s.smj}, ${s.bnlj})"""
      }.mkString(",\n")
      System.err.println(s"[plan-snapshot] current:\n$lit")
    } else {
      val gained = actual.filter { case (n, s) =>
        val p = pinned(n)
        s.shuffles > p.shuffles || s.smj > p.smj || s.bnlj > p.bnlj
      }
      assert(gained.isEmpty,
        gained.map { case (n, s) =>
          s"$n: now $s, pinned ${pinned(n)}"
        }.mkString("plans regressed:\n  ", "\n  ",
          "\n(rerun with SPARK_GRAFT_PLAN_REGEN=1 to print the new " +
            "snapshot if the change is intentional)"))
    }
  }
}
