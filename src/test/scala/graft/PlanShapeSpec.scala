package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.FixtureLoader.spark

/** Plan-shape regression pins for the heaviest bench queries (round-14
  * VERDICT item 6): the exchange / broadcast-join counts of the
  * EXECUTED plan at sf0.001 are snapshotted here, so un-broadcasting a
  * dimension, doubling a shuffle, or losing a reused exchange fails CI
  * instead of surfacing as a bench regression two rounds later.
  *
  * Scope: the 10 heaviest NON-streaming bench queries from
  * BENCH_r14.json (q86/q119/q93/q105/q246 are micro-batch pipelines
  * whose shuffles live inside MicroBatchExecution, not in the returned
  * frame's plan — their scale posture is gated by the batch≡stream
  * hash identities and the streaming scale probes instead).
  *
  * The counts are data-size-stable (fixed sf0.001, fixed 4 shuffle
  * partitions, AQE deterministic on identical input); they are NOT
  * claimed portable across Spark versions — on an upgrade, re-snapshot
  * and review the diff like any other golden.
  */
class PlanShapeSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private case class Shape(shuffles: Int, broadcastJoins: Int)

  private def shapeOf(name: String): Shape = {
    val plan = PlanProbes.finalPlan(SparkEntry.queries(name)(spark, sf))
    val shuffles = PlanProbes.collectAll(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size
    val bhj = PlanProbes.collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.size
    Shape(shuffles, bhj)
  }

  // snapshot of the executed-plan shape per query — see scaladoc for
  // how to re-pin after an intentional plan change
  private val pinned: Map[String, Shape] = Map(
    "q262_rendezvous_shards" -> Shape(3, 1),
    "q242_retrieval_recall" -> Shape(9, 2),
    "q85_ivfpq_trained" -> Shape(7, 4),
    "q251_edit_distance_join" -> Shape(2, 3),
    // (7,5)→(4,1) in r20: the three per-column range-sort+rank passes
    // fused into ONE (tag, v)-keyed range exchange and the 3-way join
    // on rank became a single groupBy(rank) aggregation — guide §2.4,
    // oracle hash-green (see OPTIMIZATION_r20.md §2)
    "q224_quantile_norm" -> Shape(4, 1),
    "q125_sparse_cosine" -> Shape(2, 1),
    // (9,5)→(7,5) in r20: copurchaseCounts pins the basket grid once
    // (it was re-derived per consumer inside `pruned`'s plan) and q184
    // derives the basket count from that checkpoint instead of a third
    // fact pass — two shuffles leave the returned plan (§2.4)
    "q184_assoc_rules" -> Shape(7, 5),
    "q91_bpe_segment" -> Shape(3, 1),
    "q81_pq_trained" -> Shape(4, 3),
    "q189_trigram_search" -> Shape(5, 3),
    // round-15 additions (heaviest of the new wave; q273 is
    // micro-batch — excluded like the other streaming queries)
    "q269_rrf_fusion" -> Shape(8, 5),
    "q271_poisson_bootstrap" -> Shape(4, 2),
    "q274_dbscan" -> Shape(10, 0),
    "q270_kmv_jaccard" -> Shape(16, 3),
    // q275's loop is checkpointed per round — the returned plan is the
    // final sort over the last checkpoint, so the pin is the tail only
    "q275_weighted_paths" -> Shape(1, 0),
    // round-15 continuation wave (q281/q286 are micro-batch — excluded
    // like the other streaming queries; q276's LPA loop is
    // checkpointed per round, pin is the tail)
    "q279_item_cosine" -> Shape(6, 4),
    "q283_winsorize" -> Shape(14, 4),
    // 3→4 in r19: the cell-pair theta probe is spread (repartition-by-
    // num, exempt from AQE coalescing) so the O(cells²) compare runs
    // at session width instead of one coalesced task — deliberate,
    // measured 3.7 → 2.4 s isolated at sf0.1
    "q284_kendall_tau" -> Shape(4, 2),
    "q288_hits" -> Shape(2, 2),
    "q289_negative_sampling" -> Shape(3, 2),
    "q276_label_propagation" -> Shape(1, 0),
    // round-16 additions: the gate promotions + eval wave. q298's
    // three dim lookups must stay broadcast; q300's batch key set
    // joins broadcast at this sf (AQE may legitimately shuffle it at
    // production scale — the pin records the small-sf shape);
    // q306/q307 checkpoint their iteration inputs, so the returned
    // plan is the post-loop tail only
    "q298_jobcode_override" -> Shape(5, 3),
    "q299_change_consumption" -> Shape(3, 0),
    "q300_delete_recreate" -> Shape(3, 1),
    "q302_cohen_kappa" -> Shape(5, 2),
    "q305_pass_at_k" -> Shape(3, 1),
    "q306_bradley_terry" -> Shape(4, 0),
    "q307_mmr_rerank" -> Shape(1, 0),
    "q308_ndcg" -> Shape(6, 6),
    // round-16 eval wave: q309/q314's orders join is declared as a
    // plain fact-fact key join — AQE broadcasts the tiny orders side
    // at THIS sf (the 1 below); at production scale it legitimately
    // becomes a co-partitioned sort-merge. q311/q312/q313 collapse to
    // value-bounded grids in one keyed shuffle; q316's exemplar side
    // must stay broadcast; q317's pair join lives on the checkpointed
    // brand×month grid tail (the broadcast part-dim join sits above
    // the checkpoint, outside the returned plan)
    "q309_fleiss_kappa" -> Shape(3, 1),
    "q310_map" -> Shape(3, 1),
    "q311_confusion_sweep" -> Shape(3, 2),
    "q312_brier_decomposition" -> Shape(3, 1),
    "q313_spearman_rho" -> Shape(7, 2),
    "q314_krippendorff_alpha" -> Shape(3, 1),
    "q315_js_divergence" -> Shape(6, 3),
    "q316_rouge_exemplar" -> Shape(7, 5),
    "q317_theil_sen" -> Shape(4, 0),
    // eval wave 3: q318-q321 ride the checkpointed tokenBase (the
    // explode/aggregate chains shuffle on vocab-bounded keys); q320's
    // 16-threshold grid and q321's exemplar side must stay broadcast;
    // q322 is one fact pass to the 33-replicate grid
    "q318_distinct_n" -> Shape(4, 0),
    "q319_zipf_slope" -> Shape(3, 0),
    "q320_heaps_law" -> Shape(8, 4),
    "q321_bleu_corpus" -> Shape(8, 7),
    "q322_sign_flip_test" -> Shape(3, 0),
    // eval wave 4: q323's interval lattice lives on the checkpointed
    // 22-row grid; q324's register loop is checkpointed per round
    // (pin is the post-loop estimate tail); q325's power rounds ride
    // checkpointed dimension frames (pin is the share tail)
    "q323_isotonic_calibration" -> Shape(3, 3),
    "q324_hyperanf" -> Shape(5, 0),
    "q325_markov_attribution" -> Shape(2, 1),
    // wave 5 (crawl-curation): q326 is a pure per-row map + one keyed
    // agg; q327/q328/q329 collapse to value-bounded grids whose
    // cumulative/pair joins live on checkpointed ≤1k-row frames;
    // q330's window is doc-partitioned above one spread explode;
    // q331/q332 are single-pass sufficient-statistic folds
    // q326's 5 = spread + grid dedup + the distinct-agg pair on the
    // deduped grid + the final order — all post-grid exchanges carry
    // O(distinct URLs), not facts
    "q326_url_canonicalize" -> Shape(5, 0),
    "q327_wasserstein_drift" -> Shape(4, 5),
    "q328_kruskal_wallis" -> Shape(10, 6),
    "q329_cliffs_delta" -> Shape(4, 0),
    "q330_cdc_chunks" -> Shape(5, 0),
    "q331_ridge_regression" -> Shape(2, 2),
    "q332_anova_f" -> Shape(2, 1),
    // wave 6: q334's 33-replicate fan-out folds in one keyed shuffle
    // off the checkpointed per-(nation,b) grid; q335's zone maps and
    // predicate grids are all ≤192-row broadcast work above one fact
    // agg; q336 runs four TopK kernels (exchange per kernel) with the
    // full-dim side checkpointed; q337 is the q282 weekly frame tail
    "q334_bh_fdr" -> Shape(7, 2),
    "q335_zonemap_advisor" -> Shape(4, 3),
    // 13→14 in r19: spark.sql.unionOutputPartitioning is now pinned
    // OFF in every session (Spark 4.1's union-partitioning claim is
    // invalid for concatenating unions and crashes downstream zips —
    // see Sessions.scala), so q336's dims union pays one real exchange
    // it previously elided under the invalid claim
    "q336_matryoshka_eval" -> Shape(14, 6),
    "q337_pinball_eval" -> Shape(4, 1),
    // wave 7: q338's heavy stages (basket pairs, scores, recs) are
    // all checkpointed — the returned plan is the brand-grid tail;
    // q339 is one grid shuffle over the broadcast weight frame.
    // (9,3)→(9,1) in r20: the one-pass symmetric scoring checkpoints
    // the SCORED frame, so the two n-dim broadcast joins moved behind
    // the checkpoint (OPTIMIZATION_r20.md §9)
    "q338_rec_diversity" -> Shape(9, 1),
    "q339_ess_diagnostics" -> Shape(4, 1),
    // q340's peel checkpoints every round — the pin is the final
    // order over the last checkpoint (the q275/q276 loop convention)
    "q340_ktruss" -> Shape(1, 0),
    // q341 materializes through localCheckpoint(true) — the pin is
    // the ordered tail over the checkpointed aggregate
    "q341_orc_roundtrip" -> Shape(0, 0)
  )

  test("top-10 heaviest queries keep their pinned plan shapes") {
    val diffs = pinned.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = shapeOf(name)
      if (got == want) Nil
      else Seq(s"$name: got $got, pinned $want")
    }
    assert(diffs.isEmpty,
      "plan shapes drifted (if intentional, re-pin the snapshot):\n" +
        diffs.mkString("\n"))
  }
}
