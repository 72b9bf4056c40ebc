"""Physical-plan invariants for the headline queries — the plan
properties that make these operators scale are asserted, not assumed:
filters reach the parquet scan, dimension joins broadcast, Python
appears only where pandas semantics demand it, and exchange counts
stay at their designed minimum.

A regression that silently de-optimizes a plan (lost pushdown, a
broadcast devolving to SMJ both-sides-shuffle, an accidental Python
UDF) fails here long before it shows up in bench numbers.
"""

from __future__ import annotations

import re

import pytest

from iceberg_diag_spark.plans.registry import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _op_count(plan: str, op: str) -> int:
    # formatted explain mentions each operator in the tree AND in the
    # numbered detail section — count the detail headers for exact
    # operator counts
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, re.MULTILINE))


def _exchanges(plan: str) -> int:
    return _op_count(plan, "Exchange")


def test_q1_pushdown_and_single_shuffle(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # partial+final hash agg around exactly one exchange
    assert _exchanges(plan) == 1
    assert "HashAggregate" in plan
    assert "Python" not in plan


def test_q3_broadcasts_dimensions(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert _op_count(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # filter pushed to scan


def test_q5_all_dims_broadcast(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert _op_count(plan, "BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_dedup_exact_stays_jvm_side(spark):
    plan = _plan(spark, "dedup_exact_groups")
    assert "Python" not in plan  # sha256+normalize are codegen exprs
    assert "sha2" in plan


def test_minhash_no_python_no_cartesian(spark):
    plan = _plan(spark, "minhash_pairs")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_diag_metrics_python_free(spark):
    plan = _plan(spark, "diag_metrics")
    # the bin-pack fold is a SQL aggregate() over each partition's
    # sorted DATA sizes: no pandas stage, no Python of any kind
    assert "Python" not in plan
    # single-pass: the files relation is scanned exactly once (round 1
    # had separate BEFORE and AFTER branches scanning it twice)
    assert _op_count(plan, "Scan parquet") == 1


def test_corpus_curation_single_scan(spark):
    plan = _plan(spark, "corpus_curation")
    # window-based dedup survivor: one scan, no self-join re-deriving
    # the enriched lineage
    assert _op_count(plan, "Scan parquet") == 1
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_asof_join_single_exchange_per_side(spark):
    plan = _plan(spark, "asof_purchase_attribution")
    # union + window: one exchange for the window partitioning, one
    # per pre-aggregated input at most — never a join explosion
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert _exchanges(plan) <= 2


def test_ann_brute_force_broadcasts_queries(spark):
    plan = _plan(spark, "ann_cosine_topk")
    # the bounded query set is the broadcast side; corpus streams
    assert "BroadcastNestedLoopJoin" in plan
    assert "Python" not in plan


def test_frame_extraction_is_jvm_side(spark):
    # frame splitting + hashing is sequence/substring/md5 — no codec
    # involved, so NO Python of any kind (the r5 perf-weak fix):
    # with every_k=1 a Python loop would touch every corpus byte
    for q in ("media_frame_sample", "media_frame_dedup"):
        plan = _plan(spark, q)
        assert "Python" not in plan, q
        assert "MapInPandas" not in plan, q


def test_scans_prune_columns(spark):
    # q1 reads only the 7 lineitem columns it needs, not all 11
    plan = _plan(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert len(cols) <= 8, cols
    assert "l_partkey" not in cols and "l_suppkey" not in cols


def test_q7_broadcasts_all_dims(spark):
    plan = _plan(spark, "q7_nation_volume")
    # supplier+nation, customer+nation, and both enriched dims into
    # the fact join — every dimension side is a broadcast
    assert _op_count(plan, "BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_pii_redaction_zero_shuffle_codegen(spark):
    """The PII pass must stay a fused scan-side projection: no
    exchange, no Python, text column pruned into the scan."""
    plan = _plan(spark, "pii_redaction")
    assert _exchanges(plan) == 0
    assert "Python" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_pack_sequences_narrow_shuffle(spark):
    """Packing shuffles token COUNTS, not text: exactly one exchange,
    and the projection to (source, shard, doc_id, n_tokens) happens
    below it so no string column crosses the wire."""
    plan = _plan(spark, "doc_pack_sequences")
    assert _exchanges(plan) == 1
    assert _op_count(plan, "FlatMapGroupsInPandas") == 1
    ex = re.search(
        r"^\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan, re.MULTILINE
    )
    assert ex is not None
    shuffled_cols = ex.group(1)
    assert "n_tokens" in shuffled_cols
    assert "text" not in shuffled_cols


def test_per_source_cap_window_group_limit(spark):
    # row_number() <= k must compile to a map-side WindowGroupLimit —
    # the property that keeps a full stratum from ever being shuffled
    plan = _plan(spark, "per_source_cap")
    assert _op_count(plan, "WindowGroupLimit") >= 1
    assert "Python" not in plan


def test_centroid_confusion_broadcasts_centroids(spark):
    # the #labels×dim centroid relation must broadcast; the big
    # exploded side streams through without a join shuffle
    plan = _plan(spark, "nearest_centroid_confusion")
    assert _op_count(plan, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_split_and_mixture_stay_jvm_side(spark):
    for name in ("stratified_split", "source_mixture_weights"):
        plan = _plan(spark, name)
        assert "Python" not in plan, name


def test_quantize_zero_shuffle_jvm_side(spark):
    plan = _plan(spark, "embedding_quantize_int8")
    assert _exchanges(plan) == 0
    assert "Python" not in plan


def test_token_entropy_two_shuffles_jvm_side(spark):
    plan = _plan(spark, "token_entropy")
    # explode → (doc,tok) agg → per-doc agg (+1 for the unsplittable-
    # scan spread, absent on production inputs)
    assert _exchanges(plan) <= 3
    assert "Python" not in plan


# Queries whose plan legitimately contains a cartesian/broadcast
# nested-loop product: broadcast-scalar crossJoins (a 1-row side) or
# guarded exact tiers documented as oracle-only.
_SCALAR_CROSS_OK = {
    "q22_sales_opportunity",     # broadcast 1-row avg-balance scalar
    "q11_important_parts",       # broadcast 1-row threshold scalar
    "ann_cosine_topk",           # broadcast query side (guarded tier)
    "embedding_near_dup",        # guarded exact tier (raises >100k)
    "curated_embedding_near_dup",
    "tfidf_top_terms",           # broadcast 1-row corpus-size N
    "doc_length_deciles",        # broadcast 1-row percentile array
    "orders_profile",            # 1-row × 1-row agg reunion
    "events_approx_stats_checked",
    "doc_decontamination",       # broadcast distinct eval grams
    "doc_hash_sample",
    "events_skew_audit",         # broadcast 1-row totals scalar
    "join_cardinality_audit",    # broadcast 1-row per-side totals
    "near_dup_triangles",        # broadcast 1-row edge_count scalar
    "token_budget_waterfill",    # broadcast 1-row water-level theta
    "doc_weighted_sample",       # broadcast 1-row mean-weight scalar
    "diag_snapshot_retention",   # broadcast 1-row retention cutoff
    "doc_unigram_logprob",       # broadcast 1-row corpus token total
    "customer_rfm_segments",     # broadcast 1-row max-date / count /
                                 #   percentile-edge scalars (global_rank)
    "source_vocab_tv",           # vocab(≤1024) × sources(≤|taxonomy|)
                                 #   alignment spine — both bounded by
                                 #   construction, metadata scale
    "events_disorder_audit",     # broadcast 1-row shard-edge scalar
                                 #   (the global_rank idiom)
    "padding_waste_audit",       # broadcast 1-row corpus-max and
                                 #   percentile-edge scalars
    "events_watermark_advisor",  # broadcast 1-row shard-edge scalar
                                 #   (shared _lateness core)
    "events_watermark_recommendation",  # same shared _lateness core
    "corpus_build_funnel",       # exact_quota_holdout's broadcast
                                 #   1-row apportionment totals inside
                                 #   the fused holdout stage
    "kmeans_lloyd",              # broadcast 1-row refined-centroid
                                 #   array (collect bounded by k)
    "source_length_ks",          # ECDF grid: broadcast |sources| panel
                                 #   × |distinct lengths| values + 1-row
                                 #   corpus total — both metadata-scale
    "part_affinity",             # broadcast 1-row order-count scalar
    "dsir_logratio",             # broadcast 1-row (N_t, N_r, V)
                                 #   vocabulary-total scalars
    "vocab_growth_curve",        # broadcast 1-row corpus-max scalar
                                 #   (sequential shard edges)
    "bm25_topk",                 # broadcast 1-row (n_docs, avgdl)
                                 #   corpus-total scalars
    "pmi_collocations",          # broadcast 1-row bigram-total N
    "orders_benford_audit",      # broadcast 1-row digit-total scalar
    "quality_dup_matrix",        # broadcast 1-row percentile-edge array
    "exact_quota_holdout",       # broadcast 1-row apportionment totals
    "hybrid_retrieval_topk",     # broadcast 1-row bm25 corpus totals +
                                 #   1-row feedback-centroid norm
    "orders_pareto_share",       # broadcast 1-row grand-total scalar
    "embedding_ivf_balance",     # broadcast 1-row occupancy total
    "ann_recall_eval",           # broadcast bounded 1/query_mod query
                                 #   panel vs corpus (ground-truth side)
    "retrieval_rank_eval",       # same bounded panel, ranked-list view
    "bigram_kneser_ney",         # broadcast 1-row distinct-bigram total
    "token_zipf_curve",          # broadcast 1-row corpus token total
    "diag_bloom_advisor",        # broadcast bounded probe panel ×
                                 #   metadata-scale file bounds
    "shuffle_skew_advisor",      # broadcast 1-row total-rows scalar
                                 #   over the 32-partition relation
    "embedding_pca_power",       # broadcast 1-row Gram scalars / max
                                 #   / share over the dim²-row matrix
                                 #   relation (metadata scale)
    "doc_kn_nll",                # broadcast 1-row distinct-bigram
                                 #   total (the bigram_kneser_ney CTEs)
    "doc_kn_perplexity",         # same shared KN scoring core
    "lsh_near_dup_tuned",        # broadcast 1-row advisor pick
                                 #   (bands, rows_per_band) attached to
                                 #   keys / star / output relations
    "neardup_source_modularity",  # broadcast 1-row edge-total scalar
                                  #   over the |sources| relation
    "embedding_matryoshka_audit",  # broadcast bounded 1/query_mod
                                   #   query panel vs corpus (the
                                   #   ann_recall_eval shape)
    "unigram_lm_train",          # broadcast 1-row (total, V) vocab
                                 #   scalars per EM score table
    "classifier_auc_calibration",  # broadcast 1-row AUC moments onto
                                   #   the ≤n_bins bin rows
    "classifier_pr_curve",       # broadcast 11-row recall grid +
                                 #   1-row best-F1/p_total scalars
                                 #   over the score histogram
    "ivf_nprobe_sweep",          # broadcast bounded 1/query_mod panel
                                 #   (ground truth) + 4-row probe grid
                                 #   + 1-row corpus-total scalar
    "classifier_train_lr",       # broadcast 1-row moments + 1-row
                                 #   weight state per unrolled GD step
    "classifier_apply_trained",  # same: the training chain plus ONE
                                 #   more 1-row broadcast (the step-k
                                 #   weight state) for scoring
    "unigram_lm_encode",         # broadcast 1-row (total, V) vocab
                                 #   scalars in the final score table
                                 #   (the unigram_lm_train idiom, here
                                 #   outside the checkpoint lineage)
}


def test_every_registry_plan_free_of_scale_killers(spark):
    """Global invariant over ALL registry entries: no unguarded
    cartesian product and no row-at-a-time Python evaluation anywhere
    — any future operator that de-optimizes into either shape fails
    here by name, not in a bench regression three rounds later."""
    offenders = []
    for name, spec in REGISTRY.items():
        if name.startswith("stream_"):
            continue  # streaming plans only materialize at runtime
        plan = _plan(spark, name)
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
        # ANY nested-loop product counts: crossJoin plans print join
        # type 'Cross' (not 'Inner'), so matching only 'Inner' would
        # let an unguarded broadcast cross product over a non-scalar
        # side slide through at test scale
        has_product = (
            _op_count(plan, "CartesianProduct") > 0
            or _op_count(plan, "BroadcastNestedLoopJoin") > 0
        )
        if has_product and name not in _SCALAR_CROSS_OK:
            offenders.append((name, "cartesian"))
    assert not offenders, offenders


# Entries whose plans may contain a collect_list/collect_set
# aggregate because the per-group cardinality is bounded by
# construction — every other registry plan must be collect-free, so
# an unbounded membership digest (the stratified_split r4 pattern:
# md5(concat(sort_array(collect_list(id)))) holding ~90% of a corpus
# in one aggregation buffer) fails here by name.
_BOUNDED_COLLECT_OK = {
    "source_overlap",       # collect_set(src) bounded by #sources
    "user_event_paths",     # per-user path, truncated to first k events
    "minhash_pairs",        # LSH bucket ids: exact dups pre-collapsed,
    "lsh_near_dup_tuned",   #   same bucket relation under the tuned
                            #   (bands, rows) pick — still exact-
                            #   collapsed, near-identical docs only
    "minhash_estimator_audit",  # audits the same candidate-pair
                                #   bucket relation (production chain
                                #   embedded verbatim)
    "neardup_source_modularity",  # same banding bucket collect under
                                  #   the source-label joins
    "ngram_jaccard",        #   bucket = near-identical docs only
    "ngram_containment",    #   same LSH candidate chain as jaccard
    "near_dup_rate_by_source",  # same LSH bucket relation as above
    "boilerplate_removal",  # per-doc sentence rebuild, bounded by doc len
    "doc_line_dedup",       # per-doc sentence rebuild, bounded by doc len
    "doc_substring_dedup",  # per-doc token rebuild, bounded by doc len
    "jaccard_threshold_hist",  # same LSH candidate chain as jaccard
    "lsh_param_advisor",       # rides the same histogram chain
    "dedup_method_agreement",  # inherits minhash_pairs' LSH bucket
    #   collect_list (dedup.py:336): exact dups pre-collapsed, each
    #   bucket holds only near-identical docs — bounded by construction
    "crossmodal_dedup_agreement",  # same inherited LSH bucket collect
    "kmeans_lloyd",  # centroid collects bounded by k (clusters) and
    #   the fixed embedding dim — never corpus-cardinality
    "lineitem_return_survival",  # day-grid collect: list length =
    #   |distinct latency days| (metadata scale), the sorted-array
    #   product-limit fold
    "events_ewma_anomalies",  # per-type hourly rollup collect: list
    #   length = |distinct hours| (metadata scale, events.py:1102),
    #   the doc_repetition_profile sorted-array fold idiom
    "events_holt_forecast",   # same per-type hourly series collect
    #   (metadata scale), Holt level+trend fold
    "diag_metrics",  # one list of DATA file sizes per partition for
    "diag_metrics_multi_table",  # the SQL bin-pack fold: metadata scale,
    #   the same per-group set the pandas fold held in memory; the JVM
    #   buffer is boxed, so a 10^6-file partition costs ~16-24 MB
    "unigram_lm_encode",  # per-word-form span collect: list length
    #   bounded by max_word_len x max_piece_len (96), never corpus-
    #   cardinality (the trainer's own E-step shape — hidden there
    #   inside eager checkpoints, visible here in the final pass)
}


def test_no_unbounded_collect_aggregates(spark):
    offenders = []
    for name, spec in REGISTRY.items():
        if name.startswith("stream_") or name in _BOUNDED_COLLECT_OK:
            continue
        plan = _plan(spark, name)
        if "collect_list" in plan or "collect_set" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_r10_smj_backlog_cleared(spark):
    # the round-10 self-flagged backlog: these six plans joined
    # panel- or metadata-scale relations via SortMergeJoin where a
    # broadcast hint fits (ann/retrieval eval panels, the pca power
    # iterate, the estimator-audit pair spine) or where the join
    # folds away entirely (the sentinel-row ngram_jaccard_pairs
    # rebuild behind lsh_param_advisor, the tagged-union PSI
    # histogram) — all must stay SMJ-free
    for name in (
        "ann_recall_eval",
        "retrieval_rank_eval",
        "embedding_pca_power",
        "lsh_param_advisor",
        "quality_psi_drift",
        "source_vocab_tv",  # r11 census follow-up: K·S grid pair join
    ):
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan, name
    # minhash_estimator_audit left this list in r11: its r10-era
    # "SMJ=0" was achieved by F.broadcast hints on the PAIR-SCALE
    # inter/exact relations — scale-wrong (candidate pairs grow with
    # the corpus). The tagged-union rewrite removed the reattach
    # joins entirely; the joins that remain marry the pair spine to
    # per-doc relations and are stats-driven (broadcast at test
    # scale, SMJ at corpus scale). Pin instead that no FORCED
    # pair-scale broadcast reappears: the un-hinted logical plan
    # must carry no broadcast hint at all.
    df = REGISTRY["minhash_estimator_audit"].build(spark, SF_DIR)
    logical = df._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical
    # semantic_dedup keeps exactly ONE SMJ — the within-cluster pair
    # self-join (genuine big-big); its metadata-scale summary join is
    # hinted. A second SMJ appearing means the hint regressed.
    plan = _plan(spark, "semantic_dedup")
    assert _op_count(plan, "SortMergeJoin") == 1


def test_train_lr_trajectory_reads_checkpoints_not_corpus(spark):
    # the corpus_build_funnel composition contract, LR edition: the
    # k gradient aggregates run during build (each a bounded 7-scalar
    # decision collect over the checkpointed feature relation, with
    # the weight state inlined as decimal literals), so the FINAL
    # plan is the literal 13-row weight table — it must never re-read
    # parquet (a replayed corpus scan per step) and the whole
    # operator is JVM column arithmetic, no Python anywhere. The
    # trajectory VALUES are pinned by the DuckDB oracle (hash-exact
    # k-step chain), so this pin only guards the plan shape.
    plan = _plan(spark, "classifier_train_lr")
    assert "Python" not in plan
    assert _op_count(plan, "Scan parquet") == 0
    # the literal weight table generates from a 1-row range
    assert "Generate" in plan and "Range" in plan


def test_skew_audit_distributed_topk(spark):
    # global top-k must be TakeOrderedAndProject (partial per-partition
    # top-k), never a partition-less window over the full key relation
    plan = _plan(spark, "events_skew_audit")
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_corpus_top_ngrams_distributed_topk(spark):
    # same invariant for the corpus-wide gram top-k: the full gram
    # relation must never funnel through a partition-less window
    plan = _plan(spark, "corpus_top_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_lang_confusion_single_scan_no_join(spark):
    # the voting exprs ride the scan projection: no join anywhere
    plan = _plan(spark, "lang_confusion")
    assert "Join" not in plan
    assert "Python" not in plan


def test_quota_holdout_membership_range_sharded(spark):
    # the membership rank over the FULL corpus must be partitioned by
    # (stratum, __shard) — a bare partitionBy(stratum) window puts a
    # whole stratum (billions of rows at scale) in one task. Every
    # window ordering by the md5 membership key must carry the shard
    # column; single-partition exchanges may appear only for the
    # |strata|-row apportionment rank and scalar totals.
    plan = _plan(spark, "exact_quota_holdout")
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    mh_specs = [s for s in specs if "__mh" in s]
    assert mh_specs, "membership window missing from plan"
    assert all("__shard" in s for s in mh_specs), mh_specs
    assert "Python" not in plan


def test_quality_calibration_rank_range_sharded(spark):
    # same invariant as quota holdout: every window ordering by the
    # quality score must carry the range-shard column — a bare
    # partitionBy(source) window would put a whole source in one task
    plan = _plan(spark, "source_quality_calibration")
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    score_specs = [s for s in specs if "ttr_ppm" in s]
    assert score_specs, "calibration rank window missing from plan"
    assert all("__shard" in s for s in score_specs), score_specs
    assert "Python" not in plan


def test_hybrid_retrieval_prunes_embeddings_scan(spark):
    # the embeddings scan must be broadcast-semi-pruned by the BM25
    # candidate ids and the corpus text scan must stay Python-free
    plan = _plan(spark, "hybrid_retrieval_topk")
    assert "Python" not in plan
    assert _op_count(plan, "TakeOrderedAndProject") >= 1  # BM25 top-k


def test_substring_dedup_no_span_self_join(spark):
    # coverage must come from the bounded ROWS-frame window over the
    # doc sort — never a positions×spans self-join (the quadratic
    # formulation) — and the whole pipeline stays JVM-side with the
    # dup-gram flag joined on the gram hash only
    plan = _plan(spark, "doc_substring_dedup")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # one gram-agg shuffle + flag join + two doc-sort windows + final
    # rebuild riding the window partitioning: 5 exchanges, not more
    assert _exchanges(plan) <= 5
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    assert specs, "coverage window missing from plan"


def test_corpus_build_funnel_reads_checkpoints_not_corpus(spark):
    # composition contract: every stage downstream of the enriched
    # pass consumes a materialized narrow lineage — the final plan
    # reads NO parquet directly (the corpus is scanned only inside
    # the three checkpoint lineages: enriched pass + the banding
    # chain's two) and at most 4 checkpointed relations; packing is
    # the single pandas stage. Without the checkpoints the same DAG
    # replays the corpus scan 40× (one per branch) — measured, which
    # is exactly what this test pins against.
    plan = _plan(spark, "corpus_build_funnel")
    assert _op_count(plan, "Scan parquet") == 0
    assert len(re.findall(r"Scan ExistingRDD", plan)) <= 4
    assert _op_count(plan, "FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_apply_trained_reads_checkpoints_not_corpus(spark):
    # classifier_apply_trained's deployment contract: scoring reads
    # ONLY the checkpointed carry-widened feature relation — the
    # step-k weights are inlined as decimal literals (no broadcast
    # join at all) — so it never replays the corpus scan (the
    # train-LR pin, deployment edition) and stays pure JVM column
    # arithmetic
    plan = _plan(spark, "classifier_apply_trained")
    assert "Python" not in plan
    assert _op_count(plan, "Scan parquet") == 0
    assert _op_count(plan, "Scan ExistingRDD") == 1
