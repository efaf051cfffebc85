"""Catalog: registers every query/oracle pair with the registry.

Import side-effect = registration. **Registration order is a driver
contract**: the correctness harness records the FIRST 50 registered
queries, so the families that most need a fresh driver-verified row
register first; queries already hash-green in a prior round rotate to
the back (their green rows are on record, and every oracle-backed pair
is additionally hash-checked in-repo by ``tests/test_oracle_parity.py``
regardless of window position).

Mechanics: ``register`` below COLLECTS entries in source order; the
``R10_WINDOW`` list at the bottom of this file then flushes the named 50
to the real registry first and everything else after, so rotating the
window is a list edit, not a code move. Driver-row history — this is
the COMPLETE 188-query schedule; the rotation program ended at r7:

- r1-r3 greens: the reference-surface families (lookup/edge/ingest/
  fuzzy/relationship/recommend/paths) + the r2/r3 analytics batches.
- r4 greens: events + streaming availableNow, NL, multimodal, ANN,
  sketch_profile, pagerank/pagerank_factored, and the heavyweight
  dedup/textstats/scrub greens.
- r5 greens (= ``R5_WINDOW``, kept below as the overlap guard): the
  streaming continuous-aggregate family, incremental dedup, the
  classifier/gate family, the OLAP join/subquery families, graph
  analytics (node_similarity/components), events shapes, embedding
  analytics, BM25/hybrid retrieval, SCD2, hygiene. 46/50 hash-green,
  4 rows-only by documented design.
- r6 greens (= ``R6_WINDOW``, kept below as history/overlap guard):
  every oracle-backed query still without a driver row after r5 —
  textstats/sampling/OLAP-window tails, graph (ppr/lpa/triangles/
  bfs_unbounded), the r5-late additions (hopping, temporal_join,
  stream_enrich, TPC-H Q7/Q8/Q9), CDC, profiling. 46/50 hash-green;
  the 4 fails were oracle-dtype artifacts (values bit-identical).
- r7 greens (= ``R7_WINDOW``, kept below as history/overlap guard): the
  final 12 debuts (rows-only registrations — RNG bucketing / engine
  hashing / KMeans placement / float partial sums, each pytest-pinned
  against an independent implementation — plus oracle-backed
  ``user_erasure``), the 4 r6 dtype re-checks (oracles now CAST ... AS
  BIGINT), and 34 oldest-green regression re-checks. 39/39 oracle-backed
  green, 11 rows-only debuts clean — after r7 every registered query
  has a driver row.
- r8 greens (= ``R8_WINDOW``, kept below as history/overlap guard):
  ``weighted_distances`` and ``graph_components`` first (changed: both
  oracle-promoted that round), then 48 oldest-green re-checks (the r4
  greens R7 didn't reach, then the oldest r5 greens). 40/50 hash-green,
  10 rows-only by documented design, 0 errors.
- r9 greens (= ``R9_WINDOW``, kept below as history/overlap guard):
  changed-first — ``merge_bucketed``/``dedup_span_removal``/
  ``dedup_span_removal_incremental`` debuts, ``stream_user_counts``
  (oracle-promoted), ``graph_components``/``weighted_distances``
  (construct-time restructure) — then 44 staged steady-state
  re-checks. 48/50 hash-green, 2 rows-only by documented design,
  0 errors.
- r10 window (THIS round, = the 50 names in ``R10_WINDOW``):
  changed-first — the span-removal pair (keep-first rank windows
  replaced by the mergeable min(struct) agg, VERDICT r9 #1; oracles
  unchanged), ``token_cms`` (oracle-PROMOTED to the portable
  md5-bucket counter table, VERDICT r9 #4) and the
  ``bpe_encode_fixed`` debut (the encode kernel under a fixed merge
  list, oracle-expressible as a rank-ordered replace chain) — then
  the 46 oldest staged steady-state re-checks from the r10 plan.
"""

from __future__ import annotations

from graphdb_neo4j_spark.registry import _REGISTRY as _registry_dict
from graphdb_neo4j_spark.registry import RegisteredQuery
from graphdb_neo4j_spark.registry import register as _registry_register

# Deferred registration: collect in source order, flush window-first at
# the bottom of this file. Source order within/outside the window is
# preserved (dict insertion order).
_PENDING: dict[str, RegisteredQuery] = {}


def register(name, fn, oracle, bench: bool = False) -> None:
    if name in _PENDING:
        raise ValueError(f"duplicate query registration: {name}")
    _PENDING[name] = RegisteredQuery(fn=fn, oracle=oracle, bench=bench)

# =============================================================================
# Definitions (source order is secondary — R5_WINDOW at the bottom decides
# what the driver's 50-entry correctness window sees this round)
# =============================================================================

# --- extensions: event analytics (never driver-green in r1-r3) ---------------
from graphdb_neo4j_spark.operators import events

register("events_hourly", events.q_events_hourly, events.EVENTS_HOURLY_SQL, bench=True)
register("events_json", events.q_events_json, events.EVENTS_JSON_SQL)
register("events_cube", events.q_events_cube, events.EVENTS_CUBE_SQL)
register("sessionize", events.q_sessionize, events.SESSIONIZE_SQL, bench=True)
register("asof_join", events.q_asof_join, events.ASOF_JOIN_SQL)
register(
    "events_rollup_serve",
    lambda spark, sf: events.q_hourly_rollup_serve(spark, sf),
    events.EVENTS_HOURLY_SQL,  # the split-and-merge must be invisible
)

# --- extensions: Structured Streaming (availableNow-bounded; never checked) --
from graphdb_neo4j_spark.streaming import events_stream

register("stream_hourly", events_stream.q_stream_hourly, events.EVENTS_HOURLY_SQL)
register(
    "stream_sessions",
    events_stream.q_stream_sessions,
    events_stream.STREAM_SESSIONS_SQL,
)
register(
    "stream_user_counts",
    events_stream.q_stream_user_counts,
    events_stream.STREAM_USER_COUNTS_SQL,  # r9 oracle promotion
)
register("stream_asof", events_stream.q_stream_asof, events.ASOF_JOIN_SQL, bench=True)
register("stream_json", events_stream.q_stream_json, events.EVENTS_JSON_SQL)

# --- §2.10 NL layer (N1-N7) — green r2, rotated out by r3 insertions ---------
from graphdb_neo4j_spark.nl import queries as nlq

register("nl_single_name", nlq.q_nl_single_name, nlq.nl_single_name_sql())
register("nl_two_name", nlq.q_nl_two_name, nlq.nl_two_name_sql())
register("nl_codegen_count", nlq.q_nl_codegen_count, nlq.NL_CODEGEN_COUNT_SQL)

# --- extensions: multimodal columns (green r2, rotated out by r3) ------------
from graphdb_neo4j_spark.llmdata import multimodal

register(
    "multimodal_stats",
    multimodal.q_multimodal_stats,
    multimodal.MULTIMODAL_STATS_SQL,
    bench=True,
)
register("image_meta", multimodal.q_image_meta, multimodal.IMAGE_META_SQL)
register("asset_features", multimodal.q_asset_features_flat, None)  # BLOB byte stats
register(
    "image_resize_plan",
    multimodal.q_image_resize_plan,
    multimodal.IMAGE_RESIZE_PLAN_SQL,
)
register(
    "frame_sample",
    lambda spark, sf: multimodal.q_frame_sample(spark, sf),
    multimodal.frame_sample_sql(),
)

# --- extensions: similarity search scale paths (no r3 rows) ------------------
from graphdb_neo4j_spark.llmdata import simsearch

register("ann_search", simsearch.q_ann_search, None, bench=True)  # RNG bucketing; the 100 TB similarity path
register("embedding_norms", simsearch.q_embedding_norms, simsearch.EMBEDDING_NORMS_SQL)
register("ivf_search", simsearch.q_ivf_search, None)  # KMeans centroids

# --- extensions: sketch profiling (errored in r3 — now scalar columns) -------
from graphdb_neo4j_spark.llmdata import sketches

register("sketch_profile", sketches.q_sketch_profile, None)  # approx by nature

# --- whole-graph analytics — first round with a driver oracle ----------------
from graphdb_neo4j_spark.operators import graphalgo

register("pagerank", graphalgo.q_pagerank, graphalgo.pagerank_oracle_sql())
register(
    "pagerank_factored",
    graphalgo.q_pagerank_factored,
    graphalgo.pagerank_oracle_sql(),  # same fixpoint — identical unrolled CTE
    bench=True,  # O(N)/iter clique-factored form — the scale path
)

# --- rows-only queries with pytest invariants (keep a driver rows row) -------
from graphdb_neo4j_spark.operators import fuzzy

register("fuzzy_search_indel", fuzzy.q_fuzzy_search_indel, None)  # rows-only

from graphdb_neo4j_spark.llmdata import dedup

register(
    "dedup_minhash",
    lambda spark, sf: dedup.q_dedup_minhash(spark, sf),
    None,
    bench=True,  # the near-dup SCALE path — benched alongside its oracle form
)
register(
    "dedup_simhash",
    lambda spark, sf: dedup.q_dedup_simhash(spark, sf),
    dedup.dedup_simhash_sql(),  # oracle-PROMOTED r10: portable md5 bit source
)

from graphdb_neo4j_spark.llmdata import textstats

register(
    "winnowing_fingerprint",
    textstats.q_winnowing,
    textstats.winnowing_sql(),  # oracle-PROMOTED r10: portable md5 kgram hash
)

# --- heavyweight analytics greens (stay inside the window) -------------------
from graphdb_neo4j_spark.operators.recommend import recommend, recommend_oracle_sql
from graphdb_neo4j_spark.sources.tpch import node_snapshot

register(
    "recommend_people",
    lambda spark, sf: recommend(node_snapshot(spark, sf), anchor_id=1, limit=100),
    recommend_oracle_sql(1, 100),
    bench=True,
)

register("dedup_exact", dedup.q_dedup_exact, dedup.DEDUP_EXACT_SQL, bench=True)
register(
    "dedup_jaccard",
    lambda spark, sf: dedup.q_dedup_jaccard(spark, sf),
    dedup.dedup_jaccard_sql(),
    bench=True,
)
register(
    "dedup_components",
    lambda spark, sf: dedup.q_dedup_components(spark, sf),
    dedup.dedup_components_sql(),
)

from graphdb_neo4j_spark.llmdata import filterset

register(
    "training_filter",
    filterset.q_training_filter,
    filterset.training_filter_sql(),
    bench=True,
)

register("knn_anchor", simsearch.q_knn_anchor, simsearch.knn_anchor_sql(), bench=True)
register(
    "cosine_neardup",
    lambda spark, sf: simsearch.q_cosine_neardup(spark, sf),
    simsearch.cosine_neardup_sql(),
)

register("degree_stats", graphalgo.q_degree_stats, graphalgo.DEGREE_STATS_SQL, bench=True)

from graphdb_neo4j_spark.operators import paths

register(
    "bfs_distances",
    lambda spark, sf: paths.q_bfs_distances(spark, sf),
    paths.bfs_distances_sql(),
)

from graphdb_neo4j_spark.operators import olap

register("pricing_summary", olap.q_pricing_summary, olap.PRICING_SUMMARY_SQL, bench=True)
register(
    "top_parts_by_revenue",
    olap.q_top_parts_by_revenue,
    olap.top_parts_by_revenue_sql(),
    bench=True,
)

register("token_stats", textstats.q_token_stats, textstats.TOKEN_STATS_SQL)
register("bpe_token_stats", textstats.q_bpe_token_stats, textstats.BPE_TOKEN_STATS_SQL)
register(
    "sequence_pack",
    lambda spark, sf: textstats.q_sequence_pack(spark, sf),
    textstats.sequence_pack_sql(),
    bench=True,
)
register(
    "frequent_tokens",
    lambda spark, sf: sketches.q_frequent_tokens(spark, sf),
    sketches.FREQUENT_TOKENS_SQL,
)

from graphdb_neo4j_spark.llmdata import scrub

register("pii_scrub", scrub.q_pii_scrub, scrub.PII_SCRUB_SQL, bench=True)
register(
    "contamination",
    lambda spark, sf: scrub.q_contamination(spark, sf),
    scrub.contamination_sql(),
    bench=True,
)
register("quality_scores", textstats.q_quality_scores, textstats.QUALITY_SCORES_SQL)
register("lang_id", textstats.q_lang_id, textstats.LANG_ID_SQL)
register("doc_fingerprint", textstats.q_doc_fingerprint, textstats.DOC_FINGERPRINT_SQL)
register(
    "tfidf_top_terms",
    lambda spark, sf: textstats.q_tfidf_top_terms(spark, sf),
    textstats.tfidf_top_terms_sql(),
)

# =============================================================================
# (r3-green families below; window membership is decided by R5_WINDOW)
# =============================================================================

register(
    "doc_chunks",
    lambda spark, sf: textstats.q_doc_chunks(spark, sf),
    textstats.doc_chunks_sql(),
)

# --- §2.2 projection / filter / point lookup + §2.4 simple aggs --------------
from graphdb_neo4j_spark.operators import lookup

register("node_names", lookup.q_node_names, lookup.NODE_NAMES_SQL)
register("point_lookup", lookup.q_point_lookup, lookup.point_lookup_sql())
register("exists_probe", lookup.q_exists, lookup.exists_sql())
register("name_ci_lookup", lookup.q_name_ci_lookup, lookup.name_ci_lookup_sql())
register("max_id", lookup.q_max_id, lookup.MAX_ID_SQL)
register("count_nodes", lookup.q_count_nodes, lookup.COUNT_NODES_SQL)
register("top_acctbal", lookup.q_top_acctbal, lookup.top_acctbal_sql())

# --- §2.1/§2.3 edge derivation (S5/S7, J1/J2) --------------------------------
from graphdb_neo4j_spark.operators import edges

register(
    "edges_same_college",
    edges.q_edges_same_college,
    edges.EDGES_SAME_COLLEGE_SQL,
    bench=True,
)
register("edge_counts_by_type", edges.q_edge_counts_by_type, edges.EDGE_COUNTS_SQL, bench=True)
register(
    "edges_shares_interest",
    edges.q_edges_shares_interest,
    edges.edges_shares_interest_sql(),
)
register("merge_idempotent", edges.q_merge_idempotent, edges.MERGE_IDEMPOTENT_SQL)
# r9 debut: the bucketed-storage production layout for the same MERGE
# (zero-exchange anti-join over the staged table; same oracle)
register("merge_bucketed", edges.q_merge_bucketed, edges.MERGE_IDEMPOTENT_SQL)
register(
    "edges_with_common",
    lambda spark, sf: edges.q_edges_with_common(spark, sf),
    edges.edges_with_common_sql(),
)

# --- §2.1 write path (S3/S4), bulk normalize (S6), health (S8) ---------------
from graphdb_neo4j_spark.operators import ingest

register(
    "ingest_students", ingest.q_ingest_students, ingest.ingest_students_sql(), bench=True
)
register("normalized_nodes", ingest.q_normalized_nodes, ingest.NORMALIZED_NODES_SQL)
register("health_check", ingest.q_health, ingest.HEALTH_SQL)
register("create_user", ingest.q_create_user, ingest.CREATE_USER_SQL)
register(
    "interests_transformed",
    lookup.q_interests_transformed,
    lookup.INTERESTS_TRANSFORMED_SQL,
)

# --- §2.3 J4/J5 two-name relationship ----------------------------------------
from graphdb_neo4j_spark.operators.relationship import (
    common_interests_pair,
    common_interests_pair_sql,
    two_name_relationship,
    two_name_relationship_sql,
)

register(
    "two_name_relationship",
    lambda spark, sf: two_name_relationship(node_snapshot(spark, sf)),
    two_name_relationship_sql(),
)

# --- §2.7 F7 array intersection ----------------------------------------------
register(
    "common_interests_pair",
    lambda spark, sf: common_interests_pair(node_snapshot(spark, sf)),
    common_interests_pair_sql(),
)

# --- §2.9 U1 / §2.5 O3-O4 fuzzy search ---------------------------------------
register(
    "fuzzy_search_lev",
    fuzzy.q_fuzzy_search_lev,
    fuzzy.fuzzy_search_lev_sql(),
    bench=True,
)
register("fuzzy_best_match", fuzzy.q_fuzzy_best_match, fuzzy.fuzzy_best_match_sql())

# --- r4 additions (registered past the window on purpose — pytest-parity
# covered now, rotate into the driver window next round) ----------------------
register(
    "repetition_scores",
    textstats.q_repetition_scores,
    textstats.REPETITION_SCORES_SQL,
)
register(
    "stream_dedup",
    events_stream.q_stream_dedup,
    events_stream.STREAM_DEDUP_SQL,
)
register("lsh_neardup", simsearch.q_lsh_neardup, None)  # RNG bucketing
register(
    "holdout_split",
    filterset.q_holdout_split,
    filterset.holdout_split_sql(),
)
register(
    "unigram_logprob",
    textstats.q_unigram_logprob,
    textstats.UNIGRAM_LOGPROB_SQL,
)
register("funnel_counts", events.q_funnel_counts, events.FUNNEL_SQL, bench=True)
register("retention_cohorts", events.q_retention_cohorts, events.RETENTION_SQL)
register(
    "dedup_segments",
    lambda spark, sf: dedup.q_dedup_segments(spark, sf),
    dedup.dedup_segments_sql(),
    bench=True,
)
register(
    "stratified_sample",
    lambda spark, sf: filterset.q_stratified_sample(spark, sf),
    filterset.stratified_sample_sql(),
)
register(
    "semantic_dedup",
    lambda spark, sf: simsearch.q_semantic_dedup(spark, sf),
    simsearch.semantic_dedup_sql(),
)
register(
    "semantic_dedup_lsh",  # scale twin: bucketed pairs, no quadratic stage
    lambda spark, sf: simsearch.q_semantic_dedup_lsh(spark, sf),
    None,  # RNG-seeded LSH bucketing; refinement/co-cluster pytest pins it
)
register("events_quantiles", events.q_events_quantiles, events.EVENTS_QUANTILES_SQL)
register("rolling_daily", events.q_rolling_daily, events.ROLLING_DAILY_SQL)
register(
    "top_parts_per_nation",
    lambda spark, sf: olap.q_top_parts_per_nation(spark, sf),
    olap.top_parts_per_nation_sql(),
)
register("triangle_counts", graphalgo.q_triangle_counts, graphalgo.TRIANGLE_COUNTS_SQL, bench=True)
register(
    "ppmi_topk",
    lambda spark, sf: textstats.q_ppmi_topk(spark, sf),
    textstats.ppmi_topk_sql(),
    bench=True,
)
register("pq_search", simsearch.q_pq_search, None, bench=True)  # sample-fit codebooks; pytest recall

from graphdb_neo4j_spark.llmdata import bpe

register(
    "bpe_train",
    lambda spark, sf: bpe.q_bpe_train(spark, sf),
    None,  # iterative argmax loop — pytest pins parity with a pure-Python trainer
    bench=True,  # heavyweight: iterative merge-training loop
)
register("stream_funnel", events_stream.q_stream_funnel, events.FUNNEL_SQL)

from graphdb_neo4j_spark.llmdata import mixing

register(
    "temperature_sample",
    mixing.q_temperature_sample,
    mixing.temperature_sample_sql(),
)
register("training_order", mixing.q_training_order, mixing.training_order_sql())
register("bpe_encode", bpe.q_bpe_encode, None)  # iterative merge training
# r10 debut: the encode KERNEL with a fixed merge list — oracle-expressible
# (greedy merge ≡ rank-ordered replace chain, replayed verbatim in DuckDB),
# so the serving half of BPE is hash-matched; only the trainer loop stays
# rows-only (pure-Python parity)
register("bpe_encode_fixed", bpe.q_bpe_encode_fixed, bpe.BPE_ENCODE_FIXED_SQL)
register("interval_join", events.q_interval_join, events.INTERVAL_JOIN_SQL)
register(
    "shipping_priority",
    olap.q_shipping_priority,
    olap.shipping_priority_sql(),
    bench=True,  # the canonical selective 3-table join (TPC-H Q3 shape)
)
register(
    "nation_revenue",
    olap.q_nation_revenue,
    olap.nation_revenue_sql(),
    bench=True,  # 6-table broadcast-cascade join (TPC-H Q5 shape)
)
register(
    "late_shipment_priority",
    olap.q_late_shipment_priority,
    olap.LATE_SHIPMENT_PRIORITY_SQL,
)

from graphdb_neo4j_spark.llmdata import classifier

register(
    "quality_classifier",
    classifier.q_quality_classifier,
    classifier.quality_classifier_sql(),
    bench=True,  # the fasttext-shaped quality gate: explode + broadcast join
)
register(
    "quality_classifier_hashed",
    classifier.q_quality_classifier_hashed,
    classifier.quality_classifier_hashed_sql(),
)
register(
    "dedup_incremental",
    lambda spark, sf: dedup.q_dedup_incremental(spark, sf),
    dedup.dedup_incremental_sql(),
    bench=True,  # the continuous-ingest dedup shape: batch-vs-history only
)

from graphdb_neo4j_spark.llmdata import clustering

register("cluster_profile", clustering.q_cluster_profile, None)  # KMeans centroids
register(
    "cluster_balanced_sample",
    lambda spark, sf: clustering.q_cluster_balanced_sample(spark, sf),
    None,  # cluster ids are engine-specific; membership itself is the LCG
)
register("events_anomaly", events.q_events_anomaly, events.EVENTS_ANOMALY_SQL)
register(
    "bigram_logprob",
    textstats.q_bigram_logprob,
    textstats.BIGRAM_LOGPROB_SQL,
    bench=True,  # the LM-scoring ladder's transition model
)
register(
    "corpus_drift",
    textstats.q_corpus_drift,
    textstats.CORPUS_DRIFT_SQL,
    bench=True,  # the per-batch accept gate
)
register("cluster_outliers", clustering.q_cluster_outliers, None)  # KMeans placement

from graphdb_neo4j_spark.streaming import rollup_maintain

register(
    "stream_rollup",
    rollup_maintain.q_stream_rollup,
    events.EVENTS_HOURLY_SQL,  # incremental maintenance must be invisible
    bench=True,  # heavyweight: incremental rollup maintenance loop
)
register(
    "promo_revenue_disjunctive",
    olap.q_promo_revenue_disjunctive,
    olap.PROMO_REVENUE_DISJUNCTIVE_SQL,
    bench=True,  # the disjunctive-pushdown anchor
)
register(
    "quality_gate",
    lambda spark, sf: classifier.q_quality_gate(spark, sf),
    classifier.quality_gate_sql(),
    bench=True,
)
register("dedup_incremental_minhash", dedup.q_dedup_incremental_minhash, None)
# r11 debut: per-batch-doc memorization rate vs history at gram
# granularity — the profile read before span removal / decontamination
register("gram_novelty", dedup.q_gram_novelty, dedup.gram_novelty_sql())
# r11 debut: cross-source duplication burden matrix — near-dup pairs
# attributed to the unordered source pair of their endpoints
register(
    "dup_source_matrix", dedup.q_dup_source_matrix, dedup.dup_source_matrix_sql()
)
# r12 debut: eval-set contamination via near-duplicate pairs crossing the
# holdout split — the within-corpus leakage audit `contamination` (external
# benchmark, exact text) does not cover; names the offending train doc
register(
    "split_leakage", filterset.q_split_leakage, filterset.split_leakage_sql()
)
# r12 debut: the leakage REMEDIATION — holdout split with every near-dup
# component containing an eval doc moved entirely to eval (the one-pass
# fixpoint; pair-level moves would create new leakage transitively)
register(
    "holdout_split_repaired",
    filterset.q_holdout_split_repaired,
    filterset.holdout_split_repaired_sql(),
)
# r13 debut: one-row accounting for the leakage repair — how much train
# text the any-eval absorption moved (the eval-absorption guard's report
# form; q_holdout_split_repaired(max_moved_frac=...) enforces a bound)
register(
    "holdout_repair_stats",
    filterset.q_holdout_repair_stats,
    filterset.holdout_repair_stats_sql(),
)
register(
    "top_return_customers",
    olap.q_top_return_customers,
    olap.top_return_customers_sql(),
)
register("decontaminated", scrub.q_decontaminated, scrub.decontaminated_sql())
# r12 debut: paraphrase-level benchmark contamination — short-shingle
# Jaccard between the benchmark set and the corpus; the fuzzy complement
# of the exact 13-gram `contamination` channel
register(
    "contamination_neardup",
    scrub.q_contamination_neardup,
    scrub.contamination_neardup_sql(),
)
# r12 debut: the union remediation — docs clean on BOTH contamination
# channels (zero exact 13-gram collisions AND under the paraphrase bar)
register(
    "decontaminated_full",
    scrub.q_decontaminated_full,
    scrub.decontaminated_full_sql(),
)
# r13 debut: SEMANTIC benchmark contamination — bench×corpus embedding
# cosine over the broadcast benchmark side; catches full rewording that
# evades both lexical channels (exact 13-gram + paraphrase shingle)
register(
    "contamination_semantic",
    scrub.q_contamination_semantic,
    scrub.contamination_semantic_sql(),
)
# r13 debut: the THREE-channel remediation — docs clean on exact,
# paraphrase, and semantic contamination; always ⊆ decontaminated_full
register(
    "decontaminated_semantic",
    scrub.q_decontaminated_semantic,
    scrub.decontaminated_semantic_sql(),
)
# r13 debut: LSH-bucketed scale twin of contamination_semantic — the
# sub-linear path when |bench| grows; rows-only (hyperplane RNG decides
# candidates; exact twin stays the oracle-checked baseline)
register(
    "contamination_semantic_lsh", scrub.q_contamination_semantic_lsh, None
)
# r13 debut: per-channel contamination dashboard — flagged-doc counts for
# exact / paraphrase / semantic + the union, one pass per channel
register(
    "contamination_report",
    scrub.q_contamination_report,
    scrub.contamination_report_sql(),
)
register(
    "stream_anomaly",
    rollup_maintain.q_stream_anomaly,
    events.EVENTS_ANOMALY_SQL,  # maintenance must be invisible
)
register("domain_stats", scrub.q_domain_stats, scrub.DOMAIN_STATS_SQL)
register("forecast_revenue", olap.q_forecast_revenue, olap.FORECAST_REVENUE_SQL, bench=True)
register(
    "source_scorecard",
    classifier.q_source_scorecard,
    classifier.source_scorecard_sql(),
)
# oracle-PROMOTED r10 (VERDICT r9 #4): counters now use the portable
# md5-prefix bucket, so DuckDB rebuilds the depth×width table bit-identically
register("token_cms", sketches.q_token_cms, sketches.TOKEN_CMS_SQL)
register(
    "dedup_incremental_exact",
    dedup.q_dedup_incremental_exact,
    dedup.DEDUP_INCREMENTAL_EXACT_SQL,  # bloom is a pre-filter; answer exact
)
register(
    "group_sample",
    lambda spark, sf: filterset.q_group_sample(spark, sf),
    filterset.group_sample_sql(),
)
register("integrity_check", olap.q_integrity_check, olap.INTEGRITY_CHECK_SQL)
register("value_histogram", events.q_value_histogram, events.VALUE_HISTOGRAM_SQL)
register("asof_forward", events.q_asof_forward, events.ASOF_FORWARD_SQL)
register("user_profile", events.q_user_profile, events.USER_PROFILE_SQL)
register(
    "dedup_components_incremental",
    lambda spark, sf: dedup.q_dedup_components_incremental(spark, sf),
    dedup.dedup_components_sql(),  # the fold must equal a fresh clustering
)
register(
    "stream_sessionize",
    rollup_maintain.q_stream_sessionize,
    events.SESSIONIZE_SQL,  # batch boundaries must be invisible
    bench=True,  # heavyweight: stateful session maintenance
)
register(
    "mix_plan",
    lambda spark, sf: classifier.q_mix_plan(spark, sf),
    classifier.mix_plan_sql(),
)
register("knn_join", simsearch.q_knn_join, simsearch.knn_join_sql(), bench=True)
register("distinct_rollup", sketches.q_distinct_rollup, None)  # sketch estimates
register(
    "dedup_spans",
    lambda spark, sf: dedup.q_dedup_spans(spark, sf),
    dedup.dedup_spans_sql(),
    bench=True,  # overlapping-gram df join — the exact-substring scale path
)
register(
    "dedup_snm",
    lambda spark, sf: dedup.q_dedup_snm(spark, sf),
    dedup.dedup_snm_sql(),
)
# r9 debut: the REMOVAL step of exact substring dedup — the cleaned
# corpus (keep-one contract, Lee et al. 2022); spans REPORTS, this CUTS
register(
    "dedup_span_removal",
    lambda spark, sf: dedup.q_dedup_span_removal(spark, sf),
    dedup.dedup_span_removal_sql(),
    bench=True,  # the cleaned-corpus production op — perf tracked per round
)
# r9 debut: the incremental form — clean the new batch against history
# (history-priority keep-one; batch text is the only reconstruction input)
register(
    "dedup_span_removal_incremental",
    lambda spark, sf: dedup.q_dedup_span_removal_incremental(spark, sf),
    dedup.dedup_span_removal_incremental_sql(),
)

from graphdb_neo4j_spark.llmdata import textsearch

register(
    "bm25_search",
    lambda spark, sf: textsearch.q_bm25_search(spark, sf),
    textsearch.bm25_search_sql(),
    bench=True,  # retrieval counterpart of the similarity-search family
)
register("gap_fill", events.q_gap_fill, events.GAP_FILL_SQL)

from graphdb_neo4j_spark.operators import scd

register("scd2_customers", scd.q_scd2_customers, scd.SCD2_CUSTOMERS_SQL, bench=True)
register(
    "weighted_sample",
    lambda spark, sf: mixing.q_weighted_sample(spark, sf),
    mixing.weighted_sample_sql(),
)
register(
    "hybrid_search",
    lambda spark, sf: textsearch.q_hybrid_search(spark, sf),
    textsearch.hybrid_search_sql(),
)

# --- TPC-H decision-support shapes: semi/anti/correlated-subquery family -----
register(
    "order_priority_check",
    olap.q_order_priority_check,
    olap.ORDER_PRIORITY_CHECK_SQL,
    bench=True,  # the EXISTS-against-the-fact-table anchor
)
register(
    "dormant_customers",
    olap.q_dormant_customers,
    olap.DORMANT_CUSTOMERS_SQL,
)
register(
    "small_lot_revenue",
    lambda spark, sf: olap.q_small_lot_revenue(spark, sf),
    olap.small_lot_revenue_sql(),
)
register(
    "big_orders",
    lambda spark, sf: olap.q_big_orders(spark, sf),
    olap.big_orders_sql(),
)
register(
    "brand_supplier_counts",
    lambda spark, sf: olap.q_brand_supplier_counts(spark, sf),
    olap.brand_supplier_counts_sql(),
)

# --- graph-DS node similarity + native stream-stream join --------------------
register(
    "node_similarity",
    lambda spark, sf: graphalgo.q_node_similarity(spark, sf),
    graphalgo.node_similarity_sql(),
    bench=True,  # GDS nodeSimilarity shape: token equi-join, per-node top-k
)
register(
    "stream_interval",
    events_stream.q_stream_interval,
    events_stream.STREAM_INTERVAL_SQL,
)

# --- pivot, set operations, quality-ranked canonical selection ---------------
register("events_pivot", events.q_events_pivot, events.EVENTS_PIVOT_SQL)
register("segment_overlap", events.q_segment_overlap, events.SEGMENT_OVERLAP_SQL)
register(
    "dedup_representatives",
    lambda spark, sf: dedup.q_dedup_representatives(spark, sf),
    dedup.dedup_representatives_sql(),
)
register("revenue_rollup", olap.q_revenue_rollup, olap.REVENUE_ROLLUP_SQL)
register(
    "balance_ntiles",
    lambda spark, sf: olap.q_balance_ntiles(spark, sf),
    olap.balance_ntiles_sql(),
)
register("events_unpivot", events.q_events_unpivot, events.EVENTS_UNPIVOT_SQL)
register(
    "graph_components",
    lambda spark, sf: graphalgo.q_graph_components(spark, sf),
    # r8: oracle-promoted — NOT via the transitive closure (infeasible at
    # this density, the pre-r8 rows-only reason) but by unrolling the
    # bipartite min-label propagation itself, one materialized CTE level
    # per round; equal by construction whether or not the Spark loop
    # early-stops (see graph_components_sql). Union-find parity pytest
    # kept as the independent cross-check.
    graphalgo.graph_components_sql(),
    bench=True,  # heavyweight: iterative min-label propagation
)
register(
    "order_count_distribution",
    olap.q_order_count_distribution,
    olap.ORDER_COUNT_DISTRIBUTION_SQL,
)
register(
    "lone_late_supplier",
    lambda spark, sf: olap.q_lone_late_supplier(spark, sf),
    olap.lone_late_supplier_sql(),
)
register(
    "event_transitions",
    events.q_event_transitions,
    events.EVENT_TRANSITIONS_SQL,
)

from graphdb_neo4j_spark.llmdata import pca

register(
    "embedding_pca",
    lambda spark, sf: pca.q_embedding_pca(spark, sf),
    None,  # float partial sums are partitioning-sensitive; numpy parity
    # + basis invariants pinned in tests/test_pca.py
)
register(
    "cumulative_revenue",
    olap.q_cumulative_revenue,
    olap.CUMULATIVE_REVENUE_SQL,
)
register(
    "session_paths",
    lambda spark, sf: events.q_session_paths(spark, sf),
    events.session_paths_sql(),
)
register(
    "cheapest_supplier_per_part",
    lambda spark, sf: olap.q_cheapest_supplier_per_part(spark, sf),
    olap.cheapest_supplier_per_part_sql(),
)
register(
    "cluster_medoids",
    clustering.q_cluster_medoids,
    None,  # KMeans placement engine-specific; medoid exactness
    # brute-force-pinned in tests/test_clustering.py
)
register(
    "stream_transitions",
    events_stream.q_stream_transitions,
    events.EVENT_TRANSITIONS_SQL,  # batch boundaries must be invisible
)
register(
    "pagerank_ppr",
    graphalgo.q_pagerank_ppr,
    graphalgo.pagerank_ppr_sql(),  # seeded unrolled-CTE twin of the global oracle
    bench=True,  # heavyweight: seeded power iteration
)
register(
    "label_propagation",
    graphalgo.q_label_propagation,
    graphalgo.label_propagation_sql(),  # deterministic sync LPA, unrolled CTE
    bench=True,  # heavyweight: iterative label frequency argmax
)
register(
    "embedding_quantize",
    simsearch.q_embedding_quantize,
    simsearch.EMBEDDING_QUANTIZE_SQL,  # int8 codes + reconstruction error
)
register(
    "dsir_weights",
    classifier.q_dsir_weights,
    classifier.dsir_weights_sql(),  # hashed-unigram importance model replayed
)
register("events_ohlc", events.q_events_ohlc, events.EVENTS_OHLC_SQL)
register(
    "table_profile",
    textstats.q_table_profile,
    textstats.table_profile_sql(),
)
register(
    "weighted_distances",
    lambda spark, sf: paths.q_weighted_distances(spark, sf),
    # r8 (VERDICT r7 #4): oracle-promoted — the bounded-round min-plus
    # fixpoint unrolls into one MIN-per-id CTE level per round (a
    # recursive CTE would enumerate every ≤6-hop path); bit-exact by
    # induction, see weighted_distances_sql. Dijkstra parity additionally
    # pinned in tests/test_paths.py.
    paths.weighted_distances_sql(),
)
register(
    "k_anonymity",
    lambda spark, sf: lookup.q_k_anonymity(spark, sf),
    lookup.k_anonymity_sql(),
)
register("cdc_apply", scd.q_cdc_apply, scd.CDC_APPLY_SQL)
register(
    "basket_affinity",
    lambda spark, sf: olap.q_basket_affinity(spark, sf),
    olap.basket_affinity_sql(),
)
register("pareto_revenue", olap.q_pareto_revenue, olap.PARETO_REVENUE_SQL)
register(
    "top_supplier",
    lambda spark, sf: olap.q_top_supplier(spark, sf),
    olap.top_supplier_sql(),
)
register("ship_latency", olap.q_ship_latency, olap.SHIP_LATENCY_SQL)
register(
    "sequence_match",
    lambda spark, sf: events.q_sequence_match(spark, sf),
    events.sequence_match_sql(),
)
register(
    "stream_ohlc",
    events_stream.q_stream_ohlc,
    events.EVENTS_OHLC_SQL,  # availableNow must equal the batch bars
)
register("conversion_lag", events.q_conversion_lag, events.CONVERSION_LAG_SQL)
register(
    "bfs_unbounded",
    lambda spark, sf: paths.q_bfs_unbounded(spark, sf),
    paths.bfs_unbounded_sql(),  # recursive-CTE fixpoint mirror
    bench=True,  # r6: clique-factored walk — the iterative-graph bench point
)
register("events_hopping", events.q_events_hopping, events.EVENTS_HOPPING_SQL)
register(
    "stream_hopping",
    events_stream.q_stream_hopping,
    events.EVENTS_HOPPING_SQL,  # availableNow must equal the batch windows
)
register(
    "temporal_join", scd.q_temporal_join, scd.TEMPORAL_JOIN_SQL, bench=True
)  # r6: SCD2 window-build bench point
register(
    "stream_enrich",
    events_stream.q_stream_enrich,
    events_stream.STREAM_ENRICH_SQL,  # stream-static join ≡ the batch join
    bench=True,  # r6: the stream-static join bench point
)
register(
    "volume_shipping",
    lambda spark, sf: olap.q_volume_shipping(spark, sf),
    olap.volume_shipping_sql(),  # TPC-H Q7 shape
    bench=True,  # r6: the TPC-H join-cascade bench points
)
register(
    "market_share",
    lambda spark, sf: olap.q_market_share(spark, sf),
    olap.market_share_sql(),  # TPC-H Q8 shape
    bench=True,
)
register(
    "product_profit",
    lambda spark, sf: olap.q_product_profit(spark, sf),
    olap.product_profit_sql(),  # TPC-H Q9 shape (p_retailprice as unit cost)
    bench=True,
)
register(
    "user_erasure",
    lambda spark, sf: olap.q_user_erasure(spark, sf),
    olap.user_erasure_sql(),  # GDPR deletion inventory
)

# =============================================================================
# R5 WINDOW — HISTORY (r5's driver window, all 50 recorded in
# CORRECTNESS_r05: 46 hash-green, 4 rows-only by design). Kept as the
# no-overlap guard for the r6 window below; not used for flushing.
# =============================================================================

R5_WINDOW = [
    # Structured Streaming continuous aggregates (7)
    "stream_rollup",
    "stream_anomaly",
    "stream_sessionize",
    "stream_funnel",
    "stream_dedup",
    "stream_interval",
    "stream_transitions",
    # incremental dedup (4; _minhash is rows-only by design)
    "dedup_incremental",
    "dedup_incremental_exact",
    "dedup_incremental_minhash",
    "dedup_components_incremental",
    # quality classifier / gate family (3)
    "quality_classifier",
    "quality_classifier_hashed",
    "quality_gate",
    # LM scoring ladder + drift gate (2)
    "bigram_logprob",
    "corpus_drift",
    # events anomaly (1)
    "events_anomaly",
    # OLAP join/subquery families (16)
    "shipping_priority",
    "nation_revenue",
    "late_shipment_priority",
    "promo_revenue_disjunctive",
    "top_return_customers",
    "order_priority_check",
    "dormant_customers",
    "small_lot_revenue",
    "big_orders",
    "brand_supplier_counts",
    "order_count_distribution",
    "lone_late_supplier",
    "cheapest_supplier_per_part",
    "revenue_rollup",
    "balance_ntiles",
    "cumulative_revenue",
    # graph analytics (3; graph_components was rows-only until its r8 oracle promotion)
    "node_similarity",
    "graph_components",
    "dedup_representatives",
    # events shapes (5)
    "events_pivot",
    "events_unpivot",
    "segment_overlap",
    "event_transitions",
    "session_paths",
    # embedding analytics (2; both rows-only by design)
    "embedding_pca",
    "cluster_medoids",
    # retrieval (2)
    "bm25_search",
    "hybrid_search",
    # interval fill, SCD2, sampling, hygiene (5)
    "gap_fill",
    "scd2_customers",
    "weighted_sample",
    "decontaminated",
    "domain_stats",
]

# =============================================================================
# R6 WINDOW — the first 50 names the driver's correctness harness records
# THIS round. Every name here had no driver row across r1-r5 (in-repo
# pytest parity only); prior greens flush after, in source order.
#
# The window-contract checks below raise explicitly (not `assert`): they
# guard a registration-order contract with the driver, and asserts are
# stripped under `python -O`, which would silently shift the 50-query
# correctness window.
# =============================================================================

R6_WINDOW = [
    "repetition_scores",
    "holdout_split",
    "unigram_logprob",
    "funnel_counts",
    "retention_cohorts",
    "dedup_segments",
    "stratified_sample",
    "semantic_dedup",
    "events_quantiles",
    "rolling_daily",
    "top_parts_per_nation",
    "triangle_counts",
    "ppmi_topk",
    "temperature_sample",
    "training_order",
    "interval_join",
    "forecast_revenue",
    "source_scorecard",
    "group_sample",
    "integrity_check",
    "value_histogram",
    "asof_forward",
    "user_profile",
    "mix_plan",
    "knn_join",
    "dedup_spans",
    "dedup_snm",
    "pagerank_ppr",
    "label_propagation",
    "embedding_quantize",
    "dsir_weights",
    "events_ohlc",
    "table_profile",
    "k_anonymity",
    "cdc_apply",
    "basket_affinity",
    "pareto_revenue",
    "top_supplier",
    "ship_latency",
    "sequence_match",
    "stream_ohlc",
    "conversion_lag",
    "bfs_unbounded",
    "events_hopping",
    "stream_hopping",
    "temporal_join",
    "stream_enrich",
    "volume_shipping",
    "market_share",
    "product_profit",
]

if len(R6_WINDOW) != 50:
    raise RuntimeError(f"R6_WINDOW must name exactly 50 queries, got {len(R6_WINDOW)}")
if set(R6_WINDOW) & set(R5_WINDOW):
    raise RuntimeError(f"r6 window overlaps r5: {sorted(set(R6_WINDOW) & set(R5_WINDOW))}")

# =============================================================================
# R7 WINDOW — the 50 names the driver's correctness harness records THIS
# round, in three blocks (order matters: debuts and re-checks first, in
# case the driver ever records fewer than 50):
#
# 1. R7_DEBUTS (12): the only registered queries still without a driver
#    row after r6 — the rows-only registrations (no SQL oracle by design:
#    RNG bucketing, engine hashing, KMeans placement, float partial sums;
#    each pinned in pytest against an independent implementation) plus
#    the oracle-backed ``user_erasure``. After these, every one of the
#    184 registered queries has a driver row and the rotation program
#    ends.
# 2. R7_DTYPE_RECHECKS (4): the r6 hash-fails that were bit-identical to
#    DuckDB but differed in pandas dtype (DuckDB SUM(BIGINT)->HUGEINT /
#    FLOOR()->DOUBLE render float64 vs Spark int64). Their oracles now
#    carry CAST(... AS BIGINT); re-windowed to convert the 4 red rows to
#    green. ``tests/oracle_utils.assert_dtype_kinds_match`` now sweeps
#    all 160 oracles so the class can't recur.
# 3. R7_REGRESSION_RECHECKS (34): steady-state regression sweep,
#    oldest-green-first (the r3 reference-surface families, then r4
#    greens in source order) — all oracle-backed, all green in a prior
#    driver round and in every in-repo parity run since.
# =============================================================================

R7_DEBUTS = [
    "lsh_neardup",
    "pq_search",
    "bpe_train",
    "bpe_encode",
    "cluster_profile",
    "cluster_balanced_sample",
    "cluster_outliers",
    "token_cms",
    "distinct_rollup",
    "weighted_distances",
    "user_erasure",
    "semantic_dedup_lsh",  # r6 addition (rows-only scale twin)
]

R7_DTYPE_RECHECKS = [
    "rolling_daily",
    "temperature_sample",
    "table_profile",
    "k_anonymity",
]

R7_REGRESSION_RECHECKS = [
    # r3 greens: the reference-surface families (oldest first)
    "node_names",
    "point_lookup",
    "exists_probe",
    "name_ci_lookup",
    "max_id",
    "count_nodes",
    "top_acctbal",
    "edges_same_college",
    "edge_counts_by_type",
    "edges_shares_interest",
    "merge_idempotent",
    "edges_with_common",
    "ingest_students",
    "normalized_nodes",
    "health_check",
    "create_user",
    "interests_transformed",
    "two_name_relationship",
    "common_interests_pair",
    "fuzzy_search_lev",
    "fuzzy_best_match",
    # r4 greens, source order
    "recommend_people",
    "dedup_exact",
    "dedup_jaccard",
    "dedup_components",
    "training_filter",
    "knn_anchor",
    "degree_stats",
    "bfs_distances",
    "pricing_summary",
    "top_parts_by_revenue",
    "token_stats",
    "pii_scrub",
    "lang_id",
]

R7_WINDOW = R7_DEBUTS + R7_DTYPE_RECHECKS + R7_REGRESSION_RECHECKS

if len(R7_DEBUTS) != 12:
    raise RuntimeError(f"R7_DEBUTS must name 12 queries, got {len(R7_DEBUTS)}")
if len(R7_WINDOW) != 50:
    raise RuntimeError(f"R7_WINDOW must name exactly 50 queries, got {len(R7_WINDOW)}")
if len(set(R7_WINDOW)) != 50:
    raise RuntimeError("R7_WINDOW contains duplicates")
if set(R7_DEBUTS) & (set(R6_WINDOW) | set(R5_WINDOW)):
    raise RuntimeError("r7 debuts overlap an earlier window (they must be first-timers)")
_not_rechecks = [n for n in R7_DTYPE_RECHECKS if n not in R6_WINDOW]
if _not_rechecks:
    raise RuntimeError(f"dtype re-checks must come from the r6 window: {_not_rechecks}")
_missing = [n for n in R7_WINDOW if n not in _PENDING]
if _missing:
    raise RuntimeError(f"R7_WINDOW names not defined: {_missing}")

# =============================================================================
# R8 WINDOW — the 50 names the driver's correctness harness records THIS
# round, executing the plan staged in r7 (oldest-green-first) with the
# changed-queries-first rule applied (the r7 precedent: the 4 dtype
# re-checks). Two blocks:
#
# 1. R8_CHANGED (2): queries whose registration materially changed in
#    r8 and therefore need a FRESH driver row — ``weighted_distances``
#    (oracle-PROMOTED: rows-only → DuckDB min-plus unroll, VERDICT r7
#    #4) and ``graph_components`` (oracle-PROMOTED: rows-only → the
#    bipartite min-label propagation unrolled as materialized CTE
#    levels). Their prior rows were rows-only, so the hash checks have
#    never run at the driver.
# 2. R8_STEADY (48): the staged steady-state regression sweep,
#    oldest-green-first — the r4 greens not among R7's 34 re-checks,
#    then the oldest r5 greens in source order. The two names the
#    changed-first swaps displace (``quality_classifier`` and
#    ``dedup_components_incremental``, the NEWEST greens in the staged
#    list) move to the front of the r9 plan.
#
# r9 takes the next 50 of the pool (displaced + rest of R5_WINDOW +
# R6_WINDOW names not re-checked since), and the cycle repeats.
# =============================================================================

R8_CHANGED = [
    "weighted_distances",
    "graph_components",
]

R8_STEADY = [
    # r4 greens never re-checked since (38)
    "events_hourly", "events_json", "events_cube", "sessionize",
    "asof_join", "events_rollup_serve", "stream_hourly", "stream_sessions",
    "stream_user_counts", "stream_asof", "stream_json", "nl_single_name",
    "nl_two_name", "nl_codegen_count", "multimodal_stats", "image_meta",
    "asset_features", "image_resize_plan", "frame_sample", "ann_search",
    "embedding_norms", "ivf_search", "sketch_profile", "pagerank",
    "pagerank_factored", "fuzzy_search_indel", "dedup_minhash",
    "dedup_simhash", "winnowing_fingerprint", "cosine_neardup",
    "bpe_token_stats", "sequence_pack", "frequent_tokens", "contamination",
    "quality_scores", "doc_fingerprint", "tfidf_top_terms", "doc_chunks",
    # oldest r5 greens (10) — incl. the queries whose internals the r7
    # compression work touched (they re-verify in-repo every run, but a
    # fresh driver row after a change is the steady-state contract)
    "stream_rollup", "stream_anomaly", "stream_sessionize", "stream_funnel",
    "stream_dedup", "stream_interval", "stream_transitions",
    "dedup_incremental", "dedup_incremental_exact",
    "dedup_incremental_minhash",
]

R8_WINDOW = R8_CHANGED + R8_STEADY

if len(R8_WINDOW) != 50:
    raise RuntimeError(f"R8_WINDOW must name exactly 50 queries, got {len(R8_WINDOW)}")
if len(set(R8_WINDOW)) != 50:
    raise RuntimeError("R8_WINDOW contains duplicates")
if set(R8_STEADY) & set(R7_WINDOW):
    raise RuntimeError("r8 steady block overlaps the r7 window (steady-state = oldest first)")
_missing = [n for n in R8_WINDOW if n not in _PENDING]
if _missing:
    raise RuntimeError(f"R8_WINDOW names not defined: {_missing}")

# =============================================================================
# R9 WINDOW — the 50 names the driver's correctness harness records THIS
# round. Two blocks, per the standing changed-queries-first rule:
#
# 1. R9_CHANGED (6): the r9 DEBUTS ``merge_bucketed`` (the bucketed-
#    storage MERGE production path — zero-exchange anti-join over the
#    staged table, same oracle as merge_idempotent; needs its FIRST
#    driver row) and the ``dedup_span_removal`` pair (the cleaned
#    corpus — keep-one substring-dedup removal — and its incremental
#    batch-vs-history form; exploded-anti-join DuckDB oracles), plus
#    registrations that materially changed in r9 —
#    ``stream_user_counts`` (oracle-PROMOTED: rows-only → max-per-user
#    reduction over the monotone update emissions, oracled by the batch
#    COUNT(*) GROUP BY — VERDICT r8 #2), and ``graph_components`` /
#    ``weighted_distances`` (construct-time restructure: changed-flag
#    folded into the lazily-checkpointed per-round frame, fused round 1 —
#    VERDICT r8 #3; the relax function is algebraically unchanged so the
#    unrolled SQL oracles still mirror it, but a restructured loop needs
#    a fresh driver row). The latter three were in R8_WINDOW;
#    changed-first overrides the no-repeat rule (the r8 precedent).
# 2. R9_STEADY (44): the staged steady-state sweep from last round's
#    R9_WINDOW_PLAN, oldest-green-first. The 6 names the changed-first
#    swaps displace (``dedup_segments``, ``stratified_sample``,
#    ``semantic_dedup``, ``events_quantiles``, ``top_parts_per_nation``,
#    ``triangle_counts`` — the NEWEST greens in the staged list) move to
#    the front of the r10 plan.
# =============================================================================

R9_CHANGED = [
    # r9 DEBUTS (need their first driver row): the bucketed-storage MERGE
    # production path (same oracle as merge_idempotent) and the
    # duplicated-span REMOVAL pair (the cleaned corpus, keep-one
    # contract, plus its incremental batch-vs-history form — both with
    # exploded-anti-join DuckDB oracles)
    "merge_bucketed",
    "dedup_span_removal",
    "dedup_span_removal_incremental",
    "stream_user_counts",
    "graph_components",
    "weighted_distances",
]

R9_STEADY = [
    # displaced from the staged r8 list by the r8 changed-first swaps (2)
    "quality_classifier", "dedup_components_incremental",
    # rest of the r5 greens, source order (37)
    "quality_classifier_hashed", "quality_gate", "bigram_logprob",
    "corpus_drift", "events_anomaly", "shipping_priority", "nation_revenue",
    "late_shipment_priority", "promo_revenue_disjunctive",
    "top_return_customers", "order_priority_check", "dormant_customers",
    "small_lot_revenue", "big_orders", "brand_supplier_counts",
    "order_count_distribution", "lone_late_supplier",
    "cheapest_supplier_per_part", "revenue_rollup", "balance_ntiles",
    "cumulative_revenue", "node_similarity",
    "dedup_representatives", "events_pivot", "events_unpivot",
    "segment_overlap", "event_transitions", "session_paths",
    "embedding_pca", "cluster_medoids", "bm25_search", "hybrid_search",
    "gap_fill", "scd2_customers", "weighted_sample", "decontaminated",
    "domain_stats",
    # oldest r6 greens, source order, minus the r7 dtype re-checks (5;
    # semantic_dedup displaced to the r10 plan by the merge_bucketed
    # debut, stratified_sample / dedup_segments by the two
    # dedup_span_removal* debuts)
    "repetition_scores", "holdout_split", "unigram_logprob",
    "funnel_counts", "retention_cohorts",
]

R9_WINDOW = R9_CHANGED + R9_STEADY

if len(R9_WINDOW) != 50:
    raise RuntimeError(f"R9_WINDOW must name exactly 50 queries, got {len(R9_WINDOW)}")
if len(set(R9_WINDOW)) != 50:
    raise RuntimeError("R9_WINDOW contains duplicates")
if set(R9_STEADY) & set(R8_WINDOW):
    raise RuntimeError("r9 steady block overlaps the r8 window (steady-state = oldest first)")
_missing = [n for n in R9_WINDOW if n not in _PENDING]
if _missing:
    raise RuntimeError(f"R9_WINDOW names not defined: {_missing}")

# =============================================================================
# R10 WINDOW — the 50 names the driver's correctness harness records THIS
# round. Two blocks, per the standing changed-queries-first rule:
#
# 1. R10_CHANGED (9): the span-removal pair — materially changed in r10
#    (keep-first rank windows replaced by the mergeable
#    min(struct(doc_id, start)) reduction riding the gram-df agg,
#    VERDICT r9 #1; the DuckDB oracles are algebraically unchanged and
#    late-r9's shared SQL template, 99a63d5, gets its driver re-check
#    too), ``token_cms`` (oracle-PROMOTED: counters rebuilt on the
#    portable md5-prefix bucket so the depth×width table is
#    bit-identical cross-engine — VERDICT r9 #4), and the r10 DEBUT
#    ``bpe_encode_fixed`` (the BPE encode kernel under a FIXED merge
#    list — greedy merge ≡ rank-ordered replace chain, replayed
#    verbatim in DuckDB; needs its FIRST driver row). The span pair was
#    in R9_WINDOW; changed-first overrides the no-repeat rule (the
#    r8/r9 precedent).
# 2. R10_STEADY (41; the runtime length asserts below are authoritative):
#    the staged steady-state sweep from last round's
#    R10_WINDOW_PLAN, oldest-green-first. The 7 names the changed-first
#    swaps displace (``knn_anchor``, ``degree_stats``,
#    ``bfs_distances``, ``pricing_summary``, then ``recommend_people``,
#    ``product_profit``, ``market_share`` for the late-r10 promotions
#    and de-windowing re-checks — the NEWEST non-changed greens in the
#    staged list) move to the front of the r11 plan.
# =============================================================================

R10_CHANGED = [
    "dedup_span_removal",
    "dedup_span_removal_incremental",
    "token_cms",
    "bpe_encode_fixed",
    # late-r10 oracle promotions (VERDICT r9 #4, continued): both queries
    # switched to the portable md5-prefix hash and gained DuckDB oracles —
    # changed-first puts their FIRST hash rows in this window.
    "dedup_simhash",
    "winnowing_fingerprint",
    # late-r10 hot-key de-windowing (the span-family `weak` class closed
    # repo-wide): exact_dup_members' min-per-key rewrite is inherited by
    # the components/training_filter chain, and dedup_representatives'
    # argmax became a mergeable max_by — changed-first pulls all three
    # back in. Net displacement vs the staged plan: recommend_people,
    # product_profit, market_share → front of the r11 plan.
    "dedup_components",
    "training_filter",
    "dedup_representatives",
]

R10_STEADY = [
    # displaced from the staged r9 list by the r9 changed-first swaps and
    # debuts (6)
    "dedup_segments", "stratified_sample", "semantic_dedup",
    "events_quantiles", "top_parts_per_nation", "triangle_counts",
    # last driver row r6, source order (10)
    "ppmi_topk", "training_order", "interval_join", "forecast_revenue",
    "source_scorecard", "group_sample", "integrity_check",
    "value_histogram", "asof_forward", "user_profile",
    # last driver row r6, source order (continued, 25)
    "mix_plan", "knn_join", "dedup_spans", "dedup_snm", "pagerank_ppr",
    "label_propagation", "embedding_quantize", "dsir_weights",
    "events_ohlc", "cdc_apply", "basket_affinity", "pareto_revenue",
    "top_supplier", "ship_latency", "sequence_match", "stream_ohlc",
    "conversion_lag", "bfs_unbounded", "events_hopping", "stream_hopping",
    "temporal_join", "stream_enrich", "volume_shipping",
    # oldest r7 rows, source order (2 of 43; knn_anchor / degree_stats /
    # bfs_distances / pricing_summary displaced to the r11 plan by the
    # r10 changed-first swaps, recommend_people / product_profit /
    # market_share by the late-r10 de-windowing re-checks — dedup_exact
    # and dedup_jaccard stay: both changed in the same sweep)
    "dedup_exact", "dedup_jaccard",
]

R10_WINDOW = R10_CHANGED + R10_STEADY

if len(R10_WINDOW) != 50:
    raise RuntimeError(f"R10_WINDOW must name exactly 50 queries, got {len(R10_WINDOW)}")
if len(set(R10_WINDOW)) != 50:
    raise RuntimeError("R10_WINDOW contains duplicates")
if set(R10_STEADY) & set(R9_WINDOW):
    raise RuntimeError("r10 steady block overlaps the r9 window (steady-state = oldest first)")
_missing = [n for n in R10_WINDOW if n not in _PENDING]
if _missing:
    raise RuntimeError(f"R10_WINDOW names not defined: {_missing}")

# =============================================================================
# R11 WINDOW — the 50 names the driver's correctness harness records THIS
# round: the staged R11 plan with the changed-first rule applied.
# Changed-first block (3 slots): the r11 DEBUTS ``gram_novelty``
# (per-batch-doc memorization rate vs history) and
# ``dup_source_matrix`` (cross-source duplication burden) — both need
# their FIRST driver rows — and ``degree_stats``, materially changed in
# r11 (shares_interest degree de-count_distinct'd into the a<b-halved
# distinct-pair explode, −28% min; PLANS.md round-11), which is
# ALREADY in this window via the displaced-from-r10 block, so only the
# debuts displace staged names (``sessionize`` and ``events_cube``,
# the newest, to the front of the r12 plan). The rest of the round's code work was
# bench-harness instrumentation (checksum consumer, canary-normalized
# ratios), store crash-recovery machinery (non-registered incremental
# paths, pytest-pinned), and the rows-only ledger. (The r10 outlier
# adjudication re-measured funnel_counts / bigram_logprob / knn_anchor
# without changing them — PLANS.md round-11.)
# Oldest-green-first: the 7 names R10's changed-first swaps displaced,
# then every query whose last driver row is r7, in catalog source order
# (39 names — the reference-surface families re-checked in r7's
# regression block plus the r7 rows-only debuts), then the oldest r8
# rows (source order; 3 fit after the debut displacement). (Counts are
# narrative; the length/overlap asserts below are authoritative.)
# =============================================================================

R11_WINDOW = [
    # r11 DEBUTS (first driver rows)
    "gram_novelty",
    "dup_source_matrix",
    # displaced from the staged r10 list by the r10 changed-first swaps (7)
    "recommend_people", "product_profit", "market_share",
    "knn_anchor", "degree_stats", "bfs_distances", "pricing_summary",
    # last driver row r7, catalog source order (39)
    "top_parts_by_revenue", "token_stats", "pii_scrub", "lang_id",
    "node_names", "point_lookup", "exists_probe", "name_ci_lookup",
    "max_id", "count_nodes", "top_acctbal", "edges_same_college",
    "edge_counts_by_type", "edges_shares_interest", "merge_idempotent",
    "edges_with_common", "ingest_students", "normalized_nodes",
    "health_check", "create_user", "interests_transformed",
    "two_name_relationship", "common_interests_pair", "fuzzy_search_lev",
    "fuzzy_best_match", "lsh_neardup", "semantic_dedup_lsh",
    "rolling_daily", "pq_search", "bpe_train", "temperature_sample",
    "bpe_encode", "cluster_profile", "cluster_balanced_sample",
    "cluster_outliers", "distinct_rollup", "table_profile",
    "k_anonymity", "user_erasure",
    # oldest r8 rows, source order (2; sessionize / events_cube
    # displaced to the r12 plan by the two debuts — and the rest opened
    # the r12 plan when asof_join / events_rollup_serve / stream_hourly
    # were dropped by the late-r10 changed-first displacements)
    "events_hourly", "events_json",
]

if len(R11_WINDOW) != 50:
    raise RuntimeError(f"R11_WINDOW must name 50 queries, got {len(R11_WINDOW)}")
if len(set(R11_WINDOW)) != 50:
    raise RuntimeError("R11_WINDOW contains duplicates")
if set(R11_WINDOW) & set(R10_WINDOW):
    raise RuntimeError("r11 window overlaps the r10 window (steady-state = oldest first)")
_missing = [n for n in R11_WINDOW if n not in _PENDING]
if _missing:
    raise RuntimeError(f"R11_WINDOW names not defined: {_missing}")

# =============================================================================
# R12 WINDOW — the 50 names the driver's correctness harness records THIS
# round: the staged r12 plan with the changed-first rule applied.
# Changed-first block (4 slots): the r12 DEBUTS ``split_leakage``
# (eval-set contamination via near-dup pairs crossing the holdout
# split), ``contamination_neardup`` (paraphrase-level benchmark
# contamination), ``decontaminated_full`` (the union remediation over
# both contamination channels), and ``holdout_split_repaired`` (the
# leakage remediation: component-level move-to-eval fixpoint) need
# their FIRST driver rows; they displace the four newest staged names
# (``events_anomaly``, ``corpus_drift``, ``bigram_logprob``,
# ``quality_gate``) to the front of the r13 plan. ``dedup_incremental`` — whose body moved
# verbatim into the shared ``cross_split_jaccard_pairs`` helper both
# debuts ride — is ALREADY in this window (r8 steady block). No other
# registered query's plan changed in r12: the bench-harness
# regime-stamp fix (bench.py only), the legacy-store grandfathering +
# pipeline append idempotency + the opt-in memorized gate
# (non-registered incremental/pipeline paths, pytest-pinned), and the
# VERDICT r11 #2 adjudication — which CLEARED `pagerank_factored` and
# `ppmi_topk` as host drift with NO code change (PLANS.md round-12),
# so neither re-enters out of turn.
# Oldest-green-first: the 3 names the late-r10 changed-first
# displacements pushed out of the staged r11 plan (``asof_join``,
# ``events_rollup_serve``, ``stream_hourly``) plus the 2 the r11 debuts
# displaced, then every query whose last driver row is r8, in
# R8_WINDOW source order (38 names), then the oldest r9 rows
# (R9_STEADY source order; 7 fit). (Counts are narrative; the asserts
# below are authoritative.)
# =============================================================================

R12_WINDOW = [
    # r12 DEBUTS (first driver rows)
    "split_leakage",
    "contamination_neardup",
    "decontaminated_full",
    "holdout_split_repaired",
    # displaced from the staged r11 plan by the r11 debuts (2) and the
    # late-r10 changed-first swaps (3)
    "events_cube", "sessionize",
    "asof_join", "events_rollup_serve", "stream_hourly",
    # last driver row r8, R8_WINDOW source order (38; stream_user_counts
    # re-checked r9, dedup_simhash / winnowing_fingerprint r10, and
    # events_hourly / events_json / events_cube / sessionize are in the
    # r11 window)
    "stream_sessions", "stream_asof", "stream_json", "nl_single_name",
    "nl_two_name", "nl_codegen_count", "multimodal_stats", "image_meta",
    "asset_features", "image_resize_plan", "frame_sample", "ann_search",
    "embedding_norms", "ivf_search", "sketch_profile", "pagerank",
    "pagerank_factored", "fuzzy_search_indel", "dedup_minhash",
    "cosine_neardup", "bpe_token_stats", "sequence_pack",
    "frequent_tokens", "contamination", "quality_scores",
    "doc_fingerprint", "tfidf_top_terms", "doc_chunks", "stream_rollup",
    "stream_anomaly", "stream_sessionize", "stream_funnel",
    "stream_dedup", "stream_interval", "stream_transitions",
    "dedup_incremental", "dedup_incremental_exact",
    "dedup_incremental_minhash",
    # oldest r9 rows, R9_STEADY source order (3; shipping_priority and
    # nation_revenue open the r13 pool, displaced by the carry-overs;
    # events_anomaly / corpus_drift / bigram_logprob / quality_gate —
    # the four newest staged names — displaced to the r13 front by the
    # four debuts)
    "quality_classifier", "dedup_components_incremental",
    "quality_classifier_hashed",
]

if len(R12_WINDOW) != 50:
    raise RuntimeError(f"R12_WINDOW must name 50 queries, got {len(R12_WINDOW)}")
if len(set(R12_WINDOW)) != 50:
    raise RuntimeError("R12_WINDOW contains duplicates")
if set(R12_WINDOW) & (set(R11_WINDOW) | set(R10_WINDOW)):
    raise RuntimeError("r12 window overlaps a recent window (steady-state = oldest first)")
_missing = [n for n in R12_WINDOW if n not in _PENDING]
if _missing:
    raise RuntimeError(f"R12_WINDOW names not defined: {_missing}")

# =============================================================================
# R13 WINDOW — the 50 names the driver's correctness harness records THIS
# round: the staged r13 plan with the changed-first rule applied.
# Changed-first block (5 slots): the r13 DEBUTS ``contamination_semantic``
# (embedding-cosine benchmark contamination — the full-rewording case
# both lexical channels miss, VERDICT r12 #4), ``decontaminated_semantic``
# (the three-channel remediation), ``contamination_semantic_lsh`` (the
# rows-only bucketed scale twin), ``contamination_report`` (the
# per-channel flagged-count dashboard), and ``holdout_repair_stats``
# (the eval-absorption accounting for the leakage repair, VERDICT r12
# #5) need their FIRST driver rows; they displace the five newest
# staged names (``training_filter``, ``dedup_representatives``,
# ``dedup_segments``, ``dedup_components``,
# ``winnowing_fingerprint``) to the front of the r14 plan. No other registered
# query's plan changed in the r13 BUILD phase: ``holdout_split_repaired``
# gained an opt-in ``max_moved_frac`` guard (default None = registered
# plan unchanged), and the round's other work was bench-harness pricing
# (the iterative warm-up rep, bench.py only), pipeline machinery (resume
# param stamping, the leakage audit/repair arms, the semantic gate arm —
# non-registered paths, pytest-pinned), and the minhash legacy-repair
# divergence fix. The r13 OPTIMIZATION phase then changed the PLANS (not
# the results — oracle rows re-proven in-repo, OPTIMIZATION_r13.md) of
# six queries: ``training_filter`` (fused row-local gates),
# ``degree_stats`` (broadcast size dims + union/groupBy assembly + pairs
# checkpoint), ``edge_counts_by_type``, ``node_similarity``,
# ``edges_shares_interest``, ``weighted_distances`` (shared-input
# checkpoints). ``node_similarity`` is already in this window;
# ``training_filter`` leads the staged r14 plan; the rest follow the
# changed-first rule at the r14 rotation. Oldest-green-first: the staged
# r13 plan order — the 4 names the r12 debuts displaced, then the r9
# rows, then the oldest r10 rows. (Counts are narrative; the asserts
# below are authoritative.)
# =============================================================================

R13_WINDOW = [
    # r13 DEBUTS (first driver rows; contamination_semantic_lsh is the
    # rows-only bucketed scale twin — ledgered, recall/identical-vector
    # pytests)
    "contamination_semantic",
    "decontaminated_semantic",
    "contamination_semantic_lsh",
    "contamination_report",
    "holdout_repair_stats",
    # displaced from the r12 window by the four r12 debuts (4)
    "events_anomaly", "corpus_drift", "bigram_logprob", "quality_gate",
    # last driver row r9, R9_STEADY source order (36)
    "shipping_priority", "nation_revenue",
    "late_shipment_priority", "promo_revenue_disjunctive",
    "top_return_customers", "order_priority_check", "dormant_customers",
    "small_lot_revenue", "big_orders", "brand_supplier_counts",
    "order_count_distribution", "lone_late_supplier",
    "cheapest_supplier_per_part", "revenue_rollup", "balance_ntiles",
    "cumulative_revenue", "node_similarity", "events_pivot",
    "events_unpivot", "segment_overlap", "event_transitions",
    "session_paths", "embedding_pca", "cluster_medoids", "bm25_search",
    "hybrid_search", "gap_fill", "scd2_customers", "weighted_sample",
    "decontaminated", "domain_stats", "repetition_scores",
    "holdout_split", "unigram_logprob", "funnel_counts",
    "retention_cohorts",
    # oldest r10 rows, R10_WINDOW source order (5; training_filter /
    # dedup_representatives / dedup_segments / dedup_components /
    # winnowing_fingerprint — the newest — lead the r14 plan, displaced
    # by the five r13 debuts)
    "dedup_span_removal", "dedup_span_removal_incremental", "token_cms",
    "bpe_encode_fixed", "dedup_simhash",
]

if len(R13_WINDOW) != 50:
    raise RuntimeError(f"R13_WINDOW must name 50 queries, got {len(R13_WINDOW)}")
if len(set(R13_WINDOW)) != 50:
    raise RuntimeError("R13_WINDOW contains duplicates")
if set(R13_WINDOW) & (set(R12_WINDOW) | set(R11_WINDOW)):
    raise RuntimeError("r13 window overlaps a recent window (steady-state = oldest first)")
_missing = [n for n in R13_WINDOW if n not in _PENDING]
if _missing:
    raise RuntimeError(f"R13_WINDOW names not defined: {_missing}")

for _name in R13_WINDOW:
    _rq = _PENDING.pop(_name)
    _registry_register(_name, _rq.fn, _rq.oracle, bench=_rq.bench)
for _name, _rq in _PENDING.items():
    _registry_register(_name, _rq.fn, _rq.oracle, bench=_rq.bench)
_PENDING.clear()

# =============================================================================
# R14 WINDOW PLAN — staged so next round's rotation is a one-line swap
# (rename to R14_WINDOW, flush on it, move R13's names into history).
# Oldest-green-first: the five names the r13 debuts displaced from the
# r13 window lead (their last driver row is r10), then the four r10
# names that didn't fit the r13 plan (`stratified_sample`,
# `semantic_dedup`, `events_quantiles`, `top_parts_per_nation`), then
# the remaining r10 rows (R10_WINDOW source order, 36 names), then the
# oldest r11 rows (R11_WINDOW source order; 5 fit). Any query
# materially changed in r14 jumps to the front, displacing the newest
# names here to r15. (Counts are narrative; the asserts below are
# authoritative.)
# =============================================================================

R14_WINDOW_PLAN = [
    # displaced from the r13 window by the five r13 debuts (5)
    "training_filter", "dedup_representatives", "dedup_segments",
    "dedup_components", "winnowing_fingerprint",
    # r10 rows that didn't fit the r13 plan (4)
    "stratified_sample", "semantic_dedup", "events_quantiles",
    "top_parts_per_nation",
    # remaining r10 rows, R10_WINDOW source order (36)
    "triangle_counts", "ppmi_topk", "training_order", "interval_join",
    "forecast_revenue", "source_scorecard", "group_sample",
    "integrity_check", "value_histogram", "asof_forward", "user_profile",
    "mix_plan", "knn_join", "dedup_spans", "dedup_snm", "pagerank_ppr",
    "label_propagation", "embedding_quantize", "dsir_weights",
    "events_ohlc", "cdc_apply", "basket_affinity", "pareto_revenue",
    "top_supplier", "ship_latency", "sequence_match", "stream_ohlc",
    "conversion_lag", "bfs_unbounded", "events_hopping", "stream_hopping",
    "temporal_join", "stream_enrich", "volume_shipping", "dedup_exact",
    "dedup_jaccard",
    # oldest r11 rows, R11_WINDOW source order (5; knn_anchor and
    # degree_stats — the newest taken — open the r15 pool, displaced by
    # the carried r10 names)
    "gram_novelty", "dup_source_matrix", "recommend_people",
    "product_profit", "market_share",
]

if len(R14_WINDOW_PLAN) != 50:
    raise RuntimeError(f"R14_WINDOW_PLAN must name 50 queries, got {len(R14_WINDOW_PLAN)}")
if len(set(R14_WINDOW_PLAN)) != 50:
    raise RuntimeError("R14_WINDOW_PLAN contains duplicates")
if set(R14_WINDOW_PLAN) & (set(R13_WINDOW) | set(R12_WINDOW)):
    raise RuntimeError("r14 plan overlaps a recent window (steady-state = oldest first)")
_undefined = [n for n in R14_WINDOW_PLAN if n not in _registry_dict]
if _undefined:
    raise RuntimeError(f"R14_WINDOW_PLAN names not registered: {_undefined}")
