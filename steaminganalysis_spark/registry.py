"""Query registry: the single source of truth for the driver contract.

Every operator in SURVEY.md §2 registers here as a named query — a
callable ``(spark, sf_dir) -> DataFrame`` — optionally paired with an
ANSI-SQL oracle string that DuckDB runs over the same parquet tables.
``__spark_entry__.py`` simply re-exports these dicts.

Determinism conventions (FIXTURES.md §3), applied by every registered
query AND its oracle:
- alias every computed column identically on both sides;
- money/double sums go through exact decimal accumulation then a final
  cast to double (``dsum`` helper) so summation order cannot perturb
  the value hash;
- deterministic ratio metrics round via ``round_half_up`` (floor-based,
  identical IEEE ops both engines), never ``F.round``/SQL ``round`` —
  the two round different things on boundary doubles (see the helper's
  docstring);
- calendar buckets are emitted as strings (``yyyy-MM-dd`` etc.), never
  raw timestamps, so session-timezone settings cannot perturb them;
- top-k / ranking queries always break ties on a unique key;
- array-valued aggregates are sorted and joined to a string.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "QUERIES",
    "ORACLE",
    "query",
    "dsum",
    "to_cents",
    "round_half_up",
    "SQL_DSUM",
    "SQL_ROUND",
    "collect_queries",
]

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is the DuckDB SQL twin
    (omit for genuinely non-SQL-expressible ops → rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def to_cents(col: Column, scale: int = 2) -> Column:
    """The engine's ONE fixed-point conversion: ``floor(x·10^s + 0.5)``
    → long. Every operator that needs exact integer money/value
    arithmetic (``dsum``, rolling-window sums, z-score stats) derives
    its cents through this helper so the rounding convention — and its
    DuckDB twin inside ``SQL_DSUM`` and per-query oracles — can never
    drift between call sites."""
    m = 10**scale
    return F.floor(col.cast("double") * F.lit(float(m)) + F.lit(0.5)).cast("long")


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-insensitive exact sum of a fixed-scale double column.

    Each value is converted to integer "cents" with cheap IEEE ops —
    ``floor(x·10^scale + 0.5)`` → long — then accumulated as
    ``decimal(38,0)``: the integer sum is exact regardless of
    partitioning/summation order, and the decimal accumulator rides
    Spark's compact-long fast path while PROMOTING (never silently
    wrapping, unlike a long sum) past 2^63 — which a global sum over
    ~10^12 rows at scale 6 actually reaches. ~2.3× faster than the
    previous decimal(30,scale)-cast sum and within ~1.5× of a plain
    double sum at sf0.1 (SCALE.md), with the same bit-exact value-hash
    reproducibility. The DuckDB twin is ``SQL_DSUM`` (identical float
    ops → identical longs → exact integer sum on both sides).

    Correct for |x| < 2^63/10^scale per value and inputs with ≤scale
    true decimal digits (floor+0.5 = unambiguous nearest integer: a
    tie would need an impossible extra decimal digit).

    ``SPARK_GRAFT_DOUBLE_SUMS=1`` (bench-only mode, read at plan-build
    time) swaps in a plain double SUM to measure the exact-accumulation
    tax (SCALE.md); it intentionally breaks value-hash reproducibility,
    so the oracle harness and the driver must never run with it set."""
    import os

    if os.environ.get("SPARK_GRAFT_DOUBLE_SUMS") == "1":
        return F.sum(col)
    m = 10**scale
    cents = to_cents(col, scale).cast("decimal(38,0)")
    return F.sum(cents).cast("double") / F.lit(float(m))


def round_half_up(col: Column, scale: int = 6) -> Column:
    """Engine-agnostic half-up rounding: ``floor(x·10^s + 0.5) / 10^s``
    as pure IEEE ops, identical on Spark and DuckDB.

    Why not ``F.round``: Spark's round on a double goes through
    ``BigDecimal.valueOf`` — it rounds the SHORTEST DECIMAL STRING that
    round-trips to the double — while DuckDB (and C engines generally)
    round the binary value. A pre-round value that is a terminating
    decimal one digit past the target scale (integer ratios produce
    these constantly: stopword k/160 = 0.2534375, unit cost
    1477.0125/10) sits within 1 ulp of the .5 boundary, and the two
    conventions split (found by the round-4 sf0.1 parity sweep:
    q_text_quality 0.253438 vs 0.253437, q_tpch_q2 at scale 4). The
    floor spelling evaluates the same float ops on both engines, so the
    boundary case is decided identically. The SQL twin is
    ``SQL_ROUND``. Half-up here means toward +inf for negative ties,
    same as the SQL twin by construction."""
    m = float(10**scale)
    return F.floor(col.cast("double") * F.lit(m) + F.lit(0.5)) / F.lit(m)


def SQL_ROUND(expr: str, scale: int = 6) -> str:
    """DuckDB twin of ``round_half_up`` — identical float ops, fully
    parenthesized."""
    m = float(10**scale)
    return f"(FLOOR(CAST(({expr}) AS DOUBLE) * {m} + 0.5) / {m})"


def SQL_DSUM(expr: str, scale: int = 2) -> str:
    """DuckDB twin of ``dsum`` — identical float ops in the same order,
    fully parenthesized (it ends in a division, and callers embed it in
    larger expressions)."""
    m = 10**scale
    return (
        f"(CAST(SUM(CAST(FLOOR(CAST(({expr}) AS DOUBLE) * {m}.0 + 0.5) AS BIGINT))"
        f" AS DOUBLE) / {m}.0)"
    )


# The driver's per-round correctness gate verifies the first ~50
# registered queries in REGISTRATION ORDER, so the window is pinned as
# an explicit key list (key-level, not module-import-level: round 3
# needs three keys re-verified out of otherwise-green modules because
# their implementations changed AFTER their round-1 green rows —
# VERDICT.md r2 order #2).
#
# History: round 1 verified aggregates/functions_pack/llm/ann
# (CORRECTNESS_r01.json, 50/50 green), round 2 verified joins/tpch/
# windows/relational[:10] (CORRECTNESS_r02.json, 49/50 — the q12 red
# was the HUGEINT oracle-type bug, fixed).
#
# Measured module sizes (re-measure with the import counter below
# before every rotation — never eyeball): joins 12, tpch 21,
# windows 7, relational 14, sql_surface 11 (incl. the new
# q_sql_group_by_all + q_pandas_api, deferred to round 4), udfs 9 (incl. the new
# q_udf_applyinarrow, deferred to round 4), storage 8 (incl.
# the new q_scan_xml + q_zorder_layout, deferred to round 4),
# reshape 4, pipeline 12 (incl. the new q_corpus_pipeline, deferred
# to round 4), streaming_queries 10 (incl. the new flagship
# replay; stream-static join + append-watermark deferred to round 4),
# multimodal 4, aggregates 15 (incl. the round-4
# q_daily_rollup_substring), functions_pack 13 (incl. the new
# q_fn_try, deferred to round 4), llm 23, ann 3, extras 24 (incl.
# the new q_ts_resample + q_scd2_from_cdc, deferred to round 4),
# corpus 3 + q_agg_theta_sketch + q_stream_hll_daily (registered
# after the round-4 window froze) (195 at the freeze; later round-4
# additions — corpus dedup-incremental/skew/ngram, graph
# pagerank/triangles/bfs, streaming cdc-scd2 + left-outer join,
# fn_url, bitmap distinct, the LM quality score and the JL
# projection, the streaming Python sink, the BPE trainer, the
# full-outer stream-stream join, the DSIR score, dynamic partition
# overwrite, chained stateful aggs, the CMS sketch, the polymorphic
# UDTF, parameterized SQL, the kNN graph, bounded-state stream
# dedup, the BPE encode pass, the forward as-of join, the
# mask/pseudonym pack, YoY revenue, last- and first-touch
# attribution, gaps-and-islands, the composed selection pipeline,
# the _metadata file-introspection scan, the SQL-body UDF, the
# LISTAGG/lateral-alias surface — brought the registry to 233 keys /
# 206 oracles at the round-4 close. Round-5 additions (all
# oracle-checked, pinned as deferred_to_round6 in
# tests/test_contract_robustness.py): q_copurchase_pairs +
# q_rfm_segments (operators/retail.py), q_agg_percentile_disc,
# q_window_distribution, q_fn_string_distance, q_dedup_jaccard_prefix
# (AllPairs/PPJoin prefix filtering), q_stream_stream_right_join,
# q_graph_wcc, q_event_transitions (Markov journey matrix),
# q_emb_pca_power (distributed power iteration, rows-only + numpy
# equivalence), q_agg_regression (exact-moment OLS), q_window_locf
# (IGNORE NULLS gap fill), q_scan_schema_evolution (mergeSchema
# on-read, rows-only invariants), q_agg_weighted_median (cumulative-
# weight window), q_observe_metrics (DataFrame.observe in-flight DQ
# metrics), q_stream_stateful_profile (applyInPandasWithState under
# the oracle gate), q_merge_with_deletes (full MERGE clause set:
# delete/update/insert over a CDC batch), q_set_union_by_name
# (schema-aware union), q_sql_quantified (ALL/ANY quantified-
# comparison semantics via the hand decorrelation Spark requires),
# q_seq_pattern + q_ts_changepoint (operators/sequences.py —
# MATCH_RECOGNIZE-lite journey regex + windowed level-shift detector),
# q_geo_radius_join + q_geo_grid_density + q_geo_nearest_poi
# (operators/geo.py — grid-bucketed spatial joins over deterministic
# hash coordinates), q_er_blocked_pairs + q_er_clusters
# (operators/linkage.py — blocked fuzzy entity resolution + HashMin
# entity clustering), q_fn_aes (deterministic-mode column crypto),
# q_scan_text (line-oriented text source), q_text_readability (exact
# ppm Flesch), q_graph_degree (degree distribution incl. isolates),
# q_sql_pivot (the SQL PIVOT clause), q_agg_bloom (distributed Bloom
# build + broadcast probe, rows-only), q_text_winnowing (MOSS-style
# local fingerprints), q_ts_seasonal_profile (diurnal profile),
# q_join_asof_nearest (nearest-direction as-of), q_ts_autocorr
# (lag-k ACF from exact moments), q_window_slope (rolling OLS trend),
# q_sql_dynamic (EXECUTE IMMEDIATE + IDENTIFIER + session variables),
# q_dq_drift (TVD distribution-drift monitor in exact ppm),
# q_sql_unpivot + q_sql_lateral_view (the UNPIVOT and LATERAL VIEW
# grammar surfaces), q_window_median (rolling-median despiker),
# q_ts_outlier_mad (exact-median MAD fence), q_cluster_kmeans
# (first-class distributed Lloyd clustering, rows-only),
# q_agg_corr_matrix (one-pass pairwise Pearson matrix),
# q_anonymize_kanon (k-anonymity release audit), q_stream_dq_drift
# (the drift monitor run as a streaming aggregation, stream≡batch
# under the same oracle), q_agg_skewkurt (3rd/4th standardized
# moments from exact power sums), q_scan_csv_malformed (PERMISSIVE
# corrupt-record routing) — 282 keys / 251 oracles at the round-5
# close (count with collect_queries(), never this comment).
#
# Round-6 additions (operators/curation.py — the corpus
# selection/splitting layer): q_sample_weighted (Efraimidis–Spirakis
# A-ES weighted sampling, hash-derived uniforms, TakeOrderedAndProject
# top-K), q_crossval_folds (stable hash fold assignment, zero
# exchanges), q_vocab_prune (document-frequency filter_extremes with
# order-preserving rebuild). Sequences additions: q_ts_decayed_sum
# (integer-exact truncated-EWMA recency score, one window pass),
# q_ts_gapfill_interpolate (dense-grid linear interpolation, the
# companion to q_window_locf's step fill). Graph additions:
# q_graph_jaccard_neighbors (item-item CF top-k by buyer-set
# Jaccard), q_graph_label_propagation (deterministic weighted LPA
# communities), q_graph_k_core (fixed-round peel decomposition),
# q_graph_link_predict (resource-allocation index over two-hop
# candidates, existing edges anti-joined away). Retrieval additions
# (operators/retrieval.py): q_text_bm25 (exact BIGINT-rational BM25 —
# odds-ratio idf in ppm, k1/b cleared to integer arithmetic, postings
# filtered to the probe terms before any exchange). DQ/SQL additions:
# q_dq_profile (one-pass whole-table column profiler — null/distinct/
# min/max/length per column, cross-engine values as canonical strings),
# q_sql_window_clause (named WINDOW grammar — one shared partitioning,
# single-exchange plan pinned). Second wave: q_dedup_url (crawl-style
# URL canonicalization dedup — case/www/port/utm/fragment/param-order
# normalization implemented independently per engine, urllib as the
# third referee), q_emb_knn_classify (kNN majority-vote label transfer
# over milli-quantized integer distances, test slice broadcast,
# WindowGroupLimit top-k). Multimodal addition: q_multimodal_phash
# (perceptual-hash image near-dup — aHash over a fixed sample grid,
# 8x8-bit banded candidate join with a pigeonhole recall guarantee at
# the threshold, planted re-encode companions; rows-only with
# brute-force completeness pinned). Third wave: q_mv_incremental
# (incremental materialized-view maintenance — merge(agg(history),
# agg(delta)) ≡ agg(all), cutoff pushed into the scan),
# q_text_collocations (PMI-lift bigram collocations in exact BIGINT
# ppm, LEAD-based bigrams — one corpus shuffle), q_stream_topk
# (streaming leaderboard: counts in stream state, rank at read time,
# stream≡batch oracle), q_graph_sssp (weighted Bellman-Ford min-plus
# SSSP over the trade graph — registered at the round-6 snapshot;
# this census line was the missing bookkeeping that kept one suite
# test red through rounds 6-7) — 301 keys / 269 oracles at the
# round-6 close (count with collect_queries(), never this comment).
#
# Round-8 additions (pinned as deferred_to_round9 in
# tests/test_contract_robustness.py): q_knn_graph_selective (the kNN
# graph at the SELECTIVE τ=0.7 / 12-bit × 64-table operating point
# over an augmented corpus with planted near-duplicate companions —
# candidate volume ~2% of n²/2 where the τ=0.4 key is effectively
# all-pairs; exact all-pairs oracle, Arrow-matmul bucketing),
# q_text_extract_html (crawl-to-corpus HTML text extraction),
# q_emb_pca_topk (top-k principal components via power iteration with
# deflation, rows-only + numpy equivalence), q_retrieval_hybrid_rrf
# (reciprocal-rank fusion of the BM25 probe ranking with an embedding
# distance ranking — the RAG hybrid-retrieval step, integer ppm),
# q_stream_mv_maintenance (foreachBatch monoid MERGE of streamed
# deltas into the stored daily-rollup MV, versioned commits behind the
# atomic batch watermark — the streaming twin of q_mv_incremental),
# q_graph_cc_stars (EXACT connected components by alternating
# large-star/small-star contraction — O(log n) rounds, state lives in
# the edge relation, no O(V) broadcast; fixpoint HashMin oracle).
#
# Round-9 additions (pinned as deferred_to_round10 in
# tests/test_contract_robustness.py): q_stream_mv_time_travel (the MV
# store's as-of-version read as its own oracle-checked key — version 0
# must equal the batch rollup over the stream prefix it saw, i.e.
# events with ts < MV_MID; harness pins micro-batch order via file
# mtimes), q_stream_ann_index (streaming IVF index maintenance:
# frozen-quantizer assignment of arriving vector batches appended as
# LSM-style delta runs behind the shared KVStore watermark; rows-only
# with a stream≡batch assignment-equality pin), q_dedup_keep_best
# (quality-aware exact dedup: keep the highest-source-priority copy
# per duplicate group, planted mirror/curated copies making the
# decision non-vacuous and oracle-certified at every SF),
# q_graph_k_truss (k-truss edge-cohesion decomposition of the
# co-purchase graph: fixed-round triangle-support peel, all state in
# the oriented edge relation; unrolled MATERIALIZED-CTE oracle) —
# q_graph_scc (exact strongly connected components of the thresholded
# directed trade graph by forward-coloring + backward-marking, both
# min-label relaxations over the staged edge relation; path-doubling
# MATERIALIZED-CTE closure oracle) —
# q_graph_anf (HyperBall-style approximate neighborhood function:
# per-node HLL registers as a (node, register, rank) relation, hop =
# register-wise MAX merge of out-neighbor counters; engine-portable
# integer bit-op hashing + a linear-counting literal table make the
# sketch ORACLE-EXACT rather than rows-only) —
# 317 keys / 283 oracles at the round-9 additions (count with
# collect_queries(), never this comment).
#
# Round-10 additions (pinned as deferred_to_round11 in
# tests/test_contract_robustness.py): q_agg_hll_portable (per-group
# distinct-user HLL whose every register op — lowbias32 avalanche
# hash, trailing-zero rank, register-MAX lattice, αm²/linear-counting
# estimate — is engine-portable integer SQL, so the ESTIMATE itself
# is oracle-exact; the exact COUNT(DISTINCT) rides along as the
# accuracy witness; fixture SFs exercise both estimator regimes).
# q_graph_scc_condensation (condensation DAG of the directed trade
# graph: SCC labeling shared verbatim with q_graph_scc, contraction at
# component grain, longest-path topological levels by a fixed
# 4-round max-relaxation budget; closure-CTE oracle extended with
# unrolled level rounds).
# q_graph_ppr (personalized PageRank from the region-2 seed set:
# teleport distribution restricted to seeds, same staged fractions and
# loop economics as q_graph_pagerank via _pagerank_frac; unrolled-CTE
# oracle).
# q_merge_deletion_vector (Delta/Iceberg merge-on-read delete path:
# MERGE writes per-file positional bitmap words — one groupBy+bit_or
# over the matched keys, O(|deletes|) — and the read applies the mask
# via a broadcast join + bitwise AND; data files never rewritten or
# shuffled).
# q_stream_weighted_sample (streaming weighted reservoir: per-batch
# O(K) merge of deterministic A-ES priorities behind the versioned
# KVStore watermark; the oracle IS q_sample_weighted's — stream≡batch
# is the driver-checked fact).
# q_stream_mv_backfill (restatement backfill against the MV store:
# ordinary deltas monoid-add while backfill-flagged batches REPLACE
# every restated day's stored rows — broadcast anti-join at aggregate
# cardinality + union behind the shared versioned watermark; the
# oracle states the composed result, so the driver checks both merge
# modes together).
# q_agg_cms_portable (count-min heavy hitters whose counter table is
# reproducible integer SQL — lowbias32 per-row hashing — so the
# one-sided estimates themselves are driver-hash-checked; truth rides
# along for the top-20 users; build bounded by d·w cells regardless
# of input, counters broadcast to the probe).
# q_text_chunk (RAG chunking: fixed-120-char windows every 80 chars
# with stable (doc_id, chunk_id, start_char) span addressing; pure
# codegen map — sequence+explode+substring, zero exchanges; coverage
# and overlap-stripped reconstruction pinned).
# q_graph_harmonic (harmonic out-centrality from the q_graph_anf
# register lattice — the metric HyperBall exists for: per-node ball
# estimates per hop folded as Σ (Δball)/h in shared integer
# milli-units, oracle-exact; zero-set equals exact-BFS sinks, pinned).
# q_retrieval_chunked (chunk-granular BM25: the q_text_chunk window
# table as the retrieval corpus, exact-integer scoring, hits carry
# (doc_id, chunk_id, start_char) span addresses — the chunker and the
# ranker certified composed).
# q_retrieval_eval (ranker evaluation: precision@10 / recall@10 /
# MRR / nDCG@10 of the BM25 ranking against a deterministic
# lead-span relevance rule, every metric exact integer ppm with a
# literal nDCG discount table — the evaluation numbers themselves
# driver-hash-checked; measured P@10 0.4-0.5, never saturated).
# q_multimodal_resize (the brief's resize step registered end-to-end:
# binary→binary nearest-neighbor resize via mapInPandas with header
# rewrite certified by re-parsing the produced payloads; rows-only —
# payload synthesis is not SQL-expressible).
# 329 keys / 294 oracles at the round-10 additions (count with
# collect_queries(), never this comment).
#
# Remaining never-driver-checked after round 3 (for rounds 4-5):
# relational's last 4 set-op/sort keys, extras (24), ann (3), the
# keys deferred below, plus re-checks of any module edited since its
# green round.
#
# ROUND-4 WINDOW: the 43 keys that had never been inside a driver
# window after rounds 1-3 (VERDICT r3 order #1 — computed as
# collect_queries() keys minus the union of CORRECTNESS_r01..r03, in
# registration order) plus 7 re-check slots: the two standing canaries
# (q_daily_rollup flagship, q_tpch_q12 for the HUGEINT oracle-type
# class) and the five staged-shingle dedup keys whose shared staging
# path was refactored in round 3 (staging.stage table/localCheckpoint
# mode switch) AFTER their round-1 green rows. After this round every
# key that existed at the rotation freeze has at least one driver
# CORRECTNESS row. Round 5 window head: every key registered after
# the freeze (the pinned deferred_to_round5 set in
# tests/test_contract_robustness.py — corpus.py's six, the sketch
# pair, graph.py's three, q_stream_cdc_scd2), then rotate back over
# llm/aggregates/functions_pack/tpch re-checks (oldest stamps first:
# their greens date to round 1).
#
# The 5th re-check slot went to the new reference-exact substring
# flagship (VERDICT r3 order #8) instead of a q_dedup_clusters
# re-check: a brand-new key must enter the window to keep the
# zero-never-checked invariant, and clusters' rows-only driver row
# (r01) plus its pinned union-find equivalence test outweigh a second
# rows-only look.
#
# Previous windows, for the record:
# - round 1: aggregates/functions_pack/llm/ann first-50 (50/50 green)
# - round 2: joins/tpch/windows/relational[:10] (49/50; q_tpch_q12 red
#   — DuckDB HUGEINT promotion, fixed 5431017)
# - round 3: ROUND3_WINDOW list at commit 4241eec (50/50 green)
#
# ROUND-5 WINDOW (this round): canaries q_daily_rollup + q_tpch_q12,
# then the 43 keys registered after the round-4 window froze (the
# pinned deferred_to_round5 set in tests/test_contract_robustness.py
# — VERDICT r4 order #1, in registration order), then 5 oldest-green
# re-checks (round-1 stamps, oldest family first): q_agg_basic,
# q_agg_distinct, q_agg_rollup, q_agg_cube, q_agg_collect.
# Executing this rotation restores the zero-never-checked invariant:
# after round 5 every key that existed at the round-5 freeze has at
# least one driver CORRECTNESS row.
#
# ROUND-6 WINDOW (this round): canaries q_daily_rollup + q_tpch_q12,
# then the 49-key deferred_to_round6 pin from round 5 in registration
# order. 2 + 49 overflows the 50-slot window by one, so per the
# pre-planned rotation rule the overflow tail — q_er_clusters, the
# last deferred key in registration order — rolls to round 7 together
# with the whole 29-key oldest-green re-check backlog (round-1 stamps,
# priority order, unchanged): q_time_buckets, q_fn_string,
# q_fn_datetime, q_fn_math, q_fn_array, q_json_parse, q_fn_map,
# q_json_malformed, q_fn_array2, q_fn_datetime2, q_fn_string2,
# q_dedup_exact, q_sim_topk, q_text_stats, q_text_tokens,
# q_text_langid, q_text_quality, q_text_tfidf, q_emb_centroid,
# q_text_fingerprint, q_text_entropy, q_emb_quantize,
# q_pack_sequences, q_dedup_containment, q_agg_grouping_flags,
# q_agg_minmax_by, q_agg_mode_bool, q_agg_product, q_agg_salted.
# (Backlog tail beyond those: q_agg_stats, q_agg_percentile,
# q_fn_explode, q_fn_explode_outer.) Any round-6 additions go into
# deferred_to_round7 (tests/test_contract_robustness.py) ahead of the
# re-check backlog.
#
# ROUND-8 WINDOW (this round; round 7 shipped no rotation — the driver
# re-ran the round-6 window and got 50/50 green again): canaries
# q_daily_rollup + q_tpch_q12, then ALL 20 keys that have never had a
# driver CORRECTNESS row (q_graph_sssp + the 19-key deferred_to_round7
# pin), then 28 of the 29-key oldest-green re-check backlog above —
# q_dedup_containment is the one backlog key dropped: its green was
# already refreshed inside the round-4 window (staging-refactor
# re-check), so it is the only backlog entry whose stamp is NOT
# round-1. Executing this rotation restores the zero-never-checked
# invariant and retires the whole round-1-stamp backlog in one pass.
# Backlog tail rolling to round 9: q_agg_stats, q_agg_percentile,
# q_fn_explode, q_fn_explode_outer, plus a q_dedup_containment /
# round-2 family refresh if slots allow. Any round-8 additions go into
# deferred_to_round9 (tests/test_contract_robustness.py) ahead of all
# of those.
# ROUND-9 WINDOW (this round): canaries q_daily_rollup + q_tpch_q12,
# then the 6 round-8 additions from the deferred_to_round9 pin (now
# retired — tests/test_contract_robustness.py pins deferred_to_round10
# for round-9 additions), then the 5-key backlog tail the round-8
# comment scheduled (q_agg_stats r1-stamp, q_agg_percentile,
# q_fn_explode, q_fn_explode_outer r1-stamp, q_dedup_containment
# refresh), then 37 oldest-green re-checks — the round-2-stamp family
# (joins 12, TPC-H 20, windows 5) in registration order, the oldest
# stamps left after round 8 retired the round-1 backlog. The 12
# remaining round-2 keys (q_window_percent_rank, q_topk_with_ties,
# q_scan_parquet, q_scan_json, q_project_cast, q_filter_basic,
# q_filter_in_between_like, q_case_when, q_sort_multi, q_topk_global,
# q_set_union, q_set_intersect) roll to round 10 behind any round-9
# additions in deferred_to_round10.
# ROUND-10 WINDOW (this round): canaries q_daily_rollup + q_tpch_q12,
# then the 10 round-9 additions from deferred_to_round10
# (q_stream_mv_time_travel, q_stream_ann_index rows-only,
# q_dedup_keep_best, q_graph_k_truss, q_graph_butterfly,
# q_retrieval_mmr, q_decontaminate_fuzzy, q_stream_decon_guard,
# q_graph_scc, q_graph_anf — restores zero-never-driver-checked), then
# the 12 rolled round-2 keys above, then 26 oldest-ORACLED-green
# re-checks: the plan said "26 round-3 family re-checks", refined here
# to maximize hash-check value — the 3 oracled keys still carrying
# round-1 stamps (q_fn_bitwise, q_text_token_regex,
# q_text_langid_ngram; the other 8 round-1 stamps are rows-only-by-
# design sketch keys whose driver row adds only rows>0) followed by
# 22 of the first 23 ORACLED round-3-stamp keys in registration
# order + q_graph_triangles (its wedge enumeration changed to the
# degree-ordered orientation THIS round — implementation-changed keys
# outrank unchanged re-checks; q_sessionize rolls to round 11)
# (skipping rows-only q_udtf_applyinpandas / q_scan_binary /
# q_compact_small_files for the same reason). Round-10 additions go
# into deferred_to_round11 (tests/test_contract_robustness.py).
# Remaining round-3 oracled backlog rolling to round 11:
# q_retention_cohorts, q_funnel, q_histogram, q_dq_checks,
# q_train_test_split, q_sample_stratified, q_data_mix,
# q_text_pii_scrub, the streaming r3 family, then round-4 stamps.
# Round-11 additions (registered after the round-11 window froze,
# pinned in deferred_to_round12): q_stream_rate_source (the built-in
# rate streaming source run unbounded with a processingTime trigger,
# oracle-checked via the deterministic value-prefix — converts SURVEY
# B.1's "rate/memory source" harness-only row into driver evidence),
# q_cluster_incremental (Liquid-clustering-style incremental
# re-cluster: one file-metadata aggregate classifies files, only
# span-violating files rewrite — O(delta) never O(table); rows-only
# file-layout op), q_agg_quantile_sampled (deterministic-hash
# Bernoulli sample quantiles — the identical lowbias32 sample on both
# engines makes the estimates hash-checkable; the third oracle-exact
# sketch), q_dedup_minhash_portable (oracle-exact MinHash similarity:
# cross-engine md5-hex->BIGINT shingle hash + lowbias32 permutation
# mixer — the estimates themselves hash-check, exact Jaccard witness
# rides along), q_table_snapshot_read (snapshot isolation + time
# travel via atomic manifests — the committed-file-list contract;
# orphans and torn manifests invisible, O(1) commits),
# q_stream_table_ingest (streaming ingestion into the snapshot table:
# per-batch file append + manifest commit + KVStore watermark —
# exactly-once at FILE grain, stream≡batch oracle). 335 keys /
# 299 oracles at the round-11 close (count with collect_queries(),
# never this comment).
# Round-12 additions (registered after the round-11 freeze, pinned in
# deferred_to_round13): q_table_concurrent_commit (optimistic
# concurrency — os.link CAS on the successor manifest, loser re-reads
# and retries, both appends land exactly once),
# q_table_vacuum (snapshot expiration — manifests below retention
# deleted, data files unreferenced by retained manifests swept,
# shared files survive), q_table_merge_snapshot (file-grain
# copy-on-write MERGE — span-matched files rewrite, untouched files
# carried by name, CAS commit), q_dedup_simhash_portable (the fifth
# oracle-exact portable sketch: md5->lowbias32 bit-vote SimHash
# signatures + 4x8-bit LSH bands, hash-checked Hamming distances),
# q_table_pruned_read (manifest-level data skipping: per-file footer
# min/max recorded at commit, range reads plan only span-intersecting
# files — zero file opens for skipped files), q_stream_table_cdc_merge
# (streaming CDC MERGE into the snapshot table: manifest-stats file
# classification, span-matched COW rewrite, stats carried forward,
# exactly-once via the watermark-last ordering), q_agg_bloom_portable
# (the sixth oracle-exact portable sketch: lowbias32 bit positions
# build the byte-identical Bloom word array in both engines — even
# the false-positive set hash-checks), q_graph_random_walks
# (deterministic DeepWalk-style walk sampling: portable hash-argmin
# next hop, oracle-exact paths, frontier-join per step),
# q_table_schema_evolution (manifest-tracked schema: add-column
# commits without rewrite, footer-validated appends, old-schema time
# travel — the table-format story's last pillar).
# 344 keys / 308 oracles at the round-12 close.
# Round-13 additions (all oracle-exact): the table-format completion
# wave — q_table_partition_pruning (partition-spec manifest: per-file
# tuples + spec, manifest-grain planning-time pruning, metadata-only
# spec evolution with conservatively-planned old-spec files),
# q_table_optimize_concurrent (OPTIMIZE vs append: disjoint commits
# commute via CAS retry, overlapping rewrites raise
# SnapCompactConflict and abandon), q_table_merge_dv (merge-on-read
# equality-delete files in the manifest dv map, per-file DV-vs-COW
# selection, scoped broadcast anti-join reads, rewrite folds DVs in),
# q_stream_table_schema_evolution (mid-stream add-column evolution:
# footer-validated batch commits, exactly-once across the checkpoint
# restart, live rejection fault-injections),
# q_table_snapshot_diff (change-data-feed from two manifests:
# shared-file cancellation at manifest grain, exceptAll copy-through
# cancellation, keyed 4-class classification), q_table_wap_publish
# (write-audit-publish branches: invisible staging refs, audit-gated
# CAS fast-forward, failed audits leave main byte-untouched),
# q_stream_table_partition_ingest (day-partitioned streaming commits
# with tuple carry and manifest-grain pruning over just-committed
# data), q_table_restore (rollback as a forward commit: O(1)
# re-reference, forensics-preserving, txn-carrying),
# q_stream_table_cdc_dv (full U/I/D CDC: COW updates, appended
# inserts, merge-on-read deletes, same-batch delete-beats-update and
# DV-fold-into-rewrite), q_table_two_level_pruning (partition tuples
# ∘ column stats composed in one planning pass, per-level superset
# safety), q_table_mv_from_cdf (CDF-consuming incremental MV refresh:
# signed per-class deltas, integer-cent monoids, O(changed rows)
# refresh equal to re-aggregation row for row) — plus the q_stream_hll_daily CONVERSION from
# rows-only DataSketches state to the oracle-exact portable register
# lattice (the streaming state is the (day, register) MAX-rank
# relation, VERDICT r12 order #7).
# 355 keys / 320 oracles at the round-13 close (count with
# collect_queries(), never this comment).
# ROUND-11 WINDOW (this round): canaries q_daily_rollup + q_tpch_q12,
# then the 12 round-10 additions from deferred_to_round11
# (q_agg_hll_portable, q_graph_scc_condensation, q_graph_ppr,
# q_merge_deletion_vector, q_stream_weighted_sample,
# q_stream_mv_backfill, q_agg_cms_portable, q_text_chunk,
# q_graph_harmonic, q_retrieval_chunked, q_retrieval_eval,
# q_multimodal_resize rows-only), then the 15 oracled round-3-stamp
# re-checks left after round 10 (q_sessionize — displaced from the
# round-10 window by the q_graph_triangles swap — then
# q_retention_cohorts, q_funnel, q_histogram, q_dq_checks,
# q_train_test_split, q_sample_stratified, q_data_mix,
# q_text_pii_scrub, q_stream_tumbling_daily, q_window_sliding,
# q_session_window, q_stream_dedup, q_stream_stream_join,
# q_stream_flagship_replay), then 13 oldest oracled round-4-stamp
# re-checks in registration order (prefer oracled over rows-only, the
# round-10 refinement), then the 8 keys whose execution changed THIS
# round (iter_vector_join everywhere, frontier-delta BFS/SSSP/WCC,
# butterfly wedge staging, the nearest-POI strategy switch) — the
# q_graph_triangles rule; the 8 displaced round-4 stamps roll to
# round 12. NOTE for the closure test:
# CORRECTNESS_r10.json breaks the r0[1-9] single-digit glob — extend
# to two patterns or r*[0-9]. Any round-11 additions go into
# deferred_to_round12 ahead of the re-checks; any key whose
# implementation changes after its last green row outranks unchanged
# re-checks (the q_graph_triangles rule).
# ROUND-12 WINDOW (planned at the round-11 freeze): canaries
# q_daily_rollup + q_tpch_q12, then deferred_to_round12 (the round-11
# additions — q_stream_rate_source, q_cluster_incremental rows-only,
# q_agg_quantile_sampled, plus any later round-12 registrations per
# the standing pin discipline), then the 25 remaining oracled
# round-4-stamp re-checks in registration order (head: the 7 displaced
# by the round-11 graph swap — q_fn_posexplode, q_dedup_spans_global,
# q_tokenize_vocab, q_agg_grouping_sets, q_join_lateral,
# q_merge_upsert, q_fn_map2, q_anomaly_zscore — then q_fn_array3, q_data_mix_weighted,
# q_join_interval_overlap, q_sessionize_dynamic, q_join_salted,
# q_cte_recursive, q_fn_variant, q_source_python,
# q_stream_source_python, q_ts_similarity, q_ts_resample,
# q_scd2_from_cdc, q_stream_static_join, q_stream_append_watermark,
# q_daily_rollup_substring, q_fn_try, q_dedup_ngram_jaccard,
# q_sim_threshold_pairs), then the oldest oracled round-5-stamp
# re-checks in registration order to fill 50 (q_join_asof_forward,
# q_sql_parameterized, q_sql_modern, q_udtf_analyze, q_udf_sql_body,
# q_scan_file_metadata, q_stream_sink_python, q_yoy_revenue,
# q_attribution_last_touch, q_gaps_islands, ... — recompute at the
# freeze, prefer oracled over rows-only, implementation-changed keys
# outrank unchanged re-checks).
# ROUND-13 WINDOW (planned at the round-12 freeze): canaries
# q_daily_rollup + q_tpch_q12, then deferred_to_round13 (the nine
# round-12 additions — q_table_concurrent_commit, q_table_vacuum,
# q_table_merge_snapshot, q_dedup_simhash_portable,
# q_table_pruned_read, q_stream_table_cdc_merge,
# q_agg_bloom_portable, q_graph_random_walks,
# q_table_schema_evolution — plus any later
# round-13 registrations per the standing pin discipline), then the
# 25 remaining oracled round-5-stamp re-checks in registration order
# (head: q_stream_dedup_within_watermark — displaced from the
# round-12 window by the q_geo_nearest_poi execution-change swap —
# then q_agg_basic, q_agg_distinct, q_agg_rollup, q_agg_cube,
# q_agg_collect, q_agg_theta_sketch, q_agg_bitmap_distinct, q_fn_url,
# q_fn_csv, q_fn_xml, q_fn_collation, q_fn_mask, q_dedup_semantic,
# q_emb_random_projection, q_knn_graph, q_chunk_documents,
# q_shuffle_deterministic, q_index_inverted, q_dedup_incremental,
# q_skew_profile, q_ngram_lm, q_quality_lm_score, q_dsir_score,
# q_corpus_select), then the oldest oracled round-6-stamp re-checks
# in registration order to fill 50 — recompute at the freeze, prefer
# oracled over rows-only, implementation-changed keys outrank
# unchanged re-checks (the q_graph_triangles rule).
# ROUND-12 WINDOW (composed this round, executing the plan above):
# recomputed at composition time the round-4-stamp backlog is 26
# oracled keys (the plan's "25" undercounted by one — q_anomaly_zscore
# heads the list in registration order), so the round-5 fill is the 16
# oldest oracled round-5 stamps. 2 canaries + 6 deferred_to_round12 +
# 26 round-4 stamps + 16 round-5 stamps = 50. Round-12 additions go
# into deferred_to_round13 (tests/test_contract_robustness.py).
# Execution-changed keys this round (the q_graph_triangles rule):
# q_dedup_minhash_portable (_SHINGLE_DF_CAP routing + pair-side
# broadcast), q_stream_rate_source (poll surfaces stream failures),
# q_stream_table_ingest (previous snapshot via latest-committed
# lookup) — all three already sit in the window via the deferred
# pin — and q_geo_nearest_poi (auto-mode POI count cached per
# sf_dir), swapped in at the tail; the displaced 16th round-5 stamp
# (q_stream_dedup_within_watermark) rolls to round 13.
# ROUND-14 WINDOW (planned at the round-13 freeze): canaries
# q_daily_rollup + q_tpch_q12, then deferred_to_round14 (the twenty-four
# round-13 additions — q_table_partition_pruning,
# q_table_optimize_concurrent, q_table_merge_dv,
# q_table_snapshot_diff, q_table_wap_publish, q_table_restore,
# q_table_two_level_pruning, q_table_mv_from_cdf,
# q_stream_table_schema_evolution,
# q_stream_table_partition_ingest, q_stream_table_cdc_dv,
# q_table_analyze_ndv, q_table_bloom_skip, q_table_optimize_zorder,
# q_stream_from_table_cdf, q_table_history,
# q_corpus_curation_commits, q_table_column_mapping,
# q_table_manifest_list, q_table_agg_pushdown,
# q_table_incremental_read, q_stream_table_replicate,
# q_table_constraint_commit, q_table_null_pruning — plus any
# later round-14 registrations per the standing pin discipline), then
# the 30 remaining oracled round-7-stamp re-checks in registration
# order (head: q_event_transitions and q_observe_metrics, both
# displaced from the round-13 window by the execution-change swaps —
# then q_merge_with_deletes, q_anonymize_kanon, q_agg_percentile_disc,
# q_agg_regression, q_agg_weighted_median, q_agg_corr_matrix,
# q_agg_skewkurt, q_stream_stream_right_join, q_stream_stateful_profile,
# q_stream_dq_drift, q_fn_string_distance, q_fn_aes,
# q_dedup_jaccard_prefix, q_text_winnowing, q_text_readability,
# q_graph_degree, q_copurchase_pairs, q_rfm_segments, q_seq_pattern,
# q_ts_changepoint, q_ts_seasonal_profile, q_ts_autocorr,
# q_window_slope, q_window_median, q_ts_outlier_mad, q_geo_radius_join,
# q_geo_grid_density, q_er_blocked_pairs), then the oldest oracled
# round-8-stamp re-checks in registration order (head: q_agg_minmax_by,
# q_sql_window_clause, q_mv_incremental, q_dq_profile, q_time_buckets,
# q_agg_salted, q_agg_mode_bool) to fill 50 — with nineteen deferred
# round-13 additions the arithmetic is 2 canaries + 24 deferred + 24
# round-7 stamps = 50 (the 25th-30th round-7 stamps roll to round 15);
# execution-changed this round (the q_graph_triangles rule):
# q_stream_table_ingest (sink commit upgraded from os.replace to
# CAS-with-retry so concurrent maintenance commits commute) must
# enter the window ahead of unchanged re-checks, displacing the
# last fill slot; q_table_analyze_ndv's incremental carry and
# q_table_bloom_skip's per-file sizing changed before their first
# driver row and already sit in the deferred pin;
# recompute at the freeze,
# prefer oracled over rows-only, implementation-changed keys outrank
# unchanged re-checks (the q_graph_triangles rule).
# ROUND-13 WINDOW (composed round 13, executing the plan above):
# recomputed at composition time there are NO round-6-stamp keys (the
# round-6 window re-checked round-4 stamps), so after the 2 canaries +
# the 9 deferred_to_round13 round-12 additions + the 25 oracled
# round-5-stamp re-checks, the fill is the 13 oldest oracled
# round-7-stamp re-checks in registration order, PLUS
# q_stream_table_ingest swapped in at the tail under the standing
# execution-change rule (its sink gained the manifest txn idempotency
# guard this round — ADVICE r12 fix; q_stream_table_cdc_merge and
# q_table_vacuum also changed execution but already sit in the window
# via the deferred pin). The displaced 14th round-7 stamp
# (q_observe_metrics) heads the round-14 fill. Round-13 additions go
# into deferred_to_round14 (tests/test_contract_robustness.py).
# ROUND-15 WINDOW (planned at the round-14 freeze): canaries
# q_daily_rollup + q_tpch_q12, then deferred_to_round15 (the ten
# round-14 additions — q_table_agg_pushdown_dv, q_table_metadata_tables,
# q_table_refs, q_emb_pca_power_portable, q_cluster_kmeans_portable,
# q_table_partition_transforms, q_table_auto_optimize,
# q_sim_topk_filtered, q_stream_table_maintenance are oracled;
# q_table_ann_index_commits is rows-only by design — include it for a
# rows-only driver row and relax the all-oracled window assert, or
# keep the all-oracled discipline and rely on its pinned equivalence
# tests, composer's choice, recorded either way), then the 9
# remaining oracled round-7-stamp re-checks in registration order
# (q_ts_changepoint, q_ts_seasonal_profile, q_ts_autocorr,
# q_window_slope, q_window_median, q_ts_outlier_mad,
# q_geo_radius_join, q_geo_grid_density, q_er_blocked_pairs), then
# the oldest oracled round-8-stamp re-checks in registration order
# (head: q_agg_minmax_by, q_sql_window_clause, q_mv_incremental,
# q_dq_profile, q_time_buckets, q_agg_salted, q_agg_mode_bool) to
# fill 50 — recompute at the freeze, prefer oracled over rows-only,
# implementation-changed keys outrank unchanged re-checks (the
# q_graph_triangles rule). Round-14's own execution changes
# (compaction carry, append extras carry, zorder DV handling, the
# CAS conversions) are all covered by r14-window rows recorded on
# the post-change tree, so no execution-change carryover enters
# round 15 unless round 15 itself changes code.
# ROUND-16 WINDOW (planned at the round-15 freeze): canaries
# q_daily_rollup + q_tpch_q12, then deferred_to_round16 (the nine
# round-15 additions, ALL oracled — q_table_merge_dv_bitmap,
# q_sim_ann_ivf_portable, q_sim_ann_lsh_portable,
# q_sim_ann_pq_portable, q_sim_ann_ivfpq_portable,
# q_table_schema_widening, q_stream_from_table_cdf_ratelimited,
# q_table_dv_bitmap_rewrite, q_table_time_travel_timestamp), then
# THREE execution-changed re-checks under the q_graph_triangles rule
# (round 15 added dvb-awareness to shared storage paths:
# q_table_optimize_concurrent is the oldest-stamped representative of
# snap_compact_optimistic's dvb-refusal/carry change,
# q_table_merge_dv of snap_read_mor's dvb guard, q_table_agg_pushdown
# of the pushdown dvb refusals — each displacing one stamp fill),
# then the 17 remaining oracled round-8-stamp re-checks in
# registration order (head: q_text_langid — q_multimodal_phash is
# round-8-stamped but rows-only by design, skipped under the
# all-oracled discipline), then the oldest oracled round-9-stamp
# re-checks in registration order to fill 50 — recompute at the
# freeze, prefer oracled over rows-only, implementation-changed keys
# outrank unchanged re-checks.
# ROUND-15 WINDOW (composed round 15, executing the plan above):
# canaries, then the ELEVEN round-14 additions in registration order —
# all eleven now oracled: round 15 converted q_table_ann_index_commits
# to ORACLE-EXACT by re-basing its frozen quantizer on the fixed-point
# Lloyd kernel (VERDICT r14 order #2), so the window keeps the
# all-oracled discipline with no relaxed assert (the composer's-choice
# branch the plan recorded) — then the 9 remaining oracled
# round-7-stamp re-checks and the 28 oldest oracled round-8-stamp
# re-checks in registration order to fill 50. Execution changes this
# round (the _kmfx_argmin min-struct refactor shared by
# q_cluster_kmeans_portable, and _frozen_assign inside
# snap_ann_index_update) are all inside window keys already;
# q_stream_ann_index also routes through snap_ann_index_update but is
# rows-only by design (float lineage) and keeps its pinned
# stream≡batch equality tests instead. Round-15 additions go into
# deferred_to_round16 (tests/test_contract_robustness.py).
# ROUND-17 WINDOW (planned at the round-16 freeze): canaries
# q_daily_rollup + q_tpch_q12, then deferred_to_round17 (the three
# round-16 additions, ALL oracled — q_table_auto_optimize_dv,
# q_table_dv_bitmap_concurrent,
# q_stream_from_table_rewrite_ratelimited), then the 30 remaining
# oracled round-9-stamp re-checks in registration order (head:
# q_tpch_q13, q_tpch_q14, ... — the TPC-H tail, the window/agg
# completions, q_knn_graph_selective, q_graph_cc_stars,
# q_retrieval_hybrid_rrf; q_emb_pca_topk and q_stream_ann_index are
# round-9/10-stamped but rows-only by design, skipped under the
# all-oracled discipline), then the oldest oracled round-10-stamp
# re-checks in registration order (head: q_window_percent_rank,
# q_topk_with_ties, q_scan_parquet, ...) to fill 50 — recompute at
# the freeze, prefer oracled over rows-only, implementation-changed
# keys outrank unchanged re-checks (the q_graph_triangles rule).
# Round-16's own execution changes (DV sidecars, commit_ts scoping,
# snapshot-log resolution, fold retry, dv_applied compaction,
# snap_expire sidecar sweep) are all covered by r16-window rows
# recorded on the post-change tree, so no execution-change carryover
# enters round 17 unless round 17 itself changes code.
# ROUND-16 WINDOW (composed round 16, executing the plan above):
# canaries, then the nine round-15 additions (all oracled — the
# former deferred_to_round16 pin, judge-verified both-SF in the r15
# VERDICT but never driver-checked), then FOUR execution-changed
# re-checks under the q_graph_triangles rule — the three the plan
# named (q_table_optimize_concurrent for snap_compact_optimistic's
# r15 dvb-refusal/carry change, q_table_merge_dv for snap_read_mor's
# dvb guard, q_table_agg_pushdown for the pushdown dvb refusals)
# PLUS q_table_auto_optimize, whose execution round 16 itself
# changes (the VERDICT r15 weak-flag fix: DV-aware fold-then-compact
# selection instead of crashing on bitmap-DV-dirty candidates) —
# then the 17 remaining oracled round-8-stamp re-checks in
# registration order (head: q_text_langid; q_multimodal_phash is
# round-8-stamped but rows-only by design, skipped under the
# all-oracled discipline), then the oldest oracled round-9-stamp
# re-checks in registration order (the join family head) to fill 50.
# Round 16's other execution changes are ALREADY window-covered: the
# commit_ts carry fix (ADVICE r15) and the DV sidecar write path
# land inside q_table_time_travel_timestamp / q_table_merge_dv_bitmap
# / q_table_dv_bitmap_rewrite, all in slots 3-11; the schema-widening
# NULL-region fix (ADVICE r15) changes q_table_schema_widening's own
# harness+oracle, also in-window. Round-16 additions go into
# deferred_to_round17 (tests/test_contract_robustness.py).
# Round-18 window (optimization round 2): VERDICT r17 order #3 —
# the three r17-optimized keys verified only by builder probes last
# round headline it, plus this round's execution-changed keys, the
# three never-driver-stamped oracled keys, DV-family re-checks for
# the r18 shared-path changes (co-located bitmap application above
# the cardinality cap; sidecar utime fallback), and the oldest
# round-9/10-stamp re-checks as rotation fill.
ROUND18_WINDOW = [
    # Canaries (2): flagship + the HUGEINT-class sentinel.
    "q_daily_rollup",
    "q_tpch_q12",
    # --- VERDICT r17 item 3: r17-optimized, builder-only-verified ---
    "q_graph_butterfly",
    "q_table_two_level_pruning",
    "q_table_agg_pushdown_dv",
    # --- r18 execution-changed keys (single-pass MoR rollup +
    # co-located DV read; packed argmin) ---
    "q_table_merge_dv_bitmap",
    "q_geo_radius_join",
    # --- never driver-stamped oracled keys (absent from every
    # CORRECTNESS_r*.json) ---
    "q_table_auto_optimize_dv",
    "q_table_dv_bitmap_concurrent",
    "q_stream_from_table_rewrite_ratelimited",
    # --- DV-family re-checks: every bitmap-delete writer shares the
    # r18 sidecar utime fallback; MoR readers share the cardinality
    # guard (below the cap their execution is byte-identical, these
    # re-stamp that) ---
    "q_table_dv_bitmap_rewrite",
    "q_table_optimize_concurrent",
    "q_table_vacuum",
    # --- rotation fill: the 30 oldest oracled round-9-stamp
    # re-checks, registration order ---
    "q_tpch_q13", "q_tpch_q14", "q_tpch_q16", "q_tpch_q18",
    "q_tpch_q19", "q_tpch_q22", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9",
    "q_tpch_q11", "q_tpch_q15", "q_tpch_q17", "q_tpch_q2",
    "q_tpch_q20", "q_tpch_q21", "q_window_rank", "q_window_lag_lead",
    "q_window_running", "q_window_range", "q_topk_per_group",
    "q_fn_explode", "q_agg_stats", "q_agg_percentile",
    "q_stream_mv_maintenance", "q_text_extract_html",
    "q_fn_explode_outer", "q_dedup_containment",
    "q_knn_graph_selective", "q_graph_cc_stars",
    "q_retrieval_hybrid_rrf",
    # --- rotation fill continued: oldest round-10 stamps ---
    "q_window_percent_rank", "q_topk_with_ties", "q_scan_parquet",
    "q_scan_json", "q_project_cast", "q_filter_basic",
    "q_filter_in_between_like",
]


# Retired round-13 window (50/50 green in CORRECTNESS_r13.json), kept
# because tests/test_oracle_types.py pins its oracle types; the other
# retired windows live in git history:
ROUND13_WINDOW = [
    # Canaries (2): flagship + the HUGEINT-class sentinel.
    "q_daily_rollup",
    "q_tpch_q12",
    # --- the 9 round-12 additions (former deferred_to_round13 pin),
    # registration order ---
    "q_table_concurrent_commit",
    "q_table_vacuum",
    "q_table_merge_snapshot",
    "q_table_pruned_read",
    "q_table_schema_evolution",
    "q_stream_table_cdc_merge",
    "q_agg_bloom_portable",
    "q_dedup_simhash_portable",
    "q_graph_random_walks",
    # --- the 25 oracled round-5-stamp re-checks, registration order
    # (head: q_stream_dedup_within_watermark, displaced from the
    # round-12 window by the q_geo_nearest_poi execution-change swap) ---
    "q_stream_dedup_within_watermark", "q_agg_basic", "q_agg_distinct",
    "q_agg_rollup", "q_agg_cube", "q_agg_collect", "q_agg_theta_sketch",
    "q_agg_bitmap_distinct", "q_fn_url", "q_fn_csv", "q_fn_xml",
    "q_fn_collation", "q_fn_mask", "q_dedup_semantic",
    "q_emb_random_projection", "q_knn_graph", "q_chunk_documents",
    "q_shuffle_deterministic", "q_index_inverted", "q_dedup_incremental",
    "q_skew_profile", "q_ngram_lm", "q_quality_lm_score", "q_dsir_score",
    "q_corpus_select",
    # --- the 13 oldest oracled round-7-stamp re-checks, registration
    # order ---
    "q_join_asof_nearest", "q_window_distribution", "q_window_locf",
    "q_set_union_by_name", "q_sql_quantified", "q_sql_pivot",
    "q_sql_dynamic", "q_sql_unpivot", "q_sql_lateral_view",
    "q_scan_text", "q_scan_csv_malformed", "q_dq_drift",
    # --- execution-changed-this-round re-checks (the q_graph_triangles
    # rule): the snapshot ingest sink gained the manifest txn
    # idempotency guard (ADVICE r12), and q_stream_hll_daily converted
    # from rows-only DataSketches state to the oracle-exact portable
    # register lattice (VERDICT r12 order #7) — each displaces one
    # round-7 stamp (q_event_transitions, then q_dq_drift's successor
    # q_observe_metrics, roll to round 14) ---
    "q_stream_table_ingest",
    "q_stream_hll_daily",
]


def collect_queries() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every operator module (side effect: registration), then
    reorder so ROUND18_WINDOW occupies the first 50 registration slots
    — the slice the driver's correctness gate checks this round."""
    from steaminganalysis_spark.operators import joins  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import tpch  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import windows  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import relational  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import sql_surface  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import udfs  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import storage  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import reshape  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import pipeline  # noqa: F401  isort: skip
    from steaminganalysis_spark.streaming import queries as streaming_queries  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import multimodal  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import aggregates  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import functions_pack  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import llm  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import ann  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import extras  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import corpus  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import graph  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import retail  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import sequences  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import geo  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import linkage  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import curation  # noqa: F401  isort: skip
    from steaminganalysis_spark.operators import retrieval  # noqa: F401  isort: skip

    missing = [k for k in ROUND18_WINDOW if k not in QUERIES]
    if missing:
        raise RuntimeError(f"ROUND18_WINDOW names unregistered queries: {missing}")
    window = set(ROUND18_WINDOW)
    ordered = ROUND18_WINDOW + [k for k in QUERIES if k not in window]
    reordered = {k: QUERIES[k] for k in ordered}
    QUERIES.clear()
    QUERIES.update(reordered)
    reordered_oracle = {k: ORACLE[k] for k in ordered if k in ORACLE}
    ORACLE.clear()
    ORACLE.update(reordered_oracle)
    return QUERIES, ORACLE
