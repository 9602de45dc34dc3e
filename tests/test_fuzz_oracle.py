"""Oracle-boundary fuzz: random small corpora, Spark vs DuckDB LIVE.

The per-round driver gate runs the declared queries against the FIXED
sf corpora — tie and float edge cases that those corpora happen not to
contain stay invisible until a regenerated corpus hits them. This test
closes that gap for the retrieval family (the flagship + BM25, the
queries whose cross-engine float parity is by explicit construction):
hypothesis generates corpora designed to manufacture the nasty cases —
score ties at the top-k boundary, empty texts, all-stopword texts,
duplicate documents, single-doc corpora — writes them to parquet, and
runs the REGISTERED query and its REGISTERED oracle side by side.

Comparison is exact (==, no tolerance), including the double-typed BM25
scores: the engine's claim is bit-exactness by construction (integer
rational tf normalization + per-term idf quantized to micros — see
operators/retrieval.py), and the driver hashes values, so anything less
than bit-equal IS a failure.
"""

from __future__ import annotations

import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pulsar_project_spark.registry import ORACLES, QUERIES

import pytest

# hypothesis fuzz sweeps: minutes-long by design — certification arm,
# deselected from the driver-budget default suite (pytest.ini)
pytestmark = pytest.mark.gate


# Vocabulary engineered for collisions: the flagship/BM25 query terms
# (so scores are frequently nonzero and tied), stopwords (dropped by
# both tokenizers), punctuation-bearing variants (exercises
# clean_string's regex parity), and inert filler.
_WORDS = [
    "filter", "merge", "scan", "window",          # BM25_TERMS
    "spark", "query", "data", "rollup",           # filler, sometimes matches flagship
    "the", "and", "of", "a", "is", "to",          # stopwords
    "Filter", "MERGE", "Scan!", "window,", "scan.",  # case/punct variants
    "zzz", "qqq",                                  # never matches
]

_doc_texts = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=25).map(" ".join),
    min_size=1,
    max_size=20,
)

_FUZZED = ("simple_rag_topk", "keyword_score_scan", "bm25_scores", "bm25_topk")


def _rowkey(rows):
    """NULL-safe order-insensitive compare key: raw-tuple sorting raises
    TypeError the moment a query legitimately emits NULL next to strings
    in the same column (e.g. the corrupt-line census's NULL group); the
    repr of each cell keeps exact values while staying totally ordered.
    Same convention as tests/test_null_inputs.py."""
    return sorted(tuple(repr(x) for x in r) for r in rows)


def _write_corpus(texts: list[str]) -> str:
    sf_dir = tempfile.mkdtemp(prefix="fuzz_sf_")
    tbl = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["fuzz"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, f"{sf_dir}/documents.parquet")
    return sf_dir


def _assert_family_matches(spark, texts: list[str], names: tuple[str, ...]):
    import duckdb

    sf_dir = _write_corpus(texts)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    try:
        for name in names:
            got = _rowkey(QUERIES[name](spark, sf_dir).collect())
            want = _rowkey(con.execute(ORACLES[name]).fetchall())
            assert got == want, (
                f"{name} diverged on corpus {texts!r}:\n"
                f"  spark:  {got}\n  oracle: {want}"
            )
    finally:
        con.close()


@given(texts=_doc_texts)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_retrieval_family_matches_oracle_on_random_corpora(spark, texts):
    _assert_family_matches(spark, texts, _FUZZED)


# Dedup / corpus-pipeline family: duplicate documents are likely under
# this vocabulary (20 docs over a 20-word alphabet), so fingerprint
# collisions, first-seen-wins keepers, and the composed pipeline all
# exercise their interesting paths; longer texts let the quality
# filter's token-count window pass sometimes and fail sometimes.
_PIPELINE_FUZZED = (
    "exact_dedup_fingerprint",
    "chunk_exact_dedup",
    # round-10: perceptual-hash image dedup — fuzz corpora make dense
    # duplicate clusters (tiny doc_id ranges repeat (w,h,id%256)
    # patterns) and single-doc corpora hit the empty HAVING branch
    "pgm_dhash_dedup_census",
    # ... and the banded Hamming composition over the same hashes
    # (single-rep corpora leave the candidate join empty; tiny rep
    # sets exercise both near and isolated clusters)
    "pgm_dhash_near_clusters",
    # round-11: the multimodal corpus-pipeline capstone composing the
    # decode, byte-stats quality band, perceptual dedup, and split
    "multimodal_corpus_pipeline",
    "quality_filter_audit",
    "split_assignment_counts",
    "vocab_min_max_df",
    "corpus_pipeline_e2e",
    "training_order_shuffle",
    "length_bucket_padding_stats",
    "compaction_plan_buckets",
    # text scalar family
    "clean_string_projection",
    "truncate_display_200",
    "filename_sanitize",
    "title_extraction",
    "marker_extraction",
    # round-11: the CJK tokenizer over fuzz ASCII salads wrapped in
    # the fixed mixed-script affixes (stopword drops + punct tokens)
    "cjk_token_counts",
    # text analysis family
    "lang_corpus_stats",
    "distinct_tokens_except_stopwords",
    "term_frequency_top20",
    "token_count_destopped",
    "quality_scores",
    "langid_profile_scores",
    "langid_confusion_matrix",
    "lang_sampling_weights",
    # round-8 continuation: the weights EXECUTED to a token budget —
    # tiny fuzz corpora force b_l=0 languages (zero docs selected) and
    # single-lang corpora (the whole budget lands on one partition)
    "token_budget_mixture_sample",
    # round-9 continuation: DSIR selection — all-'en' fuzz corpora make
    # every 5th doc seed and the rest candidates; 1-doc corpora have NO
    # candidates (empty selection), empty-text docs carry zero grams
    # (absent from the scored relation on both engines)
    "dsir_importance_select",
    "bpe_token_counts",
    "feature_hash_embeddings",
    "simhash_fingerprints",
    # round-5 additions: corpus scoring, dedup prefilter, real codecs
    "char_bigram_familiarity",
    "priority_source_dedup",
    "bloom_prefilter_census",
    "bloom_gated_incremental_dedup",
    # round-7: the complete exact similarity join — 20-word fuzz vocab
    # forces maximal shingle collisions, stressing both completeness
    # theorems (prefix + length filter) against the any-shingle oracle
    "prefix_filtered_jaccard_pairs",
    "bpe_fixed_merge_encode_census",
    "png_decode_features",
    "png_permissive_decode_census",
    "jpeg_entropy_roundtrip_features",
    # round-6: full pixel path (entropy + integer dequant + integer IDCT)
    "jpeg_pixel_decode_features",
    # round-7: color 4:2:0 to RGB (upsample + fixed-point CSC on top)
    "jpeg_color_pixel_decode_features",
    "jpeg_color_permissive_decode_census",
    "wav_codec_roundtrip_features",
    # round-7: first-difference spectral tilt on the same decode path
    "wav_spectral_tilt_features",
    # round-7: half-band decimation on the same decode path
    "wav_decimate2_features",
    "pgm_resize_features",
    "rawv_frame_sample_features",
    # round-7: permissive corrupt-census twins for PGM/RAWV
    "pgm_permissive_decode_census",
    "rawv_permissive_sample_census",
    # multimodal family (payload = text bytes)
    "multimodal_asset_catalog",
    "image_decode_stub",
    "byte_histogram_features",
    "video_frame_sample_plan",
    "audio_chunk_plan",
)

_long_doc_texts = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=60).map(" ".join),
    min_size=1,
    max_size=15,
)


@given(texts=_long_doc_texts)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pipeline_family_matches_oracle_on_random_corpora(spark, texts):
    _assert_family_matches(spark, texts, _PIPELINE_FUZZED)


# --- Events family: windows / retention / sessions on random streams ---------
#
# Same contract as the corpus fuzz, over a generated events table: small
# user-id and type alphabets force the interesting collisions (ties on
# (ts, event_id) tiebreaks, single-event sessions, users with one day of
# activity), and value is generated in exact cents so DECIMAL/microsecond
# integer oracles stay bit-exact. ts spans 18 days of 2024 at second granularity
# so day-bucket and gap logic both cross boundaries.

_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),                      # user_id — tiny → collisions
        st.integers(0, 18 * 86_400),            # ts offset seconds from epoch day
        # (18 days reaches the series-similarity week at day offset 10-16)
        st.sampled_from(_EVENT_TYPES),
        st.integers(0, 50_000),                 # value in exact cents
        # props payload k: numeric OR a non-numeric string (ADVICE r3:
        # integer-only k left the try_cast/dirty-JSON paths unfuzzed —
        # string k also makes the args fixtures splice MALFORMED
        # constructed JSON, exercising the json_valid outer guards)
        st.one_of(st.integers(0, 99),
                  st.sampled_from(["abc", "12x", "", "7.5.3"])),
    ),
    min_size=1,
    max_size=60,
)

_EVENTS_FUZZED = (
    # round-9 continuation: generated columns under fuzz — NULL ts rows
    # generate NULL days (clustered to one range partition), and the
    # 18-day 2024 span straddles the census window's edge so both the
    # proved-empty read (every file pruned: the typed 0-row relation)
    # and partial overlaps are hit
    "tx_generated_column_census",
    # round-10: generated-column maintenance under an UPDATE that moves
    # the base — fuzz hits the no-match move window (no-commit branch),
    # NULL ts rows passing through the rewrite unchanged, and corpora
    # entirely outside the destination (proved-empty pruning)
    "tx_generated_dml_census",
    # round-7: fuzz hits the short-history branches (n_terms < 8) and
    # NULL value/ts/user rows the real corpus is too clean to produce
    "user_value_ewma_dyadic",
    # round-7: retraction algebra under NULL values/users and corpora
    # where md5 retracts EVERY row of a user (the vanishing-group case)
    "retractable_agg_view_census",
    # round-7: both catalog transactions under fuzz timestamps (18-day
    # span crosses both cut instants; single-sided corpora leave one
    # tier with 0 rows — its schema-only staged file reads as the typed
    # 0-row relation)
    "tx_catalog_atomic_move_census",
    # round-7: vacuum after compaction under fuzz corpora (single-file
    # buckets -> nothing reclaimed; the degenerate-reclaim branch)
    "tx_vacuum_reclaim_census",
    # round-7: mixed-spec generations under fuzz (18-day span straddles
    # the pruned week; all-outside corpora prune every file and read
    # the typed 0-row relation)
    "tx_partition_evolution_census",
    "keep_last_n_per_user",
    "latest_event_per_user",
    "latest_event_argmax",
    "series_pattern_distance_topk",
    "evict_min_per_type",
    "group_count_by_type",
    "per_user_activity",
    "sessionization",
    "daily_user_series_gapfilled",
    "forward_fill_user_values",
    "debounce_events_1s",
    "cumulative_new_users_by_day",
    "user_event_gap_stats",
    "user_session_stats",
    # round-3 driver-budget tail + set-op/pivot/json shapes
    "value_histogram_by_type",
    "pivot_event_type_by_day",
    "unpivot_event_matrix",
    "except_click_days_no_purchase",
    "intersect_click_and_purchase_days",
    "except_all_click_days",
    "daily_revenue_7d_ma",
    "props_digit_redaction",
    "json_path_stats_native",
    "label_fact_urljoin",
    "user_event_windows",
    "user_value_ranks",
    "asof_last_purchase",
    "attribution_window_join",
    "conversion_funnel",
    # args / coercion / json extraction family
    "arg_whitelist_projection",
    "arg_schema_casting",
    "boolean_normalize",
    "numeric_convertibility",
    "json_props_extract",
    "fenced_json_roundtrip",
    "extension_lookup_default",
    # state / rollup / distribution family
    "microbatch_rollup",
    "memory_state_snapshot",
    "mergeable_state_rollup",
    "snapshot_diff_counts",
    "skew_key_census",
    "winsorize_tail_counts",
    "equidepth_deciles_by_type",
    "user_value_trend",
    "hash_stratified_sample",
    "jsonl_roundtrip_counts",
    "csv_roundtrip_counts",
    "schema_evolution_union_counts",
    "corrupt_json_lines_census",
    "orc_roundtrip_counts",
    "partitioned_prune_purchase_days",
    # round-7: transactional compaction execution + file-level time travel
    "tx_compaction_roundtrip_census",
    "tx_snapshot_time_travel_census",
    "tx_optimize_zorder_census",
    "tx_pruned_read_census",
    "tx_delete_range_census",
    "tx_merge_upsert_census",
    # round-7: shallow clone + branch divergence on fuzz corpora
    "tx_clone_divergence_census",
    "sql_recursive_reachability",
    # round-8: AS OF TIMESTAMP travel, DV delete, change data feed +
    # its IVM fold — fuzz hits NULL user_ids (must survive deletes and
    # never feed as deleted), single-sided corpora (one residue class
    # empty -> a file-less append), and no-match delete ranges (the
    # no-commit branch, so the feed sees fewer commits)
    "tx_time_travel_timestamp_census",
    "tx_delete_dv_census",
    "tx_change_feed_census",
    "tx_cdf_incremental_agg_census",
    "tx_restore_census",
    "tx_schema_evolution_census",
    # round-8 continuation: COW UPDATE (NULL keys must pass through
    # unchanged, no-match ranges take the no-commit branch) and the
    # typed feed (single-sided corpora exercise empty change classes)
    "tx_update_census",
    "tx_typed_change_feed_census",
    # bloom skipping: fuzz corpora miss probe users entirely (the
    # proved-absent-everywhere ValueError branch) and hit NULL user_ids
    # (never inserted into a bloom, never probed)
    "tx_bloom_point_lookup_census",
    # rename mapping: single-sided fuzz corpora leave one generation
    # empty (the coalesced read must still surface the other)
    "tx_rename_column_census",
    "tx_drop_column_census",
    # round-9: chain-resolved pruning (fuzz hits single-sided corpora
    # where a whole generation is missing, and NULL user_ids the
    # residual BETWEEN must drop) and type widening (the narrow
    # generation may be empty -> the cast-only fallback path)
    "tx_pruned_read_renamed_census",
    "tx_widen_column_census",
    # conditional MERGE: single-sided corpora make the target or the
    # source empty (insert-only / no-commit branches); NULL user_ids
    # and event_ids are filtered as non-keys on both engines
    "tx_merge_conditional_census",
    # reorg: single-sided corpora leave only the clean or only the
    # lagging generation (metadata-only and no-debt branches)
    "tx_reorg_purge_census",
    # round-4 additions: ordered funnel / cohort / keyless interval join
    "ordered_funnel_stages",
    "cohort_retention_matrix",
    "interval_join_bucketed",
    # round-5 additions: sketch probe + CDC/SCD2 change-log reductions
    "cms_heavy_hitters",
    "cdc_apply_net_state",
    "scd2_user_type_history",
    "exact_k_per_group_sample",
    "lc_distinct_bitmap_census",
    "salted_segment_event_counts",
    "content_fingerprint_events",
    "session_path_trigrams",
    # round-6: integer PageRank over the transition graph
    "event_transition_pagerank",
    "ohlc_bars_5min",
    "rolling_7d_active_users",
    "unattributed_clicks_census",
    "cdc_snapshot_at_time",
    "late_arrival_census",
    "user_journey_strings",
    "value_equiwidth_histogram",
    # round-11: the streaming oracle upgrades — fuzzing exercises the
    # watermark emission boundaries (tumbling/session/outer-join),
    # the last-wins batch fold, the doubled-input dedup, and the MQ
    # roundtrip codec on random second-offset streams
    "streaming_topic_frequencies",
    "streaming_windowed_counts",
    "streaming_keep_last_state",
    "streaming_exact_dedup",
    "streaming_stream_stream_join",
    "streaming_session_windows",
    "streaming_left_outer_attribution",
    "mq_pipeline_roundtrip",
    # round-12: the rows-only shrink (VERDICT r11 order #5) — fuzz
    # exercises the salted-hash per-stratum thresholds on tiny
    # alphabets, and the greedy debounce chain's recursive-CTE replay
    # under (ts, event_id) ties and same-key bursts straddling the gap
    "stratified_sample_by_type",
    "streaming_debounce",
)


def _write_events(rows) -> str:
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC in epoch micros
    sf_dir = tempfile.mkdtemp(prefix="fuzz_ev_")
    tbl = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array(
            [base_us + sec * 1_000_000 for (_, sec, _, _, _) in rows],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([u for (u, _, _, _, _) in rows], pa.int64()),
        "event_type": pa.array([t for (_, _, t, _, _) in rows], pa.string()),
        "value": pa.array(
            [cents / 100.0 for (_, _, _, cents, _) in rows], pa.float64()
        ),
        "props": pa.array(
            ['{"k": %d}' % k if isinstance(k, int) else '{"k": "%s"}' % k
             for (_, _, _, _, k) in rows], pa.string()
        ),
    })
    pq.write_table(tbl, f"{sf_dir}/events.parquet")
    # static customer dim (catalog-sized): user_ids 0-5 resolve to real
    # customer rows, so the salted segment join fuzzes too
    import shutil
    shutil.copy("/root/testdata/sf0.001/customer.parquet",
                f"{sf_dir}/customer.parquet")
    return sf_dir


@given(rows=_events_strategy)
# round-11 regression, pinned forever: a PURCHASE-FREE corpus — the
# left-outer oracle must freeze the global watermark when either join
# side is empty (Spark's empty-side node never advances; DuckDB's
# least() skips NULL and would let unmatched clicks close).
@example(rows=[(1, 383110, "signup", 32423, 38),
               (1, 185859, "view", 28468, "7.5.3"),
               (1, 771869, "click", 10254, 23),
               (3, 397597, "signup", 44609, 97),
               (1, 883567, "click", 0, ""),
               (0, 0, "view", 0, 0)])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_events_family_matches_oracle_on_random_streams(spark, rows):
    import duckdb

    sf_dir = _write_events(rows)
    con = duckdb.connect()
    for t in ("events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    try:
        for name in _EVENTS_FUZZED:
            got = _rowkey(QUERIES[name](spark, sf_dir).collect())
            want = _rowkey(con.execute(ORACLES[name]).fetchall())
            assert got == want, (
                f"{name} diverged on events {rows!r}:\n"
                f"  spark:  {got}\n  oracle: {want}"
            )
    finally:
        con.close()


# --- Star/relational family: random TPC-H-ish micro-warehouses ---------------
#
# This round's driver budget is exactly these queries, so pre-drive them
# over randomized warehouses: tiny key spaces force the collision cases
# (customers with no orders, orders with no lineitems, ties on rollup
# cells, (brand, size) fuzzy-blocking collisions), and all money is
# generated in exact cents so the DECIMAL oracles stay bit-exact.
# region/nation are the real fixed catalogs, copied from the corpus.

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUSES = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_NAMES = ["green tomato", "green tomatoes", "olive thistle",
               "olive this", "navy lace", "navy face", "plum satin"]
_BASE_2024_US = 1_704_067_200_000_000

_warehouse_strategy = st.fixed_dictionaries({
    "customers": st.lists(
        st.tuples(st.integers(0, 24),            # c_nationkey
                  st.integers(-100_000, 100_000),  # acctbal cents
                  st.integers(0, 4)),            # segment idx
        min_size=1, max_size=6),
    "orders": st.lists(
        st.tuples(st.integers(0, 5),             # custkey (mod n_cust)
                  st.integers(0, 2),             # status idx
                  st.integers(0, 4),             # priority idx
                  st.integers(0, 5_000_000),     # totalprice cents
                  st.integers(0, 364)),          # orderdate day
        min_size=1, max_size=15),
    "lineitems": st.lists(
        st.tuples(st.integers(0, 14),            # orderkey (mod n_orders)
                  st.integers(0, 6),             # partkey (mod n_parts)
                  st.integers(1, 50),            # quantity
                  st.integers(0, 2_000_00),      # extendedprice cents
                  st.integers(0, 10),            # discount %
                  st.integers(0, 400)),          # shipdate day
        min_size=1, max_size=40),
    "parts": st.lists(
        st.tuples(st.integers(0, 6),             # name idx
                  st.integers(0, 1),             # brand idx
                  st.integers(1, 2),             # size
                  st.integers(0, 100_000)),      # retailprice cents
        min_size=1, max_size=7),
})

_STAR_FUZZED = (
    "star_revenue_region_segment_month",
    "revenue_rollup_region_nation",
    "cube_orders_status_priority",
    "grouping_sets_region_priority",
    "fuzzy_part_name_pairs",
    "parts_no_bulk_order",
    "orders_above_priority_mean",
    "late_shipment_priority_counts",
    "big_order_customers",
    "customer_order_count_distribution",
    "orders_above_customer_avg",
    "fact_fact_smj_rollup",
    # round-5: Morton-bucket layout census (orders dims) + Q7/Q8 shapes
    "zorder_bucket_stats",
    # round-6: snowflake-magnitude keys exercise divide-first normalization
    "zorder_wide_range_stats",
    # round-7: the 3-dim interleave on collapsed fuzz ranges
    "zorder3_bucket_stats",
    "nation_trade_volume",
    "market_share_by_year",
    # round-6: Q9/Q19 shapes
    "product_type_profit",
    "brand_quantity_revenue",
    # round-9 continuation: row tracking under fuzz corpora — tiny
    # custkey alphabet ([0,5]) makes the DV delete hit most rows
    # (mass-gap materialization) or, when no custkey lands in [2,400]'s
    # overlap, the no-match early-return branch; single-batch corpora
    # leave two of the three appends empty (0-row staged files)
    "tx_row_tracking_census",
    # keyless CDC: fuzz custkeys ([0,5]) land entirely inside the
    # delete range's overlap — most of v_from deletes, updates are
    # empty (custkey never reaches [100,400]), and 1-batch corpora
    # leave whole change classes absent
    "tx_keyless_cdc_census",
    # k-anonymity: tiny fuzz corpora make EVERY quasi-id cell at-risk
    # (n < k), exercising the flag's boundary on both engines
    "k_anonymity_census",
    # DataSource read: fuzz custkeys ([0,5]) never reach >500 — the
    # pushdown prunes EVERYTHING (no-op-split branch) or the DV delete
    # empties the table first; both must hash as zero rows
    "tx_datasource_read_census",
    # standard-API writer: single-sided fuzz corpora leave one batch
    # empty (the writer's empty-partition message path) and the small
    # custkey alphabet drops everything at the >300 filter
    "tx_datasource_write_census",
    "range_partition_bounds",
    "join_cardinality_forecast",
    "referential_integrity_census",
    "functional_dependency_census",
    "mad_outlier_census",
    "percentile_bands_by_priority",
    "national_revenue",
    "sql_trade_volume_identical",
    # round-5 sweep: every remaining warehouse-only oracle query
    "customer_ltv_segments",
    "median_order_cents_by_priority",
    "orders_by_month",
    "pricing_summary",
    "profile_orders_table",
    "shipping_priority_top10",
    "sql_brand_volume",
    "sql_nation_repeat_customers",
    "sql_window_top3_orders",
    "top_revenue_orders",
    "nation_revenue_share",
    "kv_lookup_miss_message",
    # round-7: dense fuzz baskets stress the support threshold + wedge
    # join (≤40 lineitems over ≤7 parts → near-complete co-order graphs)
    "coorder_part_triangles",
    # round-7 Q21/Q22/skyline shapes: single-supplier fuzz lineitems make
    # Q21 vacuously empty (parity still checked); Q22 exercises the
    # no-orders-at-all anti-join branch; the skyline gets dense
    # equal-price/equal-size tie corpora the real data never produces
    "sole_late_supplier_waits",
    "dormant_rich_customers",
    "pareto_frontier_parts",
    # dense fuzz baskets cascade hard under the peel (high-degree tiny
    # graphs lose whole components round by round)
    "coorder_part_kcore",
    # near-complete tiny fuzz graphs force maximal label ties every
    # round — the (count DESC, label ASC) argmax under maximum stress
    "coorder_part_communities",
    # tiny fuzz domains collapse the norm16 range to a handful of cells —
    # the Hilbert rounds then exercise deep-masked corners (x = y = 0 for
    # most rounds) the real corpus never reaches
    "hilbert_bucket_stats",
    # 1-2-day fuzz corpora make every weekday slot a singleton (MAD = 0,
    # every day its own median) — the degenerate-baseline branch
    "seasonal_revenue_anomaly_census",
    # Q10/Q15: fuzz dates miss the 1996 windows (empty-side parity) and
    # tiny supplier cardinalities force the all-tied max branch
    "returned_item_top_customers",
    "top_supplier_by_quarter_revenue",
    # dense fuzz baskets maximize rule fan-out; tiny corpora hit the
    # 100%-confidence and all-digits-missing branches
    "association_rules_pairs",
    "benford_first_digit_census",
    # tiny corpora put whole generations (A or ΔA, B or ΔB) at zero rows
    # — the degenerate-split branches of the IVM identity
    "join_view_incremental_maintenance",
    # round-7 TPC-H completion: the fuzz warehouse's single supplier 0
    # is in AFRICA, so the region-filtered Q2/Q11/Q20 shapes run their
    # REAL paths here (ties in the fuzzed unit costs hit Q2's
    # multi-best-supplier equality join; 'green …' fuzz part names hit
    # Q20's prefix branch); fuzz sizes 1-2 keep Q2/Q17's size filters
    # live; Q6/Q14's 1996 windows miss the 2024 fuzz dates (empty-side
    # parity, like Q10/Q15 above); Q12's delay bands band every fuzzed
    # (orderdate, shipdate) pair
    "forecast_revenue_change",
    "min_cost_supplier_per_part",
    "important_part_stock_value",
    "ship_delay_priority_matrix",
    "promo_revenue_share",
    "small_qty_part_revenue",
    "excess_supply_suppliers",
    # round-7: the bucketed write→co-located-join path under fuzz
    # cardinalities (1-row buckets, single-order corpora)
    "bucketed_cojoin_rollup",
    # round-7: KS under degenerate fuzz distributions (one-sided
    # corpora -> NULL-total branch; all-equal values -> single bin)
    "ks_distance_order_values",
)


def _write_warehouse(w) -> str:
    import shutil

    sf_dir = tempfile.mkdtemp(prefix="fuzz_wh_")
    for t in ("region", "nation", "supplier"):
        # static dims, catalog-sized; lineitem fuzz pins l_suppkey = 0,
        # so supplier-side joins resolve to one real supplier row
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet",
                    f"{sf_dir}/{t}.parquet")

    cs = w["customers"]
    pa_c = pa.table({
        "c_custkey": pa.array(range(len(cs)), pa.int64()),
        "c_name": pa.array([f"Customer#{i}" for i in range(len(cs))]),
        "c_nationkey": pa.array([n for (n, _, _) in cs], pa.int32()),
        "c_acctbal": pa.array([b / 100.0 for (_, b, _) in cs], pa.float64()),
        "c_mktsegment": pa.array([_SEGMENTS[s] for (_, _, s) in cs]),
    })
    pq.write_table(pa_c, f"{sf_dir}/customer.parquet")

    os_ = w["orders"]
    pa_o = pa.table({
        "o_orderkey": pa.array(range(len(os_)), pa.int64()),
        "o_custkey": pa.array([c % len(cs) for (c, _, _, _, _) in os_],
                              pa.int64()),
        "o_orderstatus": pa.array([_STATUSES[s] for (_, s, _, _, _) in os_]),
        "o_totalprice": pa.array([p / 100.0 for (_, _, _, p, _) in os_],
                                 pa.float64()),
        "o_orderdate": pa.array(
            [_BASE_2024_US + d * 86_400_000_000 for (_, _, _, _, d) in os_],
            pa.timestamp("us")),
        "o_orderpriority": pa.array([_PRIORITIES[p] for (_, _, p, _, _) in os_]),
    })
    pq.write_table(pa_o, f"{sf_dir}/orders.parquet")

    ps = w["parts"]
    pa_p = pa.table({
        "p_partkey": pa.array(range(len(ps)), pa.int64()),
        "p_name": pa.array([_PART_NAMES[n] for (n, _, _, _) in ps]),
        "p_brand": pa.array([f"Brand#{b + 1}" for (_, b, _, _) in ps]),
        "p_type": pa.array(["STANDARD ANODIZED TIN"] * len(ps)),
        "p_size": pa.array([s for (_, _, s, _) in ps], pa.int32()),
        "p_retailprice": pa.array([r / 100.0 for (_, _, _, r) in ps],
                                  pa.float64()),
    })
    pq.write_table(pa_p, f"{sf_dir}/part.parquet")

    ls = w["lineitems"]
    pa_l = pa.table({
        "l_orderkey": pa.array([o % len(os_) for (o, _, _, _, _, _) in ls],
                               pa.int64()),
        "l_partkey": pa.array([p % len(ps) for (_, p, _, _, _, _) in ls],
                              pa.int64()),
        "l_suppkey": pa.array([0] * len(ls), pa.int64()),
        "l_linenumber": pa.array(range(len(ls)), pa.int32()),
        "l_quantity": pa.array([float(q) for (_, _, q, _, _, _) in ls],
                               pa.float64()),
        "l_extendedprice": pa.array([e / 100.0 for (_, _, _, e, _, _) in ls],
                                    pa.float64()),
        "l_discount": pa.array([d / 100.0 for (_, _, _, _, d, _) in ls],
                               pa.float64()),
        "l_tax": pa.array([0.0] * len(ls), pa.float64()),
        "l_returnflag": pa.array(["N"] * len(ls)),
        "l_linestatus": pa.array(["O"] * len(ls)),
        "l_shipdate": pa.array(
            [_BASE_2024_US + d * 86_400_000_000 for (_, _, _, _, _, d) in ls],
            pa.timestamp("us")),
    })
    pq.write_table(pa_l, f"{sf_dir}/lineitem.parquet")
    return sf_dir


@given(w=_warehouse_strategy)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_star_family_matches_oracle_on_random_warehouses(spark, w):
    import duckdb

    sf_dir = _write_warehouse(w)
    con = duckdb.connect()
    for t in ("region", "nation", "supplier", "customer", "orders",
              "lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    try:
        for name in _STAR_FUZZED:
            got = _rowkey(QUERIES[name](spark, sf_dir).collect())
            want = _rowkey(con.execute(ORACLES[name]).fetchall())
            assert got == want, (
                f"{name} diverged on warehouse {w!r}:\n"
                f"  spark:  {got}\n  oracle: {want}"
            )
    finally:
        con.close()


# --- Embedding family: random vector tables ----------------------------------
#
# Vectors are dyadic rationals (k/128, k ∈ [-512, 512]): every dot
# product, partial sum, and norm numerator is then EXACTLY representable
# in float64, so summation order cannot perturb a single bit and the
# float outputs (cosines, quantization scales) must equal DuckDB's
# exactly — the fuzz extends the bit-exactness claim from the fixed
# corpus to arbitrary vector content. Dimension is kept at the corpus's
# 64; tiny label space forces centroid collisions.

_embeddings_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),                                   # label
        st.lists(st.integers(-512, 512), min_size=64, max_size=64),
    ),
    min_size=2,
    max_size=12,
)

_EMBEDDING_FUZZED = (
    "knn_cosine_topk",
    "srp_lsh_buckets",
    "srp_near_pairs",
    "label_centroid_qsums",
    "embedding_int8_quantize",
    # r5: product quantization (fixed codebooks, integer exact)
    "pq_code_assignment",
    "pq_adc_topk",
    # round-6: trained codebooks (full Lloyd round replayed in SQL)
    "pq_trained_code_assignment",
    "pq_trained_adc_topk",
    "binary_quantize_hamming_topk",
    # r4 ANN oracle twins: all-integer quantized math, so random dyadic
    # vectors must match bit-for-bit (min_size=2 also exercises the
    # min(k, n) centroid degradation and the k=min(5, n) MMR tail)
    "ivf_cell_assignment",
    "mmr_rerank_exact",
    # round-7: the composed IVF-PQ pipeline — min_size=2 corpora force
    # nprobe > n_cells and single-cell routing
    "ivfpq_adc_topk",
    # round-8: shortlist-then-exact-rerank — tiny corpora force
    # shortlist >= corpus (rerank degenerates to exact brute force,
    # which must STILL match the oracle's two-stage replay)
    "ivfpq_rerank_topk",
    # round-8 continuation: SemDeDup — min_size=2 corpora force
    # k > n centroids (every point its own cluster, nothing pruned)
    # and zero-norm vectors (cosine-0 convention on both engines)
    "semdedup_embedding_prune",
    # round-11: tx-table ANN index maintained off the change feed —
    # tiny corpora make the third append and/or the delete window
    # empty (feed nets to pure inserts / nothing), and min_size=2
    # degrades the frozen quantizer to min(k, n) centroids
    "tx_ann_index_maintenance_census",
    # ... and its streaming-ingestion twin (multi-batch staging of a
    # tiny corpus degenerates to 1-2 non-empty files; exactly-once
    # gates still run)
    "streaming_ann_ingest_census",
)


def _write_embeddings(rows, sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or tempfile.mkdtemp(prefix="fuzz_emb_")
    tbl = pa.table({
        "vec_id": pa.array(range(len(rows)), pa.int64()),
        "embedding": pa.array(
            [[k / 128.0 for k in vec] for (_, vec) in rows],
            pa.list_(pa.float32()),
        ),
        "label": pa.array([lb for (lb, _) in rows], pa.int32()),
    })
    pq.write_table(tbl, f"{sf_dir}/embeddings.parquet")
    return sf_dir


@given(rows=_embeddings_strategy)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_embedding_family_matches_oracle_on_random_vectors(spark, rows):
    import duckdb

    sf_dir = _write_embeddings(rows)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    try:
        for name in _EMBEDDING_FUZZED:
            got = _rowkey(QUERIES[name](spark, sf_dir).collect())
            want = _rowkey(con.execute(ORACLES[name]).fetchall())
            assert got == want, (
                f"{name} diverged on vectors:\n"
                f"  spark:  {got[:6]}\n  oracle: {want[:6]}"
            )
    finally:
        con.close()


# --- Near-dup / text-mining tranche over the document corpus -----------------

_NEARDUP_FUZZED = (
    "ngram_jaccard_pairs",
    "wav_codec_roundtrip_features",
    "pgm_resize_features",
    "rawv_frame_sample_features",
    "incremental_dedup_counts",
    "levenshtein_confirm_pairs",
    "minhash_lsh_bands",
    "minhash_candidate_pairs",
    "rolling_fingerprint",
    # round-8 continuation: repeated 8-token windows — the 20-word
    # fuzz vocab forces dense window collisions; short docs force the
    # len(tk) < w empty-window branch
    "repeated_ngram_span_census",
    "neardup_components",
    "neardup_cluster_size_histogram",
    "cluster_best_representative",
    "contamination_ngram_overlap",
    "token_cooccurrence_top20",
    "repetition_top_bigram",
    "sequence_packing_bins",
    "doc_chunks_overlapping",
)


@given(texts=_long_doc_texts)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_neardup_family_matches_oracle_on_random_corpora(spark, texts):
    _assert_family_matches(spark, texts, _NEARDUP_FUZZED)


# --- Hybrid retrieval: documents + embeddings with ALIGNED ids ---------------

@given(data=st.tuples(_long_doc_texts, st.integers(0, 2**31 - 1)))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hybrid_rerank_matches_oracle_on_joint_corpora(spark, data):
    """hybrid_bm25_cosine_rerank joins documents to embeddings on
    doc_id = vec_id — fuzz both tables together, ids aligned, vectors
    derived deterministically from the seed (dyadic rationals again, so
    the cosine stage stays bit-exact)."""
    import duckdb

    texts, seed = data
    sf_dir = _write_corpus(texts)
    rows = [
        (i % 10, [((seed >> (j % 31)) + i * 64 + j) % 1025 - 512
                  for j in range(64)])
        for i in range(len(texts))
    ]
    _write_embeddings(rows, sf_dir)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    try:
        name = "hybrid_bm25_cosine_rerank"
        got = _rowkey(QUERIES[name](spark, sf_dir).collect())
        want = _rowkey(con.execute(ORACLES[name]).fetchall())
        assert got == want, f"{name}:\n  spark:  {got}\n  oracle: {want}"
    finally:
        con.close()


# --- round-10 capstones: joint events+documents+part corpora ---------------
# The two lifecycle compositions span three tables; no single-family
# corpus covers them, so they get a joint fuzz: random event streams
# (ties at the retention boundary, NULL-free tiny keys), random document
# corpora (rag score ties, empty/stopword texts, marker hits and
# misses), and the static part dim for the tool-catalog branch.

_CAPSTONES = ("context_assembly_snapshot", "task_update_snapshot")


@given(rows=_events_strategy, texts=_doc_texts)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_capstones_match_oracle_on_joint_corpora(spark, rows, texts):
    import shutil

    import duckdb

    sf_dir = _write_events(rows)
    doc_dir = _write_corpus(texts)
    shutil.copy(f"{doc_dir}/documents.parquet",
                f"{sf_dir}/documents.parquet")
    shutil.copy("/root/testdata/sf0.001/part.parquet",
                f"{sf_dir}/part.parquet")
    con = duckdb.connect()
    for t in ("events", "documents", "part"):
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    try:
        for name in _CAPSTONES:
            got = _rowkey(QUERIES[name](spark, sf_dir).collect())
            want = _rowkey(con.execute(ORACLES[name]).fetchall())
            assert got == want, (
                f"{name} diverged on events {rows!r} / docs {texts!r}:\n"
                f"  spark:  {got}\n  oracle: {want}"
            )
    finally:
        con.close()
