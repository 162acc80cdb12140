"""Gate-vs-oracle FUZZING: random corpora driven through the real
driver contract (queries()[k] vs oracle_sql()[k] via the validator's
own compare) instead of the fixed testdata.

The fixed sf corpora can silently under-exercise a gate — the r5
ADVICE found funnel_events' oracle disagreed with the operator on
users whose only funnel events have NULL ts, a row class the testdata
happens not to contain.  This suite generates small corpora with
exactly those hostile row classes (NULL ts/user_id/value, duplicate
timestamps, empty/whitespace/unicode text, duplicate documents) and
asserts Spark and DuckDB still agree bit-for-bit.

Corpora are written with pyarrow using the driver testdata's physical
types (naive TIMESTAMP_MICROS for events.ts — the NTZ form _t
normalizes), so the fuzz exercises the same read path as the gate."""

import importlib.util
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import __spark_entry__ as em

# the whole fuzz module is builder-floor tier: ~14 min of hypothesis
# sweeps, the single largest block of the 41-minute suite (r11 verdict
# item 3 — see tests/_slowmark.py for the tier contract)
pytestmark = pytest.mark.slow

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "_validate_oracles_for_fuzz",
    os.path.join(_ROOT, "scripts", "validate_oracles.py"),
)
_vo = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_vo)

# events-only gates, cheap enough to run per-example
EVENT_GATES = [
    "funnel_events",
    "interarrival_stats_events",
    "event_transitions_events",
    "cohort_retention_events",
    "hourly_event_rollup",
    "range_join_events",
    "count_anomalies_events",
    "journey_paths_events",
    "skew_report_events",
    "quantile_sketch_events",
    "dynamic_pivot_events",
]
# documents-only gates
DOC_GATES = [
    "token_counts_docs",
    "normalize_text_docs",
    "detect_script_docs",
    "lexical_stats_docs",
    "dedup_exact_docs",
    "text_quality_docs",
    "language_id_docs",
    "pii_scrub_docs",
    "dedup_fingerprint_docs",
    "ngram_jaccard_docs",
    "gopher_repetition_docs",
    "winnow_fingerprint_docs",
    "line_dedup_docs",
    "chunk_documents_docs",
    "assign_splits_docs",
]
# corpus-trained / multi-stage document gates — pricier per example,
# fuzzed at lower example count
DOC_GATES_HEAVY = [
    "tfidf_top_terms_docs",
    "classifier_score_docs",
    "hash_embed_docs",
    "dsir_score_docs",
]
# heaviest document gates (span dedup, sketches, corpus-trained BPE/PMI,
# and the r7 retrieval tier — bm25's corpus stats and the Bloom bitset
# are rebuilt per example, so these live in the low-example tier)
DOC_GATES_HEAVY2 = [
    "dup_span_docs",
    "dup_span_cut_docs",
    "containment_pairs_docs",
    "decontaminate_docs",
    "decontaminate_bloom_docs",
    "boilerplate_ngram_docs",
    "cms_heavy_words",
    "kmv_jaccard_sources",
    "bpe_token_counts_docs",
    "pmi_collocations_docs",
    "curriculum_order_docs",
    "bm25_rank_docs",
]
# orders/lineitem gates — the hostile class here is TIES: tiny value
# domains make duplicate (custkey, totalprice, date) rows abundant, so
# any window or argmax without a total-order tiebreak diverges between
# engines
RELATIONAL_GATES = [
    "unpivot_status_counts",
    "set_ops_statuses",
    "map_struct_status_counts",
    "running_revenue_by_customer",
    "window_top3_orders_per_customer",
    "stats_by_returnflag",
    "rollup_quantity",
    "q4_order_priority",
    "zorder_orders",
]
# the full TPC-H join suite + xdb macro gates, runnable on the seven
# relational tables; hostile classes: DANGLING foreign keys, empty
# dimensions, tie-saturated ORDER BY ... LIMIT revenues
TPCH_GATES = [
    "q1_pricing_summary",
    "q2_min_price_supplier",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_parts",
    "q12_late_priority_lines",
    "q13_customer_distribution",
    "q14_promo_revenue_ratio",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_or_predicates",
    "q20_part_share_suppliers",
    "q21_waiting_suppliers",
    "q22_global_avg_filter",
    "customers_without_orders",
    "lateral_top3_orders_per_segment",
    "recursive_month_revenue",
    "pivot_status_by_priority",
    "percentiles_by_group",
    "xdb_datetime_functions",
    "xdb_string_functions",
    "xdb_listagg_nations",
    "xdb_date_spine",
    "xdb_arrays",
]
# embeddings-only gates (zero-norm and duplicate vectors are the
# hostile classes: cosine denominators, argmin ties, empty cells)
EMB_GATES = [
    "quantize_embeddings_int8",
    "gram_matrix_embeddings",
    "random_projection_embeddings",
    "kmeans_embeddings",
    "cluster_curation_embeddings",
    "kmeans_incremental_embeddings",
    "cosine_pairs_embeddings",
]

# extended tiers (2 examples each): everything else that runs on a
# single random table (the engine_* materialization flows have their
# own end-to-end tiers at the bottom of this file — every one of the
# 152 registry gates is fuzz-covered as of round 6)
EVENT_GATES_EXT = [
    "hll_distinct_events",
    "kmv_distinct_users",
    "json_extract_props",
]
DOC_GATES_EXT = [
    "tokenize_docs",
    "source_cap_docs",
    "pandas_udf_text_features",
    "epoch_shuffle_docs",
    "stratified_sample_docs",
    "pack_sequences_docs",
    "build_vocab_docs",
    "bpe_pair_docs",
    "mixture_sample_docs",
    "pipeline_clean_corpus",
    "bloom_membership_docs",
    "pipeline_quality_docs",
    "incremental_dedup_docs",
    "simhash_docs",
    "simhash_pairs_docs",
    "cc_dedup_docs",
    "minhash_lsh_docs",
    "ngram_lm_docs",
    "multimodal_features_docs",
    "multimodal_decode_wav_ppm",
    "multimodal_resize_ppm",
    "multimodal_frame_sample",
    "wav_spectrogram_docs",
    "webdataset_pipeline_docs",
    "generate_series_powers",
    "cms_merge_halves",
    "contrastive_pairs_docs",
    "tfidf_cosine_pairs_docs",
]
EMB_GATES_EXT = [
    "cosine_topk_embeddings",
    "ann_lsh_topk_embeddings",
    "ann_ivf_blas_topk_embeddings",
    "ann_ivf_index_query_embeddings",
    "ann_ivf_index_append_embeddings",
    "ann_recall_ivf_embeddings",
    "semantic_dedup_incremental_embeddings",
    "pool_embeddings_by_label",
    "dedup_embedding_docs",
]

_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros


def _check(spark, tmpdir, con, names):
    qs, osql = em.queries(), em.oracle_sql()
    for name in names:
        ok, msg = _vo.compare(name, spark, con, tmpdir, qs[name], osql[name])
        assert ok, f"{name}: {msg}"


_events_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 3 * 24 * 3600)),  # ts offset s
        st.one_of(st.none(), st.integers(1, 4)),              # user_id
        st.sampled_from(["view", "click", "purchase", "other"]),
        st.one_of(st.none(), st.floats(-100, 100, allow_nan=False,
                                       width=32)),            # value
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_events_rows)
def test_event_gates_on_hostile_corpora(spark, tmp_path_factory, rows):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_ev"))
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [None if r[0] is None else _BASE_US + r[0] * 1_000_000
                 for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % (i % 7) for i in range(len(rows))],
                pa.string(),
            ),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"create view events as select * from '{tmpdir}/events.parquet'"
    )
    _check(spark, tmpdir, con, EVENT_GATES)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_events_rows)
def test_event_gates_extended(spark, tmp_path_factory, rows):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_evx"))
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [None if r[0] is None else _BASE_US + r[0] * 1_000_000
                 for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % (i % 7) for i in range(len(rows))],
                pa.string(),
            ),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"create view events as select * from '{tmpdir}/events.parquet'"
    )
    _check(spark, tmpdir, con, EVENT_GATES_EXT)


# Targeted unicode-hostile texts (r6): each string aims at a specific
# engine-divergence surface — NFC-vs-combining normalization, full-vs-
# simple case mapping (ß→SS, Turkish İ), Java-regex-\s vs RE2-\s on
# non-ASCII whitespace (NBSP/LS/PS/ideographic space), ZWJ emoji and
# flag sequences (non-BMP + grapheme clusters), RTL runs, and long
# combining-mark tails feeding the n-gram/slice paths.
_UNICODE_HOSTILE = [
    "caf\u00e9 cafe\u0301 na\u00efve",  # precomposed vs combining
    "stra\u00dfe STRASSE \u1e9eTRA\u1e9eE",  # sharp-s case mapping
    "\u0130stanbul \u0131l\u0131k i\u0307",  # Turkish dotted/dotless i
    "a\u00a0b\u2028c\u2029d\u3000e\u200bf",  # unicode spaces + ZWSP
    "\U0001f469\u200d\U0001f469\u200d\U0001f467 "
    "\U0001f1e9\U0001f1ea ok",  # ZWJ family + flag (non-BMP clusters)
    "\u05e9\u05dc\u05d5\u05dd abc \u05e2\u05d5\u05dc\u05dd",  # RTL
    "\u4e16\u754c\u3001\u4e16\u754c\u3002 "
    "\u3053\u3093\u306b\u3061\u306f",  # CJK + ideographic punct
    "e" + "\u0301" * 12 + " plain",  # combining-mark tail
]
_doc_text = st.one_of(
    st.none(),  # NULL text — r6 hostile class (every doc tier inherits)
    st.just(""),
    st.just("   "),
    st.text(alphabet="ab .,\n", max_size=60),
    st.text(max_size=40),  # arbitrary unicode incl. CJK/Cyrillic/emoji
    st.sampled_from(_UNICODE_HOSTILE),
    st.just("the the the same same words words words repeated"),
)
_docs_rows = st.lists(
    st.tuples(_doc_text,
              st.one_of(st.none(), st.sampled_from(["en", "de", "xx"]))),
    min_size=0,
    max_size=25,
)


def _write_docs(tmpdir, rows):
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array([r[0] for r in rows], pa.string()),
            "lang": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array(
                [["web", "books", "code"][i % 3] for i in range(len(rows))],
                pa.string(),
            ),
            "n_chars": pa.array([len(r[0] or "") for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{tmpdir}/documents.parquet'"
    )
    return con


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_doc_gates_on_hostile_corpora(spark, tmp_path_factory, rows, dup):
    if dup and rows:  # force exact-duplicate texts for the dedup gate
        rows = rows + rows[:3]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_doc"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, DOC_GATES)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows)
def test_heavy_doc_gates_on_hostile_corpora(spark, tmp_path_factory, rows):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_doch"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, DOC_GATES_HEAVY)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_heaviest_doc_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, dup
):
    if dup and rows:  # duplicated texts feed the span/containment tier
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_doch2"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, DOC_GATES_HEAVY2)


def test_pandas_udf_gate_nfd_combining_marks(spark, tmp_path_factory):
    """Deterministic pin of cross-engine class 16 (r7 fresh-seed fuzz
    find): Python reverses strings by CODEPOINT while DuckDB's native
    reverse() works by extended grapheme cluster, so NFD text ('e' +
    U+0301) reversed to different byte sequences and the md5s diverged
    — the oracle now mirrors the codepoint reversal via
    regexp_split_to_array.  Pins precomposed-vs-combining, a combining
    tail, and a ZWJ emoji cluster through the gate compare."""
    rows = [
        ("caf\u00e9 cafe\u0301 na\u00efve", "en"),
        ("e" + "\u0301" * 12 + " plain", None),
        ("\U0001f469\u200d\U0001f469\u200d\U0001f467 ok", "xx"),
        (None, "en"),
        ("", "de"),
    ]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_nfd"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, ["pandas_udf_text_features"])


def test_retrieval_gates_deterministic_hostile_classes(
    spark, tmp_path_factory
):
    """Deterministic pin of the retrieval tier's hostile classes (r6
    verdict item 3) — hypothesis may not draw all of them in the
    2-example heavy tier: a NULL-text query doc (doc 0), a
    tie-saturated query whose corpus is full of identical docs
    (integer-exact scores must tie-break identically by doc_id on both
    engines), the U+0130 İ case-mapping through BM25's tokenizer, a
    doc whose terms appear in no other document, and empty/whitespace
    texts.  Probes for the Bloom gate (doc_id % 7) and queries for
    BM25 (doc_id % 13) both land on hostile rows."""
    texts = [None] * 28
    texts[0] = None                       # NULL-text query (bm25) + probe (bloom)
    texts[13] = "tie words tie words shared five gram run"  # tie query
    texts[26] = "İstanbul İ recursion İstanbul casefold"    # İ query
    for i in (2, 3, 4, 5):                # tie saturation: identical docs
        texts[i] = "tie words tie words shared five gram run"
    texts[7] = "shared five gram run appears here too"      # probe w/ overlap
    texts[14] = "xylophone quagga zyzzyva unique only"      # terms nowhere else
    texts[21] = ""                        # empty probe
    texts[6] = "   "
    texts[8] = "İstanbul İ recursion İstanbul casefold"     # İ corpus twin
    for i in range(28):
        if texts[i] is None and i not in (0,):
            texts[i] = texts[i] or f"filler document number {i} with some words"
    rows = [(t, "en") for t in texts]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_retrieval"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, ["bm25_rank_docs", "decontaminate_bloom_docs"])


_order_rows = st.lists(
    st.tuples(
        st.integers(1, 3),                       # o_custkey (dups)
        st.sampled_from(["O", "F", "P"]),
        st.sampled_from([100.0, 250.5, 99.99]),  # ties by design
        st.integers(0, 4),                        # day offset (ties)
        st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"]),
    ),
    min_size=0,
    max_size=30,
)
_line_rows = st.lists(
    st.tuples(
        st.integers(0, 29),                       # l_orderkey ref
        st.sampled_from([1.0, 25.0, 50.0]),       # l_quantity
        st.sampled_from([100.0, 2000.5]),         # l_extendedprice
        st.sampled_from([0.0, 0.05, 0.1]),        # l_discount
        st.sampled_from(["A", "N", "R"]),
        st.sampled_from(["O", "F"]),
        st.integers(0, 4),                        # shipdate offset
    ),
    min_size=0,
    max_size=40,
)
_ORD_US = 1_644_105_600_000_000  # 1995-02-06-ish epoch — within the
_DAY_US = 86_400_000_000          # testdata's 1995-2001 date domain


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(orows=_order_rows, lrows=_line_rows)
def test_relational_gates_on_tied_corpora(
    spark, tmp_path_factory, orows, lrows
):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_rel"))
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(len(orows)), pa.int64()),
                "o_custkey": pa.array([r[0] for r in orows], pa.int64()),
                "o_orderstatus": pa.array([r[1] for r in orows], pa.string()),
                "o_totalprice": pa.array([r[2] for r in orows], pa.float64()),
                "o_orderdate": pa.array(
                    [_ORD_US + r[3] * _DAY_US for r in orows],
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(
                    [r[4] for r in orows], pa.string()
                ),
            }
        ),
        f"{tmpdir}/orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in lrows], pa.int64()),
                "l_partkey": pa.array(
                    [i % 5 for i in range(len(lrows))], pa.int64()
                ),
                "l_suppkey": pa.array(
                    [i % 3 for i in range(len(lrows))], pa.int64()
                ),
                "l_linenumber": pa.array(range(len(lrows)), pa.int32()),
                "l_quantity": pa.array([r[1] for r in lrows], pa.float64()),
                "l_extendedprice": pa.array(
                    [r[2] for r in lrows], pa.float64()
                ),
                "l_discount": pa.array([r[3] for r in lrows], pa.float64()),
                "l_tax": pa.array(
                    [0.08 if i % 2 else 0.0 for i in range(len(lrows))],
                    pa.float64(),
                ),
                "l_returnflag": pa.array([r[4] for r in lrows], pa.string()),
                "l_linestatus": pa.array([r[5] for r in lrows], pa.string()),
                "l_shipdate": pa.array(
                    [_ORD_US + r[6] * _DAY_US for r in lrows],
                    pa.timestamp("us"),
                ),
            }
        ),
        f"{tmpdir}/lineitem.parquet",
    )
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"create view {t} as select * from '{tmpdir}/{t}.parquet'"
        )
    _check(spark, tmpdir, con, RELATIONAL_GATES)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_events_rows)
def test_streaming_gates_on_hostile_corpora(spark, tmp_path_factory, rows):
    """Structured Streaming gates (AvailableNow drains vs batch SQL
    oracles) on random events — NULL event-times through watermarked
    windows and the stateful funnel."""
    tmpdir = str(tmp_path_factory.mktemp("fuzz_strm"))
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [None if r[0] is None else _BASE_US + r[0] * 1_000_000
                 for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % (i % 7) for i in range(len(rows))],
                pa.string(),
            ),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"create view events as select * from '{tmpdir}/events.parquet'"
    )
    _check(spark, tmpdir, con, [
        "streaming_hourly_rollup",
        "streaming_session_rollup",
        "streaming_cms_events",
        "funnel_stream_events",
    ])


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_events_rows, orows=_order_rows)
def test_events_orders_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, orows
):
    """Gates joining/registering events alongside orders (as-of join,
    SQL-registered sessionize + granularity rollups)."""
    tmpdir = str(tmp_path_factory.mktemp("fuzz_evo"))
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [None if r[0] is None else _BASE_US + r[0] * 1_000_000
                 for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % (i % 7) for i in range(len(rows))],
                pa.string(),
            ),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/events.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(len(orows)), pa.int64()),
        "o_custkey": pa.array([r[0] for r in orows], pa.int64()),
        "o_orderstatus": pa.array([r[1] for r in orows], pa.string()),
        "o_totalprice": pa.array([r[2] for r in orows], pa.float64()),
        "o_orderdate": pa.array(
            [_BASE_US + r[3] * _DAY_US for r in orows], pa.timestamp("us")),
        "o_orderpriority": pa.array([r[4] for r in orows], pa.string()),
    }), f"{tmpdir}/orders.parquet")
    con = duckdb.connect()
    for t in ("events", "orders"):
        con.execute(
            f"create view {t} as select * from '{tmpdir}/{t}.parquet'")
    _check(spark, tmpdir, con, [
        "asof_join_events_orders",
        "sessionize_events",
        "multi_granularity_rollup",
        "asof_tolerance_events",
        "rolling_7day_order_totals",
    ])


_cust_rows = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from([-100.0, 0.0, 500.5]),
              st.sampled_from(["BUILDING", "AUTOMOBILE"])),
    min_size=0, max_size=8,
)
_supp_rows = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from([-10.0, 300.5])),
    min_size=0, max_size=5,
)
_part_rows = st.lists(
    st.tuples(
        st.sampled_from(["Brand#12", "Brand#23"]),
        st.sampled_from(["PROMO BURNISHED COPPER", "STANDARD PLATED BRASS"]),
        st.sampled_from([1, 5, 49]),
        st.sampled_from([100.0, 900.5]),
    ),
    min_size=0, max_size=6,
)
_torder_rows = st.lists(
    st.tuples(
        st.integers(0, 9),                        # o_custkey (may dangle)
        st.sampled_from(["O", "F", "P"]),
        st.sampled_from([100.0, 250.5]),          # ties by design
        st.integers(0, 1500),                     # day offset
        st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"]),
    ),
    min_size=0, max_size=25,
)
_tline_rows = st.lists(
    st.tuples(
        st.integers(0, 27),                       # l_orderkey (may dangle)
        st.integers(0, 7),                        # l_partkey (may dangle)
        st.integers(0, 6),                        # l_suppkey (may dangle)
        st.sampled_from([1.0, 24.0, 36.0, 50.0]),
        st.sampled_from([100.0, 950.5]),
        st.sampled_from([0.0, 0.05, 0.06, 0.1]),
        st.sampled_from(["A", "N", "R"]),
        st.sampled_from(["O", "F"]),
        st.integers(0, 1500),                     # shipdate offset
    ),
    min_size=0, max_size=35,
)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(crows=_cust_rows, srows=_supp_rows, prows=_part_rows,
       orows=_torder_rows, lrows=_tline_rows)
def test_tpch_gates_on_hostile_corpora(
    spark, tmp_path_factory, crows, srows, prows, orows, lrows
):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_tpch"))
    pq.write_table(pa.table({
        "r_regionkey": pa.array([0, 1], pa.int32()),
        "r_name": pa.array(["AMERICA", "ASIA"], pa.string()),
    }), f"{tmpdir}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array([0, 1, 2, 3], pa.int32()),
        "n_name": pa.array(["BRAZIL", "CANADA", "JAPAN", "INDIA"],
                           pa.string()),
        "n_regionkey": pa.array([0, 0, 1, 1], pa.int32()),
    }), f"{tmpdir}/nation.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(len(crows)), pa.int64()),
        "c_name": pa.array([f"Customer#{i}" for i in range(len(crows))],
                           pa.string()),
        "c_nationkey": pa.array([r[0] for r in crows], pa.int32()),
        "c_acctbal": pa.array([r[1] for r in crows], pa.float64()),
        "c_mktsegment": pa.array([r[2] for r in crows], pa.string()),
    }), f"{tmpdir}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(range(len(srows)), pa.int64()),
        "s_name": pa.array([f"Supplier#{i}" for i in range(len(srows))],
                           pa.string()),
        "s_nationkey": pa.array([r[0] for r in srows], pa.int32()),
        "s_acctbal": pa.array([r[1] for r in srows], pa.float64()),
    }), f"{tmpdir}/supplier.parquet")
    pq.write_table(pa.table({
        "p_partkey": pa.array(range(len(prows)), pa.int64()),
        "p_name": pa.array([f"part {i} metal" for i in range(len(prows))],
                           pa.string()),
        "p_brand": pa.array([r[0] for r in prows], pa.string()),
        "p_type": pa.array([r[1] for r in prows], pa.string()),
        "p_size": pa.array([r[2] for r in prows], pa.int32()),
        "p_retailprice": pa.array([r[3] for r in prows], pa.float64()),
    }), f"{tmpdir}/part.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(len(orows)), pa.int64()),
        "o_custkey": pa.array([r[0] for r in orows], pa.int64()),
        "o_orderstatus": pa.array([r[1] for r in orows], pa.string()),
        "o_totalprice": pa.array([r[2] for r in orows], pa.float64()),
        "o_orderdate": pa.array(
            [_ORD_US + r[3] * _DAY_US for r in orows], pa.timestamp("us")),
        "o_orderpriority": pa.array([r[4] for r in orows], pa.string()),
    }), f"{tmpdir}/orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": pa.array([r[0] for r in lrows], pa.int64()),
        "l_partkey": pa.array([r[1] for r in lrows], pa.int64()),
        "l_suppkey": pa.array([r[2] for r in lrows], pa.int64()),
        "l_linenumber": pa.array(range(len(lrows)), pa.int32()),
        "l_quantity": pa.array([r[3] for r in lrows], pa.float64()),
        "l_extendedprice": pa.array([r[4] for r in lrows], pa.float64()),
        "l_discount": pa.array([r[5] for r in lrows], pa.float64()),
        "l_tax": pa.array([0.08 if i % 2 else 0.0
                           for i in range(len(lrows))], pa.float64()),
        "l_returnflag": pa.array([r[6] for r in lrows], pa.string()),
        "l_linestatus": pa.array([r[7] for r in lrows], pa.string()),
        "l_shipdate": pa.array(
            [_ORD_US + r[8] * _DAY_US for r in lrows], pa.timestamp("us")),
    }), f"{tmpdir}/lineitem.parquet")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        con.execute(
            f"create view {t} as select * from '{tmpdir}/{t}.parquet'")
    _check(spark, tmpdir, con, TPCH_GATES)


_emb_rows = st.lists(
    st.lists(
        st.floats(min_value=-3, max_value=3, allow_nan=False, width=32),
        min_size=64,
        max_size=64,
    ),
    min_size=0,
    max_size=14,
)


def _write_embeddings(tmpdir, vecs, labels=None):
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(
                labels if labels is not None
                else [i % 3 for i in range(len(vecs))],
                pa.int32(),
            ),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"create view embeddings as select * from '{tmpdir}/embeddings.parquet'"
    )
    return con


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows, zero_first=st.booleans(), dup=st.booleans())
def test_embedding_gates_on_hostile_corpora(
    spark, tmp_path_factory, vecs, zero_first, dup
):
    if zero_first and vecs:  # all-zero vector: norm-0 denominators
        vecs = [[0.0] * 64] + vecs[1:]
    if dup and vecs:  # exact duplicates: distance/argmin ties
        vecs = vecs + vecs[:2]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_emb"))
    con = _write_embeddings(tmpdir, vecs)
    _check(spark, tmpdir, con, EMB_GATES)


# the ANN tier: BLAS matmul batches, IVF cell probing, SemDeDup folds,
# PQ codebooks — all exact-oracle'd at kmeans_iters=0; duplicate and
# zero-norm vectors hit argmin ties and cosine denominators inside
# numpy as well as JVM expressions
ANN_GATES = [
    "cosine_topk_blas_embeddings",
    "ann_ivf_topk_embeddings",
    "semantic_dedup_embeddings",
    "semantic_dedup_blas_embeddings",
    "pq_encode_embeddings",
    "pq_search_embeddings",
    "ivfpq_search_embeddings",
]


# NULL-embedding hostile class (r5 ADVICE, widened to the whole
# embedding family in r6): every embedding operator pins the contract
# as "NULL vectors excluded at entry" on BOTH the operator and its
# oracle (kmeans: clustering._quantize; PQ/IVFADC: codebook/encode/
# search entry filters + the oracles' v0 CTE; gram_matrix: entry
# filter — a NULL row made the Arrow batch ragged and np.array threw;
# the cosine/IVF tiers' zero-norm entry filters already rejected
# NULL).  These tiers drive random corpora where some rows ARE NULL
# through the gate compare to hold that pin.
_emb_rows_nullable = st.lists(
    st.one_of(
        st.none(),
        # empty vector (r6 ADVICE): must be dropped at entry by the
        # size>0 leg of the finite contract on BOTH engines — the
        # operators' fold init (0.0) would otherwise keep it while the
        # oracles' list_max() is NULL for an empty list and drops it
        st.just([]),
        st.lists(
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=32),
            min_size=64,
            max_size=64,
        ),
    ),
    min_size=0,
    max_size=14,
)

KMEANS_GATES = [
    "kmeans_embeddings",
    "cluster_curation_embeddings",
    "kmeans_incremental_embeddings",
]


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nullable, dup=st.booleans())
def test_kmeans_gates_with_null_embeddings(
    spark, tmp_path_factory, vecs, dup
):
    if dup and vecs:
        vecs = vecs + vecs[:2]
    if all(v is None or len(v) == 0 for v in vecs):
        vecs = vecs + [[1.0] * 64]  # keep at least one trainable row
    tmpdir = str(tmp_path_factory.mktemp("fuzz_kmnull"))
    con = _write_embeddings(tmpdir, vecs)
    _check(spark, tmpdir, con, KMEANS_GATES)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nullable, dup=st.booleans())
def test_embedding_gates_with_null_embeddings(
    spark, tmp_path_factory, vecs, dup
):
    if dup and vecs:
        vecs = vecs + vecs[:2]
    if all(v is None or len(v) == 0 for v in vecs):
        vecs = vecs + [[1.0] * 64]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_embnull"))
    con = _write_embeddings(tmpdir, vecs)
    _check(spark, tmpdir, con, EMB_GATES + [
        g for g in EMB_GATES_EXT if g != "dedup_embedding_docs"
    ])


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nullable, dup=st.booleans())
def test_ann_gates_with_null_embeddings(
    spark, tmp_path_factory, vecs, dup
):
    if dup and vecs:
        vecs = vecs + vecs[:2]
    if all(v is None or len(v) == 0 for v in vecs):
        vecs = vecs + [[1.0] * 64]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_annnull"))
    con = _write_embeddings(tmpdir, vecs)
    _check(spark, tmpdir, con, ANN_GATES + ["dedup_embedding_docs"])


def test_embedding_gates_with_deterministic_empty_vectors(
    spark, tmp_path_factory
):
    """Deterministic pin of the r6 ADVICE empty-array class (hypothesis
    may not draw it in the few fuzz examples): a corpus mixing empty,
    NULL, and valid vectors must agree with the oracles on every
    embedding-family gate — the size>0 leg of the finite contract drops
    empties on the Spark side exactly where the oracles' NULL-valued
    list_max() drops them."""
    vecs = (
        [[], None]
        + [[float(i % 5) + 0.25, *([0.5] * 62 + [float(i)])] for i in range(8)]
        + [[]]
    )
    tmpdir = str(tmp_path_factory.mktemp("fuzz_embempty"))
    con = _write_embeddings(tmpdir, vecs)
    _check(
        spark, tmpdir, con,
        EMB_GATES
        + [g for g in EMB_GATES_EXT if g != "dedup_embedding_docs"]
        + ANN_GATES,
    )


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows, zero_first=st.booleans(), dup=st.booleans())
def test_ann_gates_on_hostile_corpora(
    spark, tmp_path_factory, vecs, zero_first, dup
):
    if zero_first and vecs:
        vecs = [[0.0] * 64] + vecs[1:]
    if dup and vecs:
        vecs = vecs + vecs[:2]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_ann"))
    con = _write_embeddings(tmpdir, vecs)
    _check(spark, tmpdir, con, ANN_GATES)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_doc_gates_extended(spark, tmp_path_factory, rows, dup):
    if dup and rows:
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_docx"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, DOC_GATES_EXT)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows, zero_first=st.booleans(), dup=st.booleans())
def test_embedding_gates_extended(
    spark, tmp_path_factory, vecs, zero_first, dup
):
    if zero_first and vecs:
        vecs = [[0.0] * 64] + vecs[1:]
    if dup and vecs:
        vecs = vecs + vecs[:2]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_embx"))
    con = _write_embeddings(tmpdir, vecs)
    _check(spark, tmpdir, con, EMB_GATES_EXT)


# =========================================================================
# engine_* materialization gates (r5 verdict item 4) — the last unfuzzed
# tier.  These build real warehouse state (Engine.run / snapshot / test /
# streaming drains), so each example is a full materialization flow on a
# hostile corpus, compared against the gate's own DuckDB oracle through
# the validator.  Hostile classes: duplicate + tie-saturated keys, NULL
# group/partition keys (o_orderstatus, events.ts -> NULL day partition),
# empty incremental batches (no rows past the cutoff), batches entirely
# on one side of the cutoffs, dangling lineitem foreign keys, and empty
# microbatch days inside the processed window.
# =========================================================================

_ENG_ORD_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in micros


def _eng_order_row(i, r):
    return {
        "o_orderkey": i,
        "o_custkey": r[0],
        "o_orderstatus": r[1],
        "o_totalprice": r[2],
        "o_orderdate": _ENG_ORD_US + r[3] * _DAY_US,
        "o_orderpriority": r[4],
    }


_eng_order_rows = st.lists(
    st.tuples(
        st.integers(0, 4),                   # o_custkey — tiny domain: dups
        st.one_of(st.none(), st.sampled_from(["O", "F", "P"])),  # NULL group
        st.sampled_from([100.0, 250.5]),     # tie-saturated prices
        st.integers(0, 1460),                # 1995..1998 (merge cutoffs bite)
        st.sampled_from(["1-URGENT", "3-MEDIUM"]),
    ),
    min_size=0,
    max_size=25,
)
_eng_line_rows = st.lists(
    st.tuples(
        st.integers(0, 80),                  # l_orderkey (may dangle)
        st.sampled_from([100.0, 950.5]),     # l_extendedprice
        st.sampled_from([0.0, 0.05, 0.1]),   # l_discount
    ),
    min_size=0,
    max_size=40,
)

ENGINE_ORDER_GATES = [
    "engine_view_table_ephemeral",
    "engine_incremental_merge",
    "engine_python_model",
    "engine_compaction",
]


def _write_eng_orders(tmpdir, orows, lrows):
    # pad to 64 orders with deterministic filler: engine_compaction's
    # fragmentation precondition needs >=32 non-empty partitions, and
    # engine_python_model's `having count(*) >= 10` needs a populated
    # branch; the random hostile rows ride on top
    rows = [_eng_order_row(i, r) for i, r in enumerate(orows)]
    for j in range(len(rows), 64):
        rows.append({
            "o_orderkey": j,
            "o_custkey": j % 5,
            "o_orderstatus": ["O", "F"][j % 2],
            "o_totalprice": 100.0 + (j % 7),
            "o_orderdate": _ENG_ORD_US + (j * 37 % 1460) * _DAY_US,
            "o_orderpriority": "3-MEDIUM",
        })
    pq.write_table(pa.table({
        "o_orderkey": pa.array([r["o_orderkey"] for r in rows], pa.int64()),
        "o_custkey": pa.array([r["o_custkey"] for r in rows], pa.int64()),
        "o_orderstatus": pa.array(
            [r["o_orderstatus"] for r in rows], pa.string()),
        "o_totalprice": pa.array(
            [r["o_totalprice"] for r in rows], pa.float64()),
        "o_orderdate": pa.array(
            [r["o_orderdate"] for r in rows], pa.timestamp("us")),
        "o_orderpriority": pa.array(
            [r["o_orderpriority"] for r in rows], pa.string()),
    }), f"{tmpdir}/orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": pa.array([r[0] for r in lrows], pa.int64()),
        "l_extendedprice": pa.array([r[1] for r in lrows], pa.float64()),
        "l_discount": pa.array([r[2] for r in lrows], pa.float64()),
    }), f"{tmpdir}/lineitem.parquet")
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"create view {t} as select * from '{tmpdir}/{t}.parquet'")
    return con


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(orows=_eng_order_rows, lrows=_eng_line_rows)
def test_engine_order_gates_on_hostile_corpora(
    spark, tmp_path_factory, orows, lrows
):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_engo"))
    con = _write_eng_orders(tmpdir, orows, lrows)
    _check(spark, tmpdir, con, ENGINE_ORDER_GATES)


ENGINE_EVENT_GATES = [
    "engine_microbatch_day",
    "engine_insert_overwrite",
    "engine_generic_test_failures",
    "engine_streaming_table",
]

# 0..20-day offsets: the microbatch window (Jan 1-5) catches a strict
# subset and insert_overwrite's Jan-15 incremental cutoff sometimes
# selects nothing (empty second batch) and sometimes everything
_eng_event_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 20 * 24 * 3600)),
        st.one_of(st.none(), st.integers(1, 4)),
        st.sampled_from(["view", "click", "purchase", "other"]),
        st.one_of(st.none(), st.floats(-100, 100, allow_nan=False,
                                       width=32)),
    ),
    min_size=0,
    max_size=30,
)


def _reset_engine_streaming_state(spark):
    """engine_streaming_table keys its checkpoint off the RELATION name,
    so back-to-back fuzz examples (different corpora, same relation)
    must clear checkpoint + catalog or exactly-once replays example 1's
    data forever."""
    import shutil

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "/tmp/spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(
        os.path.join(wh, "_streaming", "drv_stream__events_clean"),
        ignore_errors=True,
    )
    spark.sql("DROP DATABASE IF EXISTS drv_stream CASCADE")


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_eng_event_rows)
def test_engine_event_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows
):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_enge"))
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [None if r[0] is None else _BASE_US + r[0] * 1_000_000
                 for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % (i % 7) for i in range(len(rows))],
                pa.string(),
            ),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"create view events as select * from '{tmpdir}/events.parquet'"
    )
    _reset_engine_streaming_state(spark)
    _check(spark, tmpdir, con, ENGINE_EVENT_GATES)


# snapshot SCD-2: hostile classes are NULL attribute values (NULL
# acctbal must carry through both history rows and NULL+100 stays
# NULL), NULL names, keys outside the snapshot's <=200 filter, and the
# %10 update branch being empty or total.  Keys stay unique — a
# primary-keyed source is the snapshot contract (dup unique_key
# behavior is pinned at the operator level in test_snapshot.py).
_cust_snap_rows = st.lists(
    st.tuples(
        st.integers(0, 30),                        # key stride selector
        st.one_of(st.none(), st.sampled_from([-100.0, 0.0, 512.25])),
        st.one_of(st.none(), st.just("")),         # name suffix class
    ),
    min_size=0,
    max_size=20,
)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_cust_snap_rows)
def test_engine_snapshot_gate_on_hostile_corpora(
    spark, tmp_path_factory, rows
):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_engs"))
    # unique custkeys spanning 0..600 (some past the gate's <=200 cut),
    # dense around multiples of 10 so the SCD-2 update branch populates
    keys = sorted({r[0] * 20 + i for i, r in enumerate(rows)})
    by_key = {r[0] * 20 + i: r for i, r in enumerate(rows)}
    pq.write_table(pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array(
            [None if by_key[k][2] is None and by_key[k][1] is None
             else f"Customer#{k}{by_key[k][2] or ''}" for k in keys],
            pa.string()),
        "c_acctbal": pa.array([by_key[k][1] for k in keys], pa.float64()),
    }), f"{tmpdir}/customer.parquet")
    con = duckdb.connect()
    con.execute(
        f"create view customer as select * from '{tmpdir}/customer.parquet'"
    )
    _check(spark, tmpdir, con, ["engine_snapshot_scd2"])


def test_lower_normalize_parity_exhaustive(spark):
    """EXHAUSTIVE cross-engine case-mapping contract: every codepoint
    U+0020–U+2FFFF (BMP + SMP, surrogates excluded) projected through
    the normalized_words cleanup (lower → strip non-[a-z0-9 ]) must
    normalize identically on Spark (JVM full case mapping) and DuckDB
    (utf8proc simple mapping).  The one divergent codepoint — U+0130 İ,
    whose full lowercase is 'i'+U+0307 and whose simple lowercase is
    'i' — is pinned by the İ→i pre-translate in normalized_words; this
    sweep proves there is no second such character hiding in either
    engine's Unicode tables."""
    import pandas as pd

    cps = [i for i in range(0x20, 0x30000) if not (0xD800 <= i <= 0xDFFF)]
    pdf = pd.DataFrame({"cp": cps, "s": [chr(i) for i in cps]})
    from pyspark.sql import functions as F

    fixed = F.translate(F.col("s"), "İ", "i")
    sp = (
        spark.createDataFrame(pdf)
        .select(
            "cp",
            F.regexp_replace(F.lower(fixed), "[^a-z0-9 ]", " ").alias("norm"),
        )
        .toPandas()
        .set_index("cp")["norm"]
    )
    con = duckdb.connect()
    con.register("t", pdf)
    dk = (
        con.sql(
            "select cp, regexp_replace(lower(s), '[^a-z0-9 ]', ' ', 'g')"
            " as norm from t"
        )
        .df()
        .set_index("cp")["norm"]
    )
    diff = [cp for cp in cps if sp[cp] != dk[cp]]
    assert diff == [], [
        (hex(cp), chr(cp), repr(sp[cp]), repr(dk[cp])) for cp in diff[:10]
    ]


# NaN/Inf hostile class (r6): the finite contract — corrupt vectors
# (any NaN/±Inf component) are excluded whole by every embedding
# operator AND its oracle, via a single cross-engine-safe predicate
# (max|x| < inf resp. 0 < norm < inf; NaN orders ABOVE +inf in both
# Spark and DuckDB, so one upper bound drops NaN and Inf).  Without
# the contract, NaN reaches engine-divergent paths: DuckDB errors on
# NaN→int casts where Spark nulls, and NaN cosines rank first in desc
# windows on both engines but with different tie structure.
_emb_rows_nonfinite = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=32),
            min_size=64,
            max_size=64,
        ),
        st.lists(  # corrupt: finite values with NaN/±Inf mixed in
            st.one_of(
                st.floats(min_value=-3, max_value=3, allow_nan=False,
                          width=32),
                st.sampled_from(
                    [float("nan"), float("inf"), float("-inf")]
                ),
            ),
            min_size=64,
            max_size=64,
        ),
    ),
    min_size=0,
    max_size=12,
)

_ALL_EMB_GATES = sorted(
    set(EMB_GATES + EMB_GATES_EXT + ANN_GATES + KMEANS_GATES)
)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nonfinite, dup=st.booleans())
def test_embedding_gates_with_nonfinite_components(
    spark, tmp_path_factory, vecs, dup
):
    if dup and vecs:
        vecs = vecs + vecs[:2]
    if not any(
        v is not None and all(math.isfinite(x) for x in v) for v in vecs
    ):
        vecs = vecs + [[1.0] * 64]  # at least one clean trainable row
    tmpdir = str(tmp_path_factory.mktemp("fuzz_nonfin"))
    con = _write_embeddings(tmpdir, vecs)
    _check(spark, tmpdir, con, _ALL_EMB_GATES)


# ---------------------------------------------------------------------------
# retrieval, training, lifecycle, classification and graph gates
# ---------------------------------------------------------------------------

APPEND_PERCEPTRON_GATES = [
    "bm25_index_append_docs", "perceptron_language_docs"]


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows,
       skew=st.sampled_from(["as_drawn", "all_en", "no_en"]))
def test_append_and_perceptron_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, skew
):
    """bm25_index_append + perceptron training on hostile corpora.
    Append: tiny corpora naturally produce empty standing indexes
    (every id % 10 == 0) and empty batches; Unicode/NULL/empty texts
    exercise the tokenizer merge.  Perceptron: label skew is forced —
    all-one-class corpora (all 'en' / no 'en') must train and serve
    identically in both engines, and NULL/empty texts give empty
    feature vectors."""
    if skew == "all_en":
        rows = [(t, "en") for t, _ in rows]
    elif skew == "no_en":
        rows = [(t, lg if lg != "en" else "xx") for t, lg in rows]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r8doc"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, APPEND_PERCEPTRON_GATES)


def test_perceptron_gate_deterministic_hostile_classes(
    spark, tmp_path_factory
):
    """Deterministic pins for the trainer: empty vocabulary (every text
    NULL/empty/whitespace — zero feature rows, the model must still
    serve), single-doc corpus, and the U+0130 case-mapping text
    through the hashed tokenizer."""
    for rows in (
        [(None, "en"), ("", "de"), ("   ", None)],        # empty vocab
        [("only one document here", "en")],               # 1-doc corpus
        [("İstanbul İ recursion casefold", "en"),
         ("plain filler words", "xx"), (None, None)],     # İ + NULL lang
    ):
        tmpdir = str(tmp_path_factory.mktemp("fuzz_perc"))
        con = _write_docs(tmpdir, rows)
        _check(spark, tmpdir, con, ["perceptron_language_docs"])


def test_streaming_decontaminate_gate_hostile_unicode_multibatch(
    spark, tmp_path_factory
):
    """The streaming gate on a hostile-Unicode corpus with a FORCED
    multi-batch split: _docs_stream_path writes 4 files and the gate
    triggers 2 files/micro-batch, so the drain runs >=2 batches — the
    match stream must equal the batch recipe regardless of the split
    (stateless-operator invariant).  Probes (doc_id % 11 == 0) land on
    NULL text and on combining-mark/ZWJ rows."""
    texts = list(_UNICODE_HOSTILE) * 3          # 24 rows, 4+ per file
    texts[0] = None                             # NULL probe (doc 0)
    texts[11] = "shared five gram run appears here too"  # probe w/ overlap
    texts[12] = "shared five gram run appears here too"  # its corpus twin
    texts[22] = ""
    rows = [(t, "en") for t in texts]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_sdec"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, ["streaming_decontaminate_docs"])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, vecs=_emb_rows, tie=st.booleans())
def test_hybrid_gate_on_hostile_corpora(
    spark, tmp_path_factory, rows, vecs, tie
):
    """Hybrid retrieval (BM25 + dense cosine → RRF) with tie-saturated
    rankings forced on BOTH legs: identical texts make integer-equal
    BM25 scores and duplicated embeddings make cosine-equal neighbors,
    so the rrf_nano fusion and its doc_id tie-breaks must hash
    identically across engines."""
    if tie and rows:
        rows = [rows[0]] * 4 + rows      # identical texts: BM25 ties
    if tie and vecs:
        vecs = [vecs[0]] * 3 + vecs      # duplicate vectors: cosine ties
    tmpdir = str(tmp_path_factory.mktemp("fuzz_hyb"))
    con = _write_docs(tmpdir, rows)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(len(vecs))], pa.int32()),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/embeddings.parquet")
    con.execute(
        f"create view embeddings as select * from '{tmpdir}/embeddings.parquet'"
    )
    _check(spark, tmpdir, con, ["hybrid_retrieval_docs"])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_span_cut_diff_and_ovr_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, dup
):
    """Fuzz span-cut decontamination on duplicate-heavy Unicode
    corpora, snapshot diff with NULL/empty texts crossing the residue
    splits, loop detection where the injected prefix meets hostile
    text, and OVR training under whatever label skew hypothesis
    draws."""
    if dup and rows:  # duplicated texts: probe/corpus twins for the cut
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r9"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, [
        "decontaminate_cut_docs", "corpus_diff_docs",
        "ngram_loops_docs", "perceptron_ovr_language_docs",
        "vocab_drift_docs", "perceptron_avg_language_docs",
    ])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nullable, dup=st.booleans())
def test_ivf_rebalance_gate_on_hostile_corpora(
    spark, tmp_path_factory, vecs, dup
):
    """The IVF-rebalance gate on hostile embeddings:
    NULL / zero-norm vectors (excluded by the build's entry contract on
    both engines), duplicate vectors (argmax and seed-order ties), and
    tiny corpora where no cell is hot (rebalance no-ops and the gate is
    the plain build assignment)."""
    if dup and vecs:
        vecs = vecs + vecs[:3]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r9reb"))
    con = _write_embeddings(tmpdir, [v for v in vecs])
    _check(spark, tmpdir, con, ["ann_ivf_rebalance_embeddings"])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nullable, dup=st.booleans())
def test_ann_serve_and_delete_gates_on_hostile_corpora(
    spark, tmp_path_factory, vecs, dup
):
    """The streaming ANN serve and IVF delete gates on hostile
    embeddings: NULL / zero-norm / non-finite query vectors (dropped
    inside the assignment kernel on the Spark side, by the v CTE in
    the oracle), duplicate vectors (argmax ties), and corpora so small
    that some micro-batches carry zero query rows."""
    if dup and vecs:
        vecs = vecs + vecs[:3]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r10serve"))
    con = _write_embeddings(tmpdir, [v for v in vecs])
    _check(spark, tmpdir, con, [
        "streaming_ann_serve_embeddings",
        "ann_ivf_index_delete_embeddings",
    ])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_phash_dedup_gate_on_hostile_corpora(
    spark, tmp_path_factory, rows, dup
):
    """The multimodal phash dedup gate on hostile doc
    corpora: tiny corpora where the %23 slice is empty (empty contract
    frame), duplicated doc rows, and whatever ids hypothesis draws —
    the hash depends only on doc_id (text feeds the WAV rows, which
    hash NULL and drop)."""
    if dup and rows:
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r10ph"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, ["multimodal_phash_dedup_docs"])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_nb_vocab_eval_and_media_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, dup
):
    """Trained-filter, vocab, eval and media doc gates on hostile
    corpora: Naive Bayes where hypothesis may draw all-NULL labels
    (empty training set → empty output), all-empty-token training docs
    (V = 0 → priors-only serving, the case guard on both engines), and
    label skew; OOV rate where the even vocab slice may be empty
    (everything OOV) or docs tokenize empty (NULL rate); audio
    fingerprint dedup where the %23==2 even slice is usually empty on
    tiny corpora and clip lengths hit the no-peak minimum."""
    if dup and rows:
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r10doc"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, [
        "naive_bayes_language_docs", "oov_rate_docs",
        "audio_fingerprint_dedup_docs", "retrieval_eval_docs",
        "naive_bayes_incremental_docs", "credit_card_detect_docs",
        "classifier_eval_docs", "bm25_index_delete_docs",
        "multimodal_video_dedup_docs",
    ])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_score_eval_and_video_align_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, dup
):
    """Score-eval and video-alignment doc gates on hostile corpora: the eval
    trio (PR curve / AUC / calibration) over perceptron scores where
    hypothesis may draw zero positives (recall/F1 zeros, AUC NULL),
    all-NULL text (no scored rows — empty curves), constant scores
    (one threshold row, AUC exactly 500000 when both classes exist),
    and heavy ties; video alignment where the %19 slice is usually
    empty and duplicated doc rows hit clone structure."""
    if dup and rows:
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r11doc"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, [
        "pr_curve_language_docs", "auc_language_docs",
        "calibration_language_docs", "multimodal_video_align_docs",
        "bpe_train_docs",
    ])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nullable, dup=st.booleans())
def test_ivf_lifecycle_gate_on_hostile_corpora(
    spark, tmp_path_factory, vecs, dup
):
    """The composed IVF deletion-lifecycle gate on hostile
    embeddings: NULL / empty / duplicate vectors, corpora small enough
    that the %6 delete empties cells or leaves nothing hot, and query
    batches that may be entirely tombstoned ids."""
    if dup and vecs:
        vecs = vecs + vecs[:3]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r11life"))
    con = _write_embeddings(tmpdir, [v for v in vecs])
    _check(spark, tmpdir, con, ["ann_ivf_lifecycle_embeddings"])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_langid_and_minhash_delete_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, dup
):
    """Trained langid and MinHash-delete doc gates on hostile corpora: trained
    langid with all-NULL labels (empty training set → empty output),
    documents whose text normalizes to zero words (ZERO char grams —
    never a pad-only gram; V = 0 pins priors-only serving on both
    engines), label skew, duplicated rows, and unicode draws
    exercising the lower/İ normalization; MinHash index deletion
    where the corpus slice, the tombstone slice, or the batch slice
    is usually empty on tiny corpora."""
    if dup and rows:
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r12langid"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, [
        "langid_nb_docs", "langid_eval_docs",
        "minhash_index_delete_docs", "threshold_select_language_docs",
    ])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nullable, dup=st.booleans())
def test_ivfpq_lifecycle_gates_on_hostile_corpora(
    spark, tmp_path_factory, vecs, dup
):
    """The persisted-IVFPQ deletion and append lifecycles on
    hostile embeddings: NULL / non-finite / duplicate vectors, corpora
    smaller than n_cells or ks (degenerate centroid/codebook seeds),
    %6 deletes that empty cells, and query batches that may be
    entirely tombstoned ids — standing-model semantics on both
    engines."""
    if dup and vecs:
        vecs = vecs + vecs[:3]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r12ipql"))
    con = _write_embeddings(tmpdir, [v for v in vecs])
    _check(spark, tmpdir, con, [
        "ivfpq_index_lifecycle_embeddings",
        "ivfpq_index_append_embeddings",
    ])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_emb_rows_nullable, label_seed=st.integers(0, 7),
       dup=st.booleans())
def test_knn_gates_on_hostile_corpora(
    spark, tmp_path_factory, vecs, label_seed, dup
):
    """The kNN-classification gates on hostile
    embeddings: NULL / empty / non-finite / duplicate vectors, NULL
    labels scattered through the corpus (possibly ALL labels NULL —
    empty votable corpus → empty predictions and an empty eval
    lattice on both engines), corpora smaller than k or n_cells, and
    query slices that may be entirely invalid vectors."""
    if dup and vecs:
        vecs = vecs + vecs[:3]
    labels = [
        None if (i + label_seed) % 4 == 0 else (i + label_seed) % 3
        for i in range(len(vecs))
    ]
    if label_seed == 7:  # all-NULL-labels decade
        labels = [None] * len(vecs)
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r12knn"))
    con = _write_embeddings(tmpdir, vecs, labels=labels)
    _check(spark, tmpdir, con, [
        "knn_classify_embeddings", "knn_eval_embeddings",
        "knn_classify_ivf_embeddings", "centroid_classify_embeddings",
    ])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_stump_and_summary_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, dup
):
    """The decision-stump gates on hostile corpora:
    all-NULL langs (empty training set → empty model → empty
    predictions), single-class labels (every split has equal error —
    the pinned argmin must agree), NULL/empty texts (NULL n_words
    drops the row for that feature only), and duplicated rows; the
    classifier summary must keep its exactly-one-row contract with
    all-zero counts on an empty evaluation; strip_html must agree on
    texts that themselves contain <, >, & and entity-like runs."""
    if dup and rows:
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r12stump"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, [
        "stump_train_docs", "stump_classify_docs",
        "classifier_summary_docs", "strip_html_docs",
        "corpus_profile_docs",
    ])


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_docs_rows, dup=st.booleans())
def test_group_split_and_pagerank_gates_on_hostile_corpora(
    spark, tmp_path_factory, rows, dup
):
    """The leakage-safe split and PageRank gates on hostile corpora:
    empty/NULL texts (no pairs → all singletons), duplicated rows
    (dense clusters), and tiny corpora where the pair graph is empty
    — recursive-CTE components + md5 lattice must agree with Spark's
    iterative propagation + hash on every draw; integer PageRank over
    the same pair graph must match the oracle's exact 3-sweep unroll
    (empty edge sets → every node at the damping floor)."""
    if dup and rows:
        rows = rows + rows[: len(rows) // 2 + 1]
    tmpdir = str(tmp_path_factory.mktemp("fuzz_r12gsplit"))
    con = _write_docs(tmpdir, rows)
    _check(spark, tmpdir, con, [
        "group_split_docs", "pagerank_docs", "ppr_docs",
        "group_kfold_docs",
    ])
