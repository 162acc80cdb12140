"""Physical-plan assertions — the scale contract.

These pin the Catalyst plan shapes that make the engine viable at
100 TB: predicate pushdown into parquet scans, column pruning,
broadcast joins for small dimensions, partial top-k (WindowGroupLimit),
and map-side partial aggregation.  A regression here is a performance
bug even if results stay correct (SURVEY §4).
"""

import __spark_entry__ as em
from _slowmark import _mark_slow  # noqa: E402


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString() + "\n" + (
        df._jdf.queryExecution().optimizedPlan().toString()
    )


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@_mark_slow
def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _formatted(em.q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 6 needed columns in ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_extendedprice" in read_schema
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_q5_broadcasts_all_dimensions(spark, sf_dir):
    plan = _formatted(em.q5_local_supplier_volume(spark, sf_dir))
    # 5 joins; every one should be broadcast at this dimension size
    # (formatted explain mentions each operator in tree + details)
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    # the region filter is evaluated at the scan
    assert "EqualTo(r_name,ASIA)" in plan


def test_window_topk_uses_group_limit(spark, sf_dir):
    plan = _formatted(em.window_top3_orders_per_customer(spark, sf_dir))
    # partial top-k before the shuffle (Spark 3.5+ WindowGroupLimit)
    assert "WindowGroupLimit" in plan


def test_exists_becomes_semi_join(spark, sf_dir):
    plan = _formatted(em.q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan


def test_not_exists_becomes_anti_join(spark, sf_dir):
    plan = _formatted(em.customers_without_orders(spark, sf_dir))
    assert "LeftAnti" in plan


@_mark_slow
def test_minhash_band_join_not_cartesian(spark, sf_dir):
    """The LSH candidate join must be an equi-join on (band, hash) —
    never a cartesian/BNL product over documents."""
    from dbt_core_spark.operators.dedup import minhash_lsh_pairs

    docs = em._t(spark, sf_dir, "documents")
    plan = _formatted(minhash_lsh_pairs(docs, "text", "doc_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_scan_prunes_columns_through_view(spark, sf_dir):
    """Models reading a source via view must still push projection to the
    file scan (view does not block pruning)."""
    from dbt_core_spark import Engine, ProjectDef

    p = ProjectDef(name="pl")
    p.add_source("tpch", "lineitem", f"{sf_dir}/lineitem.parquet")
    p.models["narrow"] = (
        "select l_orderkey from {{ source('tpch','lineitem') }} where l_linenumber = 1"
    )
    eng = Engine(spark, p, schema="plan_test")
    assert eng.run().ok()
    plan = _formatted(spark.table("plan_test.narrow"))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema
    assert "EqualTo(l_linenumber,1)" in plan
    spark.sql("drop database plan_test cascade")
    spark.sql("drop database if exists plan_test__sources cascade")


def test_microbatch_filter_becomes_partition_pruning(spark, tmp_path):
    """The event-time filter injected into upstream reads (microbatch)
    must turn into PARTITION pruning on a date-partitioned source —
    the 100 TB lever (SURVEY §4)."""
    import __spark_entry__ as em
    from dbt_core_spark import Engine, ProjectDef

    src_path = str(tmp_path / "events_part")
    ev = em._t(spark, "/root/testdata/sf0.001", "events")
    from pyspark.sql import functions as F

    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(src_path)

    p = ProjectDef(name="pp")
    p.add_source("ev", "events", src_path)
    p.models["mb"] = """
        {{ config(materialized='incremental', incremental_strategy='microbatch',
                  event_time='ts', batch_size='day', begin='2024-01-01') }}
        select event_id, ts, day from {{ source('ev','events') }}
    """
    eng = Engine(spark, p, schema="pp_test")
    for node in eng.manifest.sources.values():
        node.config["event_time"] = "day"  # partition column carries the filter
    runner = eng._runner()
    runner._prepare(None, None)
    runner.relations["model.pp.mb"] = "pp_test.mb"
    sql = runner._compile(
        eng.manifest.nodes["model.pp.mb"],
        event_time_filter=("day", "2024-01-03 00:00:00", "2024-01-04 00:00:00"),
    )
    plan = spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan
    # only one day's partition should survive pruning
    n = spark.sql(sql).count()
    direct = spark.read.parquet(src_path).filter("day = date'2024-01-03'").count()
    assert n == direct
    spark.sql("drop database if exists pp_test cascade")
    spark.sql("drop database if exists pp_test__sources cascade")


def test_q6_pure_pushdown_scan(spark, sf_dir):
    """TPC-H Q6: every predicate and the 3-column projection must reach
    the parquet scan — the canonical pushdown benchmark."""
    plan = _formatted(em.q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" not in read_schema


def test_q10_broadcasts_dimensions_and_limits(spark, sf_dir):
    """Q10: customer/nation are broadcast; the final top-20 is a
    TakeOrderedAndProject (no global sort materialization)."""
    plan = _formatted(em.q10_returned_items(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # returnflag filter pushed to the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q21_correlated_exists_become_joins(spark, sf_dir):
    """Q21's double-correlated EXISTS / NOT EXISTS must decorrelate to
    semi/anti joins — never a per-row subquery."""
    plan = _formatted(em.q21_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q15_single_subquery_reuse(spark, sf_dir):
    """Q15: the revenue CTE feeds both the join and the max() scalar;
    the scalar side must aggregate below the join (no re-read of
    lineitem per row)."""
    plan = _formatted(em.q15_top_supplier(spark, sf_dir))
    assert "Subquery" in plan or "ReusedExchange" in plan


def test_gopher_repetition_partial_agg_no_window(spark, sf_dir):
    """Top-bigram selection must be the min/max-struct argmax (map-side
    partial agg), NOT a sort window; word stats stay shuffle-free HOFs."""
    plan = _plan(em.gopher_repetition_docs(spark, sf_dir))
    assert "Window" not in plan  # argmax via max(struct), no per-doc sort
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan


def test_source_cap_uses_group_limit(spark, sf_dir):
    """rank<=cap per group should plan as WindowGroupLimit (partial
    top-k before the full per-group sort at scale)."""
    plan = _plan(em.source_cap_docs(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_partition_scoped_merge_prunes_scan(spark, tmp_path):
    """The merge's eligible-slice read must carry the touched-partition
    semi-join down to partition level, and the key-match probe must be a
    column-pruned scan (never full rows)."""
    from dbt_core_spark import Engine, ProjectDef

    schema = "plan_psm"
    p = ProjectDef(name="psm")
    p.seeds["raw"] = [
        {"id": i, "day": f"2020-01-{1 + i % 3:02d}", "v": i} for i in range(30)
    ]
    p.models["m"] = "select * from {{ ref('raw') }}"
    p.model_configs["m"] = {"materialized": "incremental", "unique_key": "id",
                            "partition_by": "day"}
    eng = Engine(spark, p, schema=schema)
    try:
        eng.seed(); assert eng.run().ok()
        target = spark.table(f"{schema}.m")
        inc = spark.createDataFrame(
            [(1, "2020-01-02", 99)], "id bigint, day string, v bigint")
        from pyspark.sql import functions as F

        touched = inc.select("day").distinct()
        eligible = target.join(F.broadcast(touched), ["day"], "leftsemi")
        plan = _plan(eligible)
        # partition filter reaches the scan as dynamic pruning or a
        # broadcast hash semi join keyed ONLY on the partition column
        assert "leftsemi" in plan.lower() or "LeftSemi" in plan
        probe = target.join(inc.select("id").distinct(), ["id"], "leftsemi") \
                      .select("day").distinct()
        fplan = _formatted(probe)
        read_schema = [l for l in fplan.splitlines() if "ReadSchema" in l]
        assert read_schema and all("v:" not in l for l in read_schema)  # v pruned
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")
        spark.sql(f"DROP DATABASE IF EXISTS {schema}__sources CASCADE")


def test_tfidf_topk_group_limit_and_wordcount_partial_agg(spark, sf_dir):
    """TF-IDF: per-doc top-k plans as WindowGroupLimit; the corpus-scale
    (doc, term) wordcount keeps map-side partial aggregation; corpus
    size N arrives as a broadcast, never a shuffle of the corpus."""
    plan = _plan(em.tfidf_top_terms_docs(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_stratified_sample_no_corpus_shuffle(spark, sf_dir):
    """Stratified sampling must be a per-row hash filter under a
    broadcast of the tiny per-group counts — no window, no corpus-keyed
    exchange (the shape that survives 100 TB)."""
    plan = _plan(em.stratified_sample_docs(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_hll_register_partial_agg(spark, sf_dir):
    """HLL registers: the (group, bucket) max-rho aggregate keeps
    map-side partial agg so per-row sketch state never shuffles raw."""
    plan = _plan(em.hll_distinct_events(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_build_vocab_per_partition_prefilter(spark, sf_dir):
    """build_vocab must prune to per-partition top-V before the global
    single-partition ranking — the prefilter window partitions by
    spark_partition_id(), so the final sort's input is bounded by
    P·vocab_size, not |distinct terms| (the 100 TB contract)."""
    plan = _plan(em.build_vocab_docs(spark, sf_dir))
    assert "SPARK_PARTITION_ID" in plan.upper()
    # two Window nodes: the distributed prefilter + the bounded global one
    assert plan.count("Window [row_number()") >= 2 or plan.count("Window") >= 2


def test_epoch_shuffle_no_global_sort(spark, sf_dir):
    """Epoch shuffle must be one per-shard window — a single exchange,
    no global (empty-partitionBy) sort of the corpus."""
    plan = _plan(em.epoch_shuffle_docs(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()  # no global orderBy


def test_mixture_sample_corpus_shuffle_free(spark, sf_dir):
    """Mixture sampling: the corpus path is a per-row hash filter under
    broadcasts of the tiny counts/budget — no window, no corpus-keyed
    sort-merge join."""
    plan = _plan(em.mixture_sample_docs(spark, sf_dir))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 2  # counts+weights, budget


def test_bpe_pair_ranking_bounded(spark, sf_dir):
    """BPE pair stats: corpus collapses to the vocabulary before pair
    generation (wordcount partial agg), and the only window ranks the
    charset^2-bounded pair table."""
    plan = _plan(em.bpe_pair_docs(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # two partial+final aggs
    # rank<=50 under the group-limit threshold: Spark pre-limits the
    # window's input (TakeOrderedAndProject) — partial top-k, no full
    # pair-table sort through one partition
    assert "TakeOrderedAndProject" in plan


def test_line_dedup_anti_join_no_cartesian(spark, sf_dir):
    """Line dedup: boilerplate membership must be an anti JOIN on the
    normalized line (broadcast or shuffled-hash), never a nested-loop
    over the corpus."""
    plan = _plan(em.line_dedup_docs(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_ngram_lm_no_positional_self_join(spark, sf_dir):
    """Bigram LM: doc bigrams come from an array slide (HOF), not a
    positional self-join — no window anywhere, and count tables keep
    map-side partial aggregation."""
    plan = _plan(em.ngram_lm_docs(spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 6


def test_semantic_dedup_pairs_join_on_cell(spark, sf_dir):
    """SemDeDup: centroid assignment is a broadcast pass; the quadratic
    step is an equi-join on the cell key (sort-merge or shuffled-hash),
    never a corpus-level cartesian."""
    plan = _plan(em.semantic_dedup_embeddings(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # within-cell pair join shuffles on cell only
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_dup_span_semi_join_window_per_doc(spark, sf_dir):
    """Dup-span detection: membership is a left-semi join on the md5
    gram hash (never cartesian); island merging windows partition by
    the doc id, so window state is bounded by document length."""
    plan = _plan(em.dup_span_docs(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_dsir_scoring_is_broadcast(spark, sf_dir):
    """DSIR: the dim-row log-ratio table must broadcast to the per-doc
    bucket counts — the corpus side never shuffles for the join."""
    plan = _plan(em.dsir_score_docs(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_recall_no_corpus_data_moves(spark, sf_dir):
    """ANN recall: hit counting is a semi join + count on k-bounded
    top-k frames; no vector arrays may appear past the two top-k
    subplans' own exchanges."""
    from dbt_core_spark.operators.similarity import ann_recall

    exact = em.cosine_topk_blas_embeddings(spark, sf_dir)
    approx = em.ann_ivf_topk_embeddings(spark, sf_dir)
    plan = _plan(ann_recall(exact, approx, k=3))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_registry_is_the_oracle_table():
    """One gate registry: queries() is derived from oracles.ORACLES, so
    a gate is live exactly when it has an oracle; every value is the
    same-named module function, and no public function in
    __spark_entry__ is left out of the registry (no unwired gate)."""
    import inspect

    qs = em.queries()
    assert set(qs) == set(em.oracle_sql())
    assert len(qs) == 204
    for name, fn in qs.items():
        assert inspect.isfunction(fn) and fn.__module__ == em.__name__, name
        assert fn.__name__ == name and getattr(em, name) is fn, name
    public = {
        n for n, f in vars(em).items()
        if inspect.isfunction(f) and f.__module__ == em.__name__
        and not n.startswith("_")
    }
    assert public - set(qs) == {"entry", "queries", "oracle_sql"}


# gates that once led a hand-ordered verification window, and gates
# that once waited in a separate staged-oracle dict; both are now plain
# ORACLES rows and must stay live in the one registry
_FORMER_WINDOW_LEAD = [
    "langid_nb_docs", "langid_eval_docs", "classifier_summary_docs",
    "threshold_select_language_docs", "cc_dedup_docs",
    "group_split_docs", "group_kfold_docs", "incremental_dedup_docs",
    "minhash_index_delete_docs", "pagerank_docs", "ppr_docs",
    "streaming_bm25_serve_docs", "streaming_knn_serve_embeddings",
    "knn_classify_ivf_embeddings", "perceptron_ovr_language_docs",
    "perceptron_avg_language_docs",
]
_FORMER_STAGED = [
    "centroid_classify_embeddings", "corpus_profile_docs",
    "ivfpq_index_append_embeddings", "ivfpq_index_lifecycle_embeddings",
    "knn_classify_embeddings", "knn_eval_embeddings", "strip_html_docs",
    "stump_classify_docs", "stump_train_docs",
]


def test_gate_window_r12_composition():
    """The gates that led the old verification window are all live:
    each is a registry row with an oracle, and the registry is exactly
    the oracle table (no order policy is left to pin)."""
    qs = em.queries()
    oracles = em.oracle_sql()
    assert set(qs) == set(oracles)
    for name in _FORMER_WINDOW_LEAD:
        assert name in qs, f"{name} dropped from the registry"
        assert oracles[name].strip(), f"{name} has an empty oracle"
    assert len(qs) == 204


def test_staged_r12_gates_are_wirable():
    """Every gate that used to sit in the staged-oracle dict is wired:
    it resolves to the same-named module callable, is live in
    queries(), and carries its oracle in ORACLES; no staged dict is
    left behind."""
    import oracles as oracles_mod
    from oracles import ORACLES

    qs = em.queries()
    for name in _FORMER_STAGED:
        assert callable(getattr(em, name, None)), name
        assert qs[name] is getattr(em, name), f"{name} not wired"
        assert name in ORACLES, f"{name} has no oracle"
    assert not [n for n in vars(oracles_mod) if n.startswith("ORACLES_STAGED")]


def test_bm25_inverted_index_shape(spark, sf_dir):
    """BM25: inverted-index join (never queries×corpus cartesian), the
    per-query top-k is a partial-rank WindowGroupLimit, and aggregates
    keep map-side partials."""
    from dbt_core_spark.operators.textstats import bm25_rank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.filter("doc_id % 13 = 0")
    df = bm25_rank(docs, queries, top_k=5)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    fmt = _formatted(df)
    assert fmt.count("HashAggregate") >= 2


@_mark_slow
def test_bm25_bucketed_query_prunes_partitions(spark, sf_dir, tmp_path):
    """A term-hash-bucketed index stored partitionBy("bucket") must let
    bm25_query prune the postings scan to the query terms' buckets —
    the literal bucket IN filter has to reach the scan's
    PartitionFilters (file-listing-level pruning, the 100 TB serving
    contract), and the scan must read fewer than all bucket
    directories for a narrow query."""
    import glob as _glob

    from dbt_core_spark.operators.textstats import bm25_index, bm25_query

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25_bucketed_plan")
    bm25_index(docs, n_buckets=16).write.partitionBy("bucket").parquet(path)
    n_dirs = len(_glob.glob(f"{path}/bucket=*"))
    assert n_dirs > 4  # the corpus vocabulary fills most buckets
    queries = spark.createDataFrame(
        [(1, "lorem")], "doc_id long, text string")
    df = bm25_query(spark.read.parquet(path), queries, top_k=3)
    plan = _plan(df)
    # the bucket restriction must be in the scan's PartitionFilters
    # (file-listing pruning), not a post-scan Filter; a single-term
    # query touches exactly 1 bucket PLUS bucket 0 (the snapshot
    # sentinel ride-along — the r9 mixed-n_buckets structural fix), so
    # the literal list carries at most 2 buckets out of 16
    import re as _re

    m = _re.search(
        r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", plan)
    assert m, plan[:2000]
    pf = m.group(1)
    eq = _re.findall(r"bucket#\d+ = \d+", pf)
    inlist = _re.search(r"bucket#\d+ IN \(([^)]*)\)", pf)
    n_literals = (len(inlist.group(1).split(",")) if inlist
                  else len(eq))
    assert 1 <= n_literals <= 2, pf
    # bucket 0 is among the scanned buckets (sentinel contract)
    if inlist:
        assert "0" in [s.strip() for s in inlist.group(1).split(",")], pf


def test_decontaminate_bloom_prefilter_shape(spark, sf_dir):
    """Bloom decontamination: the bitset membership test must sit in a
    Filter BEFORE the confirm join (that's the entire point — corpus
    rows die pre-shuffle), expressed over the literal long-array; no
    cartesian anywhere."""
    from dbt_core_spark.operators.dedup import decontaminate_bloom

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = docs.filter("doc_id % 7 = 0").select("doc_id", "text")
    df = decontaminate_bloom(docs, probes, n=5)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the membership test compiles to shiftright(element_at(...)) bit
    # tests inside a Filter on the corpus side
    assert "shiftright" in plan and "element_at" in plan
    # the bitset literal must be bound exactly ONCE (r6 ADVICE: a k-way
    # conjunction lexically duplicated the ~m/64-long array per hash,
    # blowing up plan/task-binary size at 10^7-shingle scale) — one
    # forall over the positions array references it a single time
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("forall") == 1
    assert analyzed.count("element_at") == 1


def test_phash_dup_pairs_banded_join_never_cartesian(spark):
    """Multimodal near-dup pairs: the candidate stage must be an
    equi-join on the (band, value) key — an all-pairs image comparison
    is corpus²-scale at 10⁹ images — and the binary payload column
    must never cross an exchange (hashes are id + 6 small ints)."""
    import re

    from dbt_core_spark.operators.multimodal import (
        phash_dup_pairs,
        phash_media,
        synth_media,
    )

    docs = spark.createDataFrame(
        [(2 * i + 1, "img") for i in range(30)], ["doc_id", "text"])
    hashes = phash_media(synth_media(docs, pattern="gradient"))
    df = phash_dup_pairs(hashes.localCheckpoint(eager=False))
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    fmt = _formatted(df)
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    for cols in exchanges:
        assert "data#" not in cols, f"binary payload crossed a shuffle: {cols}"


def test_corpus_diff_shuffles_hashes_never_text(spark, sf_dir):
    """Snapshot diff: the md5 projection must land BELOW both join
    exchanges so only (id, 32-byte hash) rows shuffle — document text
    crossing an exchange would be corpus-bytes-scale traffic at
    100 TB."""
    import re

    from dbt_core_spark.operators.corpus import corpus_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = corpus_diff(docs.filter("doc_id % 17 != 5"),
                     docs.filter("doc_id % 17 != 3"))
    fmt = _formatted(df)
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    assert exchanges, "expected at least one join exchange"
    for cols in exchanges:
        assert "text#" not in cols, f"document text crossed a shuffle: {cols}"


def test_ngram_loop_runs_has_no_joins(spark, sf_dir):
    """Loop detection: positional grams + per-(doc, phase) windows +
    one doc-keyed aggregate — any Join node means the shape regressed."""
    from dbt_core_spark.operators.corpus import ngram_loop_runs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(ngram_loop_runs(docs, n=3, min_repeats=3))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_audio_dup_pairs_landmark_join_never_cartesian(spark):
    """Audio near-dup pairs: candidates must come from an equi-join on
    the (eq1, eq2, dt) landmark key — all-pairs clip comparison is
    corpus²-scale — and the binary payload must never cross an
    exchange (frame energies are id + 2 ints + 1 bigint)."""
    import re

    from dbt_core_spark.operators.multimodal import (
        audio_dup_pairs,
        audio_energy_frames,
        audio_fingerprint,
        synth_media,
    )

    docs = spark.createDataFrame(
        [(2 * i, "clip text " * (i % 7)) for i in range(20)],
        ["doc_id", "text"])
    frames = audio_energy_frames(
        synth_media(docs, pattern="am")).localCheckpoint(eager=False)
    df = audio_dup_pairs(audio_fingerprint(frames))
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    fmt = _formatted(df)
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    for cols in exchanges:
        assert "data#" not in cols, f"binary payload crossed a shuffle: {cols}"


def test_oov_rate_vocab_is_broadcast_anti_join(spark, sf_dir):
    """OOV rate: a small vocabulary must anti-join as a BROADCAST — a
    corpus-keyed shuffle against a ≤100k-row vocab would move the
    whole token stream twice — and document text must never cross an
    exchange (only (id, term) wordcount rows shuffle).  The broadcast
    comes from Spark's size-based selection, NOT a forced hint (r9
    ADVICE): a corpus-scale term table passed as the vocab falls back
    to a shuffled join instead of a forced driver OOM."""
    import re

    from dbt_core_spark.operators.corpus import oov_rate
    from dbt_core_spark.operators.textstats import build_vocab

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = build_vocab(docs.filter("doc_id % 2 = 0"),
                        vocab_size=500).localCheckpoint(eager=False)
    df = oov_rate(docs, vocab)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    for cols in exchanges:
        assert "text#" not in cols, f"document text crossed a shuffle: {cols}"


def test_naive_bayes_apply_model_side_stays_small(spark, sf_dir):
    """NB serving: the k-row class stats enter as a broadcast
    (BroadcastNestedLoopJoin on the deliberate doc×class expansion is
    fine — the right side is k rows); the weights join is an equi-join
    on term; document text never crosses an exchange."""
    import re

    from dbt_core_spark.operators.textstats import (
        naive_bayes_apply,
        naive_bayes_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w, cs = naive_bayes_train(
        docs.filter("doc_id % 3 != 0 AND lang IS NOT NULL"), "lang")
    df = naive_bayes_apply(docs.filter("doc_id % 3 = 0"),
                           w.localCheckpoint(eager=False),
                           cs.localCheckpoint(eager=False))
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    for cols in exchanges:
        assert "text#" not in cols, f"document text crossed a shuffle: {cols}"


def test_retrieval_metrics_no_corpus_scale_work(spark):
    """Retrieval eval: everything downstream of the ranking table is
    queries×k-scale — the IDCG discount table is a broadcast k-row
    side and no node may be a cartesian product."""
    from dbt_core_spark.operators.textstats import retrieval_metrics

    rankings = spark.createDataFrame(
        [(q, d, r + 1) for q in range(10) for r, d in enumerate(
            range(q, q + 5))],
        "query_id long, doc_id long, rank int")
    qrels = spark.createDataFrame(
        [(q, q + 2) for q in range(10)], "query_id long, doc_id long")
    plan = _plan(retrieval_metrics(rankings, qrels, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_video_dup_pairs_aligned_plan_shape(spark):
    """Offset-tolerant video pairs: candidates equi-join on the full
    64-bit hash (never cartesian), the binary payload never crosses an
    exchange, and the best-offset window runs over (pair, offset)
    AGGREGATE rows — frame-level columns never enter a window
    exchange."""
    import re

    from dbt_core_spark.operators.multimodal import (
        synth_video,
        video_dup_pairs_aligned,
        video_frame_hashes,
    )

    docs = spark.createDataFrame(
        [(i, "x") for i in range(12)], "doc_id long, text string")
    fh = video_frame_hashes(synth_video(docs)).localCheckpoint(
        eager=False)
    df = video_dup_pairs_aligned(fh, min_frames=2)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    fmt = _formatted(df)
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    for cols in exchanges:
        assert "data#" not in cols, f"binary payload crossed a shuffle: {cols}"
    # the window's exchange carries pair+offset aggregates only
    win_inputs = re.findall(
        r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    assert win_inputs
    for cols in win_inputs:
        assert "frame_idx" not in cols and "pos_a" not in cols, cols


def test_pr_curve_window_over_thresholds_only(spark, sf_dir):
    """pr_curve: the corpus pays one flag join + one per-threshold
    aggregate (map-side partials); the cumulative windows run over
    DISTINCT-threshold aggregate rows only — no id-level column may
    reach a Window input, and nothing is cartesian."""
    import re

    from dbt_core_spark.operators.textstats import pr_curve

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.selectExpr("doc_id", "doc_id % 97 as score")
    pos = docs.filter("doc_id % 3 = 0").select("doc_id")
    df = pr_curve(scored, pos)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    fmt = _formatted(df)
    win_inputs = re.findall(
        r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    assert win_inputs
    for cols in win_inputs:
        assert "_id" not in cols and "doc_id" not in cols, cols
    assert fmt.count("HashAggregate") >= 2  # map-side partials


def test_auc_score_window_over_scores_only(spark, sf_dir):
    """auc_score: same discipline — the midrank window sees only
    per-distinct-score aggregate rows; the final fold is one scalar
    aggregate."""
    import re

    from dbt_core_spark.operators.textstats import auc_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.selectExpr("doc_id", "doc_id % 53 as score")
    pos = docs.filter("doc_id % 4 = 1").select("doc_id")
    df = auc_score(scored, pos)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    win_inputs = re.findall(
        r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", fmt)
    assert win_inputs
    for cols in win_inputs:
        assert "_id" not in cols and "doc_id" not in cols, cols


def test_knn_classify_plan_shape(spark):
    """kNN vote: the label join is hash-equi (broadcast under AQE
    stats), never cartesian; the exact search is ONE Arrow
    mapInPandas pass; the vote window runs over (query, label)
    AGGREGATE rows, so nothing corpus-scale enters the final
    exchange."""
    from pyspark.sql import functions as F

    from dbt_core_spark.operators.similarity import knn_classify

    labeled = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(1, 40)],
        "vec_id long, embedding array<float>, label int")
    q = spark.createDataFrame(
        [(100 + i, [1.0, float(i)]) for i in range(5)],
        "vec_id long, embedding array<float>")
    df = knn_classify(labeled, q.withColumn("label", F.lit(None).cast("int")),
                      k=3)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan
    # one Arrow search pass (formatted explain names the node twice:
    # tree + details)
    assert plan.count("MapInPandas") == 2
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan \
        or "SortMergeJoin" in plan


def test_stump_apply_plan_shape(spark):
    """Stump serving: the 1-row model joins as a broadcast nested-loop
    cross join and the CASE routing stays whole-stage codegen — no
    Python eval, no cartesian against a non-broadcast side."""
    from dbt_core_spark.operators.textstats import stump_apply, stump_train

    df = spark.createDataFrame(
        [(i, i, 0 if i <= 10 else 1) for i in range(1, 21)],
        "doc_id long, f long, y int")
    model = stump_train(df, ["f"], label_col="y")
    plan = _formatted(stump_apply(df, model, ["f"]))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the routing CASE is pure JVM expression — no Python eval node
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_group_split_plan_shape(spark):
    """Leakage-safe split: the components join is id-equi (broadcast
    or hash — never nested-loop against the corpus) and the md5
    bucket lattice is pure codegen, no Python anywhere."""
    from dbt_core_spark.operators.textstats import group_split

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    plan = _formatted(group_split(docs, pairs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_strip_html_plan_is_exchange_free(spark):
    """HTML extraction is a pure row-local regexp/replace chain: no
    exchange, no Python eval anywhere in the plan."""
    from dbt_core_spark.operators.textstats import strip_html

    df = spark.createDataFrame(
        [(1, "<p>a</p>")], "doc_id long, text string")
    plan = _formatted(strip_html(df))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_sweeps_are_sealed(spark):
    """Each PageRank sweep reads the previous ranks as a sealed scan
    (localCheckpoint), so the final plan contains no repeated edge
    aggregation cascade — and no cartesian/nested-loop joins."""
    from dbt_core_spark.operators.graphs import pagerank

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    plan = _formatted(pagerank(e, iters=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the sealed previous-round ranks appear as an ExistingRDD scan
    assert "ExistingRDD" in plan
