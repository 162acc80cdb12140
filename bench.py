"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``queries_profile`` holds each query's profile record (audit.SparkWork)
from its last timed repeat: ``build_s`` (the gate function building its
DataFrame, eager driver actions included), ``exec_s`` (the ``count()``
action), and the jobs, stages, tasks, shuffle-write bytes and input
bytes of both.  ``SPARK_GRAFT_ONLY=a,b`` limits the run to those gates.

The headline set is a fixed 72-gate sample of the registry, kept
unchanged so per-query medians stay comparable across BENCH records:
heavy relational TPC-H, windows and time rollups, the engine
materializations, dedup, similarity and ANN serving, retrieval, trained
classifiers, streaming, and the multimodal mapInPandas paths.

Additionally reports ``parse_ms_per_model`` — the analog of the
reference's only published benchmark (dbt parse of 2000 trivial models,
~36 ms/model at dbt 1.4.6; BASELINE.md) measured on a generated
2000-model project.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from dbt_core_spark.audit import read_spark_work, spark_work
from dbt_core_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "window_top3_orders_per_customer",
    "sessionize_events",
    "hourly_event_rollup",
    "engine_view_table_ephemeral",
    "engine_incremental_merge",
    "engine_microbatch_day",
    "minhash_lsh_docs",
    "streaming_hourly_rollup",
    "ann_ivf_blas_topk_embeddings",
    "cosine_topk_blas_embeddings",
    "text_quality_docs",
    "multimodal_features_docs",
    "engine_snapshot_scd2",
    "cc_dedup_docs",
    "multimodal_decode_wav_ppm",
    "tfidf_top_terms_docs",
    "hll_distinct_events",
    "line_dedup_docs",
    "ngram_lm_docs",
    "semantic_dedup_blas_embeddings",
    "webdataset_pipeline_docs",
    "ann_ivf_index_query_embeddings",
    "hash_embed_docs",
    "dup_span_docs",
    "dsir_score_docs",
    "pq_search_embeddings",
    "range_join_events",
    "funnel_events",
    "cms_heavy_words",
    "ivfpq_search_embeddings",
    "funnel_stream_events",
    "cluster_curation_embeddings",
    "bm25_rank_docs",
    "decontaminate_bloom_docs",
    "hybrid_retrieval_docs",
    "corpus_diff_docs",
    "vocab_drift_docs",
    "streaming_bm25_serve_docs",
    "ann_ivf_rebalance_embeddings",
    "naive_bayes_language_docs",
    "audio_fingerprint_dedup_docs",
    "multimodal_phash_dedup_docs",
    "multimodal_video_dedup_docs",
    "streaming_ann_serve_embeddings",
    "bm25_index_delete_docs",
    "multimodal_video_align_docs",
    "ann_ivf_lifecycle_embeddings",
    "pr_curve_language_docs",
    "auc_language_docs",
    "bpe_train_docs",
    "langid_nb_docs",
    "langid_eval_docs",
    "minhash_index_delete_docs",
    "threshold_select_language_docs",
    "ivfpq_index_lifecycle_embeddings",
    "ivfpq_index_append_embeddings",
    "knn_classify_embeddings",
    "knn_classify_ivf_embeddings",
    "stump_classify_docs",
    "group_split_docs",
    "classifier_summary_docs",
    "strip_html_docs",
    "pagerank_docs",
    "ppr_docs",
    "group_kfold_docs",
    "streaming_knn_serve_embeddings",
    "corpus_profile_docs",
    "centroid_classify_embeddings",
]


def bench_parse(n_models: int = 2000) -> float:
    """Parse-throughput analog of the reference's 01_2000_simple_models
    benchmark (ref: performance/README.md): n trivial models + full
    manifest parse + DAG link; returns ms/model."""
    from dbt_core_spark.plans.graph import Linker
    from dbt_core_spark.plans.parser import parse_project
    from dbt_core_spark.project import ProjectDef

    p = ProjectDef(name="perf")
    p.models["base"] = "select 1 as id"
    for i in range(n_models - 1):
        p.models[f"m{i}"] = "select id from {{ ref('base') }} where id = {{ var('x', 1) }}"
    t0 = time.time()
    manifest = parse_project(p)
    Linker().link_graph(manifest)
    elapsed = time.time() - t0
    assert len(manifest.nodes) == n_models
    # warm partial parse: unchanged project against the cached manifest —
    # the reference's partial_parse.msgpack path (plans/partial.py
    # persists the same cache across processes)
    t0 = time.time()
    m2 = parse_project(p, cache=manifest)
    Linker().link_graph(m2)
    warm = time.time() - t0
    assert m2.reparse_count == 0
    return elapsed * 1000 / n_models, warm * 1000 / n_models


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(
        app_name="dbt_core_spark_bench",
        extra_conf={"spark.sql.warehouse.dir": f"/tmp/bench_wh_{os.getpid()}"},
    )
    # warm the executor pool + codegen before timing (first job otherwise
    # pays several seconds of JVM/session startup, misattributed to q1)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # warm the Python worker pool too (mapInPandas spawn cost ~5s cold)
    import pandas as _pd

    spark.range(32).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()
    # box calibration (r10): two FIXED workloads timed before any
    # query, recorded in the JSON — round-over-round medians are only
    # comparable after normalizing by these (the r10 snapshot's host
    # ran untouched TPC-H q1 at 1.9x the r9 wall with zero code delta;
    # without a calibration scalar that is indistinguishable from a
    # regression)
    t0 = time.time()
    spark.range(512_000_000).selectExpr(
        "sum(pmod(hash(id), 1000))").collect()  # ANSI-safe: <= 5.1e11
    jvm_calib = round(time.time() - t0, 3)
    t0 = time.time()
    acc = 0
    for i in range(20_000_000):
        acc += i * i
    py_calib = round(time.time() - t0, 3)
    print(f"# box calib: jvm {jvm_calib}s, python {py_calib}s",
          file=sys.stderr)
    entrymod._reg(spark, sf_dir)

    qs = entrymod.queries()
    # SPARK_GRAFT_REPEATS: per-query median + population sigma —
    # DEFAULTS TO 5 so every driver-recorded BENCH_r{N} carries
    # medians/σ and round-over-round deltas are adjudicable against
    # this box's noise (the r2/r3/r4 verdicts all asked for this);
    # export SPARK_GRAFT_REPEATS=1 for a quick single-shot loop
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "5")))
    # noop-sink timing (guide §1.4; r11 verdict item 9 — the transition
    # round): EVERY query is timed BOTH ways this round — the
    # historical `.count()` action (so BENCH_r12 medians stay
    # comparable to BENCH_r11) and the noop sink, which computes every
    # column of every row and so cannot be flattered by count-only
    # column pruning.  `queries`/`value` keep their r4..r11 meaning
    # (count-based); the noop view lands in `queries_noop` /
    # `total_noop_s`.  Next round drops `.count()` and promotes noop.
    noop_repeats = max(0, int(os.environ.get(
        "SPARK_GRAFT_NOOP_REPEATS", str(min(repeats, 3)))))
    only = [q for q in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if q]
    times: dict[str, float] = {}
    firsts: dict[str, float] = {}
    sigmas: dict[str, float] = {}
    noops: dict[str, float] = {}
    profiles: dict[str, dict] = {}
    import gc

    for name in only or HEADLINE:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench:{name}")  # guide §1.5
        samples = []
        for _ in range(repeats):
            # drop dangling DataFrame refs so the ContextCleaner can
            # unpersist prior queries' localCheckpoint RDDs — without
            # this, sealed RDDs accumulate across the 35-query session
            # and late queries pay GC pressure that standalone runs
            # don't (ivfpq measured 2.5 s alone vs 6.9 s in-session)
            df = None
            gc.collect()
            with spark_work(spark) as work:
                df = fn(spark, sf_dir)
                work.mark("build")
                n = df.count()  # force full execution
                work.mark("exec")
            samples.append(work.seconds("build") + work.seconds("exec"))
        read_spark_work(spark, [work])
        profiles[name] = {"build_s": round(work.seconds("build"), 3),
                          "exec_s": round(work.seconds("exec"), 3),
                          **work.adapter_response()}
        # first_s = iteration 1 (session-warm but query-cold) so both
        # cold/cold and median/median round-over-round deltas are
        # adjudicable from the durable record (r5 verdict item 3 —
        # BENCH_r04 was n=1 cold, r5 medians were warm, and the two
        # methodologies are not comparable)
        firsts[name] = round(samples[0], 3)
        samples.sort()
        med = samples[len(samples) // 2]
        times[name] = round(med, 3)
        if repeats > 1:
            mean = sum(samples) / len(samples)
            sigmas[name] = round(
                (sum((s - mean) ** 2 for s in samples) / len(samples)) ** 0.5, 3)
        nsamples = []
        spark.sparkContext.setJobDescription(f"bench-noop:{name}")
        for _ in range(noop_repeats):
            df = None
            gc.collect()
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            nsamples.append(time.time() - t0)
        if nsamples:
            nsamples.sort()
            noops[name] = round(nsamples[len(nsamples) // 2], 3)
        spark.sparkContext.setJobDescription(None)
        prof = profiles[name]
        print(f"# {name}: {times[name]}s ({n} rows) first={firsts[name]}s"
              f" jobs={prof['jobs']} stages={prof['stages']}"
              f" tasks={prof['tasks']}"
              + (f" sigma={sigmas[name]}s n={repeats}" if repeats > 1 else "")
              + (f" noop={noops[name]}s n={noop_repeats}" if nsamples else ""),
              file=sys.stderr)

    parse_ms, parse_warm_ms = (round(x, 3) for x in bench_parse(2000))
    print(f"# parse: {parse_ms} ms/model cold, {parse_warm_ms} warm",
          file=sys.stderr)

    total = round(sum(times.values()), 3)
    total_first = round(sum(firsts.values()), 3)
    # box-noise discipline (r9 verdict item 4): a loaded driver box
    # inflates FIRST runs far past the steady state (BENCH_r09 recorded
    # pq_search at 43.4 s first vs a 1.97 s idle-box first) — flag any
    # first-run > 5× its own median as an outlier so load can't
    # masquerade as a regression (or hide one), and separate the
    # outlier excess from the steady-state total in the summary
    outliers = {
        name: round(firsts[name] / times[name], 1)
        for name in times
        if times[name] > 0 and firsts[name] > 5 * times[name]
    }
    outlier_excess = round(
        sum(firsts[n] - times[n] for n in outliers), 3)
    # calib-normalized medians (r10 verdict item 7): BENCH_LOCAL r8→r10
    # showed a UNIFORM ~+0.7s inflation on untouched queries — box
    # load, not regression.  Each query is also reported as
    # median ÷ box_jvm_calib, and regressions vs the LATEST committed
    # BENCH_LOCAL_r* snapshot flag only when BOTH the raw and the
    # normalized ratio exceed 1.25: a genuine regression inflates both
    # views on any box, while pure box drift inflates exactly one (a
    # slower box inflates raw but not normalized; a snapshot whose
    # calib was measured under transient load deflates its normalized
    # values and would inflate ONLY the normalized ratio — observed
    # r10→r11: plan-byte-identical queries at 2.4× normalized, 1.1×
    # raw).
    norm = {
        name: round(times[name] / jvm_calib, 4) for name in times
    } if jvm_calib > 0 else {}
    normalized_regressions: dict[str, dict] = {}
    prev_path = sorted(glob.glob("BENCH_LOCAL_r*.json"))
    if prev_path and norm:
        try:
            with open(prev_path[-1]) as fh:
                prev = json.load(fh)
            prev_calib = float(prev.get("box_jvm_calib_s") or 0)
            for name, med in (prev.get("queries") or {}).items():
                if name not in norm or prev_calib <= 0 or med <= 0:
                    continue
                p_norm = med / prev_calib
                if norm[name] > 1.25 * p_norm \
                        and times[name] > 1.25 * med:
                    normalized_regressions[name] = {
                        "prev_norm": round(p_norm, 4),
                        "curr_norm": norm[name],
                        "ratio_norm": round(norm[name] / p_norm, 2),
                        "ratio_raw": round(times[name] / med, 2),
                        "vs": os.path.basename(prev_path[-1]),
                    }
        except (OSError, ValueError, KeyError):
            pass  # a malformed snapshot must not fail the bench
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "parse_ms_per_model": parse_ms,
        "parse_warm_ms_per_model": parse_warm_ms,
        "total_first_s": total_first,
        "queries_first": firsts,
        # the last timed repeat's profile record per query
        "queries_profile": profiles,
        # first-run > 5× median: name -> first/median ratio (box-load
        # artifacts; judge the steady state by `value`, the medians)
        "cold_outliers": outliers,
        "cold_outlier_excess_s": outlier_excess,
        "box_jvm_calib_s": jvm_calib,
        "box_py_calib_s": py_calib,
        # median ÷ box_jvm_calib: the box-load-invariant view; compare
        # THESE across rounds (raw medians only within one snapshot)
        "queries_norm": norm,
        "total_norm": round(sum(norm.values()), 3) if norm else None,
        # normalized regressions vs the latest committed BENCH_LOCAL
        # snapshot (>25% in calib-normalized units — raw deltas inside
        # the box-noise envelope do NOT appear here)
        "normalized_regressions": normalized_regressions,
    }
    if sigmas:
        out["queries_sigma"] = sigmas
        out["repeats"] = repeats
    if noops:
        # noop-sink medians (guide §1.4): the full-materialization view
        # — compare to `queries` to see where count-only column pruning
        # flattered a query; becomes the primary action next round
        out["queries_noop"] = noops
        out["total_noop_s"] = round(sum(noops.values()), 3)
        out["noop_repeats"] = noop_repeats
    # Durable copy + compact summary: the r5 driver's tail capture
    # truncated the (very long) per-query JSON line and lost the
    # headline total (BENCH_r05 `parsed: null` — r5 verdict item 2).
    # The full JSON goes to a file, and a SHORT second line carries the
    # headline numbers so any tail-capture still records them.
    os.makedirs("target", exist_ok=True)
    with open("target/bench_latest.json", "w") as fh:
        json.dump(out, fh, indent=1)
    # target/ is gitignored, so ALSO refresh a tracked copy: without it
    # the per-query medians don't survive to the next round and
    # round-over-round comparisons degrade to totals (the r6→r7 trap —
    # BENCH_r{N}.json's `tail` is truncated mid-JSON).  Sessions commit
    # a per-round snapshot (BENCH_LOCAL_r{N}.json) from this file.
    with open("BENCH_LOCAL_latest.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    # compact per-query medians as their OWN one-line record (r11
    # verdict item 8): the driver's tail capture truncates the full
    # JSON above mid-`queries`, which left PERF_r11's per-query
    # comparison empty — this line is ~10× smaller (medians only, 2dp,
    # no spaces) so a short tail still carries per-query data
    print(json.dumps({
        "metric": "bench_queries",
        "queries": {k: round(v, 2) for k, v in times.items()},
    }, separators=(",", ":")))
    print(json.dumps({
        "metric": "bench_summary",
        "total_s": total,
        "total_first_s": total_first,
        "total_noop_s": out.get("total_noop_s"),
        "parse_ms": parse_ms,
        "repeats": repeats,
        "sf": sf,
        "n_queries": len(times),
        "n_cold_outliers": len(outliers),
        "cold_outlier_excess_s": outlier_excess,
        "total_norm": out["total_norm"],
        "n_normalized_regressions": len(normalized_regressions),
    }))


if __name__ == "__main__":
    main()
