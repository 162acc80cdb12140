from _slowmark import _mark_slow  # noqa: E402
"""Structured Streaming surface: file source → watermark+window →
memory/parquet sink with AvailableNow (SURVEY §2.E streaming stretch)."""

import json
import os
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_core_spark.streaming.structured import (
    run_to_memory,
    run_to_parquet,
    stream_source,
    windowed_rollup,
)

SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("kind", T.StringType()),
])


def _write_events(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"{uuid.uuid4().hex}.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


ROWS = [
    {"event_id": 1, "ts": "2024-01-01T00:05:00.000Z", "kind": "a"},
    {"event_id": 2, "ts": "2024-01-01T00:25:00.000Z", "kind": "a"},
    {"event_id": 3, "ts": "2024-01-01T01:10:00.000Z", "kind": "b"},
]


def test_windowed_rollup_to_memory(spark, tmp_path):
    src = str(tmp_path / "in")
    _write_events(src, ROWS)
    # sentinel far in the future: advances the watermark so the earlier
    # windows close — append mode only emits watermark-closed windows
    _write_events(src, [
        {"event_id": 99, "ts": "2024-01-01T05:00:00.000Z", "kind": "z"}])
    stream = stream_source(spark, src, SCHEMA, fmt="json")
    assert stream.isStreaming
    rolled = windowed_rollup(
        stream, "ts", window_duration="1 hour", watermark="10 minutes",
        group_cols=["kind"], aggs=[F.count("*").alias("n")],
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    run_to_memory(rolled, name)
    got = {
        (str(r["window_start"]), r["kind"]): r["n"]
        for r in spark.table(name).collect()
    }
    # sentinel's own window [05:00, 06:00) is still open → not emitted
    assert got == {
        ("2024-01-01 00:00:00", "a"): 2,
        ("2024-01-01 01:00:00", "b"): 1,
    }


def test_stream_to_parquet_exactly_once(spark, tmp_path):
    src = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    _write_events(src, ROWS)
    stream = stream_source(spark, src, SCHEMA, fmt="json")
    run_to_parquet(stream, out, ckpt)
    assert spark.read.parquet(out).count() == 3
    # re-running with the same checkpoint must not duplicate rows
    stream2 = stream_source(spark, src, SCHEMA, fmt="json")
    run_to_parquet(stream2, out, ckpt)
    assert spark.read.parquet(out).count() == 3
    # new file arrives → only the delta lands
    _write_events(src, [{"event_id": 4, "ts": "2024-01-01T02:00:00.000Z", "kind": "c"}])
    stream3 = stream_source(spark, src, SCHEMA, fmt="json")
    run_to_parquet(stream3, out, ckpt)
    assert spark.read.parquet(out).count() == 4


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState gap sessionization with event-time timeout."""
    import uuid as _uuid

    from dbt_core_spark.streaming.stateful import sessionize_stream
    from dbt_core_spark.streaming.structured import run_to_memory
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "sess_in")
    # user 1: two sessions (gap > 30 min); user 2: one session
    _write_events(src, [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z"},
        {"user_id": 1, "ts": "2024-01-01T00:10:00.000Z"},
        {"user_id": 1, "ts": "2024-01-01T01:00:00.000Z"},  # new session
        {"user_id": 2, "ts": "2024-01-01T00:30:00.000Z"},
    ])
    # second file: sentinel far ahead advances the watermark past all
    # session close points → every session times out and is emitted
    _write_events(src, [{"user_id": 99, "ts": "2024-01-01T12:00:00.000Z"}])

    stream = spark.readStream.schema(schema).json(src)
    sessions = sessionize_stream(stream, "user_id", "ts", gap_seconds=1800,
                                 watermark="1 second")
    name = f"sess_{_uuid.uuid4().hex[:8]}"
    run_to_memory(sessions, name)
    got = {
        (r["user_id"], str(r["session_start"])): (str(r["session_end"]), r["n_events"])
        for r in spark.table(name).collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == ("2024-01-01 00:10:00", 2)
    assert got[(1, "2024-01-01 01:00:00")] == ("2024-01-01 01:00:00", 1)
    assert got[(2, "2024-01-01 00:30:00")] == ("2024-01-01 00:30:00", 1)
    # sentinel's own session is still open → not emitted
    assert not any(u == 99 for u, _ in got)


def test_stream_static_join_enrichment(spark, tmp_path):
    """Stream-static join: enrich a stream with a static dimension
    (no state, executed per micro-batch)."""
    import uuid as _uuid

    from dbt_core_spark.streaming.structured import run_to_memory, stream_source

    src = str(tmp_path / "ss_in")
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "kind": "a"},
        {"event_id": 2, "ts": "2024-01-01T00:01:00.000Z", "kind": "b"},
        {"event_id": 3, "ts": "2024-01-01T00:02:00.000Z", "kind": "zz"},
    ])
    dim = spark.createDataFrame(
        [("a", "Alpha"), ("b", "Beta")], ["kind", "label"])
    stream = stream_source(spark, src, SCHEMA, fmt="json")
    enriched = stream.join(dim, "kind", "left")
    name = f"ss_{_uuid.uuid4().hex[:8]}"
    run_to_memory(enriched, name)
    got = {r["event_id"]: r["label"] for r in spark.table(name).collect()}
    assert got == {1: "Alpha", 2: "Beta", 3: None}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys delivered across micro-batches within the
    watermark horizon are dropped; the survivor is the first sighting."""
    from dbt_core_spark.streaming.structured import streaming_dedup

    src = str(tmp_path / "dd_in")
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:05:00.000Z", "kind": "a"},
        {"event_id": 1, "ts": "2024-01-01T00:06:00.000Z", "kind": "a-dup"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00.000Z", "kind": "b"},
    ])
    _write_events(src, [
        {"event_id": 2, "ts": "2024-01-01T00:12:00.000Z", "kind": "b-dup"},
        {"event_id": 3, "ts": "2024-01-01T00:20:00.000Z", "kind": "c"},
    ])
    stream = stream_source(spark, src, SCHEMA, fmt="json")
    deduped = streaming_dedup(stream, ["event_id"], ts_col="ts", watermark="30 minutes")
    name = f"dd_{uuid.uuid4().hex[:8]}"
    run_to_memory(deduped, name)
    rows = {r.event_id: r.kind for r in spark.table(name).collect()}
    assert set(rows) == {1, 2, 3}
    assert "a-dup" not in rows.values() and "b-dup" not in rows.values()


@_mark_slow
def test_stream_stream_interval_join(spark, tmp_path):
    """Click → purchase attribution: purchases join the preceding click
    with the same user within 30 minutes, as a stream-stream join with
    state bounded by watermarks on both sides."""
    from dbt_core_spark.streaming.structured import stream_stream_join

    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    click_schema = T.StructType([
        T.StructField("user", T.LongType()),
        T.StructField("click_ts", T.TimestampType()),
        T.StructField("page", T.StringType()),
    ])
    buy_schema = T.StructType([
        T.StructField("user", T.LongType()),
        T.StructField("buy_ts", T.TimestampType()),
        T.StructField("amount", T.LongType()),
    ])
    _write_events(clicks_dir, [
        {"user": 1, "click_ts": "2024-01-01T10:00:00.000Z", "page": "a"},
        {"user": 2, "click_ts": "2024-01-01T10:05:00.000Z", "page": "b"},
        {"user": 3, "click_ts": "2024-01-01T10:10:00.000Z", "page": "c"},
    ])
    _write_events(buys_dir, [
        {"user": 1, "buy_ts": "2024-01-01T10:20:00.000Z", "amount": 5},   # within 30m
        {"user": 2, "buy_ts": "2024-01-01T11:30:00.000Z", "amount": 7},   # too late
        {"user": 9, "buy_ts": "2024-01-01T10:15:00.000Z", "amount": 1},   # no click
    ])
    clicks = stream_source(spark, clicks_dir, click_schema, fmt="json")
    buys = stream_source(spark, buys_dir, buy_schema, fmt="json")
    joined = stream_stream_join(
        clicks, buys, key="user", left_ts="click_ts", right_ts="buy_ts",
        watermark="2 hours", within="30 minutes",
    ).select("l.user", "page", "amount")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name)
    rows = {(r.user, r.page, r.amount) for r in spark.table(name).collect()}
    assert rows == {(1, "a", 5)}


@_mark_slow
def test_streaming_session_rollup_matches_batch_islands(spark, sf_dir):
    """session_window sessions closed by the final watermark must equal
    the batch islands-and-gaps sessionization with the same gap."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    out = em.streaming_session_rollup(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    # session invariants: end - start >= gap (end = last event + gap)
    bad = [r for r in rows if r["session_end"] <= r["session_start"]]
    assert not bad
    # one user's sessions never overlap
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"]))
    for sess in by_user.values():
        sess.sort()
        for (s1, e1), (s2, _e2) in zip(sess, sess[1:]):
            assert s2 >= e1  # next session starts after previous closed


@_mark_slow
def test_streaming_cms_matches_batch_sketch(spark, tmp_path):
    """Window sketches from the stream are bit-identical to batch
    cms_build over the same window's rows — the merge contract."""
    import uuid as _uuid

    from dbt_core_spark.operators.sketches import cms_build
    from dbt_core_spark.streaming.structured import (
        run_to_memory, stream_source, streaming_cms)

    src = str(tmp_path / "cms_in")
    rows = [
        {"event_id": i, "ts": f"2024-01-01T00:{i % 50:02d}:00.000Z",
         "kind": f"k{i % 7}"}
        for i in range(60)
    ]
    _write_events(src, rows)
    _write_events(src, [
        {"event_id": 999, "ts": "2024-01-01T09:00:00.000Z", "kind": "zz"}])
    stream = stream_source(spark, src, SCHEMA, fmt="json")
    sk = streaming_cms(stream, "ts", "kind", window_duration="1 hour",
                       watermark="10 minutes", depth=3, width=32)
    name = f"mem_{_uuid.uuid4().hex[:8]}"
    run_to_memory(sk, name)
    got = {
        (r["row"], r["pos"]): r["cnt"]
        for r in spark.table(name)
        .filter("window_start = '2024-01-01 00:00:00'").collect()
    }
    batch = spark.createDataFrame(
        [(r["kind"],) for r in rows], ["kind"])
    exp = {(r["row"], r["pos"]): r["cnt"]
           for r in cms_build(batch, "kind", depth=3, width=32).collect()}
    assert got == exp


@_mark_slow
def test_funnel_stream_detects_completion_and_rearms(spark, tmp_path):
    import uuid as _uuid

    from dbt_core_spark.streaming.stateful import funnel_stream
    from dbt_core_spark.streaming.structured import run_to_memory, stream_source

    src = str(tmp_path / "fun_in")
    rows = [
        # user 1: completes twice (re-arm), out-of-order click ignored
        {"event_id": 1, "ts": "2024-01-01T00:00:01.000Z", "kind": "view"},
        {"event_id": 2, "ts": "2024-01-01T00:00:02.000Z", "kind": "click"},
        {"event_id": 3, "ts": "2024-01-01T00:00:03.000Z", "kind": "purchase"},
        {"event_id": 4, "ts": "2024-01-01T00:01:00.000Z", "kind": "view"},
        {"event_id": 5, "ts": "2024-01-01T00:01:30.000Z", "kind": "click"},
        {"event_id": 6, "ts": "2024-01-01T00:02:00.000Z", "kind": "purchase"},
    ]
    for r in rows:
        r["user"] = 1
    rows.append({"event_id": 7, "ts": "2024-01-01T00:00:05.000Z",
                 "kind": "click", "user": 2})  # never completes
    _write_events(src, rows)
    schema = SCHEMA.add("user", "long") if "user" not in \
        [f.name for f in SCHEMA.fields] else SCHEMA
    stream = stream_source(spark, src, schema, fmt="json")
    out = funnel_stream(stream, ["view", "click", "purchase"],
                        user_col="user", ts_col="ts", type_col="kind")
    name = f"mem_{_uuid.uuid4().hex[:8]}"
    run_to_memory(out, name)
    got = sorted((r["user_id"], str(r["completed_at"]))
                 for r in spark.table(name).collect())
    assert got == [
        (1, "2024-01-01 00:00:03"),
        (1, "2024-01-01 00:02:00"),
    ]


@_mark_slow
def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """The ingest-time decontamination leg is bit-identical to the
    batch recipe: the (id, shingle) match stream, drained AvailableNow,
    aggregates to exactly batch decontaminate_bloom's per-doc rows;
    stateless (append mode, no watermark), so any micro-batch split
    gives the same output."""
    import uuid as _uuid

    from dbt_core_spark.operators.dedup import decontaminate_bloom
    from dbt_core_spark.streaming.structured import (
        run_to_memory,
        stream_source,
        streaming_decontaminate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs_stream")
    docs.repartition(4).write.parquet(src)  # multi-file → multi-batch-able
    probes = docs.filter("doc_id % 11 = 0")

    stream = stream_source(
        spark, src, spark.read.parquet(src).schema, fmt="parquet",
        options={"maxFilesPerTrigger": "2"},  # force >1 micro-batch
    )
    matches = streaming_decontaminate(stream, probes, n=5)
    name = f"sdec_{_uuid.uuid4().hex[:8]}"
    run_to_memory(matches, name)
    from pyspark.sql import functions as F

    got = sorted(
        tuple(r)
        for r in spark.table(name)
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"),
             F.min("shingle").alias("sample_hit"))
        .collect()
    )
    want = sorted(
        tuple(r) for r in decontaminate_bloom(docs, probes, n=5).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_decontaminate_empty_probes(spark, tmp_path):
    """An empty probe corpus contaminates nothing: the match stream is
    empty (and the plan never builds a bitset)."""
    import uuid as _uuid

    from dbt_core_spark.streaming.structured import (
        run_to_memory,
        stream_source,
        streaming_decontaminate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs_stream_e")
    docs.limit(50).write.parquet(src)
    stream = stream_source(
        spark, src, spark.read.parquet(src).schema, fmt="parquet")
    matches = streaming_decontaminate(
        stream, docs.filter("doc_id < 0"), n=5)
    name = f"sdece_{_uuid.uuid4().hex[:8]}"
    run_to_memory(matches, name)
    assert spark.table(name).count() == 0


def test_streaming_ann_serve_forced_split_matches_one_shot(
    spark, sf_dir, tmp_path
):
    """Dense serving split-invariance pin (the bm25-serve precedent):
    ivf_index_search served per micro-batch under a forced
    1-file-per-trigger split (each batch within max_cell_rows: the
    broadcast serve) must equal the one-shot search over the same
    standing index with max_cell_rows below its batch size (the
    exchange path) — per-query top-k is request-row-local."""
    from pyspark.sql import functions as F

    from dbt_core_spark.operators.similarity import (
        ivf_centroid_matrix,
        ivf_index_build,
        ivf_index_search,
    )
    from dbt_core_spark.streaming.structured import (
        stream_serve_foreach_batch,
        stream_source,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = str(tmp_path / "req_src")
    emb.repartition(5).write.parquet(src)  # 5 files -> 5 micro-batches
    cents, assigns = ivf_index_build(emb, n_cells=8, kmeans_iters=0)
    assigns = assigns.localCheckpoint(eager=True)
    cmat = ivf_centroid_matrix(cents)

    stream = stream_source(
        spark, src, spark.read.parquet(src).schema, fmt="parquet",
        options={"maxFilesPerTrigger": "1"},
    )
    out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")
    stream_serve_foreach_batch(
        stream.filter("vec_id % 20 = 0"),
        lambda b: ivf_index_search(cents, assigns, b, k=3, n_probe=4,
                                   centroid_matrix=cmat),
        out, ckpt,
    )
    served = sorted(
        (r["query_id"], r["nbr_id"], round(r["cosine"], 9), r["rank"])
        for r in spark.read.parquet(out)
        .select("query_id", "nbr_id", "cosine", "rank").collect()
    )
    reqs = emb.filter(F.col("vec_id") % 20 == 0)
    n_req = reqs.count()
    assert n_req > 1
    one_shot = sorted(
        (r["query_id"], r["nbr_id"], round(r["cosine"], 9), r["rank"])
        for r in ivf_index_search(
            cents, assigns, reqs, k=3, n_probe=4,
            max_cell_rows=n_req - 1).collect()
    )
    assert served == one_shot and len(served) > 0


@_mark_slow
def test_stream_serve_foreach_batch_split_invariant(spark, tmp_path):
    """The generic foreachBatch serving drain equals the one-shot batch
    transform under a forced 1-file-per-trigger split (row-local fn),
    and an empty request stream leaves no output directory."""
    import os

    from pyspark.sql import functions as F

    from dbt_core_spark.streaming.structured import (
        stream_serve_foreach_batch,
        stream_source,
    )

    src = str(tmp_path / "src")
    spark.range(40).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 7 % 13).alias("v"),
    ).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def fn(batch):
        return batch.select("doc_id", (F.col("v") * 2).alias("served"))

    out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")
    stream = stream_source(spark, src, schema, fmt="parquet",
                           options={"maxFilesPerTrigger": "1"})
    stream_serve_foreach_batch(stream, fn, out, ckpt)
    served = spark.read.parquet(out)
    # the sink carries the batch_id partition column (exactly-once
    # batch_id-keyed layout) alongside fn's contract columns
    assert "batch_id" in served.columns
    got = sorted(tuple(r) for r in
                 served.select("doc_id", "served").collect())
    want = sorted(tuple(r) for r in fn(spark.read.parquet(src)).collect())
    assert got == want and len(got) == 40
    # crash-retry idempotency: replaying a COMMITTED batch_id (a retry
    # after a crash between the parquet write and the checkpoint
    # commit) must overwrite, never duplicate
    from dbt_core_spark.streaming.structured import serve_write_batch

    batch0 = {int(r["batch_id"])
              for r in served.select("batch_id").distinct().collect()}
    replay_id = min(batch0)
    # materialize the committed batch's request rows BEFORE overwriting
    # the directory they live in (a real retry recomputes fn from the
    # checkpointed source offsets, not from the sink)
    committed = [
        (int(r["doc_id"]), int(r["served"]) // 2)
        for r in spark.read.parquet(f"{out}/batch_id={replay_id}").collect()
    ]
    replay_rows = fn(spark.createDataFrame(committed, "doc_id long, v long"))
    serve_write_batch(replay_rows, out, replay_id)
    again = sorted(tuple(r) for r in spark.read.parquet(out)
                   .select("doc_id", "served").collect())
    assert again == want, "batch replay duplicated or lost rows"
    # empty request stream: fn never produces files
    out2 = str(tmp_path / "out2"); ckpt2 = str(tmp_path / "ckpt2")
    stream2 = stream_source(spark, src, schema, fmt="parquet").filter(
        "doc_id < 0")
    stream_serve_foreach_batch(stream2, fn, out2, ckpt2)
    assert spark.read.parquet(out2).count() == 0 if os.path.isdir(out2) \
        else True


def test_stream_serve_on_batch_result_parameter(spark, tmp_path):
    """The r10-advised diagnostics seam: a hook passed as the
    ``on_batch_result=`` parameter fires per drained micro-batch and
    WINS over the module-global fallback — so two concurrent streams
    can each carry their own hook without racing on module state."""
    from dbt_core_spark.streaming import structured as _structured
    from dbt_core_spark.streaming.structured import (
        stream_serve_foreach_batch,
        stream_source,
    )

    src = str(tmp_path / "src")
    spark.range(10).selectExpr("id", "id * 2 as v") \
        .repartition(2).write.parquet(src)
    stream = stream_source(
        spark, src, spark.read.parquet(src).schema, fmt="parquet",
        options={"maxFilesPerTrigger": "1"},
    )
    param_hits, global_hits = [], []
    _structured._ON_BATCH_RESULT = (
        lambda result, batch_id: global_hits.append(batch_id))
    try:
        stream_serve_foreach_batch(
            stream, lambda b: b.selectExpr("id", "v + 1 as v1"),
            str(tmp_path / "out"), str(tmp_path / "ckpt"),
            on_batch_result=(
                lambda result, batch_id: param_hits.append(
                    (batch_id, result.columns))),
        )
    finally:
        _structured._ON_BATCH_RESULT = None
    assert len(param_hits) >= 1
    assert all(cols == ["id", "v1"] for _, cols in param_hits)
    assert global_hits == []  # the parameter suppressed the global


@_mark_slow
def test_streaming_knn_serve_forced_split_matches_one_shot(
    spark, sf_dir, tmp_path
):
    """Classification serving split-invariance pin (the ann-serve
    precedent): kNN votes served per micro-batch under a forced
    1-file-per-trigger split must equal the one-shot ANN-served
    classification — the vote is request-row-local."""
    from pyspark.sql import functions as F

    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
        knn_classify,
    )
    from dbt_core_spark.streaming.structured import (
        stream_serve_foreach_batch,
        stream_source,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labeled = emb.filter("vec_id % 3 != 0 AND label IS NOT NULL")
    src = str(tmp_path / "req_src")
    emb.repartition(5).write.parquet(src)
    cents, assigns = ivf_index_build(labeled, n_cells=8, kmeans_iters=0)
    assigns = assigns.localCheckpoint(eager=True)

    def serve(b):
        return knn_classify(
            labeled, b,
            neighbors=ivf_index_search(cents, assigns, b, k=5, n_probe=4))

    stream = stream_source(
        spark, src, spark.read.parquet(src).schema, fmt="parquet",
        options={"maxFilesPerTrigger": "1"},
    )
    out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")
    stream_serve_foreach_batch(stream.filter("vec_id % 3 = 0"),
                               serve, out, ckpt)
    served = sorted(map(tuple, spark.read.parquet(out).select(
        "query_id", "pred_label", "votes", "best_rank").collect()))
    one_shot = sorted(map(tuple, serve(
        emb.filter(F.col("vec_id") % 3 == 0)).collect()))
    assert served == one_shot and len(served) > 0
