"""Training-corpus composition operators (operators/corpus.py +
similarity.semantic_dedup): line-level boilerplate removal, bigram-LM
scoring, epoch shuffle/sharding, mixture sampling, BPE pair stats,
semantic dedup.  Hand-checkable synthetic inputs; the driver gate
re-verifies each against a DuckDB oracle on the documents/embeddings
tables."""

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from dbt_core_spark.operators import corpus as C
from dbt_core_spark.operators.similarity import semantic_dedup
from _slowmark import _mark_slow  # noqa: E402


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "unique alpha text\ncookie banner\nmore alpha words"),
        (2, "beta content here\ncookie banner\nbeta tail"),
        (3, "gamma opening\nCookie Banner \ngamma closing"),
        (4, "delta only lines\nno shared content"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


@_mark_slow
def test_line_dedup_removes_cross_doc_lines(docs):
    out = {r["doc_id"]: r for r in C.line_dedup(docs, min_docs=3).collect()}
    # 'cookie banner' appears (normalized) in docs 1,2,3 -> removed
    assert out[1]["text_clean"] == "unique alpha text\nmore alpha words"
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["text_clean"] == "beta content here\nbeta tail"
    # normalization: case + surrounding whitespace don't protect a line
    assert out[3]["text_clean"] == "gamma opening\ngamma closing"
    assert out[4]["n_removed"] == 0 and out[4]["n_lines"] == 2


def test_line_dedup_whitespace_lines_never_boilerplate(spark):
    rows = [(i, "a unique line %d\n\nanother %d" % (i, i)) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = C.line_dedup(df, min_docs=2).collect()
    # the empty middle line appears in all 5 docs but is kept
    assert all(r["n_removed"] == 0 for r in out)
    assert all(r["text_clean"].count("\n") == 2 for r in out)


def test_line_dedup_doc_losing_all_lines(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "same")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in C.line_dedup(df, min_docs=2).collect()}
    assert out[1]["text_clean"] == "" and out[1]["n_removed"] == 1


def test_ngram_lm_score_hand_computed(spark):
    # corpus: doc1 "a b a b", doc2 "a b"
    # unigrams: a:3 b:3, V=2; bigrams: (a,b):3 (b,a):1
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in C.ngram_lm_score(df, k_smooth=1).collect()}
    lp_ab = math.floor(math.log((3 + 1) / (3 + 1 * 2)) * 1e6)
    lp_ba = math.floor(math.log((1 + 1) / (3 + 1 * 2)) * 1e6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["sum_lp_micro"] == 2 * lp_ab + lp_ba
    assert out[2]["sum_lp_micro"] == lp_ab
    assert out[2]["avg_logprob"] == round(lp_ab / 1e6, 6)
    # single-word/empty docs produce no bigrams -> absent from output
    df1 = spark.createDataFrame([(1, "word"), (2, "a b")], "doc_id int, text string")
    assert C.ngram_lm_score(df1).count() == 1


def test_epoch_shuffle_is_permutation_and_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id int")
    a = C.epoch_shuffle(df, seed=7, num_shards=4).collect()
    b = C.epoch_shuffle(df, seed=7, num_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    assert len(a) == 100 and len({r["doc_id"] for r in a}) == 100
    # positions within each shard are contiguous 1..n
    from collections import defaultdict
    shards = defaultdict(list)
    for r in a:
        shards[r["shard"]].append(r["pos"])
    for poss in shards.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different seed gives a different permutation
    c = C.epoch_shuffle(df, seed=8, num_shards=4).collect()
    assert sorted(map(tuple, c)) != sorted(map(tuple, a))


def test_mixture_sample_hits_targets(spark):
    rows = [(i, "web" if i < 800 else "code") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    # 50/50 mixture: code (200 rows at 500000 ppm) binds the budget
    out = C.mixture_sample(
        df, {"web": 500_000, "code": 500_000}
    ).groupBy("source").agg(
        F.count("*").alias("kept"),
        F.first("target_n").alias("target"),
    ).collect()
    got = {r["source"]: r for r in out}
    assert got["code"]["target"] == 200 and got["web"]["target"] == 200
    # md5-threshold sampling is approximate: expected=target, binomial sd
    assert abs(got["web"]["kept"] - 200) < 60
    assert got["code"]["kept"] == 200  # rate 1.0 -> keeps everything


def test_mixture_sample_drops_unweighted_sources(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id int, source string"
    )
    out = C.mixture_sample(df, {"a": 1_000_000})
    assert [r["source"] for r in out.collect()] == ["a"]


def test_bpe_pair_stats_counts_weighted_by_word_freq(spark):
    df = spark.createDataFrame(
        [(1, "low low low lower"), (2, "lowest")], "doc_id int, text string"
    )
    out = {r["pair"]: r for r in C.bpe_pair_stats(df, top_n=100).collect()}
    # 'lo' and 'ow' appear once in each of: low(x3), lower, lowest -> 5
    assert out["lo"]["n"] == 5 and out["ow"]["n"] == 5
    assert out["we"]["n"] == 2  # lower, lowest
    assert out["st"]["n"] == 1  # lowest
    # rank tie-break: equal counts order by pair ascending
    assert out["lo"]["rank"] < out["ow"]["rank"]


def test_semantic_dedup_within_cell_keeper(spark):
    # 4 well-separated directions + near-duplicates of the first two
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (10, [0.999, 0.01, 0.0, 0.0]),   # dup of 0
        (11, [0.998, 0.02, 0.0, 0.0]),   # dup of 0 (and of 10)
        (12, [0.01, 0.999, 0.0, 0.0]),   # dup of 1
        (13, [0.5, 0.5, 0.5, 0.5]),      # not a dup of anything
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semantic_dedup(df, tau=0.95, n_cells=4, kmeans_iters=0).collect()}
    assert set(out) == {10, 11, 12}
    assert out[10]["keeper_id"] == 0
    assert out[11]["keeper_id"] == 0  # lowest qualifying id, not 10
    assert out[12]["keeper_id"] == 1
    assert out[10]["cosine"] > 0.99


def test_semantic_dedup_no_dups_empty(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    assert semantic_dedup(df, tau=0.9, n_cells=2).count() == 0


def test_tokenize_with_vocab(spark):
    from dbt_core_spark.operators.textstats import build_vocab

    df = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog bird")], "doc_id int, text string"
    )
    vocab = build_vocab(df, vocab_size=10, min_count=2)
    # cat:2 dog:2 -> ids by (count desc, term asc): cat=0, dog=1; bird OOV
    out = C.tokenize_with_vocab(df, vocab)
    got = {(r["doc_id"], r["pos"]): r["token_id"] for r in out.collect()}
    assert got == {
        (1, 0): 0, (1, 1): 1, (1, 2): 0,
        (2, 0): 1, (2, 1): -1,
    }


@_mark_slow
def test_semantic_dedup_blas_matches_fold(spark):
    import math
    # deterministic pseudo-random corpus with planted near-dup clusters
    vecs = []
    for i in range(60):
        base = [math.sin(i * 0.7 + d) for d in range(8)]
        vecs.append((i, base))
        if i % 10 == 0:  # planted near-duplicate of every 10th vector
            vecs.append((100 + i, [x + 0.001 * ((i + d) % 3) for d, x in
                                   enumerate(base)]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    from dbt_core_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_blas,
    )

    fold = {tuple(r) for r in
            semantic_dedup(df, tau=0.99, n_cells=8, kmeans_iters=0).collect()}
    blas = {tuple(r) for r in
            semantic_dedup_blas(df, tau=0.99, n_cells=8, kmeans_iters=0).collect()}
    assert fold == blas and len(fold) >= 6  # the planted dups are found


@_mark_slow
def test_semantic_dedup_blas_skew_cap(spark):
    # 90% of vectors in ONE direction cluster -> one hot cell; the cap
    # re-splits it and the pair set must stay complete
    vecs = [(i, [1.0, i * 1e-4, 0.0]) for i in range(45)]
    vecs += [(100 + i, [0.0, 1.0, i * 0.2]) for i in range(5)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    from dbt_core_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_blas,
    )

    fold = {tuple(r) for r in
            semantic_dedup(df, tau=0.999, n_cells=4, kmeans_iters=0).collect()}
    capped = {tuple(r) for r in
              semantic_dedup_blas(df, tau=0.999, n_cells=4, kmeans_iters=0,
                                  max_cell_rows=7).collect()}
    assert capped == fold and len(fold) >= 40  # hot cluster all dups


def test_pool_embeddings_mean(spark):
    from dbt_core_spark.operators.similarity import pool_embeddings

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [10.0, 0.0])],
        "label string, embedding array<double>",
    )
    got = {(r["label"], r["pos"]): r["mean_val"]
           for r in pool_embeddings(df, group_col="label").collect()}
    assert got == {("a", 0): 2.0, ("a", 1): 3.0,
                   ("b", 0): 10.0, ("b", 1): 0.0}


def test_auto_n_cells_scales_with_corpus(spark):
    """n_cells=None auto-sizes to max(16, ceil(rows/max_cell_rows)):
    a 10x corpus gets 10x cells, so the within-cell quadratic stays
    bounded without caller tuning."""
    from dbt_core_spark.operators.similarity import _resolve_n_cells

    small = spark.range(2000).selectExpr("id as vec_id")
    big = spark.range(20000).selectExpr("id as vec_id")
    n_small, rows_small = _resolve_n_cells(small, None, 100)
    n_big, rows_big = _resolve_n_cells(big, None, 100)
    assert (n_small, rows_small) == (20, 2000)
    assert (n_big, rows_big) == (200, 20000)
    assert n_big == 10 * n_small
    # floor of 16 cells, and explicit n_cells passes through uncounted
    assert _resolve_n_cells(spark.range(10), None, 100) == (16, 10)
    assert _resolve_n_cells(big, 7, 100) == (7, None)


@_mark_slow
def test_auto_n_cells_end_to_end(spark):
    import math

    from dbt_core_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_blas,
    )

    vecs = [(i, [math.sin(i * 0.7 + d) for d in range(4)]) for i in range(40)]
    vecs += [(100 + i, [x + 1e-4 for x in v]) for i, v in vecs[:4]]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    # auto (rows=44 < max_cell_rows -> 16-cell floor) vs pinned 16:
    # identical results
    auto = {tuple(r) for r in
            semantic_dedup(df, tau=0.999, kmeans_iters=0).collect()}
    pinned = {tuple(r) for r in
              semantic_dedup(df, tau=0.999, n_cells=16,
                             kmeans_iters=0).collect()}
    assert auto == pinned and len(auto) >= 4
    blas = {tuple(r) for r in
            semantic_dedup_blas(df, tau=0.999, kmeans_iters=0).collect()}
    assert blas == pinned


@_mark_slow
def test_semantic_dedup_scale_warning(spark, caplog):
    """An explicit n_cells that leaves rows/n_cells > max_cell_rows must
    log the brute-force-scale warning (parity with cosine_pairs'
    documented scale caveat); a well-sized call must not."""
    import logging
    import math

    from dbt_core_spark.operators.similarity import semantic_dedup

    vecs = [(i, [math.sin(i * 0.7 + d) for d in range(4)]) for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    with caplog.at_level(logging.WARNING,
                         logger="dbt_core_spark.operators.similarity"):
        semantic_dedup(df, tau=0.999, n_cells=2, kmeans_iters=0,
                       max_cell_rows=5).count()
    assert any("brute-force" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="dbt_core_spark.operators.similarity"):
        semantic_dedup(df, tau=0.999, n_cells=16, kmeans_iters=0).count()
    assert not any("brute-force" in r.message for r in caplog.records)


@_mark_slow
def test_mixture_sample_zero_weight_dropped_not_divided(spark):
    """A weight of 0 (or negative) in weights_ppm means 'drop the
    source' — it must not reach the budget division (null / ANSI
    DIVIDE_BY_ZERO) or distort the budget of the surviving sources."""
    df = spark.createDataFrame(
        [(i, "a") for i in range(10)] + [(100 + i, "b") for i in range(10)],
        "doc_id int, source string",
    )
    out = C.mixture_sample(df, {"a": 1_000_000, "b": 0})
    rows = out.collect()
    assert rows and all(r["source"] == "a" for r in rows)
    # same result as simply omitting the source
    ref = C.mixture_sample(df, {"a": 1_000_000})
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in ref.collect())
    # all-zero weights -> empty output, not an error
    assert C.mixture_sample(df, {"a": 0, "b": -5}).count() == 0


@_mark_slow
def test_hash_embed_feeds_ann(spark):
    """hash_embed closes the text->vector->ANN loop in-engine: its
    output is unit-norm, matches a pure-Python hashing-trick reference,
    and feeds semantic_dedup directly (near-identical texts dedup)."""
    import hashlib
    import math
    import re

    from dbt_core_spark.operators.similarity import semantic_dedup
    from dbt_core_spark.operators.textstats import hash_embed

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy dog",  # exact dup
        3: "entirely different words about spark engines",
        4: "",          # no words -> no vector
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    emb = hash_embed(df, dim=16)
    got = {r["doc_id"]: r["embedding"] for r in emb.collect()}
    assert set(got) == {1, 2, 3}

    def ref(text, dim=16):
        words = [w for w in re.split(r"\s+",
                 re.sub(r"[^a-z0-9 ]", " ", text.lower())) if w]
        v = [0.0] * dim
        for w in words:
            bkt = int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % dim
            sgn = (int(hashlib.md5(f"s:{w}".encode()).hexdigest()[:1], 16) % 2) * 2 - 1
            v[bkt] += sgn
        nrm = math.sqrt(sum(x * x for x in v))
        return [x / nrm for x in v]

    for k in (1, 2, 3):
        assert all(abs(a - b) < 1e-12 for a, b in zip(got[k], ref(texts[k])))
        assert abs(sum(x * x for x in got[k]) - 1.0) < 1e-9

    dups = semantic_dedup(
        emb.select(F.col("doc_id").alias("vec_id"), "embedding"),
        tau=0.999, n_cells=2, kmeans_iters=0,
    ).collect()
    assert [(r["vec_id"], r["keeper_id"]) for r in dups] == [(2, 1)]


def test_dup_ngram_spans_finds_copied_passage(spark):
    from dbt_core_spark.operators.dedup import dup_ngram_spans

    # docs 1 and 2 share the 6-word passage "the quick brown fox jumps
    # over" embedded at different offsets; doc 3 is unrelated.
    rows = [
        (1, "intro words here the quick brown fox jumps over and more tail"),
        (2, "the quick brown fox jumps over something entirely different"),
        (3, "no shared content at all in this one document body"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    spans = {
        r["doc_id"]: r
        for r in dup_ngram_spans(df, k=5, min_docs=2).collect()
    }
    # doc 1: passage at words 4..9 -> 5-gram starts 4,5 -> span [4,9]
    assert spans[1]["span_start"] == 4 and spans[1]["span_end"] == 9
    assert spans[1]["span_words"] == 6 and spans[1]["n_grams"] == 2
    # doc 2: passage at words 1..6 -> span [1,6]
    assert spans[2]["span_start"] == 1 and spans[2]["span_end"] == 6
    assert 3 not in spans


def test_dup_ngram_spans_merges_overlap_and_adjacent(spark):
    from dbt_core_spark.operators.dedup import dup_ngram_spans

    shared = "a b c d e f g h i j"  # 10 words shared verbatim
    rows = [(1, shared + " unique one"), (2, shared + " other tail")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    spans = dup_ngram_spans(df, k=5, min_docs=2).collect()
    by_doc = {r["doc_id"]: r for r in spans}
    # all six 5-gram hits merge into ONE span [1,10] per doc
    assert len(spans) == 2
    assert by_doc[1]["span_start"] == 1 and by_doc[1]["span_end"] == 10
    assert by_doc[1]["n_grams"] == 6


def test_dsir_score_prefers_target_like_docs(spark):
    # target corpus is pure "alpha beta" language; raw corpus has one
    # target-like doc and one out-of-domain doc -> the target-like doc
    # must score strictly higher.
    target = spark.createDataFrame(
        [(100 + i, "alpha beta alpha beta gamma") for i in range(5)],
        "doc_id int, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma beta"),
            (2, "zulu yankee xray whiskey victor"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r for r in C.dsir_score(raw, target, dim=64).collect()
    }
    assert out[1]["avg_logratio"] > out[2]["avg_logratio"]
    # exact integer bookkeeping: sum == avg * n * 1e6 within rounding
    for r in out.values():
        assert r["n_tokens"] == 5
        assert (
            abs(
                r["sum_lr_micro"]
                - r["avg_logratio"] * r["n_tokens"] * 1_000_000
            )
            <= r["n_tokens"] * 1_000_000 * 1e-6 + 1
        )


def test_dsir_score_matches_python_reference(spark):
    import hashlib

    dim, k = 16, 1
    t_rows = [(1, "red green blue"), (2, "red red green")]
    r_rows = [(10, "red blue blue"), (11, "cyan magenta red")]
    target = spark.createDataFrame(t_rows, "doc_id int, text string")
    raw = spark.createDataFrame(r_rows, "doc_id int, text string")

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % dim

    def hist(rows):
        h = {}
        for _, t in rows:
            for w in t.split():
                h[bucket(w)] = h.get(bucket(w), 0) + 1
        return h, sum(h.values())

    th, tn = hist(t_rows)
    rh, rn = hist(r_rows)
    lr = {
        b: math.floor(math.log((th.get(b, 0) + k) / (tn + k * dim)) * 1e6)
        - math.floor(math.log((rh.get(b, 0) + k) / (rn + k * dim)) * 1e6)
        for b in range(dim)
    }
    expect = {}
    for d, t in r_rows:
        ws = t.split()
        expect[d] = sum(lr[bucket(w)] for w in ws)
    out = {r["doc_id"]: r for r in C.dsir_score(raw, target, dim=dim).collect()}
    for d in (10, 11):
        assert out[d]["sum_lr_micro"] == expect[d]


# ---------------- classifier_score ----------------

def test_classifier_score_derived_weights_match_python(spark):
    """Derived-weight scoring == a plain-Python re-implementation."""
    import hashlib
    import math

    from dbt_core_spark.operators.textstats import classifier_score

    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "lorem ipsum dolor sit amet consectetur"),
        (3, None),
        (4, "!!! ???"),  # no words after normalization -> dropped
        (5, "spark"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_words"], r["logit_e6"], r["label"])
           for r in classifier_score(df, dim=32).collect()}

    def h15(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    import re
    exp = {}
    for doc_id, text in rows:
        if text is None:
            continue
        words = [w for w in re.sub(r"[^a-z0-9 ]", " ", text.lower()).split() if w]
        if not words:
            continue
        s = 0
        for w in words:
            bucket = h15(f"clf:{w}") % 32
            s += (h15(f"w:{bucket}") % 2001) - 1000
        exp[doc_id] = (len(words), math.floor(s / len(words)),
                       "keep" if math.floor(s / len(words)) > 0 else "drop")
    assert got == exp


def test_classifier_score_trained_weights_broadcast(spark):
    """Trained-weights path: per-bucket table drives the score; the plan
    broadcasts the weights side (never shuffles the corpus for it)."""
    from dbt_core_spark.operators.textstats import classifier_score

    df = spark.createDataFrame(
        [(1, "good good good"), (2, "bad bad")], ["doc_id", "text"]
    )
    from dbt_core_spark.operators.textstats import _bucket_of
    from pyspark.sql import functions as F

    buckets = {
        r["word"]: r["b"]
        for r in spark.createDataFrame([("good",), ("bad",)], ["word"])
        .select("word", _bucket_of(F.col("word"), 64, "clf").alias("b"))
        .collect()
    }
    weights = spark.createDataFrame(
        [(buckets["good"], 500_000), (buckets["bad"], -250_000)],
        ["bucket", "w_e6"],
    )
    out = classifier_score(df, dim=64, weights=weights)
    got = {r["doc_id"]: (r["n_words"], r["logit_e6"], r["label"])
           for r in out.collect()}
    assert got == {1: (3, 500_000, "keep"), 2: (2, -250_000, "drop")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_classifier_score_derived_is_shuffle_free(spark):
    from dbt_core_spark.operators.textstats import classifier_score

    df = spark.createDataFrame([(1, "alpha beta gamma")], ["doc_id", "text"])
    plan = classifier_score(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure row-local fold


# ---------------- normalize_text ----------------

def test_normalize_text_unicode_and_whitespace(spark):
    from dbt_core_spark.operators.textstats import normalize_text

    rows = [
        (1, "“Smart” quotes — and ‘apostrophes’…"),
        (2, "tabs\t\tand   runs\x00\x07 of junk"),
        (3, "line one   \n   line two\n\n\n\n\nline three"),
        (4, "soft­hyphen and nbsp"),
        (5, None),
        (6, "  padded  "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text_norm"] for r in normalize_text(df).collect()}
    assert got == {
        1: "\"Smart\" quotes - and 'apostrophes'...",
        2: "tabs and runs of junk",
        3: "line one\nline two\n\nline three",
        4: "softhyphen and nbsp",
        6: "padded",
    }


def test_normalize_text_counts_and_shuffle_free(spark):
    from dbt_core_spark.operators.textstats import normalize_text

    df = spark.createDataFrame([(1, "a  b")], ["doc_id", "text"])
    out = normalize_text(df)
    row = out.collect()[0]
    assert (row["n_chars_before"], row["n_chars_after"]) == (4, 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_normalize_text_stabilizes_exact_dedup(spark):
    """The motivating property: two mojibake-variant renderings of the
    same page collapse to one fingerprint after normalization."""
    from dbt_core_spark.operators.dedup import exact_dedup
    from dbt_core_spark.operators.textstats import normalize_text

    df = spark.createDataFrame(
        [(1, "“Hello” — world"), (2, "\"Hello\" - world")],
        ["doc_id", "text"],
    )
    norm = normalize_text(df).withColumnRenamed("text_norm", "text")
    kept = exact_dedup(norm, "text", "doc_id")
    assert kept.count() == 1


# ---------------- BPE train / apply ----------------

def test_bpe_train_learns_frequent_digraph(spark):
    from dbt_core_spark.operators.corpus import bpe_train

    df = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest")],
        ["doc_id", "text"],
    )
    merges = bpe_train(df, n_merges=3)
    # 'lo'+'w' path dominates: first merges build the 'low' stem
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")


def test_bpe_train_matches_python_reference(spark):
    """Driver-side trainer == an independent dict-based reference."""
    from dbt_core_spark.operators.corpus import bpe_train

    corpus = "abab abab abc abc abc cab"
    df = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    got = bpe_train(df, n_merges=4)

    # reference: word counts -> merge loop (count desc, pair lex asc)
    from collections import Counter
    counts = Counter(" ".join(w) for w in corpus.split())
    exp = []
    for _ in range(4):
        pairs = Counter()
        for sym, n in counts.items():
            parts = sym.split(" ")
            for i in range(len(parts) - 1):
                pairs[(parts[i], parts[i + 1])] += n
        if not pairs:
            break
        bn = max(pairs.values())
        a, b = sorted(p for p, n in pairs.items() if n == bn)[0]
        exp.append((a, b))
        counts = Counter(
            {sym.replace(f"{a} {b}", a + b): n for sym, n in counts.items()})
    assert got == exp


def test_bpe_tokenize_roundtrip_and_counts(spark):
    from dbt_core_spark.operators.corpus import (
        bpe_token_counts, bpe_tokenize, bpe_train)

    df = spark.createDataFrame(
        [(1, "the then there"), (2, "the other")], ["doc_id", "text"])
    merges = bpe_train(df, n_merges=2)
    toks = {r["doc_id"]: r["tokens"] for r in
            bpe_tokenize(df, merges).collect()}
    # concatenating all tokens reconstructs the normalized text
    assert "".join(toks[1]) == "thethenthere"
    assert "".join(toks[2]) == "theother"
    flat = {}
    for tlist in toks.values():
        for t in tlist:
            flat[t] = flat.get(t, 0) + 1
    got = {r["token"]: r["n"] for r in bpe_token_counts(df, merges).collect()}
    assert got == flat


def test_bpe_tokenize_zero_shuffle(spark):
    from dbt_core_spark.operators.corpus import bpe_tokenize

    df = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    plan = bpe_tokenize(df, [("a", "b")]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------- curriculum_order ----------------

def test_curriculum_buckets_and_determinism(spark):
    from dbt_core_spark.operators.corpus import curriculum_order

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], ["doc_id", "score"])
    out = curriculum_order(df, "score", boundaries=[10.0, 20.0, 30.0],
                           n_shards=2)
    rows = {r["doc_id"]: (r["bucket"], r["shard"], r["pos"])
            for r in out.collect()}
    # thresholds: score>=10 -> 1, >=20 -> 2, >=30 -> 3
    assert rows[5][0] == 0 and rows[10][0] == 1 and rows[29][0] == 2 \
        and rows[39][0] == 3
    # positions are dense 0..n-1 within each (bucket, shard)
    from collections import defaultdict
    groups = defaultdict(list)
    for _id, (b, s, p) in rows.items():
        groups[(b, s)].append(p)
    assert all(sorted(v) == list(range(len(v))) for v in groups.values())
    # deterministic across runs
    again = {r["doc_id"]: (r["bucket"], r["shard"], r["pos"])
             for r in curriculum_order(df, "score",
                                       boundaries=[10.0, 20.0, 30.0],
                                       n_shards=2).collect()}
    assert rows == again


def test_curriculum_descending_reverses_buckets(spark):
    from dbt_core_spark.operators.corpus import curriculum_order

    df = spark.createDataFrame(
        [(1, 5.0), (2, 50.0)], ["doc_id", "score"])
    up = {r["doc_id"]: r["bucket"] for r in curriculum_order(
        df, "score", boundaries=[10.0]).collect()}
    down = {r["doc_id"]: r["bucket"] for r in curriculum_order(
        df, "score", boundaries=[10.0], ascending=False).collect()}
    assert up == {1: 0, 2: 1} and down == {1: 1, 2: 0}


# ---------------- skew_report ----------------

def test_skew_report_ranks_and_factors(spark):
    from dbt_core_spark.operators.skew import skew_report

    rows = [("hot",)] * 60 + [("warm",)] * 30 + [(f"c{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, ["k"])
    got = {r["rank"]: (r["k"], r["cnt"], r["share_e6"], r["skew_e4"])
           for r in skew_report(df, "k", top_n=3).collect()}
    # total=100, nkeys=12: hot share .6, skew 60*12/100 = 7.2
    assert got[1] == ("hot", 60, 600000, 72000)
    assert got[2] == ("warm", 30, 300000, 36000)
    assert got[3][1] == 1


# ---------------- pmi_collocations ----------------

def test_pmi_collocations_hand_computed(spark):
    import math as _m

    from dbt_core_spark.operators.corpus import pmi_collocations

    # "new york" always together (strong collocation); "the cat"/"the
    # dog" mix freely (weak)
    df = spark.createDataFrame(
        [(1, "new york new york new york"),
         (2, "the cat the dog the cat the dog")],
        ["doc_id", "text"])
    out = {(r["w1"], r["w2"]): r for r in
           pmi_collocations(df, min_count=2, top_n=10).collect()}
    # counts: new:3 york:3 the:4 cat:2 dog:2, N=14
    # bigrams: (new,york):3 (york,new):2 (the,cat):2 (cat,the):1 ...
    ny = out[("new", "york")]
    assert ny["c12"] == 3
    assert ny["pmi_micro"] == _m.floor(_m.log(3 * 14 / (3 * 3)) * 1e6)
    tc = out[("the", "cat")]
    assert tc["pmi_micro"] == _m.floor(_m.log(2 * 14 / (4 * 2)) * 1e6)
    assert ny["pmi_micro"] > tc["pmi_micro"]
    assert ny["rank"] < tc["rank"]


# ---------------- tfidf_cosine_pairs ----------------

def test_tfidf_cosine_pairs_hand_computed(spark):
    import math as _m

    from dbt_core_spark.operators.textstats import tfidf_cosine_pairs

    # docs 1 and 2 share 'apple banana'; doc 3 shares nothing with them
    df = spark.createDataFrame(
        [(1, "apple banana cherry"),
         (2, "apple banana dates"),
         (3, "elder fig grape")],
        ["doc_id", "text"])
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in tfidf_cosine_pairs(df, threshold=0.0,
                                       max_df_frac=1.0).collect()}
    # N=3; apple/banana df=2 -> idf_milli=floor(ln(1.5)*1000)=405;
    # singles df=1 -> floor(ln(3)*1000)=1098
    shared, single = 405, 1098
    dot = 2 * shared * shared
    norm = _m.sqrt(2 * shared ** 2 + single ** 2)
    exp = round(dot / (norm * norm), 6)
    assert out == {(1, 2): exp}  # doc 3 pairs with nobody
    assert abs(out[(1, 2)] - 0.213915) < 1e-3


def test_tfidf_cosine_pairs_stopword_cap_bounds_fanout(spark):
    from dbt_core_spark.operators.textstats import tfidf_cosine_pairs

    # 'the' appears in ALL docs: with the cap it cannot pair everything
    rows = [(i, f"the unique{i} words{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert tfidf_cosine_pairs(df, threshold=0.0,
                              max_df_frac=0.5).count() == 0
    # without the cap every doc pairs via 'the'
    assert tfidf_cosine_pairs(df, threshold=0.0,
                              max_df_frac=1.0).count() == 15


def test_tfidf_cosine_identical_docs_cosine_one(spark):
    from dbt_core_spark.operators.textstats import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here"), (3, "other stuff")],
        ["doc_id", "text"])
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in tfidf_cosine_pairs(df, threshold=0.9,
                                       max_df_frac=1.0).collect()}
    assert out == {(1, 2): 1.0}


# ---------------- detect_script ----------------

def test_detect_script_blocks_and_ties(spark):
    from dbt_core_spark.operators.textstats import detect_script

    rows = [
        (1, "hello world 123"),
        (2, "Привет мир"),
        (3, "ελληνικά κείμενο"),
        (4, "日本語のテキスト"),
        (5, "نص عربي"),
        (6, "12345 !!!"),          # digits only -> no script -> other
        (7, "abcПривет"),          # 3 latin vs 6 cyrillic
        (8, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["script"] for r in detect_script(df).collect()}
    assert got == {1: "latin", 2: "cyrillic", 3: "greek", 4: "cjk",
                   5: "arabic", 6: "other", 7: "cyrillic"}
    row = {r["doc_id"]: r for r in detect_script(df).collect()}[7]
    assert (row["n_latin"], row["n_cyrillic"]) == (3, 6)


def test_detect_script_tie_prefers_fixed_order(spark):
    from dbt_core_spark.operators.textstats import detect_script

    df = spark.createDataFrame([(1, "abcабв")], ["doc_id", "text"])  # 3 vs 3
    assert detect_script(df).collect()[0]["script"] == "latin"


# ---------------- contrastive_pairs ----------------

def test_contrastive_pairs_structure(spark):
    from dbt_core_spark.operators.textstats import (
        chunk_documents, contrastive_pairs)

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(250))) for i in range(6)],
        ["doc_id", "text"])
    chunks = chunk_documents(docs, chunk_words=100, overlap=0)
    out = contrastive_pairs(chunks).collect()
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out}
    # every non-final chunk is an anchor exactly once
    assert set(rows) == {(d, i) for d in range(6) for i in (0, 1)}
    for (d, i), r in rows.items():
        assert r["anchor"].startswith(f"d{d}w{i * 100} ")
        assert r["positive"].startswith(f"d{d}w{(i + 1) * 100} ")
        if r["negative"] is not None:
            nd = int(r["negative"].split("w")[0][1:])
            assert nd != d
            # negative is a SAME-INDEX chunk of another doc
            assert r["negative"].split(" ")[0].endswith(f"w{i * 100}")


def test_contrastive_pairs_singleton_bucket_fallback(spark):
    """With neg_buckets >> n_docs every bucket is (almost surely) a
    singleton, so round 1 yields no partner — the r2 salt fallback must
    still hand every anchor a same-index negative from another doc."""
    from dbt_core_spark.operators.textstats import (
        chunk_documents, contrastive_pairs)

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(250))) for i in range(5)],
        ["doc_id", "text"])
    chunks = chunk_documents(docs, chunk_words=100, overlap=0)
    out = contrastive_pairs(chunks, neg_buckets=10_000).collect()
    assert len(out) == 10  # 5 docs x 2 anchor chunks
    for r in out:
        assert r["negative"] is not None
        nd = int(r["negative"].split("w")[0][1:])
        assert nd != r["doc_id"]
        assert r["negative"].split(" ")[0].endswith(f"w{r['chunk_idx'] * 100}")


def test_contrastive_pairs_unique_index_stays_null(spark):
    """An index held by a single document corpus-wide has no possible
    negative: the fallback must NOT invent one (e.g. self or wrong idx)."""
    from dbt_core_spark.operators.textstats import (
        chunk_documents, contrastive_pairs)

    # doc 0 has 3 chunks (anchor idx 0,1); doc 1 has 2 chunks (anchor 0)
    docs = spark.createDataFrame(
        [(0, " ".join(f"a{j}" for j in range(30))),
         (1, " ".join(f"b{j}" for j in range(20)))],
        ["doc_id", "text"])
    chunks = chunk_documents(docs, chunk_words=10, overlap=0)
    got = {(r["doc_id"], r["chunk_idx"]): r["negative"]
           for r in contrastive_pairs(chunks, neg_buckets=10_000).collect()}
    assert got[(0, 0)] is not None and got[(1, 0)] is not None
    assert got[(0, 1)] is None  # only doc 0 has a chunk at idx 1


@_mark_slow
def test_contrastive_pairs_deterministic(spark):
    from dbt_core_spark.operators.textstats import (
        chunk_documents, contrastive_pairs)

    docs = spark.createDataFrame(
        [(i, " ".join(f"x{i}_{j}" for j in range(150))) for i in range(8)],
        ["doc_id", "text"])
    chunks = chunk_documents(docs, chunk_words=60, overlap=0)
    a = sorted(map(tuple, contrastive_pairs(chunks).collect()))
    b = sorted(map(tuple, contrastive_pairs(chunks).collect()))
    assert a == b and len(a) > 0


# ---------------- lexical_stats ----------------

def test_lexical_stats_hand_computed(spark):
    import math as _m

    from dbt_core_spark.operators.textstats import lexical_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in lexical_stats(df).collect()}
    r1 = got[1]
    assert (r1["n_words"], r1["n_types"], r1["n_hapax"]) == (4, 2, 1)
    assert r1["ttr_e6"] == 500000 and r1["hapax_e6"] == 500000
    slp = 3 * _m.floor(_m.log(3 / 4) * 1e6) + 1 * _m.floor(_m.log(1 / 4) * 1e6)
    assert r1["entropy_micro"] == _m.floor(-slp / 4)
    r2 = got[2]
    assert r2["ttr_e6"] == 1000000 and r2["hapax_e6"] == 1000000
    # uniform dist over 3 types: H = ln 3
    assert abs(r2["entropy_micro"] / 1e6 - _m.log(3)) < 1e-5


def test_bm25_rank_hand_computed(spark):
    """BM25 ranks docs containing rarer query terms higher; a doc with
    none of the query's terms never appears."""
    from dbt_core_spark.operators.textstats import bm25_rank

    corpus = spark.createDataFrame(
        [(1, "spark engine shuffles data fast"),
         (2, "spark spark spark spark spark"),
         (3, "cooking pasta with tomato sauce"),
         (4, "engine maintenance and tuning guide")],
        "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "spark engine")], "doc_id long, text string")
    out = bm25_rank(corpus, queries, top_k=3).collect()
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])][0] == 1
    assert {r["doc_id"] for r in out} == {1, 2, 4}  # doc 3 shares no term
    assert all(r["query_id"] == 100 for r in out)


@_mark_slow
def test_bm25_rank_matches_duckdb_oracle(spark, sf_dir):
    """Full cross-engine equivalence on the real documents table — the
    exact integer-score discipline must make every (query, doc, score,
    rank) row identical to a DuckDB evaluation of the same recipe."""
    import duckdb

    from dbt_core_spark.operators.textstats import bm25_rank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.filter("doc_id % 13 = 0")
    got = sorted(
        (r["query_id"], r["doc_id"], r["score_micro"], r["rank"])
        for r in bm25_rank(docs, queries, top_k=5).collect()
    )
    words = ("list_filter(string_split_regex(regexp_replace(lower(text),"
             " '[^a-z0-9 ]', ' ', 'g'), '\\s+'), w -> w <> '')")
    sql = f"""
with w as (select doc_id as id, unnest({words}) as term
           from docs where text is not null),
tf as (select id, term, cast(count(*) as bigint) as tf from w group by 1, 2),
dl as (select id, cast(sum(tf) as bigint) as dl from tf group by 1),
st as (select cast(count(*) as bigint) as n,
              cast(sum(dl) as bigint) as total from dl),
idf as (select term, cast(floor(ln(1.0 + (cast(st.n as double) - df_t + 0.5)
                 / (df_t + 0.5)) * 1000) as bigint) as idf_milli
        from (select term, cast(count(distinct id) as bigint) as df_t
              from tf group by 1) d, st),
qt as (select distinct doc_id as query_id, unnest({words}) as term
       from docs where doc_id % 13 = 0 and text is not null),
sc as (select q.query_id, p.id,
              sum(cast(floor(cast(idf_milli as double)
                  * (44.0 * tf * total)
                  / (20.0 * tf * total + 6.0 * total + 18.0 * dl * n)
                  * 1000.0) as bigint)) as score_micro
       from qt q
       join tf p using (term)
       join idf using (term)
       join dl on dl.id = p.id, st
       group by 1, 2)
select query_id, id as doc_id, score_micro,
       cast(row_number() over (partition by query_id
            order by score_micro desc, id) as int) as rank
from sc qualify rank <= 5
"""
    con = duckdb.connect()
    con.execute(
        f"create view docs as select * from '{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert got == want and len(got) > 0


@_mark_slow
def test_bm25_index_parquet_roundtrip_matches_rank(spark, sf_dir, tmp_path):
    """The build-once/search-many contract: an index WRITTEN to parquet
    and reloaded serves queries row-identically to the one-shot
    bm25_rank — corpus stats survive persistence (the ivf_index
    precedent for lexical retrieval)."""
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_query,
        bm25_rank,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.filter("doc_id % 17 = 0")
    path = str(tmp_path / "bm25_index")
    bm25_index(docs).write.parquet(path)
    reloaded = spark.read.parquet(path)
    got = sorted(tuple(r) for r in bm25_query(reloaded, queries, top_k=4).collect())
    want = sorted(tuple(r) for r in bm25_rank(docs, queries, top_k=4).collect())
    assert got == want and len(got) > 0

    empty = bm25_query(
        bm25_index(docs.filter("doc_id < 0")), queries, top_k=4
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "doc_id", "score_micro", "rank",
    ]


@_mark_slow
def test_bm25_index_append_matches_full_rebuild(spark, sf_dir):
    """The incremental-index contract (the ivf_index_append precedent,
    lexical leg): appending a batch to an index built on the rest of
    the corpus is row-identical to rebuilding over the full corpus —
    postings, recomputed idf_milli, and the refreshed (n_docs, total)
    constants all match, so queries served from either are identical."""
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_append,
        bm25_query,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter("doc_id % 10 != 0")
    batch = docs.filter("doc_id % 10 = 0")
    appended = bm25_index_append(bm25_index(old), batch)
    rebuilt = bm25_index(docs)
    cols = ["term", "id", "tf", "dl", "idf_milli", "n_docs", "total"]
    got = sorted(tuple(r) for r in appended.select(cols).collect())
    want = sorted(tuple(r) for r in rebuilt.select(cols).collect())
    assert got == want and len(got) > 0
    # and the served ranking is identical too
    queries = docs.filter("doc_id % 13 = 0")
    got_q = sorted(tuple(r)
                   for r in bm25_query(appended, queries, top_k=5).collect())
    want_q = sorted(tuple(r)
                    for r in bm25_query(rebuilt, queries, top_k=5).collect())
    assert got_q == want_q and len(got_q) > 0


@_mark_slow
def test_bm25_index_append_edges(spark):
    """Empty-index append degrades to a build; an empty or all-NULL
    batch returns the index unchanged; an id already present in the
    index fails loudly (double-counted postings)."""
    import pytest

    from dbt_core_spark.exceptions import ExecutionError
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_append,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(1, "spark engine"), (2, "pasta sauce")], schema)
    empty = spark.createDataFrame([], schema)
    cols = ["term", "id", "tf", "dl", "idf_milli", "n_docs", "total"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(cols).collect())

    # empty index + batch == build(batch)
    assert rows(bm25_index_append(bm25_index(empty), corpus)) == rows(
        bm25_index(corpus))
    # empty / all-NULL batch == unchanged index
    idx = bm25_index(corpus)
    assert rows(bm25_index_append(idx, empty)) == rows(idx)
    nulls = spark.createDataFrame([(9, None)], schema)
    assert rows(bm25_index_append(idx, nulls)) == rows(idx)
    # overlapping id -> loud failure
    dup = spark.createDataFrame([(1, "already indexed")], schema)
    with pytest.raises(ExecutionError, match="already"):
        bm25_index_append(idx, dup)


def test_bm25_query_rejects_mixed_snapshot_index(spark):
    """A union of two different index snapshots (or a filtered index)
    carries mixed n_docs/total constants — scoring against an arbitrary
    row's constants would be silently wrong, so bm25_query must fail
    loudly (r6 ADVICE)."""
    import pytest

    from dbt_core_spark.exceptions import ExecutionError
    from dbt_core_spark.operators.textstats import bm25_index, bm25_query

    corpus_v1 = spark.createDataFrame(
        [(1, "spark engine"), (2, "pasta sauce")],
        "doc_id long, text string")
    corpus_v2 = spark.createDataFrame(
        [(1, "spark engine"), (2, "pasta sauce"), (3, "engine tuning")],
        "doc_id long, text string")
    mixed = bm25_index(corpus_v1).unionByName(bm25_index(corpus_v2))
    queries = spark.createDataFrame(
        [(100, "engine")], "doc_id long, text string")
    with pytest.raises(ExecutionError, match="mixed corpus constants"):
        bm25_query(mixed, queries, top_k=3)


@_mark_slow
def test_bm25_query_precomputed_consts_result_invariant(spark):
    """``consts=`` (the serve-many fast path: validate the snapshot's
    constants once, skip the per-batch full-index scan — optimization
    r11) must be result-invariant for bucketed AND unbucketed indexes,
    including the bucket pruning it re-derives from the supplied
    n_buckets."""
    from dbt_core_spark.operators.textstats import (
        _bm25_constants,
        bm25_index,
        bm25_query,
    )

    corpus = spark.createDataFrame(
        [(1, "spark engine tuning"), (2, "pasta sauce recipe"),
         (3, "engine oil change"), (4, "tomato sauce engine")],
        "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "engine sauce"), (101, "pasta")],
        "doc_id long, text string")
    for nb in (None, 8):
        index = bm25_index(corpus, n_buckets=nb).localCheckpoint(
            eager=False)
        consts = _bm25_constants(index)
        fast = sorted(map(tuple, bm25_query(
            index, queries, top_k=3, consts=consts).collect()))
        checked = sorted(map(tuple, bm25_query(
            index, queries, top_k=3).collect()))
        assert fast == checked and len(fast) > 0


@_mark_slow
def test_bm25_query_stale_consts_fail_loudly(spark):
    """The r11 ADVICE guards on the consts fast path: a consts tuple
    from a DIFFERENT snapshot must raise, never silently prune with
    the wrong bucket mapping or score with the wrong scalars —
    (a) bucketed consts whose n_buckets disagrees with the index's
    (the cheap limit(1) probe, not the full scan the fast path skips);
    (b) bucketed consts against an UNBUCKETED index schema (the
    inverse of the pre-existing n_buckets=None-vs-bucketed check)."""
    import pytest

    from dbt_core_spark.exceptions import ExecutionError
    from dbt_core_spark.operators.textstats import (
        _bm25_constants,
        bm25_index,
        bm25_query,
    )

    corpus = spark.createDataFrame(
        [(1, "spark engine tuning"), (2, "pasta sauce recipe"),
         (3, "engine oil change"), (4, "tomato sauce engine")],
        "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "engine sauce")], "doc_id long, text string")
    idx8 = bm25_index(corpus, n_buckets=8).localCheckpoint(eager=False)
    idx16 = bm25_index(corpus, n_buckets=16).localCheckpoint(eager=False)
    idx_flat = bm25_index(corpus).localCheckpoint(eager=False)
    consts16 = _bm25_constants(idx16)
    # (a) n_buckets mismatch: consts of the 16-bucket snapshot against
    # the 8-bucket index
    with pytest.raises(ExecutionError, match="different snapshot"):
        bm25_query(idx8, queries, top_k=3, consts=consts16).collect()
    # (b) bucketed consts, unbucketed index schema
    with pytest.raises(ExecutionError, match="unbucketed"):
        bm25_query(idx_flat, queries, top_k=3, consts=consts16).collect()
    # pre-existing inverse: unbucketed consts, bucketed index
    with pytest.raises(ExecutionError, match="bucketed"):
        bm25_query(idx8, queries, top_k=3,
                   consts=_bm25_constants(idx_flat)).collect()


@_mark_slow
def test_bm25_query_mixed_n_buckets_union_always_raises(spark, tmp_path):
    """The r9 structural fix (verdict item 2): a RAW union of two
    bucketed snapshots with DIFFERENT n_buckets must fail loudly in
    ALL cases — including the formerly-silent one where every
    query-touched bucket holds rows from only one mapping (the other
    snapshot's postings sit in differently-numbered buckets and prune
    away).  Closed by the bucket-0 sentinel: both snapshots stamp a
    snap_id sentinel into bucket 0, bm25_query always scans bucket 0,
    and the pruned-postings constants check sees two snap_ids.

    The hostile case is constructed deterministically: probe every
    corpus term for one whose bucket under the 16-mapping is >= 8 AND
    whose bucket-16 directory contains no 8-snapshot rows — exactly
    the configuration that scored silently against a partial index
    before the sentinel."""
    import pytest

    from dbt_core_spark.exceptions import ExecutionError
    from dbt_core_spark.operators.textstats import (
        _bm25_bucket,
        bm25_index,
        bm25_query,
    )

    a = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(10, "zeta eta theta iota kappa"), (11, "lambda mu nu xi"),
         (12, "omicron pi rho sigma tau")],
        "doc_id long, text string")
    idx8 = bm25_index(a, n_buckets=8)
    idx16 = bm25_index(b, n_buckets=16)
    union = idx8.unionByName(idx16)
    # find a b-corpus term living in a bucket >= 8 under the
    # 16-mapping: no 8-snapshot row can share that bucket number, so
    # pre-sentinel the pruned postings were single-mapping (silent)
    terms = [r["term"] for r in idx16.filter("tf > 0")
             .select("term").distinct().collect()]
    hostile = None
    for t in terms:
        bkt = spark.range(1).select(
            _bm25_bucket(F.lit(t), 16).alias("b")).first()["b"]
        if bkt >= 8:
            hostile = t
            break
    assert hostile is not None, "corpus has no term in buckets 8..15"
    queries = spark.createDataFrame(
        [(100, hostile)], "doc_id long, text string")
    with pytest.raises(ExecutionError, match="mixed corpus constants"):
        bm25_query(union, queries, top_k=3).count()
    # and the generic colliding-bucket direction still raises too
    queries2 = spark.createDataFrame(
        [(101, "alpha zeta")], "doc_id long, text string")
    with pytest.raises(ExecutionError, match="mixed corpus constants"):
        bm25_query(union, queries2, top_k=3).count()


@_mark_slow
def test_bm25_snap_id_append_delete_rebuild_identity(spark):
    """The snap_id stamp must be content-derived, not build-run-derived:
    append ≡ rebuild and delete ≡ rebuild stay BIT-IDENTICAL including
    the stamp (and the bucket-0 sentinel row), so the persisted-index
    lifecycle never produces two different stamps for the same corpus."""
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_append,
        bm25_index_delete,
    )

    old = spark.createDataFrame(
        [(1, "spark engine tuning"), (2, "pasta sauce recipe")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(3, "engine oil change")], "doc_id long, text string")
    both = old.unionByName(batch)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for nb in (None, 8):
        appended = bm25_index_append(
            bm25_index(old, n_buckets=nb).localCheckpoint(eager=False),
            batch, n_buckets=nb)
        assert rows(appended) == rows(bm25_index(both, n_buckets=nb))
        deleted = bm25_index_delete(
            bm25_index(both, n_buckets=nb).localCheckpoint(eager=False),
            spark.createDataFrame([(3,)], "id long"))
        assert rows(deleted) == rows(bm25_index(old, n_buckets=nb))
        # distinct corpora get distinct stamps
        snaps = {r["snap_id"] for r in
                 bm25_index(old, n_buckets=nb).select("snap_id")
                 .distinct().collect()}
        snaps2 = {r["snap_id"] for r in
                  bm25_index(both, n_buckets=nb).select("snap_id")
                  .distinct().collect()}
        assert len(snaps) == 1 and len(snaps2) == 1 and snaps != snaps2


@_mark_slow
def test_rrf_fuse_tie_saturated_property(spark):
    """Integer-exactness makes RRF immune to tie-saturated inputs (r6
    verdict item 3): random rankings — including many docs sharing the
    same rank structure across sources — must fuse identically to a
    pure-Python bigint reference, with (rrf_nano desc, doc_id) total
    order deciding every tie the same way."""
    from collections import defaultdict

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dbt_core_spark.operators.textstats import rrf_fuse

    ranking = st.lists(
        st.integers(0, 7), min_size=0, max_size=8, unique=True
    )  # doc ids in rank order 1..n

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(r1=ranking, r2=ranking, r3=ranking)
    def run(r1, r2, r3):
        frames, ref = [], defaultdict(int)
        for src in (r1, r2, r3):
            rows = [(1, d, i + 1) for i, d in enumerate(src)]
            frames.append(spark.createDataFrame(
                rows, "query_id long, doc_id long, rank int"))
            for i, d in enumerate(src):
                ref[d] += 1_000_000_000 // (60 + i + 1)
        got = sorted(
            (r["doc_id"], r["rrf_nano"], r["rank"])
            for r in rrf_fuse(frames, k=60, top_k=5).collect()
        )
        order = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        want = sorted(
            (d, s, i + 1) for i, (d, s) in enumerate(order)
        )
        assert got == want, (got, want)

    run()


@_mark_slow
def test_bm25_bucketed_index_roundtrip_and_append(spark, sf_dir, tmp_path):
    """Term-hash-bucketed index (n_buckets): query results are
    row-identical to the unbucketed one-shot, survive a
    partitionBy("bucket") parquet round-trip, and append preserves the
    bucketing with the same mapping (append == bucketed rebuild)."""
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_append,
        bm25_query,
        bm25_rank,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.filter("doc_id % 17 = 0")
    path = str(tmp_path / "bm25_bucketed")
    bm25_index(docs, n_buckets=8).write.partitionBy("bucket").parquet(path)
    reloaded = spark.read.parquet(path)
    got = sorted(tuple(r)
                 for r in bm25_query(reloaded, queries, top_k=4).collect())
    want = sorted(tuple(r)
                  for r in bm25_rank(docs, queries, top_k=4).collect())
    assert got == want and len(got) > 0
    # append to the bucketed index == bucketed rebuild over the union
    old = docs.filter("doc_id % 10 != 0")
    batch = docs.filter("doc_id % 10 = 0")
    appended = bm25_index_append(
        bm25_index(old, n_buckets=8).localCheckpoint(eager=False), batch)
    rebuilt = bm25_index(docs, n_buckets=8)
    cols = ["term", "id", "tf", "dl", "idf_milli", "n_docs", "total",
            "bucket", "n_buckets"]
    assert sorted(map(tuple, appended.select(cols).collect())) == sorted(
        map(tuple, rebuilt.select(cols).collect()))


@_mark_slow
def test_bm25_append_to_empty_bucketed_index_keeps_bucketing(spark, sf_dir):
    """r7 ADVICE: appending to an EMPTY bucketed index must not
    silently degrade the schema to unbucketed — the n_buckets value is
    unrecoverable from zero rows, so the operator demands it from the
    caller (loud failure) and honors it on the rebuild; a mismatched
    n_buckets against a NON-empty index also fails loudly."""
    import pytest as _pytest

    from dbt_core_spark.exceptions import ExecutionError
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_append,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    empty = bm25_index(docs.filter("false"), n_buckets=8)
    assert "n_buckets" in empty.columns and empty.rdd.isEmpty()
    with _pytest.raises(ExecutionError, match="BUCKETED"):
        bm25_index_append(empty, docs.limit(20))
    rebuilt = bm25_index_append(empty, docs.limit(20), n_buckets=8)
    assert "bucket" in rebuilt.columns
    assert rebuilt.select("n_buckets").distinct().collect()[0][0] == 8
    # mismatched caller n_buckets vs a live index: loud failure
    live = bm25_index(docs.limit(50), n_buckets=8).localCheckpoint()
    batch = docs.filter("doc_id >= 900").limit(10)
    with _pytest.raises(ExecutionError, match="disagrees"):
        bm25_index_append(live, batch, n_buckets=16)


@_mark_slow
def test_bm25_query_constants_check_scoped_to_touched_buckets(
        spark, sf_dir, tmp_path):
    """r7 ADVICE: the serving path must not pay a full-index constants
    scan before the bucket filter.  Behavior pin: a poisoned constant
    in a bucket the query TOUCHES still fails loudly, while a poisoned
    constant in an untouched bucket no longer blocks serving (whole-
    index validation belongs to build/append time)."""
    import pytest as _pytest

    from dbt_core_spark.exceptions import ExecutionError
    from dbt_core_spark.operators.textstats import (
        _bm25_bucket,
        bm25_index,
        bm25_query,
        normalized_words,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25_scoped")
    bm25_index(docs, n_buckets=16).write.partitionBy("bucket").parquet(path)
    idx = spark.read.parquet(path)
    # a term guaranteed present in the corpus vocabulary
    term = (docs.select(F.explode(normalized_words(F.col("text")))
                        .alias("t"))
            .filter("t is not null and t != ''").first()["t"])
    queries = spark.createDataFrame(
        [(1, term)], "doc_id long, text string")
    qbucket = idx.sparkSession.range(1).select(
        _bm25_bucket(F.lit(term), 16).alias("b")).collect()[0]["b"]
    # poison n_docs in every UNTOUCHED bucket (bucket 0 is always
    # scanned now — it carries the snapshot sentinel): serving must
    # still succeed
    poisoned = idx.withColumn(
        "n_docs",
        F.when((F.col("bucket") != qbucket) & (F.col("bucket") != 0),
               F.lit(999999999).cast("bigint"))
        .otherwise(F.col("n_docs")))
    assert bm25_query(poisoned, queries, top_k=3).count() > 0
    # poison the TOUCHED bucket: loud failure survives the scoping
    poisoned_hit = idx.withColumn(
        "n_docs",
        F.when((F.col("bucket") == qbucket) & (F.col("id") % 2 == 0),
               F.lit(999999999).cast("bigint"))
        .otherwise(F.col("n_docs")))
    with _pytest.raises(ExecutionError, match="mixed"):
        bm25_query(poisoned_hit, queries, top_k=3).count()


def test_rrf_fuse_hand_computed(spark):
    """RRF: a doc ranked well by both sources beats a doc ranked top by
    only one; missing docs contribute nothing; ties break by doc_id."""
    from dbt_core_spark.operators.textstats import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank int")
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 10, 3)],
        "query_id long, doc_id long, rank int")
    out = {r["doc_id"]: (r["rrf_nano"], r["rank"])
           for r in rrf_fuse([lex, dense], k=60, top_k=4).collect()}
    # by-hand nano scores: floor(1e9/61)=16393442, /62=16129032, /63=15873015
    assert out[11] == (16393442 + 16129032, 1)   # rank2 + rank1
    assert out[10] == (16393442 + 15873015, 2)   # rank1 + rank3
    assert out[13][0] == 16129032 and out[12][0] == 15873015
    assert out[13][1] == 3 and out[12][1] == 4   # tie? no — 16129032 > 15873015


@_mark_slow
def test_rrf_fuse_hybrid_matches_duckdb(spark, sf_dir):
    """End-to-end hybrid retrieval (BM25 lexical + exact dense cosine)
    fused with RRF, verified against one DuckDB query replaying both
    rankers and the fusion — the full hybrid-RAG path is cross-engine
    exact."""
    import duckdb

    from dbt_core_spark.operators.similarity import cosine_topk
    from dbt_core_spark.operators.textstats import bm25_rank, rrf_fuse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lex = bm25_rank(docs, docs.filter("doc_id % 29 = 0"), top_k=5)
    dense = cosine_topk(emb, "embedding", "vec_id", k=5).filter(
        "query_id % 29 = 0").withColumnRenamed("nbr_id", "doc_id")
    got = sorted(tuple(r) for r in rrf_fuse([lex, dense], k=60,
                                            top_k=5).collect())
    words = ("list_filter(string_split_regex(regexp_replace(lower(text),"
             " '[^a-z0-9 ]', ' ', 'g'), '\\s+'), w -> w <> '')")
    sql = f"""
with w as (select doc_id as id, unnest({words}) as term
           from docs where text is not null),
tf as (select id, term, cast(count(*) as bigint) as tf from w group by 1, 2),
dl as (select id, cast(sum(tf) as bigint) as dl from tf group by 1),
st as (select cast(count(*) as bigint) as n,
              cast(sum(dl) as bigint) as total from dl),
idf as (select term, cast(floor(ln(1.0 + (cast(st.n as double) - df_t + 0.5)
                 / (df_t + 0.5)) * 1000) as bigint) as idf_milli
        from (select term, cast(count(distinct id) as bigint) as df_t
              from tf group by 1) d, st),
qt as (select distinct doc_id as query_id, unnest({words}) as term
       from docs where doc_id % 29 = 0 and text is not null),
sc as (select q.query_id, p.id,
              sum(cast(floor(cast(idf_milli as double)
                  * (44.0 * tf * total)
                  / (20.0 * tf * total + 6.0 * total + 18.0 * dl * n)
                  * 1000.0) as bigint)) as score_micro
       from qt q join tf p using (term) join idf using (term)
       join dl on dl.id = p.id, st group by 1, 2),
lex as (select query_id, id as doc_id,
               cast(row_number() over (partition by query_id
                    order by score_micro desc, id) as int) as rank
        from sc qualify rank <= 5),
v as (select vec_id, embedding::DOUBLE[] as e from embs
      where list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
        and list_sum(list_transform(embedding::DOUBLE[], x -> x * x))
            < 'infinity'::double),
p as (select a.vec_id as qid, b.vec_id as did,
             list_sum(list_transform(range(1, len(a.e) + 1),
                 i -> a.e[i] * b.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(a.e) + 1),
                     i -> a.e[i] * a.e[i])))
                * sqrt(list_sum(list_transform(range(1, len(b.e) + 1),
                       i -> b.e[i] * b.e[i])))) as cosine
      from v a join v b on a.vec_id <> b.vec_id),
dense as (select qid as query_id, did as doc_id,
                 cast(row_number() over (partition by qid
                      order by cosine desc, did) as int) as rank
          from p qualify rank <= 5),
uni as (
    select query_id, doc_id, cast(floor(1000000000.0 / (60 + rank))
           as bigint) as c from lex
    union all
    select query_id, doc_id, cast(floor(1000000000.0 / (60 + rank))
           as bigint) as c from dense where query_id % 29 = 0
),
fused as (select query_id, doc_id, cast(sum(c) as bigint) as rrf_nano
          from uni group by 1, 2)
select query_id, doc_id, rrf_nano,
       cast(row_number() over (partition by query_id
            order by rrf_nano desc, doc_id) as int) as rank
from fused qualify rank <= 5
"""
    con = duckdb.connect()
    con.execute(f"create view docs as select * from '{sf_dir}/documents.parquet'")
    con.execute(f"create view embs as select * from '{sf_dir}/embeddings.parquet'")
    want = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert got == want and len(got) > 0


def _perceptron_ref(rows, dim, epochs, seed="clf"):
    """Pure-Python replica of perceptron_train/apply (md5 buckets,
    batch updates, y·dot<=0 rule) — the cross-implementation reference
    for the property test."""
    import hashlib
    import re

    def bucket(word):
        h = hashlib.md5(f"{seed}:{word}".encode()).hexdigest()
        return int(h[:15], 16) % dim

    def feats(text):
        words = [w for w in re.sub(
            r"[^a-z0-9 ]", " ",
            text.replace("İ", "i").lower()).split() if w]
        f = {}
        for w in words:
            b = bucket(w)
            f[b] = f.get(b, 0) + 1
        f[dim] = f.get(dim, 0) + 1  # bias
        return f

    train = [(i, y, feats(t)) for i, (t, y) in enumerate(rows)
             if t is not None and y is not None]
    w = [0] * (dim + 1)
    for _ in range(epochs):
        delta = {}
        any_mis = False
        for _i, y, f in train:
            dot = sum(c * w[b] for b, c in f.items())
            if y * dot <= 0:
                any_mis = True
                for b, c in f.items():
                    delta[b] = delta.get(b, 0) + y * c
        if not any_mis:
            break
        for b, d in delta.items():
            w[b] += d
    preds = {}
    for i, (t, _y) in enumerate(rows):
        if t is None:
            continue
        s = sum(c * w[b] for b, c in feats(t).items())
        preds[i] = (s, 1 if s > 0 else -1)
    return w, preds


def test_perceptron_separable_sanity(spark):
    """On a linearly separable corpus (disjoint vocabularies) the batch
    perceptron converges and classifies every training doc correctly."""
    from dbt_core_spark.operators.textstats import (
        perceptron_apply,
        perceptron_train,
    )

    rows = []
    for i in range(10):
        rows.append((i, f"good clean quality prose {i % 3}", 1))
        rows.append((100 + i, f"spam junk noise garbage {i % 3}", -1))
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w = perceptron_train(df, "y", dim=32, epochs=8)
    out = {r["doc_id"]: r["pred"]
           for r in perceptron_apply(df, w, dim=32).collect()}
    assert all(out[i] == 1 for i in range(10))
    assert all(out[100 + i] == -1 for i in range(10))


def test_perceptron_weights_are_jobless(spark):
    """Every perceptron trainer returns its model as an Arrow-built
    LocalRelation, so the ``perceptron_apply*`` collect of it launches
    no Spark job."""
    from dbt_core_spark.audit import read_spark_work, spark_work
    from dbt_core_spark.operators.textstats import (
        perceptron_train,
        perceptron_train_averaged,
        perceptron_train_ovr,
    )

    df = spark.createDataFrame(
        [(1, "good clean prose", 1, "en"), (2, "spam junk noise", -1, "de")],
        "doc_id long, text string, y int, lang string")
    for w in (perceptron_train(df, "y", dim=8, epochs=2),
              perceptron_train_averaged(df, "y", dim=8, epochs=2),
              perceptron_train_ovr(df, "lang", dim=8, epochs=2),
              perceptron_train_ovr(df, "lang", classes=[], dim=8)):
        plan = w._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation", plan.toString()
        with spark_work(spark) as work:
            w.collect()
        read_spark_work(spark, [work])
        assert work.jobs == 0


@_mark_slow
def test_perceptron_matches_python_reference(spark):
    """Property: the distributed batch perceptron is bit-identical to a
    sequential pure-Python replica — weights AND scores — on random
    corpora with NULL text/labels and shared vocabulary (the order-free
    integer-update claim)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dbt_core_spark.operators.textstats import (
        perceptron_apply,
        perceptron_train,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "NOISE", "x1"]
    doc = st.one_of(
        st.none(),
        st.lists(st.sampled_from(vocab), min_size=0, max_size=6).map(
            " ".join),
    )
    rows_st = st.lists(
        st.tuples(doc, st.one_of(st.none(), st.sampled_from([1, -1]))),
        min_size=1, max_size=10,
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=rows_st)
    def run(rows):
        dim, epochs = 8, 3
        df = spark.createDataFrame(
            [(i, t, y) for i, (t, y) in enumerate(rows)],
            "doc_id long, text string, y int")
        wdf = perceptron_train(df, "y", dim=dim, epochs=epochs)
        got_w = {r["bucket"]: r["w"] for r in wdf.collect()}
        got = {r["doc_id"]: (r["score"], r["pred"])
               for r in perceptron_apply(df, wdf, dim=dim).collect()}
        want_w, want = _perceptron_ref(rows, dim, epochs)
        assert got_w == {b: wb for b, wb in enumerate(want_w)}
        assert got == want

    run()


def test_perceptron_ovr_matches_per_class_binary(spark, sf_dir):
    """The jointly-trained one-vs-rest model must be BIT-IDENTICAL,
    class by class, to running the binary perceptron_train with
    y = +1 if class==c else -1 — the joint epoch plan (k dot columns
    against one nested weight literal, k conditional delta sums) is an
    execution-shape optimization, never a semantics change."""
    from dbt_core_spark.operators.textstats import (
        perceptron_train,
        perceptron_train_ovr,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    classes = ["de", "en", "zh"]
    ovr = {
        (r["cls"], r["bucket"]): r["w"]
        for r in perceptron_train_ovr(
            docs, "lang", classes=classes, dim=32, epochs=3).collect()
    }
    for c in classes:
        labeled = docs.withColumn(
            "y", F.when(F.col("lang") == c, 1).otherwise(-1))
        binary = {
            r["bucket"]: r["w"]
            for r in perceptron_train(
                labeled, "y", dim=32, epochs=3).collect()
        }
        got = {b: w for (cls, b), w in ovr.items() if cls == c}
        assert got == binary, f"class {c} diverged from the binary replica"


def test_perceptron_ovr_apply_argmax_and_ties(spark):
    """Serving: winner is max score; exact ties break by class name
    ascending (the min-struct (-score, cls) contract)."""
    from dbt_core_spark.operators.textstats import perceptron_apply_ovr

    docs = spark.createDataFrame(
        [(1, "alpha alpha"), (2, None)], "doc_id long, text string")
    # hand-built model: every bucket weight 1 for both classes → exact
    # tie on every doc; class 'aa' must win over 'bb'
    w = spark.createDataFrame(
        [(c, b, 1) for c in ("bb", "aa") for b in range(33)],
        "cls string, bucket int, w bigint")
    out = perceptron_apply_ovr(docs, w, dim=32).collect()
    assert len(out) == 1  # NULL text excluded
    assert out[0]["label"] == "aa"


@_mark_slow
def test_perceptron_ovr_label_skew_and_empty(spark):
    """All-one-class and empty corpora: training must not error and
    the model stays k x (dim+1) rows of exact integers."""
    from dbt_core_spark.operators.textstats import (
        perceptron_apply_ovr,
        perceptron_train_ovr,
    )

    one_class = spark.createDataFrame(
        [(1, "nur deutsch hier", "de"), (2, "immer noch deutsch", "de")],
        "doc_id long, text string, lang string")
    m = perceptron_train_ovr(one_class, "lang", classes=["de", "en"],
                             dim=16, epochs=2)
    assert m.count() == 2 * 17
    served = perceptron_apply_ovr(one_class, m, dim=16)
    assert served.count() == 2
    empty = one_class.filter("false")
    m0 = perceptron_train_ovr(empty, "lang", classes=["de"], dim=16)
    assert m0.count() == 17 and m0.filter("w != 0").count() == 0
    m_auto = perceptron_train_ovr(empty, "lang", dim=16)  # derived classes
    assert m_auto.count() == 0


def test_corpus_diff_hand_computed(spark):
    """All four statuses on a tiny hand corpus; NULL text is a distinct
    content state (NULL→text and text→NULL are CHANGES, NULL→NULL is
    unchanged)."""
    from dbt_core_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone"), (4, None), (5, None)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (6, "fresh"), (4, None), (5, "born")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 5: "changed", 6: "added"}


def test_ngram_loop_runs_hand_computed(spark):
    """The canonical LLM-loop text: a 3-gram repeated back-to-back 3
    times is ONE maximal run (repeats=3, exact span); interleaved
    phases don't double-report; non-looping text yields nothing."""
    from dbt_core_spark.operators.corpus import ngram_loop_runs

    docs = spark.createDataFrame(
        [(1, "the cat sat the cat sat the cat sat done"),
         (2, "all words here are different from each other entirely"),
         (3, None)],
        "doc_id long, text string")
    got = [tuple(r) for r in ngram_loop_runs(
        docs, n=3, min_repeats=3).collect()]
    assert got == [(1, "the cat sat", 1, 3, 9)]
    # a longer loop: 4 copies → repeats=4, and min_repeats prunes
    docs4 = spark.createDataFrame(
        [(1, "go on go on go on go on stop")], "doc_id long, text string")
    r4 = ngram_loop_runs(docs4, n=2, min_repeats=4).collect()
    assert [tuple(x) for x in r4] == [(1, "go on", 1, 4, 8)]
    assert ngram_loop_runs(docs4, n=2, min_repeats=5).count() == 0


@_mark_slow
def test_vocab_drift_python_reference(spark):
    """drift_micro must equal the floored-micro-nat KL contribution of
    a pure-Python replica (add-1 smoothing over the union vocabulary),
    and a vanished/new term must rank at the top."""
    import math

    from dbt_core_spark.operators.corpus import vocab_drift

    old = spark.createDataFrame(
        [(1, "alpha alpha beta gamma"), (2, "alpha beta")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "alpha beta beta delta delta delta"), (2, None)],
        "doc_id long, text string")
    got = {r["term"]: (r["n_old"], r["n_new"], r["drift_micro"])
           for r in vocab_drift(old, new, top_k=10).collect()}
    co = {"alpha": 3, "beta": 2, "gamma": 1}
    cn = {"alpha": 1, "beta": 2, "delta": 3}
    vocab = sorted(set(co) | set(cn))
    t_old, t_new, vsz = sum(co.values()), sum(cn.values()), len(vocab)
    for t in vocab:
        pn = (cn.get(t, 0) + 1) / (t_new + vsz)
        ratio = ((cn.get(t, 0) + 1) * (t_old + vsz)) / (
            (co.get(t, 0) + 1) * (t_new + vsz))
        want = math.floor(pn * math.log(ratio) * 1_000_000)
        assert got[t] == (co.get(t, 0), cn.get(t, 0), want), t
    # delta (0→3) must out-rank small shifts
    ranks = {r["term"]: r["rank"]
             for r in vocab_drift(old, new, top_k=10).collect()}
    assert ranks["delta"] == 1
    # empty corpora: empty contract frame
    assert vocab_drift(old.filter("false"), new.filter("false")).count() == 0
    # smoothing < 1 would divide/log zero for one-sided terms and emit
    # NULL drift that silently sorts last — must fail loudly instead
    import pytest

    with pytest.raises(ValueError, match="smoothing must be >= 1"):
        vocab_drift(old, new, smoothing=0)


def test_perceptron_averaged_matches_sequential_replica(spark):
    """Averaged weights must equal the sum of per-epoch snapshots of a
    pure-Python replica of the batch rule, including the early-
    convergence accounting (remaining epochs contribute the converged
    snapshot)."""
    from dbt_core_spark.operators.textstats import (
        _bucket_of,
        perceptron_train_averaged,
    )

    docs = spark.createDataFrame(
        [(1, "good clean prose here", 1),
         (2, "spam spam spam buy now", -1),
         (3, "more nice text", 1),
         (4, None, 1), (5, "unlabeled", None)],
        "doc_id long, text string, y int")
    dim, epochs = 16, 4
    got = {r["bucket"]: r["w"] for r in perceptron_train_averaged(
        docs, "y", dim=dim, epochs=epochs).collect()}

    # python replica: featurize with the SAME hash buckets via Spark
    feats = {}
    rows = docs.filter("text is not null and y is not null").select(
        "doc_id", "y", F.explode(F.concat(
            F.transform(
                __import__("dbt_core_spark.operators.dedup",
                           fromlist=["normalized_words"]).normalized_words(
                    F.col("text")),
                lambda x: _bucket_of(x, dim, "clf")),
            F.array(F.lit(dim).cast("bigint")))).alias("b")).collect()
    for r in rows:
        feats.setdefault((r["doc_id"], r["y"]), {})
        feats[(r["doc_id"], r["y"])][r["b"]] = \
            feats[(r["doc_id"], r["y"])].get(r["b"], 0) + 1
    w = [0] * (dim + 1)
    acc = [0] * (dim + 1)
    for e in range(epochs):
        mis = [(y, f) for (d, y), f in feats.items()
               if y * sum(c * w[b] for b, c in f.items()) <= 0]
        delta = {}
        for y, f in mis:
            for b, c in f.items():
                delta[b] = delta.get(b, 0) + y * c
        for b, d in delta.items():
            w[b] += d
        for b in range(dim + 1):
            acc[b] += w[b]
        if not delta:
            acc = [a + w[b] * (epochs - 1 - e)
                   for b, a in enumerate(acc)]
            break
    assert got == {b: a for b, a in enumerate(acc)}


# ---------------------------------------------------------------------------
# naive bayes (r9): count-based trainable filter — single-pass training
# ---------------------------------------------------------------------------

def _nb_ref(train_rows, test_rows, vocab_size=None, smoothing=1):
    """Pure-Python replica of naive_bayes_train/apply (floor micro-nat
    weights, sparse-model OOV identity, lexical tie-break)."""
    import math
    import re

    def words(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower()).split() if w]

    s = smoothing
    tr = [(d, t, y) for d, t, y in train_rows
          if t is not None and y is not None]
    counts: dict[tuple, int] = {}
    total: dict[str, int] = {}
    for _, t, y in tr:
        for w in words(t):
            counts[(y, w)] = counts.get((y, w), 0) + 1
            total[w] = total.get(w, 0) + 1
    if vocab_size is not None:
        keep = set(w for w, _ in sorted(
            total.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size])
        counts = {k: v for k, v in counts.items() if k[1] in keep}
    vocab = set(w for _, w in counts)
    V = len(vocab)
    t_c: dict[str, int] = {}
    for (y, _), n in counts.items():
        t_c[y] = t_c.get(y, 0) + n
    d_c: dict[str, int] = {}
    for _, _, y in tr:
        d_c[y] = d_c.get(y, 0) + 1
    D = len(tr)
    w_micro = {
        (y, w): math.floor(math.log((n + s) / (t_c[y] + s * V)) * 1e6)
        for (y, w), n in counts.items()}
    prior = {y: math.floor(math.log(d / D) * 1e6) for y, d in d_c.items()}
    oov = {y: math.floor(math.log(s / (t_c.get(y, 0) + s * V)) * 1e6)
           for y in d_c}
    out = {}
    for d, t in test_rows:
        if t is None:
            continue
        toks = words(t)
        best = None
        for y in sorted(d_c):
            sc = prior[y]
            for w in toks:
                sc += w_micro.get((y, w), oov[y])
            if best is None or sc > best[1]:
                best = (y, sc)
        out[d] = best
    return out


def test_naive_bayes_hand_computed(spark):
    """Tiny symmetric corpus: exact micro-nat weights, NULL text/label
    exclusion, zero-token doc scores prior-only with lexical tie."""
    from dbt_core_spark.operators.textstats import (
        naive_bayes_apply,
        naive_bayes_train,
    )

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "le chat est sur le tapis", "fr"),
        (3, "the dog and the cat", "en"),
        (4, "le chien et le chat", "fr"),
        (5, "the cat", None),      # NULL label: excluded from training
        (6, None, "en"),            # NULL text: excluded everywhere
        (7, "!!!", "en"),           # zero tokens: prior-only at serve
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w, cs = naive_bayes_train(df.filter("doc_id < 5"), "lang")
    stats = {r["cls"]: r for r in cs.collect()}
    # symmetric corpus: both classes share every class-level stat
    assert stats["en"]["n_docs"] == stats["fr"]["n_docs"] == 2
    assert stats["en"]["prior_micro"] == stats["fr"]["prior_micro"]
    assert stats["en"]["oov_micro"] == stats["fr"]["oov_micro"]
    import math
    # V=14 (7 distinct terms/class), t_c=11 tokens/class
    assert stats["en"]["oov_micro"] == math.floor(math.log(1 / 25) * 1e6)
    got = {r["doc_id"]: (r["label"], r["score_micro"])
           for r in naive_bayes_apply(df, w, cs).collect()}
    assert 6 not in got                       # NULL text excluded
    assert got[1][0] == "en" and got[2][0] == "fr"
    assert got[1][1] == got[2][1]             # exact symmetry
    assert got[3][0] == "en" and got[4][0] == "fr"
    # zero-token doc: prior-only scores tie -> lexically smaller class
    assert got[7] == ("en", stats["en"]["prior_micro"])
    ref = _nb_ref([(d, t, y) for d, t, y in rows if d < 5],
                  [(d, t) for d, t, y in rows])
    for d, (lab, sc) in ref.items():
        assert got[d] == (lab, sc), d


def test_naive_bayes_matches_python_reference(spark):
    """Skewed multi-class corpus vs the pure-Python replica — including
    a class whose only doc has zero tokens (no term rows at all)."""
    from dbt_core_spark.operators.textstats import (
        naive_bayes_apply,
        naive_bayes_train,
    )

    train = [
        (1, "alpha beta beta gamma", "a"),
        (2, "alpha alpha delta", "a"),
        (3, "beta beta beta epsilon zeta", "b"),
        (4, "zeta zeta", "b"),
        (5, "eta theta iota kappa", "c"),
        (6, "...", "d"),           # zero-token class: prior + pure-OOV
    ]
    test = [(10, "alpha beta"), (11, "zeta zeta zeta"),
            (12, "theta kappa"), (13, "unseen words only"),
            (14, "")]
    tdf = spark.createDataFrame(train, "doc_id long, text string, y string")
    w, cs = naive_bayes_train(tdf, "y")
    adf = spark.createDataFrame(test, "doc_id long, text string")
    got = {r["doc_id"]: (r["label"], r["score_micro"])
           for r in naive_bayes_apply(adf, w, cs).collect()}
    ref = _nb_ref([(d, t, y) for d, t, y in train], test)
    assert got == {d: v for d, v in ref.items()}


def test_naive_bayes_vocab_cap_and_smoothing_guard(spark):
    """vocab_size caps training counts to the top-N corpus terms
    (ties lexically smaller) and stays exact vs the replica;
    smoothing < 1 raises (the vocab_drift guard)."""
    import pytest as _pytest

    from dbt_core_spark.operators.textstats import (
        naive_bayes_apply,
        naive_bayes_train,
    )

    train = [
        (1, "common common common rare1", "x"),
        (2, "common common rare2 rare2", "y"),
    ]
    test = [(10, "common rare1 rare2 unseen")]
    tdf = spark.createDataFrame(train, "doc_id long, text string, y string")
    w, cs = naive_bayes_train(tdf, "y", vocab_size=1)
    assert set(r["term"] for r in w.collect()) == {"common"}
    adf = spark.createDataFrame(test, "doc_id long, text string")
    got = {r["doc_id"]: (r["label"], r["score_micro"])
           for r in naive_bayes_apply(adf, w, cs).collect()}
    ref = _nb_ref(train, test, vocab_size=1)
    assert got == ref
    with _pytest.raises(ValueError, match="smoothing"):
        naive_bayes_train(tdf, "y", smoothing=0)


def test_oov_rate_hand_computed(spark):
    """Exact integer OOV math: full coverage -> 0, zero-token -> NULL
    rate, NULL text excluded, div-floor semantics pinned."""
    from dbt_core_spark.operators.corpus import oov_rate

    vocab = spark.createDataFrame(
        [(0, "the"), (1, "cat")], "token_id long, term string")
    docs = spark.createDataFrame([
        (1, "the cat the cat"),        # 0 OOV of 4
        (2, "the dog ate"),            # 2 OOV of 3 -> 666666
        (3, "???"),                    # zero tokens -> NULL rate
        (4, None),                     # excluded
        (5, "zebra"),                  # all OOV -> 1000000
    ], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_micro"])
           for r in oov_rate(docs, vocab).collect()}
    assert got == {
        1: (4, 0, 0),
        2: (3, 2, 666666),
        3: (0, 0, None),
        5: (1, 1, 1000000),
    }


def test_naive_bayes_empty_vocabulary_priors_only(spark):
    """V = 0 (every training doc tokenizes empty): oov_micro pins to 0
    and serving degenerates to priors-only — no Inf/overflow garbage."""
    import math

    from dbt_core_spark.operators.textstats import (
        naive_bayes_apply,
        naive_bayes_train,
    )

    train = [(1, "!!!", "a"), (2, "???", "a"), (3, "...", "b")]
    tdf = spark.createDataFrame(train, "doc_id long, text string, y string")
    w, cs = naive_bayes_train(tdf, "y")
    assert w.count() == 0
    stats = {r["cls"]: r for r in cs.collect()}
    assert stats["a"]["oov_micro"] == 0 and stats["b"]["oov_micro"] == 0
    assert stats["a"]["prior_micro"] == math.floor(math.log(2 / 3) * 1e6)
    adf = spark.createDataFrame(
        [(10, "anything at all"), (11, "")], "doc_id long, text string")
    got = {r["doc_id"]: (r["label"], r["score_micro"])
           for r in naive_bayes_apply(adf, w, cs).collect()}
    # priors only: class 'a' (2/3) beats 'b' (1/3) for every doc
    assert got == {10: ("a", stats["a"]["prior_micro"]),
                   11: ("a", stats["a"]["prior_micro"])}


def test_retrieval_metrics_rejects_k_below_one(spark):
    """k < 1 must raise at entry (r9 ADVICE): an empty discount table
    would silently drop every labeled query via the n_rel⋈idcg join."""
    import pytest

    from dbt_core_spark.operators.textstats import retrieval_metrics

    rankings = spark.createDataFrame(
        [(1, 10, 1)], "query_id long, doc_id long, rank int")
    qrels = spark.createDataFrame(
        [(1, 10)], "query_id long, doc_id long")
    for bad_k in (0, -3):
        with pytest.raises(ValueError, match="k must be >= 1"):
            retrieval_metrics(rankings, qrels, k=bad_k)


def test_retrieval_metrics_hand_computed(spark):
    """Exact micro-unit IR triple: perfect ranking -> NDCG 1e6, a
    no-hit labeled query -> zeros, a labeled query absent from the
    rankings -> zeros, duplicate qrels deduped, k cutoff enforced."""
    import math

    from dbt_core_spark.operators.textstats import retrieval_metrics

    rankings = spark.createDataFrame([
        # q1: hits at ranks 1 and 2 (perfect for n_rel=2)
        (1, 101, 1), (1, 102, 2), (1, 103, 3),
        # q2: single hit at rank 3; second relevant never retrieved
        (2, 201, 1), (2, 202, 2), (2, 103, 3),
        # q3: no hits in top-k
        (3, 301, 1), (3, 302, 2),
        # q4: hit exists but only BEYOND the cutoff
        (4, 401, 6),
    ], "query_id long, doc_id long, rank int")
    qrels = spark.createDataFrame([
        (1, 101), (1, 102), (1, 102),       # dup row deduped
        (2, 103), (2, 999),
        (3, 888),
        (4, 401),
        (5, 777),                            # labeled, never ranked
    ], "query_id long, doc_id long")
    got = {r["query_id"]: r.asDict()
           for r in retrieval_metrics(rankings, qrels, k=5).collect()}
    d1 = math.floor(1e6 / math.log2(2))     # rank 1 -> 1000000
    d2 = math.floor(1e6 / math.log2(3))
    d3 = math.floor(1e6 / math.log2(4))     # rank 3 -> 500000
    assert got[1] == {"query_id": 1, "n_rel": 2, "hits": 2,
                      "mrr_micro": 1000000, "recall_micro": 1000000,
                      "dcg_micro": d1 + d2, "idcg_micro": d1 + d2,
                      "ndcg_micro": 1000000}
    assert got[2]["hits"] == 1 and got[2]["mrr_micro"] == 333333
    assert got[2]["recall_micro"] == 500000
    assert got[2]["dcg_micro"] == d3
    assert got[2]["idcg_micro"] == d1 + d2
    assert got[2]["ndcg_micro"] == d3 * 1000000 // (d1 + d2)
    for q in (3, 4, 5):
        assert (got[q]["hits"], got[q]["mrr_micro"],
                got[q]["ndcg_micro"]) == (0, 0, 0), q
    # idcg caps at k: n_rel=1 -> idcg = d1 only
    assert got[3]["idcg_micro"] == d1
    # unlabeled queries never appear
    assert set(got) == {1, 2, 3, 4, 5}


@_mark_slow
def test_naive_bayes_merge_equals_retrain_and_commutes(spark):
    """Merged batch statistics finalize BIT-IDENTICALLY to one-shot
    training on the union, in either merge order — the
    append-≡-rebuild contract for model training."""
    from dbt_core_spark.operators.textstats import (
        naive_bayes_counts,
        naive_bayes_finalize,
        naive_bayes_merge,
        naive_bayes_train,
    )

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "le chat est sur le tapis", "fr"),
        (3, "the dog and the cat", "en"),
        (4, "le chien et le chat", "fr"),
        (5, "ein hund und eine katze", "de"),
        (6, "!!!", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a, b = df.filter("doc_id % 2 = 0"), df.filter("doc_id % 2 = 1")
    sa, sb = naive_bayes_counts(a, "lang"), naive_bayes_counts(b, "lang")

    def model_rows(weights, class_stats):
        return (sorted(map(tuple, weights.collect())),
                sorted(map(tuple, class_stats.collect())))

    want = model_rows(*naive_bayes_train(df, "lang"))
    assert model_rows(*naive_bayes_finalize(
        *naive_bayes_merge(sa, sb))) == want
    assert model_rows(*naive_bayes_finalize(
        *naive_bayes_merge(sb, sa))) == want
    # vocab cap applies to the MERGED counts, same as retraining
    want_cap = model_rows(*naive_bayes_train(df, "lang", vocab_size=3))
    assert model_rows(*naive_bayes_finalize(
        *naive_bayes_merge(sa, sb), vocab_size=3)) == want_cap


def test_credit_card_detect_and_scrub(spark):
    """Luhn validation pins: known-valid card accepted (plain and
    dash/space-grouped), checksum-failing run rejected, 12-digit run
    below the length floor emits no candidate, >19-digit runs yield a
    19-digit (failing) candidate; scrub redacts ONLY validated spans."""
    from dbt_core_spark.operators.textstats import (
        detect_credit_cards,
        scrub_credit_cards,
    )

    df = spark.createDataFrame([
        (1, "pay 4532015112830366 now"),
        (2, "fake 1234567890123456 id"),
        (3, "grouped 4532-0151-1283-0366 and 4532 0151 1283 0366"),
        (4, "short 123456789012 nope"),
        (5, None),
        (6, "run 12345678901234567890123 long"),
        (7, "amex 378282246310005 ok"),          # 15-digit Luhn-valid
    ], "doc_id long, text string")
    got = {(r["doc_id"], r["span"]): (r["n_digits"], r["luhn_valid"])
           for r in detect_credit_cards(df).collect()}
    assert got[(1, "4532015112830366")] == (16, True)
    assert got[(2, "1234567890123456")] == (16, False)
    assert got[(3, "4532-0151-1283-0366")] == (16, True)
    assert got[(3, "4532 0151 1283 0366")] == (16, True)
    assert got[(7, "378282246310005")] == (15, True)
    assert not any(d == 4 for d, _ in got)       # length floor
    assert got[(6, "1234567890123456789")] == (19, False)
    sc = {r["doc_id"]: (r["scrubbed"], r["n_cards"])
          for r in scrub_credit_cards(df).collect()}
    assert sc[1] == ("pay [CARD] now", 1)
    assert sc[2] == ("fake 1234567890123456 id", 0)
    assert sc[3] == ("grouped [CARD] and [CARD]", 2)
    assert sc[7] == ("amex [CARD] ok", 1)


def test_luhn_valid_python_reference(spark):
    """The Luhn fold vs the textbook Python implementation over a
    deterministic spread of digit strings."""
    import pyspark.sql.functions as SF

    from dbt_core_spark.operators.textstats import luhn_valid

    def luhn_py(s):
        total = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    nums = [str((k * 7919 + 11) % 10**16).zfill(16) for k in range(60)]
    nums += ["4532015112830366", "378282246310005", "6011111111111117"]
    df = spark.createDataFrame([(n,) for n in nums], "digits string")
    got = {r["digits"]: r["v"]
           for r in df.select("digits",
                              luhn_valid(SF.col("digits")).alias("v"))
           .collect()}
    for n in nums:
        assert got[n] == luhn_py(n), n


def test_classification_metrics_hand_computed(spark):
    """Exact confusion math: a never-predicted gold class (recall
    failure), a never-gold predicted class (precision failure), ids
    outside the join excluded, NULLs excluded, F1 identity pinned."""
    from dbt_core_spark.operators.textstats import classification_metrics

    preds = spark.createDataFrame([
        (1, "en"), (2, "en"), (3, "fr"), (4, "en"),
        (5, "xx"),             # predicted class that is never gold
        (6, None),             # NULL pred excluded
        (99, "en"),            # id not in gold: excluded by the join
    ], "doc_id long, label string")
    gold = spark.createDataFrame([
        (1, "en"), (2, "fr"), (3, "fr"), (4, "de"),  # de never predicted
        (5, "en"), (6, "en"),
    ], "doc_id long, label string")
    got = {r["cls"]: r.asDict()
           for r in classification_metrics(preds, gold).collect()}
    # en: predictions on ids 1,2,4 (99 dropped) -> tp=1 (id 1), fp=2;
    #     gold en on scored ids 1,5 -> fn=1
    assert got["en"] == {
        "cls": "en", "tp": 1, "fp": 2, "fn": 1, "n_gold": 2, "n_pred": 3,
        "precision_micro": 333333, "recall_micro": 500000,
        "f1_micro": 2 * 1000000 // 5}
    assert got["fr"]["tp"] == 1 and got["fr"]["fp"] == 0 \
        and got["fr"]["fn"] == 1
    # de: never predicted -> precision 0 (no preds), recall 0
    assert got["de"] == {
        "cls": "de", "tp": 0, "fp": 0, "fn": 1, "n_gold": 1, "n_pred": 0,
        "precision_micro": 0, "recall_micro": 0, "f1_micro": 0}
    # xx: predicted but never gold
    assert got["xx"]["fp"] == 1 and got["xx"]["n_gold"] == 0 \
        and got["xx"]["recall_micro"] == 0
    assert set(got) == {"en", "fr", "de", "xx"}


@_mark_slow
def test_bm25_index_delete_equals_rebuild(spark):
    """Deletion re-aggregates df/idf/N/total from surviving postings
    BIT-IDENTICALLY to rebuilding on the remaining corpus — plain and
    bucketed; deleting everything yields the empty contract frame."""
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_delete,
    )

    rows = [(i, f"term{i % 5} shared common word{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ids = spark.createDataFrame([(i,) for i in range(0, 12, 3)],
                                "doc_id long")
    remaining = df.join(ids, "doc_id", "left_anti")
    for nb in (None, 4):
        got = sorted(map(tuple, bm25_index_delete(
            bm25_index(df, n_buckets=nb).localCheckpoint(eager=False),
            ids).collect()))
        want = sorted(map(tuple,
                          bm25_index(remaining, n_buckets=nb).collect()))
        assert got == want, f"n_buckets={nb}"
    empty = bm25_index_delete(
        bm25_index(df).localCheckpoint(eager=False),
        df.select("doc_id"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "term", "id", "tf", "dl", "idf_milli", "n_docs", "total",
        "snap_id"]


@_mark_slow
def test_ivf_index_delete_standing_centroids(spark):
    """Deleting a vector that SEEDED a centroid must not move the
    cell: surviving members keep their assignment and search ranks
    shift only by the removed neighbors."""
    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_delete,
        ivf_index_search,
    )

    vecs = [(i, [float((i * 7 + j * 3) % 11 + 1) for j in range(4)])
            for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents, assigns = ivf_index_build(emb, n_cells=4, kmeans_iters=0)
    assigns = assigns.localCheckpoint(eager=False)
    # delete vec 0..3 — the four centroid seeds themselves
    shrunk = ivf_index_delete(
        assigns, spark.createDataFrame([(i,) for i in range(4)],
                                       "vec_id long"))
    kept = {r["id"]: r["cell"] for r in shrunk.collect()}
    orig = {r["id"]: r["cell"] for r in assigns.collect()}
    assert set(kept) == set(orig) - {0, 1, 2, 3}
    assert all(kept[i] == orig[i] for i in kept)  # nothing re-assigned
    q = emb.filter("vec_id % 10 = 5")
    full = ivf_index_search(cents, assigns, q, k=5, n_probe=4)
    after = ivf_index_search(cents, shrunk.localCheckpoint(eager=False),
                             q, k=5, n_probe=4)
    got = {(r["query_id"], r["nbr_id"]) for r in after.collect()}
    assert all(n not in (0, 1, 2, 3) for _, n in got)
    # the after-ranking is the full ranking with deleted rows squeezed
    surv = [(r["query_id"], r["nbr_id"]) for r in
            full.orderBy("query_id", "rank").collect()
            if r["nbr_id"] not in (0, 1, 2, 3)]
    want_top = {}
    for qid, nbr in surv:
        want_top.setdefault(qid, []).append(nbr)
    for qid, nbrs in want_top.items():
        got_q = [n for qq, n in sorted(got) if qq == qid]
        assert set(got_q) <= set(nbrs) | set(
            n for qq, n in got if qq == qid)


@pytest.mark.parametrize("seed", [3, 17, 51])
def test_retrieval_metrics_random_property(spark, seed):
    """retrieval_metrics vs a pure-Python reference on pseudo-random
    rankings/qrels (deterministic LCG — no test-run flakiness)."""
    import math

    def lcg(x):
        while True:
            x = (x * 1103515245 + 12345) % (1 << 31)
            yield x

    g = lcg(seed)
    rankings, qrels = [], []
    for q in range(12):
        docs = sorted({next(g) % 30 for _ in range(8)})
        for r, d in enumerate(docs):
            rankings.append((q, d, r + 1))
        for _ in range(next(g) % 5):
            qrels.append((q, next(g) % 30))
    k = 5
    rdf = spark.createDataFrame(rankings, "query_id long, doc_id long, rank int")
    qdf = spark.createDataFrame(qrels or [(999, 999)],
                                "query_id long, doc_id long")
    got = {r["query_id"]: r.asDict()
           for r in retrieval_metrics_import()(rdf, qdf, k=k).collect()}
    # python reference
    qr = {}
    for q, d in (qrels or [(999, 999)]):
        qr.setdefault(q, set()).add(d)
    rk = {}
    for q, d, r in rankings:
        if r <= k:
            rk.setdefault(q, []).append((r, d))
    for q, rel in qr.items():
        hits = sorted((r, d) for r, d in rk.get(q, []) if d in rel)
        dcg = sum(math.floor(1e6 / math.log2(r + 1)) for r, _ in hits)
        idcg = sum(math.floor(1e6 / math.log2(i + 1))
                   for i in range(1, min(len(rel), k) + 1))
        row = got[q]
        assert row["n_rel"] == len(rel)
        assert row["hits"] == len(hits)
        assert row["mrr_micro"] == (1000000 // hits[0][0] if hits else 0)
        assert row["recall_micro"] == len(hits) * 1000000 // len(rel)
        assert row["dcg_micro"] == dcg
        assert row["idcg_micro"] == idcg
        assert row["ndcg_micro"] == dcg * 1000000 // idcg
    assert set(got) == set(qr)


def retrieval_metrics_import():
    from dbt_core_spark.operators.textstats import retrieval_metrics
    return retrieval_metrics


@pytest.mark.parametrize("seed", [7, 29])
def test_classification_metrics_random_property(spark, seed):
    """classification_metrics vs a pure-Python confusion reference on
    pseudo-random prediction/label tables."""
    from dbt_core_spark.operators.textstats import classification_metrics

    def lcg(x):
        while True:
            x = (x * 1103515245 + 12345) % (1 << 31)
            yield x

    g = lcg(seed)
    classes = ["a", "b", "c", "d"]
    preds = [(i, classes[next(g) % 4]) for i in range(60)]
    gold = [(i, classes[next(g) % 4]) for i in range(3, 55)]  # partial overlap
    pdf = spark.createDataFrame(preds, "doc_id long, label string")
    gdf = spark.createDataFrame(gold, "doc_id long, label string")
    got = {r["cls"]: r.asDict()
           for r in classification_metrics(pdf, gdf).collect()}
    gm = dict(gold)
    tp, fp, fn, np_, ng = ({c: 0 for c in classes} for _ in range(5))
    for i, p in preds:
        if i not in gm:
            continue
        np_[p] += 1
        ng[gm[i]] += 1
        if p == gm[i]:
            tp[p] += 1
        else:
            fp[p] += 1
            fn[gm[i]] += 1
    for c in classes:
        if np_[c] == 0 and ng[c] == 0:
            assert c not in got
            continue
        row = got[c]
        assert (row["tp"], row["fp"], row["fn"]) == (tp[c], fp[c], fn[c])
        assert row["n_pred"] == np_[c] and row["n_gold"] == ng[c]
        assert row["precision_micro"] == (
            tp[c] * 1000000 // (tp[c] + fp[c]) if tp[c] + fp[c] else 0)
        assert row["recall_micro"] == (
            tp[c] * 1000000 // (tp[c] + fn[c]) if tp[c] + fn[c] else 0)
        assert row["f1_micro"] == (
            2 * tp[c] * 1000000 // (2 * tp[c] + fp[c] + fn[c])
            if 2 * tp[c] + fp[c] + fn[c] else 0)


@_mark_slow
def test_pr_curve_equals_classification_metrics_per_threshold(spark):
    """pr_curve row-identity: at every distinct threshold t, the sweep
    row equals classification_metrics of the rule `pos iff score >= t`
    read at the positive class — confusion counts, precision, recall,
    and F1, all micro-exact."""
    from dbt_core_spark.operators.textstats import (
        classification_metrics,
        pr_curve,
    )

    # pseudo-random scores with ties and negatives; labels via LCG
    rows = []
    x = 7
    for i in range(60):
        x = (x * 1103515245 + 12345) % (2 ** 31)
        rows.append((i, (x % 21) - 10, 1 if (x >> 8) % 3 == 0 else 0))
    scored = spark.createDataFrame(
        [(i, s) for i, s, _ in rows], "doc_id long, score long")
    positives = spark.createDataFrame(
        [(i,) for i, _, p in rows if p], "doc_id long")
    curve = {r["threshold"]: r for r in pr_curve(scored, positives).collect()}
    assert len(curve) == len({s for _, s, _ in rows})
    gold = spark.createDataFrame(
        [(i, "pos" if p else "neg") for i, _, p in rows],
        "doc_id long, label string")
    for t, row in curve.items():
        preds = scored.select(
            "doc_id",
            F.when(F.col("score") >= t, F.lit("pos"))
            .otherwise(F.lit("neg")).alias("label"))
        ref = {r["cls"]: r
               for r in classification_metrics(preds, gold).collect()}
        want = ref.get("pos")
        assert want is not None
        assert (row["tp"], row["fp"], row["fn"]) == (
            want["tp"], want["fp"], want["fn"]), t
        assert row["n_pred"] == want["n_pred"], t
        assert row["precision_micro"] == want["precision_micro"], t
        assert row["recall_micro"] == want["recall_micro"], t
        assert row["f1_micro"] == want["f1_micro"], t


def test_pr_curve_quantize_and_guards(spark):
    """quantize floors scores (negative included) onto the lattice and
    bounds the threshold count; quantize < 1 raises; an empty positive
    set yields recall/f1 0 with precision still exact."""
    import pytest

    from dbt_core_spark.operators.textstats import pr_curve

    scored = spark.createDataFrame(
        [(1, -7), (2, -1), (3, 0), (4, 2), (5, 9), (6, 9)],
        "doc_id long, score long")
    positives = spark.createDataFrame([(4,), (5,)], "doc_id long")
    got = {r["threshold"]: r
           for r in pr_curve(scored, positives, quantize=3).collect()}
    # lattice: -7→-9, -1→-3, 0→0, 2→0, 9→9 — four thresholds
    assert set(got) == {-9, -3, 0, 9}
    assert got[9]["n_pred"] == 2 and got[9]["tp"] == 1
    assert got[0]["n_pred"] == 4 and got[0]["tp"] == 2
    assert got[0]["recall_micro"] == 1000000
    with pytest.raises(ValueError, match="quantize"):
        pr_curve(scored, positives, quantize=0)
    none_pos = pr_curve(
        scored, spark.createDataFrame([(99,)], "doc_id long")).collect()
    assert all(r["recall_micro"] == 0 and r["f1_micro"] == 0
               and r["tp"] == 0 for r in none_pos)


@_mark_slow
def test_bm25_delete_then_append_equals_rebuild(spark):
    """The BM25 half of the composed deletion lifecycle (r9 verdict
    item 6): delete a document set, then append a new batch — the
    result is BIT-IDENTICAL (snap_id and sentinel included) to
    rebuilding on (corpus - deleted + batch), plain and bucketed."""
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_append,
        bm25_index_delete,
    )

    corpus = spark.createDataFrame(
        [(i, f"term{i % 4} shared common word{i}") for i in range(10)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(20, "shared fresh ingest"), (21, "term1 fresh")],
        "doc_id long, text string")
    dead = spark.createDataFrame([(0,), (3,), (6,)], "doc_id long")
    final = corpus.join(dead, "doc_id", "left_anti").unionByName(batch)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for nb in (None, 4):
        shrunk = bm25_index_delete(
            bm25_index(corpus, n_buckets=nb).localCheckpoint(eager=False),
            dead).localCheckpoint(eager=False)
        composed = bm25_index_append(shrunk, batch, n_buckets=nb)
        assert rows(composed) == rows(bm25_index(final, n_buckets=nb)), nb


@_mark_slow
def test_auc_score_vs_python_reference(spark):
    """auc_score vs a pure-Python midrank reference on LCG-random
    scores with heavy ties; a constant scorer is exactly 500000; a
    perfect separator is exactly 1e6; one-class inputs yield NULL."""
    from dbt_core_spark.operators.textstats import auc_score

    rows, x = [], 11
    for i in range(80):
        x = (x * 1103515245 + 12345) % (2 ** 31)
        rows.append((i, (x % 9) - 4, 1 if (x >> 7) % 3 == 0 else 0))

    def ref_auc(data):
        from collections import Counter

        counts = Counter(s for _, s, _ in data)
        order = sorted(counts)
        cum, mid2 = 0, {}
        for s in order:
            mid2[s] = 2 * cum + counts[s] + 1
            cum += counts[s]
        P = sum(p for _, _, p in data)
        N = len(data) - P
        r2 = sum(mid2[s] for _, s, p in data if p)
        return ((r2 - P * (P + 1)) * 1000000) // (2 * P * N)

    scored = spark.createDataFrame(
        [(i, s) for i, s, _ in rows], "doc_id long, score long")
    positives = spark.createDataFrame(
        [(i,) for i, _, p in rows if p], "doc_id long")
    got = auc_score(scored, positives).collect()[0]
    assert got["auc_micro"] == ref_auc(rows)
    assert got["n_pos"] == sum(p for _, _, p in rows)
    # constant scorer: every midrank ties -> exactly 1/2
    const = spark.createDataFrame(
        [(i, 7) for i, _, _ in rows], "doc_id long, score long")
    assert auc_score(const, positives).collect()[0]["auc_micro"] == 500000
    # perfect separator
    perfect = spark.createDataFrame(
        [(i, 100 + i if p else i - 1000) for i, _, p in rows],
        "doc_id long, score long")
    assert auc_score(perfect, positives).collect()[0]["auc_micro"] == 1000000
    # one-class input: undefined -> NULL
    nopos = auc_score(
        scored, spark.createDataFrame([(999,)], "doc_id long")).collect()[0]
    assert nopos["auc_micro"] is None and nopos["n_pos"] == 0


def test_score_calibration_hand_computed(spark):
    """Calibration bins on a hand corpus with negative scores: lattice
    edges, micro rates, the floor-exact mean under a negative sum, the
    hi-score row clamped into the last bin, constant-score collapse to
    bin 0, and the n_bins guard."""
    import pytest

    from dbt_core_spark.operators.textstats import score_calibration

    scored = spark.createDataFrame(
        [(1, -10), (2, -9), (3, 0), (4, 5), (5, 10), (6, 10)],
        "doc_id long, score long")
    positives = spark.createDataFrame([(4,), (5,), (6,)], "doc_id long")
    got = {r["bin"]: r
           for r in score_calibration(scored, positives, n_bins=4).collect()}
    # span 20, width 5: bins [-10,-5) [-5,0) [0,5) [5,10]; -9 -> bin 0,
    # 0 -> bin 2, 5/10/10 -> bin 3 (hi clamps into the last bin)
    assert set(got) == {0, 2, 3}
    assert got[0]["n"] == 2 and got[0]["n_pos"] == 0
    assert got[0]["lo_score"] == -10
    # floor-exact mean of (-10, -9) = floor(-19/2) = -10
    assert got[0]["mean_score"] == -10
    assert got[2]["n"] == 1 and got[2]["lo_score"] == 0
    assert got[3]["n"] == 3 and got[3]["n_pos"] == 3
    assert got[3]["pos_rate_micro"] == 1000000
    assert got[3]["lo_score"] == 5 and got[3]["mean_score"] == 8
    # constant scorer collapses to one bin 0
    const = spark.createDataFrame(
        [(i, 42) for i in range(4)], "doc_id long, score long")
    c = score_calibration(const, positives, n_bins=4).collect()
    assert len(c) == 1 and c[0]["bin"] == 0 and c[0]["lo_score"] == 42
    with pytest.raises(ValueError, match="n_bins"):
        score_calibration(scored, positives, n_bins=0)


def test_bpe_merge_application_is_token_boundary_safe(spark):
    """The r10 BPE boundary fix: a merge pair whose rendering matches
    INSIDE a longer token must NOT fire ([xa, b] stays [xa, b] under
    merge (a, b)); adjacent repeats merge everywhere in one rank
    ([a,a,a,a] -> [aa, aa], not [aa, a, a]); and the Spark replace
    chain agrees with the driver-side trainer's list-based merge on a
    corpus engineered to hit both traps."""
    from dbt_core_spark.operators.corpus import (
        bpe_tokenize,
        bpe_train,
    )

    df = spark.createDataFrame(
        [(1, "xab"), (2, "aaaa"), (3, "ab ab")],
        "doc_id long, text string")
    # merge (a, b): 'xab' = [x, a, b] -> [x, ab]; the OLD substring
    # replace on 'x a b' would have produced the same here, but on
    # [xa, b] it differed — force that shape via a two-rank list
    toks = {r["doc_id"]: r["tokens"]
            for r in bpe_tokenize(df, [("x", "a"), ("a", "b")]).collect()}
    # rank 1 makes token 'xa'; rank 2 (a, b) must NOT merge 'xa b'
    assert toks[1] == ["xa", "b"]
    # adjacent repeats: one rank merges everywhere left-to-right
    toks2 = {r["doc_id"]: r["tokens"]
             for r in bpe_tokenize(df, [("a", "a")]).collect()}
    assert toks2[2] == ["aa", "aa"]
    # trainer agreement: the trained merges re-applied via the Spark
    # chain reproduce the trainer's own final vocabulary
    corpus = spark.createDataFrame(
        [(i, "xab aaaa abab") for i in range(4)],
        "doc_id long, text string")
    merges = bpe_train(corpus, n_merges=4)
    spark_toks = {tuple(r["tokens"]) for r in
                  bpe_tokenize(corpus, merges).collect()}
    assert len(spark_toks) == 1  # identical docs tokenize identically

    def list_merge(parts, a, b):
        out, i = [], 0
        while i < len(parts):
            if i + 1 < len(parts) and parts[i] == a and parts[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(parts[i])
                i += 1
        return out

    for word in ("xab", "aaaa", "abab"):
        parts = list(word)
        for a, b in merges:
            parts = list_merge(parts, a, b)
        got = next(iter(spark_toks))
        # the word's tokens appear contiguously in the doc tokenization
        s = ",".join(got)
        assert ",".join(parts) in s, (word, parts, got)


@_mark_slow
def test_bpe_train_batched_b1_equals_bpe_train(spark):
    """The uncapped distributed trainer, one merge per scan
    (bpe_train_batched at batch_size=1), must reproduce bpe_train
    exactly whenever the driver trainer's max_words cap is not binding
    — same merges, same order, ties included — and keep going past the
    point where a tiny corpus runs out of pairs."""
    from dbt_core_spark.operators.corpus import (
        bpe_train,
        bpe_train_batched,
    )

    df = spark.createDataFrame(
        [(i, "the then there and other another xab aaaa")
         for i in range(3)] + [(99, "zz qq zz")],
        "doc_id long, text string")
    for n in (3, 8):
        assert (bpe_train_batched(df, n_merges=n, batch_size=1)
                == bpe_train(df, n_merges=n, max_words=100_000)), n
    # pair exhaustion: a one-word corpus stops early on both
    tiny = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    assert (bpe_train_batched(tiny, n_merges=5, batch_size=1)
            == bpe_train(tiny, n_merges=5))


def test_auc_score_no_int64_overflow_past_2m_rows(spark):
    """The r10 ADVICE overflow case: at >2M scored rows the old bigint
    fold ((r2 − P(P+1))·1e6) wraps int64 silently under ANSI-off Spark
    while the DuckDB oracle's HUGEINT does not.  6.4M rows with
    P = N = 3.2M and positives in the TOP half of the score range
    (numerator ≈ 2·P·N ≈ 2e13) pushes the micro numerator to ~2e19,
    past int64's 9.2e18; the decimal(38,0) numerator + exact
    IntegralDivide must return the Python-bigint reference value."""
    from dbt_core_spark.operators.textstats import auc_score

    n = 6_400_000  # divisible by 8: every score class is n/8 rows
    scored = spark.range(n).selectExpr(
        "id as doc_id", "id % 8 as score")
    positives = spark.range(n).filter("id % 8 >= 4") \
        .selectExpr("id as doc_id")

    # exact Python-int midrank reference over the 8 score classes:
    # positives are exactly the classes 4..7 (perfect separation)
    counts = {s: n // 8 for s in range(8)}
    cum, mid2 = 0, {}
    for s in range(8):
        mid2[s] = 2 * cum + counts[s] + 1
        cum += counts[s]
    P = N = n // 2
    r2 = sum(mid2[s] * counts[s] for s in range(8) if s >= 4)
    expect = ((r2 - P * (P + 1)) * 1_000_000) // (2 * P * N)
    assert (r2 - P * (P + 1)) * 1_000_000 > 2**63 - 1  # the wrap zone

    got = auc_score(scored, positives).collect()[0]
    assert got["n_pos"] == P and got["n_neg"] == N
    assert got["auc_micro"] == expect


def test_bm25_constants_rejects_unstamped_rows_and_self_union(spark):
    """The r10 ADVICE snap_id blind spots, closed: (a) a legacy
    pre-snap_id index unioned in via
    unionByName(allowMissingColumns=True) leaves NULL-stamped rows the
    min/max check cannot see — the count(*)==count(snap_id) guard
    catches it; (b) a raw self-union of two builds of the IDENTICAL
    corpus shares one content-derived snap_id and would serve doubled
    postings — the bucket-0 sentinel count (exactly 1) catches it, on
    the serving path and on delete, which would otherwise drop both
    sentinels and re-stamp the doubled postings as one snapshot."""
    import pytest

    from dbt_core_spark.exceptions import ExecutionError
    from dbt_core_spark.operators.textstats import (
        _bm25_constants,
        bm25_index,
        bm25_index_delete,
        bm25_query,
    )

    corpus = spark.createDataFrame(
        [(1, "spark engine tuning"), (2, "pasta sauce recipe"),
         (3, "engine oil change")],
        "doc_id long, text string")

    # (a) legacy union: strip snap_id from one side, union back in
    idx = bm25_index(corpus)
    legacy = idx.drop("snap_id")
    mixed = idx.unionByName(legacy, allowMissingColumns=True)
    with pytest.raises(ExecutionError, match="unstamped row"):
        _bm25_constants(mixed)

    # (b) identical-corpus self-union of a BUCKETED index: same
    # snap_id everywhere, but TWO bucket-0 sentinels
    bidx = bm25_index(corpus, n_buckets=8)
    doubled = bidx.unionByName(bidx)
    with pytest.raises(ExecutionError, match="sentinel"):
        _bm25_constants(doubled)
    # and the serving path trips over it too (bucket 0 always scanned)
    queries = spark.createDataFrame(
        [(100, "engine")], "doc_id long, text string")
    with pytest.raises(ExecutionError, match="mixed corpus constants"):
        bm25_query(doubled, queries, top_k=3).count()
    with pytest.raises(ExecutionError, match="sentinel"):
        bm25_index_delete(
            doubled, spark.createDataFrame([], "id long")).count()

    # healthy indexes still validate clean through both paths
    assert _bm25_constants(idx) is not None
    assert _bm25_constants(bidx) is not None


# a bpe_train vocabulary cap no test corpus reaches, so bpe_train is
# the exact sequential reference for the distributed trainer
_BPE_UNCAPPED = 1_000_000


def test_bpe_train_batched_created_pair_tiny(spark):
    """Quick-tier pin of batched ≡ sequential BPE on the created-pair
    corpus ("x a b"×10 + "c d"×9): merging (a, b) creates (x, ab),
    which outranks (c, d), so every batch size must stop its batch
    there and reproduce bpe_train merge for merge."""
    from dbt_core_spark.operators.corpus import bpe_train, bpe_train_batched

    df = spark.createDataFrame(
        [(i, "xab") for i in range(10)] + [(100 + i, "cd") for i in range(9)],
        "doc_id long, text string")
    seq = bpe_train(df, n_merges=4, max_words=_BPE_UNCAPPED)
    assert seq[:2] == [("a", "b"), ("x", "ab")]
    for bs in (1, 2, 8):
        assert bpe_train_batched(df, n_merges=4, batch_size=bs) == seq, bs


@_mark_slow
def test_bpe_train_batched_equals_sequential(spark, sf_dir):
    """The r10 verdict item 2 'Done' pin: bpe_train_batched(B=8) is
    merge-for-merge identical to the sequential reference trainer
    (bpe_train, its vocabulary cap not binding) on the GATE corpus (the
    full documents table bpe_train_docs trains on), and on mixed
    natural-text corpora, at several batch sizes — while running no
    more pair-count scans than merges."""
    from dbt_core_spark.operators.corpus import (
        bpe_train,
        bpe_train_batched,
        bpe_train_batched_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seq = bpe_train(docs, n_merges=16, max_words=_BPE_UNCAPPED)
    for bs in (2, 4, 8):
        assert bpe_train_batched(docs, n_merges=16, batch_size=bs) == seq, bs
    merges, scans = bpe_train_batched_stats(docs, n_merges=16, batch_size=8)
    assert merges == seq
    assert scans <= 16  # never worse than one scan per merge

    mixed = spark.createDataFrame(
        [(i, "the then there and other another xab aaaa qq zz")
         for i in range(4)] + [(99, "banana bandana cabana")],
        "doc_id long, text string")
    seq2 = bpe_train(mixed, n_merges=12, max_words=_BPE_UNCAPPED)
    assert bpe_train_batched(mixed, n_merges=12, batch_size=8) == seq2


@_mark_slow
def test_bpe_train_batched_rejects_naive_independent_set(spark):
    """The adversarial corpus where a plain greedy independent set
    DIVERGES from sequential BPE: word 'xab'×10 + word 'cd'×9.  Scan-1
    counts are (a,b)=10, (x,a)=10, (c,d)=9; merging (a,b) CREATES
    (x,ab)=10, so the true second merge is (x,ab) — never (c,d), which
    the naive batcher would have taken as the top disjoint pair.  The
    exact batcher must stop the batch instead and match sequential
    output, at every batch size."""
    from dbt_core_spark.operators.corpus import (
        bpe_train,
        bpe_train_batched,
    )

    rows = [(i, "xab") for i in range(10)] + \
           [(100 + i, "cd") for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seq = bpe_train(df, n_merges=4, max_words=_BPE_UNCAPPED)
    assert seq[:2] == [("a", "b"), ("x", "ab")]  # the trap, confirmed
    for bs in (2, 4, 8):
        assert bpe_train_batched(df, n_merges=4, batch_size=bs) == seq, bs
    # batch_size=1 degenerates to the sequential trainer by construction
    assert bpe_train_batched(df, n_merges=4, batch_size=1) == seq


@_mark_slow
def test_bpe_train_batched_fuzz_vs_sequential(spark):
    """LCG-random tiny corpora (heavy ties, repeated chars, shared
    tokens between frequent words) — batched must equal sequential on
    every draw; ties and created-pair hazards are the point."""
    from dbt_core_spark.operators.corpus import (
        bpe_train,
        bpe_train_batched,
    )

    x = 7
    words = ["ab", "ba", "aab", "abb", "cd", "dc", "xy", "abcd", "aa"]
    for trial in range(4):
        rows = []
        for i in range(24):
            x = (x * 1103515245 + 12345) % (2 ** 31)
            w1 = words[x % len(words)]
            w2 = words[(x >> 8) % len(words)]
            rows.append((trial * 100 + i, f"{w1} {w2}"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        seq = bpe_train(df, n_merges=10, max_words=_BPE_UNCAPPED)
        got = bpe_train_batched(df, n_merges=10, batch_size=6)
        assert got == seq, (trial, got, seq)


def test_char_ngrams_hand_verified(spark):
    """char_ngrams edges: boundary pads around the space-joined
    normalized words, one-word corpus keeps its two pads, no-word text
    yields ZERO grams (two pad spaces < n, never a pad-only gram),
    NULL text stays NULL (the normalized_words contract — operators
    filter NULLs before tokenizing), and punctuation normalizes away
    before gramming."""
    from dbt_core_spark.operators.textstats import char_ngrams

    df = spark.createDataFrame(
        [(1, "Hello AB"), (2, ""), (3, None), (4, "x"), (5, "a,b!")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["g"] for r in
           df.select("doc_id", char_ngrams("text").alias("g")).collect()}
    assert got[1] == [" he", "hel", "ell", "llo", "lo ", "o a", " ab",
                      "ab "]
    assert got[2] == [] and got[3] is None
    assert got[4] == [" x "]
    assert got[5] == [" a ", "a b", " b "]  # 'a,b!' -> words [a, b]


@_mark_slow
def test_langid_trained_beats_stopword_heuristic(spark):
    """The r10 verdict item 3 upgrade, demonstrated: on a synthetic
    trilingual corpus whose third language (pseudo-Italian) is OUTSIDE
    detect_language's 4-language stopword list, the char-trigram NB
    langid classifies the held-out slice near-perfectly while the
    heuristic structurally cannot (it never emits 'it'), and the
    trained model must also win on overall accuracy."""
    from dbt_core_spark.operators.textstats import (
        detect_language,
        langid_apply,
        langid_train,
    )

    en = ["the cat sat on the mat and the dog ran",
          "this is the house that jack built with wood",
          "where there is smoke there is fire burning"]
    fr = ["le chat est sur le tapis et le chien court",
          "c est la maison que jacques a construite en bois",
          "ou il y a de la fumee il y a du feu qui brule"]
    it = ["il gatto sta sul tappeto e il cane corre via",
          "questa e la casa che giacomo ha costruito con il legno",
          "dove c e fumo c e anche il fuoco che brucia"]
    rows = []
    i = 0
    for lang, texts in (("en", en), ("fr", fr), ("it", it)):
        for t in texts:
            for rep in range(4):  # 12 docs per language
                rows.append((i, f"{t} {t.split()[rep % 3]}", lang))
                i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = df.filter("doc_id % 3 != 0")
    test = df.filter("doc_id % 3 = 0")
    w, cs = langid_train(train)
    w = w.localCheckpoint(eager=False)
    cs = cs.localCheckpoint(eager=False)
    pred = langid_apply(test, w, cs).join(
        test.select("doc_id", "lang"), "doc_id")
    n_test = test.count()
    trained_acc = pred.filter("label = lang").count() / n_test
    heur = detect_language(test, "text", "doc_id").join(
        test.select("doc_id", "lang"), "doc_id")
    heur_acc = heur.filter("detected_lang = lang").count() / n_test
    assert trained_acc >= 0.9, trained_acc
    assert trained_acc > heur_acc, (trained_acc, heur_acc)
    # the heuristic can never say 'it'; the trained model must
    it_right = pred.filter("lang = 'it' and label = 'it'").count()
    assert it_right == test.filter("lang = 'it'").count()
    assert heur.filter("detected_lang = 'it'").count() == 0


@_mark_slow
def test_select_threshold_argmax_and_ties(spark):
    """select_threshold returns exactly the pr_curve row with maximal
    f1_micro, ties to the LOWEST threshold; empty-score input yields an
    empty frame."""
    from dbt_core_spark.operators.textstats import pr_curve, select_threshold

    # scores engineered so two thresholds tie on F1: positives = {1,2};
    # t=10: tp=1 fp=1 fn=1 -> f1 = 2/(2+1+1) = 500000; t=5: tp=2 fp=4
    # fn=0 -> f1 = 4/(4+4+0) = 500000 — a genuine tie; lowest
    # threshold (higher recall) wins
    scored = spark.createDataFrame(
        [(1, 10), (3, 10), (2, 5), (4, 5), (5, 5), (6, 5)],
        "doc_id long, score long")
    pos = spark.createDataFrame([(1,), (2,)], "doc_id long")
    curve = {r["threshold"]: r for r in pr_curve(scored, pos).collect()}
    assert curve[10]["f1_micro"] == curve[5]["f1_micro"] == 500000
    got = select_threshold(scored, pos).collect()
    assert len(got) == 1 and got[0]["threshold"] == 5
    assert got[0]["tp"] == 2 and got[0]["fp"] == 4 and got[0]["fn"] == 0

    # generic argmax property on an LCG corpus
    rows, x = [], 3
    for i in range(60):
        x = (x * 1103515245 + 12345) % (2 ** 31)
        rows.append((i, (x % 17) - 8, (x >> 9) % 4 == 0))
    scored2 = spark.createDataFrame(
        [(i, s) for i, s, _ in rows], "doc_id long, score long")
    pos2 = spark.createDataFrame(
        [(i,) for i, _, p in rows if p], "doc_id long")
    full = pr_curve(scored2, pos2).collect()
    best = sorted(full, key=lambda r: (-r["f1_micro"], r["threshold"]))[0]
    got2 = select_threshold(scored2, pos2).collect()[0]
    assert tuple(got2) == tuple(best)

    # empty scores -> empty result
    empty = spark.createDataFrame([], "doc_id long, score long")
    assert select_threshold(empty, pos).count() == 0


# ---------------------------------------------------------------------------
# decision stump (r11)
# ---------------------------------------------------------------------------


def test_stump_train_finds_separating_threshold(spark):
    """Perfectly separable data: the stump must find a zero-error
    split at the class boundary."""
    from dbt_core_spark.operators.textstats import stump_apply, stump_train

    rows = [(i, i, 0 if i <= 10 else 1) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "doc_id long, f long, y int")
    s = stump_train(df, ["f"], label_col="y").collect()[0]
    assert s.train_error == 0
    assert s.feature == "f" and s.threshold == 10
    assert s.left_label == 0 and s.right_label == 1

    preds = stump_apply(
        df, stump_train(df, ["f"], label_col="y"), ["f"]
    ).collect()
    assert all(p.pred == (0 if p.doc_id <= 10 else 1) for p in preds)


def test_stump_train_picks_better_feature_and_tiebreak(spark):
    """Two features: noise vs informative — the informative one must
    win; with identical error, feature name ASC then threshold ASC."""
    from dbt_core_spark.operators.textstats import stump_train

    rows = [(i, i % 2, i, 0 if i <= 5 else 1) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "doc_id long, noise long, sig long, y int")
    s = stump_train(df, ["noise", "sig"], label_col="y").collect()[0]
    assert s.feature == "sig" and s.train_error == 0

    # duplicated feature under two names → equal error; 'a' < 'b'
    rows2 = [(i, i, i, 0 if i <= 5 else 1) for i in range(1, 11)]
    df2 = spark.createDataFrame(rows2, "doc_id long, b long, a long, y int")
    s2 = stump_train(df2, ["b", "a"], label_col="y").collect()[0]
    assert s2.feature == "a"


def test_stump_null_handling(spark):
    """NULL label drops the row; NULL value drops the row for that
    feature only; NULL chosen-feature at serve time → NULL pred."""
    from dbt_core_spark.operators.textstats import stump_apply, stump_train

    rows = [
        (1, 1, None, 0), (2, 2, 5, 0), (3, 3, 6, None),
        (4, 10, 7, 1), (5, 11, 8, 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, f long, g long, y int")
    model = stump_train(df, ["f", "g"], label_col="y")
    s = model.collect()[0]
    assert s.train_error == 0 and s.feature == "f"

    served = spark.createDataFrame(
        [(9, None, 1)], "doc_id long, f long, g long")
    out = stump_apply(served, model, ["f", "g"]).collect()
    assert out[0].pred is None


def test_stump_majority_tie_prefers_positive(spark):
    """A leaf with equal class counts predicts 1 (pinned tie rule)."""
    from dbt_core_spark.operators.textstats import stump_train

    rows = [(1, 1, 0), (2, 1, 1)]
    df = spark.createDataFrame(rows, "doc_id long, f long, y int")
    s = stump_train(df, ["f"], label_col="y").collect()[0]
    # single candidate threshold (f=1): left has {0,1} → tie → 1
    assert s.left_label == 1 and s.train_error == 1


# ---------------------------------------------------------------------------
# leakage-safe group split (r11)
# ---------------------------------------------------------------------------


def test_group_split_cluster_members_share_split(spark):
    """The leakage property: every member of a connected dup cluster
    (even via a chain A~B, B~C with A!~C) gets the same split."""
    from dbt_core_spark.operators.textstats import group_split

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 11)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    out = group_split(docs, pairs).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == 10
    assert by_id[1].split == by_id[2].split == by_id[3].split
    assert by_id[1].grp == by_id[2].grp == by_id[3].grp == 1
    assert by_id[7].split == by_id[9].split and by_id[7].grp == 7


def test_group_split_singletons_match_assign_splits_buckets(spark):
    """With an empty pair graph every doc is its own group: buckets
    equal assign_splits' buckets under the same salt (the degrade-to-
    per-doc contract)."""
    from dbt_core_spark.operators.textstats import assign_splits, group_split

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    g = {r.doc_id: (r.bucket, r.split)
         for r in group_split(docs, empty_pairs, salt="s").collect()}
    a = {r.doc_id: (r.bucket, r.split)
         for r in assign_splits(docs, salt="s").collect()}
    assert g == a


def test_classification_summary_exact_macro(spark):
    """Hand-checkable confusion: macro metrics are the floor-div mean
    of the per-class micro values; accuracy is Σtp/Σgold."""
    from dbt_core_spark.operators.textstats import classification_summary

    preds = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "doc_id long, label string")
    gold = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, "b")], "doc_id long, label string")
    row = classification_summary(preds, gold).collect()[0]
    # tp: a=1 (id1), b=2 (ids 3,4); n_scored=4 → accuracy 750000
    assert row.n_scored == 4 and row.n_classes == 2
    assert row.accuracy_micro == 750_000
    # per-class precision: a=1/2, b=2/2 → macro (500000+1000000)//2
    assert row.macro_precision_micro == 750_000
    # per-class recall: a=1/1, b=2/3 → (1000000+666666)//2 = 833333
    assert row.macro_recall_micro == 833_333
    # per-class f1: a=2/3→666666, b=4/5→800000 → 733333
    assert row.macro_f1_micro == 733_333


def test_classification_summary_empty_is_one_zero_row(spark):
    from dbt_core_spark.operators.textstats import classification_summary

    preds = spark.createDataFrame([], "doc_id long, label string")
    gold = spark.createDataFrame([], "doc_id long, label string")
    rows = classification_summary(preds, gold).collect()
    assert len(rows) == 1
    assert rows[0].n_scored == 0 and rows[0].accuracy_micro == 0


def test_strip_html_semantics(spark):
    from dbt_core_spark.operators.textstats import strip_html

    rows = [
        (1, '<p>Hello <b>world</b></p>'),
        (2, '<script>var x = "<p>not text</p>";</script>after'),
        (3, 'A&amp;B &amp;lt; stays-escaped &lt; decoded'),
        (4, 'a<br/>b'),          # tag must become a word boundary
        (5, None),
        (6, '<style media="x">h1 {}</style>text<!-- gone -->'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_html(df).collect()}
    assert out[1].text_clean == "Hello world" and out[1].n_tags == 4
    assert out[2].text_clean == "after"
    # double-escape rule: &amp;lt; -> &lt; (NOT <); bare &lt; -> <
    assert out[3].text_clean == "A&B &lt; stays-escaped < decoded"
    assert out[4].text_clean == "a b"
    assert out[5].text_clean is None and out[5].n_tags is None
    assert out[6].text_clean == "text"


def test_group_kfold_cluster_members_share_fold(spark):
    from dbt_core_spark.operators.textstats import group_kfold

    docs = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 5)], "id_a long, id_b long")
    out = {r.doc_id: r for r in group_kfold(docs, pairs, k=3).collect()}
    assert out[1].fold == out[2].fold == out[5].fold
    assert all(0 <= r.fold < 3 for r in out.values())


@_mark_slow
def test_stump_binned_equivalence_and_bounding(spark):
    """max_bins covering every feature's range ⇒ IDENTICAL to the
    exact search; tight max_bins still finds a zero-error split when
    the class boundary falls on a bin edge, and the candidate count
    is bounded by bins."""
    from dbt_core_spark.operators.textstats import stump_train

    rows = [(i, i * 3, (i * 7) % 40, 0 if i <= 12 else 1)
            for i in range(1, 25)]
    df = spark.createDataFrame(rows, "doc_id long, f long, g long, y int")
    exact = stump_train(df, ["f", "g"], label_col="y").collect()
    wide = stump_train(df, ["f", "g"], label_col="y",
                       max_bins=1000).collect()
    assert [tuple(r) for r in exact] == [tuple(r) for r in wide]

    # 8 equal-width bins over f's range [3, 72]: boundary 12*3=36 sits
    # in some bin; binned threshold = that bin's max OBSERVED value —
    # error can only grow, never a wrong-side leaf label
    binned = stump_train(df, ["f"], label_col="y", max_bins=8).collect()[0]
    assert binned.train_error <= 2  # exact is 0; bin rounding bounded


def test_stump_binned_single_value_feature(spark):
    """Degenerate range (hi == lo): one bin, threshold = the value —
    the decimal bin expression must not divide by zero or emit a
    threshold below the observed value."""
    from dbt_core_spark.operators.textstats import stump_train

    rows = [(i, 5, 0 if i <= 2 else 1) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, f long, y int")
    s = stump_train(df, ["f"], label_col="y", max_bins=4).collect()[0]
    assert s.threshold == 5


def test_corpus_profile_exact_stats(spark):
    from dbt_core_spark.operators.corpus import corpus_profile

    rows = [
        (1, "aa", "en", "web"), (2, "aa", "en", "web"),
        (3, "bbbb", "fr", "web"), (4, None, None, "web"),
        (5, "x", "de", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    out = {r.source: r for r in corpus_profile(df).collect()}
    web = out["web"]
    assert web.n_docs == 4 and web.n_texts == 3
    assert web.n_chars_total == 8 and web.mean_chars == 2   # 8 div 3
    assert web.n_distinct_texts == 2
    # (3-2)*1e6 div 3 = 333333
    assert web.dup_rate_micro == 333_333
    assert web.n_langs == 2 and web.top_lang == "en"
    # NULL source: own group, NULL top_lang via join semantics
    ns = out[None]
    assert ns.n_docs == 1 and ns.top_lang is None


def test_corpus_profile_top_lang_tie_breaks_asc(spark):
    from dbt_core_spark.operators.corpus import corpus_profile

    rows = [(1, "a", "fr", "s"), (2, "b", "en", "s")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    assert corpus_profile(df).collect()[0].top_lang == "en"


def test_strip_html_engine_portable_whitespace_and_case(spark):
    """Code-review regression pins: a vertical tab (Java \\s includes
    \\x0B, RE2 does not — both engines now use the explicit ASCII
    class) and a mixed-case script tag (explicit case classes, no
    (?i) Unicode folding divergence)."""
    from dbt_core_spark.operators.textstats import strip_html

    rows = [(1, "a\x0bb"), (2, "<SCRIPT>x</SCRIPT>after"),
            (3, "ſcript is prose <p>t</p>")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text_clean for r in strip_html(df).collect()}
    assert out[1] == "a b"
    assert out[2] == "after"
    assert out[3] == "ſcript is prose t"


def test_group_split_string_ids(spark):
    """String ids must hash on their string form (the assign_splits
    contract) — the former bigint cast NULLed/threw on them."""
    from dbt_core_spark.operators.textstats import assign_splits, group_split

    docs = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(20)], "doc_id string")
    empty = spark.createDataFrame([], "id_a string, id_b string")
    g = {r.doc_id: r.split
         for r in group_split(docs, empty, salt="s").collect()}
    a = {r.doc_id: r.split for r in assign_splits(docs, salt="s").collect()}
    assert g == a and len(set(g.values())) >= 2


def test_stump_binned_extreme_range_no_overflow(spark):
    """Feature range wider than int64 (hi - lo overflows bigint):
    the decimal-carried bin expression must still train."""
    from dbt_core_spark.operators.textstats import stump_train

    lo, hi = -6_000_000_000_000_000_000, 6_000_000_000_000_000_000
    rows = [(1, lo, 0), (2, lo + 10, 0), (3, hi - 10, 1), (4, hi, 1)]
    df = spark.createDataFrame(rows, "doc_id long, f long, y int")
    s = stump_train(df, ["f"], label_col="y", max_bins=4).collect()[0]
    assert s.train_error == 0


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    """(validator module, DuckDB connection over every testdata table)."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_validate_oracles",
        os.path.join(root, "scripts", "validate_oracles.py"))
    vo = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vo)
    con = vo.duck_connect(sf_dir)
    yield vo, con
    con.close()


# The embedding-similarity (IVF/ANN/dedup/serve) gates, the text gates
# and the near-duplicate gates below run in the quick tier: they
# re-prove the shared BLAS kernels of operators/similarity.py, the
# shared text kernels of operators/textstats.py and the shared
# near-duplicate kernels of operators/dedup.py against their oracles on
# every plain test run (~80 s and ~61 s of Spark time at sf0.001 on 4
# vCPUs for the first two).  Every other gate stays in the slow tier.
_QUICK_GATES = {
    "cosine_topk_blas_embeddings",
    "ann_lsh_topk_embeddings",
    "ann_ivf_topk_embeddings",
    "ann_ivf_blas_topk_embeddings",
    "ann_ivf_index_query_embeddings",
    "ann_ivf_index_append_embeddings",
    "ann_recall_ivf_embeddings",
    "semantic_dedup_incremental_embeddings",
    "semantic_dedup_blas_embeddings",
    "ann_ivf_rebalance_embeddings",
    "streaming_ann_serve_embeddings",
    "ann_ivf_index_delete_embeddings",
    "ann_ivf_lifecycle_embeddings",
    "knn_classify_ivf_embeddings",
    "streaming_knn_serve_embeddings",
    # BM25 snapshot lifecycle and retrieval
    "bm25_rank_docs",
    "hybrid_retrieval_docs",
    "bm25_index_append_docs",
    "streaming_bm25_serve_docs",
    "bm25_index_delete_docs",
    "retrieval_eval_docs",
    # ... the perceptron trainers
    "perceptron_language_docs",
    "perceptron_ovr_language_docs",
    "perceptron_avg_language_docs",
    # ... and the score/classifier evaluation verbs
    "pr_curve_language_docs",
    "threshold_select_language_docs",
    "auc_language_docs",
    "calibration_language_docs",
    "classifier_eval_docs",
    "langid_eval_docs",
    "knn_eval_embeddings",
    "classifier_summary_docs",
    # the near-duplicate family of operators/dedup.py and the BPE trainer
    "dedup_exact_docs",
    "ngram_jaccard_docs",
    "containment_pairs_docs",
    "minhash_lsh_docs",
    "incremental_dedup_docs",
    "minhash_index_delete_docs",
    "winnow_fingerprint_docs",
    "cc_dedup_docs",
    "decontaminate_docs",
    "decontaminate_bloom_docs",
    "decontaminate_cut_docs",
    "streaming_decontaminate_docs",
    "dup_span_docs",
    "dup_span_cut_docs",
    "bpe_train_docs",
}


@pytest.mark.parametrize("gate_name", [
    pytest.param(g, marks=() if g in _QUICK_GATES else _mark_slow)
    for g in em.queries()
])
def test_gate_matches_oracle(spark, sf_dir, oracle_con, gate_name):
    """Every registry gate end to end: the __spark_entry__ callable vs
    its oracles.ORACLES SQL through the validator's own compare (column
    names, arrow type families, sorted row values) on the sf corpus."""
    vo, con = oracle_con
    ok, msg = vo.compare(
        gate_name, spark, con, sf_dir,
        em.queries()[gate_name], em.oracle_sql()[gate_name])
    assert ok, msg
