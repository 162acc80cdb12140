"""Property-based tests (hypothesis) for the deterministic corpus ops:
each op's integer/hash contract is re-implemented in pure Python and
checked against the Spark result on randomized corpora.  This is the
engine-independence property the DuckDB oracles rely on, pinned at the
unit level (SURVEY §5 — the reference's test strategy mixes example and
property tests the same way).

One shared Spark action per example keeps runtime sane: corpora are
small (≤ 40 docs) and settings cap examples.
"""

import hashlib
import math
import re
from collections import Counter, defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbt_core_spark.operators import corpus as C
from _slowmark import _mark_slow  # noqa: E402

WORD = st.sampled_from(["alpha", "beta", "gamma", "delta", "x1", "y2", "the"])
TEXT = st.lists(WORD, min_size=0, max_size=12).map(" ".join)
SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _md5_mod(value: str, mod: int, seed: str = "") -> int:
    h = hashlib.md5(f"{seed}:{value}".encode() if seed else value.encode())
    return int(h.hexdigest()[:15], 16) % mod


def _words(text: str) -> list[str]:
    cleaned = re.sub(r"[^a-z0-9 ]", " ", text.lower())
    return [w for w in re.split(r"\s+", cleaned) if w]


@_mark_slow
@given(st.lists(TEXT, min_size=2, max_size=25))
@settings(**SETTINGS)
def test_ngram_lm_matches_python_reference(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_lp_micro"])
        for r in C.ngram_lm_score(df, k_smooth=1).collect()
    }

    uni: Counter = Counter()
    bg: Counter = Counter()
    doc_bg: dict[int, Counter] = {}
    for i, t in rows:
        ws = _words(t)
        uni.update(ws)
        pairs = list(zip(ws, ws[1:]))
        bg.update(pairs)
        if pairs:
            doc_bg[i] = Counter(pairs)
    v = len(uni)
    want = {}
    for i, pairs in doc_bg.items():
        total = 0
        for (w1, w2), n_ij in pairs.items():
            lp = math.floor(
                math.log((bg[(w1, w2)] + 1) / (uni[w1] + v)) * 1e6
            )
            total += n_ij * lp
        want[i] = (sum(pairs.values()), total)
    assert got == want


@_mark_slow
@given(st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True),
       st.integers(0, 99), st.sampled_from([1, 3, 8]))
@settings(**SETTINGS)
def test_epoch_shuffle_matches_python_reference(spark, ids, seed, shards):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: (r["shard"], r["pos"])
           for r in C.epoch_shuffle(df, seed=seed, num_shards=shards).collect()}

    by_shard = defaultdict(list)
    for i in ids:
        key = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        by_shard[int(key[:15], 16) % shards].append((key, i))
    want = {}
    for shard, members in by_shard.items():
        for pos, (_, i) in enumerate(sorted(members), start=1):
            want[i] = (shard, pos)
    assert got == want


@_mark_slow
@given(st.lists(st.sampled_from(["web", "code", "books"]),
                min_size=3, max_size=40),
       st.sampled_from([{"web": 600_000, "code": 300_000, "books": 100_000},
                        {"web": 500_000, "code": 500_000}]))
@settings(**SETTINGS)
def test_mixture_sample_matches_python_reference(spark, sources, weights):
    if not all(s in {r for r in sources} for s in weights):
        # budget needs every weighted source present
        sources = sources + list(weights)
    rows = [(i, s) for i, s in enumerate(sources)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    got = {r["doc_id"] for r in C.mixture_sample(df, weights, seed=0).collect()}

    n = Counter(s for _, s in rows)
    budget = min(math.floor(n[s] * 1e6 / w) for s, w in weights.items())
    target = {s: math.floor(w * budget / 1e6) for s, w in weights.items()}
    want = {
        i for i, s in rows
        if s in weights
        and _md5_mod(str(i), 1_000_000, seed="0") * n[s] < target[s] * 1_000_000
    }
    assert got == want


@_mark_slow
@given(st.lists(TEXT, min_size=1, max_size=25))
@settings(**SETTINGS)
def test_bpe_pairs_match_python_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {(r["pair"]): (r["n"], r["rank"])
           for r in C.bpe_pair_stats(df, top_n=1000).collect()}

    vocab = Counter()
    for t in texts:
        vocab.update(w for w in _words(t) if len(w) >= 2)
    pairs: Counter = Counter()
    for w, n in vocab.items():
        for i in range(len(w) - 1):
            pairs[w[i:i + 2]] += n
    ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
    want = {p: (n, rank) for rank, (p, n) in enumerate(ranked, start=1)}
    assert got == want


@_mark_slow
@given(st.lists(TEXT, min_size=1, max_size=20), st.sampled_from([2, 3]))
@settings(**SETTINGS)
def test_line_dedup_matches_python_reference(spark, texts, min_docs):
    # multi-line docs: re-flow each text into 2-word lines
    def reflow(t):
        ws = t.split(" ") if t else [""]
        return "\n".join(" ".join(ws[i:i + 2]) for i in range(0, len(ws), 2))

    rows = [(i, reflow(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_removed"])
           for r in C.line_dedup(df, min_docs=min_docs).collect()}

    norm = lambda ln: ln.strip().lower()  # noqa: E731
    docs_per_line = defaultdict(set)
    for i, t in rows:
        for ln in t.split("\n"):
            if norm(ln):
                docs_per_line[norm(ln)].add(i)
    boiler = {ln for ln, ds in docs_per_line.items() if len(ds) >= min_docs}
    want = {}
    for i, t in rows:
        lines = t.split("\n")
        kept = [ln for ln in lines if norm(ln) not in boiler]
        want[i] = ("\n".join(kept), len(lines), len(lines) - len(kept))
    assert got == want


@_mark_slow
@given(
    m_cells=st.lists(st.integers(0, 3), min_size=1, max_size=25),
    p_cells=st.lists(st.integers(0, 3), min_size=1, max_size=25),
    cap=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_skew_split_2d_every_pair_exactly_once(spark, m_cells, p_cells, cap):
    """The 2-D hot-cell blocking invariant every BLAS kernel relies on:
    for any member/probe cell assignment and any cap, each same-cell
    (member, probe) pair appears in EXACTLY ONE (cell, msub, psub)
    group, each cell splits into exactly ceil(n/cap) blocks per side
    (block population is hash-balanced in expectation), and a cell
    only one side reaches emits no row."""
    from pyspark.sql import functions as F

    from dbt_core_spark.operators.similarity import _skew_split_2d

    members = spark.createDataFrame(
        [(i, [float(i)], c) for i, c in enumerate(m_cells)],
        "id long, v array<double>, cell int",
    )
    probes = spark.createDataFrame(
        [(1000 + i, [float(i)], c) for i, c in enumerate(p_cells)],
        "id long, v array<double>, cell int",
    )
    rows = _skew_split_2d(members, probes, cap).collect()
    groups = defaultdict(lambda: ([], []))
    for r in rows:
        side = groups[(r["cell"], r["msub"], r["psub"])]
        side[0 if r["is_member"] else 1].append(r["id"])
    # block structure: each cell splits into exactly ceil(n/cap) blocks
    # per side (sizes are hash-balanced in EXPECTATION, not adversarial-
    # exact — tiny caps can collide, which is why the claim and this
    # test pin the block COUNT, and kernel memory is bounded by matmul
    # chunking regardless)
    mc, pc = Counter(m_cells), Counter(p_cells)
    for (cell, msub, psub) in groups:
        assert 0 <= msub < max(1, -(-mc.get(cell, 0) // cap))
        assert 0 <= psub < max(1, -(-pc.get(cell, 0) // cap))
    # coverage: every same-cell pair met exactly once
    seen = Counter()
    for (cell, _, _), (ms, ps) in groups.items():
        for m in ms:
            for p in ps:
                seen[(m, p)] += 1
    expected = {
        (m_i, 1000 + p_i)
        for m_i, mc in enumerate(m_cells)
        for p_i, pc in enumerate(p_cells)
        if mc == pc
    }
    assert set(seen) == expected
    assert all(v == 1 for v in seen.values()), seen.most_common(3)
    # no row from a one-sided cell: it could meet no pair
    assert {cell for cell, _, _ in groups} <= set(m_cells) & set(p_cells)


# ---------------- session-5 operators ----------------

@_mark_slow
@given(st.lists(st.tuples(st.integers(0, 3600), st.integers(0, 3000),
                          st.integers(1, 900)),
                min_size=1, max_size=25),
       st.sampled_from([60, 300, 1000]))
@settings(**SETTINGS)
def test_range_join_equals_naive_on_random_intervals(spark, rows, width):
    """Bucketed range join == brute-force containment on random point
    and interval layouts, for any bucket width."""
    import datetime as dt

    from dbt_core_spark.operators.asof import range_join

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=p)) for i, (p, _, _) in enumerate(rows)],
        ["pid", "ts"])
    rng = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + d))
         for i, (_, s, d) in enumerate(rows)],
        ["rid", "start", "end"])
    got = sorted((r["pid"], r["rid"]) for r in range_join(
        pts, rng, "ts", "start", "end", bucket_width=width).collect())
    exp = sorted(
        (i, j)
        for i, (p, _, _) in enumerate(rows)
        for j, (_, s, d) in enumerate(rows)
        if s <= p <= s + d
    )
    assert got == exp


@_mark_slow
@given(st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f", "g"]),
                min_size=1, max_size=60),
       st.integers(2, 4), st.sampled_from([8, 64]))
@settings(**SETTINGS)
def test_cms_estimate_bounds_property(spark, values, depth, width):
    """CMS never underestimates, and over-estimates at most by the
    total count (trivial bound) — for any depth/width."""
    from dbt_core_spark.operators.sketches import cms_build, cms_estimate

    df = spark.createDataFrame([(v,) for v in values], ["v"])
    sk = cms_build(df, "v", depth=depth, width=width)
    est = {r["v"]: r["est_cnt"] for r in cms_estimate(
        sk, df.select("v").distinct(), "v", depth=depth, width=width).collect()}
    true = Counter(values)
    assert set(est) == set(true)
    for v, t in true.items():
        assert t <= est[v] <= len(values)


@_mark_slow
@given(st.lists(st.tuples(st.integers(0, 500), st.integers(0, 500)),
                min_size=1, max_size=40, unique=True),
       st.integers(2, 6))
@settings(**SETTINGS)
def test_zorder_code_interleave_property(spark, pairs, bits):
    """zcode reproduces the pure-python Morton interleave of the scaled
    coordinates, and is order-preserving per dimension at fixed other
    coordinate."""
    from dbt_core_spark.operators.layout import zorder_code

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], ["rid", "a", "b"])
    got = {r["rid"]: r["zcode"]
           for r in zorder_code(df, "a", "b", bits=bits).collect()}

    amin, amax = min(a for a, _ in pairs), max(a for a, _ in pairs)
    bmin, bmax = min(b for _, b in pairs), max(b for _, b in pairs)

    def scale(v, lo, hi):
        return math.floor((v - lo) * (1 << bits) / (hi - lo + 1))

    def morton(a, b):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for i, (a, b) in enumerate(pairs):
        assert got[i] == morton(scale(a, amin, amax), scale(b, bmin, bmax))


@_mark_slow
@given(st.lists(TEXT, min_size=1, max_size=20), st.integers(8, 64))
@settings(**SETTINGS)
def test_classifier_score_matches_python_reference_property(spark, texts, dim):
    from dbt_core_spark.operators.textstats import classifier_score

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["n_words"], r["logit_e6"])
           for r in classifier_score(df, dim=dim).collect()}
    exp = {}
    for i, t in rows:
        ws = _words(t)
        if not ws:
            continue
        s = 0
        for w in ws:
            bucket = _md5_mod(w, dim, "clf")
            s += _md5_mod(str(bucket), 2001, "w") - 1000
        exp[i] = (len(ws), math.floor(s / len(ws)))
    assert got == exp


# ---------------- funnel: fold vs k-pass strategy parity ----------------

_FUNNEL_EVENT = st.tuples(
    st.integers(1, 6),                       # user
    st.integers(0, 30),                      # second offset
    st.sampled_from(["view", "click", "purchase", "other"]),
)


@_mark_slow
@given(st.lists(_FUNNEL_EVENT, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_funnel_fold_equals_kpass_property(spark, events):
    """Greedy-earliest optimality: the single-shuffle array fold and the
    k-pass nested-min form must agree on EVERY randomized event stream —
    including equal-timestamp events, missing steps, and repeated
    completions of early steps (the property the auto strategy switch
    relies on)."""
    import datetime as dt

    from dbt_core_spark.operators.sequence import funnel

    rows = [
        (i, u, dt.datetime(2024, 1, 1, 0, 0, s), et)
        for i, (u, s, et) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id int, user_id int, ts timestamp, event_type string")
    steps = ["view", "click", "purchase"]

    def key(res):
        return sorted(
            (r["user_id"], r["steps_completed"], tuple(r["step_ts"]),
             r["completed_at"]) for r in res.collect())

    assert key(funnel(df, steps, strategy="fold", tiebreak_col="event_id")) \
        == key(funnel(df, steps, strategy="kpass"))
