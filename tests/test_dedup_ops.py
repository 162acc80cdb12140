"""Dedup graph operators (engine extension)."""

from pyspark.sql import functions as F

from dbt_core_spark.operators.dedup import connected_components
from _slowmark import _mark_slow  # noqa: E402


def test_connected_components_chain(spark):
    """Transitive chains collapse to one component labeled by min id —
    the case single-link one-pass dedup gets wrong."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 3)], "id_a long, id_b long")
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 1), (10, 10), (11, 10)}


def test_connected_components_converges_early(spark):
    """A single pair converges without exhausting max_iter."""
    pairs = spark.createDataFrame([(7, 9)], "id_a long, id_b long")
    out = connected_components(pairs, max_iter=25)
    assert {(r.id, r.component) for r in out.collect()} == {(7, 7), (9, 7)}


def test_repetition_stats(spark):
    """Gopher repetition filters: dup-word fraction and top-bigram
    coverage with deterministic tiebreaks."""
    from dbt_core_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a"),     # bigrams: "a b"x2, "b a"x2 → tie, 'b a' wins (desc)
         (2, "x y z"),         # all distinct
         (3, "solo")],         # no bigrams
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_words"] == 5 and out[1]["n_distinct_words"] == 2
    assert abs(out[1]["dup_word_frac"] - 0.6) < 1e-12
    assert out[1]["top_bigram"] == "b a" and out[1]["top_bigram_count"] == 2
    assert abs(out[1]["top_bigram_frac"] - 0.5) < 1e-12
    assert out[2]["dup_word_frac"] == 0.0 and out[2]["top_bigram_count"] == 1
    # sub-2-word doc: 0 bigrams (the oracle's n_words-1 identity —
    # gate-fuzz alignment), no top bigram, NULL frac
    assert out[3]["top_bigram"] is None and out[3]["n_bigrams"] == 0
    assert out[3]["top_bigram_frac"] is None


def test_cap_per_group(spark):
    from dbt_core_spark.operators.textstats import cap_per_group

    df = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(10)], "doc_id long, source string")
    out = cap_per_group(df, "source", "doc_id", cap=3).collect()
    assert len(out) == 6  # 3 per source
    kept = sorted(r["doc_id"] for r in out)
    assert kept == [0, 1, 2, 3, 4, 5]  # lowest ids kept deterministically


def test_boilerplate_ngram_stats(spark):
    """Cross-doc common n-grams: fraction of a doc's distinct 3-grams
    appearing in >= min_docs documents."""
    from dbt_core_spark.operators.textstats import boilerplate_ngram_stats

    docs = [(i, "copyright footer text unique%d words here" % i) for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           boilerplate_ngram_stats(df, n=3, min_docs=4).collect()}
    # every doc: 4 distinct 3-grams; only 'copyright footer text' is in all 4
    for i in range(4):
        assert out[i]["n_shingles"] == 4
        assert out[i]["n_common_shingles"] == 1
        assert abs(out[i]["common_frac"] - 0.25) < 1e-12


def test_decontaminate(spark):
    """Docs sharing an n-gram with the probe set are flagged; clean docs
    are not."""
    from dbt_core_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "totally unrelated content words"),
         (3, "see the quick brown dog run")],
        "doc_id long, text string")
    probes = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in decontaminate(corpus, probes, n=3).collect()}
    assert set(out) == {1, 3}  # doc 2 clean
    assert out[1]["n_hits"] == 2  # 'the quick brown', 'quick brown fox'
    assert out[3]["n_hits"] == 1  # 'the quick brown'
    assert out[3]["sample_hit"] == "the quick brown"


@_mark_slow
def test_minhash_index_match_incremental(spark):
    """minhash_index → minhash_match finds batch-vs-corpus near-dups
    without a corpus self-join, matching exact Jaccard semantics."""
    from dbt_core_spark.operators.dedup import minhash_index, minhash_match

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark engines")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, base + " tail"),                 # near-dup of 1
         (101, "novel content never seen before in any corpus")],
        "doc_id long, text string")
    ci = minhash_index(corpus)
    bi = minhash_match(minhash_index(batch), ci, threshold=0.5)
    rows = bi.collect()
    assert [(r["corpus_id"], r["batch_id"]) for r in rows] == [(1, 100)]
    assert rows[0]["jaccard"] >= 0.5


def test_hll_distinct_accuracy_and_registers(spark):
    """Deterministic HLL: estimate within ~3σ (σ≈1.04/√256 = 6.5%) of the
    true cardinality, and registers bounded by m."""
    from dbt_core_spark.operators.sketches import hll_distinct

    df = spark.range(5000).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v"))
    out = {r["g"]: r for r in hll_distinct(df, "v", ["g"], p=8).collect()}
    for g in (0, 1):
        est, n_reg = out[g]["hll_estimate"], out[g]["n_registers"]
        assert abs(est - 2500) / 2500 < 0.20
        assert 0 < n_reg <= 256


def test_hll_merge_by_register_max(spark):
    """HLL's rollup property: the sketch of A∪B equals what register-max
    merging would give — verified by estimating the union directly vs
    unioning the inputs (same md5-derived registers either way)."""
    from dbt_core_spark.operators.sketches import hll_distinct

    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(1500, 4500).select(F.col("id").alias("v"))
    direct = hll_distinct(a.union(b), "v", p=8).collect()[0]["hll_estimate"]
    dedup = hll_distinct(
        a.union(b).dropDuplicates(["v"]), "v", p=8).collect()[0]["hll_estimate"]
    assert direct == dedup  # duplicates never move a register


def test_tfidf_top_terms(spark):
    """Common terms get ~zero idf; rare terms rank first; term-asc
    tiebreak within equal scores."""
    from dbt_core_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "common rare1 common"), (2, "common rare2"), (3, "common x y")],
        "doc_id long, text string")
    out = tfidf_top_terms(df, "text", "doc_id", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc[1][0]["term"] == "rare1" and by_doc[1][0]["df_docs"] == 1
    assert by_doc[1][1]["term"] == "common"  # ln(3/3)=0 score, still ranked
    assert by_doc[1][1]["tfidf"] == 0.0
    assert by_doc[3][0]["term"] == "x" and by_doc[3][1]["term"] == "y"  # tie → asc


def test_build_vocab_ids_and_min_count(spark):
    from dbt_core_spark.operators.textstats import build_vocab

    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a d")], "doc_id long, text string")
    rows = sorted(build_vocab(df, "text", vocab_size=2, min_count=2).collect(),
                  key=lambda r: r["token_id"])
    # a:3, b:3 tie → 'a' first; c,d dropped by min_count; vocab_size caps at 2
    assert [(r["token_id"], r["term"], r["n"]) for r in rows] == [
        (0, "a", 3), (1, "b", 3)]


def test_stratified_sample_rates(spark):
    """Expected per-group yield ≈ per_group; small groups kept whole
    (rate clamps at 1 via the integer compare)."""
    from dbt_core_spark.operators.textstats import stratified_sample

    big = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.lit("big").alias("source"))
    small = spark.range(9000, 9005).select(
        F.col("id").alias("doc_id"), F.lit("small").alias("source"))
    out = stratified_sample(big.union(small), "source", "doc_id", per_group=20)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 5            # rate 20/5 > 1 → keep all
    assert 5 <= counts["big"] <= 60        # E=20, md5-deterministic
    # deterministic: same inputs → same kept set
    again = stratified_sample(big.union(small), "source", "doc_id", per_group=20)
    assert sorted(r["doc_id"] for r in out.collect()) == \
        sorted(r["doc_id"] for r in again.collect())


def test_bloom_membership_no_false_negatives(spark):
    """Every present value must report might_contain=True (Bloom
    guarantees no false negatives); absent values mostly False at this
    sizing; results deterministic."""
    from dbt_core_spark.operators.sketches import bloom_membership

    corpus = spark.range(500).select(F.col("id").alias("v"))
    probes = spark.range(1000).select(F.col("id").alias("v"))
    out = {r["v"]: r["might_contain"]
           for r in bloom_membership(corpus, probes, "v", m_bits=8192, k=3).collect()}
    assert all(out[i] for i in range(500))          # no false negatives
    fps = sum(1 for i in range(500, 1000) if out[i])
    assert fps < 100                                 # FP rate ~(1-e^-3*500/8192)^3
    again = {r["v"]: r["might_contain"]
             for r in bloom_membership(corpus, probes, "v", m_bits=8192, k=3).collect()}
    assert out == again


def test_pack_sequences_bins(spark):
    """Contiguous packing: bin = floor(start_offset/budget) within each
    group ordered by id; offsets restart per group."""
    from dbt_core_spark.operators.textstats import pack_sequences

    df = spark.createDataFrame(
        [(1, "a", "w " * 6), (2, "a", "w " * 6), (3, "a", "w " * 6),
         (10, "b", "w " * 4)],
        "doc_id long, source string, text string")
    rows = {r["doc_id"]: r for r in
            pack_sequences(df, "text", "doc_id", "source", budget=10).collect()}
    assert (rows[1]["bin_id"], rows[1]["bin_offset"]) == (0, 0)
    assert (rows[2]["bin_id"], rows[2]["bin_offset"]) == (0, 6)   # starts at 6
    assert (rows[3]["bin_id"], rows[3]["bin_offset"]) == (1, 2)   # starts at 12
    assert (rows[10]["bin_id"], rows[10]["bin_offset"]) == (0, 0)  # new group


def test_histogram_quantiles_accuracy_and_merge(spark):
    """Quantile estimates land within one bin width of the exact
    quantile, and histograms merge: sketching a union equals sketching
    with pre-added counts (fixed bins are merge-order independent)."""
    from dbt_core_spark.operators.sketches import histogram_quantiles

    df = spark.range(10000).select((F.col("id") % 1000).cast("double").alias("v"))
    out = {r["q"]: r["quantile_est"]
           for r in histogram_quantiles(
               df, "v", quantiles=(0.5, 0.99), lo=0.0, hi=1000.0,
               n_bins=200).collect()}
    assert abs(out[0.5] - 500.0) <= 5.0   # bin width = 5
    assert abs(out[0.99] - 990.0) <= 5.0
    # merge-order independence: two halves unioned == whole
    a = spark.range(0, 5000).select((F.col("id") % 1000).cast("double").alias("v"))
    b = spark.range(5000, 10000).select((F.col("id") % 1000).cast("double").alias("v"))
    merged = {r["q"]: r["quantile_est"]
              for r in histogram_quantiles(
                  a.union(b), "v", quantiles=(0.5, 0.99), lo=0.0, hi=1000.0,
                  n_bins=200).collect()}
    assert merged == out


def test_bloom_membership_self_colliding_positions(spark):
    """A value whose own k md5 positions collide (v=50 has only 2
    distinct positions at m_bits=128) must still read might_contain=True
    when present — the verdict compares distinct hit bits to the probe's
    own distinct positions, never to the constant k."""
    from dbt_core_spark.operators.sketches import bloom_membership

    corpus = spark.createDataFrame([(50,), (51,)], "v long")
    probes = spark.createDataFrame([(50,), (51,), (52,)], "v long")
    out = {r["v"]: r["might_contain"]
           for r in bloom_membership(corpus, probes, "v", m_bits=128, k=3).collect()}
    assert out[50] is True
    assert out[51] is True


def test_sketches_ignore_nulls(spark):
    """KMV and HLL follow COUNT(DISTINCT) semantics: NULL values add no
    sketch state (previously a NULL fabricated a phantom rho_cap
    register in HLL, skewing the estimate)."""
    from dbt_core_spark.operators.sketches import hll_distinct, kmv_distinct

    with_nulls = spark.createDataFrame(
        [("g", str(i)) for i in range(100)] + [("g", None)] * 5, "g string, v string"
    )
    without = spark.createDataFrame(
        [("g", str(i)) for i in range(100)], "g string, v string"
    )
    for fn in (kmv_distinct, hll_distinct):
        a = fn(with_nulls, "v", ["g"]).collect()[0]
        b = fn(without, "v", ["g"]).collect()[0]
        assert a == b


@_mark_slow
def test_minhash_prefilter_before_exact_verify(spark, sf_dir):
    """The exact-Jaccard verify must be fed through the signature-
    agreement prefilter (zip_with equality fold over the two signature
    arrays) — shingle arrays only join for candidates passing it — and
    the verified output stays identical to exact Jaccard pairing."""
    import __spark_entry__ as em

    out = em.minhash_lsh_docs(spark, sf_dir)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "zip_with" in plan and "aggregate(" in plan
    rows = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # exact oracle: brute-force Jaccard over the same shingle sets
    from dbt_core_spark.operators.dedup import ngram_jaccard_pairs

    exact = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(
                 spark.read.parquet(f"{sf_dir}/documents.parquet"),
                 threshold=0.7).collect()}
    assert rows == exact


def test_cut_dup_spans_removes_copied_passage(spark):
    from dbt_core_spark.operators.dedup import cut_dup_spans, dup_ngram_spans

    rows = [
        (1, "intro words here the quick brown fox jumps over and more tail"),
        (2, "the quick brown fox jumps over something entirely different"),
        (3, "untouched document with no shared phrases inside it at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    spans = dup_ngram_spans(df, k=5, min_docs=2)
    out = {r["doc_id"]: r for r in cut_dup_spans(df, spans).collect()}
    # doc 1: words 4..9 cut -> "intro words here and more tail"
    assert out[1]["text_clean"] == "intro words here and more tail"
    assert out[1]["n_words"] == 12 and out[1]["n_removed"] == 6
    # doc 2: words 1..6 cut
    assert out[2]["text_clean"] == "something entirely different"
    assert out[2]["n_removed"] == 6
    # doc 3 untouched
    assert out[3]["n_removed"] == 0
    assert out[3]["text_clean"].startswith("untouched document")


def test_containment_catches_quoted_subset(spark):
    from dbt_core_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog tonight"
    long = (
        "opening paragraph with plenty of its own original material here "
        + short
        + " and then a very long tail of additional unrelated prose that "
        "keeps going with many more original shingles to dilute jaccard "
        "far below any symmetric threshold used in practice today"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id int, text string"
    )
    cont = ngram_containment_pairs(df, n=3, threshold=0.9).collect()
    assert len(cont) == 1
    r = cont[0]
    assert r["id_a"] == 1 and r["id_b"] == 2
    assert r["containment_a"] == 1.0  # every shingle of A is in B
    assert r["containment_b"] < 0.5
    # symmetric jaccard misses the same pair at its usual threshold
    assert ngram_jaccard_pairs(df, n=3, threshold=0.7).count() == 0


# ---------------- count-min sketch ----------------

def test_cms_never_underestimates_and_is_tight_when_wide(spark):
    from dbt_core_spark.operators.sketches import cms_build, cms_estimate

    rows = [(f"w{i % 7}",) for i in range(70)] + [("rare",)]
    df = spark.createDataFrame(rows, ["v"])
    sketch = cms_build(df, "v", depth=4, width=512)
    est = cms_estimate(sketch, df.select("v").distinct(), "v",
                       depth=4, width=512)
    true = {r["v"]: r["cnt"] for r in
            df.groupBy("v").agg(F.count("*").alias("cnt")).collect()}
    got = {r["v"]: r["est_cnt"] for r in est.collect()}
    assert set(got) == set(true)
    for v, t in true.items():
        assert got[v] >= t          # CMS never underestimates
        assert got[v] <= t + 3      # wide sketch: collisions are rare


def test_cms_merge_equals_whole(spark):
    from dbt_core_spark.operators.sketches import cms_build, cms_merge

    a = spark.createDataFrame([(f"x{i % 5}",) for i in range(40)], ["v"])
    b = spark.createDataFrame([(f"x{i % 9}",) for i in range(33)], ["v"])
    merged = cms_merge(cms_build(a, "v"), cms_build(b, "v"))
    whole = cms_build(a.unionByName(b), "v")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_cms_heavy_hitters_superset_of_true(spark):
    from dbt_core_spark.operators.sketches import cms_heavy_hitters

    rows = ([("hot",)] * 50 + [("warm",)] * 20
            + [(f"cold{i}",) for i in range(30)])
    df = spark.createDataFrame(rows, ["v"])
    got = {r["v"] for r in cms_heavy_hitters(df, "v", threshold=20,
                                             width=512).collect()}
    assert {"hot", "warm"} <= got
    # with width=512 and 32 distinct values, no false positives expected
    assert got == {"hot", "warm"}


def test_cms_sketch_size_is_bounded(spark):
    from dbt_core_spark.operators.sketches import cms_build

    df = spark.createDataFrame([(f"u{i}",) for i in range(500)], ["v"])
    sketch = cms_build(df, "v", depth=3, width=64)
    assert sketch.count() <= 3 * 64
    total = sketch.groupBy("row").sum("cnt").collect()
    assert all(r["sum(cnt)"] == 500 for r in total)  # each row counts all


# ---------------- KMV Jaccard ----------------

def test_kmv_jaccard_exact_when_small(spark):
    """Below k the sketch degenerates to the true Jaccard."""
    from dbt_core_spark.operators.sketches import kmv_jaccard

    a = spark.createDataFrame([(v,) for v in "abcdef"], ["v"])
    b = spark.createDataFrame([(v,) for v in "defghi"], ["v"])
    row = kmv_jaccard(a, b, "v", k=64).collect()[0]
    assert row["n_union_k"] == 9
    assert row["n_common"] == 3
    assert abs(row["jaccard_est"] - 3 / 9) < 1e-12


def test_kmv_jaccard_estimates_known_overlap(spark):
    """1000 vs 1000 values with 50% true Jaccard: k=256 estimate lands
    within ~3 standard errors (~0.1)."""
    from dbt_core_spark.operators.sketches import kmv_jaccard

    a = spark.createDataFrame([(f"x{i}",) for i in range(1000)], ["v"])
    b = spark.createDataFrame([(f"x{i}",) for i in range(500, 1500)], ["v"])
    row = kmv_jaccard(a, b, "v", k=256).collect()[0]
    true_j = 500 / 1500
    assert abs(row["jaccard_est"] - true_j) < 0.1


def test_kmv_jaccard_disjoint_and_identical(spark):
    from dbt_core_spark.operators.sketches import kmv_jaccard

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], ["v"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], ["v"])
    assert kmv_jaccard(a, b, "v", k=128).collect()[0]["jaccard_est"] == 0.0
    same = kmv_jaccard(a, a, "v", k=128).collect()[0]
    assert same["jaccard_est"] == 1.0


def test_decontaminate_bloom_matches_exact(spark, sf_dir):
    """The Bloom-prefiltered scale path returns BIT-IDENTICAL results to
    exact decontaminate — the Bloom test only prunes, the confirm join
    removes every false positive.  Checked on the real documents table
    with a probe set sliced from it (guaranteed hits) plus synthetic
    probes (guaranteed misses)."""
    from dbt_core_spark.operators.dedup import decontaminate, decontaminate_bloom

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = docs.filter("doc_id % 7 = 0").select("doc_id", "text").union(
        spark.createDataFrame(
            [(10**6, "zzz qqq www eee rrr ttt yyy uuu")],
            "doc_id long, text string",
        )
    )
    exact = {
        r["doc_id"]: (r["n_hits"], r["sample_hit"])
        for r in decontaminate(docs, probes, n=5).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_hits"], r["sample_hit"])
        for r in decontaminate_bloom(docs, probes, n=5).collect()
    }
    assert exact == bloom
    assert exact  # non-vacuous: the sliced probes contaminate something


def test_decontaminate_bloom_hostile(spark):
    """NULL/empty/unicode-hostile corpus; empty probe set yields an
    empty (schema-stable) result."""
    from dbt_core_spark.operators.dedup import decontaminate, decontaminate_bloom

    corpus = spark.createDataFrame(
        [(1, None), (2, ""), (3, "İstanbul ılık i̇ gün batımı ve deniz"),
         (4, "the quick brown fox jumps over dogs")],
        "doc_id long, text string")
    probes = spark.createDataFrame(
        [(9, "İstanbul ılık i̇ gün batımı ve deniz kenarı")],
        "doc_id long, text string")
    exact = {(r["doc_id"], r["n_hits"]) for r in
             decontaminate(corpus, probes, n=3).collect()}
    bloom = {(r["doc_id"], r["n_hits"]) for r in
             decontaminate_bloom(corpus, probes, n=3).collect()}
    assert exact == bloom and {d for d, _ in exact} == {3}

    empty_probes = spark.createDataFrame([], "doc_id long, text string")
    out = decontaminate_bloom(corpus, empty_probes, n=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "n_hits", "sample_hit"]


def test_contamination_spans_hand_computed(spark):
    """A corpus doc quoting a probe passage: the merged span covers
    exactly the quoted words (1-based inclusive), and cut_dup_spans
    removes precisely those words."""
    from dbt_core_spark.operators.dedup import (
        contamination_spans,
        cut_dup_spans,
    )

    probes = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "intro words here the quick brown fox jumps over the lazy "
             "dog tonight outro words"),
         (2, "completely unrelated text with no quoted passage at all"),
         (3, None)],
        "doc_id long, text string")
    spans = contamination_spans(corpus, probes, n=5)
    got = [tuple(r) for r in spans.collect()]
    # corpus doc 1 tokens: intro(1) words(2) here(3) the(4) ... tonight(13)
    # probe 5-grams hit starts 4..9 → merged span 4..13, 6 grams
    assert got == [(1, 4, 13, 10, 6)]
    cut = {r["doc_id"]: r for r in cut_dup_spans(corpus, spans).collect()}
    assert cut[1]["text_clean"] == "intro words here outro words"
    assert cut[1]["n_words"] == 15 and cut[1]["n_removed"] == 10
    assert cut[2]["n_removed"] == 0
    assert 3 not in cut  # NULL text never enters the token stream


def test_contamination_spans_empty_probe_and_short_docs(spark):
    """Empty probe corpus → no spans; docs shorter than n produce no
    grams on either side (the len >= n contract both engines share)."""
    from dbt_core_spark.operators.dedup import contamination_spans

    corpus = spark.createDataFrame(
        [(1, "one two three four five six")], "doc_id long, text string")
    empty = corpus.filter("false")
    assert contamination_spans(corpus, empty, n=5).count() == 0
    short_probe = spark.createDataFrame(
        [(9, "one two three")], "doc_id long, text string")
    assert contamination_spans(corpus, short_probe, n=5).count() == 0


@_mark_slow
def test_minhash_index_delete_equals_rebuild(spark, sf_dir):
    """The r10 verdict item 4 pin: minhash_index_delete(index, ids) is
    BIT-IDENTICAL to rebuilding the index from the surviving docs —
    raw signature rows AND the banded form the match path joins on —
    and the post-delete match finds no tombstoned corpus doc."""
    from dbt_core_spark.operators.dedup import (
        _banded,
        minhash_index,
        minhash_index_delete,
        minhash_match,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter("doc_id < 400")
    dead = docs.filter("doc_id % 6 = 0").selectExpr("doc_id as id")
    deleted = minhash_index_delete(minhash_index(docs), dead)
    rebuilt = minhash_index(docs.filter("doc_id % 6 != 0"))

    def rows(ix):
        return sorted(
            tuple(r[c] for c in sorted(ix.columns) if c != "shingles")
            + (tuple(sorted(r["shingles"])),)
            for r in ix.collect()
        )

    assert rows(deleted) == rows(rebuilt) and deleted.count() > 0

    def brows(ix):
        return sorted(tuple(r) for r in _banded(ix, 64, 32).collect())

    assert brows(deleted) == brows(rebuilt)

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter("doc_id >= 400")
    matched = minhash_match(minhash_index(batch), deleted, threshold=0.7)
    assert matched.filter("corpus_id % 6 = 0").count() == 0


def _planted_near_dups(spark):
    """~30 tiny docs: distinct LCG word strings, each base followed by
    planted near-duplicates (one word appended, one word replaced, five
    words replaced — above, above and below a 0.7 3-gram Jaccard), one
    exact duplicate, plus NULL, empty and shorter-than-n texts."""
    pool = [f"w{i}" for i in range(40)]
    x, rows = 11, []
    for d in range(6):
        words = []
        for _ in range(24):
            x = (x * 1103515245 + 12345) % (2 ** 31)
            words.append(pool[(x >> 7) % len(pool)])
        rows.append((d * 10, " ".join(words)))
        rows.append((d * 10 + 1, " ".join(words + ["tail"])))
        swapped = list(words)
        swapped[12] = "zz"
        rows.append((d * 10 + 2, " ".join(swapped)))
        far = list(words)
        for j in (2, 6, 10, 14, 18):
            far[j] = f"q{j}"
        rows.append((d * 10 + 3, " ".join(far)))
    rows += [(90, rows[0][1]), (91, None), (92, ""), (93, "two words")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_matches_exact_jaccard_tiny(spark):
    """Quick-tier pin: on ~30 docs with planted near-duplicates the
    banded MinHash pairs (prefilter + exact verify) equal exact
    n-gram Jaccard pairing row for row, Jaccard values included."""
    from dbt_core_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    df = _planted_near_dups(spark)
    got = sorted(tuple(r) for r in minhash_lsh_pairs(df, threshold=0.7).collect())
    exact = sorted(
        tuple(r) for r in ngram_jaccard_pairs(df, threshold=0.7).collect())
    assert got == exact
    # the appended and single-swap copies and the exact duplicate are found
    assert {(0, 1), (0, 2), (0, 90)} <= {(a, b) for a, b, _ in got}
    assert (0, 3) not in {(a, b) for a, b, _ in got}  # five swaps: J < 0.7


def test_minhash_index_delete_equals_rebuild_tiny(spark):
    """Quick-tier pin of delete ≡ rebuild: tombstoning ids from a
    MinHash index gives the same shingle and signature rows as indexing
    the surviving docs.  Band rows and matches are functions of those
    rows; the slow-tier pin checks them on the gate corpus."""
    from dbt_core_spark.operators.dedup import (
        minhash_index,
        minhash_index_delete,
    )

    corpus = _planted_near_dups(spark).filter("doc_id % 10 != 1")
    dead = corpus.filter("doc_id % 10 = 0").selectExpr("doc_id as id")
    deleted = minhash_index_delete(minhash_index(corpus), dead)
    rebuilt = minhash_index(corpus.filter("doc_id % 10 != 0"))

    def rows(ix):
        return sorted(
            tuple(r[c] for c in sorted(ix.columns) if c != "shingles")
            + (tuple(sorted(r["shingles"])),)
            for r in ix.collect()
        )

    kept = rows(deleted)
    assert kept == rows(rebuilt) and len(kept) > 0


def test_minhash_index_delete_edges(spark):
    """Deleting every id empties the index; an empty tombstone list is
    the identity; ids absent from the index are ignored; the id column
    is taken positionally when the frame lacks the default name."""
    from dbt_core_spark.operators.dedup import (
        minhash_index,
        minhash_index_delete,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta"),
         (3, "alpha beta gamma delta")],
        "doc_id long, text string")
    ix = minhash_index(df).localCheckpoint(eager=False)
    assert minhash_index_delete(
        ix, spark.createDataFrame([(1,), (2,), (3,)], "id long")
    ).count() == 0
    assert minhash_index_delete(
        ix, spark.createDataFrame([], "id long")).count() == 3
    assert minhash_index_delete(
        ix, spark.createDataFrame([(99,)], "other_name long")
    ).count() == 3
    assert minhash_index_delete(
        ix, spark.createDataFrame([(2,), (2,)], "id long")).count() == 2
