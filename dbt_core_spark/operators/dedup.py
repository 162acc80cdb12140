"""Deduplication operators for large-scale training-data pipelines.

Engine extensions beyond dbt parity (SURVEY §7 phase 4): exact, n-gram
Jaccard/containment, MinHash+LSH, winnowing and SimHash dedup,
benchmark decontamination and substring-level span dedup — all
built-in Spark SQL functions (no Python UDFs).  Each shared job has one
private helper:

- ``_gram_seq``: the ordered word n-grams (shifted slices zipped) —
  distinct in ``word_ngrams``, hashed in order by
  ``winnow_fingerprints`` and ``_positional_gram_hashes``;
- ``_shingle_table``: the sealed ``(id, shingles)`` table of the exact
  pair counts, ``minhash_lsh_pairs`` and ``minhash_index``;
- ``_minhash_signatures``: xxhash64 each shingle once, then min-reduce
  ``num_perm`` universal hashes (``_minhash_coefs``) per document in
  an aggregate; ``_banded`` keys bands by an 8-byte xxhash64 and
  ``_verify_jaccard`` confirms candidates by exact Jaccard;
- ``_shingle_rows``: one row per distinct n-gram of a text, the corpus
  and probe sides of the decontamination legs; ``_probe_shingles`` the
  distinct probe set; ``_bloom_matches`` is the Bloom prefilter +
  exact confirm of the batch and streaming Bloom legs, and
  ``_hit_summary`` the ``(id, n_hits, sample_hit)`` rollup.

Hashes that reach an output (exact dedup, winnowing, SimHash, span
grams) are md5-derived, so DuckDB oracles match bit-for-bit.  MinHash
and Bloom hashes only propose candidates that are confirmed exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_core_spark.exceptions import ExecutionError


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition narrow inputs before CPU-heavy per-row work.

    A small parquet file arrives as ONE partition; md5-heavy per-row ops
    (minhash signatures, simhash) would then run on a single core no
    matter the cluster size.  At 100 TB inputs are already wide — this
    is a no-op there (only repartitions when below the session's default
    parallelism)."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def normalized_words(col: str | Column) -> Column:
    """Lowercase, strip non-alphanumerics, split to words (empty removed).

    U+0130 (İ) pre-translates to plain ``i``: it is the only Unicode
    codepoint whose full lowercase mapping (JVM ``lower``) is
    multi-codepoint (``i`` + combining dot U+0307), which the strip
    pass would turn into a word boundary, while utf8proc engines
    (DuckDB) use the single-codepoint simple mapping.  Verified by an
    exhaustive U+0020–U+2FFFF sweep (tests/test_gate_fuzz.py) — no
    other codepoint diverges through this pipeline."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(F.translate(c, "İ", "i")), "[^a-z0-9 ]", " ")
    return F.filter(F.split(cleaned, "\\s+"), lambda w: w != "")


def _gram_seq(words: Column, n: int) -> Column:
    """The ordered word n-grams of a words array, one per start position.

    zip_with over n shifted slices, not element_at-in-a-lambda: the
    slice form references ``words`` only n times, so even when Catalyst
    inlines the expression (e.g. under a pushed-down filter predicate)
    cost stays linear — the element_at form re-evaluated its input per
    gram position (measured 100× slower under predicate pushdown).
    Short arrays (< n words) yield an empty slice → empty result.
    """
    cnt = F.greatest(F.size(words) - n + 1, F.lit(0))
    z = F.slice(words, 1, cnt)
    for j in range(1, n):
        z = F.zip_with(z, F.slice(words, j + 1, cnt),
                       lambda x, y: F.concat_ws(" ", x, y))
    return z


def word_ngrams(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a words array (JVM-side)."""
    return F.array_distinct(_gram_seq(words, n))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    algorithm): rolling word-k-gram hashes, keep the minimum of every
    ``w``-window → any shared run of ≥ w+k-1 words between two documents
    is guaranteed to share a fingerprint.  Output one row per distinct
    (doc, fingerprint) — join on fingerprint for containment/plagiarism
    candidates.

    Hashes are md5-derived via arithmetic (engine-portable, exact SQL
    oracle).  Each stage is its own projection so the multi-referenced
    hash array is materialized once per row, not re-inlined per window
    (CollapseProject keeps the boundary).  Shuffle-free until the caller
    aggregates: fingerprinting is a pure per-row map."""
    n = F.size("hs")
    wins = F.when(
        n >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - w + 1),
                lambda j: F.array_min(F.slice(F.col("hs"), j, w)),
            )
        ),
    ).otherwise(F.array(F.array_min("hs")))
    return (
        ensure_parallelism(df.filter(F.col(text_col).isNotNull()))
        .select(F.col(id_col).alias("doc_id"),
                normalized_words(text_col).alias("words"))
        .filter(F.size("words") >= k)  # cheap filter BELOW the gram expr
        .select("doc_id", _gram_seq(F.col("words"), k).alias("grams"))
        # md5 in its own projection: _hex_to_int references its input 8×
        # (once per hex digit) — inlined, the digest would be recomputed
        # 8× per gram
        .select("doc_id",
                F.transform("grams", lambda g: F.substring(F.md5(g), 1, 8)).alias("hx"))
        .select("doc_id",
                F.transform("hx", lambda h: _hex_to_int(h)).alias("hs"))
        .select("doc_id", F.explode(wins).alias("fingerprint"))
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text; deterministic (unlike
    ``dropDuplicates``, which keeps an arbitrary row).  One shuffle on the
    md5 of the text — at scale, hash first so the shuffle key is a
    32-char hex digest, not the document."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise, restricted to pairs sharing a shingle)
# --------------------------------------------------------------------------

def _shingle_table(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """The sealed ``(id, shingles)`` table: each document's distinct
    word n-grams, documents shorter than ``n`` words dropped.

    - two-step projection: materialize the words array BEFORE
      n-gramming — inlined, the tokenizer would re-evaluate inside
      every element_at of the transform lambda (measured 30× slower);
      as separate projections CollapseProject keeps the boundary
      (multi-referenced non-cheap expr), so tokenization runs once;
    - filter on size(words), not size(shingles), so predicate pushdown
      can't inline the full n-gram expression into the filter;
    - SEALED: every caller reads it from several branches (pair counts:
      sizes + both self-join sides; MinHash: signatures + both verify
      sides); without the checkpoint Catalyst replays the regex
      tokenizer + n-gram HOF once per branch (same defect the r3
      verdict flagged in the BLAS kernels).  Lazy: the first action to
      touch it materializes and persists the partitions in the same
      job — one job instead of an eager checkpoint job + that action
      (the connected_components discipline; optimization r11).
    """
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), normalized_words(text_col).alias("words"))
        .filter(F.size("words") >= n)
        .select("id", word_ngrams(F.col("words"), n).alias("shingles"))
    ).localCheckpoint(eager=False)


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """Shared machinery for exact pairwise shingle-set similarity:
    (id_a, id_b, shared, n_a, n_b) for every pair of documents sharing
    at least one word-n-gram shingle (a < b)."""
    shingled = _shingle_table(df, text_col, id_col, n)
    sizes = shingled.select("id", F.size("shingles").alias("n_sh"))
    pairs_src = shingled.select(
        "id", F.explode("shingles").alias("sh")
    )
    if max_shingle_freq is not None:
        freq = pairs_src.groupBy("sh").count().filter(F.col("count") <= max_shingle_freq)
        pairs_src = pairs_src.join(F.broadcast(freq.select("sh")), "sh")
    a = pairs_src.alias("a")
    b = pairs_src.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.7,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word-n-gram shingle sets, for all pairs with
    similarity ≥ threshold.  Only pairs sharing ≥1 shingle are ever
    materialized (Jaccard > 0 requires a shared shingle), so the plan is:
    explode → self-join on shingle → count shared → jaccard.

    Scale note: the shingle join degrades on ultra-frequent shingles;
    ``max_shingle_freq`` drops shingles occurring in more than that many
    docs (cheap df-filter) — the standard big-corpus mitigation.  Leave
    None for oracle-exact semantics.
    """
    return (
        _shingle_pair_counts(df, text_col, id_col, n, max_shingle_freq)
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        # raw double, no rounding: int/int division is bit-identical across
        # engines, so the oracle can match exactly
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT over word-n-gram shingle sets: pairs
    where either document's shingles are ≥ ``threshold`` contained in
    the other (``shared/n_a`` or ``shared/n_b``).  Catches what
    symmetric Jaccard structurally misses — a short document quoted
    wholesale inside a long one scores near-zero Jaccard but
    containment ≈ 1 (the RefinedWeb/CCNet sub-document dedup filter).

    Output: (id_a, id_b, containment_a, containment_b) with a < b;
    containment_a = fraction of A's shingles present in B.  Same
    scale shape and ``max_shingle_freq`` mitigation as
    :func:`ngram_jaccard_pairs` (shared machinery).
    """
    return (
        _shingle_pair_counts(df, text_col, id_col, n, max_shingle_freq)
        .withColumn("containment_a", F.col("shared") / F.col("n_a"))
        .withColumn("containment_b", F.col("shared") / F.col("n_b"))
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "containment_a", "containment_b")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

_MERSENNE = (1 << 31) - 1  # modulus of the MinHash universal hashes


def _minhash_coefs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients shared by every MinHash
    signer (one Random(42) family — an index built yesterday matches a
    batch signed today)."""
    import random as _random

    rnd = _random.Random(42)
    return [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
            for _ in range(num_perm)]


def _minhash_signatures(shingled: DataFrame, num_perm: int) -> DataFrame:
    """MinHash signatures ``(id, s0..s{num_perm-1})`` of a sealed
    ``(id, shingles)`` table.

    Aggregate form: explode shingles, take num_perm mins per doc,
    computed in parallel across the exploded rows with map-side partial
    aggregation — unlike the per-row array form, whose nested
    transforms serialize on one expression tree per document (measured
    10× slower).

    Each shingle is string-hashed ONCE (xxhash64); the num_perm
    permutations are universal hashes (a_i·h + b_i mod 2³¹−1) over that
    integer — 64 multiply-adds instead of 64 string hashes (measured ~2×
    on the signature stage), and products of two 31-bit values cannot
    overflow ANSI bigint math.  The hash family is an INTERNAL
    candidate-generation detail: output pairs are verified with exact
    Jaccard, so results are hash-family-independent (P[miss at j≥0.7]
    ≈ 5e-10 with 64/32 banding)."""
    p = _MERSENNE
    ex = shingled.select("id", F.explode("shingles").alias("sh")).select(
        # pmod, not abs(x)%p: abs(Long.MIN_VALUE) overflows ANSI math
        "id", F.pmod(F.xxhash64("sh"), F.lit(p)).alias("h")
    )
    return ex.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % p).alias(f"s{i}")
            for i, (a, b) in enumerate(_minhash_coefs(num_perm))
        ]
    )


def _banded(index: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """LSH band rows ``(id, band, h)``: each band's r = num_perm/bands
    signature values hashed to one 8-byte xxhash64 key."""
    r = num_perm // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(*[F.col(f"s{i * r + j}") for j in range(r)]).alias("h"),
            )
            for i in range(bands)
        ]
    )
    return index.select("id", F.explode(band_cols).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.h").alias("h")
    )


def _verify_jaccard(pairs: DataFrame, left: DataFrame, right: DataFrame,
                    left_id: str, right_id: str, threshold: float) -> DataFrame:
    """Exact-Jaccard verify of candidate ``pairs (left_id, right_id)``
    against the ``(id, shingles)`` tables ``left`` / ``right``:
    ``(left_id, right_id, jaccard ≥ threshold)``."""
    return (
        pairs.join(left.select(F.col("id").alias(left_id),
                               F.col("shingles").alias("sh_l")), left_id)
        .join(right.select(F.col("id").alias(right_id),
                           F.col("shingles").alias("sh_r")), right_id)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_l", "sh_r"))
            / F.size(F.array_union("sh_l", "sh_r")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(left_id, right_id, "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash banding, verified with exact
    Jaccard ≥ threshold.

    rows-per-band r = num_perm/bands; P(candidate) = 1-(1-j^r)^bands —
    with the 64/32 default, a pair at j=0.7 is caught with
    P ≈ 1-5e-10, so verified output matches exact Jaccard pairing.
    Scale shape: signature aggregate (map-side partial mins) → explode
    32 bands → shuffle on the 8-byte band hash → tiny bucket self-joins
    → verify only candidates (the expensive exact Jaccard runs on ~0.1%
    of pairs).  At warehouse scale the sealed shingle table is the LSH
    "index build" stage.
    """
    shingled = _shingle_table(df, text_col, id_col, n)
    # sealed: sig feeds the banding AND the agreement prefilter —
    # unsealed, the explode + 64-way min aggregate executes twice
    sig = _minhash_signatures(shingled, num_perm).localCheckpoint(eager=False)
    banded = _banded(sig, num_perm, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # -- signature-agreement prefilter before the exact verify -------------
    # the verify join carries full shingle arrays (hundreds of bytes per
    # row); signatures are num_perm longs.  The match fraction of the two
    # signatures estimates Jaccard (E[agree/num_perm] = J), so candidates
    # whose estimate sits 6 binomial sigmas below threshold are spurious
    # band collisions and never survive the exact filter: P[drop | J >=
    # threshold] <= ~1e-9 at 64 perms — the same design point as the
    # banding's own miss probability, keeping output oracle-exact.
    sigma = (threshold * (1.0 - threshold) / num_perm) ** 0.5
    cut = max(0.0, threshold - 6.0 * sigma)
    min_agree = int(cut * num_perm)  # floor: conservative (keeps more)
    sig_arr = sig.select(
        "id", F.array(*[F.col(f"s{i}") for i in range(num_perm)]).alias("sig")
    )
    prefiltered = (
        candidates.join(
            sig_arr.withColumnsRenamed({"id": "id_a", "sig": "sig_a"}), "id_a")
        .join(sig_arr.withColumnsRenamed({"id": "id_b", "sig": "sig_b"}), "id_b")
        .withColumn(
            "_agree",
            F.aggregate(
                F.zip_with(
                    "sig_a", "sig_b",
                    lambda x, y: F.when(x == y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            ),
        )
        .filter(F.col("_agree") >= min_agree)
        .select("id_a", "id_b")
    )
    return _verify_jaccard(prefiltered, shingled, shingled, "id_a", "id_b",
                           threshold)


def connected_components(
    pairs: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Exact connected components over a (near-duplicate) pair graph:
    iterative min-label propagation — each round every node takes the
    minimum label among itself and its neighbors; converges in
    O(component diameter) rounds (dup clusters are shallow).  Each
    iteration is sealed with localCheckpoint so round N+1 does not
    replay rounds 1..N.  Output: (id, component) where component = the
    smallest member id — upgrade over single-link one-pass dedup when
    duplicate chains matter (A~B, B~C, A!~C still one cluster).

    At extreme graph sizes the two-phase large-star/small-star variant
    shrinks rounds further; the propagation join below is the same
    building block."""
    # lazy seals throughout this loop (eager=False): the very next
    # action (the label-sum convergence probe below) materializes and
    # persists the partitions in the SAME job, so each round schedules
    # one job instead of two (eager checkpoint + sum — measured 2
    # jobs/round at sf0.1; optimization r11).  Consumers after the
    # probe read the persisted blocks exactly as with an eager seal.
    edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )

    # convergence check: labels are MIN-monotone (each node's label
    # never increases), so the exact label sum strictly decreases iff
    # any label changed — one map-side partial aggregate per round
    # instead of a full labels⋈labels join (at 1e9 nodes that join is a
    # real per-round cost; the sum is not).  DECIMAL(38,0) keeps the
    # sum exact at any node count / id magnitude.
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        prop = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        new_labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # truncated propagation would silently split true components
        raise ExecutionError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter — raise max_iter)"
        )
    return labels.select(F.col("node").alias("id"), F.col("label").alias("component"))


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: among each connected pair, the higher id
    loses (single-link, one pass — the standard large-corpus
    approximation that avoids iterative connected components)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# SimHash (32-bit, md5-derived → engine-portable)
# --------------------------------------------------------------------------

def _hex_to_int(hexcol: Column, digits: int = 8) -> Column:
    """First ``digits`` hex chars → integer, via arithmetic only (portable
    to any SQL oracle; avoids engine-specific conv())."""
    out = F.lit(0).cast("bigint")
    for i in range(digits):
        ch = F.substring(hexcol, i + 1, 1)
        val = F.instr(F.lit("0123456789abcdef"), ch) - 1
        out = out * 16 + val
    return out


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """32-bit SimHash over word unigrams: bit b of the fingerprint is the
    sign of Σ_words (±1 depending on bit b of md5(word)).  All per-row
    array math — no shuffle, no UDF."""
    df = ensure_parallelism(df)
    words = normalized_words(text_col)
    hashes = F.transform(words, lambda w: _hex_to_int(F.md5(w)))
    bit_sums = [
        F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(((h / (2 ** b)).cast("bigint") % 2) == 1, 1).otherwise(-1),
        )
        for b in range(bits)
    ]
    fp = None
    for b, s in enumerate(bit_sums):
        term = F.when(s > 0, F.lit(2 ** b)).otherwise(F.lit(0)).cast("bigint")
        fp = term if fp is None else fp + term
    return df.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, bits: int = 32) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Scale path: block on bit-chunks (pigeonhole — with 4 chunks, any pair
    within distance 3 shares ≥1 exact chunk), so the join key is a chunk
    value, not a full cross join."""
    sh = simhash(df, text_col, id_col)
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    chunk_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("c"),
                ((F.col("simhash") / (2 ** (i * chunk_bits))).cast("bigint")
                 % (2 ** chunk_bits)).alias("v"),
            )
            for i in range(chunks)
        ]
    )
    blocked = sh.select(F.col(id_col).alias("id"), "simhash",
                        F.explode(chunk_cols).alias("b")).select(
        "id", "simhash", F.col("b.c").alias("c"), F.col("b.v").alias("v"))
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.v") == F.col("b.v"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("h_a"), F.col("b.simhash").alias("h_b"))
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def decontaminate(
    df: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination (public recipe: GPT-3 appendix C /
    PaLM / Llama eval-overlap removal): flag every training document
    sharing at least one word n-gram with the probe set (the evaluation
    benchmark), so contaminated docs can be dropped before training.

    Plan shape: both sides reduce to DISTINCT n-gram keys; the probe
    side is tiny relative to the corpus, so Catalyst broadcasts it into
    the inner join; one corpus-side explode, no pairwise comparison.
    Returns (id, n_hits, sample_hit) per CONTAMINATED document —
    anti-join the ids to clean the corpus."""
    corpus = ensure_parallelism(df).select(F.col(id_col), _shingle_rows(text_col, n))
    return _hit_summary(
        corpus.join(_probe_shingles(probes, probe_text_col, n), "shingle", "inner"),
        id_col,
    )


def _shingle_rows(text_col: str, n: int) -> Column:
    """One ``shingle`` row per distinct word n-gram of a text column."""
    return F.explode(
        word_ngrams(normalized_words(F.col(text_col)), n)).alias("shingle")


def _probe_shingles(probes: DataFrame, probe_text_col: str, n: int) -> DataFrame:
    """The distinct probe (benchmark) n-gram set ``(shingle)`` the
    whole-document decontamination legs check corpus n-grams against."""
    return probes.select(_shingle_rows(probe_text_col, n)).distinct()


def _hit_summary(matches: DataFrame, id_col: str) -> DataFrame:
    """Per contaminated document ``(id, n_hits, sample_hit)`` from its
    ``(id, shingle)`` probe matches."""
    return (
        matches.groupBy(id_col)
        .agg(
            F.count("*").alias("n_hits"),
            F.min("shingle").alias("sample_hit"),
        )
        .select(
            id_col,
            F.col("n_hits").cast("bigint").alias("n_hits"),
            "sample_hit",
        )
    )


def _bloom_matches(shingled: DataFrame, probes: DataFrame, probe_text_col: str,
                   n: int, bits_per_key: int, num_hashes: int) -> DataFrame | None:
    """The Bloom decontamination leg shared by the batch and streaming
    operators: ``shingled`` ``(id, shingle)`` rows prefiltered by a
    Bloom bitset of the probe n-gram set, then confirmed by an exact
    inner join against that set — ``(shingle, id)`` match rows.  None
    when the probe set is empty (nothing can be contaminated)."""
    probe_set = (
        _probe_shingles(
            ensure_parallelism(probes),  # narrow probe file → 1-core explode
            probe_text_col, n)
        # lazy seal: the count() right below materializes and persists
        # the shingle set in the SAME job — an eager checkpoint paid a
        # separate full job first (optimization r11)
        .localCheckpoint(eager=False)
    )
    n_keys = probe_set.count()
    if n_keys == 0:
        return None
    bits_df, might_contain = _bloom_bitset(
        probe_set, n_keys, bits_per_key, num_hashes)
    candidates = (
        shingled.crossJoin(F.broadcast(bits_df))  # single-row scalar broadcast
        .filter(might_contain(F.col("shingle")))
        .drop("bf")
    )
    return candidates.join(probe_set, "shingle", "inner")


def _bloom_bitset(
    probe_set: DataFrame,
    n_keys: int,
    bits_per_key: int,
    num_hashes: int,
):
    """Fold a distinct-shingle frame into a Bloom bitset, shipped as a
    ONE-ROW broadcast frame (data, not plan — a Literal would serialize
    the whole array into every task binary and cost seconds of py4j
    per-element conversion to even build).  Returns ``(bits_df,
    might_contain)`` where ``bits_df`` is the single-row ``bf
    array<bigint>`` frame to cross-join (broadcast) against the probed
    side, and ``might_contain(col)`` builds the membership predicate —
    ONE forall over the hash-positions array, so the bitset column
    appears exactly once in the expression (plan test pins one
    element_at / one forall).  Shared by the batch and streaming
    decontamination legs."""
    m = 1024
    while m < n_keys * bits_per_key:
        m <<= 1
    if m > (1 << 31):
        raise ExecutionError(
            f"bloom bitset: probe set of {n_keys} shingles needs a "
            f"{m}-bit filter (> 2^31); shard the probe set and union results"
        )
    mask = m - 1

    def _positions(shingle: Column) -> list[Column]:
        return [
            F.xxhash64(F.lit(i), shingle).bitwiseAND(F.lit(mask))
            for i in range(num_hashes)
        ]

    set_words = (
        probe_set.select(
            F.explode(F.array(*_positions(F.col("shingle")))).alias("pos")
        )
        .select(
            F.shiftright("pos", 6).alias("w"),
            # call_function: the F.shiftleft wrapper only takes a
            # Python-int bit count, the SQL function takes a column
            F.call_function(
                "shiftleft",
                F.lit(1).cast("bigint"),
                F.col("pos").bitwiseAND(F.lit(63)).cast("int"),
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    longs = [0] * (m // 64)
    for row in set_words:
        longs[row["w"]] = row["bits"]
    bits_df = probe_set.sparkSession.createDataFrame(
        [(longs,)], "bf array<bigint>")

    def might_contain(shingle: Column) -> Column:
        pos_arr = F.array(*_positions(shingle))
        return F.forall(
            pos_arr,
            lambda p: F.call_function(
                "shiftright",
                F.element_at(
                    F.col("bf"), F.shiftright(p, 6).cast("int") + F.lit(1)),
                p.bitwiseAND(F.lit(63)).cast("int"),
            ).bitwiseAND(F.lit(1)) == F.lit(1),
        )

    return bits_df, might_contain


def decontaminate_bloom(
    df: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
    n: int = 5,
    bits_per_key: int = 12,
    num_hashes: int = 7,
) -> DataFrame:
    """``decontaminate`` with a Bloom-filter pre-pass — the 100 TB scale
    path when the probe n-gram set is too large to broadcast as an
    exact hash table (a full eval-suite union easily reaches 10⁷
    shingles ≈ hundreds of MB as a broadcast HashedRelation, vs
    ~1.5 bits·10⁷ ≈ 15 MB as a Bloom bitset at 12 bits/key).

    EXACT results — bit-identical to ``decontaminate`` (same oracle):
    the Bloom test only PREFILTERS corpus shingles (fp rate ≈ 0.03% at
    12 bits / 7 hashes); survivors are confirmed by the same inner
    join, which now sees ~fp·corpus rows instead of the whole corpus.

    All JVM-side: the bitset rides as a one-row broadcast frame —
    DATA, not plan — cross-joined to the corpus (the repo's
    single-row-scalar-broadcast pattern), referenced ONCE inside one
    ``forall`` membership lambda (``element_at`` + shift/AND per hash;
    no Python, no extra shuffle).  An earlier version embedded the
    bitset as an ``array<bigint>`` literal: at the advertised
    10⁷-shingle scale that is ~2M longs serialized into the plan and
    every task binary, and even building the Literal costs seconds of
    py4j per-element conversion (~4 s measured for 8 k longs) — the
    broadcast frame ships via one Arrow batch instead.

    ref parity: same surface as decontaminate (GPT-3 appendix C
    recipe); reference has no engine analog (dbt-core executes no
    queries)."""
    matches = _bloom_matches(
        # widen a narrow corpus scan first: the shingle explode + 7-hash
        # membership filter is CPU-heavy per row, and a single-file corpus
        # would otherwise run it on one core (no-op at production width)
        ensure_parallelism(df).select(F.col(id_col), _shingle_rows(text_col, n)),
        probes, probe_text_col, n, bits_per_key, num_hashes)
    if matches is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} bigint, n_hits bigint, sample_hit string")
    return _hit_summary(matches, id_col)


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """Persistable MinHash index: (id, shingles, s0..s{num_perm-1}).

    The scale contract for a CONTINUOUSLY-FED corpus: sign each document
    once, store the signature row, and dedup every future batch against
    the stored index (minhash_match) without re-tokenizing 100 TB of
    history.  Write this DataFrame as a table partitioned however the
    corpus is partitioned; only the new batch is ever signed again."""
    # lazy seals: the index seal below materializes shingles +
    # signatures in ONE job (eager here scheduled a dedicated tokenize
    # job per index build; optimization r11)
    shingled = _shingle_table(df, text_col, id_col, n)
    sig = _minhash_signatures(shingled, num_perm)
    # sealed: every consumer (minhash_match reads each index TWICE —
    # the banded candidate side AND the exact-Jaccard shingle side;
    # delete anti-joins then matches) replayed the explode + 64-way min
    # aggregation per reference otherwise — the before plan of the
    # delete gate carried SIX Generate and FOURTEEN HashAggregate nodes
    # (4 signature replays), 61.9 s isolated at sf0.1 (optimization
    # r11; same rule minhash_lsh_pairs already applies to its sig).
    # This IS the "persistable index" contract: one materialization,
    # signature rows never recomputed.
    return shingled.join(sig, "id").localCheckpoint(eager=False)


def minhash_match(
    batch_index: DataFrame,
    corpus_index: DataFrame,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.7,
) -> DataFrame:
    """Match a NEW batch's index rows against a stored corpus index:
    banded candidate join (batch bands × corpus bands — never a corpus
    self-join), then exact-Jaccard verification of candidates only.
    Returns (corpus_id, batch_id, jaccard ≥ threshold).

    Cost is O(batch) signatures + one shuffle of batch∪matching-band
    rows — the incremental shape that keeps continuous dedup linear in
    the ARRIVING data, not in corpus history."""
    cb = _banded(corpus_index, num_perm, bands).alias("c")
    bb = _banded(batch_index, num_perm, bands).alias("n")
    candidates = (
        cb.join(
            bb,
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.h") == F.col("n.h"))
            & (F.col("c.id") != F.col("n.id")),
        )
        .select(F.col("c.id").alias("corpus_id"), F.col("n.id").alias("batch_id"))
        .distinct()
    )
    return _verify_jaccard(candidates, corpus_index, batch_index,
                           "corpus_id", "batch_id", threshold)


def minhash_index_delete(
    index: DataFrame,
    ids: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Remove documents from a persisted MinHash index — the deletion
    leg completing the near-dup index lifecycle (build / match-append /
    DELETE, the bm25_index_delete / ivf_index_delete pattern, r10
    verdict item 4): anti-join the signature rows against the
    tombstone list.  A MinHash row is entirely per-document (shingles
    and s0..s{num_perm-1} depend only on the doc's own text — no corpus
    statistics anywhere in the index), so the surviving rows, and
    every band hash derived from them, are BIT-IDENTICAL to rebuilding
    the index on the remaining corpus
    (``minhash_index_delete(minhash_index(df), ids) ≡
    minhash_index(df_minus_ids)`` — pytest-pinned; the gate's oracle
    replays the rebuild).  GDPR-style takedown therefore never
    re-shingles history: one anti-join, no re-aggregation at all.

    Scale shape: one broadcast-sized anti-join (the tombstone list is
    ids only); the signatures never move."""
    return index.join(
        ids.select(
            F.col(ids.columns[0] if id_col not in ids.columns
                  else id_col).alias("id")
        ).distinct(),
        "id", "left_anti",
    )


def dup_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplicate detection (the scalable approximation
    of suffix-array substring dedup, Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find, per document,
    the merged word spans covered by k-grams that occur in at least
    ``min_docs`` DISTINCT documents.  Whole-doc dedup misses partially
    copied passages (licence blocks, quoted articles, templated
    sections); this emits the exact repeated regions so callers can
    cut them out rather than dropping the whole document.

    Output: one row per maximal duplicated span —
    ``(doc_id, span_start, span_end, span_words, n_grams)`` with
    1-based inclusive word indices into the normalized token stream.

    Scale shape — wordcount-class, nothing quadratic:

    - positional k-grams come from the same shifted-slice sequence
      (``_gram_seq``) :func:`word_ngrams` uses (linear, no element_at
      re-evaluation);
    - each gram is md5-hashed BEFORE the shuffle, so the global
      distinct-doc count shuffles 32-char digests, never k-word strings;
    - the duplicated-gram set (≪ corpus gram count — only grams seen in
      ≥ min_docs docs) comes back via a left-semi join on the hash;
    - span merging is a per-document window (running max of span end →
      island ids), bounded by document length, never cross-document.

    Determinism: positions are unique within a document, so the island
    windows order totally; md5 is engine-portable (DuckDB oracle is
    bit-exact).
    """
    grams = _positional_gram_hashes(df, text_col, id_col, k)
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "left_semi").select(
        id_col, "start", (F.col("start") + k - 1).alias("e")
    )
    return _merge_gram_spans(hits, id_col)


def _positional_gram_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Per-document positional k-gram hashes ``(id, start, gh)`` —
    1-based word index into the normalized token stream, md5 of the
    k-word gram.  ``_gram_seq`` keeps it linear (no element_at
    re-evaluation), the md5 happens BEFORE any shuffle so downstream
    joins carry fixed 32-char digests, and the result is SEALED: it
    feeds two branches in every caller (count + membership probe for
    dup spans; probe join + span merge for contamination)."""
    words = ensure_parallelism(
        df.filter(F.col(text_col).isNotNull())
    ).select(F.col(id_col), normalized_words(text_col).alias("ws"))
    return (
        words.filter(F.size("ws") >= k)
        .select(F.col(id_col),
                F.posexplode(_gram_seq(F.col("ws"), k)).alias("p0", "gram"))
        .select(
            id_col,
            (F.col("p0") + 1).cast("bigint").alias("start"),
            F.md5("gram").alias("gh"),
        )
    ).localCheckpoint(eager=False)


def _merge_gram_spans(hits: DataFrame, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of per-doc gram hits ``(id, start, e)``
    into maximal spans — per-DOCUMENT windows (bounded by doc length,
    never cross-document); positions are unique within a doc so the
    ordering is total and the output deterministic."""
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        hits.withColumn("pme", F.max("e").over(w_prev))
        .withColumn(
            "new_span",
            F.when(
                F.col("pme").isNull() | (F.col("start") > F.col("pme") + 1),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_span").over(w_run))
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("e").alias("span_end"),
            F.count("*").cast("bigint").alias("n_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_words"),
            "n_grams",
        )
    )


def contamination_spans(
    df: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination — detect, per corpus
    document, the merged word spans covered by n-grams that appear
    ANYWHERE in the probe (benchmark) corpus.  Whole-doc
    ``decontaminate`` drops every contaminated document; real training
    pipelines usually want to CUT the quoted benchmark text and keep
    the rest (the Lee-et-al substring-dedup action applied to
    contamination) — feed this output to :func:`cut_dup_spans`, which
    shares the span contract ``(doc_id, span_start, span_end,
    span_words, n_grams)``.

    Scale shape: corpus-side positional n-grams are the shared
    ``_positional_gram_hashes`` pass (linear, 32-char md5 keys, sealed);
    the probe side reduces to its DISTINCT shingle hashes — probe
    corpora (benchmarks) are small relative to training corpora, so
    the left-semi membership join broadcasts; span merging is the
    shared per-document gaps-and-islands window.  Nothing quadratic,
    no corpus self-join anywhere."""
    grams = _positional_gram_hashes(df, text_col, id_col, n)
    probe_sh = (
        ensure_parallelism(probes.filter(F.col(probe_text_col).isNotNull()))
        .select(_shingle_rows(probe_text_col, n))
        # distinct on the md5 join key, so the set arrives partitioned by it
        .select(F.md5("shingle").alias("gh"))
        .distinct()
    )
    hits = grams.join(probe_sh, "gh", "left_semi").select(
        id_col, "start", (F.col("start") + n - 1).alias("e")
    )
    return _merge_gram_spans(hits, id_col)


def cut_dup_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply :func:`dup_ngram_spans` output — cut every duplicated word
    span out of the normalized token stream and rebuild the document
    (the "remove the repeated substring, keep the document" action of
    substring-level dedup, vs dropping whole near-dup docs).

    Output: ``(doc_id, text_clean, n_words, n_removed)`` — text_clean
    is the surviving tokens joined by single spaces (the same
    normalization the span indices refer to).

    Scale shape: posexplode the token stream (linear), left-anti range
    join is avoided — spans are k-bounded per doc, so membership is an
    equi-join on doc id followed by a positional BETWEEN filter against
    the doc's (few) spans collected into an array; rebuild is the same
    array_sort(collect_list) in-order aggregate line_dedup uses.  No
    windows over the corpus; everything keys on the doc id.
    """
    toks = (
        ensure_parallelism(df.filter(F.col(text_col).isNotNull()))
        .select(F.col(id_col), F.posexplode(normalized_words(text_col)).alias("p0", "w"))
        .select(id_col, (F.col("p0") + 1).cast("bigint").alias("pos"), "w")
    )
    doc_spans = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp")
    )
    flagged = (
        toks.join(doc_spans, id_col, "left")
        .withColumn(
            "cut",
            F.coalesce(
                F.exists(
                    "sp",
                    lambda s: (F.col("pos") >= s["span_start"])
                    & (F.col("pos") <= s["span_end"]),
                ),
                F.lit(False),
            ),
        )
    )
    kept = flagged.filter(~F.col("cut"))
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("text_clean"),
        F.count("*").cast("bigint").alias("n_kept"),
    )
    totals = toks.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_words")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            "n_words",
            (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )
