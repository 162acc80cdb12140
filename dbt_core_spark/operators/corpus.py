"""Training-corpus composition operators: line-level boilerplate removal
(CCNet-style), n-gram LM quality scoring, deterministic epoch
shuffle/sharding, source-mixture sampling, and BPE pair statistics.

These cover the corpus-assembly steps between raw filtered documents and
a training-ready mixture (ref pipeline analog: dbt models staging a
corpus; the operators themselves are engine extensions — the reference
has no text surface).  Everything here is built-in Spark SQL functions —
no UDFs — so the whole module runs inside WholeStageCodegen, and every
aggregate is a wordcount-shaped shuffle with map-side combine.

Determinism contract: all sampling/ordering decisions derive from md5 of
row identity (+ an explicit seed), and all floating scores are reduced
to exact integer arithmetic (micro-nat floors) before any cross-row sum,
so each operator has a bit-exact ANSI-SQL oracle (oracles.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_core_spark.operators.dedup import normalized_words

MICRO = 1_000_000


def _md5_mod(col, mod: int, seed: str = ""):
    """First 15 hex chars of md5(seed:col) as bigint, mod ``mod`` —
    the same portable integer-uniform used across dedup/textstats
    (mirrored in SQL by oracles._hex2int)."""
    key = F.md5(F.concat(F.lit(f"{seed}:" if seed else ""),
                         col.cast("string")))
    return F.pmod(
        F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint"), F.lit(mod)
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
) -> DataFrame:
    """Line-level boilerplate removal (CCNet / RefinedWeb preprocessing):
    a line whose normalized form (lower+trim) appears in ≥ ``min_docs``
    DISTINCT documents is boilerplate (nav bars, cookie banners, footers)
    and is dropped from every document; surviving lines are re-joined in
    original order.

    Scale shape — three wordcount-class stages, nothing quadratic:

    - split+posexplode (linear, no shuffle);
    - per-line distinct-doc counts: one shuffle keyed on the normalized
      line with partial aggregation;
    - membership: left-anti join of corpus lines against the (far
      smaller) boilerplate-line set, then one per-doc rebuild aggregate
      (``array_sort(collect_list(struct(pos, line)))`` — no sort
      window).

    At 100 TB the boilerplate set is the distinct-frequent-line
    vocabulary (≪ corpus); the anti-join shuffles on the line hash, the
    rebuild on doc id — both well-distributed keys.  Whitespace-only
    lines never count as boilerplate (they'd match across all docs).
    """
    lines = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        # İ→i pre-translate: see normalized_words — JVM full-mapping
        # lower('İ') is two codepoints, utf8proc's is one; normalized
        # lines must group identically across engines
        .withColumn("nline", F.trim(F.lower(F.translate(F.col("line"), "İ", "i"))))
        # sealed: lines feeds the boilerplate counts, the anti-join
        # probe, and the per-doc totals — three branches that would
        # each replay the split+posexplode otherwise
    ).localCheckpoint(eager=False)
    boiler = (
        lines.filter(F.col("nline") != "")
        .groupBy("nline")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("nline")
    )
    kept = lines.join(boiler, "nline", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
        F.count("*").cast("bigint").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_lines")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint").alias("n_removed"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: int = 1,
) -> DataFrame:
    """Corpus-trained bigram-LM quality score (the KenLM-perplexity
    filtering step of CCNet/Gopher, self-trained): per document, the
    mean add-k-smoothed bigram log-probability

        lp(w1 w2) = ln( (c(w1,w2) + k) / (c(w1) + k·V) )

    where counts come from the corpus itself and V = |vocabulary|.
    Low scores flag gibberish / boilerplate; implausibly high scores
    flag templated near-duplicates.

    Float discipline: each bigram-TYPE log-prob is floored to integer
    micro-nats BEFORE any cross-row sum, so per-doc totals are exact
    bigint arithmetic — cross-engine float summation order can never
    change a result (ln on rational args is reproducible; only its
    6-dp floor crosses rows).

    Scale shape: doc bigrams come from an index-slide over the words
    array (pure HOF — no positional self-join); unigram/bigram count
    tables are two wordcount shuffles with partial agg; scoring joins
    the per-doc bigram types (≤ doc length) against the vocabulary-
    sized count tables — the only corpus-scale shuffle keys are
    (doc, bigram) and the bigram itself.
    """
    # sealed: words feeds the bigram slide AND the unigram explode —
    # unsealed, the regex tokenizer replays per branch
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), normalized_words(text_col).alias("ws"))
        .localCheckpoint(eager=False)
    )
    doc_bg = (
        words.filter(F.size("ws") >= 2)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        # sealed: doc_bg feeds the per-doc types AND the corpus bigram
        # counts — unsealed, the bigram slide explode runs twice
        .localCheckpoint(eager=False)
    )
    doc_types = doc_bg.groupBy(id_col, "w1", "w2").agg(
        F.count("*").cast("bigint").alias("n_ij")
    )
    c12 = doc_bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    uni = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c1"))
    )
    vocab = uni.agg(F.count("*").cast("bigint").alias("v_size"))

    scored = (
        doc_types.join(c12, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp_micro",
            F.floor(
                F.log(
                    (F.col("c12") + F.lit(k_smooth)).cast("double")
                    / (F.col("c1") + F.lit(k_smooth) * F.col("v_size")).cast("double")
                )
                * MICRO
            ).cast("bigint"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum(F.col("n_ij") * F.col("lp_micro")).alias("sum_lp_micro"),
            F.sum("n_ij").alias("n_bigrams"),
        )
        .select(
            id_col,
            "n_bigrams",
            "sum_lp_micro",
            # floor-form rounding, NOT F.round: JVM round() rounds the
            # SHORTEST-DECIMAL repr of the double (BigDecimal.valueOf)
            # while C engines round the binary value, so integer-ratio
            # quotients that terminate at a 6-dp half diverge by one ulp
            # (r7 sf0.1 sweep find, cross-engine class 17).  floor of
            # identical doubles is identical everywhere.
            (F.floor(
                F.col("sum_lp_micro").cast("double") / F.col("n_bigrams")
                + F.lit(0.5)
            ) / F.lit(float(MICRO))).alias("avg_logprob"),
        )
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    num_shards: int = 64,
) -> DataFrame:
    """Deterministic epoch shuffle + sharding for training data loading:
    every row gets a pseudo-random (shard, position) from md5(seed:id) —
    a reproducible global permutation any data loader can consume
    shard-by-shard, re-derivable for any epoch by changing ``seed``.

    Scale shape: NO global sort.  The shard assignment is a per-row hash
    (shuffle-free); positions are a row_number window per shard, so the
    largest single sort is corpus/num_shards — pick num_shards so a
    shard fits an executor (4 M shards at 100 TB ⇒ ~25 MB each).  A
    global-order equivalent (orderBy over everything) would funnel the
    corpus through range partitioning; sharded order is what loaders
    actually consume.
    """
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint"),
        F.lit(num_shards),
    )
    w = Window.partitionBy("shard").orderBy("skey", id_col)
    return (
        df.select(F.col(id_col), key.alias("skey"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select(id_col, F.col("shard").cast("int").alias("shard"), "pos")
    )


def mixture_sample(
    df: DataFrame,
    weights_ppm: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Down-sample sources to a target mixture (the data-mixing step:
    e.g. web 70% / code 20% / books 10%).  ``weights_ppm`` gives each
    source's target share in parts-per-million; the epoch budget is the
    largest total the corpus can supply without repeating data
    (bounded by the scarcest source relative to its weight):

        B = min_s floor(n_s · 1e6 / w_s)         (total rows)
        target_s = floor(w_s · B / 1e6)          (rows from source s)
        keep row ⇔ (md5(seed:id) mod 1e6) · n_s < target_s · 1e6

    All integer math — bit-exact in any engine.  Scale shape: per-source
    counts are a tiny aggregate broadcast back; the keep decision is a
    per-row hash compare — shuffle-free on the corpus, the same shape as
    stratified_sample.  Sources absent from ``weights_ppm`` — or given a
    weight ≤ 0 — are dropped (the inner join below excludes them, and
    filtering them here keeps the budget division away from w=0, which
    would otherwise null/DIVIDE_BY_ZERO under ANSI mode).
    """
    wdf = F.broadcast(
        df.sparkSession.createDataFrame(
            [(s, int(w)) for s, w in sorted(weights_ppm.items())
             if int(w) > 0],
            f"{source_col} string, w_ppm bigint",
        )
    )
    counts = df.groupBy(source_col).agg(
        F.count("*").cast("bigint").alias("n_source")
    )
    budget = F.broadcast(
        counts.join(wdf, source_col)
        .select(
            F.floor(F.col("n_source") * MICRO / F.col("w_ppm"))
            .cast("bigint").alias("b")
        )
        .agg(F.min("b").alias("budget"))
    )
    h = _md5_mod(F.col(id_col), MICRO, seed=str(seed))
    return (
        df.join(F.broadcast(counts.join(wdf, source_col)), source_col)
        .crossJoin(budget)
        .withColumn(
            "target_n",
            F.floor(F.col("w_ppm") * F.col("budget") / MICRO).cast("bigint"),
        )
        .filter(h * F.col("n_source") < F.col("target_n") * MICRO)
        .select(id_col, source_col, "n_source", "target_n")
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Adjacent character-pair frequencies over the corpus — the count
    table a BPE tokenizer trainer consumes each merge round (Sennrich
    et al.; pairs here are within-word character bigrams, no
    end-of-word marker).

    Scale shape: the corpus collapses to the word-frequency vocabulary
    first (one wordcount shuffle), pairs are generated from VOCABULARY
    entries (substring slide — pure HOF) weighted by word count, and
    the pair table is bounded by charset² regardless of corpus size —
    so the final ranking window's single partition sees at most a few
    thousand rows at ANY scale.
    """
    vocab = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(normalized_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n_word"))
        .filter(F.length("word") >= 2)
    )
    # substring with a dynamic start needs the expr form (F.substring
    # takes a literal pos); the slide stays a JVM HOF either way
    pairs = vocab.select(
        "n_word",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), "
                   "i -> substring(word, i, 2))")
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(F.sum("n_word").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_n)
        .select("pair", "n", "rank")
    )


def tokenize_with_vocab(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """Apply a built vocabulary (``textstats.build_vocab`` output:
    token_id, term, n) to tokenize documents — the corpus → token-id
    sequence step before sequence packing.  Out-of-vocabulary words map
    to ``unk_id``.

    Output is exploded (doc_id, pos, token_id) rather than an id array:
    arrays stay out of driver-side canonicalization, and the exploded
    form is what sequence packing / loader sharding consume anyway.

    Scale shape: one posexplode (linear), one join against the
    vocabulary on the term — vocabulary-sized side, which AQE broadcasts
    (≤ a few 100k rows at any corpus scale); no window, no corpus-keyed
    shuffle beyond the token join.
    """
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(normalized_words(text_col)).alias("pos", "term"),
        )
    )
    return (
        words.join(F.broadcast(vocab.select("term", "token_id")), "term", "left")
        .select(
            id_col,
            F.col("pos").cast("bigint").alias("pos"),
            F.coalesce("token_id", F.lit(unk_id)).cast("bigint").alias("token_id"),
        )
    )


def dsir_score(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 256,
    k_smooth: int = 1,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    — score every raw document by how target-like its hashed-unigram
    distribution is:

        score(x) = sum_tokens [ ln p_target(bucket) - ln p_raw(bucket) ]

    where tokens hash into ``dim`` buckets (the hashing trick — the
    feature space is fixed-size regardless of vocabulary) and both
    bucket distributions are add-k smoothed.  High scores mark raw
    documents that look like the target domain; resampling the raw
    corpus by these weights (e.g. ``stratified_sample`` on a score
    bucket, or top-fraction selection) is the published recipe for
    domain-targeted pre-training data selection.

    Float discipline (same as :func:`ngram_lm_score`): each bucket's
    target and raw log-probs are floored to integer micro-nats
    SEPARATELY, so every cross-row sum is exact bigint arithmetic and
    the DuckDB oracle matches bit-for-bit in any execution order.

    Scale shape: the two bucket-count tables are ≤ ``dim`` rows each —
    broadcast; per-doc scoring is one wordcount-shaped shuffle on
    (doc, bucket) followed by a broadcast join.  The target corpus is
    only ever reduced to its ``dim``-row histogram, so it can be any
    size, and the raw corpus is scanned ONCE: the raw histogram is
    derived from the sealed per-doc bucket counts (localCheckpoint —
    the same branched-lineage discipline as the similarity kernels),
    not from a second corpus pass.
    """
    def bucketed(frame: DataFrame, with_id: bool):
        from dbt_core_spark.operators.dedup import ensure_parallelism

        cols = [F.col(id_col)] if with_id else []
        return (
            ensure_parallelism(frame.filter(F.col(text_col).isNotNull()))
            .select(*cols, F.explode(normalized_words(text_col)).alias("w"))
            .withColumn("bucket", _md5_mod(F.col("w"), dim))
        )

    t_counts = bucketed(target, with_id=False).groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("c_t")
    )
    t_total = t_counts.agg(F.sum("c_t").cast("bigint").alias("n_t"))

    # one raw-corpus pass: per-doc bucket counts, SEALED because they
    # feed both the raw histogram and the final scoring join (without
    # the seal Catalyst would replay the corpus explode per branch)
    doc_buckets = (
        bucketed(df, with_id=True)
        .groupBy(id_col, "bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    r_counts = doc_buckets.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("c_r")
    )
    r_total = r_counts.agg(F.sum("c_r").cast("bigint").alias("n_r"))

    # dense dim-row bucket table: missing buckets still carry the
    # smoothed floor probability on both sides
    buckets = df.sparkSession.range(dim).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    lr = (
        buckets.join(F.broadcast(t_counts), "bucket", "left")
        .join(F.broadcast(r_counts), "bucket", "left")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
        .select(
            "bucket",
            (
                F.floor(
                    F.log(
                        (F.coalesce("c_t", F.lit(0)) + F.lit(k_smooth)).cast("double")
                        / (F.col("n_t") + F.lit(k_smooth) * dim).cast("double")
                    )
                    * MICRO
                )
                - F.floor(
                    F.log(
                        (F.coalesce("c_r", F.lit(0)) + F.lit(k_smooth)).cast("double")
                        / (F.col("n_r") + F.lit(k_smooth) * dim).cast("double")
                    )
                    * MICRO
                )
            ).cast("bigint").alias("lr_micro"),
        )
    )
    return (
        doc_buckets.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("lr_micro")).alias("sum_lr_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            "sum_lr_micro",
            # floor-form rounding — see ngram_lm_score (class 17: this
            # exact column diverged on 3/5000 docs at sf0.1)
            (F.floor(
                F.col("sum_lr_micro").cast("double") / F.col("n_tokens")
                + F.lit(0.5)
            ) / F.lit(float(MICRO))).alias("avg_logratio"),
        )
    )


def _bpe_merge_seq(word_col, merges: list[tuple[str, str]]):
    """Apply ranked BPE merges to a word via a literal replace() chain
    over the BOUNDARY-SAFE double-space representation: tokens joined
    by TWO spaces, the whole string wrapped in single spaces, each
    merge rank one replace of ``' a  b '`` with ``' ab '``.

    Why this exact encoding (r10 fix — the old single-space form was
    wrong twice over): (1) an unboundaried ``replace('a b','ab')``
    merges a pair that matches INSIDE longer tokens — tokens
    ``[xa, b]`` render as ``'xa b'`` and falsely merge to ``'xab'``,
    which Sennrich 2016 prevents with token-boundary lookarounds the
    oracle engine's RE2 regex cannot express; (2) a boundary-spaced
    single-space pattern ``' a b '`` CONSUMES the shared separator, so
    ``[a,a,a,a]`` merges to ``[aa,a,a]`` instead of ``[aa,aa]``.  With
    double separators the match eats one space of each flanking pair
    and leaves the other, so every non-overlapping occurrence merges
    in ONE left-to-right pass — standard merge-everywhere semantics —
    and plain substring replace() reproduces it verbatim in any SQL
    engine.  Split the result on the double space (after trim) for the
    token array (`_bpe_tokens`)."""
    t = F.concat(F.lit(" "),
                 F.array_join(F.split(word_col, ""), "  "),
                 F.lit(" "))
    for a, b in merges:
        t = F.replace(t, F.lit(f" {a}  {b} "), F.lit(f" {a + b} "))
    return t


def _bpe_tokens(word_col, merges: list[tuple[str, str]]):
    """Token array of a word under the ranked merge list."""
    return F.split(F.trim(_bpe_merge_seq(word_col, merges)), "  ")


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    max_words: int = 10_000,
) -> list[tuple[str, str]]:
    """Train BPE merges (Sennrich et al. 2016) the way production
    trainers do: the corpus collapses to the word-frequency VOCABULARY
    first (one wordcount shuffle, the only corpus-scale pass), the
    table is capped to the top ``max_words`` by (count desc, word) —
    bounded driver state, same tiny-state precedent as ivf centroids —
    and the merge loop runs driver-side over that table.

    Deterministic: ties in pair count break to the lexicographically
    smallest (a, b).  Returns the ranked merge list for
    ``bpe_token_counts`` / ``bpe_tokenize``.

    Merge application is LIST-BASED (r10 fix): the old space-joined
    ``str.replace('a b', 'ab')`` merged pairs whose rendering matched
    inside longer tokens (tokens [xa, b] -> 'xa b' -> false 'xab') —
    the boundary bug Sennrich 2016 avoids with lookarounds.  The
    left-to-right scan below is the standard merge-everywhere step,
    token-exact by construction, and matches `_bpe_merge_seq`'s
    boundary-safe double-space replace chain bit for bit."""
    vocab_rows = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(normalized_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    counts: dict[tuple[str, ...], int] = {}
    for r in vocab_rows:
        key = tuple(r["word"])
        counts[key] = counts.get(key, 0) + int(r["n"])
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_n: dict[tuple[str, str], int] = {}
        for parts, n in counts.items():
            for i in range(len(parts) - 1):
                p = (parts[i], parts[i + 1])
                pair_n[p] = pair_n.get(p, 0) + n
        if not pair_n:
            break
        # highest count wins; ties break to the lexicographically
        # smallest pair
        bn = max(pair_n.values())
        cands = sorted(p for p, n in pair_n.items() if n == bn)
        a, b = cands[0]
        merges.append((a, b))
        nxt: dict[tuple[str, ...], int] = {}
        for parts, n in counts.items():
            out, i = [], 0
            while i < len(parts):
                if (i + 1 < len(parts) and parts[i] == a
                        and parts[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(parts[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + n
        counts = nxt
    return merges


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Corpus subword-token frequencies under a trained merge list.

    Scale shape: corpus → word-count vocabulary (one shuffle, bounded);
    the replace-chain merge application runs on VOCABULARY entries as a
    pure JVM literal chain (no UDF, no python worker); tokens explode
    from vocabulary rows weighted by word count.  Returns (token, n)."""
    vocab = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(normalized_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n_word"))
    )
    toks = vocab.select(
        "n_word",
        F.explode(_bpe_tokens(F.col("word"), merges)).alias("token"),
    )
    return toks.groupBy("token").agg(F.sum("n_word").alias("n"))


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize each document under a trained merge list: per word,
    split to characters and apply the ranked replace chain — row-local
    JVM expressions, zero shuffles.  Returns (id, tokens array<string>)."""
    words = normalized_words(F.col(text_col))
    toks = F.flatten(
        F.transform(words, lambda w: _bpe_tokens(w, merges))
    )
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("tokens")
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    boundaries: list[float],
    id_col: str = "doc_id",
    n_shards: int = 4,
    seed: str = "cur0",
    ascending: bool = True,
) -> DataFrame:
    """Curriculum data ordering (easy→hard epochs): assign each doc a
    difficulty BUCKET by fixed score thresholds, then a deterministic
    md5 shard + within-shard position — a training job reads buckets in
    order, shards within a bucket in any order.

    NO global sort anywhere (the epoch_shuffle discipline): bucketing
    is a broadcast CASE over ``boundaries`` (produce them once with
    ``sketches.histogram_quantiles`` or domain knowledge), shard is an
    md5 hash, position is a row_number partitioned by (bucket, shard) —
    the only shuffle, and its partitions are corpus/(buckets·shards).
    ``ascending=False`` reverses the curriculum (hard→easy).  Returns
    (id, bucket, shard, pos)."""
    b = F.lit(0)
    for t in boundaries:
        b = b + F.when(F.col(score_col) >= F.lit(t), 1).otherwise(0)
    bucket = b if ascending else F.lit(len(boundaries)) - b
    staged = df.select(
        F.col(id_col),
        bucket.cast("int").alias("bucket"),
        _md5_mod(F.col(id_col), n_shards, seed).cast("int").alias("shard"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy(
        F.md5(F.concat(F.lit(f"{seed}:pos:"), F.col(id_col).cast("string"))),
        F.col(id_col),
    )
    return staged.select(
        id_col, "bucket", "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Collocation (phrase) mining by pointwise mutual information:

        PMI(w1, w2) = ln( c12 · N / (c1 · c2) )

    over adjacent word pairs — the phrase-detection pass used to feed
    multi-word tokens to a tokenizer (word2vec's phrase step).  Micro-
    nat integer output (the ngram_lm float discipline: ln of exact
    integer ratios, floored per TYPE before any ranking).

    Scale shape: words/bigram counts are wordcount shuffles with
    partial agg (bounded by vocabulary, not corpus); the final ranking
    window sees only pairs with c12 ≥ min_count — at any corpus size a
    table bounded by the frequent-pair vocabulary."""
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(normalized_words(text_col).alias("ws"))
        .localCheckpoint(eager=False)  # feeds unigrams AND bigrams
    )
    uni = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # joined twice (w1 and w2 side)
    )
    n_total = uni.agg(F.sum("c").alias("n"))
    bg = (
        words.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    scored = (
        bg.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1", "w2", "c12",
            F.floor(
                F.log(
                    F.col("c12").cast("double") * F.col("n")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ) * F.lit(MICRO)
            ).cast("bigint").alias("pmi_micro"),
        )
    )
    w = Window.orderBy(F.col("pmi_micro").desc(), F.col("w1"), F.col("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_n)
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot diff between two corpus versions — the dataset-
    versioning verb an incremental training lake needs before every
    re-train: which documents were ADDED, REMOVED, CHANGED, or
    UNCHANGED between the snapshot a model trained on and today's
    corpus.  (The engine's incremental/microbatch tiers answer "apply
    the delta"; this answers "what IS the delta" for auditing,
    retraining triggers, and cache-invalidation of derived tables.)

    Content identity is the md5 of the raw text with a NULL marker
    distinct from the empty string (a doc whose text became NULL is a
    CHANGE, not an ambiguous empty).  Returns
    ``(id, status string, old_md5, new_md5)`` with status ∈
    {'added','removed','changed','unchanged'}.

    Scale shape: ONE full-outer equi-join on the id — md5 is computed
    per side BEFORE the join so only (id, 32-byte hash) rows shuffle,
    never document text.  At 100 TB both snapshots live bucketed by id
    and the join is co-partitioned with no exchange at all."""
    def _fp(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.when(F.col(text_col).isNull(), F.lit("<null>"))
            .otherwise(F.md5(F.col(text_col))).alias(out),
        )

    o = _fp(old, "old_md5")
    n = _fp(new, "new_md5")
    return (
        o.join(n, "id", "full_outer")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("old_md5").isNull(), F.lit("added"))
            .when(F.col("new_md5").isNull(), F.lit("removed"))
            .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
            .otherwise(F.lit("changed")).alias("status"),
            "old_md5",
            "new_md5",
        )
    )


def ngram_loop_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_repeats: int = 3,
) -> DataFrame:
    """Degenerate-repetition detection: maximal runs where the SAME
    n-gram repeats BACK-TO-BACK (stride exactly n) at least
    ``min_repeats`` times — the "model loop" failure mode of synthetic
    / LLM-generated text ("the cat sat the cat sat the cat sat …"),
    which fraction-based filters (gopher_repetition) only catch once
    the loop dominates the document.  Emits every run so callers can
    filter docs OR cut the run spans (the contamination_spans /
    cut_dup_spans span contract applies to ``run_start..span_end``).

    Output: ``(doc_id, gram, run_start, repeats, span_end)`` —
    1-based inclusive word positions; ``repeats`` counts gram copies,
    ``span_end = run_start + repeats·n − 1``.

    Scale shape: positional n-grams are one linear HOF pass; chain
    detection is a per-(doc, phase) window over ``start`` (phase =
    start mod n — back-to-back copies of an n-gram are exactly n
    apart, so each arithmetic chain lives in one phase), bounded by
    document length, never cross-document; runs aggregate with one
    doc-keyed groupBy.  Zero joins, zero corpus-scale shuffles beyond
    the single doc-keyed exchange."""
    words = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), normalized_words(text_col).alias("ws")
    )
    cnt = F.greatest(F.size("ws") - n + 1, F.lit(0))
    z = F.slice(F.col("ws"), 1, cnt)
    for j in range(1, n):
        z = F.zip_with(z, F.slice(F.col("ws"), j + 1, cnt),
                       lambda x, y: F.concat_ws(" ", x, y))
    exploded = (
        words.filter(F.size("ws") >= n)
        .withColumn("_z", z)
    )
    if min_repeats >= 2:
        # ARRAY-DOMAIN prefilter before the explode (lossless for
        # min_repeats >= 2): a position can belong to a run only if
        # the SAME gram sits exactly n before or after it.  Healthy
        # text has ~no such links, so the window exchange carries ~zero
        # rows instead of every corpus gram.  At the probe decades the
        # wall is dominated by gram CONSTRUCTION (linear, unavoidable)
        # either way; the cut is about exchange bytes and window state
        # on wider-than-memory corpora.  Shifted-slice zip_with only
        # (no element_at-in-lambda re-evaluation).
        zc = F.col("_z")
        zcnt = F.size("_z")
        fwd = F.zip_with(
            zc,
            F.slice(zc, n + 1, F.greatest(zcnt - n, F.lit(0))),
            lambda x, y: F.coalesce(x == y, F.lit(False)),
        )
        bwd = F.concat(
            F.array_repeat(F.lit(False), n),
            F.slice(fwd, 1, F.greatest(zcnt - n, F.lit(0))),
        )
        keep = F.zip_with(
            fwd, bwd,
            lambda a, b: F.coalesce(a, F.lit(False))
            | F.coalesce(b, F.lit(False)),
        )
        grams = (
            exploded
            .select(F.col(id_col),
                    F.posexplode(F.arrays_zip(zc, keep.alias("k")))
                    .alias("p0", "s"))
            .filter(F.col("s._z").isNotNull() & F.col("s.k"))
            .select(
                id_col,
                (F.col("p0") + 1).cast("bigint").alias("start"),
                F.col("s._z").alias("gram"),
                ((F.col("p0") + 1) % n).cast("int").alias("phase"),
            )
        )
    else:
        grams = (
            exploded
            .select(F.col(id_col), F.posexplode("_z").alias("p0", "gram"))
            .select(
                id_col,
                (F.col("p0") + 1).cast("bigint").alias("start"),
                "gram",
                ((F.col("p0") + 1) % n).cast("int").alias("phase"),
            )
        )
    w_ord = Window.partitionBy(id_col, "phase").orderBy("start")
    w_run = (
        Window.partitionBy(id_col, "phase")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    chains = (
        grams.withColumn("pstart", F.lag("start").over(w_ord))
        .withColumn("pgram", F.lag("gram").over(w_ord))
        .withColumn(
            "new_run",
            F.when(
                F.col("pstart").isNull()
                | (F.col("start") != F.col("pstart") + n)
                | (F.col("gram") != F.col("pgram")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("run", F.sum("new_run").over(w_run))
    )
    return (
        chains.groupBy(id_col, "phase", "run")
        .agg(
            F.min("gram").alias("gram"),
            F.min("start").alias("run_start"),
            F.count("*").cast("bigint").alias("repeats"),
        )
        .filter(F.col("repeats") >= min_repeats)
        .select(
            id_col,
            "gram",
            "run_start",
            "repeats",
            (F.col("run_start") + F.col("repeats") * n - 1)
            .cast("bigint").alias("span_end"),
        )
    )


def vocab_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
    smoothing: int = 1,
) -> DataFrame:
    """Term-distribution drift between two corpus snapshots — the
    monitoring verb behind "did the crawl change under us": per-term
    frequency-share shift plus each term's contribution to
    KL(new ‖ old), the standard drift score.  Run it between ingest
    batches (or corpus_diff'ed snapshots) before retraining decisions.

    Integer-exact cross-engine (the ngram_lm/dsir discipline): with
    add-``smoothing`` counts over the UNION vocabulary,

        contrib(t) = p_new(t) · ln(p_new(t) / p_old(t))

    is evaluated as ONE deterministic double expression over exact
    integer counts and floored to micro-nats; Σ contrib over ALL terms
    is the exact KL, and the emitted top_k are the largest absolute
    contributors (rank window over the vocabulary, never the corpus).
    Returns (term, n_old, n_new, drift_micro, rank).

    Scale shape: two wordcount-class shuffles (map-side combined) +
    one vocabulary-sized full-outer join; the corpus never moves, the
    ranking window runs over vocabulary rows only."""
    def _counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.filter(F.col(text_col).isNotNull())
            .select(F.explode(normalized_words(text_col)).alias("term"))
            .groupBy("term")
            .agg(F.count("*").cast("bigint").alias(out))
        )

    o = _counts(old, "n_old")
    n = _counts(new, "n_new")
    v = o.join(n, "term", "full_outer").select(
        "term",
        F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
    ).localCheckpoint(eager=False)  # totals agg + scoring both read it
    tot = v.agg(
        F.sum("n_old").alias("t_old"),
        F.sum("n_new").alias("t_new"),
        F.count("*").alias("vsz"),
    ).collect()[0]
    t_old, t_new, vsz = (int(tot["t_old"] or 0), int(tot["t_new"] or 0),
                         int(tot["vsz"]))
    if vsz == 0:
        return old.sparkSession.createDataFrame(
            [], "term string, n_old bigint, n_new bigint, "
                "drift_micro bigint, rank int")
    s = int(smoothing)
    # smoothing must keep every smoothed count positive: with s = 0, a
    # term absent from one snapshot divides by / logs zero, and the
    # NULL drift_micro would silently sort LAST instead of erroring
    # (and diverge from any oracle replay) — fail loudly (r9 advice)
    if s < 1:
        raise ValueError(
            f"vocab_drift: smoothing must be >= 1 (got {smoothing}) — "
            "add-s smoothing is what keeps p_old/p_new positive for "
            "terms absent from one snapshot"
        )
    # p_new·ln(p_new/p_old) with add-s smoothing, as ONE double expr
    # over exact integers, floored to micro-nats (deterministic both
    # engines; no cross-row float accumulation anywhere)
    pn = (F.col("n_new") + F.lit(s)).cast("double") / F.lit(
        float(t_new + s * vsz))
    ratio = (
        (F.col("n_new") + F.lit(s)).cast("double")
        * F.lit(float(t_old + s * vsz))
    ) / (
        (F.col("n_old") + F.lit(s)).cast("double")
        * F.lit(float(t_new + s * vsz))
    )
    scored = v.select(
        "term", "n_old", "n_new",
        F.floor(pn * F.log(ratio) * 1_000_000).cast("bigint")
        .alias("drift_micro"),
    )
    # per-partition top-k prefilter BEFORE the global rank window (the
    # build_vocab lever): the unbounded window otherwise sorts the
    # ENTIRE vocabulary in one task.  At the probe decades the wall is
    # dominated by the two corpus wordcounts (linear) — this cut is
    # about the single-task sort on 100M+-term vocabularies; keeping
    # the top_k of every partition is lossless for a global top_k
    pw = Window.partitionBy("_pid").orderBy(
        F.abs("drift_micro").desc(), F.col("term").asc()
    )
    pruned = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_pr", F.row_number().over(pw))
        .filter(F.col("_pr") <= top_k)
        .drop("_pid", "_pr")
    )
    w = Window.orderBy(
        F.abs("drift_micro").desc(), F.col("term").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-coverage monitoring: per-document out-of-vocabulary
    token counts and rate against a sealed vocabulary
    (``textstats.build_vocab`` output or any (term, ...) table) — the
    operational complement of ``vocab_drift``: drift says the corpus
    moved, OOV rate says the TOKENIZER no longer covers it (rising OOV
    on fresh crawl slices is the standard retrain-the-tokenizer
    trigger).

    PURE integer arithmetic — ``oov_micro = n_oov·1e6 div n_tokens``
    (bigint division, no float anywhere), NULL for zero-token
    documents; NULL-text rows are excluded (the family contract).

    Scale shape: token counts are row-local; the only corpus shuffle
    is the per-doc OOV aggregate.  The vocabulary side carries no
    forced broadcast hint (r9 ADVICE): a tokenizer vocabulary is
    small (≤ a few 100k rows) and AQE broadcasts it from its measured
    size, while a caller who passes a corpus-scale term table falls
    back to Spark's size-based join selection instead of a forced
    driver/executor OOM.  Returns (id_col, n_tokens, n_oov,
    oov_micro)."""
    words = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        normalized_words(F.col(text_col)).alias("_w"),
    )
    base = words.select("id", F.size("_w").cast("bigint").alias("n_tokens"))
    oov = (
        words.select("id", F.explode("_w").alias("term"))
        .join(vocab.select("term"), "term", "left_anti")
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("n_oov"))
    )
    return (
        base.join(oov, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
        )
        .withColumn(
            "oov_micro",
            F.expr("case when n_tokens = 0 then null "
                   "else (n_oov * 1000000) div n_tokens end")
            .cast("bigint"),
        )
    )


def _bpe_vocab_state(df: DataFrame, text_col: str) -> DataFrame:
    """The one corpus-scale pass of the distributed BPE trainer:
    collapse the corpus to its word-frequency vocabulary with
    each word exploded to a double-space token sequence (the
    boundary-safe `_bpe_merge_seq` encoding), sealed."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(normalized_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "n",
            F.concat(F.lit(" "),
                     F.array_join(F.split(F.col("word"), ""), "  "),
                     F.lit(" ")).alias("seq"),
        )
        .localCheckpoint(eager=True)  # the one corpus-scale pass
    )


def _bpe_pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-pair counts (a, b, cnt) over the evolving vocabulary
    state — one distributed aggregate, vocabulary-bounded."""
    toks = F.split(F.trim(F.col("seq")), "  ")
    return (
        state.filter(F.size(toks) >= 2)
        .select(
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("a"),
                        F.element_at(toks, i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
    )


def bpe_train_batched(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    batch_size: int = 8,
    scan_top_k: int = 256,
    checkpoint_every: int = 4,
) -> list[tuple[str, str]]:
    """BPE merge training WITHOUT ``bpe_train``'s collected-vocabulary
    cap — the 100 TB form of ``bpe_train``, identical to it wherever the
    cap there is not binding (pytest-pinned).  The corpus collapses to the
    word-frequency vocabulary once (the only corpus-scale pass); each
    pair-count scan is one DISTRIBUTED aggregate plus a ≤
    ``scan_top_k``-row TakeOrdered collect in the bpe_train order
    (count desc, then lexicographic), and merges apply as the
    boundary-safe double-space replace (`_bpe_merge_seq`'s rank step),
    so the vocabulary is never collected.

    PROVABLY-EXACT merge batching (r10 verdict, item 2): one Spark job
    per merge makes a 32k-merge tokenizer ~32k sequential
    vocabulary-scale jobs; this trainer applies up to ``batch_size``
    merges per scan and stays merge-for-merge identical to the
    one-merge-per-scan form (``batch_size=1``).

    Exactness rule — note a plain greedy independent set ("top-B pairs
    sharing no token") is NOT sufficient: merging (a,b) can CREATE a
    pair, e.g. (x, ab), whose count exceeds the next disjoint pair's
    (corpus "x a b"×10 + "c d"×9: sequential merges (a,b) then (x,ab),
    never (c,d)).  A batch is the longest prefix of the
    (cnt desc, a, b)-ordered pair list such that

      (1) the prefix is mutually token-disjoint — the FIRST pair that
          shares a token with an accepted merge ends the batch (its
          own post-merge count is unknowable without a rescan, and it
          upper-bounds every pair the accepted merges can create or
          shrink at a count ≥ every later candidate's);
      (2) each accepted merge's count is STRICTLY greater than the
          count of every collected pair adjacent to earlier accepted
          merges and strictly greater than the collection horizon
          (the K-th collected count) — any pair created by an earlier
          accepted merge (x,a)·(a,b) → (x,ab) occurs at most
          cnt(x,a) ≤ that bound times, and strictness kills the
          lexicographic-tie hazard ((a⊕b) can sort before an accepted
          token even when (b,·) sorts after it).

    Under (1)+(2), after applying accepted merges 1..j-1 the true
    sequential argmax is exactly accepted merge j: unaccepted disjoint
    pairs kept their scanned counts and sort after it; adjacent pairs
    only shrank below it; created pairs are bounded below it.  ∎

    Batch sizes are corpus-dependent (adjacent top pairs end batches
    early on natural text); the scan count is reported by
    ``bpe_train_batched_stats`` and measured in SCALING.md.
    ``checkpoint_every`` seals the evolving vocabulary lineage every k
    merges — the replace chain otherwise re-derives the corpus
    wordcount per scan.  Returns the ranked merge list for
    ``bpe_token_counts`` / ``bpe_tokenize``.
    """
    return bpe_train_batched_stats(
        df, text_col, n_merges, batch_size, scan_top_k, checkpoint_every)[0]


def bpe_train_batched_stats(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    batch_size: int = 8,
    scan_top_k: int = 256,
    checkpoint_every: int = 4,
) -> tuple[list[tuple[str, str]], int]:
    """``bpe_train_batched`` returning ``(merges, n_scans)`` — the
    scheduling-cost observable for SCALING.md (jobs ≈ n_merges / B̄)."""
    if batch_size < 1:
        raise ValueError(f"bpe_train_batched: batch_size must be >= 1, "
                         f"got {batch_size}")
    state = _bpe_vocab_state(df, text_col)
    merges: list[tuple[str, str]] = []
    scans = 0
    since_seal = 0  # merges applied since the last lineage seal
    while len(merges) < n_merges:
        k = max(scan_top_k, batch_size)
        rows = (
            _bpe_pair_counts(state)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(k)
            .collect()
        )
        scans += 1
        if not rows:
            break
        # horizon: pairs below the K-th collected row exist only when
        # the scan returned exactly K rows; they count at most floor
        floor = int(rows[-1]["cnt"]) if len(rows) == k else 0
        accepted: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for i, r in enumerate(rows):
            a, b, cnt = r["a"], r["b"], int(r["cnt"])
            if a in used or b in used:
                break  # rule (1): first overlap ends the batch
            if accepted:
                # rule (2): strict dominance over every pair adjacent
                # to the already-accepted merges (all such pairs sort
                # at or below this candidate — anything above would
                # have ended the batch at rule (1)) and the horizon
                adj = max(
                    (int(q["cnt"]) for q in rows[i + 1:]
                     if q["a"] in used or q["b"] in used),
                    default=0,
                )
                if cnt <= max(adj, floor):
                    break
            accepted.append((a, b, cnt))
            used.update((a, b))
            if len(accepted) >= min(batch_size,
                                    n_merges - len(merges)):
                break
        if not accepted:
            break  # cannot certify even one... unreachable: m1 is free
        seq = F.col("seq")
        for a, b, _ in accepted:
            merges.append((a, b))
            seq = F.replace(seq, F.lit(f" {a}  {b} "),
                            F.lit(f" {a + b} "))
        state = state.select("n", seq.alias("seq"))
        # seal by MERGES applied, not scans: a batch stacks up to
        # batch_size replaces, and every subsequent scan re-executes
        # the unsealed replace chain — scan-cadence sealing let the
        # chain grow to checkpoint_every·batch_size string passes
        # (measured 60% slower than sequential at sf0.1 before this)
        since_seal += len(accepted)
        if since_seal >= checkpoint_every:
            state = state.localCheckpoint(eager=True)
            since_seal = 0
    return merges, scans


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source dataset-card statistics — the PROFILE verb a corpus
    registry publishes next to every source (the 'datasheets for
    datasets' practice, Gebru et al. 2021): one row per source with
    volume, length, exact-duplicate, and language-mix signals, each
    an exact integer so the row is replayable and diffable across
    snapshots (compose with corpus_diff for drift).

    Columns: n_docs (all rows), n_texts (non-NULL texts),
    n_chars_total, mean_chars (floor over non-NULL texts),
    n_distinct_texts (md5), dup_rate_micro ((n_texts − distinct)·1e6
    div n_texts — the within-source exact-dup rate), n_langs
    (non-NULL), top_lang (most frequent; ties → lang ASC; NULL when
    the source has no labeled rows).  NULL sources profile as their
    own group (both engines group NULLs together).

    Scale shape: ONE corpus pass into a per-(source, lang) partial
    aggregate plus a per-source distinct-md5 count — the costliest
    leg, count(distinct) over 32-char md5 keys, the dedup_exact shuffle
    shape; the lang argmax runs over the (sources × langs)-sized
    frame, never corpus rows."""
    t = F.col(text_col)
    per_source = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(t).cast("bigint").alias("n_texts"),
        F.coalesce(F.sum(F.length(t)), F.lit(0)).cast("bigint")
        .alias("n_chars_total"),
        F.countDistinct(F.md5(t)).cast("bigint")
        .alias("n_distinct_texts"),
        F.countDistinct(F.col(lang_col)).cast("bigint").alias("n_langs"),
    ).withColumn(
        "mean_chars",
        F.expr("case when n_texts = 0 then 0 "
               "else n_chars_total div n_texts end").cast("bigint"),
    ).withColumn(
        "dup_rate_micro",
        F.expr("case when n_texts = 0 then 0 else "
               "((n_texts - n_distinct_texts) * 1000000) div n_texts end")
        .cast("bigint"),
    )
    lang_counts = (
        df.filter(F.col(lang_col).isNotNull())
        .groupBy(F.col(source_col).alias("source"),
                 F.col(lang_col).alias("top_lang"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("_n").desc(), F.col("top_lang").asc())
    top = (
        lang_counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1).select("source", "top_lang")
    )
    return per_source.join(top, "source", "left").select(
        "source", "n_docs", "n_texts", "n_chars_total", "mean_chars",
        "n_distinct_texts", "dup_rate_micro", "n_langs", "top_lang",
    )
