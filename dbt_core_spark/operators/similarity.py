"""Similarity search over embedding columns (``array<float>``).

Engine extension (driver north star).  Three tiers:

- ``cosine_pairs`` / ``cosine_topk`` — exact brute force, the baseline.
  Dot products run JVM-side via ``zip_with``/``aggregate`` (no UDF).
  Brute force is O(n²) — correct reference + fine for ≤10⁵ vectors.
- ``lsh_cosine_topk`` — random-hyperplane LSH: deterministic md5-seeded
  hyperplanes, bucket on sign patterns, search only within buckets
  (+ multiprobe via bit flips).  The 100 TB path: shuffle keys are
  small ints, candidate sets shrink by ~2^planes.
- ``ivf_topk`` — inverted-file: coarse-quantize to the nearest of k
  sampled centroids, search only the probe-nearest cells.

The BLAS tier (``cosine_topk_blas``'s sharded path, ``ivf_topk_blas``,
the ``ivf_index_*`` lifecycle and both BLAS semantic dedups) shares one
kernel per job:

- ``_fit_centroids`` — the bounded id-ordered sample and numpy Lloyd fit;
- ``_nearest_cells`` — the nearest-centroid rule (cells ranked on
  ``round(cos, 6)``, ties to the lowest index), applied by the
  ``_assign_cells`` ``mapInPandas`` pass and the broadcast serve's driver;
- ``_local_topk`` — the chunked probe × member top-k matmul, run per
  group by ``_topk_score_kernel`` and per (cell, Arrow batch) by
  ``_probed_topk_kernel``;
- ``_pair_kernel`` + ``_keepers`` — the dedup pair block and its
  lowest-id keeper aggregate;
- ``_rounded_topk`` — the per-query rounded top-k window merge.
"""

from __future__ import annotations

import hashlib
import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

# the top-k result and the per-block candidate schemas of the ANN tiers
_TOPK_SCHEMA = "query_id long, nbr_id long, cosine double, rank int"
_CAND_SCHEMA = "query_id long, nbr_id long, cosine double"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _finite_components(col: Column) -> Column:
    """True iff the vector is non-empty and every component is finite:
    size > 0 AND max-|x| < inf (NaN orders above +inf on both engines,
    so one bound covers NaN and ±Inf).  The non-cosine embedding
    families' entry contract alongside isNotNull — a corrupt vector is
    excluded whole (r6 NaN/Inf fuzz class; the quantizing tiers would
    otherwise hit engine-divergent NaN→int casts).  The size guard
    aligns the empty-array contract with the oracles (r6 ADVICE): the
    fold's 0.0 init made an empty array pass, while the oracles'
    ``list_max(...) < 'infinity'`` is NULL for an empty list and drops
    the row — and a kept empty vector poisons downstream kernels
    (random_projection would emit all-NULL projections)."""
    return (F.size(col) > 0) & (
        F.aggregate(
            F.transform(col, lambda x: F.abs(x.cast("double"))),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        )
        < F.lit(float("inf"))
    )


def _finite_pos_norm(col: Column) -> Column:
    """Entry contract of the cosine family: 0 < norm < inf.  Excludes
    zero-norm (cosine undefined), NaN-norm (any NaN component — both
    engines order NaN ABOVE +inf, so ``norm < inf`` is false for NaN on
    both), and inf-norm vectors (r6 NaN/Inf fuzz class; NULL vectors
    yield a NULL predicate and drop too)."""
    n = _norm(col)
    return (n > 0) & (n < F.lit(float("inf")))


def _rounded_topk_cols(srow, kk: int, dp: int):
    """Top-``kk`` column indices of a score row by (round(s, dp) DESC,
    index ASC) — the cross-engine rank contract for the BLAS kernels.

    Selection AND ordering happen on the ROUNDED score: numpy matmul
    and SQL fold summation differ in last-ulp ways, so ranking raw
    doubles can flip the order (or boundary membership) of two
    neighbors whose displayed 6/9-dp cosines are equal — a real
    divergence the r6 NULL-embedding gate fuzz caught on a duplicate-
    heavy corpus.  Rounding the rank key aligns rank divergence exactly
    with value divergence.  Callers must pass score rows whose index
    order is ascending-id so the stable sort's tie-break matches
    ``row_number() over (... order by round(cosine, dp) desc, nbr_id)``.
    """
    import numpy as np

    r = np.round(srow, dp)
    if len(r) <= kk:
        cand = np.arange(len(r))
    else:
        # boundary value of the kk-th largest, then every index tied
        # with it — an argpartition alone picks arbitrarily among ties
        b = np.partition(r, len(r) - kk)[len(r) - kk]
        cand = np.where(r >= b)[0]
    return cand[np.argsort(-r[cand], kind="stable")][:kk]


def _rounded_topk(scored: DataFrame, k: int, dp: int) -> DataFrame:
    """Merge (query_id, nbr_id, cosine) candidates into each query's
    top-``k`` by (round(cosine, dp) DESC, nbr_id ASC) — the rounded-rank
    contract of ``_rounded_topk_cols`` — emitting the rounded cosine."""
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", dp).desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", F.round("cosine", dp).alias("cosine"), "rank")
    )


def with_unit_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize so cosine = dot (halves the pairwise math).

    The norm is staged as a column referenced TWICE (zero-guard +
    lambda): a single-reference alias would be collapsed back INTO the
    transform lambda by CollapseProject and re-evaluated per element —
    O(dim²) per row (measured 2.4× on 64-dim; ruinous at 1024-dim)."""
    staged = df.withColumn("__n", _norm(F.col(vec_col)))
    return (
        staged.withColumn(
            vec_col,
            F.when(
                F.col("__n") != 0,
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") / F.col("__n")
                ),
            ).otherwise(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ),
        ).drop("__n")
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (a < b). Exact.

    **TEST-SCALE ONLY** — the all-pairs join is inherently O(n²); never
    run this on a production corpus.  Production paths:
    ``lsh_cosine_topk`` / ``ivf_topk`` / ``ivf_topk_blas`` (approximate)
    or ``cosine_topk_blas`` (exact, matmul-batched, auto-sharded).

    Norms are computed per ROW below the join (n folds), not per pair
    (n² folds) — same float expression dot/(na*nb), 3× less work.
    Zero-norm vectors are excluded BEFORE the join: cosine is undefined
    for them, the SQL oracle's NULL division result silently drops such
    pairs, and Spark's ANSI mode would instead throw DIVIDE_BY_ZERO
    (gate-fuzz finding)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                  _norm(F.col(vec_col)).alias("na")).filter((F.col("na") > 0) & (F.col("na") < F.lit(float("inf"))))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                  _norm(F.col(vec_col)).alias("nb")).filter((F.col("nb") > 0) & (F.col("nb") < F.lit(float("inf"))))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine",
                    _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        # raw double: dot/norm folds run in array order in both engines,
        # so the oracle can match bit-for-bit
        .select("id_a", "id_b", "cosine")
    )


def cosine_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (queries default to the
    corpus itself, self-match excluded).  Ties broken by neighbor id for
    determinism.

    **TEST-SCALE ONLY** — row-expression all-pairs scoring; use
    ``cosine_topk_blas`` (same exact results, matmul-batched,
    auto-sharded past the driver budget) in production.

    Zero-norm vectors are excluded on both sides (cosine is undefined;
    the cosine_pairs convention — ANSI would otherwise throw)."""
    corpus = df.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("vb"),
                       _norm(F.col(vec_col)).alias("nb")).filter((F.col("nb") > 0) & (F.col("nb") < F.lit(float("inf"))))
    q = (queries or df).select(F.col(id_col).alias("query_id"),
                               F.col(vec_col).alias("va"),
                               _norm(F.col(vec_col)).alias("na")).filter(
                                   (F.col("na") > 0)
                                   & (F.col("na") < F.lit(float("inf"))))
    scored = (
        q.join(corpus, F.col("query_id") != F.col("nbr_id"))
        .withColumn("cosine",
                    _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def cosine_topk_blas(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    queries: DataFrame | None = None,
    max_driver_rows: int = 200_000,
    shard_rows: int = 100_000,
) -> DataFrame:
    """Exact top-k via Arrow + BLAS — the query-vs-index shape used in
    production retrieval: the corpus is gathered once into a dense
    normalized matrix and broadcast; queries stream through
    ``mapInPandas`` in Arrow batches, each scored with one matmul and a
    vectorized partial top-k.  ~100× less per-pair overhead than the
    row-expression fold.

    Above ``max_driver_rows`` the corpus no longer fits a driver
    broadcast: the call transparently switches to
    ``_sharded_topk_blas`` — corpus hashed into ~``shard_rows`` shards,
    queries replicated to every shard (exact search must visit all of
    them), one matmul per shard via ``applyInPandas``, then a global
    window merge of the ≤ shards·k candidates per query.  No driver
    collect anywhere on that path.

    Results equal ``cosine_topk`` to BLAS-vs-sequential-fold float
    error (~1e-15); ``cosine`` is rounded to 9 dp so downstream
    comparisons are reduction-order-independent.

    Zero-norm vectors are excluded on both sides BEFORE the matmul
    (cosine undefined; the cosine_pairs convention) — previously they
    were dropped only implicitly by the nan/isfinite guard inside the
    kernel (gate-fuzz finding)."""
    import numpy as np
    import pandas as pd

    nz = _finite_pos_norm(F.col(vec_col))
    df = df.filter(nz)
    if queries is not None:
        queries = queries.filter(nz)
    spark = df.sparkSession
    n_corpus = df.count()
    if n_corpus > max_driver_rows:
        return _sharded_topk_blas(
            df, vec_col, id_col, k, queries, n_corpus, shard_rows
        )
    corpus_pdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toPandas()
    if len(corpus_pdf) == 0:  # empty (or all-zero-norm) corpus
        return spark.createDataFrame(
            [], "query_id long, nbr_id long, cosine double, rank int"
        )
    ids = corpus_pdf["id"].to_numpy()
    M = np.array(corpus_pdf["v"].tolist(), dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    # tiebreak by ascending nbr_id: pre-sort the index so argsort's
    # stable ordering resolves equal cosines the same way the SQL
    # row_number() (cosine desc, nbr_id asc) does
    order = np.argsort(ids, kind="stable")
    bidx = spark.sparkContext.broadcast((ids[order], Mn[order]))

    out_schema = "query_id long, nbr_id long, cosine double, rank int"

    def score(batches):
        nbr_ids, Mb = bidx.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["id"].to_numpy()
            Q = np.array(pdf["v"].tolist(), dtype=np.float64)
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            S = Qn @ Mb.T  # (q, n)
            S[qids[:, None] == nbr_ids[None, :]] = -np.inf  # self-match
            kk = min(k, S.shape[1])
            rows = []
            for qi in range(len(qids)):
                # rounded-rank contract (index order == nbr_id order —
                # Mb is pre-sorted by id above): selection + ordering on
                # round(S, 9), ties by ascending id, matching
                # row_number() over (round(cosine, 9) desc, nbr_id)
                rank = 0
                for c in _rounded_topk_cols(S[qi], kk, 9):
                    if not np.isfinite(S[qi, c]):
                        continue  # -inf self-match lands in top-k when n <= k
                    rank += 1
                    rows.append((int(qids[qi]), int(nbr_ids[c]),
                                 round(float(S[qi, c]), 9), rank))
            yield pd.DataFrame(rows, columns=["query_id", "nbr_id", "cosine", "rank"])

    src = (queries or df).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    from dbt_core_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(src).mapInPandas(score, schema=out_schema)


def _sharded_topk_blas(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    queries: DataFrame | None,
    n_corpus: int,
    shard_rows: int,
) -> DataFrame:
    """Exact top-k without any driver collect: the distributed shape of
    ``cosine_topk_blas`` for corpora past the broadcast budget.

    corpus → hash-sharded (~``shard_rows`` rows/shard); queries are
    replicated to EVERY shard (exactness requires visiting all of them);
    each shard scores its queries×members block with the shared
    ``_topk_score_kernel`` (9-dp rank, score matrix chunked to
    ``_MATMUL_BUDGET`` cells); ``_rounded_topk`` merges the ≤ shards·k
    candidates.  Cost: one shuffle of corpus, one shuffle of queries×S,
    no pairwise row blowup.  Per-shard member blocks are bounded by
    ``shard_rows``."""
    import math

    spark = df.sparkSession
    n_shards = max(2, math.ceil(n_corpus / shard_rows))
    corpus = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int").alias("shard"),
        F.lit(True).alias("is_member"),
    )
    shard_ids = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
    q = (
        (queries or df)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(shard_ids))
        .withColumn("is_member", F.lit(False))
    )
    routed = corpus.unionByName(q)
    scored = routed.groupBy("shard").applyInPandas(
        _topk_score_kernel(k, int(_MATMUL_BUDGET), 9),
        schema="query_id long, nbr_id long, cosine double",
    )
    return _rounded_topk(scored, k, 9)


# Score-matrix budget for the chunked BLAS kernels: ~16M float64 cells
# ≈ 128 MB per matmul chunk, regardless of how many probe rows a group
# holds.  Module-level so tests can shrink it to force chunking.
_MATMUL_BUDGET = 16_000_000

# Byte cap of the broadcast serve's float64 query batch, collected to
# the driver and sent to every Python worker (1536-d: 5 461 rows).
_BROADCAST_BYTES = 64 * 2**20


def _resolve_n_cells(
    df: DataFrame, n_cells: int | None, max_cell_rows: int
) -> tuple[int, int | None]:
    """Auto-size the coarse-cell count when the caller didn't pin one.

    ``n_cells = max(16, ceil(rows / max_cell_rows))`` keeps the expected
    cell population ≤ ``max_cell_rows``, so the within-cell quadratic /
    per-cell matmul stays bounded without tuning — the SemDeDup paper
    runs 10k+ clusters at corpus scale for the same reason, and a 10×
    corpus automatically gets 10× cells.  Costs one count() job; pass
    ``n_cells`` explicitly to skip it.

    Returns ``(n_cells, rows)`` — rows is None when not counted."""
    if n_cells is not None:
        return n_cells, None
    rows = df.count()
    return max(16, -(-rows // max_cell_rows)), rows


def _seal(df: DataFrame) -> DataFrame:
    """Materialize a DataFrame once and cut its lineage
    (``localCheckpoint``, MEMORY_AND_DISK) before branched reuse.

    Both BLAS kernels branch their mapInPandas assignment pass several
    ways (per-cell counts, then the member and probe block sides);
    without sealing, Catalyst replays the full Arrow/Python pass once
    PER BRANCH — a measured ~3× on the kernels' most expensive stage.
    Same pattern as the per-iteration seal in
    dedup.connected_components.

    Lazy (eager=False): the first downstream job (the tiny per-cell
    count aggregate) materializes and persists the partitions; every
    later branch reads the cached blocks — one fewer full job than an
    eager checkpoint, same single execution of the Python pass."""
    return df.localCheckpoint(eager=False)


def _centroid_matrix(centroids: DataFrame):
    """Collect an (cell, cv) centroid frame to a cell-ordered numpy
    matrix: ``(Cn, cells)`` float64/int64 arrays, or ``(None, None)``
    for an empty frame.

    Plain ``collect()`` + driver-side sort, NOT ``orderBy().toPandas()``
    — the orderBy plans a range-partition exchange whose sampling job
    plus the shuffle cost two scheduled jobs per SERVING BATCH on a
    frame that is n_cells rows by contract (r8 profile: 0.8 s of the
    3.1 s ann_ivf_index_query gate at sf0.1 was this one collect)."""
    import numpy as np

    rows = centroids.select("cell", "cv").collect()
    if not rows:
        return None, None
    rows.sort(key=lambda r: r["cell"])
    Cn = np.array([r["cv"] for r in rows], dtype=np.float64)
    cells = np.array([r["cell"] for r in rows], dtype="int64")
    return Cn, cells


def _np_finite_pos_rows(pdf):
    """Kernel-side mirror of ``_finite_pos_norm`` over a pandas batch:
    drop NULL vectors, empty arrays, and rows whose L2 norm is zero or
    non-finite (NaN/Inf components).  Returns ``(pdf, Vn)`` — the
    surviving rows and their unit-normalized float64 matrix — or
    ``(pdf, None)`` when nothing survives.

    ``_assign_cells`` applies it to every IVF assignment pass, and the
    broadcast serve to its collected batch.  The serving paths
    (ivf_index_search / semantic_dedup_incremental / ivf_index_append)
    rely on it alone, with no JVM HOF pre-filter: the norm is computed
    inside the Arrow kernel anyway, so doing the validity mask here
    removes a whole plan node (HOF analysis + an extra evaluation over
    the batch) from every serving call — r8 profile: ~0.3 s/batch at
    sf0.1.  Semantics are identical: norm==0, norm==inf (component
    overflow included — the JVM fold's sum of squares overflows the
    same way), and norm==NaN all drop."""
    import numpy as np

    pdf = pdf[pdf["v"].notna()]
    if len(pdf) > 0:
        pdf = pdf[pdf["v"].map(len) > 0]
    if len(pdf) == 0:
        return pdf, None
    V = np.array(pdf["v"].tolist(), dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    keep = np.isfinite(norms) & (norms > 0)
    pdf = pdf[keep]
    if len(pdf) == 0:
        return pdf, None
    Vn = V[keep] / norms[keep, None]
    return pdf, Vn


def _skew_split_2d(
    members: DataFrame,
    probes: DataFrame,
    max_cell_rows: int,
    counts: DataFrame | None = None,
) -> DataFrame:
    """2-D block a per-cell member × probe pairing so every pandas
    frame's EXPECTED population is ≤ ``max_cell_rows`` rows per side,
    no matter how hot a cell is.

    Both inputs carry (id, v, cell).  Per cell, members hash into
    ``ns = ceil(|members| / cap)`` member-blocks and probes into
    ``np = ceil(|probes| / cap)`` probe-blocks; each member row
    replicates to every probe-block and vice versa, so every
    (member-block, probe-block) pair meets in exactly one
    ``(cell, msub, psub)`` group — the standard blocked-matmul
    decomposition.  A (probe p, member m) pair is observed in exactly
    one group: ``(cell, hash(m) % ns, hash(p) % np)``.

    Boundedness is EXPECTATION-level, not adversarial-exact: the hash
    assignment is balanced like any hash partitioning, so a block's
    population concentrates at cap ± O(√cap) (at the production
    cap=100k, exceeding even 1.05× is vanishingly unlikely), but tiny
    caps in tests can collide.  Kernel memory is bounded REGARDLESS of
    block size by the score-matrix chunking (``_MATMUL_BUDGET``) —
    only the frame's row storage scales with a block.

    In the common un-skewed case ns = np = 1: zero replication, plain
    per-cell grouping.  Replication cost for a hot cell is members×np +
    probes×ns — linear in the blocking factor, the unavoidable cost of
    a bounded blocked product (vs the previous one-sided split, which
    bounded members but put the ENTIRE probe side in every subcell).
    Per-cell counts are a tiny aggregate broadcast to both sides.

    ``counts`` may supply a precomputed (cell, _mc, _pc) frame so the
    caller can derive both sides' counts in ONE pass over its sealed
    input (both one-shot kernels do).  Without it the member and probe
    counts inner-join, so the rows of a cell only one side reaches
    (the members of every unprobed cell, above all) drop before the
    exchange: both group kernels return nothing for a one-sided group.

    Returns the union frame (id, v, cell, msub, psub, is_member) to be
    grouped by ``("cell", "msub", "psub")``."""
    if counts is None:
        mc = members.groupBy("cell").agg(F.count("*").alias("_mc"))
        pc = probes.groupBy("cell").agg(F.count("*").alias("_pc"))
        counts = mc.join(pc, "cell")
    # greatest(1, …): ivf_topk_blas's counts hold _mc = 0 for a cell
    # that only probes reach
    blocks = counts.select(
        "cell",
        F.greatest(F.lit(1), F.ceil(F.col("_mc") / F.lit(max_cell_rows)))
        .cast("int").alias("_ns"),
        F.greatest(F.lit(1), F.ceil(F.col("_pc") / F.lit(max_cell_rows)))
        .cast("int").alias("_np"),
    )
    m = members.join(F.broadcast(blocks), "cell").select(
        "id", "v", "cell",
        F.pmod(F.xxhash64("id"), F.col("_ns")).cast("int").alias("msub"),
        F.explode(F.sequence(F.lit(0), F.col("_np") - 1)).alias("psub"),
        F.lit(True).alias("is_member"),
    )
    p = probes.join(F.broadcast(blocks), "cell").select(
        "id", "v", "cell",
        F.explode(F.sequence(F.lit(0), F.col("_ns") - 1)).alias("msub"),
        F.pmod(F.xxhash64("id"), F.col("_np")).cast("int").alias("psub"),
        F.lit(False).alias("is_member"),
    )
    return m.unionByName(p)


def _fit_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    kmeans_iters: int,
    fit_sample: int,
):
    """Fit the coarse centroids on a bounded, id-ordered driver sample
    (numpy Lloyd — FAISS trains on a sample the same way): the first
    ``n_cells`` sample rows seed the cells, and each iteration moves a
    centroid to the mean of the sample rows nearest it (an empty cell
    keeps its centroid).  ``kmeans_iters=0`` keeps the deterministic
    seed rows — what the SQL oracles replay.

    Returns ``(Cn, seed_ids)``: the unit-normalized (cells, dim) matrix
    and the seed rows' ids.  A sample smaller than ``n_cells`` gives one
    cell per row; an empty corpus returns ``(None, None)`` (an empty
    numpy array is 1-D and breaks the axis-1 ops — gate-fuzz)."""
    import numpy as np

    # sampled from the raw scan, not a repartitioned base: the fit is a
    # driver-side limit job, parallelism buys it nothing
    spdf = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id").limit(max(fit_sample, n_cells)).toPandas()
    )
    if len(spdf) == 0:
        return None, None
    sample = np.array(spdf["v"].tolist(), dtype=np.float64)
    Sn = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    C = Sn[:n_cells].copy()
    for _ in range(kmeans_iters):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        a = (Sn @ Cn.T).argmax(axis=1)
        for c in range(len(C)):
            m = Sn[a == c]
            if len(m):
                C[c] = m.mean(axis=0)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    return Cn, spdf["id"].to_numpy()[:len(Cn)].astype("int64")


def _nearest_cells(Vn, Cn, n: int):
    """Indices of each unit row's ``n`` nearest unit centroids, nearest
    first: ranked on ``round(Vn @ Cn.T, 6)`` — stable descending, ties
    to the lowest centroid index — so BLAS-vs-fold ulp noise cannot
    flip a cell choice at a mathematical tie (the rounded-rank contract
    of ``_rounded_topk_cols``), and an appended or searched vector
    lands exactly where a rebuild would put it."""
    import numpy as np

    S = np.round(Vn @ Cn.T, 6)
    if n == 1:  # argmax keeps the first maximum: the stable sort's pick
        return S.argmax(axis=1)[:, None]
    return np.argsort(-S, kind="stable", axis=1)[:, :n]


def _assign_cells(frame: DataFrame, Cn, labels, n_probe: int | None = None) -> DataFrame:
    """The one IVF cell-assignment pass: one Arrow ``mapInPandas`` over
    an (id, v) frame, ranking each batch's cells against the broadcast
    unit centroids ``Cn`` with ``_nearest_cells``.  Invalid rows
    (NULL/empty/zero-norm/NaN/Inf) drop inside the kernel
    (``_np_finite_pos_rows``).  ``labels[i]`` is centroid ``i``'s cell
    id; its dtype sets the ``cell`` column (int32 → int, int64 → long).

    ``n_probe=None`` emits each vector's nearest cell: (id, v, cell).
    An int emits its ``n_probe`` nearest cells, nearest first, plus
    ``is_member`` marking the nearest: (id, v, cell, is_member)."""
    import numpy as np
    import pandas as pd

    schema = "id long, v array<double>, cell " + (
        "long" if labels.dtype == np.int64 else "int")
    if n_probe is not None:
        schema += ", is_member boolean"
    bcast = frame.sparkSession.sparkContext.broadcast((Cn, labels))

    def assign(batches):
        Cb, cls = bcast.value
        for pdf in batches:
            pdf, Vn = _np_finite_pos_rows(pdf)
            if Vn is None:
                continue
            top = _nearest_cells(Vn, Cb, n_probe or 1)
            rows = np.repeat(np.arange(len(pdf)), top.shape[1])
            out = pd.DataFrame({
                "id": pdf["id"].to_numpy().astype("int64")[rows],
                "v": pdf["v"].to_numpy()[rows],
                "cell": cls[top.ravel()],
            })
            if n_probe is not None:
                out["is_member"] = np.tile(np.arange(top.shape[1]) == 0, len(pdf))
            yield out

    return frame.mapInPandas(assign, schema=schema)


def _unit_block(side):
    """(ids, unit-normalized float64 matrix) of a kernel frame side."""
    import numpy as np

    M = np.array(side["v"].tolist(), dtype=np.float64)
    return side["id"].to_numpy(), M / np.linalg.norm(M, axis=1, keepdims=True)


def _local_topk(qid_all, Qn_all, mid, Mn, k: int, budget: int, dp: int) -> list:
    """Each probe row's local top-``k`` members on ``round(cosine,
    dp)`` as (query_id, nbr_id, cosine) tuples, self-matches excluded.
    Members are id-sorted first: the rounded-rank cut breaks ties by
    index, which must mean ascending nbr_id (see _rounded_topk_cols).
    The probe side is chunked so each score matrix stays ~``budget``
    cells; a query's top-k is unaffected (its full member row is
    computed within its chunk)."""
    import numpy as np

    order = np.argsort(mid, kind="stable")
    mid, Mn = mid[order], Mn[order]
    rows = []
    step = max(1, budget // max(1, len(mid)))
    for s in range(0, len(qid_all), step):
        qid = qid_all[s:s + step]
        S = Qn_all[s:s + step] @ Mn.T
        S[qid[:, None] == mid[None, :]] = -np.inf
        kk = min(k, S.shape[1])
        for i in range(len(qid)):
            for c in _rounded_topk_cols(S[i], kk, dp):
                if np.isfinite(S[i, c]):
                    rows.append((int(qid[i]), int(mid[c]), float(S[i, c])))
    return rows


def _topk_score_kernel(k: int, budget: int, dp: int = 6):
    """Build the per-group applyInPandas kernel shared by
    ``ivf_topk_blas``, the exchange path of ``ivf_index_search`` and
    the sharded exact path: the group's probes (``is_member`` false)
    against its members through ``_local_topk``.  ``budget`` is captured as a
    plain value at DRIVER time so it serializes by value with the
    closure (tests pin it deterministically)."""
    import pandas as pd

    cols = ["query_id", "nbr_id", "cosine"]

    def score_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        members = pdf[pdf["is_member"]]
        qs = pdf[~pdf["is_member"]]
        if len(members) == 0 or len(qs) == 0:
            return pd.DataFrame(columns=cols)
        return pd.DataFrame(_local_topk(*_unit_block(qs), *_unit_block(members),
                                        k, budget, dp), columns=cols)

    return score_cell


def _probed_topk_kernel(bq, k: int, budget: int, dp: int = 6):
    """Build the ``mapInPandas`` kernel of the broadcast serve: for
    each (cell, Arrow batch) of probed members, the broadcast queries
    ``bq = (qids, Qn, probed)`` that probe the cell (``probed`` maps a
    cell to its query row indices) score against the block through
    ``_local_topk``.  A member's block is one cell of one batch, so its
    candidates are exact local top-k and ``_rounded_topk`` merges them
    (a global top-k member is top-k of its own block a fortiori)."""
    import pandas as pd

    def score(batches):
        qids, Qn, probed = bq.value
        for pdf in batches:
            rows = []
            for cell, block in pdf.groupby("cell", sort=False):
                qi = probed[int(cell)]  # the JVM filter kept probed cells only
                rows += _local_topk(qids[qi], Qn[qi], *_unit_block(block),
                                    k, budget, dp)
            if rows:
                yield pd.DataFrame(rows, columns=["query_id", "nbr_id", "cosine"])

    return score


def _pair_kernel(tau: float, budget: int, id_rule):
    """Build the per-group applyInPandas kernel shared by both BLAS
    semantic dedups: every (member m, probe p) pair of the group with
    ``round(cos, 6) >= tau`` and ``id_rule(m_id, p_id)`` becomes one
    (id_a=m keeper, id_b=p duplicate, cosine, cell) row.  ``np.less``
    gives the within-corpus dedup (lower id keeps; every unordered pair
    is seen once, since each pair meets in exactly one block group per
    side order); ``np.not_equal`` gives the batch-vs-index dedup (the
    indexed member keeps; only a re-ingested id is a self-match).  The
    probe side is chunked so the score matrix stays ≤ ``budget``
    cells."""
    import numpy as np
    import pandas as pd

    def pair_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        mem = pdf[pdf["is_member"]]
        pr = pdf[~pdf["is_member"]]
        if len(mem) == 0 or len(pr) == 0:
            return pd.DataFrame(
                columns=["id_a", "id_b", "cosine", "cell"]
            ).astype({"id_a": "int64", "id_b": "int64",
                      "cosine": "float64", "cell": "int64"})
        mid, Mn = _unit_block(mem)
        pid_all, Pn_all = _unit_block(pr)
        cell = int(pdf["cell"].iloc[0])
        frames = []
        step = max(1, budget // max(1, len(mid)))
        for s in range(0, len(pid_all), step):
            pid = pid_all[s:s + step]
            S = Pn_all[s:s + step] @ Mn.T
            ii, jj = np.nonzero(
                (np.round(S, 6) >= tau) & id_rule(mid[None, :], pid[:, None]))
            frames.append(pd.DataFrame({
                "id_a": mid[jj].astype("int64"),
                "id_b": pid[ii].astype("int64"),
                "cosine": S[ii, jj],
                "cell": np.full(len(ii), cell, dtype="int64"),
            }))
        return pd.concat(frames, ignore_index=True)

    return pair_cell


def _keepers(pairs: DataFrame, id_col: str) -> DataFrame:
    """One row per duplicate ``id_b``: its keeper is the lowest
    qualifying ``id_a`` (min-struct, partial agg — no sort window),
    with that pair's 6-dp cosine and cell."""
    return (
        pairs.groupBy(F.col("id_b").alias(id_col))
        .agg(
            F.min(F.struct(F.col("id_a"), F.col("cosine"), F.col("cell"))).alias("k")
        )
        .select(
            id_col,
            F.col("k.id_a").alias("keeper_id"),
            F.round(F.col("k.cosine"), 6).alias("cosine"),
            F.col("k.cell").alias("cell"),
        )
    )


def ivf_topk_blas(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 4,
    kmeans_iters: int = 10,
    fit_sample: int = 4096,
    max_cell_rows: int = 100_000,
) -> DataFrame:
    """IVF-flat with BLAS kernels — the production 100 TB shape:

    1. centroids fit on a bounded driver sample (numpy Lloyd — the
       index-build step; FAISS trains on a sample the same way),
    2. one ``mapInPandas`` pass assigns every vector its cell and its
       ``n_probe`` query cells (matmul against broadcast centroids),
    3. ONE shuffle on ``(cell, msub, psub)``; ``applyInPandas`` scores
       each group's queries against its members with chunked matmuls +
       local top-k.  **Skew cap (2-D)**: a hot cell is blocked on BOTH
       sides — members hash into ``ceil(members/max_cell_rows)``
       member-blocks, probes into ``ceil(probes/max_cell_rows)``
       probe-blocks, and every block pair meets in exactly one group
       (``_skew_split_2d``) — frames hold ~``max_cell_rows`` rows per
       side (hash-balanced expectation) however skewed the corpus is.
       Inside the kernel the score matrix is chunked to
       ``_MATMUL_BUDGET`` cells (~128 MB), so peak memory is bounded by
       the frame rows + one chunk.  The per-block top-k → global merge
       stays exact (a global top-k member is top-k in its own block a
       fortiori),
    4. a tiny global window merges the per-block candidates per query.

    Only step 3 touches the full data and it shuffles each vector
    ~n_probe+1 times (plus replication into hot-cell blocks) — no
    pairwise blowup, BLAS throughput per cell.  The assignment pass is
    sealed (``_seal``/localCheckpoint) before the count/member/probe
    branches so the Arrow/Python pass executes ONCE, not once per
    branch.  With kmeans_iters=0 the centroids are the deterministic
    id-ordered seed sample and the whole path has an exact SQL oracle
    (see ann_ivf_blas_topk_embeddings)."""
    # zero-norm vectors excluded (cosine undefined; the
    # cosine_pairs convention -- gate-fuzz finding)
    df = df.filter(_finite_pos_norm(F.col(vec_col)))
    import numpy as np

    from dbt_core_spark.operators.dedup import ensure_parallelism

    n_cells, _ = _resolve_n_cells(df, n_cells, max_cell_rows)
    # -- 1. fit centroids on a deterministic bounded sample ----------------
    Cn, _ = _fit_centroids(df, vec_col, id_col, n_cells, kmeans_iters, fit_sample)
    if Cn is None:
        return df.sparkSession.createDataFrame(
            [], "query_id long, nbr_id long, cosine double, rank int"
        )
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    # -- 2. assign + probe in one Arrow pass -------------------------------
    routed = _seal(
        _assign_cells(base, Cn, np.arange(len(Cn), dtype="int32"), n_probe)
    )

    # -- 3. skew-capped per-cell matmul + local top-k -----------------------
    # every routed row is a (query, probed-cell) pair — the probe side;
    # the is_member rows are the cell's members.  2-D block both sides
    # so hot cells stay bounded (see _skew_split_2d); both counts come
    # from one aggregate pass over the sealed assign output.
    counts = routed.groupBy("cell").agg(
        F.count(F.when(F.col("is_member"), 1)).alias("_mc"),
        F.count("*").alias("_pc"),
    )
    grouped = _skew_split_2d(
        routed.filter(F.col("is_member")).select("id", "v", "cell"),
        routed.select("id", "v", "cell"),
        max_cell_rows,
        counts=counts,
    )

    scored = grouped.groupBy("cell", "msub", "psub").applyInPandas(
        _topk_score_kernel(k, int(_MATMUL_BUDGET)),
        schema="query_id long, nbr_id long, cosine double",
    )
    # -- 4. merge candidates globally --------------------------------------
    return _rounded_topk(scored, k, 6)


def ivf_index_build(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int | None = None,
    kmeans_iters: int = 10,
    fit_sample: int = 4096,
    max_cell_rows: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """Build a PERSISTABLE IVF index — the build-once / search-many ANN
    shape (FAISS's index lifecycle re-expressed as DataFrames; the same
    relationship incremental MinHash dedup has to the one-shot form).

    Returns ``(centroids, assignments)``:

    - ``centroids``: (cell int, cv array<double>) — UNIT-normalized
      centroid per cell, n_cells rows;
    - ``assignments``: (id long, v array<double>, cell int) — every
      corpus vector with its nearest cell.

    Both are plain DataFrames (``centroids`` an Arrow-built
    ``LocalRelation``): ``saveAsTable``/parquet them once, then search
    any number of later query batches with ``ivf_index_search`` WITHOUT
    re-assigning the corpus — at 100 TB the corpus assignment is the
    expensive step, amortized across every ingest batch.

    Centroids fit on a bounded id-ordered driver sample (numpy Lloyd,
    as in ``ivf_topk_blas``); the corpus assignment is ONE Arrow
    ``mapInPandas`` matmul pass.  With ``kmeans_iters=0`` the centroids
    are the deterministic seed sample, giving the whole index+search
    composition an exact SQL oracle (ann_ivf_index_query gate row)."""
    # zero-norm vectors excluded (cosine undefined; the
    # cosine_pairs convention -- gate-fuzz finding)
    df = df.filter(_finite_pos_norm(F.col(vec_col)))
    import numpy as np

    from dbt_core_spark.operators.dedup import ensure_parallelism

    n_cells, _ = _resolve_n_cells(df, n_cells, max_cell_rows)
    spark = df.sparkSession
    Cn, _ = _fit_centroids(df, vec_col, id_col, n_cells, kmeans_iters, fit_sample)
    if Cn is None:
        return (
            spark.createDataFrame([], "cell int, cv array<double>"),
            spark.createDataFrame([], "id long, v array<double>, cell int"),
        )
    import pyarrow as pa

    # Arrow-built, so a LocalRelation: collecting it launches no job
    centroids = spark.createDataFrame(
        pa.table({"cell": np.arange(len(Cn), dtype="int32"), "cv": list(Cn)}),
        "cell int, cv array<double>")
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    assignments = _assign_cells(base, Cn, np.arange(len(Cn), dtype="int32"))
    return centroids, assignments


def ivf_index_search(
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_probe: int = 4,
    max_cell_rows: int = 100_000,
    centroid_matrix=None,
) -> DataFrame:
    """Search a prebuilt IVF index (``ivf_index_build`` output, usually
    reloaded from tables) with a query batch — no corpus assignment
    pass.  Each query probes its ``n_probe`` nearest cells
    (``_nearest_cells``, the build's rule); ids shared between batch and
    corpus are one document, so self-matches are excluded.

    ``centroid_matrix`` — the ``ivf_centroid_matrix(centroids)`` tuple,
    precollected once per index snapshot instead of once per batch.

    The serve path follows the batch it sees.  The broadcast cap is
    ``min(max_cell_rows, _BROADCAST_BYTES // (8·dim))`` rows at the
    index's dimension.  The batch is collected once, at most cap + 1
    rows, through ``coalesce(1)``: one stage and one task, so the
    batch's own scan runs in one task until it finds cap + 1 rows.

    - A batch of at most cap rows is served from the collected rows
      in one Arrow pass over the probed cells only
      (``_serve_bounded``): member vectors never cross an exchange,
      only (query_id, nbr_id, cosine) candidates do, and hot cells
      need no blocking since members are never grouped.
    - A larger batch is re-read by one Arrow pass that assigns its
      probe cells; the probed cells' members and the probes then meet
      in the ``(cell, msub, psub)`` exchange of ``_skew_split_2d``
      (hot cells 2-D blocked on both sides) and the shared
      chunked-matmul kernel scores each group.

    ``max_cell_rows`` is the most rows a pandas frame holds on one
    side on either path: the broadcast batch, or a skew block.

    Returns (query_id, nbr_id, cosine, rank), rank ≤ k per query."""
    # invalid vectors (NULL/empty/zero-norm/NaN/Inf) drop inside
    # _np_finite_pos_rows: no JVM HOF pass over the batch
    spark = queries.sparkSession
    Cn, cells = (centroid_matrix if centroid_matrix is not None
                 else _centroid_matrix(centroids))
    if Cn is None:  # index built on an empty corpus — gate-fuzz
        return spark.createDataFrame([], _TOPK_SCHEMA)
    qbase = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    members = assignments.select("id", "v", "cell")
    cap = min(max_cell_rows, _BROADCAST_BYTES // (8 * Cn.shape[1]))
    # one stage, one task; a larger batch costs ≤ cap + 1 rows
    qpdf = qbase.coalesce(1).limit(cap + 1).toPandas()
    if len(qpdf) <= cap:
        return _serve_bounded(members, qpdf, Cn, cells, k, n_probe)
    # the probe side is scanned twice (count + block side): seal it.
    # The caller owns the ASSIGNMENTS side: seal it or write it out when
    # composing build+search in one job, or the build pass replays.
    probes = _seal(_assign_cells(qbase, Cn, cells.astype("int32"), n_probe))
    grouped = _skew_split_2d(members, probes, max_cell_rows)
    scored = grouped.groupBy("cell", "msub", "psub").applyInPandas(
        _topk_score_kernel(k, int(_MATMUL_BUDGET)), schema=_CAND_SCHEMA)
    return _rounded_topk(scored, k, 6)


def _serve_bounded(members: DataFrame, qpdf, Cn, cells, k: int,
                   n_probe: int) -> DataFrame:
    """The broadcast serve of ``ivf_index_search``, taken when the
    search's one-task ``coalesce(1).limit(cap + 1)`` collect returns
    at most cap rows (``max_cell_rows`` and ``_BROADCAST_BYTES``
    bound it): ``qpdf`` is that pandas frame (id, v).  Pick its probe
    cells on the driver, broadcast (query ids, unit vectors, probed
    cells) and run one ``_probed_topk_kernel`` ``mapInPandas`` over
    the probed cells' members.  The cell filter is ``array_contains``
    over an array literal: one compiled class serves every probed set
    (an ``isin`` inlines its values) and it adds no job (a semi join
    broadcasts).  Its per-row cost is linear in the probed set
    (≤ n_cells).  Members are coalesced (no shuffle) to at most
    ``defaultParallelism`` Arrow tasks, as each pays a fixed worker
    cost: 100 member partitions served a 40-query batch in 8 s on a
    4-vCPU ``local[4]`` session, 0.7–1.0 s coalesced."""
    import numpy as np

    spark = members.sparkSession
    qpdf, Qn = _np_finite_pos_rows(qpdf)
    if Qn is None:  # empty or all-invalid batch
        return spark.createDataFrame([], _TOPK_SCHEMA)
    # probed cell -> the (ascending) batch rows probing it
    top = cells[_nearest_cells(Qn, Cn, n_probe)]
    order = np.argsort(top.ravel(), kind="stable")
    rows = np.repeat(np.arange(len(top)), top.shape[1])[order]
    probe_cells, starts = np.unique(top.ravel()[order], return_index=True)
    probed = dict(zip(probe_cells.tolist(), np.split(rows, starts[1:])))
    bq = spark.sparkContext.broadcast(
        (qpdf["id"].to_numpy().astype("int64"), Qn, probed))
    scored = members.filter(
        F.array_contains(F.lit(sorted(probed)), F.col("cell"))).coalesce(
        spark.sparkContext.defaultParallelism).mapInPandas(
        _probed_topk_kernel(bq, k, int(_MATMUL_BUDGET)), schema=_CAND_SCHEMA)
    return _rounded_topk(scored, k, 6)


def ivf_centroid_matrix(centroids: DataFrame):
    """Collect an IVF centroid table to the driver-side ``(Cn, cells)``
    numpy pair ``ivf_index_search(centroid_matrix=...)`` consumes —
    once per index snapshot, not once per query batch.  The table is
    n_cells rows by contract (MLlib-KMeans tiny-state precedent);
    ``ivf_index_build`` makes it a ``LocalRelation``, so this collect
    launches no job, while a table-backed centroid frame costs one
    scan job per collect."""
    return _centroid_matrix(centroids)


def semantic_dedup_incremental(
    centroids: DataFrame,
    assignments: DataFrame,
    batch: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tau: float = 0.95,
    max_cell_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup for the INGEST flow: mark each new-batch vector whose
    cosine to any already-indexed corpus vector (in its assigned cell)
    is ≥ ``tau`` as a duplicate of the lowest such corpus id.  The
    semantic analog of ``dedup.minhash_dedup_incremental`` — batch vs
    corpus, never a batch or corpus self-join — built on the persisted
    IVF index (``ivf_index_build`` output, usually reloaded from
    tables).

    Per batch the cost is the batch's own assignment pass plus one
    ``_skew_split_2d`` exchange of the batch and the member rows of
    the cells it lands in; the corpus is never re-assigned.  Batch
    rows are assigned by the SAME argmax rule as the corpus, so a
    near-duplicate pair lands in the same cell exactly when plain
    ``semantic_dedup`` would have compared them.  (Within-batch duplicates are out of scope here —
    run ``semantic_dedup_blas`` over the deduped batch before appending
    it to the index, the same composition the MinHash incremental path
    documents.)

    Returns (vec_id, keeper_id, cosine, cell) — one row per duplicate
    batch vector; deterministic (min-struct keeper, 6-dp rounding),
    exact SQL oracle when the index was built with kmeans_iters=0."""
    # invalid vectors drop INSIDE the assignment kernel
    # (_np_finite_pos_rows) — same exclusion set as _finite_pos_norm,
    # no JVM HOF pass over the batch
    import numpy as np

    spark = batch.sparkSession
    Cn, cells = _centroid_matrix(centroids)
    if Cn is None:  # index built on an empty corpus — gate-fuzz
        return spark.createDataFrame(
            [],
            f"{id_col} long, keeper_id long, cosine double, cell long",
        )
    qbase = batch.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    probes = _seal(_assign_cells(qbase, Cn, cells.astype("int32")))
    grouped = _skew_split_2d(
        assignments.select("id", "v", "cell"), probes, max_cell_rows
    )
    # batch id vs corpus id are distinct namespaces here; only a
    # literally re-ingested id is a self-match to skip
    pairs = grouped.groupBy("cell", "msub", "psub").applyInPandas(
        _pair_kernel(tau, int(_MATMUL_BUDGET), np.not_equal),
        schema="id_a long, id_b long, cosine double, cell long",
    )
    return _keepers(pairs, id_col)


# --------------------------------------------------------------------------
# LSH (random hyperplanes) — approximate, deterministic
# --------------------------------------------------------------------------

def _hyperplanes(dim: int, planes: int, seed: str = "dbtspark") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG state,
    reproducible across runs/engines."""
    out = []
    for p in range(planes):
        vec = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            vec.append(int(h[:8], 16) / 0x7FFFFFFF - 1.0)  # ~U(-1, 1)
        out.append(vec)
    return out


def lsh_bucket(vec_col: Column, dim: int, planes: int = 8, seed: str = "dbtspark") -> Column:
    """Sign-pattern bucket id (0..2^planes-1) via fixed hyperplanes."""
    bucket = F.lit(0)
    for i, hp in enumerate(_hyperplanes(dim, planes, seed)):
        lit = F.array(*[F.lit(x) for x in hp])
        bucket = bucket + F.when(_dot(vec_col, lit) >= 0, 2 ** i).otherwise(0)
    return bucket


def lsh_cosine_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    dim: int = 64,
    planes: int = 4,
    tables: int = 8,
) -> DataFrame:
    """Approximate top-k via **multi-table** hyperplane LSH: L independent
    hash tables of `planes` bits each; candidates = pairs colliding in
    ANY table (the standard recall amplification — a single table's
    recall collapses on high-dim data).

    P(candidate | angle θ) = 1 − (1 − (1−θ/π)^planes)^tables.
    Tune (planes, tables) per corpus: more planes → smaller buckets
    (cheaper), more tables → higher recall.  Candidate distances are
    computed once per distinct pair.  (Approximate — no SQL oracle.)
    Zero-norm vectors are excluded (cosine undefined; the
    cosine_pairs convention)."""
    df = df.filter(_finite_pos_norm(F.col(vec_col)))
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket(F.col(vec_col), dim, planes, seed=f"tbl{t}").alias("b"),
            )
            for t in range(tables)
        ]
    )
    # norms computed once per ROW (below the join), dot once per pair
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     _norm(F.col(vec_col)).alias("n"),
                     F.explode(buckets).alias("tb")).select(
        "id", "v", "n", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    a, c = base.alias("a"), base.alias("c")
    cand = (
        a.join(c, (F.col("a.t") == F.col("c.t")) & (F.col("a.b") == F.col("c.b"))
               & (F.col("a.id") != F.col("c.id")))
        .select(F.col("a.id").alias("query_id"), F.col("c.id").alias("nbr_id"),
                F.col("a.v").alias("qv"), F.col("c.v").alias("nv"),
                F.col("a.n").alias("qn"), F.col("c.n").alias("nn"))
        .dropDuplicates(["query_id", "nbr_id"])
    )
    scored = cand.select(
        "query_id", "nbr_id",
        (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cosine"),
    )
    return _rounded_topk(scored, k, 6)


def _materialize_tiny(df: DataFrame) -> DataFrame:
    """Collect-and-recreate a tiny DataFrame (centroids: n_cells rows)
    as an Arrow-built ``LocalRelation``: collecting it launches no Spark
    job, where a ``createDataFrame(list)`` frame is an RDD scan.

    Iterative algorithms must seal each iteration's result — otherwise
    every downstream action replays the whole lineage (all prior Lloyd
    passes) per branch.  MLlib's KMeans collects centroids to the driver
    each iteration for the same reason; n_cells rows is O(KB)."""
    return df.sparkSession.createDataFrame(df.toArrow(), df.schema)


def _lloyd_refine(
    base: DataFrame, cents: DataFrame, iters: int
) -> DataFrame:
    """Refine centroids with Lloyd iterations, fully in DataFrame ops:
    assign (min-struct argmin, map-side partial agg — no sort window) →
    element-wise mean via posexplode + (cell, dim) aggregation → rebuild
    arrays.  Centroids are materialized each iteration so one iteration
    is exactly one pass over ``base``.

    ``base`` carries a precomputed row norm ``vn``; centroids carry
    ``cn`` — norms are factored below the crossJoin so the fold per
    (row, cell) is one dot product, not three."""
    for _ in range(iters):
        assign = (
            base.crossJoin(F.broadcast(cents))
            .select(
                "id", "v",
                F.struct(
                    (-_dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn"))).alias("d"),
                    F.col("cell").alias("cell"),
                ).alias("dc"),
            )
            .groupBy("id")
            .agg(F.min("dc").alias("m"), F.first("v").alias("v"))
            .select(F.col("m.cell").alias("cell"), "v")
        )
        cents = _materialize_tiny(
            assign.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .select("cell", "cv", _norm(F.col("cv")).alias("cn"))
        )
    return cents


def ivf_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 4,
    kmeans_iters: int = 2,
    max_cell_rows: int = 100_000,
) -> DataFrame:
    """IVF-flat: coarse k-means cells (deterministic seed sample refined
    by ``kmeans_iters`` Lloyd iterations); each vector assigned to its
    nearest cell; each query probes its ``n_probe`` nearest cells only.
    (Approximate; no SQL oracle.)

    ``n_cells=None`` auto-sizes to ``max(16, ceil(rows /
    max_cell_rows))`` (one count() job); pass n_cells to skip.

    Scale shape: cell ranking shuffles only (id, cell, cos) — vectors are
    re-attached by an id-join afterwards, so the wide arrays never go
    through the top-k window; the pair scoring shuffles on ``cell``
    (bounded by n_probe × n/n_cells candidates per query)."""
    # zero-norm vectors excluded (cosine undefined; the
    # cosine_pairs convention -- gate-fuzz finding)
    df = df.filter(_finite_pos_norm(F.col(vec_col)))
    from dbt_core_spark.operators.dedup import ensure_parallelism

    n_cells, _ = _resolve_n_cells(df, n_cells, max_cell_rows)
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ).withColumn("vn", _norm(F.col("v")))
    seed_cents = _materialize_tiny(
        df.orderBy(F.col(id_col))
        .limit(n_cells)
        .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cv"))
        .select("cell", "cv", _norm(F.col("cv")).alias("cn"))
    )
    cents = _lloyd_refine(base, seed_cents, kmeans_iters)

    # rank cells per vector on a slim projection (no arrays in the shuffle)
    # rounded cell-rank contract (see _rounded_topk_cols)
    rank_w = Window.partitionBy("id").orderBy(
        F.round("cos", 6).desc(), F.col("cell").asc())
    ranked = (
        base.crossJoin(F.broadcast(cents))
        .select(
            "id", "cell",
            (_dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn"))).alias("cos"),
        )
        .withColumn("r", F.row_number().over(rank_w))
        .filter(F.col("r") <= n_probe)
        .select("id", "cell", "r")
    )
    probes = ranked.join(base, "id").select(
        F.col("id").alias("query_id"), "cell",
        F.col("v").alias("qv"), F.col("vn").alias("qn"),
    )
    assign = ranked.filter(F.col("r") == 1).join(base, "id").select(
        "id", "cell", "v", F.col("vn").alias("n")
    )
    scored = (
        probes.join(assign, "cell")
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("nbr_id"),
            (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("n"))).alias("cosine"),
        )
    )
    return _rounded_topk(scored, k, 6)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Symmetric scalar quantization of embeddings (the FAISS SQ8 /
    vector-DB int8 storage scheme, public): per vector, scale =
    max|v_i|, q_i = floor(v_i/scale·(2^(bits-1)−1) + 0.5).  Cuts ANN
    index memory 4× vs float32 (8× vs float64) with ~1e-2 recall cost —
    the standard storage form for billion-vector corpora.

    Pure JVM column expressions (transform/aggregate HOFs) — no UDF, no
    shuffle; rows quantize in place at scan parallelism.  The explicit
    floor(+0.5) rounding makes the output engine-independent (no
    round-half-even ambiguity), so it is oracle-checked exactly."""
    qmax = float((1 << (bits - 1)) - 1)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # scale and the cast vector are staged as columns, each referenced
    # more than once downstream — a single-reference alias would be
    # collapsed back INTO the transform lambdas (CollapseProject) and
    # the O(dim) scale fold re-evaluated per element, O(dim²) per row
    staged = df.select(
        F.col(id_col),
        v.alias("__v"),
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        ).alias("scale"),
    )
    # finite contract (r6 NaN/Inf fuzz class): any NaN/Inf component
    # makes scale non-finite (both engines order NaN above +inf, so one
    # predicate drops both); NULL vectors yield NULL scale and drop too
    # (they produced zero exploded rows on either engine anyway)
    staged = staged.filter(F.col("scale") < F.lit(float("inf")))
    return staged.select(
        F.col(id_col),
        F.col("scale"),
        F.when(F.col("scale") == 0, F.transform(F.col("__v"), lambda x: F.lit(0)))
        .otherwise(
            F.transform(
                F.col("__v"),
                lambda x: F.floor(
                    x / F.col("scale") * F.lit(qmax) + F.lit(0.5)
                ).cast("int"),
            )
        )
        .alias("q"),
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tau: float = 0.95,
    n_cells: int | None = None,
    kmeans_iters: int = 0,
    max_cell_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public): cluster embeddings into coarse k-means cells, then WITHIN
    each cell mark any vector whose cosine to a lower-id cell member is
    ≥ ``tau`` as a duplicate of that member (keeper = the lowest such
    id — deterministic).  Returns one row per duplicate:
    (vec_id, keeper_id, cosine to keeper, cell).

    This is the embedding-space analog of MinHash dedup for paraphrased
    / templated near-duplicates that share no shingles.

    Scale shape: the quadratic step is confined within cells — exactly
    the SemDeDup design (cells bound the pair count to Σ|cell|²).
    ``n_cells=None`` (default) auto-sizes to ``max(16, ceil(rows /
    max_cell_rows))`` so expected cell population stays bounded without
    tuning (one count() job); an explicit ``n_cells`` that leaves
    ``rows / n_cells > max_cell_rows`` logs a brute-force-scale warning
    (this fold variant has no hot-cell re-split — use
    ``semantic_dedup_blas`` for frames bounded by construction).  Cell
    assignment is one broadcast-centroid pass over the corpus with a
    min-struct argmin (partial agg, no window); the within-cell
    self-join shuffles both sides on the cell key only.  With
    ``kmeans_iters=0`` the centroids are the first ``n_cells`` vectors
    by id — fully deterministic, which is what the SQL oracle mirrors
    (same convention as ivf_topk's oracle).
    """
    # zero-norm vectors excluded (cosine undefined; the
    # cosine_pairs convention -- gate-fuzz finding)
    df = df.filter(_finite_pos_norm(F.col(vec_col)))
    n_cells, rows = _resolve_n_cells(df, n_cells, max_cell_rows)
    if rows is None:
        rows = df.count()
    if rows / n_cells > max_cell_rows:
        logger.warning(
            "semantic_dedup: %d rows over %d cells averages %.0f rows/cell "
            "(> max_cell_rows=%d) — the within-cell pair step is "
            "effectively brute-force at this density; raise n_cells (or "
            "pass n_cells=None to auto-size), or use semantic_dedup_blas "
            "whose 2-D hot-cell split bounds frames by construction.",
            rows, n_cells, rows / n_cells, max_cell_rows,
        )
    base = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("vn", _norm(F.col("v")))
    )
    seed_cents = _materialize_tiny(
        df.orderBy(F.col(id_col))
        .limit(n_cells)
        .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cv"))
        .select("cell", "cv", _norm(F.col("cv")).alias("cn"))
    )
    cents = _lloyd_refine(base, seed_cents, kmeans_iters)
    assign = (
        base.crossJoin(F.broadcast(cents))
        .select(
            "id", "v", "vn",
            F.struct(
                # rounded cell-rank contract (see _rounded_topk_cols)
                (-F.round(
                    _dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn")), 6
                )).alias("d"),
                F.col("cell").alias("cell"),
            ).alias("dc"),
        )
        .groupBy("id")
        .agg(F.min("dc").alias("m"), F.first("v").alias("v"),
             F.first("vn").alias("vn"))
        .select("id", F.col("m.cell").alias("cell"), "v", "vn")
    )
    a = assign.select(
        "cell", F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("vn").alias("na"),
    )
    b = assign.select(
        "cell", F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("vn").alias("nb"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cell", "id_a", "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
            .alias("cosine"),
        )
        # rounded threshold: boundary crossings must agree with the
        # BLAS variant and the SQL oracle at 6 dp
        .filter(F.round(F.col("cosine"), 6) >= tau)
    )
    # duplicate = the higher id of each qualifying pair; keeper = lowest
    # qualifying lower id
    return _keepers(pairs, id_col)


def semantic_dedup_blas(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tau: float = 0.95,
    n_cells: int | None = None,
    kmeans_iters: int = 0,
    fit_sample: int = 4096,
    max_cell_rows: int = 100_000,
) -> DataFrame:
    """``semantic_dedup`` with BLAS kernels — the production 100 TB
    shape (same relationship as ivf_topk vs ivf_topk_blas):

    1. centroids fit on a bounded id-ordered driver sample (numpy
       Lloyd; kmeans_iters=0 → the deterministic seed rows, assignment
       identical to ``semantic_dedup``'s because cosine is
       norm-invariant),
    2. one ``mapInPandas`` pass assigns every vector its best cell,
    3. ONE shuffle on ``(cell, msub, psub)``; ``applyInPandas`` computes
       each group's probe × member cosine block with chunked matmuls
       (``_pair_kernel``) and emits (lower_id, higher_id) pairs at
       ≥ tau.  **Skew cap (2-D)**: a hot cell is blocked on BOTH sides
       by ``_skew_split_2d`` — pair (a, b) with a < b is observed
       exactly once, as member a and probe b, in group
       ``(cell, hash(a) % ns, hash(b) % np)`` — so the
       within-cell pair set stays complete while frames hold
       ~``max_cell_rows`` rows per side (hash-balanced expectation),
       and the score matrix is chunked to ``_MATMUL_BUDGET`` cells
       regardless.  The assignment
       pass is sealed (``_seal``) before branching so it executes once,
    4. keeper selection is the fold variant's min-struct aggregate
       (``_keepers``).

    ``n_cells=None`` (default) auto-sizes to ``max(16, ceil(rows /
    max_cell_rows))`` — one count() job; pass n_cells to skip it.

    Float path differs from the fold variant only in summation order
    (BLAS vs sequential) — identical after 6-dp rounding, same oracle.
    """
    # zero-norm vectors excluded (cosine undefined; the
    # cosine_pairs convention -- gate-fuzz finding)
    df = df.filter(_finite_pos_norm(F.col(vec_col)))
    import numpy as np

    from dbt_core_spark.operators.dedup import ensure_parallelism

    n_cells, _ = _resolve_n_cells(df, n_cells, max_cell_rows)
    Cn, seed_ids = _fit_centroids(
        df, vec_col, id_col, n_cells, kmeans_iters, fit_sample)
    if Cn is None:  # empty corpus: nothing to cluster or dedup
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, keeper_id long, cosine double, cell long"
        )
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    # cells keep the fold variant's labels: the seed centroid's original
    # id (seed_cents convention — what the shared SQL oracle emits)
    routed = _seal(_assign_cells(base, Cn, seed_ids))

    # members and probes are the SAME rows (within-cell all-pairs);
    # 2-D blocking keeps both sides of every frame bounded, with one
    # shared count pass over the sealed assign output
    sided = routed.select("id", "v", "cell")
    counts = routed.groupBy("cell").agg(F.count("*").alias("_mc")).withColumn(
        "_pc", F.col("_mc")
    )
    grouped = _skew_split_2d(sided, sided, max_cell_rows, counts=counts)
    pairs = grouped.groupBy("cell", "msub", "psub").applyInPandas(
        _pair_kernel(tau, int(_MATMUL_BUDGET), np.less),
        schema="id_a long, id_b long, cosine double, cell long",
    )
    return _keepers(pairs, id_col)


def pool_embeddings(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean-pool embeddings per group — the chunk→document (or
    passage→page) pooling step before doc-level similarity/ANN.

    Output is exploded (group, pos, mean_val): arrays never reach a
    driver-side canonicalizer, and downstream ops consume either shape.

    Determinism: element values are cast to DECIMAL(28,12) before the
    SUM, so the cross-row accumulation is exact integer arithmetic in
    any engine (float summation order can't change the result — the
    same convention as the repo's decimal-sum oracles); the final
    divide+round happens once per output cell.

    Scale shape: one posexplode (linear) and ONE shuffle on
    (group, pos) with map-side partial aggregation — the wordcount
    shape; no window, no arrays through the exchange.
    """
    # finite contract (r6 NaN/Inf fuzz class): a vector with any
    # NaN/Inf component is corrupt and excluded whole — max-|x| is
    # non-finite iff any component is, and NaN orders above +inf on
    # both engines so one predicate covers both
    return (
        df.filter(F.col(vec_col).isNotNull() & _finite_components(F.col(vec_col)))
        .select(F.col(group_col), F.posexplode(vec_col).alias("pos", "v"))
        # double-first: float32->decimal directly is engine-divergent
        # (DuckDB scales in float32); float->double is exact everywhere
        .withColumn("vd", F.col("v").cast("double").cast("decimal(28,12)"))
        .groupBy(group_col, "pos")
        .agg(F.sum("vd").alias("s"), F.count("*").cast("bigint").alias("n"))
        .select(
            group_col,
            F.col("pos").cast("bigint").alias("pos"),
            # exact decimal sum → double BEFORE the divide: decimal
            # division scale rules differ across engines, double IEEE
            # division doesn't.  + 0.0 canonicalizes IEEE -0.0 (the
            # oracle's double path can produce it; decimal sums can't)
            # floor-form rounding (class 17, see corpus.ngram_lm_score)
            (F.floor(
                F.col("s").cast("double") / F.col("n")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0) + F.lit(0.0)).alias("mean_val"),
        )
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "nbr_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the standard ANN quality metric (what FAISS reports per index):
    per query, |approx ∩ exact| / k.  Making recall measurement a
    first-class operator keeps "approximate" honest: every index
    configuration (n_cells, n_probe, LSH tables) can be scored on a
    sample before committing the 100 TB build.

    Inputs are any two top-k frames sharing (query, neighbor) columns —
    e.g. ``cosine_topk_blas`` (exact, auto-sharded) vs ``ivf_topk`` /
    ``lsh_cosine_topk`` on the same corpus sample.

    Scale shape: one left-semi join keyed on (query, neighbor) and one
    per-query count — both k-bounded per query, wordcount-class; no
    corpus data moves.
    """
    hits = (
        approx.select(query_col, neighbor_col)
        .join(
            exact.select(query_col, neighbor_col),
            [query_col, neighbor_col],
            "left_semi",
        )
        .groupBy(query_col)
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    qset = exact.select(query_col).distinct()
    return qset.join(hits, query_col, "left").select(
        query_col,
        F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        F.round(
            F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 6
        ).alias("recall"),
    )


def ivf_index_append(
    centroids: DataFrame,
    batch: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign a NEW ingest batch to an existing IVF index's centroids —
    the append step of the build-once / search-many lifecycle
    (FAISS ``index.add`` re-expressed): union (or INSERT INTO) the
    returned rows with the persisted assignments table and the index
    covers the new batch, with the corpus never re-assigned.

    Same schema as ``ivf_index_build`` assignments:
    ``(id long, v array<double>, cell int)``.  One Arrow matmul pass
    over the BATCH only; the centroid matrix is driver-collected
    (n_cells rows, bounded — the MLlib-KMeans precedent) and
    broadcast.  Cell choice is the same argmax/lowest-cell tie rule as
    build, so appended assignments are bit-identical to what a full
    rebuild would assign (the gate row proves it against the SQL
    oracle)."""
    # invalid vectors drop INSIDE the assignment kernel
    # (_np_finite_pos_rows) — same exclusion set as _finite_pos_norm,
    # no JVM HOF pass over the batch
    from dbt_core_spark.operators.dedup import ensure_parallelism

    spark = batch.sparkSession
    Cn, cells = _centroid_matrix(centroids)
    if Cn is None:  # index built on an empty corpus — gate-fuzz
        return spark.createDataFrame(
            [], "id long, v array<double>, cell int"
        )
    base = ensure_parallelism(
        batch.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    return _assign_cells(base, Cn, cells.astype("int32"))


def ivf_index_rebalance(
    centroids: DataFrame,
    assignments: DataFrame,
    max_cell_rows: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """Split HOT cells of a persisted IVF index WITHOUT rebuilding it —
    the maintenance step the build/search/append lifecycle still
    needed: appends concentrate in popular regions, hot cells blow
    past ``max_cell_rows``, and per-cell search cost (the thing IVF
    exists to bound) degrades.  A full rebuild re-assigns 100 TB; this
    touches ONLY the hot cells' members.

    Per hot cell c (count > max_cell_rows): k_c = ceil(count /
    max_cell_rows) sub-centroids seeded from the cell's STRIDE-SPREAD
    members — id-rank positions 0, s, 2s, … with s = max(1, n_c //
    k_c) — deterministic and exactly SQL-expressible like the
    lowest-id convention, but sampling the whole id range: lowest-k
    seeding drew k near-neighbors from one corner of a dense cell and
    converged on a long geometric tail (r9 probe: 12 rounds and still
    over cap).  Seeds are unit-normalized; the cell's members
    re-assign to their own sub-centroids by rounded-cosine argmax
    (class-10 contract: round(cos, 6), ties to the lowest sub index).
    Cold cells and their members are untouched — their rows pass
    through verbatim.

    New cell numbering is deterministic: retired hot-cell ids are
    replaced by fresh ids starting at max(centroid cell)+1, enumerated
    in (hot cell asc, sub index asc) order.  The base is the CENTROIDS
    frame's max cell, not the assignments': a centroid cell can
    legitimately be empty (duplicate vectors tying at build's rounded
    argmax, or rebalance itself seeding identical sub-centroids), and
    basing fresh ids on max(assigned cell) would let a fresh id collide
    with such an empty cell — two centroid rows for one id, silently
    corrupting every later search (r8 advice).

    Scale shape: one tiny per-cell count aggregate; one bounded
    Σ k_c-row collect (WindowGroupLimit on id per hot cell); one Arrow
    pass over HOT-cell members only (broadcast sub-centroid matrices);
    cold members never move.  Returns ``(centroids2, assignments2)``
    with the ivf_index_build schemas — persist them as the next index
    snapshot.

    ONE round is not guaranteed to land every sub-cell under
    ``max_cell_rows``: the lowest-id seeding splits by GEOMETRY, not
    by count, so a dense sub-region can keep a sub-cell hot.  The
    still-hot residue shrinks geometrically under re-application —
    use ``ivf_index_rebalance_converged`` to iterate to the bound
    (the r9 SCALING probe measures the trajectory)."""
    import numpy as np
    import pandas as pd

    spark = assignments.sparkSession
    counts = {
        int(r["cell"]): int(r["n"])
        for r in assignments.groupBy("cell")
        .agg(F.count("*").alias("n")).collect()
    }  # bounded: n_cells rows
    hot = {c: -(-n // max_cell_rows) for c, n in counts.items()
           if n > max_cell_rows}
    if not hot:
        return centroids, assignments
    hot_cells = sorted(hot)
    w = Window.partitionBy("cell").orderBy("id")
    # per-cell seed positions 0, s, 2s, … (s = n_c // k_c): the stride
    # filter runs DISTRIBUTED against a broadcast (cell, k_c, stride)
    # spec, so the collect below still moves only Σ k_c seed rows even
    # though seeds now come from deep id ranks
    spec = spark.createDataFrame(
        [(c, hot[c], max(1, counts[c] // hot[c])) for c in hot_cells],
        "cell int, k_c int, stride int",
    )
    seeds = (
        assignments.filter(F.col("cell").isin(hot_cells))
        .withColumn("_r", F.row_number().over(w))
        .join(F.broadcast(spec), "cell")
        .filter(
            ((F.col("_r") - 1) % F.col("stride") == 0)
            & (F.expr("(_r - 1) div stride") < F.col("k_c"))
        )
        .collect()  # exactly Σ k_c rows — bounded, model-sized
    )
    cent_cells = {
        int(r["cell"]) for r in centroids.select("cell").collect()
    }  # bounded: n_cells rows
    if not set(counts) <= cent_cells:
        raise ValueError(
            "assignments reference cells absent from the centroids "
            f"frame: {sorted(set(counts) - cent_cells)[:5]}"
        )
    base_id = max(cent_cells) + 1
    sub: dict[int, tuple] = {}
    new_cent_rows = []
    next_id = base_id
    for c in hot_cells:
        rows = sorted((r for r in seeds if r["cell"] == c),
                      key=lambda r: r["_r"])[: hot[c]]
        M = np.array([r["v"] for r in rows], dtype=np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        ids = list(range(next_id, next_id + len(rows)))
        next_id += len(rows)
        sub[c] = (Mn, np.array(ids, dtype="int64"))
        new_cent_rows += [
            (int(i), [float(x) for x in Mn[j]]) for j, i in enumerate(ids)
        ]
    fresh_ids = {i for i, _ in new_cent_rows}
    surviving = cent_cells - set(hot_cells)
    assert not (fresh_ids & surviving), (
        f"fresh cell ids collide with surviving centroid cells: "
        f"{sorted(fresh_ids & surviving)[:5]}"
    )
    bcast = spark.sparkContext.broadcast(sub)

    def reassign(batches):
        table = bcast.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for c, grp in pdf.groupby("cell"):
                Mn, ids = table[int(c)]
                V = np.array(grp["v"].tolist(), dtype=np.float64)
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                # rounded cell-assignment contract (class 10): argmax
                # on round(cos, 6); numpy argmax ties to the FIRST
                # (lowest sub index), mirroring the oracle's rank
                pick = np.round(Vn @ Mn.T, 6).argmax(axis=1)
                out.append(pd.DataFrame({
                    "id": grp["id"].astype("int64"),
                    "v": grp["v"],
                    "cell": ids[pick].astype("int32"),
                }))
            yield pd.concat(out, ignore_index=True)

    moved = (
        assignments.filter(F.col("cell").isin(hot_cells))
        .mapInPandas(reassign, schema="id long, v array<double>, cell int")
    )
    cold = assignments.filter(~F.col("cell").isin(hot_cells))
    centroids2 = (
        centroids.filter(~F.col("cell").isin(hot_cells))
        .unionByName(spark.createDataFrame(
            new_cent_rows, "cell int, cv array<double>"))
        .coalesce(max(1, centroids.rdd.getNumPartitions()))
    )
    # coalesce the union back to the INPUT's partition width: union
    # concatenates both sides' partition lists (cold P + moved P = 2P),
    # and iterated rebalance rounds would otherwise double the snapshot
    # width per round — the r9 probe measured a 100→25k-partition
    # snapshot whose every later serving batch drowned in empty-task
    # overhead (20 s vs 2.4 s per batch).  coalesce merges partitions
    # at read time with NO shuffle, so cold rows still never move.
    assignments2 = cold.unionByName(moved).coalesce(
        max(1, assignments.rdd.getNumPartitions()))
    return centroids2, assignments2


def ivf_index_rebalance_converged(
    centroids: DataFrame,
    assignments: DataFrame,
    max_cell_rows: int = 100_000,
    max_rounds: int = 12,
) -> tuple[DataFrame, DataFrame, int]:
    """Iterate ``ivf_index_rebalance`` until every cell holds at most
    ``max_cell_rows`` members (or ``max_rounds`` is hit) — the
    maintenance loop a production snapshot pipeline runs, since one
    round splits by geometry and a dense sub-region can stay hot.

    Each round's output is sealed (``localCheckpoint``) before the
    next — the following round consumes it four ways (counts, seeds,
    moved, cold) and would otherwise replay every earlier round per
    branch.  Rounds touch only the still-hot residue, which shrinks
    geometrically, so total work is a small constant factor over one
    round.  Returns ``(centroids, assignments, rounds_run)``."""
    c_cur, a_cur = centroids, assignments
    for rounds in range(max_rounds):
        over = (
            a_cur.groupBy("cell").agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_cell_rows).limit(1).collect()
        )
        if not over:
            return c_cur, a_cur, rounds
        c_cur, a_cur = ivf_index_rebalance(
            c_cur, a_cur, max_cell_rows=max_cell_rows)
        # seal BOTH outputs: the assignment frame is consumed four
        # ways next round, and the centroid frame's union-of-unions
        # lineage otherwise deepens per round until a single serving
        # collect on ~400 rows replays the whole history (r9 probe:
        # 38.9 s for one _centroid_matrix collect after 12 unsealed
        # rounds, 1.7 s materialized)
        a_cur = a_cur.localCheckpoint(eager=False)
        c_cur = c_cur.localCheckpoint(eager=False)
    return c_cur, a_cur, max_rounds


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid 2011, "Product Quantization
# for Nearest Neighbor Search") — the storage tier below IVF: each vector
# is stored as m small codes (m bytes at ks=256) instead of dim floats, a
# ~dim·4/m× compression, and queries scan codes with an ADC lookup table
# instead of touching raw vectors.  At 100 TB of embeddings this is the
# difference between scanning 100 TB and scanning ~1.5 TB of codes.
# ---------------------------------------------------------------------------


def _l2sq(a: Column, b: Column) -> Column:
    """Ordered squared-L2 distance fold (same sequential-fold convention
    as ``_dot``; mirrored in SQL by oracles._l2sq_sql)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    m: int = 4,
    ks: int = 16,
    kmeans_iters: int = 0,
    sample_rows: int = 4096,
) -> DataFrame:
    """Deterministic sampled PQ codebook: the ``ks`` lowest-id vectors
    seed the codes (the same sampling-as-training convention as
    ``ivf_topk``'s coarse centroids — production swaps in k-means-
    trained codebooks, the table contract is identical).  Returns
    (sub, code, cvec): m·ks tiny rows, always broadcast downstream.

    ``dim`` must be divisible by ``m``; subspace s covers elements
    [s·dim/m, (s+1)·dim/m).

    ``kmeans_iters > 0`` Lloyd-refines each subspace's codebook on a
    bounded driver-side sample (``sample_rows`` lowest-id vectors — the
    ivf/MLlib tiny-state precedent): init = the seed subvectors,
    assignment by L2 argmin (ties → lower code), empty clusters keep
    their previous centroid.  Deterministic; the refined table keeps
    the identical (sub, code, cvec) contract, and PQ encode/search
    downstream are unchanged.  The exact-oracle gate pins
    kmeans_iters=0; refinement is reference-equality pytest-verified
    (the ivf_topk precedent)."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sd = dim // m
    # NULL vectors never seed or train the codebook (contract pinned in
    # the oracles' v0 CTE; a NULL seed poisons every downstream code)
    df = df.filter(F.col(vec_col).isNotNull() & _finite_components(F.col(vec_col)))
    if kmeans_iters <= 0:
        seeds = df.orderBy(id_col).limit(ks).select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias("code"),
            F.col(vec_col).alias("_v"),
        )
        # left LAZY deliberately (optimization r11): see the matching
        # note on ivfpq_index_build's cents — broadcast-exchange reuse
        # already deduplicates the seed TakeOrdered within an action,
        # and an eager materialize measured as pure added jobs
        return seeds.select(
            "code",
            F.posexplode(
                F.array(*[F.slice("_v", s * sd + 1, sd) for s in range(m)])
            ).alias("sub", "cvec"),
        ).select("sub", "code", "cvec")

    import numpy as np

    rows = (
        df.orderBy(id_col).limit(sample_rows)
        .select(vec_col).collect()
    )
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    out = []
    for s in range(m):
        S = X[:, s * sd:(s + 1) * sd]
        C = S[:ks].copy()
        for _ in range(kmeans_iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d, axis=1)  # ties -> lower code
            for j in range(min(ks, len(C))):
                mask = assign == j
                if mask.any():
                    C[j] = S[mask].mean(axis=0)
        for j in range(len(C)):
            out.append((s, j, [float(x) for x in C[j]]))
    spark = df.sparkSession
    return spark.createDataFrame(
        out, "sub int, code int, cvec array<double>")


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    m: int = 4,
) -> DataFrame:
    """Encode each vector as its per-subspace nearest code (long form:
    one (id, sub, code) row per subspace; ties break to the lower code).

    The corpus side cross-joins the BROADCAST m·ks-row codebook —
    n·m·ks distance folds, all JVM-side — then ONE groupBy(id) computes
    every subspace argmin in a single shuffle (min over (dist, code)
    structs, so no second pass and no per-branch recompute)."""
    sd = dim // m
    # NULL vectors are unencodable — excluded, mirroring the oracle
    ex = (
        df.filter(F.col(vec_col).isNotNull() & _finite_components(F.col(vec_col)))
        .select(F.col(id_col), F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(codebook))
    )
    scored = ex.select(
        F.col(id_col),
        "sub",
        F.struct(
            _l2sq(F.slice("_v", F.col("sub") * sd + 1, sd), F.col("cvec"))
            .alias("d"),
            F.col("code"),
        ).alias("_dc"),
    )
    return (
        scored.groupBy(id_col, "sub")
        .agg(F.min("_dc").alias("_best"))
        .select(F.col(id_col), "sub", F.col("_best.code").alias("code"))
    )


def pq_search(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
    m: int = 4,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query, build the m·ks lookup
    table of exact subspace distances to every code, then score each
    encoded vector as the SUM of its codes' LUT entries — the raw
    corpus vectors are never touched.

    Scale shape: the LUT (|Q|·m·ks rows) is broadcast; scoring is one
    equi-join on (sub, code) against the long-form codes table, one
    groupBy(query, id) SUM, and a per-query top-k window.  Distances
    are summed as e6 fixed-point bigints so partial-aggregation order
    can never flip a 6-dp rounding or a rank tie.  Returns
    (query_id, nbr_id, dist_e6, rank)."""
    sd = dim // m
    # NULL-vector queries have no defined distances — excluded (oracle
    # v0 CTE carries the same filter)
    lut = (
        queries.filter(F.col(vec_col).isNotNull() & _finite_components(F.col(vec_col)))
        .select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_q")
        )
        .crossJoin(F.broadcast(codebook))
        .select(
            query_id_col,
            "sub",
            "code",
            F.round(
                _l2sq(F.slice("_q", F.col("sub") * sd + 1, sd), F.col("cvec"))
                * F.lit(1e6)
            ).cast("bigint").alias("d_e6"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("d_e6").alias("dist_e6"))
        .filter(F.col(query_id_col) != F.col(id_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist_e6").asc(), F.col(id_col).asc()
    )
    return (
        scored.select(
            query_id_col,
            F.col(id_col).alias("nbr_id"),
            "dist_e6",
            F.row_number().over(w).cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Covariance / PCA over embedding columns.  The Gram matrix X^T X is the
# only corpus-scale pass (mapInPandas partial d x d accumulators, shuffle
# bounded by partitions·d², not rows); eigenvectors come from a
# deterministic driver-side power iteration on the d x d result — the
# same driver-seals-tiny-state precedent as ivf_topk's centroids.
# ---------------------------------------------------------------------------


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: float = 1e8,
) -> DataFrame:
    """X^T X in e8 fixed point: per row, every (i, j) product term is
    rounded half-up (floor(t·scale + 0.5)) to an int64 BEFORE summing,
    so the sum is exact integer arithmetic — order-free across
    partitions and bit-reproducible by any SQL engine.

    Each Arrow batch contributes a d×d partial accumulator; the only
    shuffle moves partitions·d² rows (d=64 → 4096 per partition)
    regardless of corpus size.  Row-chunked so the (chunk, d, d)
    intermediate stays ~16 MB.  At ~1e12 rows the int64 cell sums
    approach overflow — shard the corpus and cms-style merge the
    partials (sum the (i, j, v) tables) with DECIMAL sums if needed.
    Returns (i, j, gram_e8), full symmetric matrix."""
    import numpy as np
    import pandas as pd

    def part(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            for lo in range(0, len(X), 256):
                C = X[lo:lo + 256]
                O = C[:, :, None] * C[:, None, :]
                acc += np.floor(O * scale + 0.5).astype(np.int64).sum(axis=0)
                seen = True
        if seen:
            ii, jj = np.indices((dim, dim))
            yield pd.DataFrame({
                "i": ii.ravel().astype("int32"),
                "j": jj.ravel().astype("int32"),
                "v": acc.ravel(),
            })

    # NULL vectors excluded at entry (the kmeans precedent, r6): a
    # NULL row makes the Arrow batch ragged and np.array() throws
    parts = (
        df.filter(F.col(vec_col).isNotNull() & _finite_components(F.col(vec_col)))
        .select(vec_col).mapInPandas(part, "i int, j int, v long")
    )
    return parts.groupBy("i", "j").agg(F.sum("v").alias("gram_e8"))


def pca_project(
    df: DataFrame,
    gram: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_components: int = 4,
    dim: int = 64,
    iters: int = 100,
    scale: float = 1e8,
) -> DataFrame:
    """Project embeddings onto the top principal directions of a
    ``gram_matrix`` result.

    Eigenvectors via deterministic power iteration + deflation on the
    collected d×d matrix (bounded driver state — d² cells, the
    ivf/MLlib tiny-state precedent; a fixed all-ones start vector and
    fixed iteration count make the result reproducible).  Components
    are then broadcast back as literal arrays and the projection is a
    row-local JVM fold — one corpus pass, zero shuffles.  Sign
    convention: each component's largest-|coordinate| entry is made
    positive.  Returns id + ``pc`` (array<double>, length
    n_components)."""
    import numpy as np

    rows = gram.collect()  # d*d bounded rows
    G = np.zeros((dim, dim), dtype=np.float64)
    for r in rows:
        G[r["i"], r["j"]] = r["gram_e8"] / scale
    comps = []
    for _ in range(n_components):
        v = np.ones(dim) / np.sqrt(dim)
        for _ in range(iters):
            v = G @ v
            n = np.linalg.norm(v)
            if n == 0:
                break
            v = v / n
        k = int(np.argmax(np.abs(v)))
        if v[k] < 0:
            v = -v
        comps.append(v)
        lam = float(v @ G @ v)
        G = G - lam * np.outer(v, v)

    out_cols = []
    for c, v in enumerate(comps):
        arr = F.array(*[F.lit(float(x)) for x in v])
        out_cols.append(
            F.aggregate(
                F.zip_with(F.col(vec_col), arr,
                           lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias(f"_pc{c}")
        )
    staged = df.select(F.col(id_col), *out_cols)
    return staged.select(
        F.col(id_col),
        F.array(*[F.col(f"_pc{c}") for c in range(n_components)]).alias("pc"),
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    out_dim: int = 16,
    seed: str = "jl",
) -> DataFrame:
    """Sparse Johnson–Lindenstrauss projection (Achlioptas 2003):
    R[k][i] ∈ {+1, −1, 0} with probability {1/6, 1/6, 2/3}, entries
    derived from md5(seed:k:i) — the same python-hashlib ↔ SQL-md5
    determinism convention as the LSH hyperplanes.

    The projection matrix is fixed at PLAN time (out_dim·dim literal
    coefficients baked into the expression tree), so the corpus pass is
    a pure row-local zip_with/fold — zero shuffles, no UDFs, no
    broadcast.  Projections preserve pairwise distances within
    (1 ± ε) for out_dim = O(log n / ε²); rescale by sqrt(3/out_dim)
    when calibrated distances are needed (omitted here so the e6
    fixed-point output stays integer-exact).  Returns
    (id, k, proj_e6) long form.

    NULL vectors pass through (NULL projections — the historical
    contract); non-finite vectors are excluded whole (finite contract,
    r6 NaN/Inf fuzz class — NaN→bigint casts diverge by engine)."""
    df = df.filter(
        F.col(vec_col).isNull() | _finite_components(F.col(vec_col))
    )
    import hashlib

    def coef(k: int, i: int) -> float:
        h = int(hashlib.md5(f"{seed}:{k}:{i}".encode()).hexdigest()[:15], 16)
        m = h % 6
        return 1.0 if m == 0 else (-1.0 if m == 1 else 0.0)

    outs = []
    for k in range(out_dim):
        rk = F.array(*[F.lit(coef(k, i)) for i in range(dim)])
        outs.append(
            F.round(
                F.aggregate(
                    F.zip_with(F.col(vec_col), rk,
                               lambda x, y: x.cast("double") * y),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
                * F.lit(1e6)
            ).cast("bigint").alias(f"_p{k}")
        )
    staged = df.select(F.col(id_col), *outs)
    return staged.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"_p{k}") for k in range(out_dim)]))
        .alias("k", "proj_e6"),
    ).select(F.col(id_col), F.col("k").cast("int").alias("k"), "proj_e6")


def ivfpq_search(
    df: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV): the full production ANN
    architecture — a coarse IVF prunes the corpus to ``n_probe`` cells
    per query, and within cells vectors are represented by PQ codes of
    their RESIDUALS (v − centroid), scanned via an asymmetric-distance
    LUT built from the query's own residual per probed cell.  Combines
    the two independent 100 TB levers: IVF cuts candidates by
    ~n_cells/n_probe, PQ cuts bytes-per-candidate by ~dim·4/m.

    Determinism matches the repo's ANN conventions: coarse centroids =
    the ``n_cells`` lowest-id vectors, PQ codebook = the ``ks``
    lowest-id residuals (production swaps in k-means-trained tables —
    contracts unchanged); L2² assignment ties break to the lower cell;
    distances fold sequentially and accumulate as e6 fixed-point
    bigints so no float-order effect can flip a rank.

    Plan shape: centroids and the PQ codebook are broadcast; the
    corpus-scale passes are the assignment argmin (one groupBy) and the
    residual encode (one groupBy); scoring joins the integer code table
    to the broadcast (query, cell) LUT on (cell, sub, code) — raw
    vectors are never shuffled or rescanned at query time.

    One-shot composition of ``ivfpq_index_build`` + ``ivfpq_index_search``
    (r11: the persisted-index lifecycle split, the ivf_index_build/search
    precedent) — results identical by construction."""
    cents, cb, codes = ivfpq_index_build(
        df, n_cells=n_cells, m=m, ks=ks, dim=dim,
        vec_col=vec_col, id_col=id_col)
    return ivfpq_index_search(
        cents, cb, codes, queries, k=k, n_probe=n_probe, m=m, dim=dim,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col)


def _ivfpq_assign(frame: DataFrame, fid: str, keep_rank: int,
                  cents: DataFrame, vec_col: str) -> DataFrame:
    """(id, cell[, rank]) by ascending L2² to each broadcast centroid —
    ties to the lower cell (the IVFADC convention)."""
    ex = frame.select(F.col(fid), F.col(vec_col).alias("_v")).crossJoin(
        F.broadcast(cents)
    )
    scored = ex.select(
        F.col(fid), "cell",
        F.struct(_l2sq(F.col("_v"), F.col("cvec")).alias("d"),
                 F.col("cell").alias("c")).alias("_dc"),
    )
    if keep_rank == 1:
        return (
            scored.groupBy(fid).agg(F.min("_dc").alias("_best"))
            .select(F.col(fid), F.col("_best.c").alias("cell"))
        )
    w = Window.partitionBy(fid).orderBy(F.col("_dc.d").asc(),
                                        F.col("_dc.c").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= keep_rank)
        .select(F.col(fid), "cell")
    )


def ivfpq_index_build(
    df: DataFrame,
    n_cells: int = 16,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the PERSISTED IVFADC index (r11 — the compressed tier's
    build-once/serve-many form, completing the lifecycle the flat IVF
    index already has): returns ``(cents, cb, codes)`` —
    cents (cell, cvec) and cb (sub, code, cvec) are the model-sized
    broadcast sides; codes (id, sub, code, cell) is the integer code
    table, m·1 byte-scale per vector — the ONLY corpus-sized artifact,
    ~dim·4/m smaller than the raw vectors (the 100 TB memory lever;
    FAISS IndexIVFPQ storage).  Write all three once; serve forever
    with ``ivfpq_index_search``; delete with ``ivfpq_index_delete``."""
    # NULL vectors excluded at entry (the kmeans precedent): a NULL
    # centroid/seed poisons every downstream code
    df = df.filter(F.col(vec_col).isNotNull() & _finite_components(F.col(vec_col)))
    # left LAZY deliberately (optimization r11): an eager
    # _materialize_tiny here measured +2 jobs / +248 tasks on the
    # append gate — within one action Spark's broadcast-exchange reuse
    # already deduplicates the identical TakeOrdered subtrees, so the
    # eager collect only ADDED a scheduled job per build (guide §1.1:
    # the "ideal" plan lost to the empirical loop)
    cents = df.orderBy(id_col).limit(n_cells).select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cell"),
        F.col(vec_col).alias("cvec"),
    )
    # corpus: cell assignment + residuals (one broadcast join each).
    # assigned feeds resid AND the code/cell join; resid feeds the
    # codebook seeds AND the encode — seal both so the corpus-scale
    # assignment executes once, not once per consumer (the BLAS-kernel
    # lesson, see _seal)
    assigned = _seal(_ivfpq_assign(df, id_col, 1, cents, vec_col))
    resid = _seal(
        df.join(assigned, id_col)
        .join(F.broadcast(cents), "cell")
        .select(
            F.col(id_col), "cell",
            F.zip_with(F.col(vec_col), F.col("cvec"),
                       lambda x, y: x.cast("double") - y.cast("double"))
            .alias(vec_col),
        )
    )
    cb = pq_codebook(resid, vec_col, id_col, dim=dim, m=m, ks=ks)
    codes = pq_encode(resid, cb, vec_col, id_col, dim=dim, m=m).join(
        assigned, id_col
    )
    return cents, cb, codes


def ivfpq_index_append(
    cents: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    batch: DataFrame,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Append a vector batch to a persisted IVFPQ index — the ingest
    leg (FAISS IndexIVFPQ.add): assign the BATCH to the standing
    coarse centroids, encode its residuals against the STANDING
    codebook (trained artifacts never re-train on ingest — recall
    drift is monitored separately via ann_recall and a rebuild is an
    explicit operation), and union the new integer codes onto the code
    table.  Only the batch is ever assigned/encoded; corpus history
    never re-encodes — the bm25_index_append / ivf_index_append
    contract for the compressed tier.  Returns the merged code table
    (same schema as ``ivfpq_index_build``'s codes)."""
    batch = batch.filter(
        F.col(vec_col).isNotNull() & _finite_components(F.col(vec_col)))
    assigned = _seal(_ivfpq_assign(batch, id_col, 1, cents, vec_col))
    resid = (
        batch.join(assigned, id_col)
        .join(F.broadcast(cents), "cell")
        .select(
            F.col(id_col), "cell",
            F.zip_with(F.col(vec_col), F.col("cvec"),
                       lambda x, y: x.cast("double") - y.cast("double"))
            .alias(vec_col),
        )
    )
    new_codes = pq_encode(resid, cb, vec_col, id_col, dim=dim, m=m).join(
        assigned, id_col
    )
    return codes.unionByName(new_codes)


def ivfpq_index_delete(
    codes: DataFrame,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Remove vectors from a persisted IVFPQ index — STANDING-model
    semantics (FAISS IndexIVFPQ.remove_ids; the ivf_index_delete /
    minhash_index_delete pattern): tombstones anti-join the code
    table; the coarse centroids and the PQ codebook stay put (they are
    trained artifacts, not per-vector state), so surviving codes are
    untouched and post-delete search equals the full-index ranking
    with deleted neighbors gone (the gate's oracle replays exactly
    that).  One broadcast-sized anti-join; codes never re-encode."""
    return codes.join(
        ids.select(
            F.col(ids.columns[0] if id_col not in ids.columns
                  else id_col).alias(id_col)
        ).distinct(),
        id_col, "left_anti",
    )


def ivfpq_index_search(
    cents: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Serve a query batch against a persisted IVFPQ index: probe
    ``n_probe`` cells per query, build the per-(query, cell) residual
    ADC LUT against the broadcast codebook, and scan ONLY the probed
    cells' integer codes — raw vectors never rescanned (they are not
    even part of the index).  Same determinism contract as
    ``ivfpq_search``."""
    sd = dim // m
    queries = queries.filter(
        F.col(vec_col).isNotNull() & _finite_components(F.col(vec_col)))

    # queries: probe cells + per-(query, cell) residual LUTs
    probes = _ivfpq_assign(
        queries, id_col, n_probe, cents, vec_col
    ).withColumnRenamed(id_col, query_id_col)
    qres = (
        queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("_q"))
        .join(probes, query_id_col)
        .join(F.broadcast(cents), "cell")
        .select(
            query_id_col, "cell",
            F.zip_with(F.col("_q"), F.col("cvec"),
                       lambda x, y: x.cast("double") - y.cast("double"))
            .alias("_qr"),
        )
    )
    lut = qres.crossJoin(F.broadcast(cb)).select(
        query_id_col, "cell", "sub", "code",
        F.round(
            _l2sq(F.slice("_qr", F.col("sub") * sd + 1, sd), F.col("cvec"))
            * F.lit(1e6)
        ).cast("bigint").alias("d_e6"),
    )

    scored = (
        codes.join(F.broadcast(lut), ["cell", "sub", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("d_e6").alias("dist_e6"))
        .filter(F.col(query_id_col) != F.col(id_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist_e6").asc(), F.col(id_col).asc()
    )
    return scored.select(
        query_id_col,
        F.col(id_col).alias("nbr_id"),
        "dist_e6",
        F.row_number().over(w).cast("int").alias("rank"),
    ).filter(F.col("rank") <= k)


def gram_merge(*grams: DataFrame) -> DataFrame:
    """Merge ``gram_matrix`` partials from corpus shards: the fixed-point
    cell sums add exactly (the CMS-style rollup property) — compute
    per-shard/per-day Gram tables, merge, then run PCA once on the
    combined d×d result."""
    out = grams[0]
    for g in grams[1:]:
        out = out.unionByName(g)
    return out.groupBy("i", "j").agg(F.sum("gram_e8").alias("gram_e8"))


def ivf_index_delete(
    assignments: DataFrame,
    ids: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Remove vectors from a persisted IVF index — the
    right-to-be-forgotten step of the build / append / rebalance /
    DELETE lifecycle (FAISS ``remove_ids`` re-expressed): drop the
    deleted rows from the assignments table and keep the standing
    centroids untouched (production semantics — a delete must not
    re-seed cells, or every surviving assignment would shift; rebuild
    is a separate, explicit operation).

    One anti-join against the deletion list (broadcast when small,
    sort-merge when the tombstone set is itself corpus-scale); the
    corpus vectors never re-assign and the centroids never move, so
    a subsequent ``ivf_index_search`` returns exactly the full-index
    ranking with deleted neighbors removed — the gate's oracle
    replays standing-centroid semantics, not a rebuild.  Emptied
    cells simply stop matching probes."""
    dcol = ids.columns[0] if id_col not in ids.columns else id_col
    return assignments.join(
        ids.select(F.col(dcol).alias(id_col)).distinct(),
        id_col, "left_anti")


def knn_classify(
    labeled: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """k-nearest-neighbor classification over an embedding column —
    the non-parametric member of the trainable-filter tier (NB /
    perceptron / stump train a model; kNN *is* its labeled corpus):
    label each query vector by majority vote of its ``k`` nearest
    labeled neighbors by cosine.  The semi-supervised curation verb —
    propagate a small set of human quality/domain labels onto an
    unlabeled corpus through embedding space (reference has no
    counterpart; the label-propagation framing is standard, e.g.
    Zhu & Ghahramani 2002).

    Neighbor search defaults to ``cosine_topk_blas`` (exact,
    matmul-batched, auto-sharded — the production exact path).  For
    ANN-accelerated classification at scale, pass ``neighbors=``
    any (query_id, nbr_id, cosine, rank) frame — e.g. the output of
    ``ivf_index_search`` over a persisted index — and only the vote
    runs here (the knn_classify_ivf gate pins that composition).

    Vote tie-break is pinned for determinism and SQL-replayability:
    votes DESC, then best (lowest) neighbor rank ASC — a tied label
    holding the closer neighbor wins — then label ASC.  NULL-labeled
    corpus rows are excluded BEFORE search (they cannot vote, and
    must not displace votable neighbors from the top-k).  Queries
    whose vector is invalid (NULL/empty/zero-norm/NaN/Inf) get no
    row, the cosine-tier exclusion contract.

    Scale shape: the vote is queries·k rows grouped to
    queries·distinct-labels — never corpus-scale; the label join is
    an id-equi-join against the (id, label) projection (broadcast
    when the labeled set is small, AQE otherwise).  Returns
    (query_id, pred_label, votes, best_rank)."""
    lab = labeled.filter(F.col(label_col).isNotNull())
    if neighbors is None:
        # sealed: lab feeds BOTH the search and the vote join (the
        # ≥2-branch lineage rule — without the seal the labeled scan
        # replays per consumer; code-review finding).  The injected-
        # neighbors path leaves sealing to the caller, who owns the
        # index build lineage.
        lab = lab.localCheckpoint(eager=False)
        neighbors = cosine_topk_blas(
            lab, vec_col=vec_col, id_col=id_col, k=k, queries=queries
        )
    votes = (
        neighbors.join(
            lab.select(F.col(id_col).alias("nbr_id"),
                       F.col(label_col).alias("_lbl")),
            "nbr_id",
        )
        .groupBy("query_id", "_lbl")
        .agg(
            F.count(F.lit(1)).alias("votes"),
            F.min("rank").alias("best_rank"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("best_rank").asc(), F.col("_lbl").asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            F.col("_lbl").alias("pred_label"),
            "votes",
            "best_rank",
        )
    )


def centroid_classify(
    labeled: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    scale: int = 1000,
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification — the third member
    of the embedding-classifier family (kNN votes over neighbors;
    this trains one PROTOTYPE per class and serves by nearest
    prototype under squared L2): the classic cheap-and-strong
    baseline when classes are compact in embedding space, and the
    serving cost is k·dim per query instead of a corpus search.

    INTEGER-exact end-to-end, so the DuckDB oracle replays training
    + serving bit-for-bit: vectors fix-point quantize to
    ``floor(x·scale + 0.5)`` (the quantize_embeddings rounding
    convention — engine-independent), prototypes are
    per-position TRUNCATED integer means (Spark's `div` and DuckDB's
    `//` both truncate toward zero — verified on negative sums), and
    distances are bigint Σ(q−p)² carried in decimal(38,0) (dim·(2·
    scale·max|x|)² outgrows int64 on wide/hot vectors).  Tie-break:
    distance ASC → label ASC.  NULL labels drop before training;
    non-finite vectors drop on both sides (quantization is undefined
    for them); zero vectors are legitimate under L2.

    Scale shape: prototypes are k·dim rows from ONE corpus-long-form
    aggregate (map-side partial); serving explodes each query to dim
    rows and joins the broadcast prototype frame on position —
    queries·dim·k intermediate rows, two-level partial-aggregated —
    linear in queries, corpus appears only in training.  Returns
    (query_id, pred_label)."""
    qmax = F.lit(float(scale))

    def fixq(frame: DataFrame, idc: str, keep_label: bool):
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        finite = F.aggregate(
            v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        )
        cols = [F.col(idc).alias("_id"),
                F.transform(
                    v, lambda x: F.floor(x * qmax + F.lit(0.5))
                    .cast("bigint")).alias("_q")]
        if keep_label:
            cols.append(F.col(label_col).alias("_lbl"))
        return (
            frame.withColumn("_fin", finite)
            .filter(F.col("_fin") < F.lit(float("inf")))
            .select(*cols)
        )

    lab = fixq(labeled.filter(F.col(label_col).isNotNull()),
               id_col, keep_label=True)
    lab_long = lab.select(
        "_lbl", F.posexplode("_q").alias("pos", "qv"))
    protos = (
        lab_long.groupBy("_lbl", "pos")
        .agg(F.sum("qv").alias("_s"), F.count(F.lit(1)).alias("_n"))
        # truncated mean: Spark's bigint `div` and DuckDB's `//`
        # BOTH truncate toward zero (verified: -7//2 = -3 on both),
        # so the plain quotient replays exactly — a floor-div
        # identity here would diverge on negative sums
        .select(
            "_lbl", "pos",
            F.expr("_s div _n").cast("bigint").alias("pv"),
        )
    )
    q_long = fixq(queries, id_col, keep_label=False).select(
        F.col("_id").alias("query_id"),
        F.posexplode("_q").alias("pos", "qv"))
    scored = (
        q_long.join(F.broadcast(protos), "pos")
        .groupBy("query_id", "_lbl")
        .agg(
            F.sum(
                ((F.col("qv") - F.col("pv"))
                 * (F.col("qv") - F.col("pv"))).cast("decimal(38,0)")
            ).alias("_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("_lbl").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", F.col("_lbl").alias("pred_label"))
    )
