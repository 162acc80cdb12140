"""ANN-tier scale probe — SCALING.md generator (r4 verdict item 4).

The 100 TB story for the ANN tier (IVF index, PQ/ADC, IVFADC) was
design-argued in SHUFFLES.md but measured at a single scale.  This
probe measures it across TWO DECADES: the sf0.1 embeddings corpus
(2 000 × 64-d) replicated ×10 and ×100 with re-keyed ids, a FIXED
40-query batch at every scale, and auto cell sizing
(``n_cells = max(16, ceil(rows / max_cell_rows))``, the
``_resolve_n_cells`` rule; ``max_cell_rows=1000`` here so the growth is
visible at probe sizes — production uses the 100k default).

What "the design survives 100×" must show:
- corpus-pass wall time grows ~linearly with rows (build/encode are
  one-pass + map-side aggregations);
- query-side shuffle bytes stay ~FLAT with corpus growth (scoring
  joins integer codes against broadcast LUTs — raw vectors never move
  at query time);
- n_cells grows with rows (cells-per-row bounded ⇒ per-cell work
  bounded), asserted by tests/test_corpus_ops.py::test_resolve_n_cells.

Caveat: ``exchange_stats`` walks the FINAL job's executed plan; the
lineage-sealed corpus passes (localCheckpoint) run as separate jobs and
are counted in wall time but not in the final plan's shuffle bytes —
per-stage shuffle shapes are in SHUFFLES.md.

Usage: PYTHONPATH=/root/repo python3 scripts/scale_probe.py
Writes SCALING.md at the repo root.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbt_core_spark.audit import exchange_stats
from dbt_core_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = (1, 10, 100)
MAX_CELL_ROWS = 1_000
KEY_STRIDE = 10_000_000


def replicate(spark, factor: int) -> str:
    """×factor copy of the base embeddings with disjoint re-keyed ids
    (vector payloads reused: the probe measures cost, not recall)."""
    path = f"/tmp/scale_probe_x{factor}"
    if not os.path.exists(path):
        base = spark.read.parquet(f"{BASE}/embeddings.parquet")
        out = base
        for i in range(1, factor):
            out = out.unionByName(base.select(
                (F.col("vec_id") + F.lit(i * KEY_STRIDE)).alias("vec_id"),
                *[c for c in base.columns if c != "vec_id"],
            ))
        out.repartition(max(4, factor)).write.mode("overwrite").parquet(path)
    return path


def replicate_docs(spark, factor: int) -> str:
    """×factor documents corpus for the DEDUP probe.  Exact replication
    would be degenerate (every doc gains factor−1 identical twins →
    candidate pairs grow quadratically with factor, a 99%-dup corpus,
    not a bigger corpus), so each replica substitutes 'e'→digit in the
    text: WITHIN-replica near-dup structure is preserved (the same
    substitution hits both members of a pair), across replicas shingle
    overlap collapses — duplicate DENSITY stays ~constant as rows grow,
    the realistic scale-up."""
    path = f"/tmp/scale_probe_docs_x{factor}"
    if not os.path.exists(path):
        base = spark.read.parquet(f"{BASE}/documents.parquet")
        out = base
        for i in range(1, factor):
            # unique-per-replica token on EVERY vowel — two earlier
            # attempts were degenerate: i%10 digits made replicas
            # 3/13/23 exact copies, and substituting only 'e' left
            # low-'e' docs near-identical across all replicas
            # (100-doc band cliques → superlinear candidate pairs)
            out = out.unionByName(base.select(
                (F.col("doc_id") + F.lit(i * KEY_STRIDE)).alias("doc_id"),
                F.regexp_replace("text", "[aeiou]", f"{i}x").alias("text"),
                *[c for c in base.columns if c not in ("doc_id", "text")],
            ))
        out.repartition(max(4, factor)).write.mode("overwrite").parquet(path)
    return path


def replicate_embeddings_perturbed(spark, factor: int) -> str:
    """×factor embeddings for the SemDeDup probe: each replica offsets
    every component by a replica-and-index-dependent term, so replicas
    are NOT mutual semantic duplicates (exact copies would put 100
    cosine-1.0 twins in every cell — a pathological 99%-dup corpus)."""
    path = f"/tmp/scale_probe_emb_pert_x{factor}"
    if not os.path.exists(path):
        base = spark.read.parquet(f"{BASE}/embeddings.parquet")
        out = base
        # md5-derived per-(replica, component) offsets, amplitude 0.076
        # on unit-norm vectors → |delta| ≈ 0.35, replica-pair cosine
        # ≈ 0.89 < tau for EVERY pair.  (A periodic sin offset was
        # tried first and nearly cancels for replicas 9 apart,
        # 3.5·9 ≈ 10π, silently minting ~10 near-twins per vector.)
        for i in range(1, factor):
            def _off(j, _i=i):
                h = F.conv(F.substring(F.md5(F.concat(
                    F.lit(f"probe:{_i}:"), j.cast("string"))), 1, 15),
                    16, 10).cast("bigint")
                return (F.pmod(h, F.lit(2001)) - 1000) / 1000.0 * 0.076

            out = out.unionByName(base.select(
                (F.col("vec_id") + F.lit(i * KEY_STRIDE)).alias("vec_id"),
                F.transform(
                    "embedding", lambda x, j: x + _off(j),
                ).alias("embedding"),
                *[c for c in base.columns
                  if c not in ("vec_id", "embedding")],
            ))
        out.repartition(max(4, factor)).write.mode("overwrite").parquet(path)
    return path


def fmt_bytes(n: int) -> str:
    if n >= 1 << 20:
        return f"{n / (1 << 20):.1f} MB"
    if n >= 1 << 10:
        return f"{n / (1 << 10):.1f} KB"
    return f"{n} B"


def run(fn):
    # drop dangling refs so the ContextCleaner can unpersist prior
    # queries' localCheckpoint RDDs before timing (the bench.py
    # guard): without this, tiers late in the session inherit GC
    # pressure earlier tiers created — the first retrieval-tier run
    # measured 13-15s batches at ×1 (right after the text ×100 tier)
    # vs 1.6-3.2s at ×100 once cleanup had caught up
    import gc

    gc.collect()
    t0 = time.time()
    df = fn()
    rows = len(df.collect())
    wall = time.time() - t0
    return rows, round(wall, 2), exchange_stats(df)


def run_count(fn):
    """count()-driven variant for operators whose OUTPUT is corpus-
    scale (tfidf_cosine_pairs yields ~6.6M similar pairs per replica on
    the template-heavy synthetic docs): collect() would spend minutes
    deserializing rows into Python and the probe would measure the
    driver, not the operator.  count() still executes the full join/
    shuffle pipeline JVM-side."""
    import gc

    gc.collect()
    t0 = time.time()
    df = fn()
    rows = df.count()
    wall = time.time() - t0
    return rows, round(wall, 2), exchange_stats(df)


def main() -> None:
    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
        ivfpq_search,
        pq_codebook,
        pq_encode,
        pq_search,
    )

    spark = get_spark(
        app_name="scale_probe",
        extra_conf={"spark.sql.warehouse.dir": "/tmp/scale_probe_wh"},
    )
    # same warmups as bench.py: JVM codegen + the Python worker pool,
    # so the ×1 row doesn't absorb one-time spawn cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long").count()
    # fixed 40-query batch: base-corpus ids only, identical at all scales
    queries = (
        spark.read.parquet(f"{BASE}/embeddings.parquet")
        .filter("vec_id % 50 = 0")
    ).localCheckpoint(eager=True)
    n_queries = queries.count()

    results: dict[str, dict[int, tuple]] = {}
    meta: dict[int, tuple[int, int]] = {}
    for factor in SCALES:
        corpus = spark.read.parquet(replicate(spark, factor))
        corpus_rows = corpus.count()
        n_cells = max(16, -(-corpus_rows // MAX_CELL_ROWS))
        meta[factor] = (corpus_rows, n_cells)
        print(f"== x{factor}: {corpus_rows} rows, n_cells={n_cells}, "
              f"{n_queries} queries", file=sys.stderr)

        results.setdefault("ivfpq_search (IVFADC)", {})[factor] = run(
            lambda: ivfpq_search(corpus, queries, k=3, n_cells=n_cells,
                                 n_probe=4, m=4, ks=16, dim=64))

        def pq_flow():
            cb = pq_codebook(corpus, dim=64, m=4, ks=16)
            codes = pq_encode(corpus, cb, dim=64, m=4)
            return pq_search(codes, queries, cb, k=3, dim=64, m=4)

        results.setdefault("pq codebook+encode+search", {})[factor] = run(pq_flow)

        def ivf_flow():
            cents, assigns = ivf_index_build(
                corpus, n_cells=n_cells, kmeans_iters=0)
            assigns = assigns.localCheckpoint(eager=False)
            return ivf_index_search(cents, assigns, queries, k=3, n_probe=4)

        results.setdefault("ivf index build+search", {})[factor] = run(ivf_flow)
        for op, per in results.items():
            if factor in per:
                rows, wall, a = per[factor]
                print(f"  {op}: {wall}s, {rows} rows, "
                      f"shuffle={fmt_bytes(a['shuffle_bytes'])}",
                      file=sys.stderr)

    # ---- dedup tier: MinHash-LSH (+ connected components) over text,
    # SemDeDup-BLAS over perturbed vectors — duplicate density held
    # ~constant while rows grow (see replicate_docs) ----
    from dbt_core_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from dbt_core_spark.operators.similarity import semantic_dedup_blas

    dedup_results: dict[str, dict[int, tuple]] = {}
    dedup_meta: dict[int, int] = {}
    for factor in SCALES:
        docs = spark.read.parquet(replicate_docs(spark, factor))
        dedup_meta[factor] = docs.count()
        print(f"== dedup x{factor}: {dedup_meta[factor]} docs",
              file=sys.stderr)

        def mh_flow():
            return minhash_lsh_pairs(docs, "text", "doc_id")

        dedup_results.setdefault("minhash_lsh_pairs", {})[factor] = run(mh_flow)

        def cc_flow():
            pairs = minhash_lsh_pairs(docs, "text", "doc_id") \
                .localCheckpoint(eager=False)
            return connected_components(pairs.select("id_a", "id_b"))

        dedup_results.setdefault("minhash→connected_components", {})[factor] \
            = run(cc_flow)

        emb = spark.read.parquet(replicate_embeddings_perturbed(spark, factor))
        erows = emb.count()
        ecells = max(16, -(-erows // MAX_CELL_ROWS))

        def sd_flow():
            return semantic_dedup_blas(emb, n_cells=ecells, tau=0.97)

        dedup_results.setdefault("semantic_dedup_blas", {})[factor] = run(sd_flow)
        for op, per in dedup_results.items():
            if factor in per:
                rows, wall, a = per[factor]
                print(f"  {op}: {wall}s, {rows} rows, "
                      f"shuffle={fmt_bytes(a['shuffle_bytes'])}",
                      file=sys.stderr)

    # ---- clustering tier: integer-exact distributed k-means over the
    # perturbed embeddings — the assignment pass must stay ZERO-shuffle
    # at every scale (centroids are broadcast literals) and the update
    # pass's shuffle must stay ~k·d·partitions, corpus-independent ----
    from dbt_core_spark.operators.clustering import _nearest, _quantize, kmeans_fixed

    KM_K, KM_ITERS = 16, 2
    km_results: dict[int, tuple] = {}
    km_update: dict[int, dict] = {}
    for factor in SCALES:
        emb = spark.read.parquet(replicate_embeddings_perturbed(spark, factor))
        print(f"== kmeans x{factor}: {emb.count()} rows", file=sys.stderr)
        km_results[factor] = run(
            lambda: kmeans_fixed(emb, k=KM_K, iters=KM_ITERS))
        # one measured update-pass aggregation (seed centroids), the
        # per-iteration shuffle inside the loop
        base = _quantize(emb, "embedding", "vec_id").localCheckpoint(eager=False)
        seed = [(i, list(r["vq"]))
                for i, r in enumerate(base.orderBy("id").limit(KM_K).collect())]
        upd = (base.select(_nearest(seed)["cell"].alias("cell"), "vq")
               .select("cell", F.posexplode("vq").alias("pos", "val"))
               .groupBy("cell", "pos")
               .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c")))
        upd.collect()
        km_update[factor] = exchange_stats(upd)
        rows, wall, a = km_results[factor]
        print(f"  kmeans_fixed: {wall}s, {rows} rows, final-job "
              f"exchanges={a['exchanges']}, update shuffle rows="
              f"{km_update[factor]['shuffle_records']:,}", file=sys.stderr)

    # ---- text tier (r5 verdict item 7): the three heaviest text-
    # operator shuffles — positional k-gram spans (the largest headline
    # exchange at sf0.1), inverted-index tf-idf cosine, and contrastive
    # triple mining — over the same perturbed docs corpora.  The vowel
    # substitution makes replica VOCABULARIES disjoint, so k-gram
    # matches, shared-term pairs, and same-index negatives all stay
    # within-replica: pair/span density is ~constant as rows grow ----
    from dbt_core_spark.operators.dedup import dup_ngram_spans
    from dbt_core_spark.operators.textstats import (
        chunk_documents,
        contrastive_pairs,
        tfidf_cosine_pairs,
    )

    text_results: dict[str, dict[int, tuple]] = {}
    for factor in SCALES:
        docs = spark.read.parquet(replicate_docs(spark, factor))
        print(f"== text x{factor}: {dedup_meta[factor]} docs",
              file=sys.stderr)

        text_results.setdefault("dup_ngram_spans (k=5)", {})[factor] = run(
            lambda: dup_ngram_spans(docs, k=5, min_docs=2))

        # tfidf probes a 1/10 sub-corpus (500/5k/50k docs): the
        # template-heavy synthetic docs yield ~1.3k ≥0.6-cosine pairs
        # per doc, so the full corpus would cost hours at ×100 purely
        # in pair YIELD.  max_df_frac scales as 0.8/factor so the
        # per-replica document-frequency cutoff stays at the same
        # absolute df at every scale — replica vocabularies are
        # disjoint, so a FIXED fraction would silently stop filtering
        # stopword-class terms as the corpus grows (a superlinear
        # yield artifact of the corpus construction, not the
        # operator).
        tdocs = docs.filter("doc_id % 10 = 0")
        text_results.setdefault("tfidf_cosine_pairs (1/10 corpus)", {})[
            factor] = run(
                lambda: tfidf_cosine_pairs(
                    tdocs, threshold=0.6, max_df_frac=0.8 / factor))

        def ctr_flow():
            chunks = chunk_documents(docs, chunk_words=40, overlap=10)
            return contrastive_pairs(chunks)

        text_results.setdefault("contrastive_pairs", {})[factor] = \
            run(ctr_flow)

        # bm25: FIXED query set (1/13 of replica 0) against the growing
        # corpus — the retrieval scale question is "what does a bigger
        # corpus cost a constant query workload".  Corpus-side tf/df
        # stats rebuild every run (linear, wordcount-class); the
        # query-postings join is bounded by Σ df(t) over query terms.
        # Replica vocab divergence means cross-replica df growth is
        # partial — noted, same caveat as the tfidf probe.
        from dbt_core_spark.operators.textstats import bm25_rank

        qdocs = spark.read.parquet(replicate_docs(spark, 1)).filter(
            "doc_id % 13 = 0")
        text_results.setdefault("bm25_rank (fixed queries)", {})[factor] = \
            run(lambda: bm25_rank(docs, qdocs, top_k=10))
        for op, per in text_results.items():
            if factor in per:
                rows, wall, a = per[factor]
                print(f"  {op}: {wall}s, {rows} rows, "
                      f"shuffle={fmt_bytes(a['shuffle_bytes'])}",
                      file=sys.stderr)

    # ---- retrieval-index tier (r6 verdict item 4): the bm25_rank row
    # above rebuilds corpus tf/df/dl stats on EVERY call — its shuffle
    # grew 22× across the ×10→×100 decade in r6.  The production answer
    # is build-once/search-many (the ivf_index precedent): bm25_index
    # persisted to parquet once per corpus snapshot, then every query
    # batch joins the (term-pruned) postings — per-batch cost bounded by
    # tokenize(batch) + Σ df(t) over the batch's terms, with NO
    # corpus-stats rebuild.  Three sequential batches per scale show the
    # marginal batch cost directly. ----
    from dbt_core_spark.operators.textstats import bm25_index, bm25_query

    ret_build: dict[int, float] = {}
    ret_batches: dict[int, list[tuple]] = {}
    for factor in SCALES:
        docs = spark.read.parquet(replicate_docs(spark, factor))
        idx_path = f"/tmp/scale_probe_bm25_idx_x{factor}"
        t0 = time.time()
        bm25_index(docs).write.mode("overwrite").parquet(idx_path)
        ret_build[factor] = round(time.time() - t0, 2)
        index = spark.read.parquet(idx_path)
        base_docs = spark.read.parquet(replicate_docs(spark, 1))
        ret_batches[factor] = []
        for b in range(3):  # three fixed query batches, replica-0 ids
            qb = base_docs.filter(f"doc_id % 13 = {b}")
            ret_batches[factor].append(run(
                lambda: bm25_query(index, qb, top_k=10)))
        walls = [w for _, w, _ in ret_batches[factor]]
        print(f"== retrieval x{factor}: index build {ret_build[factor]}s, "
              f"batches {walls}", file=sys.stderr)

    # ---- streaming-decontamination tier (r7 verdict item 6): the
    # ingest-time leg of decontamination.  Probe set HELD FIXED
    # (replica-0 doc_id % 11 == 0); the document STREAM scales
    # ×1/×10/×100, written as fixed-size files (~1250 rows each) and
    # drained AvailableNow at 2 files/trigger, so the micro-batch SIZE
    # is constant and the batch COUNT carries the corpus growth.  The
    # operator is stateless (broadcast Bloom bitset + stream-static
    # confirm join, no state store, no watermark), so per-batch wall
    # must stay ~flat across the decades — the bounded-state claim,
    # measured. ----
    from dbt_core_spark.streaming.structured import (
        stream_source,
        streaming_decontaminate,
    )

    sdec: dict[int, dict] = {}
    sdec_probes = spark.read.parquet(replicate_docs(spark, 1)).filter(
        "doc_id % 11 = 0")
    for factor in SCALES:
        src = f"/tmp/scale_probe_sdec_x{factor}"
        if not os.path.exists(src):
            spark.read.parquet(replicate_docs(spark, factor)) \
                .repartition(4 * factor).write.parquet(src)
        schema = spark.read.parquet(src).schema
        import gc

        gc.collect()
        t0 = time.time()
        stream = stream_source(spark, src, schema, fmt="parquet",
                               options={"maxFilesPerTrigger": "2"})
        matches = streaming_decontaminate(stream, sdec_probes, n=5)
        name = f"sdec_probe_x{factor}"
        q = (
            matches.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        wall = round(time.time() - t0, 2)
        n_batches = (q.lastProgress["batchId"] + 1) if q.lastProgress else 0
        out_rows = spark.table(name).count()
        sdec[factor] = {
            "wall": wall,
            "batches": n_batches,
            "rows": out_rows,
            "per_batch": round(wall / max(1, n_batches), 3),
        }
        print(f"== sdec x{factor}: {wall}s total, {n_batches} batches, "
              f"{sdec[factor]['per_batch']}s/batch, {out_rows} matches",
              file=sys.stderr)

    # ---- dataset-management tier (r8): snapshot diff, vocabulary
    # drift, and degenerate-loop detection over the same perturbed
    # docs decades.  corpus_diff must stay hash-only through its one
    # full-outer join (wall ~linear in rows); vocab_drift's rank
    # window runs over VOCABULARY rows (the perturbed replicas grow
    # the vocab ~linearly — worst case for it); ngram_loop_runs is a
    # per-(doc, phase) window, no joins. ----
    from dbt_core_spark.operators.corpus import (
        corpus_diff,
        ngram_loop_runs,
        vocab_drift,
    )

    dm_results: dict[str, dict[int, tuple]] = {}
    for factor in SCALES:
        docs = spark.read.parquet(replicate_docs(spark, factor))
        # the gate recipe exactly (corpus_diff_docs / vocab_drift_docs):
        # old drops the %17==3 residue, new drops %17==5 and amends
        # %13==0 texts — SCALING.md cites this as "the gate recipe", so
        # the probe must measure the same thing (r9 advice: the two
        # residues were swapped relative to the gate)
        old = docs.filter("doc_id % 17 != 3")
        new = docs.filter("doc_id % 17 != 5").withColumn(
            "text",
            F.when(F.col("doc_id") % 13 == 0,
                   F.concat_ws(" ", "text", F.lit("v2")))
            .otherwise(F.col("text")),
        )
        print(f"== dataset-mgmt x{factor}: {dedup_meta[factor]} docs",
              file=sys.stderr)
        dm_results.setdefault("corpus_diff", {})[factor] = run_count(
            lambda: corpus_diff(old, new))
        dm_results.setdefault("vocab_drift (top-50)", {})[factor] = run(
            lambda: vocab_drift(old, new, top_k=50))
        dm_results.setdefault("ngram_loop_runs (n=3)", {})[factor] = \
            run_count(lambda: ngram_loop_runs(docs, n=3, min_repeats=3))
        for op, per in dm_results.items():
            if factor in per:
                rows, wall, a = per[factor]
                print(f"  {op}: {wall}s, {rows} rows, "
                      f"shuffle={fmt_bytes(a['shuffle_bytes'])}",
                      file=sys.stderr)

    # ---- trainable-filter tier (r9): Naive Bayes train+serve and the
    # OOV-rate monitor over the same perturbed docs decades.  NB
    # training is ONE (cls, term) wordcount pass — wall must track the
    # corpus wordcounts (~linear); serving adds the term-keyed join
    # against the vocab-sized sparse model.  oov_rate is a row-local
    # count + broadcast anti-join + one per-doc aggregate. ----
    from dbt_core_spark.operators.corpus import oov_rate
    from dbt_core_spark.operators.textstats import (
        build_vocab,
        naive_bayes_apply,
        naive_bayes_train,
    )

    tf_results: dict[str, dict[int, tuple]] = {}
    for factor in SCALES:
        docs = spark.read.parquet(replicate_docs(spark, factor))
        print(f"== trainable-filter x{factor}: {dedup_meta[factor]} docs",
              file=sys.stderr)

        def nb_flow():
            w, cs = naive_bayes_train(
                docs.filter("doc_id % 3 != 0 and lang is not null"),
                "lang")
            w = w.localCheckpoint(eager=False)
            cs = cs.localCheckpoint(eager=False)
            return naive_bayes_apply(docs.filter("doc_id % 3 = 0"), w, cs)

        tf_results.setdefault("naive_bayes train+serve", {})[factor] = \
            run_count(nb_flow)

        def oov_flow():
            vocab = build_vocab(docs.filter("doc_id % 2 = 0"),
                                vocab_size=500)
            return oov_rate(docs, vocab.localCheckpoint(eager=False))

        tf_results.setdefault("oov_rate (500-term vocab)", {})[factor] = \
            run_count(oov_flow)
        for op, per in tf_results.items():
            if factor in per:
                rows, wall, a = per[factor]
                print(f"  {op}: {wall}s, {rows} rows, "
                      f"shuffle={fmt_bytes(a['shuffle_bytes'])}",
                      file=sys.stderr)

    # ---- IVF maintenance tier (r9): hot-cell rebalance.  Appends
    # concentrate in popular regions (here: a fixed 20% slice of the
    # base corpus re-appended ×factor with re-keyed ids), the built
    # 16-cell layout blows past max_cell_rows, and per-batch search
    # cost degrades with the hot cells.  The probe measures the SAME
    # fixed query batch on the skew-hot index BEFORE and AFTER
    # ivf_index_rebalance — the before/after decade the r8 verdict
    # asked for — plus the rebalance's own one-time cost. ----
    from dbt_core_spark.operators.similarity import ivf_index_rebalance

    REB_MAX_CELL = 300
    reb: dict[int, dict] = {}
    base_emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    hot_src = base_emb.filter("vec_id % 5 = 0")  # ~20% of the base
    for factor in SCALES:
        grown = base_emb
        for i in range(1, factor):
            # SMALL md5-derived per-(replica, component) offsets
            # (amplitude 0.02 → replica cosine ≈ 0.99): the appends
            # stay concentrated in the same cells (that is the skew
            # being probed) but are NOT exact duplicates — identical
            # vectors cannot be split by ANY geometric method, so an
            # exact-copy corpus would measure a pathology, not the
            # operator (first probe attempt did exactly that: a
            # sub-cell inherited every copy of the dominant vector)
            def _off(j, _i=i):
                h = F.conv(F.substring(F.md5(F.concat(
                    F.lit(f"reb:{_i}:"), j.cast("string"))), 1, 15),
                    16, 10).cast("bigint")
                return (F.pmod(h, F.lit(2001)) - 1000) / 1000.0 * 0.02

            grown = grown.unionByName(hot_src.select(
                (F.col("vec_id") + F.lit(i * KEY_STRIDE)).alias("vec_id"),
                F.transform("embedding", lambda x, j: x + _off(j))
                .alias("embedding"),
                *[c for c in base_emb.columns
                  if c not in ("vec_id", "embedding")],
            ))
        corpus = grown.repartition(max(4, factor)).localCheckpoint(
            eager=True)
        rows_total = corpus.count()
        cents, assigns = ivf_index_build(corpus, n_cells=16,
                                         kmeans_iters=0)
        assigns = assigns.localCheckpoint(eager=True)

        def _sizes(a):
            return {int(r["cell"]): int(r["n"]) for r in
                    a.groupBy("cell").agg(F.count("*").alias("n"))
                    .collect()}

        sizes = _sizes(assigns)
        # max_cell_rows below the query batch: the search takes the
        # hot-cell (cell, msub, psub) exchange this probe measures, not
        # the broadcast serve a batch within the cap gets
        _, w_before, _ = run(
            lambda: ivf_index_search(cents, assigns, queries, k=3,
                                     n_probe=4, max_cell_rows=n_queries - 1))
        import gc as _gc

        # rebalance to CONVERGENCE (ivf_index_rebalance_converged
        # semantics, unrolled here so the per-round max-cell
        # trajectory can be recorded): one round splits each hot cell
        # by k_c stride-spread seeds — deterministic and oracle-exact,
        # but geometric, so a residue of still-hot sub-cells can
        # survive a round; successive rounds split the residue.  BOTH
        # outputs are sealed per round (the wrapper's rule): the
        # centroid frame's union lineage otherwise deepens per round.
        _gc.collect()
        t0 = time.time()
        c_cur, a_cur, s_cur = cents, assigns, sizes
        track, rounds = [max(sizes.values())], 0
        while max(s_cur.values()) > REB_MAX_CELL and rounds < 12:
            c_cur, a_cur = ivf_index_rebalance(
                c_cur, a_cur, max_cell_rows=REB_MAX_CELL)
            a_cur = a_cur.localCheckpoint(eager=True)
            a_cur.count()
            c_cur = c_cur.localCheckpoint(eager=True)
            c_cur.count()
            s_cur = _sizes(a_cur)
            track.append(max(s_cur.values()))
            rounds += 1
        reb_wall = round(time.time() - t0, 2)
        _, w_after, _ = run(
            lambda: ivf_index_search(c_cur, a_cur, queries, k=3,
                                     n_probe=4, max_cell_rows=n_queries - 1))
        reb[factor] = {
            "rows": rows_total,
            "hot": sum(1 for n in sizes.values() if n > REB_MAX_CELL),
            "cells_before": len(sizes), "cells_after": len(s_cur),
            "rounds": rounds, "track": track,
            "max_before": max(sizes.values()),
            "max_after": max(s_cur.values()),
            "w_before": w_before, "w_after": w_after,
            "reb_wall": reb_wall,
        }
        print(f"== rebalance x{factor}: {reb[factor]}", file=sys.stderr)

    # ---- multimodal dedup tier (r9): aHash fingerprints + banded
    # Hamming pairs over synthetic PPM decades.  Replica images carry a
    # replica-specific random spatial texture on top of the gradient:
    # WITHIN-replica near-dup structure is preserved (the texture hits
    # both members of a pair), across replicas hashes decorrelate — so
    # pair density stays ~constant per replica (linear total) instead
    # of the quadratic (w,h)-class clique blowup exact gradient
    # replication would measure (the replicate_docs rule, re-derived
    # for images). ----
    from dbt_core_spark.operators.multimodal import (
        encode_ppm,
        phash_dup_pairs,
        phash_media,
    )

    def replicate_phash_media(factor: int) -> str:
        path = f"/tmp/scale_probe_phash_x{factor}"
        if not os.path.exists(path):
            import numpy as np
            import pandas as pd

            ids = spark.read.parquet(f"{BASE}/documents.parquet").filter(
                "doc_id % 23 = 1 and doc_id % 2 = 1").select("doc_id")
            grid = ids.crossJoin(
                spark.range(factor).select(F.col("id").alias("rep"))
            ).select(
                (F.col("doc_id") + F.col("rep") * KEY_STRIDE)
                .alias("media_id"),
                F.col("doc_id").alias("src"), "rep",
            )

            def synth(batches):
                tex: dict[int, "np.ndarray"] = {}
                for pdf in batches:
                    out = []
                    for mid, src, rep in zip(pdf["media_id"], pdf["src"],
                                             pdf["rep"]):
                        src, rep = int(src), int(rep)
                        w, h = 4 + src % 13, 3 + src % 7
                        if rep not in tex:
                            tex[rep] = np.random.RandomState(
                                9000 + rep).randint(0, 256, size=(16, 24))
                        T = tex[rep]
                        xs = np.arange(w)[None, :] * 3
                        ys = np.arange(h)[:, None] * 7
                        plane = ((src + xs + ys + T[:h, :w]) % 256
                                 ).astype("u1")
                        px = np.repeat(plane[:, :, None], 3, axis=2)
                        out.append((int(mid), encode_ppm(px)))
                    yield pd.DataFrame(out, columns=["media_id", "data"])

            grid.repartition(max(4, factor)).mapInPandas(
                synth, "media_id long, data binary"
            ).write.mode("overwrite").parquet(path)
        return path

    ph_results: dict[int, tuple] = {}
    ph_meta: dict[int, int] = {}
    for factor in SCALES:
        media = spark.read.parquet(replicate_phash_media(factor))
        ph_meta[factor] = media.count()

        def ph_flow():
            hashes = phash_media(media).localCheckpoint(eager=False)
            return phash_dup_pairs(hashes, max_hamming=3)

        ph_results[factor] = run_count(ph_flow)
        rows, wall, a = ph_results[factor]
        print(f"== phash x{factor}: {ph_meta[factor]} images, {wall}s, "
              f"{rows} pairs, shuffle={fmt_bytes(a['shuffle_bytes'])}",
              file=sys.stderr)

    # ---- audio dedup tier (r9): landmark fingerprints + key-blocked
    # pairs over synthetic WAV decades.  The replica-decorrelation rule
    # again, and it took three waveform designs to get an honest
    # decade: the gate's mod-201 sawtooth has only 201 waveforms per
    # length (replicas collide into exact-dup cliques — 299 → 4.0M
    # pairs, quadratic, a probe artifact); a wide-period sawtooth
    # (mod 32003) makes per-clip energies MONOTONIC (zero peaks, zero
    # fingerprints).  The probe therefore synthesizes a Knuth-hash
    # pseudo-random tone with per-clip amplitude: random per-frame
    # energies give a dense peak landscape, the amplitude spread
    # de-clusters peak-energy buckets across clips, and quant=16 (the
    # operator's resolution knob, matched to the wider energy range)
    # pushes chance >=4-key collisions below measurement (0 in a
    # 44,850-random-pair check).  Each replica still carries one exact
    # clone per clip — pair density ~constant, linear total.
    from dbt_core_spark.operators.multimodal import (
        audio_dup_pairs,
        audio_energy_frames,
        audio_fingerprint,
        encode_wav,
    )

    def replicate_audio_media(factor: int) -> str:
        path = f"/tmp/scale_probe_audio_x{factor}"
        if not os.path.exists(path):
            import numpy as np
            import pandas as pd

            ids = spark.read.parquet(f"{BASE}/documents.parquet").filter(
                "doc_id % 23 = 2 and doc_id % 2 = 0"
            ).select("doc_id", F.coalesce(F.length("text"), F.lit(0))
                     .alias("tl"))
            grid = ids.crossJoin(
                spark.range(factor).select(F.col("id").alias("rep"))
            ).select(
                (F.col("doc_id") + F.col("rep") * KEY_STRIDE)
                .alias("media_id"),
                F.col("doc_id").alias("src"), "tl", "rep",
            )

            def synth(batches):
                for pdf in batches:
                    out = []
                    for mid, src, tl, rep in zip(
                            pdf["media_id"], pdf["src"], pdf["tl"],
                            pdf["rep"]):
                        mid, src, rep = int(mid), int(src), int(rep)
                        n = 8 * (int(tl) % 50 + 1)
                        eff = src * 104729 + rep * 7919
                        amp = 500 + eff % 1553
                        x = (eff + np.arange(n)) % (2 ** 31)
                        samples = ((x * 2654435761) % (2 ** 31)) \
                            % (2 * amp + 1) - amp
                        payload = encode_wav(samples)
                        out.append((mid, payload))
                        out.append((mid + 500 * KEY_STRIDE, payload))
                    yield pd.DataFrame(
                        out, columns=["media_id", "data"])

            grid.repartition(max(4, factor)).mapInPandas(
                synth, "media_id long, data binary"
            ).write.mode("overwrite").parquet(path)
        return path

    au_results: dict[int, tuple] = {}
    au_meta: dict[int, int] = {}
    for factor in SCALES:
        media = spark.read.parquet(replicate_audio_media(factor))
        au_meta[factor] = media.count()

        def au_flow():
            frames = audio_energy_frames(media).localCheckpoint(
                eager=False)
            return audio_dup_pairs(audio_fingerprint(frames, quant=16))

        au_results[factor] = run_count(au_flow)
        rows, wall, a = au_results[factor]
        print(f"== audio x{factor}: {au_meta[factor]} clips, {wall}s, "
              f"{rows} pairs, shuffle={fmt_bytes(a['shuffle_bytes'])}",
              file=sys.stderr)

    # ---- video alignment tier (r10): per-frame aHash + offset-
    # grouped pairs over synthetic concatenated-netpbm decades.  The
    # replica-decorrelation rule a third time: synth_video's pure
    # gradient shares ONE aHash across every no-wrap frame of every
    # same-dims clip (the threshold pattern is base-invariant), so
    # replicas would collide into a corpus-wide hash clique (probe
    # artifact, quadratic).  The probe therefore textures each frame
    # with a Knuth-hash pseudo-random pattern keyed by (src, rep,
    # frame); each replica carries a one-frame-TRIMMED clone per clip
    # — the structure position-exact matching cannot see — so pair
    # density stays ~constant and the total is linear.
    from dbt_core_spark.operators.multimodal import (
        encode_ppm,
        video_dup_pairs_aligned,
        video_frame_hashes,
    )

    def replicate_video_media(factor: int) -> str:
        path = f"/tmp/scale_probe_video_x{factor}"
        if not os.path.exists(path):
            import numpy as np
            import pandas as pd

            ids = spark.read.parquet(f"{BASE}/documents.parquet").filter(
                "doc_id % 19 = 4").select("doc_id")
            grid = ids.crossJoin(
                spark.range(factor).select(F.col("id").alias("rep"))
            ).select(
                (F.col("doc_id") + F.col("rep") * KEY_STRIDE)
                .alias("media_id"),
                F.col("doc_id").alias("src"), "rep",
            )

            def synth(batches):
                for pdf in batches:
                    out = []
                    for mid, src, rep in zip(pdf["media_id"],
                                             pdf["src"], pdf["rep"]):
                        mid, src, rep = int(mid), int(src), int(rep)
                        w, h = 4 + src % 13, 3 + src % 7
                        nf = 3 + src % 5
                        eff = src * 104729 + rep * 7919
                        frames = []
                        for f in range(nf):
                            idx = np.arange(w * h, dtype="i8")
                            x = eff + 131 * f + idx
                            # double-mix (multiply, xorshift, multiply):
                            # one multiply leaves replicas affinely
                            # related and aHash is shift-invariant —
                            # the first probe run collided replicas
                            # into quadratic pair growth
                            y = (x * 2654435761) % (2 ** 31)
                            z = ((y ^ (y >> 13)) * 1099087573) % (2 ** 31)
                            px = ((z >> 16) % 256).astype("u1")
                            px = px.reshape(h, w)
                            frames.append(encode_ppm(
                                np.repeat(px[:, :, None], 3, axis=2)))
                        out.append((mid, b"".join(frames)))
                        # one-frame-trimmed clone
                        out.append((mid + 500 * KEY_STRIDE,
                                    b"".join(frames[1:])))
                    yield pd.DataFrame(out, columns=["media_id", "data"])

            grid.repartition(max(4, factor)).mapInPandas(
                synth, "media_id long, data binary"
            ).write.mode("overwrite").parquet(path)
        return path

    vd_results: dict[int, tuple] = {}
    vd_meta: dict[int, int] = {}
    for factor in SCALES:
        media = spark.read.parquet(replicate_video_media(factor))
        vd_meta[factor] = media.count()

        def vd_flow():
            hashes = video_frame_hashes(media).localCheckpoint(
                eager=False)
            return video_dup_pairs_aligned(hashes, min_frames=2)

        vd_results[factor] = run_count(vd_flow)
        rows, wall, a = vd_results[factor]
        print(f"== video x{factor}: {vd_meta[factor]} clips, {wall}s, "
              f"{rows} aligned pairs, "
              f"shuffle={fmt_bytes(a['shuffle_bytes'])}",
              file=sys.stderr)

    lines = [
        "# SCALING — ANN + dedup tiers, measured across two decades",
        "",
        f"Generated by `scripts/scale_probe.py` on the sf0.1 embeddings "
        f"corpus replicated ×1/×10/×100 (re-keyed ids), fixed "
        f"{n_queries}-query batch, auto cells "
        f"(`max(16, ceil(rows/{MAX_CELL_ROWS}))`).",
        "",
        "| scale | corpus rows | n_cells |",
        "|---|---|---|",
    ]
    for factor in SCALES:
        rows, cells = meta[factor]
        lines.append(f"| ×{factor} | {rows:,} | {cells} |")
    lines += [
        "",
        "| operator | scale | wall s | final-job shuffle | shuffle rows "
        "| broadcast |",
        "|---|---|---|---|---|---|",
    ]
    for op, per in results.items():
        for factor in SCALES:
            rows, wall, a = per[factor]
            lines.append(
                f"| {op} | ×{factor} | {wall} | "
                f"{fmt_bytes(a['shuffle_bytes'])} | {a['shuffle_records']:,} "
                f"| {fmt_bytes(a['broadcast_bytes'])} |")
    def _row(op, factor):
        return results[op][factor]

    ivfpq_rows = _row("ivfpq_search (IVFADC)", 100)[2]["shuffle_records"]
    pq_rows = _row("pq codebook+encode+search", 100)[2]["shuffle_records"]
    ivfpq_b = _row("ivfpq_search (IVFADC)", 100)[2]["shuffle_bytes"]
    ivf_b = _row("ivf index build+search", 100)[2]["shuffle_bytes"]
    ivf_rows = _row("ivf index build+search", 100)[2]["shuffle_records"]
    w1 = _row("ivfpq_search (IVFADC)", 1)[1]
    w100 = _row("ivfpq_search (IVFADC)", 100)[1]
    lines += [
        "",
        "## Reading (measured, ×100 column unless noted)",
        "",
        f"- **No super-linear term**: IVFADC wall time grows "
        f"{w100 / w1:.1f}× for 100× the corpus ({w1}s → {w100}s) — "
        "fixed stage/JVM overhead dominates at toy scale and amortizes; "
        "the per-row trend is the one that must hold at 100 TB.",
        f"- **The IVF lever, visible in data**: IVFADC's final job "
        f"shuffles {ivfpq_rows:,} rows where flat PQ's full ADC scan "
        f"shuffles {pq_rows:,} — ~{pq_rows / ivfpq_rows:.0f}× fewer, "
        "from probing n_probe/n_cells of the cells.  Flat `pq_search` "
        "is the exact-ADC oracle baseline; its corpus×queries scan "
        "growth is exactly why the production tier is IVFPQ.",
        f"- **The PQ lever, visible in data**: IVFADC shuffles "
        f"~{ivfpq_b / ivfpq_rows:.0f} B per candidate row (integer "
        f"codes) vs ~{ivf_b / ivf_rows:.0f} B for the uncompressed IVF "
        "index search (raw 64-d vectors of probed candidates) — the "
        "bytes-per-candidate ÷ dim·4/m compression claim, measured.",
        "- **Cells grow with rows** (table above), keeping per-cell "
        "matmul/scan work bounded — the `_resolve_n_cells` rule, unit-"
        "tested in tests/test_corpus_ops.py.",
        "- Broadcast sides stay MB-scale (centroids/codebook/LUTs + "
        "AQE-chosen small join sides), never corpus-proportional.",
        "- Sealed corpus passes (assignment/encode) run as separate "
        "jobs: included in wall time, not in the final-job shuffle "
        "column (their per-stage shapes are audited in SHUFFLES.md).",
        "",
        "## Dedup tier",
        "",
        "Same two decades over documents/embeddings, with per-replica "
        "perturbation so duplicate DENSITY stays ~constant as rows grow "
        "(exact replication would instead measure a 99%-duplicate "
        "corpus — quadratic candidate blowup by construction; see "
        "`replicate_docs`).",
        "",
        "| scale | docs |",
        "|---|---|",
    ]
    for factor in SCALES:
        lines.append(f"| ×{factor} | {dedup_meta[factor]:,} |")
    lines += [
        "",
        "| operator | scale | wall s | out rows | final-job shuffle | "
        "shuffle rows |",
        "|---|---|---|---|---|---|",
    ]
    for op, per in dedup_results.items():
        for factor in SCALES:
            rows, wall, a = per[factor]
            lines.append(
                f"| {op} | ×{factor} | {wall} | {rows:,} | "
                f"{fmt_bytes(a['shuffle_bytes'])} | "
                f"{a['shuffle_records']:,} |")
    mh1 = dedup_results["minhash_lsh_pairs"][1]
    mh100 = dedup_results["minhash_lsh_pairs"][100]
    lines += [
        "",
        f"- **MinHash-LSH is banded, not all-pairs**: wall grows "
        f"{mh100[1] / mh1[1]:.1f}× for 100× the docs "
        f"({mh1[1]}s → {mh100[1]}s) — signature computation is one "
        "linear pass and the candidate join only meets rows sharing a "
        "(band, hash) bucket; an all-pairs design would have grown "
        "~10,000×.",
        "- **Connected components converge on dup-cluster diameter**: "
        "min-label propagation over the candidate graph adds rounds "
        "proportional to chain depth (constant here), each sealed so "
        "round N+1 never replays rounds 1..N.",
        "- **SemDeDup cell-shards**: auto n_cells growth keeps per-cell "
        "matmul blocks bounded; the one shuffle is keyed on "
        "(cell, msub, psub) with the 2-D hot-cell split capping both "
        "sides of every block.  Out rows = duplicates found (the "
        "perturbed corpus has essentially none by construction — the "
        "probe measures the scan cost, not the dup yield).",
        "- connected_components seals every propagation round "
        "(localCheckpoint), so the FINAL plan reads an ExistingRDD and "
        "the final-job shuffle column reads ~0 by construction — its "
        "real per-round traffic is wall-time-visible only.",
        "",
        "## Clustering tier",
        "",
        f"Integer-exact distributed k-means (k={KM_K}, "
        f"iters={KM_ITERS}) over the same perturbed embeddings.  The "
        "assignment column is the RETURNED plan; the update column is "
        "one measured per-iteration partial-sum aggregation.",
        "",
        "| scale | wall s | assignment exchanges | update shuffle rows "
        "| update shuffle bytes |",
        "|---|---|---|---|---|",
    ]
    for factor in SCALES:
        rows, wall, a = km_results[factor]
        u = km_update[factor]
        lines.append(
            f"| ×{factor} | {wall} | {a['exchanges']} | "
            f"{u['shuffle_records']:,} | {fmt_bytes(u['shuffle_bytes'])} |")
    kw1, kw100 = km_results[1][1], km_results[100][1]
    ku1 = km_update[1]["shuffle_records"]
    ku100 = km_update[100]["shuffle_records"]
    lines += [
        "",
        f"- **Assignment never shuffles**: 0 exchanges in the returned "
        "plan at every scale — centroids enter as broadcast literal "
        "expressions, so query-side cluster assignment is a narrow map "
        "over the corpus (the 100 TB contract, pinned by "
        "tests/test_clustering.py).",
        f"- **Update shuffle is corpus-independent**: "
        f"{ku1:,} → {ku100:,} partial-sum rows across 100× the corpus "
        "— bounded by k·d·partitions (map-side combine), not by rows; "
        "the small growth is the input-split count, not the data.",
        f"- Wall grows {kw100 / kw1:.1f}× for 100× rows "
        f"({kw1}s → {kw100}s): iters+1 linear corpus passes, "
        "O(KB) driver state (k·d ints, the MLlib KMeans shape).",
        "",
        "## Text tier",
        "",
        "The three heaviest text-operator shuffles (dup_ngram_spans "
        "carried the largest final-job exchange of any sf0.1 headline "
        "query — the r5 verdict's one unmeasured scale curve) over the "
        "same perturbed docs.  Replica vocabularies are disjoint, so "
        "span/pair density stays ~constant while rows grow.  tfidf runs "
        "on a 1/10 sub-corpus with max_df_frac scaled 0.8/factor: the "
        "template-heavy synthetic docs yield ~1.3k ≥0.6-cosine pairs "
        "per doc, and replica-disjoint vocabularies would let a fixed "
        "df-fraction cutoff admit ever more stopword-class terms as "
        "the corpus grows — both corpus artifacts, not operator "
        "costs.",
        "",
        "| operator | scale | wall s | out rows | final-job shuffle | "
        "shuffle rows |",
        "|---|---|---|---|---|---|",
    ]
    for op, per in text_results.items():
        for factor in SCALES:
            rows, wall, a = per[factor]
            lines.append(
                f"| {op} | ×{factor} | {wall} | {rows:,} | "
                f"{fmt_bytes(a['shuffle_bytes'])} | "
                f"{a['shuffle_records']:,} |")
    ds1 = text_results["dup_ngram_spans (k=5)"][1]
    ds100 = text_results["dup_ngram_spans (k=5)"][100]
    tc1 = text_results["tfidf_cosine_pairs (1/10 corpus)"][1]
    tc100 = text_results["tfidf_cosine_pairs (1/10 corpus)"][100]
    cp1 = text_results["contrastive_pairs"][1]
    cp100 = text_results["contrastive_pairs"][100]
    lines += [
        "",
        f"- **dup_ngram_spans is wordcount-class**: wall grows "
        f"{ds100[1] / ds1[1]:.1f}× and final-job shuffle "
        f"{ds100[2]['shuffle_bytes'] / max(ds1[2]['shuffle_bytes'], 1):.1f}× "
        f"for 100× the docs ({ds1[1]}s → {ds100[1]}s) — the positional "
        "k-gram exchange is row-multiplying but ~linear in corpus "
        "tokens (one (gram-hash)-keyed semi join + per-doc island "
        "windows); per-doc shuffle rows drift "
        f"{ds100[2]['shuffle_records'] / (100 * ds1[2]['shuffle_records']):.2f}× "
        "across two decades (vowel-free grams are shared across "
        "replicas and pass the ≥2-doc filter — a corpus-construction "
        "residue, not operator superlinearity).",
        f"- **tf-idf cosine stays Σdf², not n²**: wall grows "
        f"{tc100[1] / tc1[1]:.1f}× for 100× the docs "
        f"({tc1[1]}s → {tc100[1]}s) — the inverted-index join only "
        "pairs documents sharing a surviving term, and max_df_frac "
        "caps any term's fan-out; an all-pairs design would have grown "
        "~10,000×.  (The ×100 BYTE column jumps because AQE stops "
        "broadcasting the doc-norm side and the candidate join goes "
        "shuffle-both-sides — a plan-shape shift, visible in the "
        "records column, not quadratic work.)",
        f"- **contrastive_pairs is bucket-keyed**: wall grows "
        f"{cp100[1] / cp1[1]:.1f}× for 100× the docs "
        f"({cp1[1]}s → {cp100[1]}s) — positives are one doc-keyed "
        "self-join, negatives one md5-bucket-keyed join plus two "
        "map-side-combinable MIN_BY fallback aggregations; no cross "
        "join, no RAND(), no skewed window at any scale.",
        "",
        "## Retrieval-index tier (build-once / search-many)",
        "",
        "The bm25_rank row above rebuilds corpus tf/df/dl on every "
        "call — the right shape for ad-hoc use, the wrong one for a "
        "standing query workload (its shuffle grows with corpus "
        "postings matched).  `bm25_index` persisted to parquet once "
        "per corpus snapshot + `bm25_query` per batch is the "
        "production path (the `ivf_index_build`/`search` precedent): "
        "three sequential fixed query batches (replica-0 ids, "
        "doc_id % 13 ∈ {0,1,2}) are served per scale below.",
        "",
        "| scale | index build s (once) | batch walls s | batch out "
        "rows | batch shuffle |",
        "|---|---|---|---|---|",
    ]
    for factor in SCALES:
        walls = ", ".join(str(w) for _, w, _ in ret_batches[factor])
        outs = ", ".join(f"{r:,}" for r, _, _ in ret_batches[factor])
        shf = ", ".join(fmt_bytes(a["shuffle_bytes"])
                        for _, _, a in ret_batches[factor])
        lines.append(
            f"| ×{factor} | {ret_build[factor]} | {walls} | {outs} "
            f"| {shf} |")
    rb1 = ret_batches[1][-1]
    rb100 = ret_batches[100][-1]
    os1 = text_results["bm25_rank (fixed queries)"][1]
    os100 = text_results["bm25_rank (fixed queries)"][100]
    lines += [
        "",
        f"- **Per-batch cost never pays the corpus-stats rebuild**: "
        f"the steady-state batch (third column, last batch) grows "
        f"{rb100[1] / max(rb1[1], 0.01):.1f}× across two decades "
        f"({rb1[1]}s → {rb100[1]}s) where the one-shot bm25_rank grows "
        f"{os100[1] / max(os1[1], 0.01):.1f}× ({os1[1]}s → {os100[1]}s) "
        "— the batch pays tokenize(batch) + one inverted-index join "
        "bounded by Σ df(t) over ITS terms (residual growth is the "
        "postings matched by the fixed vocabulary, partially "
        "suppressed by replica-disjoint vocab — same caveat as the "
        "one-shot row), never a corpus scan.",
        f"- **Build amortizes across every future batch**: "
        f"{ret_build[100]}s once at ×100, vs {os100[1]}s per one-shot "
        "call — a standing workload of B batches pays "
        "build + B·batch instead of B·(build+batch).  At 100 TB the "
        "index table is stored partitioned/bucketed by term hash so a "
        "batch's term lookups prune partitions instead of scanning "
        "the postings table.",
        "- The index is ONE self-contained table (corpus scalars ride "
        "as RLE-constant columns) — `bm25_query` validates they are "
        "single-valued and refuses a mixed-snapshot union "
        "(tests/test_corpus_ops.py).",
        "",
        "## Streaming-decontamination tier (ingest-time, stateless)",
        "",
        "`streaming_decontaminate` flags contaminated documents at "
        "INGEST instead of sweeping the lake afterwards.  Probe set "
        "held fixed (replica-0 doc_id % 11); the document stream "
        "scales ×1/×10/×100 as fixed-size files (~1250 rows each) "
        "drained AvailableNow at 2 files/trigger — micro-batch SIZE "
        "constant, batch COUNT carries the corpus growth.  Wall "
        "includes the once-per-stream setup (probe shingle set + Bloom "
        "bitset build), which inflates the ×1 per-batch figure; the "
        "×10→×100 per-batch trend is the signal.",
        "",
        "| scale | stream rows | batches | total wall s | wall/batch s "
        "| match rows |",
        "|---|---|---|---|---|---|",
    ]
    for factor in SCALES:
        d = sdec[factor]
        lines.append(
            f"| ×{factor} | {dedup_meta[factor]:,} | {d['batches']} "
            f"| {d['wall']} | {d['per_batch']} | {d['rows']:,} |")
    lines += [
        "",
        f"- **Per-batch cost is flat in corpus size**: "
        f"{sdec[10]['per_batch']}s/batch at ×10 vs "
        f"{sdec[100]['per_batch']}s/batch at ×100 "
        f"({sdec[100]['per_batch'] / max(sdec[10]['per_batch'], 1e-9):.2f}×"
        " for 10× the corpus) — the operator is STATELESS: each "
        "micro-batch pays shingle-explode + 7 JVM hash probes against "
        "the broadcast bitset + a confirm join bounded by ~fp·batch "
        "rows, with zero state-store rows and no watermark; nothing "
        "accumulates as the stream gets longer.",
        "- **Total wall is linear in the corpus** (batch count × flat "
        "per-batch cost) — the unavoidable floor for reading every "
        "ingested document once.",
        "- Match rows are CONSTANT across scales by construction: the "
        "probe set is fixed and replica perturbation (vowel "
        "substitution) keeps replica >0 vocabularies disjoint from the "
        "probes, so the probe measures scan/probe cost at constant "
        "match yield.",
        "- Match-stream determinism under ANY micro-batch split is "
        "pinned separately (pytest: multi-batch drain ≡ batch recipe; "
        "the driver gate runs the same invariant at 2 files/trigger).",
        "",
        "## Dataset-management tier (snapshot diff / drift / loops)",
        "",
        "Same perturbed docs decades; old/new snapshots are the "
        "%17-residue splits with %13 texts amended (the gate recipe).",
        "",
        "| operator | scale | wall s | out rows | final-job shuffle "
        "| shuffle rows |",
        "|---|---|---|---|---|---|",
    ]
    for op, per in dm_results.items():
        for factor in SCALES:
            rows, wall, a = per[factor]
            lines.append(
                f"| {op} | ×{factor} | {wall} | {rows:,} "
                f"| {fmt_bytes(a['shuffle_bytes'])} "
                f"| {a['shuffle_records']:,} |")
    cd1 = dm_results["corpus_diff"][1]
    cd100 = dm_results["corpus_diff"][100]
    lines += [
        "",
        f"- **corpus_diff is hash-only and ~flat**: wall grows "
        f"{cd100[1] / max(cd1[1], 0.01):.1f}× for 100× the docs "
        f"({cd1[1]}s → {cd100[1]}s) — md5 is computed per side BELOW "
        "the join (plan-pinned: document text never crosses an "
        "exchange) and at probe scale AQE broadcasts the hash side "
        "outright (final-job shuffle 0 B); on id-bucketed snapshot "
        "tables the exchange disappears at any scale.",
        "- **vocab_drift and ngram_loop_runs scale linearly** (~10× "
        "wall per decade): the cost is the corpus wordcount / gram "
        "construction, the unavoidable read-every-token floor.  Their "
        "rank/lag windows are guarded against the super-linear "
        "failure modes instead — drift's global top-k sorts only "
        "per-partition-pruned candidates (the build_vocab lever) and "
        "loop detection prefilters to stride-linked positions in the "
        "ARRAY domain, so window exchanges stay ~empty on healthy "
        "text.",
        "",
        "## IVF maintenance tier (hot-cell rebalance)",
        "",
        "Appends concentrated in popular regions (a fixed 20% slice of "
        "the base corpus re-appended ×factor with re-keyed ids) blow "
        "past the built 16-cell layout; the probe serves the SAME "
        f"fixed {n_queries}-query batch on the skew-hot index BEFORE "
        f"and AFTER `ivf_index_rebalance(max_cell_rows={REB_MAX_CELL})`"
        ", plus the rebalance's own one-time cost.  The search runs "
        f"with `max_cell_rows={n_queries - 1}`, below the batch, so it "
        "takes the `(cell, msub, psub)` exchange, not the broadcast "
        "serve.",
        "",
        "| scale | rows | hot cells | max-cell trajectory "
        "(per round) | cells before→after | rounds | rebalance s "
        "(total, once) | batch s before→after (n_probe=4) |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for factor in SCALES:
        d = reb[factor]
        lines.append(
            f"| ×{factor} | {d['rows']:,} | {d['hot']} "
            f"| {' → '.join(f'{m:,}' for m in d['track'])} "
            f"| {d['cells_before']} → {d['cells_after']} "
            f"| {d['rounds']} | {d['reb_wall']} "
            f"| {d['w_before']} → {d['w_after']} |")
    r100 = reb[100]
    lines += [
        "",
        f"- **Rebalance restores the per-cell bound**: at ×100 the "
        f"hottest cell goes "
        f"{' → '.join(f'{m:,}' for m in r100['track'])} members "
        f"across {r100['rounds']} rounds (cap {REB_MAX_CELL}).  One "
        "round is NOT guaranteed to land under the cap: sub-centroids "
        "seed from each hot cell's stride-spread members "
        "(deterministic, oracle-exact), which splits by geometry, not "
        "by count — the still-hot residue shrinks geometrically and "
        "re-running (`ivf_index_rebalance_converged`) converges.  "
        "The per-cell bound "
        "is what caps the worst per-task candidate block "
        f"(n_probe·max_cell: {4 * r100['max_before']:,} → "
        f"{4 * r100['max_after']:,} rows) — the straggler-task and "
        "kernel-memory contract the Arrow search kernels rely on.",
        "- **Only hot members move**: cold cells and their rows pass "
        "through verbatim (×1 has no hot cell and the call is a "
        "no-op returning its inputs); driver state per round is one "
        "Σk_c-row seed collect, never the corpus.",
        "- Batch wall at probe scale is fixed-cost-dominated "
        "(centroid collect + broadcast + window per call), so the "
        "before→after wall moves little here; the structural signal "
        "is the bounded per-cell block above.  Recall at fixed "
        "n_probe shifts as cells multiply — production raises "
        "n_probe with n_cells (the FAISS nprobe/nlist tradeoff); "
        "search cost then scales with n_probe·max_cell_rows, which "
        "rebalance is what keeps true under skewed appends.",
        "- **The one-time cost amortizes**: a standing workload of B "
        "batches pays rebalance + B·(bounded batch) instead of "
        "B·(degraded straggler batch) — the bm25_index build-once "
        "argument, applied to index maintenance.",
        "",
        "## Multimodal dedup tier (aHash + banded Hamming pairs)",
        "",
        "Synthetic PPM decades; replica images carry a replica-"
        "specific random spatial texture on top of the gradient so "
        "near-dup structure is WITHIN-replica only — pair density "
        "stays ~constant per replica (linear total), the "
        "`replicate_docs` rule re-derived for images.",
        "",
        "| scale | images | wall s | dup pairs (hamming ≤ 3) | "
        "final-job shuffle | shuffle rows |",
        "|---|---|---|---|---|---|",
    ]
    for factor in SCALES:
        rows, wall, a = ph_results[factor]
        lines.append(
            f"| ×{factor} | {ph_meta[factor]:,} | {wall} | {rows:,} "
            f"| {fmt_bytes(a['shuffle_bytes'])} "
            f"| {a['shuffle_records']:,} |")
    ph1, ph100 = ph_results[1], ph_results[100]
    lines += [
        "",
        f"- **Banded blocking, never all-pairs**: wall grows "
        f"{ph100[1] / max(ph1[1], 0.01):.1f}× for 100× the images "
        f"({ph1[1]}s → {ph100[1]}s) — fingerprinting is one linear "
        "Arrow pass (the binary column never shuffles; what moves is "
        "id + four 16-bit band ints per image) and the candidate join "
        "only meets images sharing a (band, value) bucket; an "
        "all-pairs image comparison would have grown ~10,000×.",
        f"- **Pair yield stays density-proportional**: "
        f"{ph1[0]:,} → {ph100[0]:,} pairs across two decades "
        "(~linear), because the blocking admits only same-bucket "
        "candidates and the Hamming ≤ 3 confirm is exact.",
        "- At web scale the 16-bit band keys saturate before the join "
        "does — the operator docstring names the wider-grid rehash "
        "(16×16 grid → 8 int32 bands) that keeps bucket sizes "
        "bounded; the pigeonhole losslessness bound widens with it.",
        "",
    ]
    lines += [
        "## Audio dedup tier (landmark fingerprints + key-blocked pairs)",
        "",
        "Synthetic WAV decades under a Knuth-hash pseudo-random "
        "tone with per-clip amplitude (the gate's mod-201 sawtooth "
        "has only 201 waveforms per length and replicates into "
        "exact-dup cliques; a wide-period sawtooth has monotonic "
        "energies and zero peaks — both probe artifacts); quant=16 "
        "matches the wider energy range, chance >=4-key collisions "
        "measured 0 in 44,850 random pairs; one exact clone per clip "
        "per replica — pair density ~constant.",
        "",
        "| scale | clips | wall s | dup pairs (≥4 shared keys) | "
        "final-job shuffle | shuffle rows |",
        "|---|---|---|---|---|---|",
    ]
    for factor in SCALES:
        rows, wall, a = au_results[factor]
        lines.append(
            f"| ×{factor} | {au_meta[factor]:,} | {wall} | {rows:,} "
            f"| {fmt_bytes(a['shuffle_bytes'])} "
            f"| {a['shuffle_records']:,} |")
    au1, au100 = au_results[1], au_results[100]
    lines += [
        "",
        f"- **Key-blocked, never all-pairs**: wall grows "
        f"{au100[1] / max(au1[1], 0.01):.1f}× for 100× the clips "
        f"({au1[1]}s → {au100[1]}s) — decode is one linear Arrow pass "
        "(the payload never shuffles; what moves is id + 2 ints + a "
        "bigint per frame), peaks/landmarks are per-clip windows, and "
        "the candidate join only meets clips sharing an (eq1, eq2, dt) "
        "landmark bucket.",
        f"- **Pair yield stays density-proportional**: "
        f"{au1[0]:,} → {au100[0]:,} pairs across two decades — the "
        "per-replica clone structure is recovered at every scale and "
        "cross-replica clips never collide on ≥4 keys.",
        "- Production corpora widen the key space with real spectral "
        "peaks (the same pipeline over wav_spectrogram bins) — the "
        "frame-energy landmark here is the integer-exact reduction "
        "that keeps the oracle replayable.",
        "",
        "## Video alignment tier (per-frame aHash + offset-grouped "
        "pairs)",
        "",
        "Synthetic concatenated-netpbm decades under a Knuth-hash "
        "per-frame texture (synth_video's pure gradient shares one "
        "aHash across every no-wrap same-dims frame — replicas would "
        "collide into a corpus-wide hash clique, a probe artifact); "
        "each replica carries a one-frame-TRIMMED clone per clip — "
        "the structure position-exact video_dup_pairs cannot see.",
        "",
        "| scale | clips | wall s | aligned pairs (>=2 frames @ one "
        "offset) | final-job shuffle | shuffle rows |",
        "|---|---|---|---|---|---|",
    ]
    for factor in SCALES:
        rows, wall, a = vd_results[factor]
        lines.append(
            f"| ×{factor} | {vd_meta[factor]:,} | {wall} | {rows:,} "
            f"| {fmt_bytes(a['shuffle_bytes'])} "
            f"| {a['shuffle_records']:,} |")
    vd1, vd100 = vd_results[1], vd_results[100]
    lines += [
        "",
        f"- **Hash-blocked, never all-pairs**: wall grows "
        f"{vd100[1] / max(vd1[1], 0.01):.1f}× for 100× the clips "
        f"({vd1[1]}s → {vd100[1]}s) — the container walk is one "
        "linear in-place Arrow pass (the payload never shuffles; what "
        "moves is id + frame position + four 16-bit band ints per "
        "frame), the candidate join only meets frames sharing a full "
        "64-bit aHash, and the offset grouping confirms one "
        "consistent Δ per pair.",
        f"- **Alignment recovered at every scale**: "
        f"{vd1[0]:,} → {vd100[0]:,} pairs — every source/trimmed-"
        "clone pair surfaces at offset -1 with nf-1 matched frames; "
        "random single-frame hash collisions scatter across offsets "
        "and never reach min_frames at one Δ.",
        "- Production corpora cap hash-block fanout with "
        "max_ids_per_hash (off here): title cards and black frames "
        "are the video boilerplate — a hash shared by hundreds of "
        "clips is evidence of nothing and is dropped BEFORE the pair "
        "join.",
        "",
        "## Trainable-filter tier (Naive Bayes + OOV monitor)",
        "",
        "Same perturbed docs decades (vocabulary grows ~linearly — "
        "worst case for the model-sized joins).",
        "",
        "| scale | docs | NB train+serve wall s | NB rows | "
        "oov_rate wall s | oov rows |",
        "|---|---|---|---|---|---|",
    ]
    for factor in SCALES:
        nb = tf_results["naive_bayes train+serve"][factor]
        ov = tf_results["oov_rate (500-term vocab)"][factor]
        lines.append(
            f"| ×{factor} | {dedup_meta[factor]:,} | {nb[1]} | "
            f"{nb[0]:,} | {ov[1]} | {ov[0]:,} |")
    nb1 = tf_results["naive_bayes train+serve"][1]
    nb100 = tf_results["naive_bayes train+serve"][100]
    ov1 = tf_results["oov_rate (500-term vocab)"][1]
    ov100 = tf_results["oov_rate (500-term vocab)"][100]
    lines += [
        "",
        f"- **Single-pass training scales like a wordcount**: "
        f"{nb1[1]}s → {nb100[1]}s across two decades "
        f"({nb100[1] / max(nb1[1], 0.01):.1f}× for 100× docs) — no "
        "epochs, no driver loop; the only corpus shuffles are the "
        "(cls, term) count and the serving (doc, term)/(doc, cls) "
        "aggregates, and the class-stats side is k rows.",
        f"- **OOV monitoring is wordcount-bounded too**: {ov1[1]}s → "
        f"{ov100[1]}s ({ov100[1] / max(ov1[1], 0.01):.1f}×); the "
        "vocabulary rides a broadcast anti-join, text never moves.",
        "",
    ]
    # ---- r11 tier: kNN classification (ANN serve path) + integer
    # PageRank — label propagation cost vs corpus decades, and
    # per-sweep graph shuffles vs edge decades
    from dbt_core_spark.operators.graphs import pagerank
    from dbt_core_spark.operators.similarity import knn_classify

    knn_results: dict[int, tuple] = {}
    pr_results: dict[int, tuple] = {}
    pr_meta: dict[int, int] = {}
    for factor in SCALES:
        labeled = spark.read.parquet(replicate(spark, factor))
        corpus_rows = labeled.count()
        n_cells = max(16, -(-corpus_rows // MAX_CELL_ROWS))

        def knn_flow():
            cents, assigns = ivf_index_build(
                labeled, n_cells=n_cells, kmeans_iters=0)
            assigns = assigns.localCheckpoint(eager=False)
            nbrs = ivf_index_search(cents, assigns, queries, k=5,
                                    n_probe=4)
            return knn_classify(labeled, queries, neighbors=nbrs)

        knn_results[factor] = run(knn_flow)
        print(f"  x{factor} knn_classify(ivf): "
              f"{knn_results[factor][1]}s", file=sys.stderr)

        # synthetic fixed-out-degree-2 graph over N = 5000·factor
        # nodes: i → (i·7 mod N), i → (i+1 mod N) — density held
        # constant so the decades measure per-sweep join/agg cost
        n_nodes = 5_000 * factor
        pr_meta[factor] = n_nodes
        base_nodes = spark.range(n_nodes).select(
            F.col("id").cast("bigint").alias("id"))
        edges = base_nodes.selectExpr(
            "id as src", f"(id * 7) % {n_nodes} as dst").union(
            base_nodes.selectExpr(
                "id as src", f"(id + 1) % {n_nodes} as dst")
        ).localCheckpoint(eager=True)
        pr_results[factor] = run_count(
            lambda: pagerank(edges, nodes=base_nodes, iters=3))
        print(f"  x{factor} pagerank(3 sweeps, {2 * n_nodes} edges): "
              f"{pr_results[factor][1]}s", file=sys.stderr)

    lines += [
        "## kNN classification + PageRank tier (r11)",
        "",
        "kNN label propagation through the PERSISTED-IVF serve path "
        "(fixed 40-query batch, corpus decades — the semi-supervised "
        "curation shape: a big labeled corpus classifying a bounded "
        "serving batch), and integer PageRank over a fixed-out-"
        "degree-2 synthetic graph (node decades, density constant).",
        "",
        "| scale | labeled rows | kNN(ivf) wall s | preds | "
        "final-job shuffle | graph nodes | PR wall s (3 sweeps) |",
        "|---|---|---|---|---|---|---|",
    ]
    for factor in SCALES:
        kr, kw, ka = knn_results[factor]
        pr_rows, pw, _pa = pr_results[factor]
        lines.append(
            f"| ×{factor} | {meta[factor][0]:,} | {kw} | {kr:,} "
            f"| {fmt_bytes(ka['shuffle_bytes'])} "
            f"| {pr_meta[factor]:,} | {pw} |")
    k1, k100 = knn_results[1], knn_results[100]
    p1, p100 = pr_results[1], pr_results[100]
    lines += [
        "",
        f"- **Classification cost is query-batch-bounded, not "
        f"corpus-bounded**: wall grows {k100[1] / max(k1[1], 0.01):.1f}× "
        f"for 100× the labeled corpus ({k1[1]}s → {k100[1]}s) — the "
        "corpus-scale work is the one-off index assignment pass "
        "(amortized across batches in production); the per-batch vote "
        "is queries·k rows grouped to queries·labels, unchanged by "
        "corpus growth.",
        f"- **PageRank sweeps scale like three wordcounts**: "
        f"{p1[1]}s → {p100[1]}s ({p100[1] / max(p1[1], 0.01):.1f}× for "
        "100× nodes at constant degree) — each sweep is one src-keyed "
        "equi-join + one dst-keyed partial-aggregated groupBy, sealed "
        "per round; no global sort, nothing quadratic in components.",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SCALING.md"), "w") as f:
        f.write("\n".join(lines))
    print("SCALING.md written", file=sys.stderr)


if __name__ == "__main__":
    main()
