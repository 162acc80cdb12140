from dbt_core_spark.session import get_spark
import __spark_entry__ as e

spark = get_spark(extra_conf={"spark.sql.warehouse.dir": "/tmp/plans_wh"})
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.1"

def fmt(df):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

PICKS = {
    "q6_forecast_revenue": (
        "TPC-H Q6 — pure pushdown: all three predicates and the 4-column "
        "projection reach the parquet scan; two-phase HashAggregate."),
    "q5_local_supplier_volume": (
        "TPC-H Q5 — five dimension joins, all BroadcastHashJoin; the "
        "region filter evaluates at the region scan."),
    "q21_waiting_suppliers": (
        "TPC-H Q21 — double-correlated EXISTS/NOT-EXISTS decorrelated to "
        "LeftSemi/LeftAnti hash joins (no per-row subqueries)."),
    "window_top3_orders_per_customer": (
        "Window top-k — WindowGroupLimit performs partial top-k BEFORE "
        "the exchange, so the shuffle carries at most k rows per group "
        "per partition."),
    "q1_pricing_summary": (
        "TPC-H Q1 — shipdate filter + column pruning at the scan, "
        "map-side partial aggregation (two HashAggregate phases)."),
    "gopher_repetition_docs": (
        "Gopher repetition filters — word stats are shuffle-free HOFs; "
        "the top-bigram argmax is max(struct(count,bigram)) with "
        "map-side partial aggregation, NO sort window anywhere."),
    "source_cap_docs": (
        "Per-source caps — rank<=cap plans as WindowGroupLimit: partial "
        "top-k before the exchange, so the shuffle carries at most cap "
        "rows per source per input partition."),
    "decontaminate_docs": (
        "Benchmark decontamination — the distinct probe shingle set is "
        "broadcast (BroadcastHashJoin): one pass over the corpus "
        "shingles, no shuffle of the corpus side, no pairwise work."),
    "boilerplate_ngram_docs": (
        "Cross-doc boilerplate — within-doc dedup in the array "
        "(array_distinct) so corpus frequency is ONE wordcount-shaped "
        "shuffle with partial aggregation; membership is a semi-join."),
    "tfidf_top_terms_docs": (
        "TF-IDF top terms — one corpus-scale wordcount shuffle (partial "
        "agg); df/N sides are vocabulary/scalar-sized broadcasts; the "
        "per-doc top-k plans as WindowGroupLimit."),
    "stratified_sample_docs": (
        "Stratified sampling — per-row md5 keep-threshold under a "
        "broadcast of the tiny per-group counts: no window and no "
        "corpus-keyed exchange at any scale."),
    "hll_distinct_events": (
        "Deterministic HLL — (group, bucket) register max with map-side "
        "partial aggregation: raw rows never shuffle, only m registers "
        "per group."),
    "minhash_lsh_docs": (
        "MinHash+LSH — aggregate-form signatures (map-side partial agg "
        "over shingles), banded 16-byte-key candidate join, and a "
        "signature-agreement prefilter (round-3) that drops candidate "
        "pairs below threshold-eps BEFORE the exact-Jaccard verify join "
        "carries full shingle arrays."),
    "build_vocab_docs": (
        "Vocabulary build — round-3 fix: a per-partition top-K prefilter "
        "(Window over spark_partition_id) bounds the single-partition "
        "global ranking window to <= P*vocab_size rows instead of every "
        "distinct term in the corpus."),
    "ann_ivf_blas_topk_embeddings": (
        "IVF ANN with per-cell BLAS — sample-fit Lloyd centroids; the "
        "assignment pass is SEALED (localCheckpoint → Scan ExistingRDD, "
        "no MapInPandas in the final plan: it executes once, not once "
        "per branch — the r3 3x recompute); hot cells 2-D block on "
        "(msub, psub) so both sides of every pandas frame stay "
        "~max_cell_rows (hash-balanced expectation); in-kernel matmuls chunk to a 128 MB "
        "budget."),
    "ann_ivf_index_query_embeddings": (
        "Build-once/search-many IVF — the search plan touches NO corpus "
        "scan: the sealed index assignments and the sealed batch-probe "
        "pass both read as Scan ExistingRDD; scoring joins only the "
        "probed cells (2-D blocked), then the tiny global merge "
        "window."),
    "semantic_dedup_incremental_embeddings": (
        "Ingest-flow SemDeDup — batch-vs-corpus only: one Arrow "
        "assignment pass over the BATCH (sealed), equi-join against the "
        "indexed corpus cells, min-struct keeper aggregate; never a "
        "batch or corpus self-join."),
    "quantize_embeddings_int8": (
        "Int8 scalar quantization — pure JVM higher-order functions "
        "(transform/aggregate), no Python worker; output exploded to "
        "(vec_id, pos, qval) so arrays never reach a driver "
        "canonicalizer."),
    "bloom_membership_docs": (
        "Bloom membership — corpus reduced to <= m_bits set-bit rows, "
        "broadcast to the probe side; per-probe distinct-position count "
        "(round-3 fix) keeps colliding hash positions from producing "
        "false negatives."),
    "line_dedup_docs": (
        "CCNet line-level boilerplate removal — per-line distinct-doc "
        "counts (wordcount-shaped partial agg), anti-join membership, "
        "per-doc in-order rebuild via array_sort(collect_list) — no "
        "sort window, nothing quadratic."),
    "ngram_lm_docs": (
        "Corpus-trained bigram LM — doc bigrams from an array slide "
        "(pure HOF, no positional self-join); unigram/bigram count "
        "tables are wordcount shuffles; scoring joins per-doc bigram "
        "types against vocabulary-sized sides; exact integer micro-nat "
        "sums."),
    "semantic_dedup_embeddings": (
        "SemDeDup — centroid assignment is one broadcast pass with a "
        "min-struct argmin; the quadratic step is an equi-join on the "
        "cell key (bounded by cell size), never corpus-cartesian."),
    "epoch_shuffle_docs": (
        "Deterministic epoch shuffle — a single hash-partitioned "
        "exchange and a per-shard row_number; NO range partitioning "
        "(global sort) anywhere."),
    "mixture_sample_docs": (
        "Source-mixture downsampling — per-row integer hash compare "
        "under broadcasts of the tiny counts/weights/budget sides; the "
        "corpus path has no window and no sort-merge join."),
    "tokenize_docs": (
        "Vocabulary tokenization — posexplode + ONE join against the "
        "broadcast vocabulary (itself built with the per-partition "
        "top-V prefilter); OOV coalesce is a row expression."),
    "pool_embeddings_by_label": (
        "Embedding mean-pooling — posexplode then one (group, pos) "
        "aggregate with map-side partial agg over exact decimals; no "
        "arrays through the exchange."),
    "dup_span_docs": (
        "Substring-level duplicate spans — positional k-grams from the "
        "shifted-slice HOF (no self-join), md5 BEFORE the shuffle so "
        "the distinct-doc count carries 16-byte keys, left-semi "
        "membership, island merge in per-document windows (bounded by "
        "doc length, never cross-document)."),
    "dsir_score_docs": (
        "DSIR importance scores — the target corpus reduces to a "
        "dim-row broadcast histogram; ONE raw-corpus pass (sealed "
        "per-doc bucket counts feed both the raw histogram and the "
        "scoring join); scoring is a broadcast join + per-doc sum of "
        "exact integer micro-nats."),
    "range_join_events": (
        "Bucketed range join — intervals explode to overlapped time "
        "buckets, points land in exactly one; the plan is a plain "
        "shuffle join on the bucket key (NO BroadcastNestedLoopJoin / "
        "CartesianProduct, which is what a naive inequality join "
        "compiles to)."),
    "pq_search_embeddings": (
        "PQ/ADC search — the per-query LUT is broadcast "
        "(BroadcastHashJoin on (sub, code)); the corpus side touches "
        "only the integer code table, never raw vectors; e6 bigint "
        "sums make partial-agg order irrelevant."),
    "funnel_events": (
        "Funnel fold — exactly ONE Exchange (the groupBy(user) "
        "collect); the k-step state machine is a row-local aggregate "
        "fold, no k-way self-joins or window cascades."),
    "classifier_score_docs": (
        "Hashed linear classifier — zero Exchange: tokenize + hash + "
        "weight-sum run as one whole-stage-codegen projection per "
        "row."),
    "gram_matrix_embeddings": (
        "Gram matrix — mapInPandas partial d×d accumulators; the only "
        "exchange moves partitions·d² fixed-point rows, independent "
        "of corpus size."),
    "cms_heavy_words": (
        "CMS heavy hitters — sketch build is posexplode + map-side "
        "partial agg bounded by depth·width; the point-query side "
        "broadcasts the 4096-cell sketch."),
    "ivfpq_search_embeddings": (
        "IVFADC — centroids and PQ codebook broadcast; corpus passes "
        "(assignment argmin, residual encode) sealed to one execution "
        "each; query scan joins the integer code table to the "
        "broadcast (query, cell) LUT — raw vectors never rescanned."),
    "tfidf_cosine_pairs_docs": (
        "Sparse tf-idf cosine — inverted-index self-join on term: "
        "only term-sharing docs pair (Σ df² cost, not n²); idf "
        "milli-nat integers keep every accumulation bigint."),
    "curriculum_order_docs": (
        "Curriculum ordering — bucket via broadcast CASE thresholds, "
        "shard via md5; the only exchange feeds the (bucket, shard) "
        "row_number window: corpus/(buckets·shards) per partition, "
        "NO global sort."),
    "count_anomalies_events": (
        "Integer-exact anomalies — one events rollup, then window "
        "stats over the tiny (type, bucket) table; the z-test "
        "compares 128-bit integers, no floats anywhere."),
    "journey_paths_events": (
        "Journey path mining — n−1 leads share ONE user-keyed window "
        "sort; path counts are a wordcount shuffle; the ranking "
        "window sees only the path vocabulary."),
    "lexical_stats_docs": (
        "Lexical diversity — two wordcount-shaped shuffles ((doc, "
        "word) then doc); entropy terms are per-type micro-nat "
        "integers, partial-agg safe."),
    "cohort_retention_events": (
        "Cohort retention — distinct (user, period) rollup sealed "
        "once; shuffles keyed on users and the tiny cohort×offset "
        "grid, never raw events twice."),
    "kmeans_embeddings": (
        "Distributed k-means assignment — centroids are broadcast "
        "literal expressions over the sealed quantized base: the "
        "returned plan has ZERO exchanges (iteration updates shuffle "
        "only k·d·partitions partial sums, off-plan via collect)."),
    "cluster_curation_embeddings": (
        "Cluster-then-curate — both rank branches compile to "
        "WindowGroupLimit (per-map-partition truncation to n per "
        "cluster before the k-keyed exchange); the assignment feeding "
        "them is sealed once."),
    "bm25_rank_docs": (
        "BM25 ranked retrieval — distinct query terms inverted-index-"
        "joined to corpus postings (cost Σ df(t), no queries×corpus "
        "product), integer micro-unit scores summed map-side, per-query "
        "top-k as WindowGroupLimit; the ephemeral index is sealed so "
        "the constants check and the postings join share one "
        "tokenize/tf/idf pass."),
    "decontaminate_bloom_docs": (
        "Bloom-prefiltered decontamination — the probe shingle bitset "
        "ships as a ONE-ROW broadcast frame (crossJoin(broadcast), no "
        "py4j per-element literal conversion, no per-task re-serialize) "
        "referenced once inside a single forall() membership filter "
        "that kills corpus shingles before the confirm join; the join "
        "then sees ~fp·corpus rows, and results stay bit-identical to "
        "exact decontaminate."),
    "hybrid_retrieval_docs": (
        "Composed hybrid retrieval — bm25_index→bm25_query "
        "lexical top-k and dense cosine top-k fused by reciprocal-rank "
        "fusion: a union of two already-top-k-bounded frames, one "
        "(query,doc)-keyed aggregation with map-side partials, and a "
        "WindowGroupLimit — fusion cost is bounded by Σ|rankings|, "
        "never the corpus."),
    "corpus_diff_docs": (
        "Snapshot diff (r9 gate) — content md5 computed per side "
        "BEFORE the full-outer join so only (id, 32-byte hash) rows "
        "reach the exchange, never document text; on id-bucketed "
        "snapshot tables the join co-partitions with no exchange at "
        "all."),
    "vocab_drift_docs": (
        "Vocabulary drift (r9 gate) — two wordcount-class shuffles "
        "with map-side partial aggregation, one vocabulary-sized "
        "full-outer join, and a rank window over VOCABULARY rows "
        "only; the corpus never moves and the KL contributions are "
        "floored micro-nat integers."),
    "ngram_loops_docs": (
        "Degenerate-loop detection (r9 gate) — positional n-grams "
        "from the shifted-slice HOF (no self-join), chain detection "
        "as a per-(doc, phase) lag window bounded by document length, "
        "runs aggregated with one doc-keyed groupBy; zero joins "
        "anywhere."),
    "decontaminate_cut_docs": (
        "Span-level decontamination (r9 gate) — corpus positional "
        "grams are the shared sealed 16-byte-key pass; probe "
        "membership is one left-semi join against the distinct probe "
        "shingle hashes; island merge and the positional cut stay in "
        "per-document windows / doc-keyed aggregates."),
    "perceptron_ovr_language_docs": (
        "Jointly-trained one-vs-rest perceptrons (r9 gate) — the "
        "SERVE plan: hashed-count features broadcast-join k·(dim+1) "
        "weight rows, per-(id, cls) integer sums with map-side "
        "partials, argmax via one min-struct aggregate — no window, "
        "no per-class pass."),
    "multimodal_phash_dedup_docs": (
        "Multimodal near-dup pairs — fingerprinting is "
        "one Arrow mapInPandas pass (project-only: the binary payload "
        "never reaches an exchange); candidates are an equi-join on "
        "the exploded (band, value) key — never a cartesian — and the "
        "exact Hamming confirm is integer XOR/popcount on the carried "
        "band columns."),
    "naive_bayes_language_docs": (
        "Naive Bayes train+serve — training is ONE "
        "(cls, term) wordcount shuffle with map-side partial agg; "
        "serving joins token counts to the sparse weights on term and "
        "broadcasts the k-row class stats (BroadcastNestedLoopJoin on "
        "the deliberate doc×class expansion); text never crosses an "
        "exchange."),
    "audio_fingerprint_dedup_docs": (
        "Audio near-dup pairs — decode is one Arrow pass "
        "emitting int64 frame energies (binary payload never reaches "
        "an exchange); peaks/landmarks are per-clip windows + a "
        "peaks×fanout self-join; candidates are an equi-join on the "
        "(eq1, eq2, dt) landmark key — never a cartesian."),
    "oov_rate_docs": (
        "OOV-rate monitor — token counts are row-local; "
        "the vocabulary anti-joins as a BROADCAST, and the only "
        "corpus-keyed exchange is the per-doc OOV aggregate (id rows, "
        "never text)."),
    "retrieval_eval_docs": (
        "Retrieval evaluation — downstream of the BM25 "
        "ranking everything is queries×k-scale: qrels equi-join, "
        "per-query aggregate, broadcast k-row discount table for "
        "IDCG; discounts floored per term so DCG sums are exact "
        "bigints."),
    "credit_card_detect_docs": (
        "Luhn-validated card PII — zero-shuffle row-local "
        "map: regexp_extract_all candidates + the checksum fold all "
        "inside WholeStageCodegen; no exchange anywhere."),
    "bm25_index_delete_docs": (
        "BM25 deletion — one anti-join against the "
        "tombstones, then the vocabulary-sized df/idf re-aggregation; "
        "the corpus tokenize (the dominant build cost) is never "
        "re-paid, and serving is the standard pruned postings join."),
    "ann_ivf_index_delete_embeddings": (
        "IVF deletion — assignments anti-join with "
        "standing centroids: no re-seeding pass, no assignment "
        "shuffle; search probes only surviving cells."),
    "multimodal_video_dedup_docs": (
        "Video near-dup pairs — the container walk is "
        "one Arrow pass (binary payload never reaches an exchange); "
        "candidates equi-join on the exact (frame position, 64-bit "
        "hash) key — never a cartesian."),
    "langid_nb_docs": (
        "Trained char-trigram langid (r11) — grams are linear zip_with "
        "slices (no per-position re-eval); training is ONE (cls, term) "
        "wordcount with partial aggregation; serving joins the "
        "alphabet-bounded model by term (AQE broadcast) and the k-row "
        "class stats by explicit broadcast cross join — corpus text "
        "never moves twice."),
    "bpe_train_docs": (
        "Batched BPE training (r11) — the corpus collapses to the "
        "word-frequency vocabulary once; each scan is one "
        "vocabulary-scale pair aggregate + TakeOrderedAndProject "
        "(top-K collect, driver-bounded), applying up to 8 "
        "provably-exact merges per scan."),
    "minhash_index_delete_docs": (
        "MinHash index deletion — tombstones anti-join "
        "the per-document signature rows (delete ≡ rebuild "
        "bit-identically); the batch match stays a banded candidate "
        "equi-join + exact-Jaccard verify, never corpus×corpus."),
    "ivfpq_index_lifecycle_embeddings": (
        "Persisted-IVFPQ deletion lifecycle — tombstones "
        "anti-join the integer code table; standing centroids + "
        "codebook broadcast; the ADC scan joins codes to the "
        "(query, cell) LUT on (cell, sub, code) — raw vectors never "
        "rescanned at query time."),
    "threshold_select_language_docs": (
        "F1-optimal threshold — the pr_curve pass "
        "(corpus never enters a window; cumulative sums over DISTINCT "
        "thresholds only) closed by one min-struct argmax aggregate "
        "over the curve."),
    "knn_classify_embeddings": (
        "kNN classification — ONE Arrow mapInPandas "
        "matmul search pass; the label join is hash-equi on the id "
        "(AQE broadcast at model scale); the vote window runs over "
        "(query, label) AGGREGATE rows — nothing corpus-scale in the "
        "final exchange."),
    "knn_classify_ivf_embeddings": (
        "ANN-accelerated kNN classification — persisted "
        "IVF index (broadcast centroids, probed-cells-only scoring) "
        "feeds the same aggregate-rows vote; serve cost per query "
        "drops by ~n_cells/n_probe with no corpus pass."),
    "stump_classify_docs": (
        "Decision-stump train+serve — candidate frame is "
        "Σ distinct values (never corpus rows) via one partial-agg "
        "groupBy + per-feature cumulative windows; the per-feature "
        "argmin shrinks to |features| rows before the only global "
        "window; serving is a broadcast nested-loop cross join of the "
        "1-row model with a pure-codegen CASE."),
    "group_split_docs": (
        "Leakage-safe group split — connected components "
        "iterate over the PAIR graph only; the corpus sees one "
        "id-equi left join + a per-row md5 lattice (no Python, no "
        "window, no extra shuffle over assign_splits)."),
    "pagerank_docs": (
        "Integer PageRank — per sweep: one src-keyed "
        "equi-join + one dst-keyed partial-aggregated groupBy + a "
        "left join onto the node set, sealed per round "
        "(localCheckpoint) so sweep N never replays sweeps 1..N-1; "
        "damped sums carried in decimal(38,0)."),
    "strip_html_docs": (
        "HTML→text extraction — pure JVM regexp/replace "
        "chain in one whole-stage-codegen project over the scan: "
        "zero exchanges, zero Python."),
}

out = ["# PLANS — captured physical-plan evidence (sf0.1, local[32])",
       "",
       "Generated by `.explain('formatted')` on the driver-contract",
       "queries; regenerate with `PYTHONPATH=. python3 scripts/gen_plans.py`.",
       "The shapes below are pinned by tests/test_plans.py — a regression",
       "is a test failure, not just a slower run.", ""]
qs = e.queries()
for name, blurb in PICKS.items():
    plan = fmt(qs[name](spark, sf))
    # keep the operator tree + the scan details; drop the (long) codegen ids
    lines = plan.splitlines()
    keep = []
    for ln in lines:
        keep.append(ln.rstrip())
        if len(keep) > 400:
            break
    out.append(f"## {name}")
    out.append("")
    out.append(blurb)
    out.append("")
    out.append("```")
    out.extend(keep)
    out.append("```")
    out.append("")

# ---- streaming-serve INNER plans (r9 verdict, missing #6):
# foreachBatch hides the serving plan from a naive EXPLAIN — the
# _ON_BATCH_RESULT diagnostics hook captures the inner fn's per-batch
# DataFrame plan from an actually-drained micro-batch.
from dbt_core_spark.streaming import structured as _structured

SERVE_PICKS = {
    "streaming_bm25_serve_docs": (
        "Inner per-batch plan of the BM25 serve gate (captured from a "
        "drained micro-batch): the sealed index enters as a standing "
        "relation, the batch tokenize + inverted-index join + "
        "WindowGroupLimit top-k is the one-shot bm25_query plan — "
        "nothing corpus-scale recomputes per batch."),
    "streaming_ann_serve_embeddings": (
        "Inner per-batch plan of the ANN serve gate (captured from a "
        "drained micro-batch): the persisted IVF index serves each "
        "request batch through the probed-cells search — centroid "
        "ranking on the batch side, members join only on probed "
        "cells."),
    "streaming_knn_serve_embeddings": (
        "Inner per-batch plan of the kNN classification serve gate "
        "(captured from a drained micro-batch): the "
        "probed-cells ANN search feeds the (query, label) vote "
        "aggregate + 1-row-per-query window — the label join rides "
        "the standing labeled projection, nothing corpus-scale per "
        "batch."),
}
for name, blurb in SERVE_PICKS.items():
    captured: list[str] = []
    _structured._ON_BATCH_RESULT = (
        lambda result, batch_id: captured.append(fmt(result))
        if not captured else None)
    try:
        qs[name](spark, sf).count()
    finally:
        _structured._ON_BATCH_RESULT = None
    out.append(f"## {name} — inner per-batch serving plan")
    out.append("")
    out.append(blurb)
    out.append("")
    out.append("```")
    if captured:
        out.extend(ln.rstrip() for ln in captured[0].splitlines()[:400])
    else:
        out.append("(no micro-batch drained — empty request stream)")
    out.append("```")
    out.append("")

# the bucketed PRODUCTION serve shape: a persisted partitionBy(bucket)
# index served per batch must keep PartitionFilters pruning INSIDE the
# drained batch plan (the one-shot pin in tests/test_plans.py, proven
# here on the streaming path too)
import tempfile

from dbt_core_spark.operators.textstats import bm25_index, bm25_query
from dbt_core_spark.streaming.structured import (
    stream_serve_foreach_batch,
    stream_source,
)

docs = spark.read.parquet(f"{sf}/documents.parquet")
idx_path = tempfile.mkdtemp(prefix="plans_bm25_bucketed_") + "/idx"
bm25_index(docs, n_buckets=16).write.partitionBy("bucket").parquet(idx_path)
bidx = spark.read.parquet(idx_path)
work = tempfile.mkdtemp(prefix="plans_bm25_serve_")
captured = []
# direct call site → pass the hook as a parameter (the r10-advised
# seam); the module global stays reserved for capturing gates that
# call stream_serve_foreach_batch internally
stream_serve_foreach_batch(
    stream_source(spark, e._docs_stream_path(spark, sf), docs.schema,
                  fmt="parquet",
                  options={"maxFilesPerTrigger": "2"}
                  ).filter("doc_id % 13 = 0"),
    lambda batch: bm25_query(bidx, batch, top_k=5),
    f"{work}/out", f"{work}/ckpt",
    on_batch_result=(
        lambda result, batch_id: captured.append(fmt(result))
        if not captured else None),
)
out.append("## streaming bm25_query over a PERSISTED bucketed index "
           "— inner per-batch serving plan")
out.append("")
out.append(
    "The production serving layout (bm25_index(n_buckets=16) written "
    "partitionBy(bucket)): the drained batch's plan keeps the literal "
    "bucket IN list in the scan's PartitionFilters — file-listing "
    "pruning holds inside foreachBatch exactly as in the one-shot "
    "plan pin (tests/test_plans.py).")
out.append("")
out.append("```")
if captured:
    out.extend(ln.rstrip() for ln in captured[0].splitlines()[:400])
out.append("```")
out.append("")

with open("/root/repo/PLANS.md", "w") as f:
    f.write("\n".join(out))
print("PLANS.md written", sum(len(l) for l in out))
