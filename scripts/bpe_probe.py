"""BPE-trainer scaling probe: batched vs sequential merge scheduling
across the ×1/×10/×100 perturbed-docs decades (the scale_probe
replicate_docs corpus — within-replica vocabulary structure preserved,
cross-replica text diverges, so the vocabulary grows ~linearly).

The observable is SCHEDULING COST: the sequential trainer
(``batch_size=1``) runs one vocabulary-scale pair-count scan per merge
(a 32k-merge production tokenizer = ~32k sequential jobs); the batched
trainer certifies up to B merges per pair-count scan with the
exact-prefix rule (corpus.py: bpe_train_batched — merge-for-merge
identical, pytest-pinned) and runs n_merges/B̄ scans, B̄
corpus-dependent.

Usage: PYTHONPATH=/root/repo python3 scripts/bpe_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_core_spark.operators.corpus import bpe_train_batched_stats  # noqa: E402
from dbt_core_spark.session import get_spark  # noqa: E402

N_MERGES = 32
BATCH = 8
SCALES = (1, 10, 100)


def main() -> None:
    from scale_probe import replicate_docs  # same decade generator

    spark = get_spark(
        app_name="bpe_probe",
        extra_conf={"spark.sql.warehouse.dir": "/tmp/bpe_probe_wh"},
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    for factor in SCALES:
        docs = spark.read.parquet(replicate_docs(spark, factor))
        n = docs.count()
        t0 = time.time()
        seq, seq_scans = bpe_train_batched_stats(
            docs, n_merges=N_MERGES, batch_size=1)
        t_seq = time.time() - t0
        t0 = time.time()
        merges, scans = bpe_train_batched_stats(
            docs, n_merges=N_MERGES, batch_size=BATCH)
        t_bat = time.time() - t0
        assert merges == seq, f"x{factor}: batched != sequential"
        print(
            f"x{factor}: docs={n} seq_scans={seq_scans} seq_wall={t_seq:.2f}s"
            f" batched_scans={scans} batched_wall={t_bat:.2f}s"
            f" avg_batch={len(merges) / scans:.2f} equal=True"
        )


if __name__ == "__main__":
    main()
