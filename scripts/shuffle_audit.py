"""Measured shuffle audit — SHUFFLES.md generator.

"Minimize shuffles" is the core 100 TB design rule; this script turns
it from a claim into a measurement.  For every headline query it runs
the query at $SPARK_GRAFT_SF_DIR and walks the EXECUTED (post-AQE)
plan, summing the real SQLMetrics on every shuffle / broadcast
exchange: records written, bytes written, and broadcast dataSize.
A query whose shuffles carry only group rows / 16-byte keys shows up
as a few KB against MBs of scanned parquet — the direct evidence that
partial aggregation, hash-before-shuffle, and broadcast joins are
doing their jobs.

Usage: PYTHONPATH=/root/repo python3 scripts/shuffle_audit.py
Writes SHUFFLES.md at the repo root.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import HEADLINE
from dbt_core_spark.session import get_spark


from dbt_core_spark.audit import exchange_stats


def fmt_bytes(n: int) -> str:
    if n >= 1 << 20:
        return f"{n / (1 << 20):.1f} MB"
    if n >= 1 << 10:
        return f"{n / (1 << 10):.1f} KB"
    return f"{n} B"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(extra_conf={"spark.sql.warehouse.dir": "/tmp/shuffle_wh"})
    qs = entrymod.queries()
    rows = []
    for name in HEADLINE:
        if name.startswith("engine_") or name.startswith("streaming_"):
            # materialization/streaming queries run side-effecting jobs
            # whose final frame is a table read — the audit would see
            # only the read; skip (their plans are in PLANS.md)
            continue
        df = qs[name](spark, sf_dir)
        # collect() (not count()) so the audited queryExecution is the
        # one that actually ran — count() plans and executes a separate
        # aggregate whose metrics would stay at zero here
        n = len(df.collect())
        a = exchange_stats(df)
        rows.append((name, n, a))
        print(name, n, a, file=sys.stderr)

    lines = [
        "# SHUFFLES — measured exchange traffic (post-AQE executed plans,",
        f"sf={os.path.basename(sf_dir.rstrip('/'))}, local[32])",
        "",
        "Real SQLMetrics summed over every shuffle/broadcast exchange in",
        "each headline query's EXECUTED plan (scripts/shuffle_audit.py).",
        "Shuffle bytes are what actually crossed the exchange — the",
        "number that becomes network traffic on a 1000-executor cluster.",
        "Small shuffle bytes against corpus-sized inputs = partial",
        "aggregation / hash-before-shuffle / broadcast joins working.",
        "",
        "| query | output rows | shuffles | shuffle records | shuffle bytes | broadcasts | broadcast bytes |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, n, a in rows:
        lines.append(
            f"| {name} | {n} | {a['exchanges']} | {a['shuffle_records']} "
            f"| {fmt_bytes(a['shuffle_bytes'])} | {a['broadcasts']} "
            f"| {fmt_bytes(a['broadcast_bytes'])} |"
        )
    lines += [
        "",
        "Notes:",
        "- engine_*/streaming_* headline rows are omitted: they are",
        "  side-effecting materialization jobs whose returned frame is a",
        "  post-hoc table read; their plans are captured in PLANS.md.",
        "- mapInPandas stages (ANN/multimodal kernels) exchange Arrow",
        "  batches worker-side; the table reflects only JVM exchanges —",
        "  kernel memory bounds are documented per operator.",
        "- operators that SEAL multi-branch stages (localCheckpoint —",
        "  minhash, cc_dedup, tfidf, dup spans, bigram LM, ...) run the",
        "  sealed prefix as its own job; its exchanges are not in the",
        "  final plan's metrics, so those rows UNDERSTATE total traffic",
        "  by the (already-audited-in-PLANS.md) index-build stage.",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SHUFFLES.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"SHUFFLES.md written ({len(rows)} queries)")


if __name__ == "__main__":
    main()
