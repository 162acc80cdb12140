"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import datagen  # noqa: E402
import procstat  # noqa: E402
import projects  # noqa: E402
from run import tail  # noqa: E402
from spans import Span, close_span, job_tags, node_coverage, self_times  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    data = str(tmp_path / "data")
    datagen.write_tpch(data, 11, 0.01)
    datagen.write_text(data, 11, 60, 40)
    first = _digest(data)
    for root in ("a", "b"):
        projects.gen_dag_project(str(tmp_path / root), data, 11, 20)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))

    again = str(tmp_path / "again")
    datagen.write_tpch(again, 11, 0.01)
    datagen.write_text(again, 11, 60, 40)
    assert _digest(again) == first

    other = str(tmp_path / "other")
    datagen.write_tpch(other, 12, 0.01)
    assert _digest(other)["orders.parquet"] != first["orders.parquet"]
    projects.gen_dag_project(str(tmp_path / "c"), data, 12, 20)
    assert _digest(str(tmp_path / "c")) != _digest(str(tmp_path / "a"))


def test_view_dag_shape(tmp_path):
    proj = projects.gen_views_project(str(tmp_path / "p"), str(tmp_path),
                                      5, n_models=40)
    layers = {}
    for m in proj.models.values():
        layers.setdefault(m.layer, []).append(m)
    assert sorted(layers) == [0, 1, 2, 3]
    for layer, models in layers.items():
        for m in models:
            if layer:
                assert 1 <= len(m.parents) <= 3
                assert all(proj.models[p].layer == layer - 1 for p in m.parents)
    assert all(m.materialized == "view" for m in layers[3])
    assert proj.checks and all(n.startswith("mart_") for n in proj.checks)


def test_self_time_is_duration_minus_direct_children():
    spans = [Span("node", 0.0, node="m"), Span("materializations", 1.0, parent=0),
             Span("relations", 1.5, parent=1), Span("relations", 3.0, parent=1),
             Span("compiler.compile", 5.0, parent=0)]
    close_span(spans, 2, 2.0)
    close_span(spans, 3, 3.5)
    close_span(spans, 1, 4.0)
    close_span(spans, 4, 6.0)
    close_span(spans, 0, 10.0)
    st = self_times(spans)
    assert st["relations"] == 1.0
    assert st["materializations"] == 3.0 - 1.0
    assert st["compiler.compile"] == 1.0
    assert st["node"] == 10.0 - 3.0 - 1.0
    (wall, covered), = node_coverage(spans).values()
    assert abs(wall - covered) < 1e-12


def test_job_tags_name_node_and_innermost_layer():
    assert job_tags("bench: model.bench.a|materializations|relations") == (
        "model.bench.a", "relations")
    assert job_tags("bench: model.bench.a") == ("model.bench.a", "unattributed")
    assert job_tags("|operators.build") == (None, "operators.build")
    assert job_tags(None) == (None, "unattributed")


def test_corrupted_output_fails_the_check():
    cols = ["k", "g", "v"]
    want = [(1, "a", decimal.Decimal("1.50")), (2, "b", decimal.Decimal("2"))]
    got = [(2, "b", decimal.Decimal("2.00")), (1, "a", decimal.Decimal("1.5"))]
    assert check.rows_match(got, cols, want, cols)[0]
    corrupted = [(2, "b", decimal.Decimal("2.01")), got[1]]
    ok, msg = check.rows_match(corrupted, cols, want, cols)
    assert not ok and "differ" in msg
    assert not check.rows_match(got[:1], cols, want, cols)[0]
    assert not check.rows_match(got, ["k", "g", "w"], want, cols)[0]


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(1, 101))) == (90, 90)
    assert tail(list(range(1, 16))) == (100, 15)
    assert tail([float(i) for i in range(40)])[0] == 75


def test_unstolen_takes_out_the_stolen_share_of_wall_time():
    # 8 CPU seconds ran, 2 more were runnable but stolen: 4/5 of the wall
    assert procstat.unstolen(10.0, 8.0, 2.0) == 8.0
    assert procstat.unstolen(10.0, 8.0, 0.0) == 10.0
    assert procstat.unstolen(3.0, 0.0, 0.0) == 3.0
