"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent.parent))

import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from tracing import Span, self_times, tail  # noqa: E402

BENCHMARK = HERE.parent.parent / "BENCHMARK.json"


# -- the tail-percentile rule -------------------------------------------------

@pytest.mark.parametrize("n, pct", [(15, 50.0), (20, 50.0), (40, 75.0),
                                    (100, 90.0), (200, 95.0), (1000, 99.0),
                                    (10000, 99.9)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    p, v, count = tail(values)
    assert (p, count) == (pct, n)
    if pct > 50.0:
        assert sum(x > v for x in values) >= 10
        # the next rung up would leave fewer than ten beyond
        higher = [q for q in (99.9, 99.0, 95.0, 90.0, 75.0) if q > pct]
        if higher:
            k = min(higher)
            assert n - math.ceil(round(k * n / 100, 6)) < 10


def test_tail_of_small_sample_is_the_median():
    assert tail([3.0, 1.0, 2.0]) == (50.0, 2.0, 3)


# -- self time -------------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    spans = [Span("job", 0.0, 10.0, None, "r"),
             Span("a", 1.0, 3.0, 0, "r"),
             Span("b", 2.0, 5.0, 0, "r"),      # overlaps a: union 1..5
             Span("c", 7.0, 8.0, 0, "r"),
             Span("c.child", 7.0, 7.5, 3, "r"),
             Span("late", 9.0, 12.0, 0, "r")]   # clipped to the parent
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0 - 1.0)
    assert st[3] == pytest.approx(0.5)
    assert st[1] == pytest.approx(2.0)


# -- seeded generator ------------------------------------------------------------

def test_curation_table_is_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    pa_ = inputs.gen_curation(5, a)
    assert inputs.gen_curation(5, b) == pa_
    inputs.gen_curation(6, c)
    ta = pq.read_table(a / "documents.parquet")
    assert ta.equals(pq.read_table(b / "documents.parquet"))
    assert not ta.equals(pq.read_table(c / "documents.parquet"))
    assert 0.1 < pa_["near_dup_share"] < 0.3


def test_curation_duplicates_copy_originals_only(tmp_path):
    """Every planted cluster is a star around an original: a duplicate's
    closest earlier document is never itself a duplicate."""
    import pyarrow.parquet as pq
    inputs.gen_curation(5, tmp_path)
    texts = pq.read_table(tmp_path / "documents.parquet") \
        .column("text").to_pylist()

    def shingles(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    dups = set()
    for i, t in enumerate(texts):
        s = shingles(t)
        best, best_j = 0.0, None
        for j in range(i):
            o = shingles(texts[j])
            jac = len(s & o) / len(s | o) if s | o else 0.0
            if jac > best:
                best, best_j = jac, j
        if best >= 0.5:
            assert best_j not in dups
            dups.add(i)
    assert len(dups) > 20


def test_flagship_shards_share_spectra_under_unseen_headers(tmp_path,
                                                            monkeypatch):
    import pyarrow.parquet as pq
    monkeypatch.setattr(inputs, "FLAGSHIP_DOCS", 3)
    props = inputs.gen_flagship(2, tmp_path)
    shards = [pq.read_table(tmp_path / inputs.shard_file(k)).to_pylist()
              for k in range(inputs.FLAGSHIP_SHARDS)]
    headers = [d["spans"][0]["text"] for sh in shards for d in sh]
    assert len(set(headers)) == len(headers) == props["distinct_headers"]
    for sh in shards[1:]:
        assert [d["spans"][1:] for d in sh] == \
            [d["spans"][1:] for d in shards[0]]


def test_spectra_are_deterministic_per_seed():
    import numpy as np
    h = inputs.bench_header(nsamp=1024)

    def doc(seed):
        return inputs.spectrum_doc(np.random.default_rng([seed, 1, 0]),
                                   "d", h)
    assert doc(1) == doc(1)
    assert doc(1) != doc(2)


def test_stream_schedule_is_deterministic(tmp_path):
    import pyarrow.parquet as pq
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert inputs.gen_stream(3, a, 2) == inputs.gen_stream(3, b, 2)
    assert pq.read_table(a / "strips.parquet").equals(
        pq.read_table(b / "strips.parquet"))


def test_inputs_are_cached_per_seed(tmp_path):
    p1, props1, _, hit1 = inputs.ensure_inputs("curation", 9, 8, tmp_path)
    p2, props2, gen2, hit2 = inputs.ensure_inputs("curation", 9, 8, tmp_path)
    assert (hit1, hit2) == (False, True)
    assert p1 == p2 and props1 == props2 and gen2 == 0.0
    p3, *_ = inputs.ensure_inputs("curation", 10, 8, tmp_path)
    assert p3 != p1


# -- traced run ------------------------------------------------------------------------

def test_traced_run_alternates_passes_abba():
    assert [run.traced_pass(i, True, False) for i in range(8)] == \
        [False, True, True, False] * 2
    assert not any(run.traced_pass(i, False, False) for i in range(8))
    assert run.traced_pass(0, True, True)


# -- workload -> metric mapping -------------------------------------------------------

def test_benchmark_json_matches_the_metric_catalogue():
    spec = json.loads(BENCHMARK.read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == W.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == W.LAYER_UNITS
    assert e2e["setup_s"] == "s"
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


# The layer each workload does most of its work in must be measured there.
HEAVY = {
    "flagship": ["pipeline.scan_project_s", "pipeline.arrow_roundtrip_s",
                 "pipeline.python_data_sent_mb", "kernels.dedisperse_ms",
                 "plan.build_ms", "spans.build_output_ms"],
    "giant_job": ["pipeline.chunks", "pipeline.halo_frac",
                  "pipeline.run_job_s", "pipeline.task_skew",
                  "pipeline.shuffle_write_mb", "io.perdm_write_s",
                  "kernels.decimate_ms"],
    "curation": [f"queries.{q}_s" for q in W.CURATION_QUERIES]
                + [f"queries.{q}_stages" for q in W.CURATION_QUERIES]
                + ["queries.shuffle_mb"],
    "stream": ["streaming.batches", "streaming.trigger_ms_p50",
               "kernels.mask_clip_ms"],
}


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_heavy_layers_are_on_the_workload_path(workload):
    for metric in HEAVY[workload]:
        assert metric in W.LAYER_UNITS
        assert W.not_on_path(workload, metric) is None, metric


def test_not_on_path_prefixes_name_real_metrics():
    for workload, table in W.NOT_ON_PATH.items():
        assert workload in W.WORKLOADS
        for prefix in table:
            assert any(m == prefix or m.startswith(prefix)
                       for m in W.LAYER_UNITS), prefix


# -- hygiene -----------------------------------------------------------------------------

def test_run_dir_is_removed_and_strays_are_reported(tmp_path, monkeypatch):
    checkout = tmp_path / "checkout"
    checkout.mkdir()
    monkeypatch.setattr(harness, "CHECKOUT", checkout)
    monkeypatch.setattr(harness, "SCRATCH", checkout / ".perfbench")
    cwd = Path.cwd()
    try:
        run = harness.RunDir()
        (run.work / "out" / "spans").mkdir(parents=True)
        (run.local / "blockmgr").mkdir()
        assert run.remove() == []
        assert not run.root.exists()

        run = harness.RunDir()
        (checkout / "hs_err_pid1.log").write_text("crash")
        assert run.remove() == ["hs_err_pid1.log"]
    finally:
        import os
        os.chdir(cwd)


def test_heap_is_bounded_by_available_memory():
    assert harness.heap_mb({"MemAvailable": 2000}) == 600
    assert harness.heap_mb({"MemAvailable": 64000}) == harness.HEAP_CAP_MB
