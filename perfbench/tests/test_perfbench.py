"""Self-tests of the benchmark, at tiny size.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The integration tests run ``perfbench/run.py`` as a subprocess, so they
take a few minutes; they must not run beside another benchmark run.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import serve_ref  # noqa: E402
from perfbench.common import load_spec, percentile  # noqa: E402
from perfbench.ingest_ref import BACKLOG, PAGE, SEED, STEADY_START, Schedule  # noqa: E402
from perfbench.trace import Tracer, check_spans, self_times, union_length  # noqa: E402

SPEC = load_spec(ROOT)
E2E = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}


def run_bench(workload: str, seed: int, seconds: float, trace: int):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    stem = os.path.join(ROOT, "perfbench", "results", f"{workload}-seed{seed}")
    with open(f"{stem}-trace{trace}.json") as fh:
        record = json.load(fh)
    spans = None
    if trace:
        with open(f"{stem}-spans.json") as fh:
            spans = json.load(fh)
    return last, record, spans


# -- units ---------------------------------------------------------------


def test_spec_follows_the_contract():
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert len(SPEC["per_layer"]) <= 128
    assert {w["name"] for w in SPEC["workloads"]} == {"ingest_ref", "analytics_spine"}


def test_tracer_nests_and_self_time_is_never_negative():
    tr = Tracer()
    with tr.span("outer", trace="r1") as outer:
        with tr.span("inner", trace="r1"):
            pass
        tr.add("stage", tr.spans[0]["start"], tr.spans[0]["end"], parent=outer)
    assert check_spans(tr.spans) == []
    assert all(t >= 0 for t in self_times(tr.spans).values())
    inner = next(s for s in tr.spans if s["name"] == "inner")
    assert inner["parent"] == outer


def test_check_spans_reports_a_child_outside_its_parent():
    spans = [
        {"id": "a", "name": "p", "start": 0.0, "end": 1.0, "parent": None, "trace": None},
        {"id": "b", "name": "c", "start": 0.5, "end": 1.5, "parent": "a", "trace": None},
    ]
    assert check_spans(spans)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3)], lo=1, hi=2.5) == 1.5


def test_percentile_is_nearest_rank():
    xs = list(range(1, 21))
    assert percentile(xs, 50) == 10
    assert percentile(xs, 90) == 18
    assert percentile(xs, 100) == 20


def test_schedule_releases_backlog_then_steady_rate():
    s = Schedule(seconds=STEADY_START + 4)
    assert s.available(0.0, None) == SEED
    assert s.available(0.0, 0.0) == SEED + BACKLOG
    assert s.due(SEED + BACKLOG - 1, 0.0) == 0.0
    steady = [s.due(k, 0.0) for k in range(s.first_steady, s.total)]
    assert steady == sorted(steady) and len(steady) == 50
    assert steady[0] == STEADY_START and steady[-1] < STEADY_START + 4
    for t in (0.5, STEADY_START + 1, STEADY_START + 3.5):
        assert s.available(t, 0.0) == SEED + BACKLOG + sum(d <= t for d in steady)
    assert s.available(100.0, 0.0) == s.total


def test_serve_mix_depends_on_the_seed_not_on_the_op_shares():
    def first(seed, n=40):
        gen = serve_ref.mix(seed, 0)
        return [next(gen) for _ in range(n)]

    a, b = first(1), first(2)
    assert a != b
    assert [op for op, _ in a] == [op for op, _ in b]


def test_table_generator_is_seeded():
    from perfbench import datagen

    a, b, c = (datagen.tables(seed, 0.001) for seed in (1, 1, 2))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000


def test_missing_library_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_ref",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


# -- runs at tiny size ----------------------------------------------------


def test_ingest_traced_run_is_well_formed_and_shows_the_tail_defect():
    last, record, spans = run_bench("ingest_ref", 1, STEADY_START + 2, 1)
    assert last["correct"] and last["failed"] == 0
    assert set(last["metrics"]) == PER_LAYER
    assert check_spans(spans) == []
    names = {s["name"] for s in spans}
    assert {"ingest.batch", "spark.stage", "http.range", "service.get_event"} <= names
    assert record["layers"]["ingest.batches"] >= 1
    assert record["layers"]["log.files"] > 0
    # the served DataFrame's file listing is fixed when the server is
    # built, so the tail never sees later appends
    assert record["report"]["tail_delivered_ratio"] == 0.0


def test_spine_stage_run_fits_cores_times_wall():
    last, record, spans = run_bench("analytics_spine", 2, 1, 1)
    assert last["correct"] and last["attempted"] == 20 + 1  # queries, span file
    assert set(last["metrics"]) == PER_LAYER
    assert record["gate"]["stage_budget_violations"] == []
    assert check_spans(spans) == []


@pytest.mark.parametrize("workload,seed", [("ingest_ref", 3), ("analytics_spine", 4)])
def test_untraced_run_prints_every_end_to_end_metric(workload, seed):
    last, record, _ = run_bench(workload, seed, STEADY_START + 2, 0)
    assert last["correct"]
    assert set(last["metrics"]) == E2E
    assert all(m["value"] > 0 for m in last["metrics"].values())
    assert record["facts"]["cores"] == record["facts"]["nproc"]
    # the tail is its own measurement: the slowest backlog batch, or the
    # slowest query
    report = record["report"]
    if workload == "ingest_ref":
        slowest = max(report["batch_s"][: BACKLOG // PAGE])
        assert last["metrics"]["op_tail_s"]["value"] == pytest.approx(slowest, abs=1e-3)
    else:
        slowest = max(report["query_s"].values())
        assert last["metrics"]["op_tail_s"]["value"] == slowest
