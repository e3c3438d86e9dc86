"""The benchmark's own tests, at tiny sizes and without a Spark session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from unittest import mock

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, inputs, run

TINY = {**inputs.LANDING_SHAPE, "n_series": 3, "n_tok": 192, "n_sources": 2,
        "landings": 1, "series_per_landing": 1, "landing_tok": 96}


def _benchmark_json() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_every_emitted_metric_with_its_unit():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_units()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


class FakeWorkload:
    """Stands in for a workload: no Spark, records each pass root."""

    name = "fake"
    roots: list[tuple[str, bool]] = []

    def __init__(self, spark, work, seed):
        self.seed = seed

    def make_inputs(self, k):
        return 0.01, 0.02

    def warm_up(self):
        pass

    def run_pass(self, root, tracer=None):
        FakeWorkload.roots.append((root, os.path.exists(root)))
        os.makedirs(root)
        return {"calls": [("a", 0.5), ("b", 1.5)], "pass_s": 2.0}

    def check(self, res):
        return []

    def instrument(self, tracer):
        pass

    def layer_metrics(self, tracer, root, res, folded):
        return {"spark.jobs": 0}


def _run_fake(capsys, trace: bool) -> dict:
    from perfbench import trace as tr
    from perfbench import workloads

    with mock.patch.dict(workloads.WORKLOADS, {"fake": FakeWorkload}), \
            mock.patch("bench.hardware_probe", return_value=1.0), \
            mock.patch("pyhydroqc_spark.session.get_spark", return_value=mock.MagicMock()), \
            mock.patch.object(tr, "read_event_log", return_value=[]), \
            mock.patch.object(run, "workload_report", return_value={}):
        rc = run.run_workload("fake", seed=3, seconds=0, trace=trace, out_path=None)
    assert rc == 0
    span_file = os.path.join(run.ROOT, ".perfbench", "trace-fake-seed3.json")
    assert os.path.exists(span_file) == trace
    if trace:
        os.remove(span_file)
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [False, True])
def test_every_named_metric_is_emitted_with_its_unit(capsys, trace):
    out = _run_fake(capsys, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] >= 1 and out["failed"] == 0
    want = run.per_layer_units() if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def test_every_timed_run_starts_from_a_fresh_output_root(capsys):
    FakeWorkload.roots = []
    _run_fake(capsys, False)
    _run_fake(capsys, False)
    roots = [r for r, _ in FakeWorkload.roots]
    assert len(roots) == len(set(roots)) == 2
    assert not any(existed for _, existed in FakeWorkload.roots)
    # the run's scratch space is gone once it has reported
    assert not any(os.path.exists(r) for r in roots)


def _tiny_cells(seed: int) -> pd.DataFrame:
    return checks.oracle_cells(inputs.landing_initial(seed, TINY))


def test_a_corrupted_tier_cell_fails_the_check():
    cells = _tiny_cells(1)
    assert checks.compare_cells(cells, cells.copy(), "same") == []
    assert checks.monoid_problems(cells) == []

    bad = cells.copy()
    i = int(np.flatnonzero(bad["cnt"] > 0)[0])
    bad.loc[i, "sum_val"] += 1e-3
    assert checks.compare_cells(bad, cells, "corrupt sum")
    assert checks.monoid_problems(bad)
    assert checks.digest(bad) != checks.digest(cells)

    bad = cells.copy()
    j = int(np.flatnonzero(bad["tier"] == 3600)[0])
    bad.loc[j, "cnt"] += 1
    assert checks.compare_cells(bad, cells, "corrupt cnt")
    assert checks.monoid_problems(bad)

    assert checks.compare_cells(cells.drop(index=i), cells, "missing cell")


def test_a_corrupted_query_row_fails_the_check():
    rows = pd.DataFrame({"doc_id": ["1", "2"], "n": np.array([3, 4], dtype=np.int64),
                         "v": [0.5, 0.25]})
    assert checks.query_problems("q", rows, rows.iloc[::-1].reset_index(drop=True)) == []
    bad = rows.copy()
    bad.loc[1, "v"] = 0.26
    assert checks.query_problems("q", bad, rows)
    assert checks.query_problems("q", rows.iloc[:1], rows)
    assert checks.query_problems("q", rows.astype({"n": np.int32}), rows)


def test_a_different_seed_changes_the_inputs_and_the_digest():
    a, a2, b = (inputs.landing_initial(s, TINY) for s in (1, 1, 2))
    assert a["tokens"].map(tuple).tolist() == a2["tokens"].map(tuple).tolist()
    assert a["tokens"].map(tuple).tolist() != b["tokens"].map(tuple).tolist()
    la, lb = inputs.landing_batches(1, TINY), inputs.landing_batches(2, TINY)
    assert la[0]["tokens"].map(tuple).tolist() != lb[0]["tokens"].map(tuple).tolist()
    assert set(la[0]["doc_id"]).isdisjoint(a["doc_id"])

    qa, qb = inputs.query_tables(1, inputs.QUERY_WARM_SHAPE), inputs.query_tables(2, inputs.QUERY_WARM_SHAPE)
    pd.testing.assert_frame_equal(qa["events"], inputs.query_tables(1, inputs.QUERY_WARM_SHAPE)["events"])
    assert not qa["events"]["value"].equals(qb["events"]["value"])
    assert not qa["documents"]["text"].equals(qb["documents"]["text"])

    assert checks.digest(_tiny_cells(1)) == checks.digest(_tiny_cells(1))
    assert checks.digest(_tiny_cells(1)) != checks.digest(_tiny_cells(2))


def test_orphaned_descendants_are_reaped_before_the_run_ends():
    # in a child interpreter: becoming a subreaper changes the whole process
    script = (
        "import subprocess\n"
        "from perfbench import run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 1 & exit 0'], check=True)\n"
        "assert run.descendants(), 'the orphaned sleep was not adopted'\n"
        "assert run.reap_all(10)\n"
        "assert not run.descendants()\n"
    )
    done = subprocess.run([sys.executable, "-c", script], cwd=run.ROOT,
                          capture_output=True, text=True, timeout=60)
    assert done.returncode == 0, done.stderr


def test_compare_refuses_results_taken_at_different_core_counts(tmp_path):
    def saved(path, cores):
        rec = {"workload": "query_mix", "metrics": {"pass_s": {"value": 1.0, "unit": "s"}},
               "stamp": {"nproc": cores, "cores": cores, "commit": "x", "hw_probe": [1.0]}}
        path.write_text(json.dumps(rec))
        return str(path)

    a, b, c = saved(tmp_path / "a", 4), saved(tmp_path / "b", 4), saved(tmp_path / "c", 32)
    assert run.compare(a, b) == 0
    assert run.compare(a, c) == 2


def test_span_self_time_excludes_children():
    from perfbench.trace import Tracer

    t = Tracer()
    root = t.open("pass", "bench")
    child = t.open("x", "tables")
    t.close(child)
    t.close(root)
    t.spans[root].update(start=0.0, end=10.0)
    t.spans[child].update(start=2.0, end=5.0)
    # two concurrent jobs under the child: the spark layer counts their union
    t.add_job_spans([{"job": 0, "start": 3.0, "end": 4.0, "group": "", "stages": []},
                     {"job": 1, "start": 3.5, "end": 4.5, "group": "", "stages": []}], root)
    st = t.self_times()
    assert st[root] == pytest.approx(7.0)
    assert st[child] == pytest.approx(1.5)
    layers = t.layer_self(root)
    assert layers == pytest.approx({"bench": 7.0, "tables": 1.5, "spark": 1.5})
    assert sum(layers.values()) == pytest.approx(10.0)
