"""The benchmark's own tests: its arithmetic and its manifest, no Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check_manifest  # noqa: E402
import gen  # noqa: E402
from stats import count_failures, self_times, tail  # noqa: E402
from spans import TAG, assign_jobs, stage_totals  # noqa: E402
from workloads import _chunk_of  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    v, p, n = tail(xs)
    assert (v, p, n) == (90.0, 90.0, 100)
    assert sum(x > v for x in xs) == 10


def test_tail_order_free_and_small_samples():
    xs = list(np.random.default_rng(0).permutation(20).astype(float))
    v, p, n = tail(xs)
    assert (v, p, n) == (9.0, 50.0, 20)
    assert tail([1.0] * 10) == (None, None, 10)
    assert tail([3.0] * 10 + [1.0]) == (1.0, 100.0 / 11, 11)


def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),  # overlaps child 1: union 1..6
        _span(3, 8.0, 12.0, 0),  # clipped to the parent: 8..10
        _span(4, 1.5, 2.0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_failures_count_raises_and_wrong_results():
    ops = [
        {"name": "a", "ok": True},
        {"name": "a", "ok": False},
        {"name": "b", "ok": True},
        {"name": "b", "ok": True},
        {"name": "c", "ok": True},
    ]
    assert count_failures(ops, set()) == (5, 1)
    assert count_failures(ops, {"b"}) == (5, 3)
    assert count_failures(ops, {"a"}) == (5, 2)


def test_jobs_go_to_the_span_that_tagged_them():
    jobs = [
        {"jobId": 5, "description": f"{TAG}1"},
        {"jobId": 6, "description": f"{TAG}2"},
        # submitted under span 1 but listed after span 2's job, as when
        # its start event reached the status store late
        {"jobId": 7, "description": f"{TAG}1"},
        {"jobId": 8, "description": "batch = 0", "jobGroup": "run-a"},
        {"jobId": 9, "jobGroup": "run-b"},  # a query nobody registered
        {"jobId": 10},  # submitted outside any span
        {"jobId": 11, "description": f"{TAG}x"},
    ]
    assert assign_jobs(jobs, {"run-a": 3}) == {
        1: [5, 7], 2: [6], 3: [8], -1: [9, 10, 11],
    }


def test_stage_totals_skip_other_and_incomplete_stages():
    stages = [
        {"stageId": 1, "status": "COMPLETE", "executorRunTime": 1500,
         "executorCpuTime": 2_000_000_000, "numCompleteTasks": 4},
        {"stageId": 2, "status": "SKIPPED", "executorRunTime": 0},
        {"stageId": 3, "status": "COMPLETE", "executorRunTime": 500,
         "numCompleteTasks": 1},
    ]
    t = stage_totals(stages, {1, 2})
    assert t["stages"] == 1
    assert t["executorRunTime"] == pytest.approx(1.5)
    assert t["executorCpuTime"] == pytest.approx(2.0)
    assert t["numCompleteTasks"] == 4


class _Workload:
    """The part of a workload that ``layer_metrics`` reads."""

    trigger_s = 0.5

    def __init__(self, streaming):
        self.streaming = streaming

    def state_sizes(self):
        return 3, 2**20, 2**21


def _traced_pass(streaming):
    """Spans, jobs and stages of a one-op traced pass: one job and one
    stage per span, each span 1 s long."""
    if streaming:
        tree = [("op", None), ("streaming.ingest", 0), ("streaming.readout", 0),
                ("plans.build", 2), ("operators.action", 2)]
    else:
        tree = [("op", None), ("plans.build", 0), ("operators.action", 0)]
    tree.append(("sources.load_table", None))
    spans = [{"id": i, "name": n, "parent": p, "op": 0, "start": float(i),
              "end": float(i) + 1.0} for i, (n, p) in enumerate(tree)]
    spans[0]["end"] = float(len(tree))
    jobs = [{"jobId": i, "stageIds": [i], "description": f"{TAG}{i}"}
            for i in range(1, len(tree))]
    stages = [{"stageId": i, "status": "COMPLETE", "executorRunTime": 1000,
               "numCompleteTasks": 2} for i in range(1, len(tree))]
    return spans, jobs, stages


@pytest.mark.parametrize("streaming", [False, True])
def test_layer_metrics_are_numbers_on_every_workload(streaming):
    import run

    spans, jobs, stages = _traced_pass(streaming)
    m = run.layer_metrics(_Workload(streaming), spans, {}, stages, jobs, 4)
    own = set(run.PER_LAYER) - {
        "session.start_s", "session.warmup_s", "session.peak_rss_mb",
        "trace.overhead_frac"}
    assert own <= set(m)
    for k in own:
        assert run._is_number(m[k]), k
    assert m["sources.load_table_jobs"] == 1
    assert m["plans.build_jobs"] == 1
    assert m["untagged_jobs"] == 0
    if streaming:
        # the readout counts the build and action spans nested in it,
        # and the busy wall is the ingest and readout spans only
        assert m["streaming.readout_jobs"] == 3
        assert m["streaming.state_files"] == 3
        assert m["operators.core_idle_frac"] == pytest.approx(1 - 4.0 / (2.0 * 4))
    else:
        assert m["streaming.readout_jobs"] == 0
        assert m["streaming.ingest_s"] == 0.0
        assert m["operators.core_idle_frac"] == pytest.approx(1 - 1.0 / (1.0 * 4))


def test_chunks_depend_on_seed_and_cover_every_event():
    ids = np.arange(10_000, dtype=np.int64)
    a, b = _chunk_of(ids, 1, 6), _chunk_of(ids, 2, 6)
    assert np.array_equal(a, _chunk_of(ids, 1, 6))
    assert not np.array_equal(a, b)
    assert set(a) == set(range(6))
    assert np.bincount(a).min() > 1_400


def test_generated_tables_are_deterministic():
    t1, t2 = gen.make_tables(0.001), gen.make_tables(0.001)
    assert list(t1) == list(gen.TABLES)
    for name in gen.TABLES:
        assert t1[name].equals(t2[name]), name
    li = t1["lineitem"]
    assert li["l_orderkey"].isin(t1["orders"]["o_orderkey"]).all()
    assert (t1["documents"]["text"].str.endswith(" dup")).any()


def _manifest():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_manifest_is_valid_and_matches_runner():
    m = _manifest()
    root = os.path.dirname(HERE)
    assert check_manifest.problems(m, root) == []
    assert check_manifest.matches_runner(m) == []


@pytest.mark.parametrize(
    "edit",
    [
        lambda m: m["workloads"].pop(),  # 1 workload
        lambda m: m["end_to_end"][0].update(name="bad name"),
        lambda m: m["end_to_end"][1].update(bound=0.3),
        lambda m: m["per_layer"].append(dict(m["per_layer"][0])),  # duplicate
        lambda m: m.update(run_seconds=61),
        lambda m: m["command"].append("../x"),
        lambda m: m["command"].append("tools/check_oracle.py"),
        lambda m: m.pop("paths"),
    ],
)
def test_manifest_check_rejects(edit):
    m = copy.deepcopy(_manifest())
    edit(m)
    assert check_manifest.problems(m, os.path.dirname(HERE))
