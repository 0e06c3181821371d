"""Tests of the benchmark's own code (no Spark session needed).

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import uploads  # noqa: E402
import workloads  # noqa: E402
from tracing import JobReader, Tracer  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


# -- percentile rule ---------------------------------------------------------
def test_tail_has_ten_samples_beyond():
    values = list(range(100))
    assert stats.tail_latency(values) == (89, 10)
    assert stats.tail_latency(list(reversed(values))) == (89, 10)


def test_tail_at_eleven_samples_is_the_minimum_with_ten_beyond():
    assert stats.tail_latency([float(x) for x in range(11)]) == (0.0, 10)


def test_tail_with_too_few_samples_falls_back_to_the_maximum():
    assert stats.tail_latency([3.0, 1.0, 2.0]) == (3.0, 0)
    assert stats.tail_latency([float(x) for x in range(10)]) == (9.0, 0)
    assert stats.tail_latency([5.0]) == (5.0, 0)
    with pytest.raises(ValueError):
        stats.tail_latency([])


# -- span self time ----------------------------------------------------------
def _span(i, parent, start, end, name="x.y"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, "op": 0}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, "client.op"),
        _span(1, 0, 1.0, 3.0, "queries.builder"),
        _span(2, 0, 2.0, 5.0, "server.request"),  # overlaps span 1
        _span(3, 0, 7.0, 8.0, "spark.exec"),
        _span(4, 3, 7.5, 9.0, "cache.memo_table"),  # runs past its parent's end
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert own[1] == pytest.approx(2.0)
    assert own[3] == pytest.approx(0.5)
    assert own[4] == pytest.approx(1.5)
    by_layer = stats.layer_self_times(spans)
    assert by_layer["client"] == pytest.approx(5.0)
    assert sum(by_layer.values()) == pytest.approx(sum(own.values()))


def test_tracer_nests_spans_and_tags_the_operation():
    tr = Tracer(enabled=True)
    tr.op_id = 7
    with tr.span("client.op") as root:
        tr.op_root = root.id
        with tr.span("queries.builder"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tr.spans] == [
        ("client.op", None, 7),
        ("queries.builder", 0, 7),
    ]
    off = Tracer(enabled=False)
    with off.span("client.op") as sp:
        pass
    assert off.spans == [] and sp.duration() == 0.0


# -- job-id range attribution ------------------------------------------------
class _Opt:
    def __init__(self, value):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return SimpleNamespace(getTime=lambda: self.value)


def _stage(ms, status="COMPLETE"):
    return SimpleNamespace(
        status=lambda: SimpleNamespace(toString=lambda: status),
        numCompleteTasks=lambda: 2,
        numFailedTasks=lambda: 0,
        executorRunTime=lambda: ms,
        executorCpuTime=lambda: ms * 10**6,
        shuffleReadBytes=lambda: 0,
        shuffleWriteBytes=lambda: 2**20,
        submissionTime=lambda: _Opt(0),
        completionTime=lambda: _Opt(ms),
    )


class _Spark:
    """Status tracker and store over a mutable list of jobs."""

    def __init__(self):
        self.jobs: list[list[int]] = []
        self.stages: dict[int, object] = {}

    def run_job(self, stage_ids, ms=100):
        self.jobs.append(stage_ids)
        for sid in stage_ids:
            self.stages.setdefault(sid, _stage(ms))

    def getJobInfo(self, job_id):
        if job_id < len(self.jobs):
            return SimpleNamespace(stageIds=self.jobs[job_id])
        return None

    def lastStageAttempt(self, sid):
        if sid not in self.stages:
            raise KeyError(sid)
        return self.stages[sid]


def test_jobs_are_attributed_by_id_range():
    sp = _Spark()
    sp.run_job([0])  # set-up job: skipped by the constructor
    reader = JobReader(sp, sp, lambda: None)
    sp.run_job([1, 2])
    sp.run_job([2, 3])  # stage 2 reused: counted once
    first = reader.collect()
    sp.run_job([4], ms=300)
    second = reader.collect()
    third = reader.collect()
    assert (first["spark.jobs"], first["spark.stages"], first["spark.tasks"]) == (2, 3, 6)
    assert first["spark.executor_run_s"] == pytest.approx(0.3)
    assert (second["spark.jobs"], second["spark.stages"]) == (1, 1)
    assert second["spark.critical_stage_s"] == pytest.approx(0.3)
    assert third["spark.jobs"] == 0


def test_stages_never_submitted_are_not_counted():
    sp = _Spark()
    reader = JobReader(sp, sp, lambda: None)
    sp.jobs.append([9])  # stage 9 has no attempt in the store
    sp.run_job([10])
    sp.stages[11] = _stage(5, status="SKIPPED")
    sp.jobs.append([11])
    got = reader.collect()
    assert (got["spark.jobs"], got["spark.stages"]) == (3, 1)


# -- generators --------------------------------------------------------------
def test_uploads_are_byte_identical_for_a_seed():
    for i in range(len(uploads.DOCS)):
        a, b = uploads.make_upload(5, i), uploads.make_upload(5, i)
        assert a.payload == b.payload and a.rids == b.rids and a.filename == b.filename
    assert uploads.make_upload(5, 0).payload != uploads.make_upload(6, 0).payload


def test_every_kind_is_generated_deterministically():
    for kind, maker in uploads._MAKERS.items():
        a = maker(np.random.default_rng([2, 0]), 0, 50)
        b = maker(np.random.default_rng([2, 0]), 0, 50)
        assert a.kind == kind and a.payload == b.payload and a.rids == b.rids


def test_upload_cycle_is_fixed_and_spans_ten_to_twenty_thousand_records():
    ups = [uploads.make_upload(s, i) for s in (1, 2) for i in range(len(uploads.DOCS))]
    n = len(uploads.DOCS)
    assert [(u.kind, len(u.rids)) for u in ups[:n]] == [(u.kind, len(u.rids)) for u in ups[n:]]
    sizes = [len(u.rids) for u in ups]
    assert min(sizes) <= 12 and max(sizes) >= 20_000
    assert max(len(u.rids) for u in ups if u.kind == "csv") >= 2000
    for u in ups:
        assert u.filename.endswith({"csv": ".csv", "json_flat": ".json", "json_nested": ".json"}.get(u.kind, ".txt"))
    # a later cycle posts the same kinds and sizes again
    again = uploads.make_upload(1, len(uploads.DOCS))
    assert (again.kind, len(again.rids)) == (ups[0].kind, len(ups[0].rids))


def test_query_cycles_are_seeded_and_complete():
    cycle = workloads.query_cycle(3, 0)
    assert cycle == workloads.query_cycle(3, 0)
    assert cycle != workloads.query_cycle(4, 0) or cycle != workloads.query_cycle(3, 1)
    assert sorted(cycle) == sorted(workloads.TPCH_SET + workloads.LLM_SET * 2)
    assert all(cycle.count(q) == 2 for q in workloads.LLM_SET)
    assert all(cycle.count(q) == 1 for q in workloads.TPCH_SET)
    # first touches, TPC-H, second touches: each block holds its own set
    n = len(workloads.LLM_SET)
    assert sorted(cycle[:n]) == sorted(cycle[-n:]) == sorted(workloads.LLM_SET)
    assert sorted(cycle[n:-n]) == sorted(workloads.TPCH_SET)


# -- printed names agree with BENCHMARK.json ---------------------------------
def test_metric_names_match_benchmark_json():
    with open(BENCHMARK, encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_end_to_end_metrics_cover_every_name():
    recs = [{"latency_s": float(i + 1), "ok": True} for i in range(12)]
    got = run.end_to_end(recs, window=78.0, setup_s=9.0, rss_mb=100.0)
    assert set(got) == set(run.END_TO_END)
    assert got["throughput_ops_s"] == pytest.approx(12 / 78.0)
    assert got["latency_p50_s"] == 6.5


# -- per-layer metrics -------------------------------------------------------
def test_per_layer_counts_a_query_that_failed_in_collect():
    spark_keys = {k: 0.0 for k in layers.SPARK_DENSE}
    recs = [
        {"op": 0, "ok": True, "latency_s": 2.0, "builder_s": 0.5, "exec_s": 1.5,
         "bookkeeping_s": 0.01, **spark_keys},
        # builder returned, collect raised before exec_s was known
        {"op": 1, "ok": False, "latency_s": 1.0, "builder_s": 0.25,
         "bookkeeping_s": 0.01, **spark_keys},
    ]
    got = layers.per_layer(recs, Tracer(enabled=True), cores=4, window=3.0,
                           ok_ops=1, disk_mb=0.0)
    assert set(got) == set(layers.PER_LAYER)
    assert got["spark.exec_s"] == pytest.approx(0.75)
    assert got["trace.throughput_ops_s"] == pytest.approx(1 / 3.0)
