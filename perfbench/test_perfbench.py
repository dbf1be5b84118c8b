"""Tests of the benchmark's own parts (no Spark): the correctness gate, the
event-log parser, the query stream and the percentile helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import pytest  # noqa: E402

import eventlog  # noqa: E402
import gate  # noqa: E402
import querygen  # noqa: E402
import telemetry as tm  # noqa: E402
from searchengine_spark import oracle  # noqa: E402
from searchengine_spark.sources.corpus import gen_pages_local, head_terms  # noqa: E402

N = 300


@pytest.fixture(scope="module")
def pages():
    return gen_pages_local(N, seed=5)


@pytest.fixture(scope="module")
def idx(pages):
    return oracle.build_index(pages, 8)


@pytest.fixture(scope="module")
def answered(idx):
    """A query with several rows, and the oracle's answer to it."""
    for q in querygen.query_pool(idx, head_terms(), seed=5):
        resp = oracle.search(idx, q["query"], limit=10, offset=0)
        if resp.get("result") and len(resp["data"]) >= 3:
            return q["query"], resp
    raise AssertionError("no query with three rows")


# --- the gate catches planted wrong answers ------------------------------------


def test_gate_accepts_the_oracle_answer(answered):
    _, resp = answered
    assert gate.mismatch(resp, copy.deepcopy(resp), "full") is None


@pytest.mark.parametrize("plant", [
    lambda r: r["data"][0].update(score=r["data"][0]["score"] + 1e-3),
    lambda r: r["data"][1].update(doc_id=r["data"][1]["doc_id"] + 1),
    lambda r: r["data"][2].update(snippet=r["data"][2]["snippet"] + "x"),
    lambda r: r["data"].reverse(),
    lambda r: r["data"].pop(),
    lambda r: r.update(count=r["count"] + 1),
    lambda r: r.update(result=False, error="Указанная страница не найдена"),
])
def test_gate_catches_planted_wrong_answer(answered, plant):
    _, resp = answered
    wrong = copy.deepcopy(resp)
    plant(wrong)
    assert gate.mismatch(resp, wrong, "full") is not None


def test_topk_mode_ignores_count_only(answered):
    _, resp = answered
    wrong = copy.deepcopy(resp)
    wrong["count"] = len(wrong["data"])
    assert gate.mismatch(resp, wrong, "topk") is None
    wrong["data"][0]["uri"] += "/other"
    assert gate.mismatch(resp, wrong, "topk") is not None


def test_by_url_gate_ignores_ids_but_not_answers(idx, answered):
    query, resp = answered
    renumbered = copy.deepcopy(resp)
    for row in renumbered["data"]:
        row["doc_id"] += 100_000
    assert gate.mismatch_by_url(idx, query, None, 10, 0, renumbered) is None
    wrong = copy.deepcopy(renumbered)
    wrong["data"][0]["uri"], wrong["data"][-1]["uri"] = (
        wrong["data"][-1]["uri"], wrong["data"][0]["uri"])
    if wrong["data"][0]["score"] != wrong["data"][-1]["score"]:
        assert gate.mismatch_by_url(idx, query, None, 10, 0, wrong) is not None
    wrong = copy.deepcopy(renumbered)
    wrong["data"][0]["snippet"] = "<b>не тот</b> "
    assert gate.mismatch_by_url(idx, query, None, 10, 0, wrong) is not None
    wrong = copy.deepcopy(renumbered)
    for row in wrong["data"]:
        del row["snippet"]
    assert gate.mismatch_by_url(idx, query, None, 10, 0, wrong) is not None


# --- query stream -------------------------------------------------------------


def test_stream_is_seeded_and_has_its_mix(idx):
    a = querygen.query_pool(idx, head_terms(), seed=3)
    b = querygen.query_pool(idx, head_terms(), seed=3)
    c = querygen.query_pool(idx, head_terms(), seed=4)
    assert a == b and a != c
    gen = querygen.generated_queries(idx, head_terms(), seed=3, n=200)
    heads = set(head_terms())
    assert any(q["site"] for q in gen)
    assert any(q["offset"] for q in gen)
    assert any(heads & set(q["query"].split()) for q in gen)
    assert {len([w for w in q["query"].split() if w not in heads])
            for q in gen} == {1, 2, 3, 4}
    for q in gen:  # anchored on one document, so never empty
        assert oracle.search(idx, q["query"], site=q["site"])["result"]
    draws = [next(s) for s in [querygen.stream(a, 3)] for _ in range(300)]
    top = max(draws.count(q) for q in a)
    assert top > 300 / len(a) * 3  # Zipf: the head repeats


def test_df_bands_cover_three_bands(idx):
    bands = querygen.df_bands(idx, set(head_terms()))
    assert all(bands[b] for b in querygen.BANDS)
    assert max(idx.df[t] for t in bands["rare"]) < \
        min(idx.df[t] for t in bands["common"])


# --- event log parser ------------------------------------------------------------


def _ev(**kw) -> str:
    return json.dumps(kw, separators=(",", ":"))


def test_eventlog_aggregates_per_job_group():
    lines = [
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "build.1"}}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 1,
            "Task Info": {"Accumulables": [
                {"Name": "data sent to Python workers", "Update": "40"},
                {"Name": "time to run Python workers", "Update": "7"}]},
            "Task Metrics": {
                "Executor Run Time": 30, "Executor CPU Time": 2_000_000,
                "JVM GC Time": 3, "Disk Bytes Spilled": 5,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}}),
        _ev(Event="org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            physicalPlanDescription="x" * 100),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500}),
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 2000, "Stage IDs": [2],
            "Properties": {}}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 2, "Task Info": {},
            "Task Metrics": {"Executor Run Time": 4}}),
    ]
    groups = eventlog.parse(lines)
    b = groups["build.1"]
    assert (b.jobs, b.tasks, b.executor_run_ms, b.gc_ms) == (1, 1, 30, 3)
    assert b.executor_cpu_ms == pytest.approx(2.0)
    assert (b.spill_bytes, b.shuffle_write_bytes) == (5, 11)
    assert (b.py_sent_bytes, b.py_run_ms) == (40, 7)
    assert b.job_intervals == [(1000, 1500)]
    assert groups[""].executor_run_ms == 4


# --- percentiles and busy time ------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tm.tail([]) == (0.0, 0.0)
    assert tm.tail([5.0, 1.0, 3.0]) == (50.0, 3.0)
    xs = [float(i) for i in range(100)]
    pct, val = tm.tail(xs)
    assert val == 89.0 and pct == 90.0
    assert sum(x > val for x in xs) == 10


def test_union_never_exceeds_the_wall():
    spans = [(0.0, 1.0), (0.5, 2.0), (3.0, 3.5)]
    assert tm.union_ms(spans) == pytest.approx(2500.0)
    assert tm.union_ms([]) == 0.0


def test_layer_budget_fails_on_overlapping_calls():
    apart = [("tableio.commit", 0.0, 1.0, 1), ("tableio.commit", 1.0, 2.0, 2)]
    assert tm.layer_sum_share(apart, 2000.0) == pytest.approx(1.0)
    overlapping = [("tableio.commit", 0.0, 2.0, 1), ("tableio.commit", 0.5, 1.5, 2)]
    assert tm.layer_sum_share(overlapping, 2000.0) > 1.0


def test_call_budget_fails_when_spans_overlap_in_one_call():
    layers = ("serve.", "snippet.build")
    serial = [("serve.lookup_terms", 0.0, 0.002, 4),
              ("snippet.build", 0.002, 0.003, 4),
              ("tableio.commit", 0.0, 1.0, 4),    # not a search layer
              ("serve.fetch_docs", 5.0, 6.0, 0)]  # between calls
    assert tm.call_sum_share(serial, {4: 3.0}, layers) == pytest.approx(1.0)
    nested = serial + [("serve.fetch_docs", 0.0, 0.002, 4)]
    assert tm.call_sum_share(nested, {4: 3.0}, layers) > 1.0


def test_slot_budget_fails_beyond_the_task_slots():
    jobs = [(1000, 1100), (1050, 1200)]  # 200 ms of job wall time
    assert tm.slot_share(4 * 202, jobs, 4) == pytest.approx(1.0)
    assert tm.slot_share(4 * 202 + 1, jobs, 4) > 1.0
    assert tm.slot_share(0.0, [], 4) == 0.0


def test_tracer_wraps_and_restores():
    class Layer:
        @staticmethod
        def work(x):
            return x + 1

    tracer = tm.LayerTracer(enabled=True)
    original = Layer.work
    tracer.wrap(Layer, "work", "layer.work")
    tracer.request = 7
    assert Layer.work(1) == 2
    assert [s[0] for s in tracer.spans] == ["layer.work"]
    assert tracer.spans[0][3] == 7
    tracer.restore()
    assert Layer.work is original
    off = tm.LayerTracer(enabled=False)
    off.wrap(Layer, "work", "layer.work")
    assert Layer.work is original
