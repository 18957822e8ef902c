"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import expect  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- generator -------------------------------------------------------------------


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


def test_generator_is_deterministic_per_seed(tmp_path):
    gen.generate(str(tmp_path / "a"), [5, 9])
    gen.generate(str(tmp_path / "b"), [5, 9])
    gen.generate(str(tmp_path / "c"), [5, 10])
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    # a later day's seed never changes an earlier day
    assert filecmp.cmp(tmp_path / "a" / "activity_events-2024-03-01.csv",
                       tmp_path / "c" / "activity_events-2024-03-01.csv", shallow=False)


def test_generator_properties(tmp_path):
    gen.generate(str(tmp_path), [1, 2])
    con = expect.connect(1)
    expect.load_drops(con, [str(tmp_path)])
    # corrupt rows stay below MAXERROR: per day 20 per event file, 2 counts
    assert expect.rejected_rows(con) == 2 * (3 * gen.BAD_EVENTS + gen.BAD_COUNTS)
    # stragglers outside the file's day exist and are dropped
    n_all = con.execute("SELECT count(*) FROM activity_all").fetchone()[0]
    n_day = con.execute("SELECT count(*) FROM activity_rows").fetchone()[0]
    assert 0 < n_all - n_day < 0.02 * n_all
    # cohorts span 0-99, so the sampled variants nest with their shares
    share = con.execute(f"SELECT avg(({expect._cohort('uid')} < 10)::INT) FROM "
                        "(SELECT DISTINCT uid FROM activity_rows)").fetchone()[0]
    assert 0.05 < share < 0.15
    assert gen.N_UIDS >= 10_000
    assert con.execute("SELECT count(DISTINCT uid) FROM activity_rows").fetchone()[0] > 5000
    # flows completing after midnight land in the next day's file
    late = con.execute("""
        SELECT count(*) FROM flow_rows e JOIN flow_rows b USING (flow_id)
        WHERE b.type = 'flow.begin' AND e.type = 'flow.complete' AND e.day > b.day
    """).fetchone()[0]
    assert late > 0
    # multi-device users within the 7-day lookback
    assert con.execute(f"SELECT count(*) FROM ({expect.expected_multi_device(100)})").fetchone()[0] > 0


# -- metric names ----------------------------------------------------------------


def test_end_to_end_names_match_benchmark():
    samples = {"fresh_s": [2.0], "maintain_s": [1.0], "lookup_s": [0.1, 0.2]}
    out = run.end_to_end(3.0, samples, 0.5)
    spec = _bench()["end_to_end"]
    assert list(out) == [m["name"] for m in spec]
    assert {k: v["unit"] for k, v in out.items()} == {m["name"]: m["unit"] for m in spec}


def test_per_layer_names_match_benchmark():
    spec = _bench()["per_layer"]
    assert layers.per_layer_names() == [m["name"] for m in spec]
    assert [layers.unit(n) for n in layers.per_layer_names()] == [m["unit"] for m in spec]


def test_workload_names_match_benchmark():
    import workloads

    assert sorted(workloads.WORKLOADS) == sorted(w["name"] for w in _bench()["workloads"])


# -- span arithmetic -------------------------------------------------------------


def _span(i, key, start, end, parent=None, depth=0, **kw):
    return {"id": i, "key": key, "start": start, "end": end, "parent": parent,
            "depth": depth, "py4j": 0, **kw}


def test_union_length_merges_and_clips():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 10)], 2, 4) == 2
    assert tracing.union_length([]) == 0


def test_self_time_subtracts_covered_children():
    spans = [
        _span(0, "cycle", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, parent=0, depth=1),
        _span(2, "b", 3.0, 6.0, parent=0, depth=1),  # overlaps a: union 1-6
        _span(3, "c", 2.0, 3.0, parent=1, depth=2),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_outermost_time_counts_nested_layer_calls_once():
    spans = [
        _span(0, "cycle", 0, 10),
        _span(1, "lake.write", 1, 5, parent=0, depth=1),
        _span(2, "lake.write", 2, 4, parent=1, depth=2),
        _span(3, "lake.write", 6, 7, parent=0, depth=1),
    ]
    assert tracing.outermost_time(spans, lambda k: k == "lake.write", {0, 1, 2, 3}) == (5, 2)


def test_jobs_go_to_tagged_then_enclosing_span():
    spans = [_span(0, "cycle", 0, 10), _span(1, "x", 2, 4, parent=0, depth=1)]
    jobs = [{"start": 3, "spans": [0]}, {"start": 3, "spans": []}, {"start": 8, "spans": []},
            {"start": 11, "spans": []}]
    tracing.attribute_jobs(spans, jobs)
    assert [j["span"] for j in jobs] == [0, 1, 0, None]


def test_layer_metrics_gap_and_busy_ratio():
    spans = [_span(0, "cycle", 0.0, 10.0), _span(1, "step.ingest", 0.0, 10.0, parent=0, depth=1)]
    job = {"start": 1.0, "end": 5.0, "spans": [1], "stages": 2, "tasks": 8, "run_s": 8.0,
           "cpu_s": 6.0, "gc_s": 0.5, "input_bytes": 10, "input_records": 3, "output_bytes": 4,
           "shuffle_read_bytes": 1, "shuffle_write_bytes": 1}
    m = layers.layer_metrics(spans, [job], [spans[0]], cores=4, extra={"session_start_s": 1.0})
    assert m["spark.jobs"] == 1 and m["spark.jobs.ingest"] == 1
    assert m["spark.job_wall_s"] == pytest.approx(4.0)
    assert m["driver.gap_s"] == pytest.approx(6.0)
    assert m["spark.busy_ratio"] == pytest.approx(8.0 / (4.0 * 4))
    assert m["trace.remainder_s"] == pytest.approx(0.0)
    assert set(layers.per_layer_names()) <= set(m)


def test_percentile_is_nearest_rank():
    vals = [float(i) for i in range(1, 101)]
    assert run.percentile(vals, 0.5) == 50.0
    assert run.percentile(vals, 0.9) == 90.0  # ten values beyond it


# -- compare -----------------------------------------------------------------------


def _record(path, wl, value, timed=1.0):
    path.write_text(json.dumps({"provenance": {"workload": wl, "trace": 0}, "timed_s": timed,
                                "metrics": {"fresh_s": {"value": value, "unit": "s"}}}))


def test_compare_flags_only_beyond_spread(tmp_path):
    base, same, slow = tmp_path / "b", tmp_path / "s", tmp_path / "w"
    for d in (base, same, slow):
        d.mkdir()
    for i, v in enumerate([10.0, 10.2, 9.8, 10.1, 9.9]):
        _record(base / f"{i}.json", "daily_cron", v)
        _record(same / f"{i}.json", "daily_cron", v + 0.05)
        _record(slow / f"{i}.json", "daily_cron", v * 1.5)
    quiet = compare.diff(compare.load(str(base)), compare.load(str(same)))
    loud = compare.diff(compare.load(str(base)), compare.load(str(slow)))
    assert not any("CHANGED" in ln or "REGRESSED" in ln for ln in quiet)
    assert any("REGRESSED" in ln for ln in loud)


def test_py4j_count_leaves_out_the_tracers_own_tag_calls():
    class FakeContext:
        def __init__(self):
            self.tags = []

        def addJobTag(self, tag):
            tracer.count_py4j()  # each tag call is one py4j command
            self.tags.append(tag)

        def removeJobTag(self, tag):
            tracer.count_py4j()
            self.tags.remove(tag)

    sc = FakeContext()
    tracer = tracing.Tracer(detailed=True, sc=sc)
    with tracer.span("outer") as outer:
        tracer.count_py4j()
        with tracer.span("inner") as inner:
            assert sc.tags == ["pbspan0", "pbspan1"]
            tracer.count_py4j()
            tracer.count_py4j()
    assert (outer["py4j"], inner["py4j"], tracer.py4j_calls) == (1, 2, 3)
    assert sc.tags == [] and outer["parent"] is None and inner["parent"] == 0
