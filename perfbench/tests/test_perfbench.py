"""Unit tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench/tests -q   # from the repo root
"""

from __future__ import annotations

import json
import os

import checks
import datagen
import eventlog
import pytest
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))


@pytest.fixture(scope="module")
def fixture_log():
    with open(os.path.join(HERE, "eventlog_fixture.json")) as fh:
        doc = json.load(fh)
    spans = [eventlog.Span(**s) for s in doc["spans"]]
    return spans, doc["events"], eventlog.fold(doc["events"], spans)


def _span(spans, name):
    (idx,) = [i for i, s in enumerate(spans) if s.name == name]
    return idx


def test_each_job_is_credited_to_the_span_open_at_its_submission(fixture_log):
    spans, events, fold_ = fixture_log
    for j in fold_.jobs:
        open_ = [i for i, s in enumerate(spans) if s.start_ms <= j.submit_ms <= s.end_ms]
        assert j.span == (open_[-1] if open_ else None)
    # jobs between spans (warm-up, staging the stream input) belong to none
    assert any(j.span is None for j in fold_.jobs)
    assert {j.span for j in fold_.jobs} - {None} == set(range(len(spans)))
    n_tasks = sum(1 for e in events if e["Event"] == "SparkListenerTaskEnd")
    assert sum(st.tasks for st in fold_.stages.values()) == n_tasks


def test_stream_micro_batches_are_credited_to_the_row_that_started_them(fixture_log):
    spans, events, fold_ = fixture_log
    stream = _span(spans, "row.stream")
    stream_jobs = [j for j in fold_.jobs if j.span == stream]
    groups = {
        (e.get("Properties") or {}).get("spark.jobGroup.id")
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e["Job ID"] in {j.job_id for j in stream_jobs}
    }
    # micro-batches run under the query's run-id group, not the caller's
    assert any(g for g in groups)
    lay = eventlog.layers(fold_, {stream})
    assert lay["jobs"] == len(stream_jobs) > 0
    assert lay["state_instances"] > 0
    assert lay["state_commit_s"] >= 0


def test_layers_separate_python_and_shuffle_work(fixture_log):
    spans, _, fold_ = fixture_log
    shuffle = eventlog.layers(fold_, {_span(spans, "row.shuffle")})
    python = eventlog.layers(fold_, {_span(spans, "row.python")})
    assert shuffle["shuffle_write_mb"] > 0 and shuffle["python_rows"] == 0
    assert python["python_rows"] == 100
    assert python["python_worker_s"] > 0
    both = eventlog.layers(fold_, {_span(spans, "row.shuffle"), _span(spans, "row.python")})
    assert both["jobs"] == shuffle["jobs"] + python["jobs"]
    assert 0 <= both["single_task_stage_share"] <= 1


def test_read_events_orders_rolled_files(tmp_path):
    lines = [json.dumps({"Event": "E", "n": i}) for i in range(12)]
    for part, chunk in ((1, lines[:5]), (2, lines[5:10]), (10, lines[10:])):
        (tmp_path / f"events_{part}_app").write_text("\n".join(chunk) + "\n")
    assert [e["n"] for e in eventlog.read_events(str(tmp_path))] == list(range(12))


def test_union_ms_merges_overlapping_intervals():
    assert eventlog._union_ms([(0, 10), (5, 20), (30, 40), (40, 41)]) == 31
    assert eventlog._union_ms([]) == 0


def test_rect_against_polygons():
    square = checks.exterior_rings("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")[0]
    assert checks.rect_hits_ring((1, 1, 2, 2), square)  # inside
    assert checks.rect_hits_ring((-1, -1, 5, 5), square)  # contains
    assert checks.rect_hits_ring((3, -1, 5, 1), square)  # corner overlap
    assert checks.rect_hits_ring((-1, 1, 5, 2), square)  # crosses, no vertex inside
    assert not checks.rect_hits_ring((5, 5, 6, 6), square)
    multi = checks.exterior_rings(
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((10 10, 11 10, 11 11, 10 10)))"
    )
    assert len(multi) == 2 and multi[1][0] == (10.0, 10.0)


def test_generated_tables_depend_only_on_seed():
    a = datagen.tables(0.001, 7)
    b = datagen.tables(0.001, 7)
    c = datagen.tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["embeddings"].num_rows == 500


def test_benchmark_json_lists_every_metric_the_runs_print():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "round_s", "op_p50_ms"}
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    listed = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert listed == workloads.PER_LAYER
