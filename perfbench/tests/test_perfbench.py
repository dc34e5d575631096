"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

CANNED = os.path.join(HERE, "canned_eventlog.jsonl")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _near_cfg():
    return workloads.WORKLOADS["near_dedup"].cfg()


@pytest.mark.parametrize(
    "workload,size,cfg",
    [
        ("near_dedup", {"docs": 160}, _near_cfg),
        ("embed_topk", {"corpus": 300, "queries": 8}, lambda: None),
    ],
)
def test_same_seed_same_input_digest(workload, size, cfg):
    first_tables, first_ref = inputs.build(workload, 7, size, cfg())
    again_tables, again_ref = inputs.build(workload, 7, size, cfg())
    other_tables, other_ref = inputs.build(workload, 8, size, cfg())
    assert inputs.digest(first_ref) == inputs.digest(again_ref)
    for name, table in first_tables.items():
        assert table.equals(again_tables[name])
        assert not table.equals(other_tables[name])
    assert inputs.digest(first_ref) != inputs.digest(other_ref)


def test_cache_entry_is_reused(tmp_path):
    size = {"corpus": 200, "queries": 4}
    entry = inputs.cached(str(tmp_path), "embed_topk", 3, size)
    stamp = os.path.getmtime(os.path.join(entry["path"], "meta.json"))
    again = inputs.cached(str(tmp_path), "embed_topk", 3, size)
    assert again == entry
    assert os.path.getmtime(os.path.join(entry["path"], "meta.json")) == stamp
    assert inputs.digest(inputs.reference_lines(entry)) == entry["digest"]
    assert entry["rows"] == 200 and entry["input_bytes"] > 0


def test_near_dedup_input_plants_clusters_without_the_fixture_clique():
    rows = inputs.near_dedup_rows(3, 400)
    planted = [r for r in rows if "://mirror-" in r["url"]]
    assert 0.3 < len(planted) / len(rows) < 0.7
    assert len({r["url"] for r in rows}) > 0.9 * len(rows)
    prefixes = {}
    for r in rows:
        if r["text"] and "://mirror-" not in r["url"]:
            prefixes.setdefault(" ".join(r["text"].split()[:30]), set()).add(r["text"])
    assert all(len(texts) == 1 for texts in prefixes.values())


def test_parser_returns_known_values_on_canned_log():
    summaries, executions = eventlog.parse(CANNED, probe=workloads.SCORER_PROBE)
    op = summaries["op"]
    assert (op.jobs, op.tasks, op.executions, op.probe_executions) == (1, 2, 1, 1)
    assert op.run_s == pytest.approx(2.0)
    assert op.cpu_s == pytest.approx(1.0)
    assert (op.input_bytes, op.output_bytes) == (1000, 700)
    assert op.write_task_s == pytest.approx(0.5)
    assert (op.shuffle_write_bytes, op.shuffle_read_bytes) == (300, 300)
    # the final adaptive plan has a shuffle and a broadcast exchange;
    # the initial plan had only the shuffle
    assert op.exchanges == 2
    assert op.metric("time to run Python workers") == pytest.approx(1.0)
    assert op.metric("data sent to Python workers", "ArrowEvalPython") == 2048
    assert op.metric("number of output rows", "ArrowEvalPython") == 100
    assert op.metric("number of output rows", "MapInArrow") == 0
    other = summaries["other"]
    assert (other.jobs, other.tasks, other.executions) == (1, 1, 0)
    assert other.run_s == pytest.approx(0.1)
    assert dict(other.sql) == {}
    [ex] = executions
    assert (ex.exec_id, ex.desc, ex.jobs) == (0, "op", 1)
    assert ex.seconds == pytest.approx(2.5)
    assert ex.write_path == "/data/out/bucketed"


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench


def test_metric_names_are_valid_and_declared():
    bench = _declared()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_METRICS
    assert layer == run.LAYER_METRICS
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    for name in list(e2e) + list(layer):
        assert NAME.fullmatch(name), name


class _Loop:
    cpus = [6.0, 5.0, 7.0]
    write_amps = [0.5, 0.5, 0.5]


def test_printed_metrics_are_exactly_the_declared_ones():
    values = run.end_to_end(12.5, _Loop(), 3e9)
    line = json.loads(run.result_line(True, 3, 0, values, run.E2E_METRICS))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(run.E2E_METRICS)
    assert line["metrics"]["cpu_s"] == {"value": 6.0, "unit": "s"}
    assert line["metrics"]["peak_rss_mb"]["value"] == 3000.0

    summaries, executions = eventlog.parse(CANNED, probe=workloads.SCORER_PROBE)
    ctx = {
        "ops": 1,
        "calls": {},
        "start_s": 5.0,
        "warm_s": 9.0,
        "traced_wall": 2.2,
        "untraced_wall": 2.0,
    }
    wl = workloads.WORKLOADS["near_dedup"]
    entry = {"rows": 50}
    values = run.per_layer(wl, entry, [], summaries, executions, ctx)
    line = json.loads(run.result_line(True, 1, 0, values, run.LAYER_METRICS))
    assert set(line["metrics"]) == set(run.LAYER_METRICS)
    assert line["metrics"]["udfs.scored_rows_per_doc"]["value"] == 2.0
    assert line["metrics"]["pipeline.exchanges"]["value"] == 2
    assert line["metrics"]["trace.overhead_frac"]["value"] == pytest.approx(1.1)


def test_refuses_to_run_without_the_package(tmp_path, capsys):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    script = bench / "run.py"
    script.write_text(open(os.path.join(BENCH, "run.py")).read())
    import subprocess

    p = subprocess.run(
        [sys.executable, str(script), "--workload", "near_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
