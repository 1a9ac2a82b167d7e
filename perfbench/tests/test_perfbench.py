"""Smoke tests for the benchmark: BENCHMARK.json against the metric names
the code emits, the event-log reducer on a hand-written log, and one traced
query at sf0.001 reduced end to end.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import json
import math
import os
import pathlib
import re
import shutil
import tempfile

import pytest

from perfbench import workloads as W
from perfbench.kg_expected import ROOT, generate_sf
from perfbench.tracing import Tracer, reduce_event_log

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture
def tmp_path(monkeypatch):
    """A scratch dir inside the checkout (git-ignored), also used as the
    temp dir of this process and of any JVM it starts; removed afterwards."""
    path = pathlib.Path(ROOT, ".perfbench_tmp", f"tests-{os.getpid()}")
    tmp = path / "tmp"
    tmp.mkdir(parents=True)
    for var, value in (
        ("TMPDIR", str(tmp)),
        ("SPARK_LOCAL_DIRS", str(tmp)),
        ("JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
    ):
        monkeypatch.setenv(var, value)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    yield path
    shutil.rmtree(path, ignore_errors=True)
    try:
        path.parent.rmdir()
    except OSError:
        pass


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_emitted_metrics():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == W.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == W.PER_LAYER
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher") for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(b["per_layer"]) <= 128
    assert set(W.KG_MIX.values()) == set(W.KG_GROUPS)


def _write_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _task(stage, run_ms, shuffle_records=0, join_update=None):
    info = {"Accumulables": []}
    if join_update is not None:
        info["Accumulables"].append({"ID": 77, "Update": join_update})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": info,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": 10,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 2**20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**19, "Shuffle Records Written": shuffle_records},
        },
    }


def test_reducer_on_handwritten_log(tmp_path):
    plan = {
        "nodeName": "Project",
        "metrics": [],
        "children": [
            {"nodeName": "SortMergeJoin", "metrics": [{"name": "number of output rows", "accumulatorId": 77}], "children": []}
        ],
    }
    log = tmp_path / "events"
    _write_log(
        log,
        [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "3"}},
            {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
            _task(0, 100, shuffle_records=5),
            _task(0, 100, shuffle_records=7),
            _task(0, 400),
            _task(1, 50, join_update=11),
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
            _task(2, 20),
        ],
    )
    groups = reduce_event_log(str(log))
    g = groups["3"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 4)
    assert g["task_s"] == pytest.approx(0.65)
    assert g["gc_s"] == pytest.approx(0.04)
    assert g["shuffle_records"] == 12
    assert g["shuffle_write_mb"] == pytest.approx(2.0)
    assert g["spill_mb"] == pytest.approx(4.0)
    assert g["join_rows"] == 11
    assert g["task_skew"] == pytest.approx(4.0)  # stage 0: max 400 ms / median 100 ms
    assert groups[""]["jobs"] == 1 and groups[""]["tasks"] == 1


def test_traced_query_at_sf0001(tmp_path):
    """One traced op of two kg queries on sf0.001: the real event log
    reduces to non-empty groups, and per_layer emits every PER_LAYER name."""
    pyspark_sql = pytest.importorskip("pyspark.sql")
    import __spark_entry__ as entry

    sf_dir = str(tmp_path / "sf")
    generate_sf("0.001", sf_dir)
    events = tmp_path / "events"
    events.mkdir()
    spark = (
        pyspark_sql.SparkSession.builder.master("local[2]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", f"file://{events}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    try:
        tracer = Tracer("test", spark.sparkContext)
        run = W.Run(spark, str(tmp_path), 0, 0.0, tracer)
        qs = entry.queries()
        with tracer.span("op"):
            for name in ("q1_pricing_summary", "dedup_ngram_jaccard"):
                with tracer.span(f"q.{name}"):
                    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        run.op_s = [tracer.durations("op")[0]]
    finally:
        spark.stop()
    (log,) = list(events.iterdir())
    groups = reduce_event_log(str(log))
    q_group = str(next(i for i, s in enumerate(tracer.spans) if s["name"] == "q.dedup_ngram_jaccard"))
    assert groups[q_group]["jobs"] >= 1 and groups[q_group]["tasks"] >= 1
    assert groups[q_group]["shuffle_records"] > 0

    layers = W.per_layer(run, 1.0, str(log))
    assert list(layers) == list(W.PER_LAYER)
    assert all(isinstance(v, (int, float)) and math.isfinite(v) for v in layers.values())
    assert layers["q.dedup_ngram_jaccard_s"] > 0 and layers["spark.jobs"] >= 2
    assert layers["dedup.exchange_rows"] > 0
