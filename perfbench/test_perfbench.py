"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

They check that BENCHMARK.json is well formed and agrees with what the
benchmark emits, that every output check fails on a corrupted result, that
the inputs are deterministic, and that the traced run's layer self times
reconcile with span wall time. Only schema_evolve runs end to end here (it
needs no JVM); the Spark workloads' checks are exercised as pure functions.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import corpus_curate, gen, run, schema_evolve, table_ingest, tracing
from perfbench.harness import ROOT

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    return run.load_spec()


def _run(*args: str) -> tuple[int, dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    last = proc.stdout.strip().splitlines()[-1]
    return proc.returncode, json.loads(last), proc.stdout


# -- BENCHMARK.json ----------------------------------------------------------


def test_spec_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    names = []
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        names.append(w["name"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert len(names) == len(set(names))
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]


def test_layer_map_covers_every_per_layer_metric(spec):
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        groups = json.load(fh)["groups"]
    mapped = [m for g in groups for m in g["metrics"]]
    assert sorted(mapped) == sorted(m["name"] for m in spec["per_layer"])
    e2e = {m["name"] for m in spec["end_to_end"]}
    for g in groups:
        assert set(g["moves"]) <= e2e
        assert set(g["workload"]) | set(g["still"]) <= set(run.WORKLOADS)


def test_emitted_metrics_match_spec(spec):
    code, out, _ = _run("--workload", "schema_evolve", "--seed", "3",
                        "--seconds", "1", "--trace", "0")
    assert code == 0 and out["correct"] and out["failed"] == 0
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for name, m in out["metrics"].items():
        assert m["value"] > 0, name


def test_traced_run_reconciles(spec):
    code, out, stdout = _run("--workload", "schema_evolve", "--seed", "3",
                             "--seconds", "3", "--trace", "1")
    assert code == 0 and out["correct"], stdout
    assert set(out["metrics"]) == {m["name"] for m in spec["per_layer"]}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    # the layer spans explain at least 90% of the ops' wall time
    assert 0 <= m["trace.unattributed_share"] <= run.RECONCILE
    for name in ("serializer.parse_ms", "diff.by_id_ms", "evolution.plan_ms",
                 "spark_convert.to_spark_ms"):
        assert m[name] > 0, name


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero without
    printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "schema_evolve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# -- determinism -------------------------------------------------------------


def test_schema_pairs_are_deterministic():
    a, b = gen.schema_pairs(5, n=32, tail=1), gen.schema_pairs(5, n=32, tail=1)
    assert a == b
    assert gen.schema_pairs(6, n=32, tail=1) != a


def test_corpus_is_deterministic():
    stop = {"the", "and"}
    assert gen.corpus(5, 300, stop) == gen.corpus(5, 300, stop)
    assert gen.corpus(6, 300, stop)["texts"] != gen.corpus(5, 300, stop)["texts"]


def test_ingest_params_are_deterministic():
    a = table_ingest.Workload(5, "unused")
    assert a.input_digest() == table_ingest.Workload(5, "unused").input_digest()
    assert a.input_digest() != table_ingest.Workload(6, "unused").input_digest()


def test_schema_evolve_checks_pass_on_real_outputs():
    w = schema_evolve.Workload(7, "unused")
    w.pairs = gen.schema_pairs(7, n=32, tail=1)
    for i in range(32):
        rec = w.op(i, tracing.Tracer(False))
        assert rec["errors"] == [], (i, rec["errors"])


# -- every check fails on a corrupted result --------------------------------


def _schema_outputs():
    from iceberg_evolve_spark import Schema
    from iceberg_evolve_spark.operators.executor import CollectingExecutor

    pair = gen.schema_pairs(11, n=8, tail=1)[0]
    old = Schema.from_json(json.loads(pair["old"]))
    new = Schema.from_json(json.loads(pair["new"]))
    plan = old.diff(new, include_required_changes=True).to_evolution_operations()
    ex = CollectingExecutor("t")
    applied = old.evolve(new, ex, quiet=True, strict=True, allow_breaking=True,
                         include_required_changes=True)
    by_name = old.diff(new, match_by="name")
    back = Schema.from_spark_struct(new.to_spark_struct())
    return dict(pair=pair, old=old, new=new, old_rt=old, new_rt=new,
                by_name=by_name, plan=plan, applied=applied,
                statements=ex.statements, back=back)


def test_schema_evolve_check_catches_corruption():
    from iceberg_evolve_spark import Schema
    from iceberg_evolve_spark.diff import SchemaDiff
    from iceberg_evolve_spark.model import StructType

    good = _schema_outputs()
    assert schema_evolve.check(**good) == []
    truncated = Schema(StructType(good["new"].fields[:-1]))
    moves = [i for i, op in enumerate(good["plan"]) if type(op).__name__ == "MoveColumn"]
    assert moves, "the fixture pair must plant a move"
    misplaced = list(good["plan"])
    misplaced[moves[0]] = dataclasses.replace(misplaced[moves[0]], position="first",
                                               target=None)
    if good["new"].fields[0].name == misplaced[moves[0]].name:
        misplaced[moves[0]] = dataclasses.replace(
            misplaced[moves[0]], position="after", target=good["new"].fields[-1].name)
    corruptions = [
        ("old_rt", truncated),
        ("plan", good["plan"][:-1]),
        # a move to the wrong place, and a needed move left out
        ("plan", misplaced),
        ("plan", good["plan"][: moves[0]] + good["plan"][moves[0] + 1:]),
        ("applied", good["applied"][1:]),
        ("statements", good["statements"][:-1]),
        ("back", truncated),
        ("by_name", SchemaDiff()),
    ]
    for key, bad in corruptions:
        assert schema_evolve.check(**{**good, key: bad}), key


def test_table_ingest_checks_catch_corruption():
    state = (1000, {3, 5, 700})
    assert table_ingest.check_read("append", 98, 0, 99, state) == []
    assert table_ingest.check_read("append", 99, 0, 99, state)
    model = {4: state, 5: (1200, {3})}
    assert table_ingest.check_versions({4: 997, 5: 1199}, model) == []
    assert table_ingest.check_versions({4: 998, 5: 1199}, model)
    assert table_ingest.check_versions({6: 10}, model)


def test_corpus_check_catches_corruption():
    c = gen.corpus(9, 400, {"the"})
    want = c["expect"]
    pairs = {tuple(p) for p in want["pairs"]}
    n = want["distinct_tokens"]
    good = dict(want=want, n_kept=want["kept"], n_survivors=want["survivors"],
                written=want["survivors"], pairs=pairs, hll=n * 1.02, kmv=n * 0.98)
    assert corpus_curate.check(**good)["errors"] == []
    corruptions = {
        "n_kept": want["kept"] + 1,
        "n_survivors": want["survivors"] - 1,
        "written": want["survivors"] - 2,
        "pairs": set(list(pairs)[: len(pairs) // 2]),
        "hll": n * 1.5,
        "kmv": n * 0.5,
    }
    for key, bad in corruptions.items():
        assert corpus_curate.check(**{**good, key: bad})["errors"], key


# -- tracing ----------------------------------------------------------------


def test_self_times_sum_to_root_wall_time():
    t = tracing.Tracer(True)
    t.request = 0
    with t.span("op"):
        with t.span("a"):
            with t.span("b"):
                pass
        with t.span("c"):
            pass
    selfs = tracing.self_times(t.spans)
    root = t.spans[0]["dur"]
    assert abs(sum(selfs.values()) - root) < 1e-9
    assert all(v >= 0 for v in selfs.values())


def test_event_log_fold(tmp_path):
    spans = [
        {"id": 0, "name": "op", "parent": None, "req": 0, "start": 100.0,
         "end": 110.0, "dur": 10.0},
        {"id": 1, "name": "read", "parent": 0, "req": 0, "start": 101.0,
         "end": 105.0, "dur": 4.0},
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101500,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "perfbench:1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 103500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 103000,
         "Stage IDs": [2], "Properties": {"spark.job.description": "perfbench:1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 104000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 106000,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 2e8, "JVM GC Time": 10,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 999}},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = tracing.fold_event_log(str(log), spans)
    r = out[1]
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 2, 1)
    assert r["executor_run_s"] == pytest.approx(0.3)
    assert r["executor_cpu_s"] == pytest.approx(0.2)
    assert r["shuffle_write_bytes"] == 64 and r["spill_bytes"] == 6
    # jobs cover 101.5-104.0 of the span's 4 s: 1.5 s is driver-only
    assert r["driver_only_s"] == pytest.approx(1.5)
    assert out[0]["jobs"] == 0
    # the root's self time (10 - 4) has no jobs of its own
    assert out[0]["driver_only_s"] == pytest.approx(6.0)
