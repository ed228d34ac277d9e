"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen): schema_evolve,
table_ingest, corpus_curate. Closed loop, one client: the next op starts
when the previous one returns. Spark workloads run on local[nproc] through
the package's own session factory, with resources pinned from the machine.

``--trace 0`` times the workload with tracing off and prints the
end-to-end metrics. ``--trace 1`` is the separate traced run: three windows
of a third of the time each, untraced, traced (spans around every call into
the package, Spark jobs tagged with the span id, an uncompressed event log)
and untraced again; it prints the per-layer metrics, the tracing overhead
and whether the layer self times reconcile with the op wall time.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. Any failed output check makes the exit code 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.harness import ROOT  # noqa: E402
from perfbench.tracing import SPARK_FIELDS, Tracer, find_event_log, fold_event_log, self_times  # noqa: E402

WORKLOADS = ("schema_evolve", "table_ingest", "corpus_curate")
RECONCILE = 0.10  # share of op wall time the layer spans may leave unexplained


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def measure(w, tracer: Tracer, seconds: float, mod, min_ops: int) -> dict:
    """Closed loop: run ops until ``seconds`` have passed, at least
    ``min_ops`` ran and the count is on a ``mod.ROUND`` boundary. An op
    that raises ends the window: the workload's state is unknown after it.
    Returns the op records, the window's wall time and its CPU time in every
    process of the run."""
    records: list[dict] = []
    cpu0 = harness.cpu_s()
    t0 = time.perf_counter()
    while True:
        tracer.request = len(records)
        try:
            records.append(w.op(len(records), tracer))
        except Exception as exc:  # noqa: BLE001 - reported as a failed op
            records.append({"s": 0.0, "units": 0,
                            "errors": [f"{type(exc).__name__}: {exc}"]})
            break
        n = len(records)
        if (time.perf_counter() - t0 >= seconds and n >= min_ops
                and (n - min_ops) % mod.ROUND == 0):
            break
    return {
        "records": records,
        "wall_s": time.perf_counter() - t0,
        "cpu_s": harness.cpu_s() - cpu0,
    }


def _ok(records: list[dict], key: str) -> list[float]:
    """``key`` of the ops whose checks passed (of all, if none did)."""
    return [r[key] for r in records if not r["errors"]] or [r[key] for r in records]


def cpu_ms_per_op(window: dict) -> float:
    """CPU time of the window per op: background JVM work (JIT, GC) that no
    single op owns is shared out over the ops."""
    return window["cpu_s"] * 1000.0 / len(window["records"])


def wall_clock(window: dict) -> dict:
    """Latency and throughput as a user sees them. Not gated: on a shared
    machine they move with other tenants (see README)."""
    records = window["records"]
    return {
        "wall.op_p50_ms": statistics.median(_ok(records, "s")) * 1000.0,
        "wall.work_per_s": sum(r["units"] for r in records) / window["wall_s"],
    }


def engine_per_op(engine: dict[int, dict], n_ops: int) -> dict:
    """Spark engine numbers summed over every span, per op."""
    out = {}
    for field in SPARK_FIELDS:
        out[f"spark.{field}"] = sum(e[field] for e in engine.values()) / max(1, n_ops)
    return out


def unattributed_share(spans: list[dict], records: list[dict]) -> float:
    """Share of op wall time (the harness's own clock) that no layer span
    explains: the op spans' self time plus the harness-vs-span gap."""
    selfs = self_times(spans)
    layer = sum(selfs[s["id"]] for s in spans if s["name"] != "op")
    wall = sum(r["s"] for r in records)
    return 1.0 - layer / wall if wall else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import iceberg_evolve_spark  # noqa: F401 - fail fast outside a checkout
    import pyspark

    spec = load_spec()
    mod = importlib.import_module(f"perfbench.{args.workload}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    with harness.run_dir() as tmp:
        info = harness.pin_environment(tmp)
        info.update(pyspark=pyspark.__version__, commit=harness.git_commit())
        result, failed, attempted = run(args, mod, spec, tmp, info)
    print(f"# run {json.dumps(info)}")
    for name, value in result.items():
        print(f"# {name} = {value:.6g} {units[name]}")
    print(f"# error_rate = {failed}/{attempted} = {failed / attempted:.6g}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result.items()},
    }))
    return 0 if failed == 0 else 1


def run(args, mod, spec, tmp: str, info: dict) -> tuple[dict, int, int]:
    spark = None
    try:
        setups, starts = [], []
        for rep in range(mod.SETUPS):
            if spark is not None:
                harness.stop_spark(spark)
                spark = None
            t0 = time.perf_counter()
            if mod.USES_SPARK:
                events = os.path.join(tmp, f"events-{rep}") if args.trace else None
                spark = harness.start_spark(tmp, events)
                starts.append(time.perf_counter() - t0)
            w = mod.Workload(args.seed, tmp)
            w.setup(spark, Tracer(False))
            setups.append(time.perf_counter() - t0)
        info["input_sha256"] = w.input_digest()
        info["setups_s"] = setups

        if not args.trace:
            with harness.RssSampler() as rss:
                timed = measure(w, Tracer(False), args.seconds, mod, mod.MIN_OPS)
            records = timed["records"]
            _report_wall_clock(timed)
            result = {
                "cpu_ms_per_op": cpu_ms_per_op(timed),
                "peak_rss_mb": rss.peak_mb,
                "setup_s": statistics.median(setups),
            }
            _report_errors(records)
            return result, sum(1 for r in records if r["errors"]), len(records)

        # untraced, traced, untraced: comparing the traced window with the
        # mean of the two around it cancels the JIT still warming up
        third = args.seconds / 3.0
        n = mod.TRACE_MIN_OPS
        plain = [measure(w, Tracer(False), third, mod, n)]
        w.reset(Tracer(False))
        tracer = Tracer(True, spark)
        with harness.RssSampler() as rss:
            traced = measure(w, tracer, third, mod, n)
        records = traced["records"]
        w.reset(Tracer(False))
        plain.append(measure(w, Tracer(False), third, mod, n))
    finally:
        if spark is not None:
            harness.stop_spark(spark)

    # the event log is complete once the JVM has stopped
    engine = {}
    if mod.USES_SPARK:
        engine = fold_event_log(
            find_event_log(os.path.join(tmp, f"events-{mod.SETUPS - 1}")), tracer.spans
        )
    for span in tracer.spans:
        span.update(engine.get(span["id"], {}))
    trace_file = os.path.join(
        ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"
    )
    tracer.write(trace_file)
    info["trace_file"] = os.path.relpath(trace_file, ROOT)

    result = {m["name"]: 0.0 for m in spec["per_layer"]}
    layered = w.layers(tracer, records, engine)
    layered.update(engine_per_op(engine, len(records)) if engine else {})
    layered.update(wall_clock(plain[0]))
    untraced = (cpu_ms_per_op(plain[0]) + cpu_ms_per_op(plain[1])) / 2.0
    layered["trace.overhead_pct"] = (cpu_ms_per_op(traced) / untraced - 1.0) * 100.0
    layered["trace.unattributed_share"] = unattributed_share(tracer.spans, records)
    if mod.USES_SPARK:
        layered["session.start_s"] = statistics.median(starts)
        layered["jvm.peak_rss_mb"] = rss.jvm_peak_mb
    unknown = set(layered) - set(result)
    if unknown:
        raise KeyError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    result.update(layered)

    all_records = plain[0]["records"] + records + plain[1]["records"]
    failed = sum(1 for r in all_records if r["errors"])
    if layered["trace.unattributed_share"] > RECONCILE:
        print(f"# check failed: layer self times explain only "
              f"{1 - layered['trace.unattributed_share']:.1%} of op wall time")
        failed += 1
    _report_errors(all_records)
    return result, failed, len(all_records)


def _report_wall_clock(window: dict) -> None:
    """Print the op latency median and the highest tail percentile with at
    least ten samples beyond it, and the throughput."""
    lat = sorted(r["s"] * 1000.0 for r in window["records"])
    print(f"# wall: {len(lat)} ops, median {statistics.median(lat):.6g} ms", end="")
    for q in (99, 95, 90):
        if harness.tail_ok(len(lat), q):
            print(f", p{q} {harness.percentile(lat, q):.6g} ms", end="")
            break
    units = sum(r["units"] for r in window["records"])
    print(f", {units / window['wall_s']:.6g} work units/s")


def _report_errors(records: list[dict]) -> None:
    for i, r in enumerate(records):
        for e in r["errors"]:
            print(f"# check failed: op {i}: {e}")


if __name__ == "__main__":
    sys.exit(main())
