"""schema_evolve: the paper's metadata pipeline on seed-generated schema
pairs, with no JVM.

One op = one schema pair through every metadata layer: parse both JSON
texts, dump them back and re-parse (the round trip), diff by id and by
name, plan, evolve into a ``CollectingExecutor``, and convert to a Spark
``StructType`` and back. Outputs are checked after the op's clock stops.
Work unit: one op (one evolved pair).
"""

from __future__ import annotations

import json
import time
from collections import Counter

from perfbench import gen
from perfbench.layers import median_ms, per_op_ms, tail_ms

USES_SPARK = False
SETUPS = 3
PAIRS = 256
# Every block of 32 pairs holds one wide (1,000-2,000 field) pair. A window
# runs whole passes over the pairs, so it holds every wide pair equally
# often and the CPU per op does not move with where the window ends.
BLOCK = 32
MIN_OPS = ROUND = TRACE_MIN_OPS = PAIRS


class Workload:
    def __init__(self, seed: int, tmp: str) -> None:
        self.seed = seed
        self.pairs: list[dict] = []

    def setup(self, spark, tracer) -> None:
        """Generate the pairs, then warm every code path on the first block
        (one wide pair, like every block, so the warm-up costs the same on
        every seed)."""
        self.pairs = gen.schema_pairs(self.seed, n=PAIRS, tail=PAIRS // BLOCK)
        for i in range(BLOCK):
            self.op(i, tracer)

    def input_digest(self) -> str:
        return gen.digest(*[(p["old"], p["new"]) for p in self.pairs])

    def reset(self, tracer) -> None:
        """Ops are independent: nothing to rebuild between windows."""

    def op(self, i: int, tracer) -> dict:
        from iceberg_evolve_spark import Schema
        from iceberg_evolve_spark.operators.executor import CollectingExecutor

        pair = self.pairs[i % len(self.pairs)]
        span = tracer.span
        t0 = time.perf_counter()
        with span("op"):
            with span("serializer.parse"):
                old = Schema.from_json(json.loads(pair["old"]))
                new = Schema.from_json(json.loads(pair["new"]))
            with span("serializer.dump"):
                old_text = json.dumps(old.to_json())
                new_text = json.dumps(new.to_json())
            with span("serializer.parse"):
                old_rt = Schema.from_json(json.loads(old_text))
                new_rt = Schema.from_json(json.loads(new_text))
            with span("diff.by_id"):
                by_id = old.diff(new, include_required_changes=True)
            with span("diff.by_name"):
                by_name = old.diff(new, match_by="name")
            with span("evolution.plan"):
                plan = by_id.to_evolution_operations()
            with span("evolution.compile"):
                ex = CollectingExecutor("db.t")
                applied = old.evolve(
                    new, ex, quiet=True, strict=True, allow_breaking=True,
                    include_required_changes=True,
                )
            with span("spark_convert.to_spark"):
                spark_struct = new.to_spark_struct()
            with span("spark_convert.from_spark"):
                back = Schema.from_spark_struct(spark_struct)
        seconds = time.perf_counter() - t0
        return {
            "s": seconds,
            "units": 1,
            "errors": check(pair, old, new, old_rt, new_rt, by_name, plan,
                            applied, ex.statements, back),
            "changes": len(by_id.all_changes),
            "ops": len(plan),
            "excess_moves": excess_moves(pair, plan),
            "ddl": len(ex.statements),
            "fields": 2 * pair["fields"],
        }

    def layers(self, tracer, records: list[dict], engine: dict) -> dict:
        by = per_op_ms(tracer.spans)
        serializer_s = sum(
            sum(v) for k, v in by.items() if k.startswith("serializer.")
        ) / 1000.0
        n = len(records)
        return {
            "serializer.parse_ms": median_ms(by, "serializer.parse"),
            "serializer.dump_ms": median_ms(by, "serializer.dump"),
            # each op parses both schemas twice and dumps them once
            "serializer.fields_per_s":
                3 * sum(r["fields"] for r in records) / serializer_s,
            "diff.by_id_ms": median_ms(by, "diff.by_id"),
            "diff.by_name_ms": median_ms(by, "diff.by_name"),
            "diff.changes": sum(r["changes"] for r in records) / n,
            "evolution.plan_ms": median_ms(by, "evolution.plan"),
            "evolution.compile_ms": median_ms(by, "evolution.compile"),
            "evolution.ops": sum(r["ops"] for r in records) / n,
            "evolution.ddl_statements": sum(r["ddl"] for r in records) / n,
            "evolution.excess_moves": sum(r["excess_moves"] for r in records) / n,
            "spark_convert.to_spark_ms": median_ms(by, "spark_convert.to_spark"),
            "spark_convert.from_spark_ms": median_ms(by, "spark_convert.from_spark"),
            "evolve.p95_ms": tail_ms([r["s"] for r in records], 95),
        }


def check(pair, old, new, old_rt, new_rt, by_name, plan, applied, statements,
          back) -> list[str]:
    """Failed checks of one op (empty when the outputs are right)."""
    errors = []
    if old_rt != old or new_rt != new:
        errors.append("json round trip changed the schema")
    kinds = Counter(type(op).__name__ for op in plan)
    want = dict(pair["want"])
    # the planner's moves are checked by what they do, not by their count:
    # it need not find the fewest (see check_moves)
    if bool(kinds.pop("MoveColumn", 0)) != bool(want.pop("MoveColumn", 0)):
        errors.append("plan and planted changes disagree on whether fields move")
    if dict(kinds) != want:
        errors.append(f"plan {dict(kinds)} != planted {want}")
    errors.extend(check_moves(old, new, plan))
    if [type(op).__name__ for op in applied] != [type(op).__name__ for op in plan]:
        errors.append("evolve applied a different op list than the plan")
    if len(statements) != len(plan):
        errors.append(f"{len(statements)} DDL statements for {len(plan)} ops")

    def top(s):
        return [(f.field_id, f.name, f.required) for f in s.fields]

    if top(back) != top(new):
        errors.append("spark struct round trip changed the top-level fields")
    if by_name.is_empty():
        errors.append("by-name diff missed the planted adds and renames")
    return errors


def check_moves(old, new, plan) -> list[str]:
    """The plan's moves put the top-level fields in the new order: each
    moved field goes right after its predecessor in the new schema (or
    first), and the fields it leaves in place are already in the new
    order relative to each other."""
    names = [f.name for f in new.fields]
    ids = {f.name: f.field_id for f in new.fields}
    moved = set()
    for op in plan:
        if type(op).__name__ != "MoveColumn":
            continue
        if op.name not in ids:
            return [f"move of unknown top-level field {op.name!r}"]
        i = names.index(op.name)
        where = ("first", None) if i == 0 else ("after", names[i - 1])
        if (op.position, op.target) != where:
            return [f"move of {op.name!r} to {op.position} {op.target!r}, "
                    f"new schema has it {where[0]} {where[1]!r}"]
        moved.add(ids[op.name])
    common = {f.field_id for f in old.fields} & set(ids.values())
    stay = common - moved
    if ([f.field_id for f in old.fields if f.field_id in stay]
            != [f.field_id for f in new.fields if f.field_id in stay]):
        return ["fields the plan does not move are out of the new order"]
    return []


def excess_moves(pair, plan) -> int:
    """Moves planned beyond the fewest that reorder the fields."""
    moves = sum(1 for op in plan if type(op).__name__ == "MoveColumn")
    return moves - pair["want"].get("MoveColumn", 0)
