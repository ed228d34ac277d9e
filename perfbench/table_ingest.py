"""table_ingest: a streaming-shape commit mix on a fresh ``SnapshotTable``.

The first op writes the base table; every later op is one commit followed
by a pruned range read. The commits cycle through a fixed schedule of
small appends, equality deletes by key (the CDC shape), deletion-vector
deletes and metadata-only schema evolutions, with compaction plus
snapshot expiry every few rounds. Commits and reads use the commit plane
in opposite ways, so a gain on one that costs the other shows in the op.

Inputs: rows are a pure function of (seed, key), computed in the JVM; each
op's parameters (read range, deleted keys, delete predicate) are drawn
from a generator seeded by (seed, op index).

Every read's row count is checked against a Python model of the live
keys; after each expiry every surviving version is read back and checked
against the model's state at that version. Work unit: one op.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import gen
from perfbench.layers import median_ms, per_op_ms

USES_SPARK = True
SETUPS = 1  # a cold set-up (JVM, session, JIT warm-up) costs ~30 s

BASE_ROWS = 100_000
BASE_FILES = 8
APPEND_ROWS = 2_000
DELETE_KEYS = 200
READ_SPAN = 0.05  # share of the key space a range read covers
KEEP_LAST = 2  # the compacted head and the head before it survive expiry
# Appends are the majority, so the median op is an append and its read. The
# second deletion-vector delete supersedes the first, which expiry sweeps.
SCHEDULE = ("append", "append", "delete_by_key", "append", "delete_where",
            "append", "evolve_schema", "append", "delete_where", "append")
# the payload string is fixed-width, so a row's generated size is known
ROW_BYTES = 8 + 4 + 8 + 24
COMMIT_SPANS = ("snapshots.append", "snapshots.delete_by_key",
                "snapshots.delete_where", "snapshots.evolve_schema")


# A round is the schedule then compaction + expiry. A window ends on a round
# boundary (the base write, then whole rounds), so every run times the same
# ops.
ROUND = len(SCHEDULE) + 1
MIN_OPS = TRACE_MIN_OPS = 1 + ROUND


def op_kind(n: int) -> str:
    """Kind of the n-th op after a reset."""
    if n == 0:
        return "write"
    j = (n - 1) % ROUND
    return "maintain" if j == len(SCHEDULE) else SCHEDULE[j]


class Workload:
    def __init__(self, seed: int, tmp: str) -> None:
        self.seed = seed
        self.tmp = tmp
        self.tables = 0

    def params(self, n: int) -> dict:
        """Random draws of the n-th op: a function of (seed, n) only."""
        rng = random.Random(self.seed * 1_000_003 + n)
        return {
            "read": rng.random(),
            "keys": [rng.random() for _ in range(DELETE_KEYS)],
            "where": rng.random(),
        }

    def input_digest(self) -> str:
        return gen.digest(self.seed, BASE_ROWS, BASE_FILES, APPEND_ROWS, SCHEDULE,
                          [self.params(n) for n in range(256)])

    def _rows(self, lo: int, hi: int):
        """Rows for keys [lo, hi) under the current column set."""
        from pyspark.sql import functions as F

        k = F.col("id")
        cols = [
            k.alias("k"),
            (k % 97).cast("int").alias("g"),
            (F.abs(F.xxhash64(k, F.lit(self.seed))) % 1_000_000 / 1000.0).alias("v"),
            F.lpad(F.concat(F.lit("p"), k.cast("string")), 24, "x").alias("s"),
        ]
        cols += [(k % 1000).cast(t).alias(name) for name, t in self.extra]
        return self.spark.range(lo, hi, 1, max(1, (hi - lo) // 25_000)).select(*cols)

    # -- lifecycle ------------------------------------------------------------

    def setup(self, spark, tracer) -> None:
        """Warm the JIT on a small table that runs every op kind once."""
        self.spark = spark
        self.reset(tracer, base_rows=5_000)
        for kind in ("write", *SCHEDULE, "maintain"):
            rec = self.op(0, tracer, kind)
            if rec["errors"]:
                raise RuntimeError(f"warm-up failed: {rec['errors']}")
        self.reset(tracer)

    def reset(self, tracer, base_rows: int = BASE_ROWS) -> None:
        """A fresh table: the next op writes its base."""
        from iceberg_evolve_spark.sources.snapshots import SnapshotTable

        self.tables += 1
        self.path = os.path.join(self.tmp, f"ingest-{self.tables}")
        self.table = SnapshotTable(self.path)
        self.base_rows = base_rows
        self.n = 0
        self.next_key = 0
        self.deleted: set[int] = set()
        self.extra: list[tuple[str, str]] = []
        # version -> (next_key, deleted) as the model had it
        self.model: dict[int, tuple[int, frozenset]] = {}

    # -- ops ------------------------------------------------------------------

    def op(self, i: int, tracer, kind: str | None = None) -> dict:
        spark, t, span = self.spark, self.table, tracer.span
        kind = kind or op_kind(self.n)
        draws = self.params(self.n)
        self.n += 1
        prep = self._prepare(kind, draws)
        size = self.next_key + prep.get("new", 0)
        lo = int(draws["read"] * size)
        hi = lo + int(READ_SPAN * size)
        before = set(t.plan_scan()[0]) if kind == "maintain" else set()

        t0 = time.perf_counter()
        with span("op"):
            if kind == "write":
                with span("snapshots.write"):
                    t.write(prep["df"], sort_by=["k"], sort_files=BASE_FILES,
                            track_schema=True)
            elif kind == "append":
                with span("snapshots.append"):
                    t.append(prep["df"])
            elif kind == "delete_by_key":
                with span("snapshots.delete_by_key"):
                    t.delete_by_key(prep["df"], ["k"])
            elif kind == "delete_where":
                with span("snapshots.delete_where"):
                    t.delete_where(spark, prep["cond"], vector=True)
            elif kind == "evolve_schema":
                with span("snapshots.evolve_schema"):
                    t.evolve_schema(prep["schema"])
            else:
                with span("snapshots.rewrite"):
                    t.rewrite_data_files(spark)
                with span("snapshots.expire"):
                    _expired, swept = t.expire_snapshots(keep_last=KEEP_LAST)
            with span("snapshots.versions"):
                entries = t.versions()
            with span("snapshots.plan_scan"):
                kept, total = t.plan_scan(where={"k": (lo, hi)})
            with span("snapshots.read"):
                got = t.read(spark, where={"k": (lo, hi)}).count()
        seconds = time.perf_counter() - t0

        self._apply(kind, prep)
        head = entries[-1]
        self.model[head["version"]] = (self.next_key, frozenset(self.deleted))
        errors = check_read(kind, got, lo, hi, (self.next_key, self.deleted))
        rec = {
            "s": seconds, "units": 1, "errors": errors, "kind": kind,
            "files_kept": len(kept), "files_total": total,
            "live_deletes": len(head.get("deletes", [])),
            "log_entries": len(entries),
        }
        if kind == "maintain":
            counts = {e["version"]: t.read(spark, version=e["version"]).count()
                      for e in entries}
            errors += check_versions(counts, self.model)
            rec["files_swept"] = len(swept)
            rec["bytes_rewritten"] = sum(
                os.path.getsize(f) for f in set(t.plan_scan()[0]) - before
            )
        return rec

    def _prepare(self, kind: str, draws: dict) -> dict:
        """The op's inputs, built before its clock starts."""
        from pyspark.sql import functions as F

        if kind == "write":
            return {"df": self._rows(0, self.base_rows), "new": self.base_rows}
        if kind == "append":
            lo = self.next_key
            return {"df": self._rows(lo, lo + APPEND_ROWS), "new": APPEND_ROWS}
        if kind == "delete_by_key":
            keys = sorted({int(u * self.next_key) for u in draws["keys"]})
            df = self.spark.createDataFrame([(k,) for k in keys], "k long")
            return {"df": df, "keys": keys}
        if kind == "delete_where":
            a = int(draws["where"] * self.next_key)
            b = a + self.next_key // 50
            cond = (F.col("k") >= a) & (F.col("k") < b) & (F.col("k") % 7 == 0)
            return {"cond": cond, "range": (a, b)}
        if kind == "evolve_schema":
            return self._evolved_schema()
        return {}

    def _evolved_schema(self) -> dict:
        """Alternately add an int column and widen the last one to long."""
        from iceberg_evolve_spark import Schema
        from iceberg_evolve_spark.model import Field, PrimitiveType, StructType

        cur = self.table.table_schema()
        fields = list(cur.struct.fields)
        if self.extra and self.extra[-1][1] == "int":
            name = self.extra[-1][0]
            fields = [f.with_type(PrimitiveType("long")) if f.name == name else f
                      for f in fields]
            extra = self.extra[:-1] + [(name, "long")]
        else:
            name = f"e{len(self.extra)}"
            fields.append(Field(1 + max(f.field_id for f in fields), name,
                                PrimitiveType("int")))
            extra = self.extra + [(name, "int")]
        return {"schema": Schema(StructType(fields), cur.schema_id), "extra": extra}

    def _apply(self, kind: str, prep: dict) -> None:
        """Advance the model by the op's commit."""
        self.next_key += prep.get("new", 0)
        if kind == "delete_by_key":
            self.deleted.update(prep["keys"])
        elif kind == "delete_where":
            a, b = prep["range"]
            self.deleted.update(range(a + (-a % 7), min(b, self.next_key), 7))
        elif kind == "evolve_schema":
            self.extra = prep["extra"]

    # -- metrics --------------------------------------------------------------

    def space_amp(self) -> float:
        """Bytes under the table dir ÷ bytes of the live rows as generated."""
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.path) for f in files
        )
        live = self.next_key - len(self.deleted)
        row = ROW_BYTES + sum(4 if t == "int" else 8 for _, t in self.extra)
        return on_disk / (live * row)

    def layers(self, tracer, records: list[dict], engine: dict) -> dict:
        by = per_op_ms(tracer.spans)
        commits = [r for r in records if r["kind"] != "write"]
        maint = [r for r in records if r["kind"] == "maintain"]

        def jobs_per(names):
            ids = [s["id"] for s in tracer.spans if s["name"] in names]
            return sum(engine[i]["jobs"] for i in ids) / max(1, len(ids))

        def mean(rs, key):
            return sum(r[key] for r in rs) / max(1, len(rs))

        meta = sum(os.path.getsize(os.path.join(self.path, f))
                   for f in os.listdir(self.path) if f.endswith(".json"))
        commit_ms = sorted(v for n in COMMIT_SPANS for v in by.get(n, []))
        return {
            "snapshots.append_ms": median_ms(by, "snapshots.append"),
            "snapshots.delete_by_key_ms": median_ms(by, "snapshots.delete_by_key"),
            "snapshots.delete_where_ms": median_ms(by, "snapshots.delete_where"),
            "snapshots.evolve_schema_ms": median_ms(by, "snapshots.evolve_schema"),
            "snapshots.versions_ms": median_ms(by, "snapshots.versions"),
            "snapshots.log_entries": mean(records, "log_entries"),
            # commit files, checkpoint and manifests still on disk
            "snapshots.metadata_bytes_per_commit": meta / max(1, len(commits)),
            "snapshots.jobs_per_commit": jobs_per(COMMIT_SPANS),
            "snapshots.plan_scan_ms": median_ms(by, "snapshots.plan_scan"),
            "snapshots.files_kept_ratio":
                sum(r["files_kept"] for r in records)
                / max(1, sum(r["files_total"] for r in records)),
            "snapshots.live_delete_files": mean(commits, "live_deletes"),
            "snapshots.jobs_per_read": jobs_per(("snapshots.read",)),
            "snapshots.rewrite_s": median_ms(by, "snapshots.rewrite") / 1000.0,
            "snapshots.bytes_rewritten": mean(maint, "bytes_rewritten"),
            "snapshots.expire_s": median_ms(by, "snapshots.expire") / 1000.0,
            "snapshots.files_swept": mean(maint, "files_swept"),
            "snapshots.space_amp": self.space_amp(),
            "commit.p50_ms": commit_ms[len(commit_ms) // 2] if commit_ms else 0.0,
            "read.p50_ms": median_ms(by, "snapshots.read"),
        }


def live_rows(lo: int, hi: int, state: tuple) -> int:
    """Live keys in [lo, hi] under a model state (next_key, deleted)."""
    next_key, deleted = state
    top = min(hi, next_key - 1)
    if top < lo:
        return 0
    return (top - lo + 1) - sum(1 for k in deleted if lo <= k <= top)


def check_read(kind: str, got: int, lo: int, hi: int, state: tuple) -> list[str]:
    want = live_rows(lo, hi, state)
    if got != want:
        return [f"{kind}: read {got} rows in [{lo}, {hi}], model has {want}"]
    return []


def check_versions(counts: dict[int, int], model: dict[int, tuple]) -> list[str]:
    """Every version that survived expiry reads back as the model had it."""
    errors = []
    for v, got in counts.items():
        state = model.get(v)
        if state is None:
            errors.append(f"no model state for surviving version {v}")
        elif got != live_rows(0, state[0], state):
            errors.append(f"version {v} reads {got} rows, model has "
                          f"{live_rows(0, state[0], state)}")
    return errors
