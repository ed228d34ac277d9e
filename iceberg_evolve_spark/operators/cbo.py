"""Statistics-driven join planning over snapshot tables.

Spark's own cost-based optimizer makes these decisions when table-level
statistics live in the session catalog (``spark.sql.cbo.enabled`` +
``ANALYZE TABLE``). Snapshot tables here are plain parquet directories
outside any catalog, so Catalyst sees only file sizes — it cannot know that
a billion-row table filters down to a broadcastable dimension, or that one
join key holds half the rows. This module is the bridge: it consumes the
snapshot-versioned statistics the table layer already maintains
(:meth:`SnapshotTable.analyze` — NDV / null count / min-max per column,
Iceberg's Puffin stats) plus the metadata-plane byte totals, makes the
textbook CBO calls, and APPLIES them as hints Catalyst honors:

* **output-size estimation** — the System-R equi-join cardinality
  ``|L⋈R| ≈ rows(L)·rows(R) / max(ndv_L, ndv_R)`` on null-adjusted row
  counts, zeroed when the key ranges cannot overlap (disjoint min/max);
* **strategy choice** — broadcast the smaller side when its bytes fit the
  threshold (the same call AQE makes, but made BEFORE the first shuffle of
  a multi-stage pipeline, where AQE's runtime sizes arrive too late);
  plain shuffle otherwise; SALTED shuffle when a supplied hot-key estimate
  (e.g. a CMS heavy-hitter count from ``functions/sketch.py``) says one
  key floods a reducer past what AQE's skew splitting repairs;
* **application** — ``F.broadcast`` on the chosen side, or
  ``functions/skew.py:salted_join`` replication.

All decisions are metadata-plane: stats files + manifest byte sums, never a
data scan. At 100 TB this is the difference between shipping 100 TB through
a shuffle and broadcasting the 40 MB dimension that survives its filter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Default broadcast ceiling — deliberately larger than Spark's 10 MB
#: autoBroadcastJoinThreshold default (we KNOW the exact byte size from the
#: manifest, not an estimate, so the guard can sit closer to executor
#: memory) and far below what a 100-executor broadcast would make painful.
BROADCAST_BYTES_DEFAULT = 64 << 20

#: A key is "hot" when its estimated row count exceeds this multiple of the
#: average key's — past what AQE skew splitting comfortably repairs.
SKEW_FACTOR_DEFAULT = 8.0


def estimate_equi_join_rows(
    left_stats: dict,
    right_stats: dict,
    left_key: str,
    right_key: str,
) -> int:
    """System-R output-cardinality estimate for ``L JOIN R ON lk = rk``
    from two :meth:`SnapshotTable.analyze` stats dicts. Null keys never
    join, so each side's row count is null-adjusted; disjoint key ranges
    (comparable bounds only — string-rendered bounds of NUMERIC columns
    are compared numerically where they parse) estimate zero."""
    ls, rs = left_stats[left_key], right_stats[right_key]
    nl = int(left_stats["_n_rows"]) - int(ls.get("n_nulls", 0))
    nr = int(right_stats["_n_rows"]) - int(rs.get("n_nulls", 0))
    if nl <= 0 or nr <= 0:
        return 0
    lo_l, hi_l = _parse_bound(ls.get("min")), _parse_bound(ls.get("max"))
    lo_r, hi_r = _parse_bound(rs.get("min")), _parse_bound(rs.get("max"))
    if None not in (lo_l, hi_l, lo_r, hi_r) and (
        hi_l < lo_r or hi_r < lo_l
    ):
        return 0
    ndv = max(int(ls.get("ndv", 1)), int(rs.get("ndv", 1)), 1)
    return (nl * nr) // ndv


def _parse_bound(v):
    """Stats bounds are string-rendered (one schema across types); compare
    numerically when both parse, else refuse (None = unknown, no pruning)."""
    if v is None:
        return None
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def choose_join_strategy(
    left_stats: dict,
    right_stats: dict,
    left_key: str,
    right_key: str,
    left_bytes: int,
    right_bytes: int,
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    hot_key_rows: int | None = None,
    skew_factor: float = SKEW_FACTOR_DEFAULT,
) -> dict:
    """The planner decision: ``{"strategy", "est_rows", "build_side"}``.

    ``strategy`` ∈ ``broadcast`` (build_side names the broadcast side),
    ``shuffle``, ``shuffle_salted``. ``hot_key_rows`` is the caller's
    estimate of the LEFT side's hottest key frequency (CMS point estimate
    or exact top-1); when it exceeds ``skew_factor``× the average key's
    rows and no side is broadcastable, salting wins."""
    est = estimate_equi_join_rows(
        left_stats, right_stats, left_key, right_key
    )
    small_side = "right" if right_bytes <= left_bytes else "left"
    small_bytes = min(left_bytes, right_bytes)
    if small_bytes <= broadcast_bytes:
        return {
            "strategy": "broadcast",
            "build_side": small_side,
            "est_rows": est,
        }
    nl = int(left_stats["_n_rows"])
    ndv_l = max(int(left_stats[left_key].get("ndv", 1)), 1)
    avg_key_rows = nl / ndv_l if ndv_l else 0.0
    if (
        hot_key_rows is not None
        and avg_key_rows > 0
        and hot_key_rows > skew_factor * avg_key_rows
    ):
        return {
            "strategy": "shuffle_salted",
            "build_side": None,
            "est_rows": est,
        }
    return {"strategy": "shuffle", "build_side": None, "est_rows": est}


#: join type (lower-cased, underscores stripped) -> sides BroadcastHashJoin
#: may build from: the build side can never be the OUTER side, which must
#: stream to emit its non-matching rows
_BROADCASTABLE_SIDES = {
    "inner": {"left", "right"},
    "cross": {"left", "right"},
    "left": {"right"},
    "leftouter": {"right"},
    "leftsemi": {"right"},
    "leftanti": {"right"},
    "semi": {"right"},
    "anti": {"right"},
    "right": {"left"},
    "rightouter": {"left"},
    "full": set(),
    "outer": set(),
    "fullouter": set(),
}


def apply_join(
    left: DataFrame,
    right: DataFrame,
    decision: dict,
    left_key: str,
    right_key: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Execute a :func:`choose_join_strategy` decision as the hinted plan
    Catalyst will honor. Results (rows AND schema) are identical across
    strategies — only the physical shape differs. The right key column is
    renamed to the left's so every strategy joins USING one key column
    (a pre-existing distinct ``left_key`` column on the right side would
    make that rename ambiguous and is rejected).

    A broadcast decision is applied only when Spark's BroadcastHashJoin
    can honor it: the build side must not be the OUTER side (the outer
    side must stream to emit non-matching rows — broadcasting the left of
    a LEFT join is silently dropped by Catalyst), so such decisions fall
    back to the shuffle plan instead of carrying a dead hint."""
    if right_key != left_key:
        if left_key in right.columns:
            raise ValueError(
                f"right side already has a column {left_key!r}: renaming "
                f"{right_key!r} onto it for the USING-join would be "
                "ambiguous — rename one side first"
            )
        right = right.withColumnRenamed(right_key, left_key)
    if decision["strategy"] == "broadcast":
        allowed = _BROADCASTABLE_SIDES.get(
            how.lower().replace("_", ""), {"left", "right"}
        )
        if decision["build_side"] in allowed:
            if decision["build_side"] == "right":
                return left.join(F.broadcast(right), on=[left_key], how=how)
            return F.broadcast(left).join(right, on=[left_key], how=how)
        # unbroadcastable build side for this join type: honest shuffle
    if decision["strategy"] == "shuffle_salted":
        if how != "inner":
            raise ValueError("salted joins support inner only")
        from iceberg_evolve_spark.functions.skew import salted_join

        return salted_join(left, right, left_key, salt_buckets=salt_buckets)
    return left.join(right, on=[left_key], how=how)


def table_bytes(table, version: int | None = None) -> int:
    """Metadata-plane data-byte total of one snapshot (manifest file list +
    ``os.path.getsize`` per file — the number the broadcast guard needs,
    exact rather than estimated)."""
    entry = table._resolve(version, None)
    return sum(os.path.getsize(f) for f in table._entry_abs_files(entry))


def planned_table_join(
    spark: SparkSession,
    left,
    right,
    left_key: str,
    right_key: str,
    how: str = "inner",
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    hot_key_rows: int | None = None,
) -> tuple[DataFrame, dict]:
    """End-to-end: read both snapshot tables, pull their persisted stats
    (raising if either was never ``analyze()``d — a CBO without statistics
    is a guess), decide, and apply. Returns (result, decision)."""
    ls, rs = left.stats(), right.stats()
    if ls is None or rs is None:
        raise LookupError(
            "both tables need analyze() before planned_table_join"
        )
    decision = choose_join_strategy(
        ls,
        rs,
        left_key,
        right_key,
        table_bytes(left),
        table_bytes(right),
        broadcast_bytes=broadcast_bytes,
        hot_key_rows=hot_key_rows,
    )
    out = apply_join(
        left.read(spark), right.read(spark), decision, left_key, right_key, how
    )
    return out, decision
