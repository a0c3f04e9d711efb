"""Metadata-driven join planning over snapshot tables — T219.

At 100 TB the join STRATEGY is the query plan: a fact-fact shuffle that
should have been bucket-local, or a fact scan that a 2,000-row dim
could have pruned to 0.1% of its files, costs more than everything
else combined.  Spark's own CBO can't see the engine's Python tables;
this planner makes the same class of decision from what the engine
already records — manifest JSON only, zero data I/O at decision time:

1. **storage-partitioned join (T200)** — both sides written
   ``bucket[N]`` on the join key with equal N: ZERO data shuffle, the
   dominant win when it applies (two fact tables co-bucketed by an
   ingest pipeline).
2. **broadcast** — the smaller side's manifest byte total fits the
   broadcast budget: ship the dim, shuffle nothing.
3. **runtime-filter join (T213)** — the smaller side is too big to
   broadcast cheaply but its key count (T218 ANALYZE ndv when present,
   else the manifest row count as the provable upper bound) fits the
   IN-list cap AND the bigger side has real pruning power on the key
   (bloom sidecars or a partition spec): prune the fact scan by the
   dim's keys, then broadcast-join the survivors.
4. **shuffle** — the honest default; AQE handles skew at runtime.

:func:`choose_join_strategy` returns the decision WITH its evidence
(sizes, ndv source, pruning power) so the choice is auditable;
:func:`auto_join` executes it.  Every strategy returns exactly the
plain inner join's rows — strategies change cost, never values (the
oracle runs the planner end-to-end against the plain-join twin)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.snapshots import (
    current_snapshot_id,
    read_manifest,
    read_snapshot,
)
from ..sources.table_stats import table_stats
from .runtime_filter import join_pruned
from .spj import bucket_local_join


def _side_meta(root: str, key: str) -> dict:
    """One side's decision inputs, from manifest JSON alone."""
    sid = current_snapshot_id(root)
    if sid is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, sid)
    sizes = man.get("file_sizes", {})
    rows = man.get("row_counts", {})
    spec = man.get("partition_spec", [])
    key_fid = None
    if "schemas" in man:
        cur = man["schemas"][str(man["current_schema_id"])]
        key_fid = next((f["id"] for f in cur if f["name"] == key), None)
    has_bloom = any(
        str(key_fid) in (per or {}) for per in man.get("blooms", {}).values()
    )
    bucket_n = None
    key_in_spec = False
    for entry in spec:
        if entry["source"] == key:
            key_in_spec = True
            t = entry["transform"]
            if t.startswith("bucket[") and t.endswith("]"):
                bucket_n = int(t[7:-1])
    ndv = None
    ndv_source = "row_count_upper_bound"
    try:
        st = table_stats(root)
        col = st["columns"].get(key)
        if col is not None and st["rows_added_since"] == 0:
            ndv = int(col["ndv"])
            ndv_source = f"analyze({st['ndv_mode']})"
    except ValueError:
        pass
    total_rows = (
        sum(rows[f] for f in man["files"] if f in rows)
        if all(f in rows for f in man["files"])
        else None
    )
    if ndv is None:
        ndv = total_rows  # rows bound distinct keys from above
    return {
        "root": root,
        "snapshot_id": sid,
        "bytes": sum(sizes.get(f, 0) for f in man["files"]),
        "rows": total_rows,
        "ndv": ndv,
        "ndv_source": ndv_source,
        "bucket_n": bucket_n,
        "key_in_spec": key_in_spec,
        "has_bloom": has_bloom,
    }


def choose_join_strategy(
    root_a: str,
    root_b: str,
    key: str,
    broadcast_bytes: int = 32 << 20,
    max_filter_keys: int = 65536,
) -> dict:
    """The auditable decision: ``{"strategy": "spj" | "broadcast" |
    "runtime_filter" | "shuffle", "build_side": "a" | "b" | None,
    "a": <evidence>, "b": <evidence>, "reason": str}``."""
    a, b = _side_meta(root_a, key), _side_meta(root_b, key)
    small, big = ("a", "b") if a["bytes"] <= b["bytes"] else ("b", "a")
    sm = a if small == "a" else b
    bg = b if small == "a" else a
    if (
        a["bucket_n"] is not None
        and a["bucket_n"] == b["bucket_n"]
    ):
        strat, side = "spj", None
        reason = (
            f"both sides bucket[{a['bucket_n']}] on {key!r} — zero-shuffle "
            f"storage-partitioned join"
        )
    elif sm["bytes"] <= broadcast_bytes:
        strat, side = "broadcast", small
        reason = (
            f"side {small} is {sm['bytes']} bytes ≤ broadcast budget "
            f"{broadcast_bytes}"
        )
    elif (
        sm["ndv"] is not None
        and sm["ndv"] <= max_filter_keys
        and (bg["has_bloom"] or bg["key_in_spec"])
    ):
        power = "bloom sidecars" if bg["has_bloom"] else "partition spec"
        strat, side = "runtime_filter", small
        reason = (
            f"side {small} has ≤{sm['ndv']} keys ({sm['ndv_source']}) and "
            f"side {big} prunes on {key!r} via {power}"
        )
    else:
        strat, side = "shuffle", None
        reason = (
            "no metadata advantage — plain shuffle join (AQE handles "
            "skew at runtime)"
        )
    return {"strategy": strat, "build_side": side, "a": a, "b": b,
            "reason": reason}


def auto_join(
    spark: SparkSession,
    root_a: str,
    root_b: str,
    key: str,
    broadcast_bytes: int = 32 << 20,
    max_filter_keys: int = 65536,
) -> tuple[DataFrame, dict]:
    """Execute the chosen strategy; returns (result, decision).  The
    result always equals ``read_snapshot(a).join(read_snapshot(b), key)``
    — column order: A's columns, then B's minus the key."""
    decision = choose_join_strategy(
        root_a, root_b, key, broadcast_bytes, max_filter_keys
    )
    strat = decision["strategy"]
    if strat == "spj":
        return bucket_local_join(spark, root_a, root_b, key), decision
    da = read_snapshot(spark, root_a)
    db = read_snapshot(spark, root_b)
    if strat == "broadcast":
        if decision["build_side"] == "a":
            out = F.broadcast(da).join(db, key)
        else:
            out = da.join(F.broadcast(db), key)
    elif strat == "runtime_filter":
        # join_pruned output: fact cols then dim's extras
        if decision["build_side"] == "a":
            out = join_pruned(spark, root_b, da, key, max_keys=max_filter_keys)
        else:
            out = join_pruned(spark, root_a, db, key, max_keys=max_filter_keys)
    else:
        out = da.join(db, key)
    # every strategy returns the contract's order, not the USING-join order
    return out.select(*da.columns, *[c for c in db.columns if c != key]), decision
