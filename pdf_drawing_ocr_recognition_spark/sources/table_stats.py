"""ANALYZE TABLE — table-level column statistics commits (T218).

Iceberg attaches statistics files (Puffin theta/NDV sketches) to a
snapshot so engines can cost joins and pick broadcast sides without
scanning data.  The analogue: :func:`analyze_table` computes per-column
``n_nulls / ndv / min / max`` over the CURRENT snapshot in ONE
aggregation pass and lands them as a metadata-only ``compute-stats``
commit whose summary carries the stats keyed to the snapshot they
describe; :func:`table_stats` reads them back from manifest JSON alone
— with a staleness report (rows added and commits since the analyzed
snapshot), so a planner knows when to trust them.

Scale posture: the pass is a single map-side-combinable aggregation —
no joins, no windows.  NDV defaults to Spark's native HyperLogLog++
(``approx_count_distinct``, rsd 5% — mergeable, constant memory per
column, the only honest NDV at 10¹² rows); ``exact=True`` switches to
``count_distinct`` for gate-scale verification (the oracle runs exact
mode; production runs approx — the flag is the documented trade, never
a silent approximation).  Only primitive columns (int/long/float/
double/string/boolean) are analyzed; other types are skipped and
reported in ``skipped`` rather than mangled into JSON.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import (
    _commit,
    _schema_meta,
    current_snapshot_id,
    read_manifest,
    read_snapshot,
    snapshot_log,
)

_ANALYZABLE = {"byte", "short", "integer", "long", "float", "double",
               "string", "boolean"}


def analyze_table(
    spark: SparkSession,
    root: str,
    cols: list[str] | None = None,
    exact: bool = False,
) -> int:
    """Compute column stats over the current snapshot and commit them
    (metadata-only; data read once, one aggregation).  Returns the new
    snapshot id."""
    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, parent)
    types = {f["name"]: f["type"] for f in man["schema"]["fields"]}
    if cols is None:
        picked = [c for c, t in types.items() if t in _ANALYZABLE]
        skipped = [c for c in types if c not in picked]
    else:
        unknown = [c for c in cols if c not in types]
        if unknown:
            raise ValueError(f"unknown columns {unknown} in {root}")
        bad = [c for c in cols if types[c] not in _ANALYZABLE]
        if bad:
            raise ValueError(
                f"columns {bad} have non-primitive types — ANALYZE "
                f"covers {sorted(_ANALYZABLE)}"
            )
        picked, skipped = list(cols), []
    if not picked:
        raise ValueError(f"no analyzable columns in {root}")
    df = read_snapshot(spark, root, snapshot_id=parent)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in picked:
        ndv = F.count_distinct(F.col(c)) if exact else F.approx_count_distinct(c)
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            ndv.alias(f"__nd_{c}"),
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs).first()
    stats = {
        c: {
            "n_nulls": int(row[f"__nn_{c}"] or 0),
            "ndv": int(row[f"__nd_{c}"] or 0),
            "min": row[f"__mn_{c}"],
            "max": row[f"__mx_{c}"],
        }
        for c in picked
    }
    schemas, cur_sid, file_sids, _last = _schema_meta(man)
    return _commit(
        root, parent, man["files"], [], 0, json.dumps(man["schema"]),
        "compute-stats",
        stats=man.get("stats", {}),
        delete_files=man.get("delete_files", {}),
        partition_spec=man.get("partition_spec", []),
        partitions=man.get("partitions", {}),
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=file_sids, last_field_id=_last,
        row_counts=man.get("row_counts", {}),
        file_sizes=man.get("file_sizes", {}),
        blooms=man.get("blooms", {}),
        properties={
            "table_stats": stats,
            "analyzed_snapshot": parent,
            "analyzed_rows": int(row["__rows"]),
            "ndv_mode": "exact" if exact else "approx_hllpp_rsd05",
            **({"stats_skipped_cols": skipped} if skipped else {}),
        },
    )


def table_stats(root: str, snapshot_id: int | None = None) -> dict:
    """The newest column stats visible from *snapshot_id* (default
    current), from manifest JSON alone, with staleness: ``{"columns":
    {col: {n_nulls, ndv, min, max}}, "analyzed_snapshot", "analyzed_rows",
    "rows_added_since", "commits_since" (non-stats commits: tells "only
    deletions" from "unchanged"), "ndv_mode"}``.  Raises if the table was
    never analyzed — a planner must never mistake "no stats" for "empty"."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(root)
    if sid is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    best = None
    for man in snapshot_log(root):
        if man["snapshot_id"] > sid:
            continue
        props = man.get("summary", {}).get("properties", {})
        if "table_stats" in props and (
            best is None or man["snapshot_id"] > best[0]
        ):
            best = (man["snapshot_id"], props)
    if best is None:
        raise ValueError(f"table at {root} has never been ANALYZEd")
    _stat_sid, props = best
    added = commits = 0
    for man in snapshot_log(root):
        if props["analyzed_snapshot"] < man["snapshot_id"] <= sid:
            added += int(man["summary"].get("added_rows", 0))
            commits += man["operation"] != "compute-stats"
    return {
        "columns": props["table_stats"],
        "analyzed_snapshot": int(props["analyzed_snapshot"]),
        "analyzed_rows": int(props["analyzed_rows"]),
        "rows_added_since": added,
        "commits_since": commits,
        "ndv_mode": props.get("ndv_mode", "unknown"),
        "skipped": props.get("stats_skipped_cols", []),
    }
