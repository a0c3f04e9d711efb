"""Incremental view maintenance (IVM) over the snapshot tables — T212.

The corpus rollups every release pipeline republishes (per-lang doc
counts, per-source token sums, quality histograms feeding the T67
datasheet) are grouped aggregates over the WHOLE table.  At 10¹² rows a
daily full ``groupBy`` rescans the corpus to move <0.1% of the numbers;
the classical IVM result (Gupta & Mumick, "Maintenance of Materialized
Views: Problems, Techniques, and Applications", IEEE DE Bulletin 1995)
is that distributive aggregates need only the DELTA: fold the day's
row-level changes into the persisted view.

The engine already derives exactly that delta from manifest metadata —
the T210 changelog (`sources/changelog.py`).  :func:`maintain_agg`
composes them:

- **count / sum** are self-maintainable under BOTH insert and delete:
  each change contributes ``±1`` / ``±x``, so one map-side-combinable
  aggregation over the changelog (O(changes) rows) plus one
  O(groups)-sized outer-merge with the stored view maintains them
  exactly.  Sums are restricted to integral columns — float folds would
  drift from a recompute (the engine's exact-integer discipline).
- **min / max** are NOT self-maintainable under delete (dropping the
  extremum needs the runner-up, which the view no longer has).  The
  textbook fix is per-group recompute bounded to the DIRTY groups: the
  delta names every group a change touched; only those groups' rows are
  re-aggregated from the table (a semi-join slice — with the table
  hidden-partitioned or clustered on the group column, plan-time
  pruning bounds even the rescan), and clean groups keep their stored
  values untouched.  Cost is O(rows in changed groups), never O(table).
- A group's stored row is DROPPED the moment its maintained count
  reaches zero — which is why the spec must carry at least one
  ``count`` aggregate (IVM's standard liveness requirement; validated
  loudly).

The maintained view is a parquet directory published with the
backup-rename swap of streaming/dedup.py (crash at any point leaves the
previous view readable) whose ``_view_meta.json`` — snapshot id + the
exact spec — travels INSIDE the swapped directory, so the guard commits
atomically with the numbers it describes.  Re-calling at the same
snapshot is a free no-op; a view ahead of the requested snapshot raises
(views never silently rewind); a changelog range lost to snapshot
expiry raises unless ``rebuild="auto"`` opts into a full recompute.

The invariant the tests pin: after ANY commit history (appends, MOR
position deletes, equality-delete upserts, overwrites), the maintained
view is BYTE-EQUAL to the direct ``groupBy`` over the table's final
state.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.changelog import read_changelog
from ..sources.snapshots import current_snapshot_id, read_snapshot
from ..streaming.dedup import _read_folded, _rollback_swap, _swap_in

_INTEGRAL = {"byte", "short", "integer", "long"}
_META = "_view_meta.json"


def _validate_spec(group_cols: list[str], aggs: dict) -> tuple[list, list]:
    """Split *aggs* into (algebraic, extremal) specs, validating shape.
    Returns ([(out, kind, col|None), ...] for count/sum,
    [(out, kind, col), ...] for min/max)."""
    if not group_cols:
        raise ValueError("group_cols must name at least one column")
    alg, ext = [], []
    for out, spec in aggs.items():
        kind = spec[0]
        if kind == "count":
            alg.append((out, "count", None))
        elif kind == "sum":
            alg.append((out, "sum", spec[1]))
        elif kind in ("min", "max"):
            ext.append((out, kind, spec[1]))
        else:
            raise ValueError(
                f"unsupported aggregate {kind!r} for {out!r} — "
                f"count/sum (self-maintainable) and min/max "
                f"(dirty-group recompute) are the IVM surface"
            )
    if not any(k == "count" for _o, k, _c in alg):
        raise ValueError(
            "aggs must include at least one ('count',) — IVM needs the "
            "row count to know when a group dies (Gupta & Mumick §3.2)"
        )
    return alg, ext


def _check_integral_sums(df: DataFrame, alg: list) -> None:
    types = {f.name: f.dataType.typeName() for f in df.schema.fields}
    for out, kind, col in alg:
        if kind == "sum" and types.get(col) not in _INTEGRAL:
            raise ValueError(
                f"sum column {col!r} is {types.get(col)} — IVM sums are "
                f"exact-integer only (a float fold drifts from recompute)"
            )


def _direct_agg(df: DataFrame, group_cols: list[str], alg, ext) -> DataFrame:
    exprs = []
    for out, kind, col in alg:
        if kind == "count":
            exprs.append(F.count(F.lit(1)).alias(out))
        else:
            exprs.append(F.sum(col).cast("long").alias(out))
    for out, kind, col in ext:
        exprs.append((F.min(col) if kind == "min" else F.max(col)).alias(out))
    return df.groupBy(*group_cols).agg(*exprs)


def _meta_of(view_dir: str) -> dict | None:
    _rollback_swap(view_dir)
    path = os.path.join(view_dir, _META)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _publish(
    spark: SparkSession, df: DataFrame, view_dir: str, meta: dict
) -> None:
    tmp = f"{view_dir}_tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, _META), "w") as f:
        json.dump(meta, f)
    _swap_in(tmp, view_dir)


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The maintained view (rolling back an interrupted swap first)."""
    df = _read_folded(spark, view_dir)
    if df is None:
        raise ValueError(f"no maintained view at {view_dir}")
    return df


def view_snapshot_id(view_dir: str) -> int | None:
    """The snapshot the view is maintained to, or None if never built."""
    meta = _meta_of(view_dir)
    return None if meta is None else int(meta["snapshot_id"])


def maintain_agg(
    spark: SparkSession,
    root: str,
    view_dir: str,
    group_cols: list[str],
    aggs: dict,
    upto: int | None = None,
    rebuild: str = "never",
) -> DataFrame:
    """Bring the grouped-aggregate view at *view_dir* up to snapshot
    *upto* (default: the table's current) and return it.

    *aggs* maps output column → ``("count",)`` | ``("sum", col)`` |
    ``("min", col)`` | ``("max", col)``; at least one count is required.
    First call builds the view with one full aggregation; every later
    call folds only the changelog delta (count/sum) plus a recompute
    bounded to the dirty groups (min/max).  See the module docstring for
    the cost model and guarantees."""
    alg, ext = _validate_spec(group_cols, aggs)
    if upto is None:
        upto = current_snapshot_id(root)
        if upto is None:
            raise ValueError(f"table at {root} has no committed snapshot")
    spec = {"group_cols": list(group_cols), "aggs": {k: list(v) for k, v in aggs.items()}}
    meta = _meta_of(view_dir)
    if meta is not None:
        if meta["spec"] != spec:
            raise ValueError(
                f"view at {view_dir} was built with a different spec "
                f"({meta['spec']}) — refusing to fold mismatched numbers"
            )
        base = int(meta["snapshot_id"])
        if base == upto:
            return read_view(spark, view_dir)
        if base > upto:
            raise ValueError(
                f"view is at snapshot {base}, ahead of requested {upto} "
                f"— views never rewind (read the table AS OF instead)"
            )
    table = read_snapshot(spark, root, snapshot_id=upto)
    _check_integral_sums(table, alg)
    if meta is None:
        out = _direct_agg(table, group_cols, alg, ext)
        _publish(spark, out, view_dir, {"snapshot_id": upto, "spec": spec})
        return read_view(spark, view_dir)

    try:
        changes = read_changelog(spark, root, base, upto)
    except ValueError:
        if rebuild != "auto":
            raise
        out = _direct_agg(table, group_cols, alg, ext)
        _publish(spark, out, view_dir, {"snapshot_id": upto, "spec": spec})
        return read_view(spark, view_dir)

    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    dexprs = []
    for out, kind, col in alg:
        expr = sign if kind == "count" else sign * F.col(col)
        dexprs.append(F.sum(expr).cast("long").alias("__d_" + out))
    delta = changes.groupBy(*group_cols).agg(*dexprs)

    old = read_view(spark, view_dir)
    # null-safe full outer merge on the group key (NULL is a group to
    # groupBy, so it must be one to the merge too); presence is decided
    # by marker columns, never by key nullness
    d = delta.select(
        *[F.col(c).alias("__g_" + c) for c in group_cols],
        *[F.col("__d_" + out) for out, _k, _c in alg],
        F.lit(True).alias("__has_new"),
    )
    cond = None
    for c in group_cols:
        e = F.col(c).eqNullSafe(F.col("__g_" + c))
        cond = e if cond is None else (cond & e)
    joined = old.join(d, cond, "full_outer")
    has_new = F.col("__has_new").isNotNull()
    sel = [
        F.when(has_new, F.col("__g_" + c)).otherwise(F.col(c)).alias(c)
        for c in group_cols
    ]
    count_out = next(out for out, k, _c in alg if k == "count")
    for out, _kind, _col in alg:
        # a side that is NULL (group absent, or an all-NULL sum) adds
        # nothing; both NULL stays NULL, as the direct sum of an all-NULL
        # group is
        stored, change = F.col(out), F.col("__d_" + out)
        sel.append(
            F.coalesce(stored + change, stored, change).cast("long").alias(out)
        )
    for out, _kind, _col in ext:
        sel.append(F.col(out))  # replaced below for dirty groups
    merged = joined.select(*sel).filter(F.col(count_out) > 0)

    if ext:
        # dirty-group recompute: re-aggregate min/max ONLY for groups the
        # delta touched — O(rows in changed groups), never O(table)
        dirty = delta.select(*group_cols)
        tcond = None
        for c in group_cols:
            e = table[c].eqNullSafe(dirty[c])
            tcond = e if tcond is None else (tcond & e)
        slice_ = table.join(dirty, tcond, "left_semi")
        rexprs = [
            (F.min(col) if kind == "min" else F.max(col)).alias("__r_" + out)
            for out, kind, col in ext
        ]
        rec = slice_.groupBy(*group_cols).agg(*rexprs).select(
            *[F.col(c).alias("__rg_" + c) for c in group_cols],
            *[F.col("__r_" + out) for out, _k, _c in ext],
            F.lit(True).alias("__has_rec"),
        )
        rcond = None
        for c in group_cols:
            e = F.col(c).eqNullSafe(F.col("__rg_" + c))
            rcond = e if rcond is None else (rcond & e)
        merged = merged.join(rec, rcond, "left")
        final = [F.col(c) for c in group_cols]
        final += [F.col(out) for out, _k, _c in alg]
        final += [
            F.when(F.col("__has_rec").isNotNull(), F.col("__r_" + out))
            .otherwise(F.col(out))
            .alias(out)
            for out, _k, _c in ext
        ]
        merged = merged.select(*final)

    out_cols = list(group_cols) + [out for out in aggs]
    merged = merged.select(*out_cols)
    _publish(spark, merged, view_dir, {"snapshot_id": upto, "spec": spec})
    return read_view(spark, view_dir)
