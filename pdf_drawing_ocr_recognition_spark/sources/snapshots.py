"""Snapshot-versioned parquet tables — the Iceberg analogue, executable.

The north rule's input is "an Iceberg table"; the runtime jar is
unobtainable in this sandbox (ICEBERG.md records four rounds of acquisition
attempts), so this module implements the Iceberg properties the pipeline
actually depends on — **snapshot isolation, time travel, atomic commits,
optimistic-concurrency conflicts, snapshot expiry** — against plain parquet
with a JSON metadata log, mirroring Iceberg's own design (data files are
immutable; a snapshot is a manifest listing them; the "current" pointer is
one atomic swap):

    <root>/
      data/<uuid>-<i>.parquet      immutable data files, never rewritten
      metadata/
        snap-00000001.json         manifest: schema + file list + summary
        snap-00000002.json
        version-hint.text          current snapshot id (os.replace = CAS)

Guarantees (each pinned by tests/test_snapshots.py):

* **Atomic commit** (Iceberg HadoopCatalog semantics) — the COMMIT is the
  atomic publication of a complete, fsynced manifest at ``snap-<id>.json``
  (hardlink from a temp file: the name appears with full content or not at
  all).  ``version-hint.text`` is an advisory fast path, exactly as in
  Iceberg's ``HadoopTableOperations``: readers trust it then roll forward
  to the highest contiguous committed manifest, so a writer killed between
  manifest publish and hint swap is still durably committed, and one killed
  before manifest publish left nothing visible — only orphan data files no
  reader ever lists.
* **Time travel** — ``read_snapshot(spark, root, snapshot_id=N)`` returns
  the table byte-identical to the state when snapshot N committed, because
  the files N listed are immutable and expiry never deletes files a kept
  snapshot references.
* **Optimistic concurrency** — two writers committing against the same
  parent race to link the same ``snap-<id>.json`` name and exactly one
  wins; the loser raises :class:`CommitConflictError` and must re-read +
  retry (Iceberg's CAS on the metadata pointer).
* **Expiry** (``expire_snapshots``) — drops old manifests and deletes data
  files referenced ONLY by dropped snapshots; ``remove_orphan_files``
  separately reclaims data files no retained manifest references (crashed
  pre-commit writers), with an age guard so an in-flight commit's files
  survive (Iceberg's ``remove_orphan_files(older_than=...)``).

Scale posture: manifests store file *paths*, so commit cost is O(files in
table) metadata, independent of row count — at 10^12 docs the hint swap is
still one rename.  Readers hand Spark the explicit file list, so partition
pruning/pushdown behave exactly as for any parquet scan.

Since round 5 manifests also carry Iceberg's **manifest-level column
statistics**: per-file min/max bounds harvested from the parquet footers
at commit time (no extra data pass — the footer is already read for row
counts), inherited by name for carried files, and consulted by
``read_snapshot(filters=...)`` / ``plan_scan`` to skip files WITHOUT
opening them — planning is pure manifest JSON, no filesystem reads of
data files at all, which is the property that matters when the table is
10⁶ files on S3 (per-footer pruning costs 10⁶ GETs; manifest pruning
costs one JSON read).

Since round 5 (closing session) the table also supports Iceberg v2's
**merge-on-read positional deletes** (:func:`delete_from`): a DELETE
commits small parquet *delete files* of row positions instead of
rewriting data files — a delete touching 0.1% of rows writes delete
files proportional to the MATCHED rows, never the table.  Readers apply
the mask at scan time: files with no deletes keep the fast vectorized
parquet path; only files carrying deletes take the Arrow merge-read
path.  ``rewrite_data_files`` (major compaction) applies and purges all
delete files, exactly as Iceberg's rewrite actions do.

Reference analogue: none — the reference reads one file per run
(pdor/pdor_unit.py:97-109); this is the north-rule "Iceberg table" input
contract made testable offline.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_HINT = "version-hint.text"


class CommitConflictError(RuntimeError):
    """Another writer committed against the same parent snapshot first."""


def _meta_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _data_dir(root: str) -> str:
    return os.path.join(root, "data")


def _manifest_path(root: str, snapshot_id: int) -> str:
    return os.path.join(_meta_dir(root), f"snap-{snapshot_id:08d}.json")


def init_table(root: str) -> None:
    """Create the table layout (idempotent); no snapshot exists yet."""
    os.makedirs(_data_dir(root), exist_ok=True)
    os.makedirs(_meta_dir(root), exist_ok=True)


def current_snapshot_id(root: str) -> int | None:
    """The committed snapshot id readers see, or None for an empty table.

    The hint file is advisory (HadoopCatalog semantics): start from it and
    roll forward over any manifests whose writer died before the hint swap
    — those commits are durable the moment their manifest name appeared.
    """
    try:
        with open(os.path.join(_meta_dir(root), _HINT)) as f:
            sid = int(f.read().strip())
    except FileNotFoundError:
        sid = 0
    while os.path.exists(_manifest_path(root, sid + 1)):
        sid += 1
    return sid or None


def read_manifest(root: str, snapshot_id: int) -> dict:
    with open(_manifest_path(root, snapshot_id)) as f:
        return json.load(f)


def snapshot_log(root: str) -> list[dict]:
    """All retained snapshots, oldest first (the table's commit history)."""
    meta = _meta_dir(root)
    out = []
    for name in sorted(os.listdir(meta)):
        if name.startswith("snap-") and name.endswith(".json"):
            with open(os.path.join(meta, name)) as f:
                out.append(json.load(f))
    return out


# ---------------------------------------------------------------------------
# Schema evolution — Iceberg's field-id column mapping (round 5, 3rd sitting).
#
# Every column owns a permanent integer FIELD ID, assigned once and never
# reused.  Manifests carry a schema log (``schemas``: id → field list), the
# logical read schema (``current_schema_id``), and each data file's PHYSICAL
# schema (``file_schemas``: file → schema id — the shape the file was
# actually written with).  Reads resolve columns per file BY ID, never by
# name or position, which is exactly what makes the Iceberg guarantees hold:
#
# * rename is metadata-only — old files still resolve (the id is unchanged);
# * drop + re-add the same NAME yields a NEW id, so rows written before the
#   drop read NULL — the old values can never resurrect;
# * int→long / float→double widening casts per file group at read time, so
#   pre-widen files stay valid without rewrite.
#
# Manifests written before this feature carry only the legacy ``schema``
# key; ids are synthesized positionally (Iceberg's own rule when importing
# id-less files) and every file maps to that one schema — byte-identical
# behavior to the pre-feature reader.
# ---------------------------------------------------------------------------

# safe type promotions (narrow → wide), as Iceberg's primitive widening
_SAFE_WIDEN = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def _widens_to(narrow, wide) -> bool:
    return (
        isinstance(narrow, str)
        and isinstance(wide, str)
        and (narrow, wide) in _SAFE_WIDEN
    )


def _norm_field(sf: dict, field_id: int) -> dict:
    """A stored schema-log field: id + name + type json, nullability
    normalized to True (files mix nullable flags freely across writes;
    the logical schema is always nullable, as evolution can introduce
    NULLs into any column's history)."""
    return {
        "id": field_id,
        "name": sf["name"],
        "type": sf["type"],
        "nullable": True,
        "metadata": {},
    }


def _struct_of(fields: list[dict]) -> StructType:
    return StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {k: v for k, v in f.items() if k != "id"} for f in fields
            ],
        }
    )


def _schema_meta(
    man: dict,
) -> tuple[dict[int, list[dict]], int, dict[str, int], int]:
    """The manifest's schema log as (schemas, current_schema_id,
    file_schemas, last_field_id), synthesizing positional ids for legacy
    manifests that predate field-id support."""
    if "schemas" in man:
        return (
            {int(k): v for k, v in man["schemas"].items()},
            int(man["current_schema_id"]),
            dict(man.get("file_schemas", {})),
            int(man["last_field_id"]),
        )
    fields = [
        _norm_field(f, i + 1) for i, f in enumerate(man["schema"]["fields"])
    ]
    return {0: fields}, 0, {f: 0 for f in man["files"]}, len(fields)


def _intern_schema(schemas: dict[int, list[dict]], fields: list[dict]) -> int:
    """Return the id of *fields* in the log, appending it if new."""
    for sid, fl in schemas.items():
        if fl == fields:
            return sid
    sid = max(schemas) + 1 if schemas else 0
    schemas[sid] = fields
    return sid


def _merge_write_schema(
    schemas: dict[int, list[dict]],
    cur_id: int,
    last_id: int,
    df_schema: StructType,
) -> tuple[dict[int, list[dict]], int, int, int]:
    """Reconcile an incoming write's schema with the table's current one
    (Iceberg's implicit by-name evolution, like Spark's mergeSchema):

    * same name, same type → field keeps its id;
    * same name, write NARROWER → allowed; the file records its narrow
      physical type, reads cast up to the logical type;
    * same name, write WIDER → the logical type widens (int→long,
      float→double); earlier files keep their physical type, cast on read;
    * new name → new field id appended to the logical schema (earlier
      files read NULL for it);
    * logical column absent from the write → stays logical (this write's
      rows read NULL for it);
    * same name, incompatible type → error.

    Returns (schemas, current_schema_id, file_schema_id, last_field_id).
    """
    cur_fields = schemas[cur_id]
    by_name = {f["name"]: f for f in cur_fields}
    logical = [dict(f) for f in cur_fields]
    file_fields: list[dict] = []
    for sf in json.loads(df_schema.json())["fields"]:
        name, wtype = sf["name"], sf["type"]
        cf = by_name.get(name)
        if cf is None:
            last_id += 1
            file_fields.append(_norm_field(sf, last_id))
            logical.append(_norm_field(sf, last_id))
        elif cf["type"] == wtype or _widens_to(wtype, cf["type"]):
            file_fields.append(_norm_field(sf, cf["id"]))
        elif _widens_to(cf["type"], wtype):
            file_fields.append(_norm_field(sf, cf["id"]))
            for lf in logical:
                if lf["id"] == cf["id"]:
                    lf["type"] = wtype
        else:
            raise ValueError(
                f"column {name!r}: write type {wtype!r} is incompatible "
                f"with table type {cf['type']!r} (only int→long / "
                f"float→double widening is supported)"
            )
    schemas = dict(schemas)
    new_cur = cur_id if logical == cur_fields else _intern_schema(
        schemas, logical
    )
    file_sid = _intern_schema(schemas, file_fields)
    return schemas, new_cur, file_sid, last_id


def _project_group(df: DataFrame, cur_fields, file_fields, extra_cols=()):
    """Project one file group's physical columns onto the logical schema:
    resolve by field id, cast widened types, NULL-fill fields the group's
    files predate.  A group already at the logical schema projects to bare
    column references — the plan stays a plain pruned scan."""
    from pyspark.sql import functions as F

    by_id = {f["id"]: f for f in file_fields}
    cols = []
    for lf in cur_fields:
        dt = _struct_of([lf]).fields[0].dataType
        pf = by_id.get(lf["id"])
        if pf is None:
            cols.append(F.lit(None).cast(dt).alias(lf["name"]))
        elif pf["name"] == lf["name"] and pf["type"] == lf["type"]:
            cols.append(F.col(lf["name"]))
        else:
            cols.append(F.col(pf["name"]).cast(dt).alias(lf["name"]))
    cols.extend(F.col(c) for c in extra_cols)
    return df.select(*cols)


def _file_projection(man: dict, fname: str) -> list[tuple[str | None, str]]:
    """Per-file (physical_name | None, logical_name) pairs for the Arrow
    merge-read path — the same id-based resolution as :func:`_project_group`
    but serializable into a task tuple."""
    schemas, cur_id, file_schemas, _ = _schema_meta(man)
    by_id = {
        f["id"]: f["name"] for f in schemas[file_schemas.get(fname, cur_id)]
    }
    return [(by_id.get(lf["id"]), lf["name"]) for lf in schemas[cur_id]]


# manifest column stats: strings above this length are not recorded (a
# truncated max is not a valid upper bound; Iceberg truncates+increments,
# we simply skip — pruning on long text columns is not a real workload)
_MAX_STAT_STR = 64


def _file_column_stats(md) -> dict:
    """Per-column [min, max] bounds from one parquet file's footer metadata
    — folded across row groups; a column missing stats in ANY row group
    gets no entry (pruning must never be optimistic)."""
    bounds: dict[str, list] = {}
    dead: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            name = col.path_in_schema
            if name in dead or "." in name:  # nested leaves: skip
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            lo, hi = st.min, st.max
            if not (
                isinstance(lo, (int, float, str))
                and isinstance(hi, (int, float, str))
                and type(lo) is type(hi)
            ) or isinstance(lo, bool):
                dead.add(name)
                continue
            if isinstance(lo, str) and (
                len(lo) > _MAX_STAT_STR or len(hi) > _MAX_STAT_STR
            ):
                dead.add(name)
                continue
            if name in bounds:
                bounds[name][0] = min(bounds[name][0], lo)
                bounds[name][1] = max(bounds[name][1], hi)
            else:
                bounds[name] = [lo, hi]
    for name in dead:
        bounds.pop(name, None)
    return bounds


# ---------------------------------------------------------------------
# hidden partitioning (Iceberg partition transforms)
#
# A partition spec is a list of {"source": <column>, "transform": T} with
# T in {"identity", "bucket[N]", "truncate[W]", "days"}.  Writers derive
# the partition tuple per row (the user never materializes a partition
# column — Iceberg's "hidden" property), the fanout writer groups rows by
# tuple, and the manifest records each data file's tuple SELF-DESCRIBED
# with the spec it was written under — so partition-spec evolution and
# mixed partitioned/unpartitioned tables are safe by construction: every
# file prunes under its own spec, files without a tuple are simply never
# partition-pruned (conservative, like stats).
#
# Analogue liberty (documented divergence): Iceberg buckets with 32-bit
# murmur3; this table buckets with crc32 over the value's canonical
# decimal/UTF-8 string, because zlib.crc32 (planner side) and F.crc32
# (writer side) are bit-identical without reimplementing murmur in two
# languages.  The pruning CONTRACT is the same: bucket(literal) is
# computable at plan time from manifest JSON alone.
# ---------------------------------------------------------------------


def _parse_transform(t: str) -> tuple[str, int | None]:
    if t == "identity" or t == "days":
        return t, None
    for kind in ("bucket", "truncate"):
        if t.startswith(kind + "[") and t.endswith("]"):
            n = int(t[len(kind) + 1 : -1])
            if n < 1:
                raise ValueError(f"{kind} width must be >= 1, got {n}")
            return kind, n
    raise ValueError(f"unknown partition transform {t!r}")


def _bucket_py(value, n: int) -> int:
    """Planner-side bucket twin of the writer expression (crc32 of the
    canonical string form; ints use their decimal repr, matching Spark's
    int→string cast)."""
    import zlib

    return zlib.crc32(str(value).encode("utf-8")) % n


def _partition_write_col(entry: dict, df: DataFrame):
    """The Spark Column computing one partition-tuple slot for *entry*."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampType,
    )

    src, kind = entry["source"], _parse_transform(entry["transform"])
    dt = df.schema[src].dataType
    int_like = isinstance(dt, (IntegerType, LongType, ShortType))
    if kind[0] == "identity":
        if not (int_like or isinstance(dt, StringType)):
            raise ValueError(f"identity partition needs int/string: {src}")
        return F.col(src)
    if kind[0] == "bucket":
        if not (int_like or isinstance(dt, StringType)):
            raise ValueError(f"bucket partition needs int/string: {src}")
        return F.pmod(
            F.crc32(F.col(src).cast("string").cast("binary")), F.lit(kind[1])
        ).cast("int")
    if kind[0] == "truncate":
        if int_like:
            return (F.col(src) - F.pmod(F.col(src), F.lit(kind[1]))).cast(
                "long"
            )
        if isinstance(dt, StringType):
            return F.substring(F.col(src), 1, kind[1])
        raise ValueError(f"truncate partition needs int/string: {src}")
    # days
    if not isinstance(dt, (TimestampType, DateType)):
        raise ValueError(f"days partition needs timestamp/date: {src}")
    return F.date_format(F.col(src), "yyyy-MM-dd")


def _decode_partition_value(entry: dict, raw: str):
    """Typed partition value back from a hive-style ``_pK=<raw>`` dirname."""
    from urllib.parse import unquote

    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    kind, _w = _parse_transform(entry["transform"])
    text = unquote(raw)
    if kind == "bucket":
        return int(text)
    if kind in ("identity", "truncate"):
        try:
            return int(text)
        except ValueError:
            return text
    return text  # days: "YYYY-MM-DD"


def _day_of(value) -> str | None:
    """Day string of a filter literal (datetime/date/ISO string)."""
    import datetime as _dt

    if isinstance(value, _dt.datetime):
        return value.strftime("%Y-%m-%d")
    if isinstance(value, _dt.date):
        return value.isoformat()
    if isinstance(value, str) and len(value) >= 10:
        return value[:10]
    return None


def _partition_prunes(entry: dict, pval, op: str, val) -> bool:
    """True iff NO row of a file whose tuple slot is *pval* can satisfy
    ``col op val`` — every decision must be provable from the transform
    alone, else keep the file (pruning is never optimistic)."""
    if pval is None:
        return False
    kind, w = _parse_transform(entry["transform"])
    if kind == "identity":
        if type(pval) is not type(val) or isinstance(val, bool):
            return False
        return _PRUNE_OPS[op](pval, pval, val)
    if kind == "bucket":
        # only equality pins the bucket of matching rows
        return op == "==" and _bucket_py(val, w) != pval
    if kind == "truncate":
        if isinstance(pval, int) and isinstance(val, int):
            return _PRUNE_OPS[op](pval, pval + w - 1, val)
        if isinstance(pval, str) and isinstance(val, str):
            vprefix = val[:w]
            if op == "==":
                return pval != vprefix
            if op in (">=", ">"):
                return pval < vprefix
            return pval > vprefix  # "<=", "<"
        return False
    # days: all rows lie within [pval 00:00, pval+1d)
    vday = _day_of(val)
    if vday is None:
        return False
    if op == "==":
        return pval != vday
    if op in (">=", ">"):
        return pval < vday
    return pval > vday  # "<=", "<"


def _write_data_files(
    df: DataFrame, root: str, partition_spec: list[dict] | None = None,
    distribution: str = "none",
) -> tuple[list[str], int, str, dict, dict, dict]:
    """Write *df* once into immutable uniquely-named files under data/.

    Returns (relative file names, total rows, schema json, per-file column
    stats, per-file partition tuples, per-file row counts, per-file byte
    sizes).  Rows AND min/max bounds are read
    from the parquet footers (driver-side metadata read — no second Spark
    job over the data).  With *partition_spec*, the fanout writer groups
    rows by the derived partition tuple (``partitionBy`` on temp columns,
    so partition keys never appear as data columns — hidden partitioning)
    and each file's typed tuple is recorded for :func:`plan_scan`.

    *distribution* is Iceberg's ``write.distribution-mode``: ``"none"``
    writes each input partition's slice per tuple (fast, but P input
    partitions × T tuples small files — the classic fanout explosion);
    ``"hash"`` shuffles on the derived tuple first so each tuple lands
    in ONE task → one file; ``"range"`` range-partitions on the tuple
    (clustered output, tuple-contiguous files).  One extra shuffle buys
    a file count of O(tuples) instead of O(tasks × tuples) — at 10³
    daily partitions × 10⁴ tasks that is the difference between a
    manifest that plans in milliseconds and 10⁷ files of debris."""
    import pyarrow.parquet as pq

    if distribution not in ("none", "hash", "range"):
        raise ValueError(
            f"distribution must be none|hash|range, not {distribution!r}"
        )
    commit_uuid = uuid.uuid4().hex[:12]
    staging = os.path.join(root, f".staging-{commit_uuid}")
    schema_json = df.schema.json()
    spec = list(partition_spec or [])
    if distribution != "none" and not spec:
        raise ValueError(
            "distribution=hash|range redistributes on the partition "
            "tuple — meaningless without a partition_spec"
        )
    tmp_cols = [f"_p{i}" for i in range(len(spec))]
    if spec:
        out = df
        for name, entry in zip(tmp_cols, spec):
            out = out.withColumn(name, _partition_write_col(entry, df))
        if distribution == "hash":
            out = out.repartition(*tmp_cols)
        elif distribution == "range":
            out = out.repartitionByRange(*tmp_cols)
        out.write.mode("overwrite").partitionBy(*tmp_cols).parquet(staging)
    else:
        df.write.mode("overwrite").parquet(staging)
    # collect (src_path, partition_values) pairs in deterministic order
    found: list[tuple[str, list]] = []
    for dirpath, _dirs, files in sorted(os.walk(staging)):
        rel = os.path.relpath(dirpath, staging)
        comps = [] if rel == "." else rel.split(os.sep)
        values = None
        if spec:
            pairs = dict(c.split("=", 1) for c in comps if "=" in c)
            if len(pairs) != len(spec):
                continue  # not a leaf partition dir
            values = [
                _decode_partition_value(entry, pairs[name])
                for name, entry in zip(tmp_cols, spec)
            ]
        for part in sorted(p for p in files if p.endswith(".parquet")):
            found.append((os.path.join(dirpath, part), values))
    names: list[str] = []
    stats: dict[str, dict] = {}
    partitions: dict[str, dict] = {}
    row_counts: dict[str, int] = {}
    file_sizes: dict[str, int] = {}
    n_rows = 0
    for i, (src, values) in enumerate(found):
        name = f"{commit_uuid}-{i:05d}.parquet"
        md = pq.ParquetFile(src).metadata
        if md.num_rows == 0:
            continue  # empty shuffle parts are never committed (as Iceberg)
        n_rows += md.num_rows
        stats[name] = _file_column_stats(md)
        row_counts[name] = md.num_rows
        file_sizes[name] = os.stat(src).st_size
        if values is not None:
            partitions[name] = {"spec": spec, "values": values}
        os.replace(src, os.path.join(_data_dir(root), name))
        names.append(name)
    shutil.rmtree(staging, ignore_errors=True)
    return names, n_rows, schema_json, stats, partitions, row_counts, file_sizes


def _commit(
    root: str,
    parent: int | None,
    files: list[str],
    added: list[str],
    added_rows: int,
    schema_json: str,
    operation: str,
    stats: dict | None = None,
    delete_files: dict[str, list[str]] | None = None,
    properties: dict | None = None,
    partition_spec: list[dict] | None = None,
    partitions: dict | None = None,
    schemas: dict[int, list[dict]] | None = None,
    current_schema_id: int | None = None,
    file_schemas: dict[str, int] | None = None,
    last_field_id: int | None = None,
    row_counts: dict[str, int] | None = None,
    file_sizes: dict[str, int] | None = None,
    parent_for_lineage: int | None = None,
    blooms: dict[str, dict] | None = None,
    seqs: dict[str, int] | None = None,
    eq_deletes: list[dict] | None = None,
) -> int:
    new_id = (parent or 0) + 1
    # data sequence numbers (Iceberg v2): every data file records the
    # commit that ADDED it; equality deletes apply only to files with a
    # strictly smaller sequence.  None = inherit the parent manifest's
    # (the common case — only rollback passes them explicitly, because its
    # files belong to the TARGET manifest, not the allocation parent);
    # legacy files default to 0 = "written before any delete".
    if (seqs is None or eq_deletes is None) and parent:
        _pman = read_manifest(root, parent)
        if seqs is None:
            seqs = _pman.get("seqs", {})
        if eq_deletes is None:
            eq_deletes = _pman.get("eq_deletes", [])
    seqs, eq_deletes = seqs or {}, eq_deletes or []
    added_set = set(added)
    final_seqs = {
        f: (new_id if f in added_set else int(seqs.get(f, 0))) for f in files
    }
    # an equality-delete entry is live iff some file in THIS snapshot was
    # written before it; rewrites stamp new sequences, so a full compaction
    # (or overwrite) purges every entry automatically — the files the dead
    # entries reference stay on disk until the snapshots that carried them
    # expire (time travel still sees them applied)
    live_eq = [
        e for e in eq_deletes
        if any(final_seqs[f] < e["seq"] for f in files)
    ]
    schema_meta = {}
    if schemas is not None:
        # field-id schema log: full log (ids are permanent, never reused),
        # the logical read schema, and each file's PHYSICAL write schema
        schema_meta = {
            "schemas": {str(k): v for k, v in schemas.items()},
            "current_schema_id": current_schema_id,
            "file_schemas": {
                f: (file_schemas or {}).get(f)
                for f in files
                if (file_schemas or {}).get(f) is not None
            },
            "last_field_id": last_field_id,
        }
    manifest = {
        "snapshot_id": new_id,
        # lineage parent may differ from the id-allocation parent: a
        # ROLLBACK commit allocates current+1 but descends from the target,
        # abandoning the in-between commits (metadata_history flags them)
        "parent_id": parent if parent_for_lineage is None else parent_for_lineage,
        "operation": operation,
        "ts": time.time(),
        "schema": json.loads(schema_json),
        "files": files,
        # the table's CURRENT partition spec (new writes use it) and each
        # file's tuple, self-described with the spec it was written under
        # — spec evolution never invalidates old files' pruning
        "partition_spec": partition_spec or [],
        "partitions": {
            f: (partitions or {}).get(f)
            for f in files
            if (partitions or {}).get(f)
        },
        # per-file column bounds ({file: {col: [min, max]}}) — carried
        # files keep their bounds by name, so stats never require
        # re-reading a data file after its first commit
        "stats": {f: (stats or {}).get(f, {}) for f in files},
        # per-file row counts (Iceberg's record_count), harvested from the
        # same footer read as the bounds and carried by name like them —
        # the files metadata table and consumer planning read these
        "row_counts": {
            f: (row_counts or {}).get(f)
            for f in files
            if (row_counts or {}).get(f) is not None
        },
        # per-file byte sizes (Iceberg's file_size_in_bytes), harvested at
        # write time and carried by name — partial compaction plans its
        # input set from these, never from filesystem stats (10^6 HEADs)
        "file_sizes": {
            f: (file_sizes or {}).get(f)
            for f in files
            if (file_sizes or {}).get(f) is not None
        },
        # per-file bloom sidecars ({file: {field_id: {ref, m, k}}}),
        # carried by name like stats — see compute_file_blooms (T207)
        "blooms": {
            f: (blooms or {}).get(f)
            for f in files
            if (blooms or {}).get(f)
        },
        # per-file data sequence numbers (Iceberg v2's data_sequence_number)
        # and the live equality-delete entries
        # ([{refs, seq, field_ids, n_rows}]) they scope — an entry deletes
        # rows BY KEY VALUE from every data file with seq < entry seq
        "seqs": final_seqs,
        "eq_deletes": live_eq,
        # merge-on-read position deletes ({data_file: [delete_file, ...]});
        # only entries for files still in this snapshot are carried — a
        # rewritten/dropped data file takes its masks with it
        "delete_files": {
            f: sorted((delete_files or {}).get(f, ()))
            for f in files
            if (delete_files or {}).get(f)
        },
        "summary": {"added_files": len(added), "added_rows": added_rows,
                    "total_files": len(files),
                    # snapshot summary properties (Iceberg's summary map) —
                    # e.g. the streaming sink's exactly-once batch id
                    **({"properties": properties} if properties else {})},
        **schema_meta,
    }
    path = _manifest_path(root, new_id)
    # write the COMPLETE manifest to a temp name, fsync, then hardlink to
    # the final name: the commit point is the link — the manifest name can
    # never exist with partial content, and exactly one writer per id wins
    tmp = os.path.join(_meta_dir(root), f".snap-{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError as e:
        os.remove(tmp)
        raise CommitConflictError(
            f"snapshot {new_id} already committed by another writer "
            f"(parent {parent} is stale) — re-read and retry"
        ) from e
    os.remove(tmp)
    # advisory hint swap (atomic); a crash before this line is STILL a
    # durable commit — current_snapshot_id rolls forward over the manifest
    hint_tmp = os.path.join(_meta_dir(root), f".{_HINT}.{uuid.uuid4().hex[:8]}")
    with open(hint_tmp, "w") as f:
        f.write(str(new_id))
        f.flush()
        os.fsync(f.fileno())
    os.replace(hint_tmp, os.path.join(_meta_dir(root), _HINT))
    return new_id


def append_snapshot(
    df: DataFrame,
    root: str,
    properties: dict | None = None,
    partition_spec: list[dict] | None = None,
    distribution: str = "none",
) -> int:
    """Commit *df*'s rows as a new snapshot = parent's files + new files.
    *properties* lands in the manifest's summary (Iceberg's snapshot
    summary map — the streaming sink records its batch id there).

    *partition_spec* (``[{"source": col, "transform": ...}]``) sets or
    evolves the table's hidden-partitioning spec; ``None`` inherits the
    parent's current spec (Iceberg's default: writes use the table spec).
    Inherited files keep their own recorded tuples — spec evolution never
    invalidates old files' pruning.

    *distribution* is Iceberg's ``write.distribution-mode`` (``none`` /
    ``hash`` / ``range`` — see :func:`_write_data_files`): one extra
    shuffle on the derived partition tuple collapses the fanout writer's
    O(tasks × tuples) small files to O(tuples)."""
    init_table(root)
    parent = current_snapshot_id(root)
    if parent:
        pman = read_manifest(root, parent)
        inherited, pstats = pman["files"], pman.get("stats", {})
        pdels = pman.get("delete_files", {})
        pparts = pman.get("partitions", {})
        prows = pman.get("row_counts", {})
        psizes = pman.get("file_sizes", {})
        pblooms = pman.get("blooms", {})
        if partition_spec is None:
            partition_spec = pman.get("partition_spec", [])
        schemas, cur_sid, file_sids, last_fid = _schema_meta(pman)
        schemas, cur_sid, file_sid, last_fid = _merge_write_schema(
            schemas, cur_sid, last_fid, df.schema
        )
    else:
        inherited, pstats, pdels, pparts, prows, psizes = [], {}, {}, {}, {}, {}
        pblooms = {}
        fields = [
            _norm_field(f, i + 1)
            for i, f in enumerate(json.loads(df.schema.json())["fields"])
        ]
        schemas, cur_sid, file_sids = {0: fields}, 0, {}
        file_sid, last_fid = 0, len(fields)
    added, n_rows, _schema_json, stats, parts, rcounts, fsizes = _write_data_files(
        df, root, partition_spec, distribution
    )
    file_sids.update({f: file_sid for f in added})
    return _commit(
        root, parent, inherited + added, added, n_rows,
        json.dumps(_struct_of(schemas[cur_sid]).jsonValue()), "append",
        stats={**pstats, **stats},
        delete_files=pdels,  # inherited files keep their position masks
        properties=properties,
        partition_spec=partition_spec,
        partitions={**pparts, **parts},
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=file_sids, last_field_id=last_fid,
        row_counts={**prows, **rcounts},
        file_sizes={**psizes, **fsizes},
        blooms=pblooms,
    )


def overwrite_snapshot(
    df: DataFrame, root: str, partition_spec: list[dict] | None = None,
    distribution: str = "none",
) -> int:
    """Commit *df* as a new snapshot replacing ALL previous files (the
    Iceberg ``overwrite`` operation); old snapshots stay time-travelable
    until expired.  *partition_spec* sets/evolves the hidden-partitioning
    spec; ``None`` inherits the parent's.  *distribution* is the write
    distribution mode (see :func:`_write_data_files`)."""
    init_table(root)
    parent = current_snapshot_id(root)
    if parent:
        pman = read_manifest(root, parent)
        if partition_spec is None:
            partition_spec = pman.get("partition_spec", [])
        schemas, pcur, _fs, last_fid = _schema_meta(pman)
        # overwrite REPLACES the logical schema with the write's: same-name
        # compatible columns keep their field id (renames/widens survive a
        # replace), anything else is a brand-new field
        by_name = {f["name"]: f for f in schemas[pcur]}
        fields = []
        for sf in json.loads(df.schema.json())["fields"]:
            cf = by_name.get(sf["name"])
            if cf is not None and (
                cf["type"] == sf["type"]
                or _widens_to(sf["type"], cf["type"])
                or _widens_to(cf["type"], sf["type"])
            ):
                fields.append(_norm_field(sf, cf["id"]))
            else:
                last_fid += 1
                fields.append(_norm_field(sf, last_fid))
        schemas = dict(schemas)
        cur_sid = _intern_schema(schemas, fields)
    else:
        fields = [
            _norm_field(f, i + 1)
            for i, f in enumerate(json.loads(df.schema.json())["fields"])
        ]
        schemas, cur_sid, last_fid = {0: fields}, 0, len(fields)
    added, n_rows, _schema_json, stats, parts, rcounts, fsizes = _write_data_files(
        df, root, partition_spec, distribution
    )
    return _commit(
        root, parent, added, added, n_rows,
        json.dumps(_struct_of(fields).jsonValue()), "overwrite",
        stats=stats, partition_spec=partition_spec, partitions=parts,
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas={f: cur_sid for f in added}, last_field_id=last_fid,
        row_counts=rcounts, file_sizes=fsizes,
    )


def commit_staged_files(
    root: str,
    staged: list[str],
    write_schema: StructType,
    operation: str = "append",
    properties: dict | None = None,
) -> int:
    """Register parquet files ALREADY written by executor tasks as one
    commit — the driver half of a distributed write.  The Python
    DataSource writer (sources/spark_datasource.py) stages one file per
    task in parallel; this harvests their footers (stats / row counts /
    byte sizes — the same metadata :func:`_write_data_files` records) and
    commits the manifest, MOVING the files into the table.  Empty staged
    files are dropped (as Iceberg; a task that saw no rows never lands).

    *operation* is ``"append"`` (parent files carried, schema merged by
    name exactly as :func:`append_snapshot`) or ``"overwrite"`` (files
    replaced, schema replaced as :func:`overwrite_snapshot`).  Staged
    files carry no partition tuples (the DataSource write path is
    fanout-free); the table's current spec is inherited untouched and
    tuple-less files simply never partition-prune — the mixed-table
    safety T195 guarantees by construction."""
    import pyarrow.parquet as pq

    if operation not in ("append", "overwrite"):
        raise ValueError(f"operation must be append|overwrite, not {operation!r}")
    init_table(root)
    parent = current_snapshot_id(root)
    partition_spec: list[dict] = []
    if parent:
        pman = read_manifest(root, parent)
        partition_spec = pman.get("partition_spec", [])
        schemas, pcur, file_sids, last_fid = _schema_meta(pman)
        if operation == "append":
            inherited = pman["files"]
            pstats = pman.get("stats", {})
            pdels = pman.get("delete_files", {})
            pparts = pman.get("partitions", {})
            prows = pman.get("row_counts", {})
            psizes = pman.get("file_sizes", {})
            pblooms = pman.get("blooms", {})
            schemas, cur_sid, file_sid, last_fid = _merge_write_schema(
                schemas, pcur, last_fid, write_schema
            )
        else:
            inherited, pstats, pdels, pparts = [], {}, {}, {}
            prows, psizes, pblooms, file_sids = {}, {}, {}, {}
            by_name = {f["name"]: f for f in schemas[pcur]}
            fields = []
            for sf in json.loads(write_schema.json())["fields"]:
                cf = by_name.get(sf["name"])
                if cf is not None and (
                    cf["type"] == sf["type"]
                    or _widens_to(sf["type"], cf["type"])
                    or _widens_to(cf["type"], sf["type"])
                ):
                    fields.append(_norm_field(sf, cf["id"]))
                else:
                    last_fid += 1
                    fields.append(_norm_field(sf, last_fid))
            schemas = dict(schemas)
            cur_sid = _intern_schema(schemas, fields)
            file_sid = cur_sid
    else:
        fields = [
            _norm_field(f, i + 1)
            for i, f in enumerate(json.loads(write_schema.json())["fields"])
        ]
        schemas, cur_sid, file_sids = {0: fields}, 0, {}
        file_sid, last_fid = 0, len(fields)
        inherited, pstats, pdels, pparts = [], {}, {}, {}
        prows, psizes, pblooms = {}, {}, {}
    commit_uuid = uuid.uuid4().hex[:12]
    added: list[str] = []
    stats: dict[str, dict] = {}
    row_counts: dict[str, int] = {}
    file_sizes: dict[str, int] = {}
    n_rows = 0
    for i, src in enumerate(sorted(staged)):
        name = f"{commit_uuid}-{i:05d}.parquet"
        md = pq.ParquetFile(src).metadata
        if md.num_rows == 0:
            try:
                os.remove(src)
            except OSError:
                pass
            continue
        n_rows += md.num_rows
        stats[name] = _file_column_stats(md)
        row_counts[name] = md.num_rows
        file_sizes[name] = os.stat(src).st_size
        os.replace(src, os.path.join(_data_dir(root), name))
        added.append(name)
    file_sids = dict(file_sids)
    file_sids.update({f: file_sid for f in added})
    return _commit(
        root, parent, inherited + added, added, n_rows,
        json.dumps(_struct_of(schemas[cur_sid]).jsonValue()), operation,
        stats={**pstats, **stats},
        delete_files=pdels,
        properties=properties,
        partition_spec=partition_spec,
        partitions=pparts,
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=file_sids, last_field_id=last_fid,
        row_counts={**prows, **row_counts},
        file_sizes={**psizes, **file_sizes},
        blooms=pblooms,
    )


def table_schema(root: str, snapshot_id: int | None = None) -> list[dict]:
    """The logical schema as of *snapshot_id* (default current): a list of
    ``{"id", "name", "type", ...}`` fields — ids are Iceberg field ids,
    permanent and never reused."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(root)
    if sid is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, sid)
    schemas, cur_sid, _fs, _last = _schema_meta(man)
    return [dict(f) for f in schemas[cur_sid]]


def evolve_schema(
    root: str,
    *,
    add: list[tuple[str, str]] = (),
    drop: list[str] = (),
    rename: dict[str, str] | None = None,
    widen: dict[str, str] | None = None,
) -> int:
    """Iceberg schema evolution (``ALTER TABLE``) as a METADATA-ONLY commit
    — no data file is read or rewritten, at any table size.

    Operations apply in the order rename → widen → drop → add, each
    resolving names against the schema as the previous step left it:

    * ``rename={"old": "new"}`` — the field keeps its id, so every
      existing file still resolves (reads are by id, never by name);
    * ``widen={"col": "long"}`` — int→long / float→double (and byte/short
      upward); old files keep their physical type and cast at read time;
    * ``drop=["col"]`` — the field id is retired, NEVER reused;
    * ``add=[("col", "type")]`` — a NEW field id; existing rows read NULL.
      Re-adding a dropped column's name therefore can never resurrect the
      old values (the old id stays dropped) — Iceberg's core evolution
      guarantee, pinned in tests/test_schema_evolution.py.

    A rename also rewrites the CURRENT hidden-partition spec's source
    names (per-file tuples keep their self-described write-time spec, and
    pruning translates through the field id).  Returns the new snapshot id
    (operation ``alter-schema``); a no-op call returns the parent id.
    """
    from pyspark.sql.types import _parse_datatype_string

    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, parent)
    schemas, cur_sid, file_sids, last_fid = _schema_meta(man)
    fields = [dict(f) for f in schemas[cur_sid]]

    def find(name: str) -> dict:
        for f in fields:
            if f["name"] == name:
                return f
        raise ValueError(f"no column {name!r} in the current schema")

    for old, new in (rename or {}).items():
        f = find(old)
        if any(g["name"] == new and g is not f for g in fields):
            raise ValueError(f"rename target {new!r} already exists")
        f["name"] = new
    for name, t in (widen or {}).items():
        f = find(name)
        tj = _parse_datatype_string(t).jsonValue()
        if f["type"] == tj:
            continue
        if not _widens_to(f["type"], tj):
            raise ValueError(
                f"cannot widen {name!r} from {f['type']!r} to {tj!r} — only "
                f"int→long / float→double (and byte/short upward) promote"
            )
        f["type"] = tj
    for name in drop:
        find(name)
        fields = [f for f in fields if f["name"] != name]
    if not fields:
        raise ValueError("cannot drop every column")
    for name, t in add:
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        last_fid += 1
        fields.append(
            _norm_field(
                {"name": name, "type": _parse_datatype_string(t).jsonValue()},
                last_fid,
            )
        )
    if fields == schemas[cur_sid]:
        return parent  # no-op evolution commits nothing (as Iceberg)
    schemas = dict(schemas)
    new_cur = _intern_schema(schemas, fields)
    spec = [dict(e) for e in man.get("partition_spec", [])]
    for e in spec:
        e["source"] = (rename or {}).get(e["source"], e["source"])
    return _commit(
        root, parent, man["files"], [], 0,
        json.dumps(_struct_of(fields).jsonValue()), "alter-schema",
        stats=man.get("stats", {}),
        delete_files=man.get("delete_files", {}),
        partition_spec=spec,
        partitions=man.get("partitions", {}),
        schemas=schemas, current_schema_id=new_cur,
        file_schemas=file_sids, last_field_id=last_fid,
        row_counts=man.get("row_counts", {}),
        file_sizes=man.get("file_sizes", {}),
        blooms=man.get("blooms", {}),
    )


# ---------------------------------------------------------------------------
# Per-file bloom filters (T207) — Iceberg-Puffin-style secondary stats for
# POINT lookups on high-cardinality columns, where min/max bounds prune
# nothing (a hash-distributed url/id column spans the full value range in
# every file).  Bitmaps live in sidecar ``blm-*.bin`` files under data/
# (sharing the expiry/orphan lifecycle); the manifest records, per data
# file and FIELD ID (rename-proof), {ref, m, k}.  Build and probe share
# one deterministic hash (md5 → Kirsch-Mitzenmacher double hashing over
# the value's canonical string form, the same canonicalization as bucket
# transforms), so a planner probe can never disagree with the build.
# Blooms have no false negatives ⇒ pruning stays provable-only; a false
# positive just keeps a file the row-wise re-filter empties.
# ---------------------------------------------------------------------------


def _bloom_positions(value, m_bits: int, k: int) -> list[int]:
    import hashlib

    d = hashlib.md5(str(value).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m_bits for i in range(k)]


def _bloom_might_contain(root: str, meta: dict, val, _cache: dict) -> bool:
    """Probe one file's sidecar bloom; True = the file may contain *val*
    (missing/unreadable sidecars read as True — never optimistic)."""
    ref = meta["ref"]
    bits = _cache.get(ref)
    if bits is None:
        try:
            with open(os.path.join(_data_dir(root), ref), "rb") as f:
                bits = f.read()
        except OSError:
            return True
        _cache[ref] = bits
    for p in _bloom_positions(val, int(meta["m"]), int(meta["k"])):
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


# predicate ops understood by the manifest pruner; a file is skipped when
# its [lo, hi] bounds PROVE no row can satisfy the conjunct
_PRUNE_OPS = {
    "==": lambda lo, hi, v: v < lo or v > hi,
    ">=": lambda lo, hi, v: hi < v,
    ">": lambda lo, hi, v: hi <= v,
    "<=": lambda lo, hi, v: lo > v,
    "<": lambda lo, hi, v: lo >= v,
}


def plan_scan(
    root: str, snapshot_id: int, filters: list[tuple] | None
) -> tuple[list[str], list[str]]:
    """Manifest-level scan planning — Iceberg's min/max file pruning:
    given ``filters`` as ANDed ``(column, op, literal)`` conjuncts (op in
    ==, >=, >, <=, <, or ``("col", "in", values)`` — the runtime-filter /
    DPP shape, where a file survives iff ANY value might be present),
    split the snapshot's files into (kept, skipped)
    using ONLY the manifest's per-file bounds.  No data file is opened: at
    10⁶ files on object storage this is one JSON read versus 10⁶ footer
    GETs.  Files with no recorded bounds for a filtered column are always
    kept (pruning is never optimistic); the caller re-applies the full
    predicate row-wise, so pruning can only skip provably-dead files.
    """
    man = read_manifest(root, snapshot_id)
    stats = man.get("stats", {})
    partitions = man.get("partitions", {})
    blooms = man.get("blooms", {})
    bloom_cache: dict[str, bytes] = {}
    schemas, cur_sid, file_sids, _ = _schema_meta(man)
    cur_ids = {f["name"]: f["id"] for f in schemas[cur_sid]}
    kept, skipped = [], []
    for f in man["files"]:
        bounds = stats.get(f, {})
        part = partitions.get(f) or {}
        slots = list(zip(part.get("spec", ()), part.get("values", ())))
        # stats and partition tuples are recorded under the file's
        # WRITE-TIME column names; resolve today's filter names through
        # the field id to the name this file was written with (rename-safe)
        by_id = {
            fd["id"]: fd["name"] for fd in schemas[file_sids.get(f, cur_sid)]
        }

        def _scalar_dead(pname: str, fid, op: str, v) -> bool:
            """One value provably absent from file *f* by ANY prover:
            min/max bounds, the file's self-described partition tuple,
            or (== only — blooms answer membership) its bloom sidecar;
            sidecars load lazily and only for files the cheaper checks
            kept."""
            if pname in bounds:
                lo, hi = bounds[pname]
                if _PRUNE_OPS[op](lo, hi, v):
                    return True
            # hidden-partition pruning: each file prunes under the spec
            # it was WRITTEN with (self-described tuple), so spec
            # evolution and mixed tables stay safe
            if any(
                entry["source"] == pname
                and _partition_prunes(entry, pv, op, v)
                for entry, pv in slots
            ):
                return True
            bmeta = blooms.get(f, {}).get(str(fid)) if fid else None
            return bool(
                op == "=="
                and bmeta
                and not _bloom_might_contain(root, bmeta, v, bloom_cache)
            )

        dead = False
        for col, op, val in filters or []:
            if op not in _PRUNE_OPS and op != "in":
                raise ValueError(f"unsupported prune op {op!r}")
            fid = cur_ids.get(col)
            pname = by_id.get(fid, col) if fid is not None else col
            if fid is not None and fid not in by_id:
                # the file predates the column: every row reads NULL and
                # NULL satisfies no comparison (nor IN) — provably dead
                dead = True
                break
            if op == "in":
                # the runtime-filter / DPP shape: the file survives iff
                # ANY value might be present; every prover gets a shot
                # at every value, short-circuiting on the first survivor.
                # NULLs never match an IN (SQL three-valued logic), so
                # they prune away; an empty list matches nothing — dead.
                vals = [v for v in val if v is not None]
                if all(_scalar_dead(pname, fid, "==", v) for v in vals):
                    dead = True
                    break
            elif _scalar_dead(pname, fid, op, val):
                dead = True
                break
        (skipped if dead else kept).append(f)
    return kept, skipped


def _deleted_positions(data_dir: str, delete_files: list[str]):
    """Union of row positions recorded by *delete_files* (sorted int64
    numpy array; possibly empty)."""
    import numpy as np
    import pyarrow.parquet as pq

    if not delete_files:
        return np.empty(0, dtype=np.int64)
    chunks = [
        pq.read_table(os.path.join(data_dir, d), columns=["pos"])
        .column("pos")
        .to_numpy(zero_copy_only=False)
        for d in delete_files
    ]
    return np.unique(np.concatenate(chunks)).astype(np.int64)


def _merge_read(
    spark: SparkSession,
    root: str,
    schema: StructType,
    files: list[str],
    dels: dict[str, list[str]],
    file_col: str | None = None,
    projs: dict[str, list] | None = None,
) -> DataFrame:
    """Arrow merge-read for data files carrying position deletes: each task
    opens ITS data file (executor-side, as Iceberg readers do), masks the
    deleted positions, and emits the surviving rows.  Work is distributed
    over the FILE list — driver traffic is file names only.  Files without
    deletes never take this path (they keep the vectorized parquet scan).

    *projs* carries each file's field-id projection (physical name → the
    logical schema; None = the file predates the field and reads NULL), so
    schema evolution — rename/widen/add — resolves identically on this path
    and the vectorized one."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    data_dir = _data_dir(root)
    names = [f.name for f in schema.fields]
    projs = projs or {}
    tasks = [
        (
            f,
            json.dumps(dels[f]),
            json.dumps(projs.get(f, [(n, n) for n in names])),
        )
        for f in files
    ]
    n_parts = max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
    plan = spark.createDataFrame(
        tasks, "file string, dels string, proj string"
    ).repartition(n_parts, "file")
    out_schema = StructType(list(schema.fields))
    if file_col is not None:
        out_schema = out_schema.add(file_col, StringType())

    def scan(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in batches:
            for fname, dels_json, proj_json in zip(
                pdf["file"], pdf["dels"], pdf["proj"]
            ):
                proj = json.loads(proj_json)
                phys = [pn for pn, _ln in proj if pn is not None]
                tab = pq.read_table(
                    os.path.join(data_dir, fname), columns=phys
                )
                dead = _deleted_positions(data_dir, json.loads(dels_json))
                if dead.size:
                    keep = np.ones(tab.num_rows, dtype=bool)
                    keep[dead[dead < tab.num_rows]] = False
                    tab = tab.filter(pa.array(keep))
                raw = tab.to_pandas()
                out = pd.DataFrame(index=raw.index)
                for pn, ln in proj:
                    out[ln] = raw[pn] if pn is not None else None
                if file_col is not None:
                    out[file_col] = fname
                yield out

    return plan.mapInPandas(scan, schema=out_schema)


def _read_file_set_raw(
    spark: SparkSession,
    root: str,
    man: dict,
    files: list[str],
    file_col: str | None = None,
) -> DataFrame:
    """Scan *files* under *man*'s logical schema with position-delete
    masks applied — the physical body of read_snapshot.  Equality deletes
    are applied by the :func:`_read_file_set` wrapper (they scope by
    sequence number across files; masks scope per file)."""
    from pyspark.sql import functions as F

    schema = StructType.fromJson(man["schema"])
    dels = man.get("delete_files", {})
    clean = [f for f in files if f not in dels]
    dirty = [f for f in files if f in dels]
    schemas, cur_sid, file_sids, _ = _schema_meta(man)
    cur_fields = schemas[cur_sid]
    parts: list[DataFrame] = []
    if clean:
        # group files by their PHYSICAL write schema; each group scans with
        # its own parquet schema and projects onto the logical one by field
        # id (rename/widen/add resolve here) — a group already at the
        # logical schema projects to bare column refs, keeping the plain
        # vectorized scan
        groups: dict[int, list[str]] = {}
        for f in clean:
            groups.setdefault(file_sids.get(f, cur_sid), []).append(f)
        for sid in sorted(groups):
            paths = [os.path.join(_data_dir(root), f) for f in groups[sid]]
            df = spark.read.schema(_struct_of(schemas[sid])).parquet(*paths)
            extra = ()
            if file_col is not None:
                df = df.withColumn(
                    file_col,
                    F.element_at(F.split(F.input_file_name(), "/"), -1),
                )
                extra = (file_col,)
            parts.append(_project_group(df, cur_fields, schemas[sid], extra))
    if dirty:
        parts.append(
            _merge_read(
                spark, root, schema, dirty, dels, file_col,
                projs={f: _file_projection(man, f) for f in dirty},
            )
        )
    if not parts:
        out_schema = StructType(list(schema.fields))
        if file_col is not None:
            from pyspark.sql.types import StringType

            out_schema = out_schema.add(file_col, StringType())
        return spark.createDataFrame([], out_schema)
    df = parts[0]
    for extra in parts[1:]:
        df = df.unionByName(extra)
    return df


def _eq_entry_keys(
    spark: SparkSession, root: str, man: dict, entries: list[dict]
) -> DataFrame:
    """One deduplicated key frame for same-keyset *entries*: the recorded
    key tuples, resolved to the CURRENT logical names by field id
    (rename-proof — each entry stores the names it wrote under in
    ``cols[field_id]``) and cast to the current logical types (so a column
    widened after the delete still matches; widening casts are exact)."""
    from pyspark.sql import functions as F

    schemas, cur_sid, _fs, _last = _schema_meta(man)
    by_id = {f["id"]: f for f in schemas[cur_sid]}
    fids = sorted(int(i) for i in entries[0]["field_ids"])
    parts = []
    for e in entries:
        paths = [os.path.join(_data_dir(root), r) for r in e["refs"]]
        df = spark.read.parquet(*paths)
        cols = []
        for fid in fids:
            lf = by_id[fid]
            dt = _struct_of([lf]).fields[0].dataType
            cols.append(F.col(e["cols"][str(fid)]).cast(dt).alias(lf["name"]))
        parts.append(df.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def _apply_eq_deletes(
    spark: SparkSession, root: str, man: dict, df: DataFrame,
    entries: list[dict],
) -> DataFrame:
    """Drop from *df* every row matching any of *entries*' key tuples —
    one broadcast LEFT ANTI join per distinct keyset (entries sharing a
    keyset union their keys first).  Matching is null-safe (IS NOT
    DISTINCT FROM), as the Iceberg spec requires for equality deletes."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    schemas, cur_sid, _fs, _last = _schema_meta(man)
    by_id = {f["id"]: f for f in schemas[cur_sid]}
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for e in entries:
        groups[tuple(sorted(int(i) for i in e["field_ids"]))].append(e)
    for fids in sorted(groups):
        keys = _eq_entry_keys(spark, root, man, groups[fids])
        names = [by_id[fid]["name"] for fid in fids]
        k = keys.select(
            *[F.col(n).alias(f"__eqk_{i}") for i, n in enumerate(names)]
        )
        cond = None
        for i, n in enumerate(names):
            c = F.col(n).eqNullSafe(F.col(f"__eqk_{i}"))
            cond = c if cond is None else (cond & c)
        df = df.join(F.broadcast(k), cond, "left_anti")
    return df


def _read_file_set(
    spark: SparkSession,
    root: str,
    man: dict,
    files: list[str],
    file_col: str | None = None,
) -> DataFrame:
    """Scan *files* under *man*'s logical schema with ALL deletes applied
    — the body of read_snapshot, reusable on a file SUBSET (partial
    compaction reads only its input files through this; applying equality
    deletes HERE is what keeps a partial rewrite from resurrecting
    deleted rows under a fresh sequence number).

    Equality deletes (v2) scope at PLAN time by data sequence number: an
    entry deletes rows only from files written STRICTLY BEFORE it, so the
    file list partitions into groups by applicable-entry set — files no
    entry applies to (everything written after the last delete, or any
    table that never saw one) keep the untouched vectorized path."""
    eq = man.get("eq_deletes", [])
    if not eq:
        return _read_file_set_raw(spark, root, man, files, file_col)
    seqs = man.get("seqs", {})
    groups: dict[tuple, list[str]] = {}
    for f in files:
        key = tuple(
            i for i, e in enumerate(eq)
            if int(seqs.get(f, 0)) < int(e["seq"])
        )
        groups.setdefault(key, []).append(f)
    if not groups:
        return _read_file_set_raw(spark, root, man, [], file_col)
    parts = []
    for key in sorted(groups):
        df = _read_file_set_raw(spark, root, man, groups[key], file_col)
        if key:
            df = _apply_eq_deletes(
                spark, root, man, df, [eq[i] for i in key]
            )
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fast_count(spark: SparkSession, root: str, snapshot_id: int | None = None) -> int:
    """Metadata-only ``COUNT(*)`` — Iceberg's manifest count: the row
    count of a snapshot WITHOUT scanning data files.

    Three tiers, each exact:

    - files with no deletes: the manifest's per-file ``record_count``
      (harvested once at write from the parquet footer) — zero I/O;
    - files carrying position-delete masks: recorded rows minus the
      masked positions, read from the (O(deleted rows)-sized) delete
      files — the union is deduplicated exactly as the scan does, so
      stacked overlapping masks never double-subtract;
    - files an equality-delete entry applies to (strict ``seq <`` rule):
      metadata CANNOT answer these — an entry deletes by VALUE — so
      exactly those file groups are counted through the real read path
      (:func:`_read_file_set` with the anti-joins), while every other
      file stays on the metadata tiers.  A freshly-compacted table (the
      steady state — compaction purges entries) never pays this.

    Legacy files missing a record_count fall back to one driver footer
    read.  The result always equals ``read_snapshot(...).count()``."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(root)
    if sid is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, sid)
    rcounts = man.get("row_counts", {})
    dels = man.get("delete_files", {})
    eq = man.get("eq_deletes", [])
    seqs = man.get("seqs", {})
    data_dir = _data_dir(root)
    eq_files = [
        f for f in man["files"]
        if any(int(seqs.get(f, 0)) < int(e["seq"]) for e in eq)
    ]
    total = 0
    for f in man["files"]:
        if f in eq_files:
            continue
        n = rcounts.get(f)
        if n is None:  # legacy manifest: one footer read, never a scan
            import pyarrow.parquet as pq

            n = pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
        if f in dels:
            dead = _deleted_positions(data_dir, dels[f])
            n -= int((dead < n).sum())
        total += int(n)
    if eq_files:
        total += _read_file_set(spark, root, man, eq_files).count()
    return total


def snapshot_as_of(root: str, ts: float) -> int:
    """Iceberg's ``TIMESTAMP AS OF``: the snapshot that was current at
    wall-clock *ts* — the latest commit whose timestamp is <= ts (every
    commit became current the moment it landed; a later rollback re-
    publishes the old content as a NEW commit, so resolution stays a
    simple scan of the made-current log).  Raises if the table has no
    commit that old (either never existed yet, or expiry dropped it —
    time travel only reaches retained history)."""
    best = None
    for man in snapshot_log(root):
        if man["ts"] <= ts and (best is None or man["ts"] > best[1]):
            best = (man["snapshot_id"], man["ts"])
    if best is None:
        raise ValueError(
            f"no retained snapshot at or before ts={ts} in {root}"
        )
    return best[0]


def read_snapshot(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    filters: list[tuple] | None = None,
    _file_col: str | None = None,
    ref: str | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """The table as of *snapshot_id* (default: current) — Iceberg's
    ``VERSION AS OF``.  Returns an empty, correctly-typed frame for an
    empty table or an empty snapshot.

    With ``filters`` (ANDed ``(column, op, literal)`` conjuncts) the scan
    is manifest-pruned first (:func:`plan_scan` — files whose min/max
    bounds prove the predicate false never reach Spark) and the SAME
    predicate is applied row-wise, so the result is always exactly
    ``read_snapshot(...).filter(predicate)`` — pruning changes cost,
    never values.

    Position deletes (:func:`delete_from`) are applied at scan time:
    files with no delete masks keep Spark's vectorized parquet path; only
    files carrying deletes take the Arrow merge-read path.  ``_file_col``
    (internal) additionally exposes each row's data-file name — both scan
    branches provide it, which is what lets :func:`merge_into` stay
    file-granular over a table with outstanding deletes."""
    from pyspark.sql import functions as F

    if sum(x is not None for x in (snapshot_id, ref, as_of_ts)) > 1:
        raise ValueError("pass at most one of snapshot_id / ref / as_of_ts")
    if ref is not None:
        snapshot_id = resolve_ref(root, ref)
    elif as_of_ts is not None:
        snapshot_id = snapshot_as_of(root, as_of_ts)
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(root)
    if sid is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, sid)
    if filters:
        files, _ = plan_scan(root, sid, filters)
    else:
        files = man["files"]
    df = _read_file_set(spark, root, man, files, _file_col)
    for col, op, val in filters or []:
        c = F.col(col)
        if op == "in":
            vals = [v for v in val if v is not None]
            df = df.filter(c.isin(vals) if vals else F.lit(False))
        else:
            df = df.filter(
                {"==": c == val, ">=": c >= val, ">": c > val,
                 "<=": c <= val, "<": c < val}[op]
            )
    return df


def delete_from(spark: SparkSession, root: str, filters: list[tuple]) -> int:
    """Iceberg v2 merge-on-read ``DELETE FROM table WHERE <filters>``:
    commit parquet *position-delete files* instead of rewriting data files.

    Planning reuses :func:`plan_scan` — files whose manifest bounds prove
    the predicate false are never opened.  Each candidate file is then
    scanned executor-side reading ONLY the filtered columns, matched
    positions (minus positions already deleted) are written as one
    ``del-*.parquet`` per data file, and the commit records the mapping.
    Data files are never rewritten — a delete matching 0.1% of rows costs
    I/O proportional to the matched files, never the table.  A delete
    matching nothing commits nothing and returns the parent id (Iceberg
    skips empty commits).  History stays time-travelable: reads of the
    parent snapshot ignore the new delete files by construction.

    Trade-offs mirror Iceberg v2: reads of masked files pay a merge cost
    until :func:`rewrite_data_files` (major compaction) applies and purges
    the masks.  Incremental append reads refuse to cross a delete commit,
    as upstream does."""
    for _, op, _v in filters:
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported delete op {op!r}")
    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, parent)
    cols = {f["name"] for f in man["schema"]["fields"]}
    for c, _op, _v in filters:
        if c not in cols:
            raise ValueError(f"unknown column {c!r} in delete predicate")
    candidates, _ = plan_scan(root, parent, filters)
    existing = man.get("delete_files", {})
    new_dels: dict[str, list[str]] = {}
    if candidates:
        data_dir = _data_dir(root)
        # resolve each candidate file's PHYSICAL names for the filtered
        # columns through the field ids (rename-safe); plan_scan already
        # dropped files that predate a filtered column (NULL never matches)
        schemas, cur_sid, file_sids, _ = _schema_meta(man)
        cur_ids = {f["name"]: f["id"] for f in schemas[cur_sid]}
        filter_cols = sorted({c for c, _o, _v in filters})

        def colmap(fname: str) -> dict[str, str]:
            by_id = {
                fd["id"]: fd["name"]
                for fd in schemas[file_sids.get(fname, cur_sid)]
            }
            return {c: by_id[cur_ids[c]] for c in filter_cols}

        tasks = [
            (f, json.dumps(existing.get(f, [])), json.dumps(colmap(f)))
            for f in sorted(candidates)
        ]
        n_parts = max(
            1, min(len(tasks), spark.sparkContext.defaultParallelism)
        )
        plan = spark.createDataFrame(
            tasks, "file string, dels string, cols string"
        ).repartition(n_parts, "file")
        flt = list(filters)

        def find_positions(batches):
            import numpy as np
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            ops = {
                "==": lambda s, v: s == v,
                ">=": lambda s, v: s >= v,
                ">": lambda s, v: s > v,
                "<=": lambda s, v: s <= v,
                "<": lambda s, v: s < v,
            }
            for pdf in batches:
                for fname, dels_json, cols_json in zip(
                    pdf["file"], pdf["dels"], pdf["cols"]
                ):
                    cmap = json.loads(cols_json)
                    tab = pq.read_table(
                        os.path.join(data_dir, fname),
                        columns=sorted(set(cmap.values())),
                    )
                    frame = tab.to_pandas()
                    mask = np.ones(len(frame), dtype=bool)
                    for c, op, v in flt:
                        mask &= ops[op](frame[cmap[c]], v).to_numpy(dtype=bool)
                    pos = np.flatnonzero(mask).astype(np.int64)
                    dead = _deleted_positions(data_dir, json.loads(dels_json))
                    if dead.size:
                        pos = pos[~np.isin(pos, dead)]
                    if pos.size == 0:
                        continue
                    dname = f"del-{uuid.uuid4().hex[:12]}.parquet"
                    tmp = os.path.join(data_dir, f".{dname}.tmp")
                    pq.write_table(
                        pa.table({"pos": pa.array(pos, type=pa.int64())}), tmp
                    )
                    os.replace(tmp, os.path.join(data_dir, dname))
                    yield pd.DataFrame(
                        {"data_file": [str(fname)], "delete_file": [dname],
                         "n_deleted": [int(pos.size)]}
                    )

        planned = plan.mapInPandas(
            find_positions,
            schema="data_file string, delete_file string, n_deleted long",
        ).collect()  # bounded by the matched-file count, never rows
        for r in planned:
            new_dels.setdefault(r["data_file"], []).append(r["delete_file"])
    if not new_dels:
        return parent
    merged = {
        f: existing.get(f, []) + new_dels.get(f, [])
        for f in set(existing) | set(new_dels)
    }
    pschemas, pcur, pfsids, plast = _schema_meta(man)
    return _commit(
        root, parent, man["files"], [], 0, json.dumps(man["schema"]),
        "delete", stats=man.get("stats", {}), delete_files=merged,
        partition_spec=man.get("partition_spec", []),
        partitions=man.get("partitions", {}),
        schemas=pschemas, current_schema_id=pcur,
        file_schemas=pfsids, last_field_id=plast,
        row_counts=man.get("row_counts", {}),
        file_sizes=man.get("file_sizes", {}),
        blooms=man.get("blooms", {}),
    )


def _write_eq_delete_files(keys: DataFrame, root: str) -> tuple[list[str], int]:
    """Write *keys* (assumed already distinct) as ``eqdel-*.parquet``
    under data/ — one Spark write, empty shuffle parts skipped.  Returns
    (relative names, n_keys); n_keys == 0 writes nothing."""
    import pyarrow.parquet as pq

    commit_uuid = uuid.uuid4().hex[:12]
    staging = os.path.join(root, f".staging-eqdel-{commit_uuid}")
    keys.write.mode("overwrite").parquet(staging)
    names: list[str] = []
    n_keys = 0
    parts = sorted(
        p for p in os.listdir(staging) if p.endswith(".parquet")
    )
    for i, part in enumerate(parts):
        src = os.path.join(staging, part)
        md = pq.ParquetFile(src).metadata
        if md.num_rows == 0:
            continue
        name = f"eqdel-{commit_uuid}-{i:05d}.parquet"
        os.replace(src, os.path.join(_data_dir(root), name))
        names.append(name)
        n_keys += md.num_rows
    shutil.rmtree(staging, ignore_errors=True)
    return names, n_keys


def _eq_key_fields(man: dict, key_schema: StructType) -> list[dict]:
    """Validate an equality-delete key schema against *man*'s current
    logical schema and return the matched logical fields.  Keys resolve by
    name at WRITE time but are recorded by field id (rename-proof after).
    A key column must exist, and its type must equal the logical type or
    widen exactly into it (int keys on a long column match after the cast;
    long keys on an int column could overflow-wrap — refused)."""
    schemas, cur_sid, _fs, _last = _schema_meta(man)
    by_name = {f["name"]: f for f in schemas[cur_sid]}
    out = []
    for sf in json.loads(key_schema.json())["fields"]:
        lf = by_name.get(sf["name"])
        if lf is None:
            raise ValueError(
                f"unknown key column {sf['name']!r} in equality delete"
            )
        if not (sf["type"] == lf["type"] or _widens_to(sf["type"], lf["type"])):
            raise ValueError(
                f"key column {sf['name']!r}: type {sf['type']!r} does not "
                f"match table type {lf['type']!r} (exact or widening only)"
            )
        out.append(lf)
    if not out:
        raise ValueError("equality delete needs at least one key column")
    return out


def delete_where_eq(spark: SparkSession, root: str, keys: DataFrame) -> int:
    """Iceberg v2 EQUALITY DELETE: delete every row whose key columns
    match a row of *keys* — committing ONLY the key values
    (``eqdel-*.parquet``), never scanning or rewriting a data file.

    This is the CDC/streaming delete: commit cost is O(|keys|) no matter
    how large the table is.  :func:`delete_from` (position deletes) scans
    the matched files at delete time to find row positions; an equality
    delete defers that work to read time, where it is a broadcast
    anti-join.  Scoping is by *data sequence number* (Iceberg v2's
    ``data_sequence_number`` rule): the entry applies only to files
    written STRICTLY BEFORE it, so a later append of the same key is
    visible — :func:`upsert_eq` relies on exactly this to delete+insert in
    one commit.  Matching is null-safe (IS NOT DISTINCT FROM, per the
    Iceberg spec).  Files newer than every entry keep the untouched
    vectorized scan; a major compaction / overwrite re-sequences every
    file, so the commit path purges dead entries automatically and their
    key files age out with snapshot expiry.

    Key columns resolve by name now but are recorded by FIELD ID, so the
    entry keeps applying across renames and widens (like column stats).
    An empty *keys* frame, or a table with no data files, commits nothing
    and returns the parent id (no empty commits, as Iceberg)."""
    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, parent)
    key_fields = _eq_key_fields(man, keys.schema)
    if not man["files"]:
        return parent  # nothing older than the entry could ever exist
    names, n_keys = _write_eq_delete_files(keys.distinct(), root)
    if n_keys == 0:
        return parent
    entry = {
        "refs": names,
        "seq": parent + 1,
        "field_ids": [lf["id"] for lf in key_fields],
        "cols": {str(lf["id"]): lf["name"] for lf in key_fields},
        "n_rows": n_keys,
    }
    schemas, cur_sid, file_sids, last_fid = _schema_meta(man)
    return _commit(
        root, parent, man["files"], [], 0, json.dumps(man["schema"]),
        "eq-delete",
        stats=man.get("stats", {}),
        delete_files=man.get("delete_files", {}),
        partition_spec=man.get("partition_spec", []),
        partitions=man.get("partitions", {}),
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=file_sids, last_field_id=last_fid,
        row_counts=man.get("row_counts", {}),
        file_sizes=man.get("file_sizes", {}),
        blooms=man.get("blooms", {}),
        eq_deletes=man.get("eq_deletes", []) + [entry],
        properties={"eq_delete_keys": n_keys},
    )


def upsert_eq(
    spark: SparkSession,
    root: str,
    rows: DataFrame,
    key_cols: list[str],
    properties: dict | None = None,
) -> int:
    """Flink-style Iceberg v2 UPSERT in ONE commit: an equality-delete
    entry on *key_cols* plus the appended *rows*, both at the new
    snapshot's sequence number.  The strict ``seq <`` rule makes the entry
    delete every OLDER version of the batch's keys while leaving the
    batch's own rows (same sequence) visible — the classical
    changelog-to-table sink.

    Cost is O(|batch|) regardless of table size: :func:`merge_into` (COW)
    reads the affected slice and rewrites every affected data file; this
    writes only the batch and its key values.  The price moves to read
    time (the anti-join) until compaction re-sequences the table.
    Duplicate keys WITHIN the batch fail loudly — two versions of one key
    in one commit would BOTH survive (neither is older than the other);
    resolve order upstream, e.g. with the T203 last-wins reduction.
    On an empty table this is a plain append."""
    from pyspark.sql import functions as F

    for c in key_cols:
        if c not in rows.columns:
            raise ValueError(f"key column {c!r} not in the upsert batch")
    init_table(root)
    parent = current_snapshot_id(root)
    if parent is None:
        return append_snapshot(rows, root, properties=properties)
    dup = (
        rows.groupBy(*[F.col(c) for c in key_cols])
        .count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        key_repr = {c: dup[0][c] for c in key_cols}
        raise ValueError(
            f"duplicate key in upsert batch: {key_repr} — both versions "
            f"would survive one commit; reduce to one row per key first"
        )
    man = read_manifest(root, parent)
    key_fields = _eq_key_fields(man, rows.select(*key_cols).schema)
    spec = man.get("partition_spec", [])
    schemas, cur_sid, file_sids, last_fid = _schema_meta(man)
    schemas, cur_sid, file_sid, last_fid = _merge_write_schema(
        schemas, cur_sid, last_fid, rows.schema
    )
    added, n_rows, _sj, stats, parts, rcounts, fsizes = _write_data_files(
        rows, root, spec
    )
    file_sids.update({f: file_sid for f in added})
    eq_entries = man.get("eq_deletes", [])
    if man["files"]:  # entry on an empty table would be dead on arrival
        names, n_keys = _write_eq_delete_files(
            rows.select(*key_cols).distinct(), root
        )
        if n_keys:
            eq_entries = eq_entries + [{
                "refs": names,
                "seq": parent + 1,
                "field_ids": [lf["id"] for lf in key_fields],
                "cols": {str(lf["id"]): lf["name"] for lf in key_fields},
                "n_rows": n_keys,
            }]
    return _commit(
        root, parent, man["files"] + added, added, n_rows,
        json.dumps(_struct_of(schemas[cur_sid]).jsonValue()), "upsert",
        stats={**man.get("stats", {}), **stats},
        properties=properties,
        delete_files=man.get("delete_files", {}),
        partition_spec=spec,
        partitions={**man.get("partitions", {}), **parts},
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=file_sids, last_field_id=last_fid,
        row_counts={**man.get("row_counts", {}), **rcounts},
        file_sizes={**man.get("file_sizes", {}), **fsizes},
        blooms=man.get("blooms", {}),
        eq_deletes=eq_entries,
    )


def read_appends_between(
    spark: SparkSession, root: str, from_id: int, to_id: int
) -> DataFrame:
    """Iceberg's incremental append scan: ONLY the rows added between
    snapshot *from_id* (exclusive) and *to_id* (inclusive) — the files in
    *to_id*'s manifest that *from_id*'s does not list.

    This is the incremental-consumption contract a daily pipeline wants: a
    consumer remembers the last snapshot it processed and reads only the
    delta — never rescanning the accumulated table.  Defined ONLY across
    pure ``append`` commits (Iceberg's own restriction): an overwrite/
    replace/merge in the range rewrites existing rows into new files,
    which an "appends" reader would double-report — so any such boundary
    raises instead of silently misreporting.
    """
    if from_id >= to_id:
        raise ValueError(f"need from_id < to_id, got {from_id} >= {to_id}")
    man_to = read_manifest(root, to_id)
    # walk the lineage to guarantee every commit in (from, to] is an append
    sid = to_id
    while sid > from_id:
        man = read_manifest(root, sid)
        # metadata-only commits (schema changes, stats) add no files, so
        # an appends-only range crosses them (as Iceberg's incremental read)
        if man["operation"] not in ("append", "alter-schema", "compute-stats"):
            raise ValueError(
                f"snapshot {sid} is '{man['operation']}' — incremental "
                f"append reads are only defined across append commits"
            )
        sid = man["parent_id"] or 0
        if sid < from_id:
            raise ValueError(f"snapshot {from_id} is not an ancestor of {to_id}")
    old_files = set(read_manifest(root, from_id)["files"])
    new_files = [f for f in man_to["files"] if f not in old_files]
    return read_files_projected(spark, root, man_to, new_files)


def read_files_projected(
    spark: SparkSession, root: str, man: dict, files: list[str]
) -> DataFrame:
    """Read *files* projected onto *man*'s logical schema — grouped by
    physical write schema and resolved by field id, exactly as
    read_snapshot's clean path — so incremental consumers see deltas under
    the manifest's logical schema even across renames/widens."""
    schema = StructType.fromJson(man["schema"])
    if not files:
        return spark.createDataFrame([], schema)
    schemas, cur_sid, file_sids, _ = _schema_meta(man)
    groups: dict[int, list[str]] = {}
    for f in files:
        groups.setdefault(file_sids.get(f, cur_sid), []).append(f)
    parts = []
    for sid in sorted(groups):
        paths = [os.path.join(_data_dir(root), f) for f in groups[sid]]
        df = spark.read.schema(_struct_of(schemas[sid])).parquet(*paths)
        parts.append(_project_group(df, schemas[cur_sid], schemas[sid]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key_col: str,
    properties: dict | None = None,
    when_matched: str = "update",
    when_not_matched: str = "insert",
) -> int:
    """Iceberg's copy-on-write ``MERGE INTO`` at FILE granularity: only
    data files that contain a matched key are rewritten; every untouched
    file is carried into the new snapshot BY NAME, never re-read or
    re-written.

    The WHEN clauses mirror Iceberg's MERGE grammar:

    * ``when_matched="update"`` (default) — matched target rows are
      replaced by their source rows; ``"delete"`` — matched target rows
      are removed and their source rows discarded;
    * ``when_not_matched="insert"`` (default) — unmatched source rows are
      inserted; ``"ignore"`` — they are dropped.

    The default pair is the upsert fast path (kept rows ∪ source, no key
    classification needed); other pairs classify the source against the
    AFFECTED files' keys only — a matched key by definition lives in an
    affected file, so the classification join is bounded by the rewritten
    slice, never the table.

    That file granularity is the 100-TB property: a merge touching 0.1% of
    keys rewrites ~0.1% of files (plus the source), not the table.  The
    affected-file set is found with one distributed semi-join over
    ``input_file_name()`` and collected as FILE NAMES — driver transfer
    bounded by the file count, never row count.  History stays
    time-travelable; commit conflicts surface as CommitConflictError.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete: {when_matched}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"when_not_matched must be insert|ignore: {when_not_matched}"
        )
    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, parent)
    schema = StructType.fromJson(man["schema"])
    if set(source.columns) != {f.name for f in schema.fields}:
        raise ValueError(
            f"source columns {sorted(source.columns)} != table columns "
            f"{sorted(f.name for f in schema.fields)}"
        )
    from pyspark.sql import functions as F

    # _file_col is delete-aware: rows surviving a position mask still carry
    # their data file's name, so the affected-file detection below stays
    # file-granular over a table with outstanding MOR deletes
    cur = read_snapshot(spark, root, parent, _file_col="_file")
    keys = source.select(key_col).distinct()
    affected = {
        r["_file"]
        for r in cur.join(keys, key_col, "left_semi")
        .select("_file")
        .distinct()
        .collect()
    }
    untouched = [f for f in man["files"] if f not in affected]
    if when_matched == "update" and when_not_matched == "insert":
        src_part = source  # upsert fast path: semi ∪ anti = all of source
    else:
        # classify source rows against the affected files' keys only —
        # every matched key lives in an affected file by construction
        aff_keys = (
            cur.filter(
                F.col("_file").isin(*affected) if affected else F.lit(False)
            )
            .select(key_col)
            .distinct()
        )
        parts = []
        if when_matched == "update":
            parts.append(source.join(aff_keys, key_col, "left_semi"))
        if when_not_matched == "insert":
            parts.append(source.join(aff_keys, key_col, "left_anti"))
        src_part = None
        for p in parts:
            src_part = p if src_part is None else src_part.unionByName(p)
    if affected:
        kept_rows = (
            cur.filter(F.col("_file").isin(*affected))
            .drop("_file")
            .join(keys, key_col, "left_anti")
        )
        new_data = (
            kept_rows
            if src_part is None
            else kept_rows.unionByName(src_part)
        )
    elif src_part is None:
        new_data = spark.createDataFrame([], schema)
    else:
        new_data = src_part
    spec = man.get("partition_spec", [])
    added, n_rows, _schema_json, stats, parts, rcounts, fsizes = _write_data_files(
        new_data, root, spec
    )
    pstats = man.get("stats", {})
    pdels = man.get("delete_files", {})
    pparts = man.get("partitions", {})
    # rewritten rows came through the logical projection, so added files
    # are physically AT the logical schema (modulo union type coercion,
    # reconciled by id through the usual write-schema merge)
    schemas, cur_sid, file_sids, last_fid = _schema_meta(man)
    schemas, cur_sid, file_sid, last_fid = _merge_write_schema(
        schemas, cur_sid, last_fid, new_data.schema
    )
    file_sids = {f: file_sids[f] for f in untouched if f in file_sids}
    file_sids.update({f: file_sid for f in added})
    return _commit(
        root, parent, untouched + added, added, n_rows,
        json.dumps(_struct_of(schemas[cur_sid]).jsonValue()), "merge",
        properties=properties,
        stats={**pstats, **stats},
        # untouched files keep their position masks; rewritten files had
        # theirs applied during the delete-aware read above
        delete_files={f: pdels[f] for f in untouched if f in pdels},
        partition_spec=spec,
        partitions={**pparts, **parts},
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=file_sids, last_field_id=last_fid,
        row_counts={**man.get("row_counts", {}), **rcounts},
        file_sizes={**man.get("file_sizes", {}), **fsizes},
        blooms=man.get("blooms", {}),
    )


def rewrite_data_files(
    spark: SparkSession,
    root: str,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> int:
    """Iceberg's ``rewrite_data_files`` (small-files compaction) as a new
    snapshot: read the CURRENT snapshot, rewrite its rows into
    *target_files* files, and commit them as a ``replace`` operation.

    Rows are bit-identical before and after (pure rewrite — no filter, no
    transform); history is preserved — the pre-compaction snapshot stays
    time-travelable until expired, exactly as in Iceberg.  The streaming
    daily-append pattern (many small commits) composes with this: compact
    once a day, expire once a week.  Outstanding position deletes
    (:func:`delete_from`) are applied by the delete-aware read and purged
    from the new snapshot — this IS Iceberg's major compaction.

    With *cluster_by*, rows are laid out along the Morton z-curve of the
    named numeric columns (``operators/zorder.py``) before writing —
    Iceberg's ``strategy => 'sort', sort_order => 'zorder(...)'`` — so the
    manifest min/max bounds (:func:`plan_scan`) prune files for predicates
    on ANY clustered column, not just a lead sort key.  The layout is a
    range-partition + in-partition sort on the z key: no global sort
    bottleneck, ``target_files`` contiguous z ranges."""
    if target_files < 1:
        raise ValueError(f"target_files must be >= 1, got {target_files}")
    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    df = read_snapshot(spark, root, parent)
    if cluster_by:
        from pdf_drawing_ocr_recognition_spark.operators.zorder import (
            attach_zvalue,
        )

        df = (
            attach_zvalue(df, cluster_by, bits=zorder_bits, out="_z")
            .repartitionByRange(target_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    else:
        df = df.coalesce(target_files)
    pman = read_manifest(root, parent)
    spec = pman.get("partition_spec", [])
    added, n_rows, _schema_json, stats, parts, rcounts, fsizes = _write_data_files(
        df, root, spec
    )
    schemas, cur_sid, _fs, last_fid = _schema_meta(pman)
    schemas, cur_sid, file_sid, last_fid = _merge_write_schema(
        schemas, cur_sid, last_fid, df.schema
    )
    return _commit(
        root, parent, added, added, n_rows,
        json.dumps(_struct_of(schemas[cur_sid]).jsonValue()), "replace",
        stats=stats, partition_spec=spec, partitions=parts,
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas={f: file_sid for f in added}, last_field_id=last_fid,
        row_counts=rcounts, file_sizes=fsizes,
    )


def rewrite_position_deletes(spark: SparkSession, root: str) -> int:
    """Iceberg's ``rewrite_position_delete_files``: merge each data file's
    accumulated position-delete files into ONE, touching NO data file.

    Repeated DELETEs stack masks (`delete_files` lists grow per commit) and
    every masked read unions them; this maintenance action rewrites each
    multi-mask list into a single sorted-unique delete file, executor-side
    (one task per affected data file, driver traffic = file names).  Reads
    before/after are byte-identical; the superseded delete files become
    unreferenced once pre-rewrite snapshots expire, and
    ``remove_orphan_files`` reclaims them.  Returns the parent id when no
    data file carries more than one mask (no empty commits)."""
    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, parent)
    dels = man.get("delete_files", {})
    targets = {f: lst for f, lst in dels.items() if len(lst) > 1}
    if not targets:
        return parent
    data_dir = _data_dir(root)
    tasks = [(f, json.dumps(lst)) for f, lst in sorted(targets.items())]
    n_parts = max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
    plan = spark.createDataFrame(
        tasks, "file string, dels string"
    ).repartition(n_parts, "file")

    def compact(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in batches:
            for fname, dels_json in zip(pdf["file"], pdf["dels"]):
                pos = _deleted_positions(data_dir, json.loads(dels_json))
                dname = f"del-{uuid.uuid4().hex[:12]}.parquet"
                tmp = os.path.join(data_dir, f".{dname}.tmp")
                pq.write_table(
                    pa.table({"pos": pa.array(pos, type=pa.int64())}), tmp
                )
                os.replace(tmp, os.path.join(data_dir, dname))
                yield pd.DataFrame(
                    {"data_file": [str(fname)], "delete_file": [dname]}
                )

    merged = {
        r["data_file"]: [r["delete_file"]]
        for r in plan.mapInPandas(
            compact, schema="data_file string, delete_file string"
        ).collect()  # bounded by the multi-mask file count, never rows
    }
    schemas, cur_sid, file_sids, last_fid = _schema_meta(man)
    return _commit(
        root, parent, man["files"], [], 0, json.dumps(man["schema"]),
        "replace",
        stats=man.get("stats", {}),
        delete_files={**dels, **merged},
        partition_spec=man.get("partition_spec", []),
        partitions=man.get("partitions", {}),
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=file_sids, last_field_id=last_fid,
        row_counts=man.get("row_counts", {}),
        file_sizes=man.get("file_sizes", {}),
        blooms=man.get("blooms", {}),
        properties={"rewritten_delete_files": sum(
            len(v) for v in targets.values()
        )},
    )


def rollback_to(root: str, snapshot_id: int) -> int:
    """Iceberg's ``rollback_to_snapshot``: make the table read as it did at
    *snapshot_id* by committing a NEW snapshot whose content is the
    target's manifest verbatim — metadata-only, no data file touched.

    The rollback commit's lineage parent is the TARGET, so the commits
    between target and rollback become non-ancestors of the new current:
    they stay time-travelable until expired, and
    :func:`metadata_tables.metadata_history` flags them
    ``is_current_ancestor = False`` (exactly Iceberg's history table after
    a rollback).  A rollback never "deletes" anything — expiry does, later,
    under the usual retention/ref rules."""
    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    if snapshot_id == parent:
        return parent  # already there — no-op, as Iceberg
    man = read_manifest(root, snapshot_id)  # raises if the target is gone
    schemas, cur_sid, file_sids, last_fid = _schema_meta(man)
    return _commit(
        root, parent, man["files"], [], 0, json.dumps(man["schema"]),
        "rollback",
        stats=man.get("stats", {}),
        delete_files=man.get("delete_files", {}),
        partition_spec=man.get("partition_spec", []),
        partitions=man.get("partitions", {}),
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=file_sids, last_field_id=last_fid,
        row_counts=man.get("row_counts", {}),
        file_sizes=man.get("file_sizes", {}),
        blooms=man.get("blooms", {}),
        # the files belong to the TARGET manifest — inherit ITS sequence
        # numbers and equality deletes, not the allocation parent's
        seqs=man.get("seqs", {}),
        eq_deletes=man.get("eq_deletes", []),
        parent_for_lineage=snapshot_id,
        properties={"rolled_back_from": parent},
    )


def rewrite_small_files(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_input_files: int = 2,
) -> int:
    """Iceberg's BINPACK partial compaction: rewrite ONLY the data files
    smaller than *target_bytes* into ~target-sized files, carrying every
    already-right-sized file into the new snapshot untouched (by name,
    with its stats/tuples/masks/counts — never re-read).

    This is the compaction a streaming-append table actually runs: daily
    micro-batches land small files; :func:`rewrite_data_files` rewrites
    the WHOLE table (O(table) — right for z-ordering, wrong for routine
    maintenance), while this rewrites O(small files) no matter how large
    the table has grown.  Input selection reads the manifest's per-file
    byte sizes (one JSON read; files from pre-size manifests fall back to
    one filesystem stat each).  Outstanding position deletes on the
    rewritten files are applied and purged; untouched files keep theirs.
    Rewritten rows land under the table's current partition spec and
    logical schema.  Returns the parent id unchanged when fewer than
    *min_input_files* qualify (no empty commits, as Iceberg)."""
    parent = current_snapshot_id(root)
    if parent is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    man = read_manifest(root, parent)
    sizes = man.get("file_sizes", {})
    data_dir = _data_dir(root)

    def size_of(f: str) -> int:
        if f in sizes:
            return sizes[f]
        return os.stat(os.path.join(data_dir, f)).st_size

    small = [f for f in man["files"] if size_of(f) < target_bytes]
    # a masked file must compact regardless of size — purging delete
    # masks is the other half of what compaction is FOR
    dels = man.get("delete_files", {})
    small = sorted(set(small) | set(dels))
    if len(small) < min_input_files:
        return parent
    untouched = [f for f in man["files"] if f not in set(small)]
    df = _read_file_set(spark, root, man, small)
    total = sum(size_of(f) for f in small)
    n_out = max(1, -(-total // target_bytes))  # ceil
    spec = man.get("partition_spec", [])
    if not spec:
        df = df.coalesce(n_out)
    # (with a spec, the fanout writer groups by partition tuple; coalesce
    # beforehand would fight the fanout for no gain)
    added, n_rows, _schema_json, stats, parts, rcounts, fsizes = (
        _write_data_files(df, root, spec)
    )
    schemas, cur_sid, file_sids, last_fid = _schema_meta(man)
    schemas, cur_sid, file_sid, last_fid = _merge_write_schema(
        schemas, cur_sid, last_fid, df.schema
    )
    keep_sids = {f: file_sids[f] for f in untouched if f in file_sids}
    keep_sids.update({f: file_sid for f in added})
    return _commit(
        root, parent, untouched + added, added, n_rows,
        json.dumps(_struct_of(schemas[cur_sid]).jsonValue()), "replace",
        stats={**man.get("stats", {}), **stats},
        # untouched files keep their masks; the rewritten ones were applied
        delete_files={f: dels[f] for f in untouched if f in dels},
        partition_spec=spec,
        partitions={**man.get("partitions", {}), **parts},
        schemas=schemas, current_schema_id=cur_sid,
        file_schemas=keep_sids, last_field_id=last_fid,
        row_counts={**man.get("row_counts", {}), **rcounts},
        file_sizes={**sizes, **fsizes},
        blooms=man.get("blooms", {}),
    )


_REFS = "refs.json"


def _refs_path(root: str) -> str:
    return os.path.join(_meta_dir(root), _REFS)


def list_refs(root: str) -> dict:
    """All named refs: ``{name: {"snapshot_id": N, "type": "branch"|"tag"}}``."""
    try:
        with open(_refs_path(root)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def set_ref(
    root: str, name: str, snapshot_id: int, ref_type: str = "branch"
) -> None:
    """Create or move a named ref — Iceberg's branches and tags.

    A **tag** is an immutable audit point (re-setting it to a different
    snapshot raises); a **branch** is re-pointable — moving it IS the
    "publish" step of write-audit-publish: commits land on the linear
    history as usual, the consumer-facing branch ref stays pinned at the
    last audited snapshot, and after validation the branch fast-forwards.
    Readers pass ``ref=`` to :func:`read_snapshot` to opt into pinned
    reads; the default reader follows the tip (HadoopCatalog semantics).
    Refs are retention roots: :func:`expire_snapshots` never drops a
    snapshot a ref names.  The refs file swaps atomically (os.replace).
    """
    if ref_type not in ("branch", "tag"):
        raise ValueError(f"ref_type must be branch|tag, got {ref_type!r}")
    if not os.path.exists(_manifest_path(root, snapshot_id)):
        raise ValueError(f"snapshot {snapshot_id} does not exist at {root}")
    refs = list_refs(root)
    old = refs.get(name)
    if old and old["type"] == "tag" and old["snapshot_id"] != snapshot_id:
        raise ValueError(
            f"tag {name!r} is immutable (pinned at {old['snapshot_id']})"
        )
    refs[name] = {"snapshot_id": snapshot_id, "type": ref_type}
    tmp = _refs_path(root) + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(refs, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _refs_path(root))


def drop_ref(root: str, name: str) -> None:
    refs = list_refs(root)
    if name not in refs:
        raise ValueError(f"unknown ref {name!r}")
    del refs[name]
    tmp = _refs_path(root) + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.replace(tmp, _refs_path(root))


def resolve_ref(root: str, name: str) -> int:
    refs = list_refs(root)
    if name not in refs:
        raise ValueError(f"unknown ref {name!r} at {root}")
    return int(refs[name]["snapshot_id"])


def _manifest_all_files(man: dict) -> list[str]:
    """Every file a manifest references: data files, position-delete
    files, equality-delete files, AND bloom sidecars (all live under
    data/ and share the expiry/orphan lifecycle)."""
    return (
        man["files"]
        + [d for ds in man.get("delete_files", {}).values() for d in ds]
        + [r for e in man.get("eq_deletes", []) for r in e["refs"]]
        + [
            meta["ref"]
            for per_file in man.get("blooms", {}).values()
            for meta in per_file.values()
        ]
    )


def expire_snapshots(root: str, keep_last: int) -> dict:
    """Drop all but the newest *keep_last* snapshots and delete data files
    no retained snapshot references.  Snapshots named by a ref (branch or
    tag — :func:`set_ref`) are retention roots and are always kept, as in
    Iceberg.  Returns counts for auditing."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    log = snapshot_log(root)
    if len(log) <= keep_last:
        return {"expired_snapshots": 0, "deleted_files": 0}
    pinned = {int(r["snapshot_id"]) for r in list_refs(root).values()}
    expired = [m for m in log[:-keep_last] if m["snapshot_id"] not in pinned]
    kept = [
        m
        for m in log
        if m["snapshot_id"] in pinned or m in log[-keep_last:]
    ]
    live = {f for man in kept for f in _manifest_all_files(man)}
    deleted = 0
    for man in expired:
        for f in _manifest_all_files(man):
            if f not in live:
                path = os.path.join(_data_dir(root), f)
                if os.path.exists(path):
                    os.remove(path)
                    deleted += 1
                live.add(f)  # count each orphan once
        os.remove(_manifest_path(root, man["snapshot_id"]))
    return {"expired_snapshots": len(expired), "deleted_files": deleted}


def remove_orphan_files(root: str, older_than_s: float = 3600.0) -> int:
    """Delete data files referenced by NO retained manifest (debris of
    writers that died before their manifest commit).  Files younger than
    *older_than_s* are spared so an in-flight commit's just-written files
    survive the sweep (Iceberg's ``remove_orphan_files(older_than=...)``).
    Returns the number of files deleted."""
    live = {f for man in snapshot_log(root) for f in _manifest_all_files(man)}
    cutoff = time.time() - older_than_s
    removed = 0
    for name in os.listdir(_data_dir(root)):
        path = os.path.join(_data_dir(root), name)
        if name not in live and os.path.getmtime(path) < cutoff:
            os.remove(path)
            removed += 1
    return removed
