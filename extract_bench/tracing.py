"""Traced-run machinery: in-memory spans, Spark event-log spans, kernel replay.

Nothing here changes the program.  Spans are recorded from outside:

- ``Tracer.span`` wraps each public call the benchmark makes;
- ``action_spans`` wraps the PySpark action methods (count, collect, toArrow,
  parquet read/write) for the duration of a block, so every Spark action the
  program issues becomes a span named after its calling source line;
- ``attach_event_log`` turns Spark's event log (jobs, stages, tasks) into
  child spans of the innermost driver span whose interval contains them;
- ``replay_kernel`` runs ``kernel.page.extract_document`` in this process on
  a deterministic sample of rows, with the kernel's stage functions wrapped,
  giving doc → page → sub-image spans.

All spans stay in memory; ``Tracer.dump`` writes them out once at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import linecache
import os
import statistics
import sys
import time

KERNEL_STAGES = (
    "decode_png",
    "maybe_deskew",
    "attempt_sub_image",
    "extract_main_text",
    "merge_fold",
    "render_plaintext",
)


class Tracer:
    """Spans as dicts {id, parent, name, start, end, attrs}; times in epoch s."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._children: dict[int | None, list[int]] = {}

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, "attrs": attrs}
        )
        self._children.setdefault(parent, []).append(sid)
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> list[dict]:
        return [self.spans[c] for c in self._children.get(sid, ())]

    def descendants(self, sid: int, name_prefix: str = "") -> list[dict]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            for s in self.children(cur):
                todo.append(s["id"])
                if s["name"].startswith(name_prefix):
                    out.append(s)
        return out

    def self_time(self, sid: int) -> float:
        """Duration minus the part of the interval its children cover."""
        span = self.spans[sid]
        cover, cur_start, cur_end = 0.0, None, None
        for c in sorted(self.children(sid), key=lambda s: s["start"]):
            start, end = max(c["start"], span["start"]), min(c["end"], span["end"])
            if end <= start:
                continue
            if cur_end is None or start > cur_end:
                if cur_end is not None:
                    cover += cur_end - cur_start
                cur_start, cur_end = start, end
            else:
                cur_end = max(cur_end, end)
        if cur_end is not None:
            cover += cur_end - cur_start
        return (span["end"] - span["start"]) - cover

    def self_times(self, sid: int) -> dict[str, float]:
        """Total self time per span name over the subtree under *sid*."""
        totals: dict[str, float] = {}
        for s in self.descendants(sid):
            totals[s["name"]] = totals.get(s["name"], 0.0) + self.self_time(s["id"])
        return totals

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Spark actions → driver spans named by their calling source line
# ---------------------------------------------------------------------------


def _call_site(skip_dirs: tuple[str, ...]) -> str:
    frame = sys._getframe(2)
    while frame is not None and frame.f_code.co_filename.startswith(skip_dirs):
        frame = frame.f_back
    if frame is None:
        return "?"
    fn, line = frame.f_code.co_filename, frame.f_lineno
    text = linecache.getline(fn, line).strip()
    return f"{os.path.basename(fn)}:{line}: {text}"


@contextlib.contextmanager
def action_spans(tracer: Tracer):
    """Record a span per PySpark action issued inside the block."""
    import pyspark
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    skip = (os.path.dirname(pyspark.__file__), contextlib.__file__)
    targets = [
        (DataFrame, "count"),
        (DataFrame, "collect"),
        (DataFrame, "toArrow"),
        (DataFrame, "toPandas"),
        (DataFrameWriter, "parquet"),
        (DataFrameWriter, "save"),
        (DataFrameReader, "parquet"),
    ]
    saved = [(cls, name, cls.__dict__[name]) for cls, name in targets]

    def wrap(name, fn):
        def traced(*args, **kwargs):
            if tracer._stack and tracer.spans[tracer._stack[-1]]["name"].startswith("action:"):
                return fn(*args, **kwargs)  # an action calling another action
            with tracer.span(f"action:{name}", call_site=_call_site(skip)):
                return fn(*args, **kwargs)

        return traced

    for cls, name, fn in saved:
        setattr(cls, name, wrap(name, fn))
    try:
        yield
    finally:
        for cls, name, fn in saved:
            setattr(cls, name, fn)


# ---------------------------------------------------------------------------
# Spark event log → job / stage / task spans
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not os.path.basename(path).startswith("."):
            with open(path, encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _accums(items) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in items or ():
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a.get("Update", a.get("Value", 0)))
        except (TypeError, ValueError):
            continue
    return out


def attach_event_log(tracer: Tracer, events: list[dict]) -> None:
    """Add job → stage → task spans under the driver span that contains each job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1000.0}
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
    driver = [s for s in tracer.spans if not s["name"].startswith(("job:", "stage:", "task:"))]
    job_span: dict[int, int] = {}
    for jid, j in sorted(jobs.items()):
        end = j.get("end", j["start"])
        holders = [s for s in driver if s["start"] - 0.05 <= j["start"] and end <= s["end"] + 0.05]
        parent = min(holders, key=lambda s: s["end"] - s["start"])["id"] if holders else None
        job_span[jid] = tracer.add(f"job:{jid}", j["start"], end, parent)
    stage_span: dict[int, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            scopes = sorted(
                {json.loads(r["Scope"])["name"] for r in info.get("RDD Info", ()) if r.get("Scope")}
            )
            names = {a["Name"] for a in info.get("Accumulables", ())}
            stage_span[info["Stage ID"]] = tracer.add(
                f"stage:{info['Stage ID']}",
                info.get("Submission Time", 0) / 1000.0,
                info.get("Completion Time", 0) / 1000.0,
                job_span.get(stage_job.get(info["Stage ID"], -1)),
                tasks=info.get("Number of Tasks", 0),
                scopes=scopes,
                python="data sent to Python workers" in names,
            )
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            metrics = e.get("Task Metrics") or {}
            tracer.add(
                f"task:{ti['Task ID']}",
                ti["Launch Time"] / 1000.0,
                ti["Finish Time"] / 1000.0,
                stage_span.get(e["Stage ID"]),
                accums=_accums(ti.get("Accumulables")),
                input_records=(metrics.get("Input Metrics") or {}).get("Records Read", 0),
                shuffle_write_bytes=(metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                spill_bytes=metrics.get("Memory Bytes Spilled", 0)
                + metrics.get("Disk Bytes Spilled", 0),
            )


def scan_row_accumulators(events: list[dict], path_fragment: str) -> set[int]:
    """Accumulator ids of 'number of output rows' on parquet scans of *path_fragment*."""
    ids: set[int] = set()

    def walk(node):
        meta = node.get("metadata") or {}
        if node.get("nodeName", "").startswith("Scan") and path_fragment in meta.get("Location", ""):
            ids.update(
                m["accumulatorId"] for m in node.get("metrics", ()) if m["name"] == "number of output rows"
            )
        for child in node.get("children", ()):
            walk(child)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return ids


def task_accum_total(events: list[dict], ids: set[int], t0: float, t1: float) -> float:
    """Sum of task updates to accumulators *ids* for tasks launched in [t0, t1]."""
    total = 0.0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        ti = e["Task Info"]
        if not t0 <= ti["Launch Time"] / 1000.0 <= t1:
            continue
        for a in ti.get("Accumulables") or ():
            if a.get("ID") in ids:
                total += float(a.get("Update", 0))
    return total


# ---------------------------------------------------------------------------
# single-process kernel replay
# ---------------------------------------------------------------------------


def replay_kernel(tracer: Tracer, rows, patterns: dict, max_try: int) -> dict:
    """Run ``extract_document`` on *rows* with the kernel stages wrapped.

    Each document gets a ``doc`` span; ``decode_png`` opens a ``page`` span
    that parents the page's ``maybe_deskew`` and ``attempt_sub_image`` calls
    (the sub-image spans).  Returns per-stage totals and counts.
    """
    from pdf_drawing_ocr_recognition_spark.kernel import page as kp

    stats = {name: {"calls": 0, "s": 0.0} for name in KERNEL_STAGES}
    stats["attempts"] = 0
    stats["subs_ok"] = 0
    stats["rotated"] = 0
    stats["docs"] = 0
    stats["doc_s"] = 0.0
    current = {"doc": None, "page": None}

    def wrap(name, fn):
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            wall0 = time.time()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            stats[name]["calls"] += 1
            stats[name]["s"] += dt
            if name == "decode_png":
                current["page"] = tracer.add("page", wall0, wall0 + dt, current["doc"])
                parent = current["page"]
            elif name in ("maybe_deskew", "attempt_sub_image"):
                parent = current["page"]
                if name == "maybe_deskew":
                    stats["rotated"] += bool(out[1])
                else:
                    stats["attempts"] += out[3]
                    stats["subs_ok"] += bool(out[0])
            else:
                parent = current["doc"]
            tracer.add(name, wall0, wall0 + dt, parent)
            if parent is not None and parent == current["page"]:
                tracer.spans[parent]["end"] = max(tracer.spans[parent]["end"], wall0 + dt)
            return out

        return traced

    saved = {name: getattr(kp, name) for name in KERNEL_STAGES}
    for name, fn in saved.items():
        setattr(kp, name, wrap(name, fn))
    try:
        with tracer.span("kernel_replay", rows=len(rows)) as root:
            for url, html, lang in rows:
                wall0 = time.time()
                current["doc"] = tracer.add("doc", wall0, wall0, root["id"], url=url)
                current["page"] = None
                t0 = time.perf_counter()
                kp.extract_document(url, html, lang, patterns, max_try)
                dt = time.perf_counter() - t0
                tracer.spans[current["doc"]]["end"] = wall0 + dt
                stats["docs"] += 1
                stats["doc_s"] += dt
    finally:
        for name, fn in saved.items():
            setattr(kp, name, fn)
    return stats


def median(values) -> float:
    """Median, or 0.0 for no values (a layer the workload does not exercise)."""
    values = list(values)
    return statistics.median(values) if values else 0.0
