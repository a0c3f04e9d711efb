#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 extract_bench/run.py --workload html_crawl --seed 1 --seconds 6 --trace 0

Run from the repository root (or anywhere: paths resolve from this file).
The corpus is generated from ``--seed``, the workload runs through the
engine's public API at ``master=local[<cores>]`` with one Spark job at a
time, every output is checked against the oracle, and the last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` prints the end-to-end metrics (docs_per_s, setup_s,
peak_rss_mb, correct_share).  ``--trace 1`` is a separate traced run that
prints the per-layer metrics (see README.md), including the tracing
overhead.  Scratch files (corpora, outputs, event logs, spans) live under
``.extract_bench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import rss
import tracing

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".extract_bench_work")
SETUPS = 3  # one cold set-up, then two session rebuilds on the same JVM
REPLAY_ROWS = 800
MB = 1024 * 1024

T_START = time.perf_counter()

# metric name → unit, exactly as BENCHMARK.json lists them
END_TO_END = {"docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB", "correct_share": "ratio"}
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.scan_mb": "MB",
    "extract.tasks": "count",
    "extract.task_p50_s": "s",
    "extract.task_max_s": "s",
    "extract.to_python_mb": "MB",
    "extract.from_python_mb": "MB",
    "extract.python_overhead_s": "s",
    "kernel.html_extract.ms_per_doc": "ms",
    "kernel.png.ms_per_page": "ms",
    "kernel.deskew.ms_per_page": "ms",
    "kernel.deskew.rotated_share": "ratio",
    "kernel.grid.ms_per_sub": "ms",
    "kernel.grid.useful_attempt_ratio": "ratio",
    "kernel.merge_render.ms_per_doc": "ms",
    "kernel.core_s": "s",
    "manifest.buckets": "count",
    "manifest.bucket_p50_s": "s",
    "manifest.bucket_max_s": "s",
    "manifest.scan_amplification": "ratio",
    "manifest.spark_jobs": "count",
    "manifest.resume_noop_s": "s",
    "ingest.spark_jobs": "count",
    "ingest.cdc_s": "s",
    "ingest.extract_s": "s",
    "ingest.dedup_s": "s",
    "ingest.write_s": "s",
    "ingest.shuffle_mb": "MB",
    "ingest.spill_mb": "MB",
    "ingest.rescan_ratio": "ratio",
    "ingest.survivor_ratio": "ratio",
    "setup.session_s": "s",
    "setup.worker_warm_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def log(msg: str) -> None:
    print(f"[extract_bench +{time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env() -> None:
    """Keep every file Spark and Python write inside the work directory, and
    let the Python workers import the package (they start from PYTHONPATH,
    not from this process's sys.path)."""
    for sub in ("tmp", "spark-local", "warehouse", "metastore"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path.insert(0, ROOT)


def session_conf(event_log_dir: str | None = None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(WORK, 'metastore')} "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # keep full scan paths in the plan metadata (rescan attribution)
                "spark.sql.maxMetadataStringLength": "100000",
            }
        )
    return conf


def setup(conf: dict, cores: int, tracer=None):
    """``build_session`` + a Python worker with the package imported on every
    core.  Returns (spark, session_s, worker_warm_s)."""
    from pdf_drawing_ocr_recognition_spark.plans.session import build_session

    def warm(batches):
        import pdf_drawing_ocr_recognition_spark.kernel.page  # noqa: F401
        import pdf_drawing_ocr_recognition_spark.operators.extract  # noqa: F401

        yield from batches

    t0 = time.perf_counter()
    if tracer:
        with tracer.span("build_session"):
            spark = build_session(app="extract-bench", master=f"local[{cores}]", extra=conf)
    else:
        spark = build_session(app="extract-bench", master=f"local[{cores}]", extra=conf)
    t1 = time.perf_counter()
    spark.range(cores, numPartitions=cores).mapInPandas(warm, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def shutdown(spark) -> None:
    """Stop the session, the py4j JVM and every process below this one."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 15
    while len(rss.descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in rss.descendants(os.getpid())[1:]:
        log(f"killing leftover process {pid}: {_cmd(pid)}")
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode()[:120]
    except OSError:
        return "?"


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )


def run_timed(wl, cores: int, seconds: float) -> tuple[dict, list[dict], dict]:
    """--trace 0: three set-ups, a warm-up, then timed iterations for *seconds*."""
    conf = session_conf()
    setups, spark = [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, session_s, warm_s = setup(conf, cores)
            setups.append(session_s + warm_s)
        log("set-ups done")
        wl.warmup(spark)
        log("warm-up done")
        iterations: list[dict] = []
        with rss.PeakRss() as peak:
            end = time.perf_counter() + seconds
            while not iterations or time.perf_counter() < end:
                iterations.append(wl.iteration(spark))
        log(f"{len(iterations)} timed iterations done")
    finally:
        shutdown(spark)
    log("shut down")
    attempted = sum(it["docs"] for it in iterations)
    failed = sum(it["failed"] for it in iterations)
    metrics = {
        "docs_per_s": (statistics.median(it["docs"] / it["wall"] for it in iterations), "1/s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (peak.peak_mb, "MB"),
        "correct_share": (1.0 - failed / attempted, "ratio"),
    }
    details = {"setups": setups, "peak_mb_by_process": peak.peak_breakdown}
    return metrics, iterations, details


def run_traced(wl, cores: int, trace_path: str) -> tuple[dict, list[dict], dict]:
    """--trace 1: one traced and one untraced iteration, then the event log
    and the kernel replay, reduced to the per-layer metrics."""
    from pyspark.sql import functions as F

    from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages

    tracer = tracing.Tracer()
    log_dir = os.path.join(WORK, "eventlog", f"{wl.name}-s{wl.bench.seed}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = None
    try:
        spark, cold_session_s, cold_warm_s = setup(session_conf(), cores, tracer)
        spark.stop()
        # the traced iteration runs first, on the colder JIT, so the measured
        # overhead (traced - untraced wall) is an upper bound
        spark, _, _ = setup(session_conf(log_dir), cores, tracer)
        wl.warmup(spark)
        if not wl.warmup_covers_iteration:
            wl.iteration(spark)
        gc0 = gc_seconds(spark)
        with tracer.span("iteration") as it_span, tracing.action_spans(tracer):
            traced = wl.iteration(spark, tracer)
        gc_s = gc_seconds(spark) - gc0
        with tracer.span("read_pages") as scan_span, tracing.action_spans(tracer):
            read_pages(spark, wl.corpus.path, langs=wl.scan_langs()).select(
                F.sum(F.length("html"))
            ).collect()
        spark.stop()
        spark, _, _ = setup(session_conf(), cores)
        wl.warmup(spark)
        untraced = wl.iteration(spark)
    finally:
        shutdown(spark)
    events = tracing.read_event_log(log_dir)
    tracing.attach_event_log(tracer, events)
    replay = tracing.replay_kernel(tracer, wl.replay_rows(REPLAY_ROWS), wl.bench.patterns, wl.max_try)
    replay_root = next(s for s in tracer.spans if s["name"] == "kernel_replay")
    self_times = tracer.self_times(replay_root["id"])
    tracer.dump(trace_path)

    def tasks_under(span, python_only=False):
        out = []
        for stage in tracer.descendants(span["id"], "stage:"):
            if stage["attrs"]["python"] or not python_only:
                out.extend(tracer.children(stage["id"]))
        return out

    def dur(s):
        return s["end"] - s["start"]

    py_tasks = tasks_under(it_span, python_only=True)

    def per(name):
        """Milliseconds per call of a kernel stage in the replay."""
        n = replay[name]["calls"]
        return replay[name]["s"] / n * 1000.0 if n else 0.0

    docs_sampled = replay["docs"] or 1
    core_s = replay["doc_s"] / docs_sampled * wl.extracted_docs()
    m: dict[str, tuple[float, str]] = {
        "sources.scan_s": (dur(scan_span), "s"),
        "sources.scan_mb": (wl.scan_bytes() / MB, "MB"),
        "extract.tasks": (float(len(py_tasks)), "count"),
        "extract.task_p50_s": (tracing.median(dur(t) for t in py_tasks), "s"),
        "extract.task_max_s": (max((dur(t) for t in py_tasks), default=0.0), "s"),
        "extract.to_python_mb": (
            sum(t["attrs"]["accums"].get("data sent to Python workers", 0) for t in py_tasks) / MB,
            "MB",
        ),
        "extract.from_python_mb": (
            sum(t["attrs"]["accums"].get("data returned from Python workers", 0) for t in py_tasks)
            / MB,
            "MB",
        ),
        "extract.python_overhead_s": (untraced["wall"] - core_s / cores, "s"),
        "kernel.html_extract.ms_per_doc": (per("extract_main_text"), "ms"),
        "kernel.png.ms_per_page": (per("decode_png"), "ms"),
        "kernel.deskew.ms_per_page": (per("maybe_deskew"), "ms"),
        "kernel.deskew.rotated_share": (
            replay["rotated"] / replay["maybe_deskew"]["calls"] if replay["maybe_deskew"]["calls"] else 0.0,
            "ratio",
        ),
        "kernel.grid.ms_per_sub": (per("attempt_sub_image"), "ms"),
        "kernel.grid.useful_attempt_ratio": (
            replay["subs_ok"] / replay["attempts"] if replay["attempts"] else 0.0,
            "ratio",
        ),
        "kernel.merge_render.ms_per_doc": (
            (replay["merge_fold"]["s"] + replay["render_plaintext"]["s"]) / docs_sampled * 1000.0,
            "ms",
        ),
        "kernel.core_s": (core_s, "s"),
    }
    m.update(manifest_metrics(tracer, it_span, traced, wl))
    m.update(ingest_metrics(tracer, it_span, traced, wl, events))
    m.update(
        {
            "setup.session_s": (cold_session_s, "s"),
            "setup.worker_warm_s": (cold_warm_s, "s"),
            "jvm.gc_s": (gc_s, "s"),
            "trace.overhead_s": (traced["wall"] - untraced["wall"], "s"),
            "trace.overhead_share": ((traced["wall"] - untraced["wall"]) / untraced["wall"], "ratio"),
        }
    )
    return m, [untraced, traced], {"replay_self_s": self_times}


def manifest_metrics(tracer, it_span, traced, wl) -> dict:
    names = ("manifest.buckets", "manifest.bucket_p50_s", "manifest.bucket_max_s",
             "manifest.scan_amplification", "manifest.spark_jobs", "manifest.resume_noop_s")
    units = ("count", "s", "s", "ratio", "count", "s")
    if "bucket_walls" not in traced:
        return {n: (0.0, u) for n, u in zip(names, units)}
    run_span = next(s for s in tracer.children(it_span["id"]) if s["name"] == "run_with_manifest")
    jobs = tracer.descendants(run_span["id"], "job:")
    rows_read = sum(t["attrs"]["input_records"] for t in tracer.descendants(run_span["id"], "task:"))
    walls = traced["bucket_walls"]
    values = (float(len(walls)), tracing.median(walls), max(walls, default=0.0),
              rows_read / wl.corpus.rows, float(len(jobs)), traced["resume_s"])
    return {n: (v, u) for n, v, u in zip(names, values, units)}


def ingest_category(call_site: str) -> str:
    """Attribute a Spark action of the daily job by its calling source line."""
    where, _, text = call_site.partition(": ")
    if where.startswith("dedup.py") or "index" in text:
        return "dedup"
    if "survivors" in text:
        return "extract"  # survivors job: delta extraction + dedup probe + write
    if ".write" in text or "kept" in text:
        return "write"
    if "snap_path" in text or "today" in text or "delta" in text:
        return "cdc"
    return "other"


def ingest_metrics(tracer, it_span, traced, wl, events) -> dict:
    cats = ("cdc", "extract", "dedup", "write")
    out = {"ingest.spark_jobs": (0.0, "count")}
    out.update({f"ingest.{c}_s": (0.0, "s") for c in cats})
    out.update({"ingest.shuffle_mb": (0.0, "MB"), "ingest.spill_mb": (0.0, "MB"),
                "ingest.rescan_ratio": (0.0, "ratio"), "ingest.survivor_ratio": (0.0, "ratio")})
    if "survivors" not in traced:
        return out
    main_span = next(s for s in tracer.children(it_span["id"]) if s["name"] == "run_daily_ingest.main")
    totals = dict.fromkeys(cats, 0.0)
    for action in tracer.descendants(main_span["id"], "action:"):
        cat = ingest_category(action["attrs"]["call_site"])
        if cat in totals:
            totals[cat] += action["end"] - action["start"]
    tasks = tracer.descendants(main_span["id"], "task:")
    scan_ids = tracing.scan_row_accumulators(events, wl.corpus.path)
    rows_scanned = tracing.task_accum_total(events, scan_ids, main_span["start"], main_span["end"])
    out["ingest.spark_jobs"] = (float(len(tracer.descendants(main_span["id"], "job:"))), "count")
    out.update({f"ingest.{c}_s": (totals[c], "s") for c in cats})
    out["ingest.shuffle_mb"] = (sum(t["attrs"]["shuffle_write_bytes"] for t in tasks) / MB, "MB")
    out["ingest.spill_mb"] = (sum(t["attrs"]["spill_bytes"] for t in tasks) / MB, "MB")
    out["ingest.rescan_ratio"] = (rows_scanned / wl.corpus.rows, "ratio")
    out["ingest.survivor_ratio"] = (traced["survivors"] / max(traced["delta"], 1), "ratio")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    configure_env()
    import pdf_drawing_ocr_recognition_spark  # noqa: F401  (fails fast without the engine)

    from workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    bench = Bench(ROOT, WORK, args.seed, cores)
    wl = WORKLOADS[args.workload](bench)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    log(f"corpus ready ({prepare_s:.1f}s)")
    trace_path = os.path.join(WORK, "trace", f"{wl.name}-s{args.seed}.json")
    if args.trace:
        metrics, iterations, details = run_traced(wl, cores, trace_path)
    else:
        metrics, iterations, details = run_timed(wl, cores, args.seconds)
    declared = PER_LAYER if args.trace else END_TO_END
    if {k: unit for k, (_, unit) in metrics.items()} != declared:
        raise RuntimeError("metric names or units differ from the declared set")
    attempted = sum(it["docs"] for it in iterations)
    failed = sum(it["failed"] for it in iterations)
    print(
        json.dumps({"workload": wl.name, "seed": args.seed, "prepare_s": prepare_s,
                    "iterations": iterations, **details}),
        file=sys.stderr,
    )
    print(result_line(failed == 0, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
