"""Traced-run tooling: split one job's wall time into named layers.

Everything here observes the program from outside:
  * DriverLedger (in the job process) times py4j round trips, the
    ParquetTableIO appends and manifest commits, keeps the near-dedup
    frames, and reads the Python/write/scan SQL metrics from the session's
    SQL status store;
  * read_event_log parses the Spark event log of the traced run (jobs,
    stages, tasks);
  * core_pass re-runs htmlx.core.extract single-process with the names
    Extractor.extract calls wrapped in timers;
  * layer_metrics turns the three into the per-layer ledger, including
    curate stages attributed by their output path and `unattributed_s`.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import statistics
import time

MB = 2**20
CURATE_STAGES = ("urlfilter", "hosttmpl", "quality", "exact_dedup", "near_dedup",
                 "spandedup", "split", "pack")
CORE_LAYERS = ("decode", "parse", "depth", "sanitize", "title", "score", "render", "media")
NEAR_DUP_THRESHOLD = 0.9
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
SQL_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "arrow_sent_b",
    "data returned from Python workers": "arrow_recv_b",
    "number of written files": "written_files",
    "written output": "written_b",
    "job commit time": "job_commit_s",
    "scan time": "scan_s",
}
# every per-layer metric and its unit; each traced run reports all of them
PER_LAYER = {
    **{f"core.{layer}.us_per_doc": "us" for layer in CORE_LAYERS},
    "core.decode.legacy_docs": "count",
    "core.parse.ms_p99": "ms",
    "core.parse.us_per_kb_max": "us/KB",
    "core.score.article_found_share": "fraction",
    "core.extract.self_us_per_doc": "us",
    "core.docs_per_s_1core": "docs/s",
    "spark.job.python_total_s": "s",
    "spark.job.python_boot_s": "s",
    "spark.job.python_init_s": "s",
    "spark.job.arrow_sent_mb": "MB",
    "spark.job.arrow_recv_mb": "MB",
    "spark.job.boundary_s": "s",
    "spark.stage.extract.run_s": "s",
    "spark.stage.extract.cpu_s": "s",
    "spark.stage.extract.gc_s": "s",
    "spark.stage.extract.tasks": "count",
    "spark.stage.extract.task_skew": "ratio",
    "spark.stage.scan.run_s": "s",
    "spark.shuffle.write_mb": "MB",
    "spark.shuffle.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "driver.build_s": "s",
    "driver.gap_s": "s",
    "io.results.files": "count",
    "io.results.mb": "MB",
    "io.results.commit_s": "s",
    "io.metrics.s": "s",
    "io.audit.s": "s",
    "io.manifest_commits": "count",
    **{f"curate.{s}.{k}": u for s in CURATE_STAGES for k, u in (("s", "s"), ("shuffle_mb", "MB"))},
    "curate.readback_s": "s",
    "curate.input_count_s": "s",
    "curate.near_dedup.verify_ratio": "ratio",
    "peak_rss_mb": "MB",
    "error_share": "fraction",
    "doc_latency_samples": "count",
    "trace.overhead_share": "fraction",
    "trace.unattributed_s": "s",
    "trace.unattributed_share": "fraction",
    "trace.core_docs": "count",
    "trace.core_mismatched": "count",
}
_WRITE_PATH = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\nInput: \[[^\]]*\]\nArguments: file:([^,\s]+)")
_SCAN_PATH = re.compile(r"Location: \w+ \[file:([^,\]\s]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value, in seconds or bytes:
    '2,000', '146 ms', 'total (min, med, max (...))\\n4.7 s (1.2 s, ...)'."""
    head = text.split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def read_status_store(spark, since_ms: float) -> list[dict]:
    """SQL executions submitted at or after `since_ms`, with the metrics
    this ledger uses (summed over plan nodes) and their read/write paths."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        if e.submissionTime() < since_ms:
            continue
        eid = e.executionId()
        values = store.executionMetrics(eid)
        metrics = {}
        for m in _seq(e.metrics()):
            key = SQL_METRICS.get(m.name())
            v = values.get(m.accumulatorId())
            if key and v.isDefined():
                metrics[key] = metrics.get(key, 0.0) + parse_sql_metric(v.get())
        plan = e.physicalPlanDescription()
        write = _WRITE_PATH.search(plan)
        done = e.completionTime()
        out.append({
            "id": eid,
            "root": e.rootExecutionId(),
            "start_ms": e.submissionTime(),
            "end_ms": done.get().getTime() if done.isDefined() else e.submissionTime(),
            "write": write.group(1) if write else None,
            "scans": sorted(set(_SCAN_PATH.findall(plan))),
            "metrics": metrics,
        })
    return out


class DriverLedger:
    """Timers the traced job process installs around the program's public
    seams before the job starts; nothing in the program changes."""

    def __init__(self):
        self.active = False
        self.py4j: list[tuple[float, float]] = []
        self.appends: list[tuple[str, float, float]] = []
        self.commits: list[tuple[str, float, float]] = []
        self.frames: dict = {}
        self._depth = 0

    def install(self, workload: str) -> None:
        from py4j import java_gateway

        from htmlx.spark import analytics, io

        ledger = self
        call = java_gateway.JavaMember.__call__

        def timed_call(member, *args):
            if ledger._depth or not ledger.active:
                return call(member, *args)
            ledger._depth += 1
            t0 = time.time()
            try:
                return call(member, *args)
            finally:
                ledger.py4j.append((t0, time.time()))
                ledger._depth -= 1

        java_gateway.JavaMember.__call__ = timed_call

        def span(fn, sink):
            @functools.wraps(fn)
            def wrapper(table, *a, **k):
                t0 = time.time()
                try:
                    return fn(table, *a, **k)
                finally:
                    sink.append((table.root, t0, time.time()))
            return wrapper

        io.ParquetTableIO.append_groups = span(io.ParquetTableIO.append_groups, self.appends)
        io.ParquetTableIO._commit_groups = span(io.ParquetTableIO._commit_groups, self.commits)

        def keep(name):
            fn = getattr(analytics, name)

            @functools.wraps(fn)
            def wrapper(*a, **k):
                ledger.frames[name] = df = fn(*a, **k)
                return df
            setattr(analytics, name, wrapper)

        if workload == "curate-pipeline":
            keep("minhash_lsh_candidates")
            keep("ngram_jaccard_pairs")

    def begin(self) -> None:
        self.w0 = time.time()
        self.active = True

    def end(self) -> None:
        self.active = False
        self.w1 = time.time()

    def collect(self, spark) -> dict:
        from pyspark.sql import functions as F

        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        report = {
            "wall": [self.w0, self.w1],
            "py4j": self.py4j,
            "appends": self.appends,
            "commits": self.commits,
            "executions": read_status_store(spark, self.w0 * 1000 - 1),
        }
        if self.frames:
            cands = self.frames["minhash_lsh_candidates"].count()
            pairs = (self.frames["ngram_jaccard_pairs"]
                     .where(F.col("jaccard") >= NEAR_DUP_THRESHOLD).count())
            report["near_dedup"] = {"candidates": cands, "verified": pairs}
        return report


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(logdir: str) -> dict:
    """Jobs and stages of the (uncompressed, single-file) event log."""
    jobs, stages = {}, {}
    for name in sorted(os.listdir(logdir)):
        if name.startswith("."):
            continue
        with open(os.path.join(logdir, name)) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.root.id", props.get("spark.sql.execution.id"))
                    jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": e["Submission Time"],
                                         "stages": e["Stage IDs"],
                                         "execution": int(ex) if ex is not None else None}
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], _new_stage())
                    st["start"] = si.get("Submission Time", 0)
                    st["end"] = si.get("Completion Time", 0)
                    st["python"] = any("MapInPandas" in (r.get("Scope") or "") for r in si["RDD Info"])
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _new_stage())
                    tm = e.get("Task Metrics") or {}
                    st["run_ms"].append(tm.get("Executor Run Time", 0))
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    st["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                    st["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"start": 0, "end": 0, "python": False, "run_ms": [], "cpu_ns": 0, "gc_ms": 0,
            "spill_b": 0, "shuffle_write_b": 0, "fetch_wait_ms": 0}


def nearest_rank(sorted_vals: list, q: float):
    """The q-quantile of ascending `sorted_vals` by the nearest-rank rule."""
    return sorted_vals[max(0, math.ceil(q * len(sorted_vals)) - 1)]


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(map(tuple, intervals)):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ---------------------------------------------------------------------------
# htmlx.core in process
# ---------------------------------------------------------------------------

CORE_FUNCTIONS = {
    "detect_and_convert_to_utf8": "decode",
    "parse": "parse",
    "tree_depth_exceeds": "depth",
    "sanitize_dom": "sanitize",
    "clean_content_node": "render",
    "extract_text_with_structure_and_images": "render",
    "clean_text": "render",
    "extract_videos_and_audios": "media",
}
CORE_METHODS = {
    "_extract_title": "title",
    "_extract_article_node": "score",
    "_extract_images_and_links": "media",
}


def project(items: list, like: list) -> list:
    """Project extractor dicts onto the field names of the result structs."""
    keys = list(like[0].keys()) if like else None
    return [{k: d.get(k) for k in (keys or d.keys())} for d in items]


def core_pass(htmls: list[bytes], expected: list[dict], fields: tuple) -> dict:
    """Extract each page with the core stages wrapped in timers; only the
    outermost wrapped call is timed, so nested calls stay in their caller's
    layer. Each result must equal the unwrapped extraction in `expected`."""
    import htmlx.core.extract as mod

    doc: dict = {}
    depth = [0]

    def timed(fn, layer, note=None):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if depth[0]:
                return fn(*a, **k)
            depth[0] += 1
            t0 = time.perf_counter_ns()
            try:
                r = fn(*a, **k)
                if note:
                    note(r)
                return r
            finally:
                doc[layer] = doc.get(layer, 0) + time.perf_counter_ns() - t0
                depth[0] -= 1
        return wrapper

    def note_charset(r):
        doc["charset"] = r[1]

    def note_article(r):
        doc["article"] = r is not None

    saved = {n: getattr(mod, n) for n in CORE_FUNCTIONS}
    saved_m = {n: getattr(mod.Extractor, n) for n in CORE_METHODS}
    notes = {"detect_and_convert_to_utf8": note_charset, "_extract_article_node": note_article}
    rows, mismatched = [], 0
    try:
        for n, layer in CORE_FUNCTIONS.items():
            setattr(mod, n, timed(saved[n], layer, notes.get(n)))
        for n, layer in CORE_METHODS.items():
            setattr(mod.Extractor, n, timed(saved_m[n], layer, notes.get(n)))
        ex = mod.Extractor(mod.Config())
        for html, want in zip(htmls, expected):
            doc.clear()
            t0 = time.perf_counter_ns()
            r = ex.extract(html)
            total = time.perf_counter_ns() - t0
            rows.append({"total": total, "bytes": len(html), **doc})
            for f in fields:
                got = getattr(r, f)
                if isinstance(got, list):
                    got = project(got, want[f])
                if got != want[f]:
                    mismatched += 1
                    break
    finally:
        for n, fn in saved.items():
            setattr(mod, n, fn)
        for n, fn in saved_m.items():
            setattr(mod.Extractor, n, fn)
    return {"rows": rows, "mismatched": mismatched}


def core_metrics(core: dict | None) -> dict:
    out = {f"core.{layer}.us_per_doc": 0.0 for layer in CORE_LAYERS}
    out.update({"core.decode.legacy_docs": 0, "core.parse.ms_p99": 0.0,
                "core.parse.us_per_kb_max": 0.0, "core.score.article_found_share": 0.0,
                "core.extract.self_us_per_doc": 0.0, "core.docs_per_s_1core": 0.0})
    rows = core["rows"] if core else []
    if not rows:
        return out
    n = len(rows)
    for layer in CORE_LAYERS:
        out[f"core.{layer}.us_per_doc"] = sum(r.get(layer, 0) for r in rows) / n / 1e3
    parse_ms = sorted(r.get("parse", 0) / 1e6 for r in rows)
    out["core.decode.legacy_docs"] = sum(1 for r in rows if r.get("charset", "utf-8") != "utf-8")
    out["core.parse.ms_p99"] = nearest_rank(parse_ms, 0.99)
    out["core.parse.us_per_kb_max"] = max(r.get("parse", 0) / 1e3 / (r["bytes"] / 1024) for r in rows if r["bytes"])
    out["core.score.article_found_share"] = sum(1 for r in rows if r.get("article")) / n
    total_ns = sum(r["total"] for r in rows)
    out["core.extract.self_us_per_doc"] = (total_ns - sum(r.get(l, 0) for r in rows for l in CORE_LAYERS)) / n / 1e3
    out["core.docs_per_s_1core"] = n / (total_ns / 1e9)
    return out


# ---------------------------------------------------------------------------
# the ledger
# ---------------------------------------------------------------------------


def _attribute_curate(execs: list[dict]) -> tuple[dict, list, list]:
    """Assign each root SQL execution to the curate stage whose
    stage_<name>.parquet it (or the next write after it) produces; the
    first execution after a stage's write that scans that stage's output is
    the stage's read-back count. Executions before the first stage that
    read no stage output are the pipeline's input count (none when no
    stage ran: the job was not the curate pipeline). Returns
    (per-stage executions, read-backs, input counts)."""
    per = {s: [] for s in CURATE_STAGES}
    readback, pending, last, counted, before = [], [], None, set(), []
    for e in sorted(execs, key=lambda e: e["id"]):
        m = re.search(r"stage_(\w+)\.parquet", e["write"] or "")
        if last is None and not m and not any("/stage_" in p for p in e["scans"]):
            before.append(e)
        elif m and m.group(1) in per:
            per[m.group(1)].extend(pending + [e])
            pending, last = [], m.group(1)
        elif (last and last not in counted and not e["write"]
              and any(p.endswith(f"stage_{last}.parquet") for p in e["scans"])):
            readback.append(e)
            counted.add(last)
        else:
            pending.append(e)
    return per, readback, before if last else []


def layer_metrics(traced: dict, log: dict, core: dict | None, docs: int) -> dict:
    """The per-layer ledger of one traced job (every name, on every
    workload; a layer that does no work on a workload reads 0)."""
    led = traced["ledger"]
    w0, w1 = led["wall"]
    wall = w1 - w0
    jobs = [j for j in log["jobs"].values() if j["start"] >= w0 * 1000 - 1]
    job_iv = [(j["start"] / 1000, j["end"] / 1000) for j in jobs]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = {i: s for i, s in log["stages"].items() if i in stage_ids and s["run_ms"]}
    roots = [e for e in led["executions"] if e["root"] == e["id"] or e["root"] < 0]
    execs = led["executions"]

    def sql(key):
        return sum(e["metrics"].get(key, 0.0) for e in execs)

    m = {}
    # -- htmlx.spark.job: Python SQL metrics on the MapInPandas node
    m["spark.job.python_total_s"] = sql("python_total_s")
    m["spark.job.python_boot_s"] = sql("python_boot_s")
    m["spark.job.python_init_s"] = sql("python_init_s")
    m["spark.job.arrow_sent_mb"] = sql("arrow_sent_b") / MB
    m["spark.job.arrow_recv_mb"] = sql("arrow_recv_b") / MB
    cm = core_metrics(core)
    core_s = docs * (1 / cm["core.docs_per_s_1core"] if cm["core.docs_per_s_1core"] else 0.0)
    m["spark.job.boundary_s"] = m["spark.job.python_total_s"] - core_s
    # -- Spark stages (event log)
    py = [s for s in stages.values() if s["python"]]
    runs = [r for s in py for r in s["run_ms"]]
    m["spark.stage.extract.run_s"] = sum(s["end"] - s["start"] for s in py) / 1000
    m["spark.stage.extract.cpu_s"] = sum(s["cpu_ns"] for s in py) / 1e9
    m["spark.stage.extract.gc_s"] = sum(s["gc_ms"] for s in py) / 1000
    m["spark.stage.extract.tasks"] = len(runs)
    med = statistics.median(runs) if runs else 0
    m["spark.stage.extract.task_skew"] = max(runs) / med if med else 0.0
    m["spark.stage.scan.run_s"] = sql("scan_s")
    m["spark.shuffle.write_mb"] = sum(s["shuffle_write_b"] for s in stages.values()) / MB
    m["spark.shuffle.fetch_wait_s"] = sum(s["fetch_wait_ms"] for s in stages.values()) / 1000
    m["spark.spill_mb"] = sum(s["spill_b"] for s in stages.values()) / MB
    busy = union_s(job_iv, w0, w1)
    m["driver.gap_s"] = wall - busy
    m["driver.build_s"] = union_s(led["py4j"] + job_iv, w0, w1) - busy
    # -- htmlx.spark.io: write-node SQL metrics + timed ParquetTableIO calls
    results = [e for e in execs if (e["write"] or "").endswith("/results/data")]
    commits = [c for c in led["commits"] if c[0].endswith("/results")]
    m["io.results.files"] = sum(e["metrics"].get("written_files", 0) for e in results)
    m["io.results.mb"] = sum(e["metrics"].get("written_b", 0) for e in results) / MB
    m["io.results.commit_s"] = (sum(e["metrics"].get("job_commit_s", 0) for e in results)
                                + sum(b - a for _, a, b in commits))
    for table in ("metrics", "audit"):
        m[f"io.{table}.s"] = sum(b - a for root, a, b in led["appends"] if root.endswith(f"/{table}"))
    m["io.manifest_commits"] = len(led["commits"])
    # -- jobs/curate: stages attributed by output path
    per, readback, before = _attribute_curate(roots)
    shuffle_by_exec: dict[int, float] = {}
    for j in jobs:
        if j["execution"] is not None:
            b = sum(log["stages"].get(s, {}).get("shuffle_write_b", 0) for s in j["stages"])
            shuffle_by_exec[j["execution"]] = shuffle_by_exec.get(j["execution"], 0) + b
    for s in CURATE_STAGES:
        m[f"curate.{s}.s"] = sum(e["end_ms"] - e["start_ms"] for e in per[s]) / 1000
        m[f"curate.{s}.shuffle_mb"] = sum(shuffle_by_exec.get(e["id"], 0) for e in per[s]) / MB
    m["curate.readback_s"] = sum(e["end_ms"] - e["start_ms"] for e in readback) / 1000
    m["curate.input_count_s"] = sum(e["end_ms"] - e["start_ms"] for e in before) / 1000
    nd = led.get("near_dedup") or {}
    m["curate.near_dedup.verify_ratio"] = nd["verified"] / nd["candidates"] if nd.get("candidates") else 0.0
    # -- coverage: what no named layer (Spark job, py4j call, manifest commit) covers
    covered = union_s(job_iv + led["py4j"] + [(a, b) for _, a, b in led["commits"]], w0, w1)
    m["trace.unattributed_s"] = wall - covered
    m["trace.unattributed_share"] = (wall - covered) / wall if wall else 0.0
    m.update(cm)
    return m
