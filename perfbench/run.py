"""htmlx host-true benchmark: the production entry points, end to end.

  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads (inputs are generated from --seed by perfbench/gen.py; the
document count is DOCS_PER_SECOND x --seconds, so a seed fixes the input):
  cc-large-pages   jobs/extract.py (run_with_resume, 64 groups, results +
                   metrics + audit) over 16-320 KB crawl-style pages with
                   legacy charsets and a hostile slice
  curate-pipeline  jobs/curate.py --mode pipeline --hosttmpl --spandedup
  cc-small-pages   the extract job over ~0.6 KB pages from the 11
                   htmlx.spark.pages templates (runnable, not in
                   BENCHMARK.json: see DOCS_PER_SECOND)

Each run is one closed-loop batch job in a fresh process on
local[nproc] (a first run, no warm re-runs, no retry gate). --trace 0
prints the end-to-end metrics; --trace 1 runs the job untraced, then
traced, then the in-process core pass, and prints the per-layer ledger with
its overhead and unattributed time. Every run checks the job's outputs and
exits 1 if a check fails. The last stdout line is the result JSON; the
line before it is the full report (host stamp, input properties, checks).
--workload all runs every workload in turn and prints a report line and a
result line (with a "workload" key) for each.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402
import ledger  # noqa: E402

# documents per --seconds, per workload. Each job also pays a fixed cost
# (set-up ~13 s, Python worker init, derived-table jobs; ~30 s of curate
# stages) that no input size amortizes on 4 cores, so a run takes ~50 s;
# that is why BENCHMARK.json lists two workloads and leaves cc-small-pages
# to be run by hand: its repeated runs would not fit a fixed time budget.
DOCS_PER_SECOND = {"cc-small-pages": 800, "cc-large-pages": 32, "curate-pipeline": 120}
RUN_BUDGET_S = 170  # every child process is killed past this point


class TreeRss:
    """Peak of summed RSS over a process and all its descendants, sampled
    from /proc (driver JVM + Python daemon + Python workers)."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self.period, self.peak = pid, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    @staticmethod
    def _tree(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(self._rss(p) for p in self._tree(self.pid)))
            self._stop.wait(self.period)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


def _child_env(work: str, trace: bool) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env.pop("SPARK_GRAFT_CPUS", None)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}", f"--conf spark.local.dir={local}"]
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true", "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false", f"--conf spark.eventLog.dir=file://{logdir}"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit) + " pyspark-shell"
    return env


def run_child(spec: dict, work: str, deadline: float, sample_rss: bool) -> tuple[dict, int]:
    """Run perfbench/job.py in a fresh process group; returns (report, peak
    tree RSS in bytes, 0 unless sampled). Kills the whole group if it
    overruns. RSS sampling walks /proc, so the timed runs go without it."""
    spec_path = os.path.join(work, f"spec-{spec['tag']}.json")
    spec["report"] = os.path.join(work, f"report-{spec['tag']}.json")
    spec["t_spawn"] = time.monotonic()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "job.py"), spec_path],
        cwd=work, env=_child_env(work, spec["trace"]),
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    rss = TreeRss(proc.pid) if sample_rss else None
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _kill_group(proc)
        peak = rss.stop() if rss else 0
    if code != 0:
        raise RuntimeError(f"job process for {spec['tag']} failed (exit {code})")
    with open(spec["report"]) as f:
        return json.load(f), peak


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop every process the job left behind (JVM, Python daemon and
    workers) and wait until each has ended. The job has written all it
    reports by now."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    stop_descendants()


def become_subreaper() -> None:
    """Adopt orphaned descendants: the PySpark daemon moves to a process
    group of its own and outlives the JVM that started it, so only as their
    subreaper can this process find, stop and reap it and its workers."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(timeout: float = 30.0) -> None:
    """SIGKILL every descendant of this process and reap it; returns once
    none is left. Call only while no subprocess.Popen is being waited on."""
    me, end = os.getpid(), time.monotonic() + timeout
    while True:
        left = [p for p in TreeRss._tree(me) if p != me]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if time.monotonic() > end:
            raise RuntimeError(f"processes still running: {left}")
        time.sleep(0.05)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def timed_job(workload: str, props: dict, work: str, tag: str, trace: bool, nproc: int,
              deadline: float, sample_rss: bool = False):
    out = os.path.join(work, f"out-{tag}")
    spec = {"workload": workload, "input": props["input"], "out": out, "nproc": nproc,
            "trace": trace, "tag": tag}
    t = time.monotonic()
    report, peak = run_child(spec, work, deadline, sample_rss)
    report["process_s"] = time.monotonic() - t
    report["peak_rss_mb"] = peak / 2**20
    report["output_bytes"] = dir_bytes(out)
    report["out"] = out
    return report


def end_to_end(props: dict, job: dict, verdict: dict) -> dict:
    n = props["docs"]
    return {
        "setup_s": (job["setup_s"], "s"),
        "docs_per_s": (n / job["job_s"], "docs/s"),
        "doc_p50_ms": (verdict["latency_ms"]["p50"], "ms"),
        "doc_p99_ms": (verdict["latency_ms"]["p99"], "ms"),
        "ok_share": (1 - verdict["failed"] / verdict["attempted"], "fraction"),
        "output_bytes_per_doc": (job["output_bytes"] / n, "B/doc"),
    }


def core_pass(props: dict, traced_out: str) -> dict:
    """Single-process core pass over the first quarter of the input files
    (every file has the same layout), checked against the traced results."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(os.listdir(props["input"]))
    pages = pa.concat_tables(
        pq.read_table(os.path.join(props["input"], f)) for f in files[: max(1, len(files) // 4)]
    )
    res = checks.results_by_url(traced_out)
    want = [res[u] for u in pages.column("url").to_pylist()]
    core = ledger.core_pass(pages.column("html").to_pylist(), want, checks.COMPARED)
    if "hostile" in pages.column_names:
        for row, kind in zip(core["rows"], pages.column("hostile").to_pylist()):
            row["kind"] = kind
    return core


def parse_by_kind(core: dict | None) -> dict:
    """Parse cost of the hostile pages in the core pass: the known
    super-linear parse shows as us/KB growing with the lt_run page size."""
    out = {}
    for r in (core or {}).get("rows", []):
        if r.get("kind"):
            out.setdefault(r["kind"], []).append(r.get("parse", 0) / 1e3 / (r["bytes"] / 1024))
    return {k: {"parse_us_per_kb": sum(v) / len(v), "pages": len(v)} for k, v in sorted(out.items())}


def traced_ledger(workload: str, props: dict, work: str, nproc: int, deadline: float,
                  untraced: dict) -> tuple[dict, dict]:
    traced = timed_job(workload, props, work, "traced", True, nproc, deadline)
    log = ledger.read_event_log(os.path.join(work, "eventlog"))
    t = time.monotonic()
    core = None if workload == "curate-pipeline" else core_pass(props, traced["out"])
    print(f"traced process {traced['process_s']:.1f}s, core pass {time.monotonic() - t:.1f}s",
          file=sys.stderr)
    layers = ledger.layer_metrics(traced, log, core, props["docs"])
    layers["trace.overhead_share"] = traced["job_s"] / untraced["job_s"] - 1
    layers["trace.core_docs"] = len(core["rows"]) if core else 0
    layers["trace.core_mismatched"] = core["mismatched"] if core else 0
    return layers, parse_by_kind(core)


def run_workload(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """One run of one workload; prints its report line and returns the
    result (correct, attempted, failed, metrics)."""
    deadline = time.monotonic() + RUN_BUDGET_S
    nproc = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_work", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.monotonic()
        props = gen.GENERATORS[workload](seed, DOCS_PER_SECOND[workload] * seconds,
                                         os.path.join(work, "input"))
        props["gen_s"] = time.monotonic() - t
        sub = "documents" if workload == "curate-pipeline" else "pages"
        props["input"] = os.path.join(work, "input", sub)

        # a traced run samples RSS in its untraced job; timed runs do not
        job = timed_job(workload, props, work, "timed", False, nproc, deadline, sample_rss=trace)
        t = time.monotonic()
        verdict = checks.check(workload, seed, work, job, props)
        verdict["check_s"] = time.monotonic() - t
        metrics = end_to_end(props, job, verdict)
        report = {
            "workload": workload,
            "host": host.stamp(seed, nproc),
            "input": props,
            "checks": verdict,
            "job_s": job["job_s"],
            "process_s": job["process_s"],
            "python_workers_at_setup": job["workers"],
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if trace:
            shutil.rmtree(job["out"], ignore_errors=True)
            layers, report["hostile_parse"] = traced_ledger(workload, props, work, nproc, deadline, job)
            layers["peak_rss_mb"] = job["peak_rss_mb"]
            layers["error_share"] = 1 - metrics["ok_share"][0]
            layers["doc_latency_samples"] = verdict["latency_ms"]["samples"]
            if layers["trace.core_mismatched"]:
                verdict["correct"] = False
            report["per_layer"] = {k: {"value": v, "unit": ledger.PER_LAYER[k]} for k, v in sorted(layers.items())}
        print(json.dumps({"report": report}))
        return {
            "correct": verdict["correct"],
            "attempted": verdict["attempted"],
            "failed": verdict["failed"],
            "metrics": report["per_layer" if trace else "end_to_end"],
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS) + ["all"],
                    help="'all' runs every workload in turn, one result line each")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    import htmlx  # noqa: F401  the program under test must be present

    become_subreaper()
    # a SIGTERM unwinds through the finally blocks that stop every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    finally:
        stop_descendants()


def run(args: argparse.Namespace) -> int:
    if args.workload != "all":
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    ok = True
    for workload in sorted(gen.GENERATORS):
        result = run_workload(workload, args.seed, args.seconds, bool(args.trace))
        print(json.dumps({"workload": workload, **result}))
        ok = ok and result["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
