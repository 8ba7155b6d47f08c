"""One benchmark job in a fresh process: Spark set-up, then the production
entry point, then (traced runs only) the layer ledger read back from Spark.

  python3 perfbench/job.py <spec.json>

The spec names the workload, its generated input, the output root, the
core count, whether the run is traced, and the CLOCK_MONOTONIC instant the
parent spawned this process (set-up is timed from there). The report is
written as JSON to spec["report"]; nothing is printed on success.
"""

from __future__ import annotations

import json
import os
import runpy
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def _warm_workers(spark, nproc: int) -> int:
    """Start one Python worker per core: nproc concurrent tasks, each held
    briefly so no task can reuse a worker another task released."""

    def hold(batches):
        import os as _os
        import time as _time

        import pandas as pd

        _time.sleep(0.25)
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [_os.getpid()]})

    rows = spark.range(nproc, numPartitions=nproc).mapInPandas(hold, "pid long").collect()
    return len({r.pid for r in rows})


def _entry(name: str):
    return runpy.run_path(os.path.join(ROOT, "jobs", name), run_name="perfbench")["main"]


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    workload, nproc, trace = spec["workload"], spec["nproc"], spec["trace"]
    out = spec["out"]
    ledger = None
    if trace:
        from ledger import DriverLedger

        ledger = DriverLedger()
        ledger.install(workload)

    from htmlx.spark.session import get_spark

    curate = workload == "curate-pipeline"
    spark = get_spark(cores=nproc, adaptive=curate)
    spark.sparkContext.setLogLevel("ERROR")
    workers = _warm_workers(spark, nproc)
    t_ready = time.monotonic()
    if curate:
        main_fn = _entry("curate.py")
        argv = ["curate.py", "--mode", "pipeline", "--input", spec["input"],
                "--output", os.path.join(out, "curate"), "--hosttmpl", "--spandedup",
                "--threshold", "0.9"]
    else:
        main_fn = _entry("extract.py")
        argv = ["extract.py", "--input", spec["input"],
                "--output", os.path.join(out, "results"),
                "--metrics", os.path.join(out, "metrics"),
                "--audit", os.path.join(out, "audit"), "--run-id", "bench"]
    sys.argv = argv
    if ledger:
        ledger.begin()
    t0 = time.monotonic()
    w0 = time.time()
    main_fn()
    t1 = time.monotonic()
    w1 = time.time()
    report = {
        "setup_s": t_ready - spec["t_spawn"],
        "job_s": t1 - t0,
        "job_wall": [w0, w1],
        "workers": workers,
    }
    if ledger:
        ledger.end()
        report["ledger"] = ledger.collect(spark)
        spark.stop()  # flushes the event log
    with open(spec["report"], "w") as f:
        json.dump(report, f)
    # the parent stops the process group (JVM, Python daemon) right away
    os._exit(0)


if __name__ == "__main__":
    main()
