"""Host stamp attached to every benchmark result."""

from __future__ import annotations

import datetime
import hashlib
import os
import platform
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _ram_gb() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return round(int(line.split()[1]) / 2**20, 1)
    except OSError:
        pass
    return 0.0


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=20)
        return (out.stderr or out.stdout).splitlines()[0].strip()
    except (OSError, IndexError, subprocess.TimeoutExpired):
        return "unknown"


def _git_commit() -> str | None:
    """HEAD of the checkout, or None when the checkout is not itself the
    root of a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def source_digest() -> str:
    """sha256 over the program's sources (htmlx/ and jobs/): identifies the
    code under test where the checkout is not a git repository."""
    h = hashlib.sha256()
    for top in ("htmlx", "jobs"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def stamp(seed: int, nproc: int) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "cpu_model": _cpu_model(),
        "ram_gb": _ram_gb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "git_commit": _git_commit(),
        "source_digest": source_digest(),
        "seed": seed,
        "utc": datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
