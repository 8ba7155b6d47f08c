"""Output checks for one benchmark run. Any failed check fails the run.

cc-*   every input url appears exactly once in the results; a seeded
       sample (every hostile page included) equals an in-process
       Extractor(Config()).extract of the same bytes; on cc-small-pages the
       template pages equal the repo's DuckDB template oracles.
curate each planted exact-duplicate group keeps only its minimum doc_id,
       and the audit.parquet in/dropped/out counts chain consistently.

The verdict also carries the per-document latency samples: the engine's
processing_time_us on cc-*, and on curate the time from the job's start to
each document's final disposition (the commit of the stage that dropped it).
"""

from __future__ import annotations

import os
import pickle
import random
import subprocess
import sys

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ledger import CURATE_STAGES, nearest_rank, project

COMPARED = ("text", "title", "links", "images", "videos", "audios", "error")
SAMPLE = {"cc-small-pages": 400, "cc-large-pages": 24}
# template -> repo oracle that pins its extracted text
TEXT_ORACLES = {
    "text": "extract_text",
    "boilerplate": "extract_boilerplate",
    "table": "extract_tables",
    "entities": "extract_entities",
    "nested": "extract_nested_boilerplate",
    "colspan": "extract_colspan_table",
    "deeplist": "extract_deeplist",
}
ANNOTATION_STAGES = ("hosttmpl", "spandedup")


def _read(path: str, columns=None) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def latency(sorted_ms: list) -> dict:
    return {"p50": nearest_rank(sorted_ms, 0.50), "p99": nearest_rank(sorted_ms, 0.99),
            "samples": len(sorted_ms)}


def results_table(out: str) -> pa.Table:
    return _read(os.path.join(out, "results", "data"), ["url", "processing_time_us", *COMPARED])


def results_by_url(out: str) -> dict:
    return {r["url"]: r for r in results_table(out).to_pylist()}


def _extract_file(src: str, dst: str) -> None:
    from htmlx.core.extract import Config, Extractor

    with open(src, "rb") as f:
        htmls = pickle.load(f)
    out = []
    for html in htmls:
        r = Extractor(Config()).extract(html)
        out.append({f: getattr(r, f) for f in COMPARED})
    with open(dst, "wb") as f:
        pickle.dump(out, f)


def extract_in_processes(htmls: list, work: str) -> list:
    """Extractor(Config()).extract of each page, in one fresh Python process
    per core, pages dealt round-robin in the given order. Plain subprocesses,
    each waited for: a multiprocessing pool would leave its resource-tracker
    process running after the benchmark exits."""
    n = min(len(htmls), os.cpu_count() or 1)
    shares = [list(range(k, len(htmls), n)) for k in range(n)]
    procs = []
    try:
        for k, share in enumerate(shares):
            src, dst = (os.path.join(work, f"check-{k}.{ext}") for ext in ("in", "out"))
            with open(src, "wb") as f:
                pickle.dump([htmls[i] for i in share], f)
            procs.append(subprocess.Popen([sys.executable, os.path.abspath(__file__), src, dst]))
        for p in procs:
            if p.wait() != 0:
                raise RuntimeError(f"sample check process failed (exit {p.returncode})")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    wants = [None] * len(htmls)
    for k, share in enumerate(shares):
        with open(os.path.join(work, f"check-{k}.out"), "rb") as f:
            for i, want in zip(share, pickle.load(f)):
                wants[i] = want
    return wants


def check_extract(workload: str, seed: int, work: str, out: str, props: dict) -> dict:
    pages = _read(props["input"])
    res = results_table(out)
    in_urls = pages.column("url").to_pylist()
    out_urls = res.column("url").to_pylist()
    seen: dict[str, int] = {}
    for u in out_urls:
        seen[u] = seen.get(u, 0) + 1
    missing = sum(1 for u in in_urls if u not in seen)
    duplicated = sum(c - 1 for c in seen.values() if c > 1)
    errors = sum(1 for e in res.column("error").to_pylist() if e)
    lat = sorted(us / 1000 for us in res.column("processing_time_us").to_pylist())

    by_url = {r["url"]: r for r in res.to_pylist()}
    rng = random.Random(seed * 7919 + 1)
    idx = set(rng.sample(range(len(in_urls)), min(SAMPLE[workload], len(in_urls))))
    if "hostile" in pages.column_names:
        idx |= {i for i, k in enumerate(pages.column("hostile").to_pylist()) if k}
    htmls = pages.column("html")
    # largest pages first so the slow hostile ones spread over the
    # processes; the job has finished, so the check may use every core
    sample = sorted(idx, key=lambda i: -len(htmls[i].as_py()))
    wants = extract_in_processes([htmls[i].as_py() for i in sample], work)
    mismatched = []
    for i, want in zip(sample, wants):
        row = by_url.get(in_urls[i])
        if row is None:
            mismatched.append(in_urls[i])
            continue
        for f in COMPARED:
            got, exp = row[f], want[f]
            if isinstance(exp, list):
                exp = project(exp, got)
            if got != exp:
                mismatched.append(f"{in_urls[i]}:{f}")
                break
    verdict = {
        "attempted": len(in_urls),
        "missing_urls": missing,
        "duplicated_urls": duplicated,
        "error_rows": errors,
        "sample_checked": len(idx),
        "sample_mismatched": mismatched[:10],
        "latency_ms": latency(lat),
    }
    ok = not missing and not duplicated and not mismatched
    if workload == "cc-small-pages":
        bad = oracle_mismatches(os.path.join(work, "input", "documents.parquet"), by_url)
        verdict["oracle_mismatched"] = bad[:10]
        ok = ok and not bad
    verdict["failed"] = errors + missing + duplicated
    verdict["correct"] = ok
    return verdict


def oracle_mismatches(documents_path: str, by_url: dict) -> list:
    """Compare template pages against the repo's DuckDB oracles."""
    import duckdb

    from htmlx.spark.entryqueries import ORACLES

    con = duckdb.connect()
    con.register("all_docs", pq.read_table(documents_path))
    bad = []

    def rows(template: str, oracle: str):
        sql = f"WITH documents AS (SELECT * FROM all_docs WHERE template = '{template}') {ORACLES[oracle]}"
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    for template, oracle in TEXT_ORACLES.items():
        for want in rows(template, oracle):
            got = by_url.get(want["url"])
            if got is None or got["text"] != want["text"] or (
                "title" in want and got["title"] != want["title"]
            ):
                bad.append(f"{want['url']}:{template}")

    def exploded(template: str, field: str, cols: tuple):
        got = []
        for want_url in {r["url"] for r in rows(template, "extract_text")}:
            for item in by_url.get(want_url, {}).get(field) or []:
                got.append((want_url,) + tuple(item[c] for c in cols))
        return sorted(got, key=repr)

    link_cols = ("url", "text", "title", "is_external", "is_nofollow", "position")
    img_cols = ("url", "alt", "width", "height", "is_decorative", "position")
    for template, oracle, field, cols in (
        ("links", "extract_links", "links", link_cols),
        ("images", "extract_images", "images", img_cols),
    ):
        want = sorted((tuple(r.values()) for r in rows(template, oracle)), key=repr)
        if exploded(template, field, cols) != want:
            bad.append(f"{template}:{field}")
    for want in rows("media", "extract_media"):
        got = by_url.get(want["url"])
        v = (got or {}).get("videos") or [{}]
        a = (got or {}).get("audios") or [{}]
        seen = (v[0].get("url"), v[0].get("poster"), v[0].get("width"), len(got["videos"]) if got else 0,
                a[0].get("url"), len(got["audios"]) if got else 0)
        if seen != (want["video_url"], want["video_poster"], want["video_width"], want["n_videos"],
                    want["audio_url"], want["n_audios"]):
            bad.append(f"{want['url']}:media")
    return bad


def disposition_ms(root: str, audit: list[dict], doc_ids: set, t0: float) -> list[float]:
    """Per input document, ms from the job's start until the commit of the
    stage that dropped it; survivors finish with the last stage's commit."""
    alive, lat, t = set(doc_ids), [], t0
    for r in audit:
        path = os.path.join(root, f"stage_{r['stage']}.parquet")
        t = os.path.getmtime(os.path.join(path, "_SUCCESS"))
        if r["stage"] in ANNOTATION_STAGES:
            continue  # rewrites text, drops nothing
        kept = alive & set(pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist())
        lat += [(t - t0) * 1000] * len(alive - kept)
        alive = kept
    return sorted(lat + [(t - t0) * 1000] * len(alive))


def check_curate(work: str, job: dict, props: dict) -> dict:
    root = os.path.join(job["out"], "curate")
    audit = sorted(pq.read_table(os.path.join(root, "audit.parquet")).to_pylist(),
                   key=lambda r: r["stage_idx"])
    problems = []
    prev_out = props["docs"]
    for r in audit:
        if r["docs_in"] != prev_out or r["docs_in"] - r["docs_dropped"] != r["docs_out"]:
            problems.append(f"audit:{r['stage']}")
        prev_out = r["docs_out"]
    ran = [r["stage"] for r in audit]
    failed_stages = [s for s in CURATE_STAGES if s not in ran]

    def keep(stage):
        return set(pq.read_table(os.path.join(root, f"stage_{stage}.parquet"),
                                 columns=["doc_id"]).column("doc_id").to_pylist())

    quality, exact = keep("quality"), keep("exact_dedup")
    plants = pq.read_table(os.path.join(work, "input", "plants.parquet")).to_pylist()
    groups: dict[int, set] = {}
    for p in plants:
        if p["kind"] == "exact":
            groups.setdefault(p["source_doc_id"], {p["source_doc_id"]}).add(p["doc_id"])
    checked = 0
    for members in groups.values():
        passed = members & quality
        if not passed:
            continue  # the whole group failed the quality gate together
        checked += 1
        if passed != members or (members & exact) != {min(members)}:
            problems.append(f"exact_group:{min(members)}")
    doc_ids = set(_read(props["input"], ["doc_id"]).column("doc_id").to_pylist())
    lat = disposition_ms(root, audit, doc_ids, job["job_wall"][0])
    return {
        "attempted": len(CURATE_STAGES),
        "failed": len(failed_stages),
        "stages": ran,
        "audit": [{k: r[k] for k in ("stage", "docs_in", "docs_dropped", "docs_out")} for r in audit],
        "exact_groups_checked": checked,
        "exact_groups_total": len(groups),
        "problems": problems[:10],
        "latency_ms": latency(lat),
        "correct": not problems and not failed_stages and checked > 0,
    }


def check(workload: str, seed: int, work: str, job: dict, props: dict) -> dict:
    if workload == "curate-pipeline":
        return check_curate(work, job, props)
    return check_extract(workload, seed, work, job["out"], props)


if __name__ == "__main__":
    # sample-check worker: python3 perfbench/checks.py <pages.pickle> <out.pickle>
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _extract_file(sys.argv[1], sys.argv[2])
