"""Seeded input generator for the three benchmark workloads.

Every workload is a pure function of (seed, number of documents): the
same arguments write byte-identical parquet inputs. The program under test
only ever sees the tables written here.

The text model follows the repo's sf0.1 `documents` table: single-spaced
ASCII words drawn uniformly from a 30-word vocabulary, 10-100 words per
document, 20 sources and 5 languages. Size- and latency-shaping
properties (page sizes, hostile kinds, planted duplicate shares) are laid
out on a fixed grid and only *placed* by the seed, so every seed yields
the same input distribution and the runs of one workload are comparable.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ledger import nearest_rank

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en",) * 8 + ("fr", "fr", "zh", "zh", "de", "de", "es", "es")
N_SOURCES = 20
INPUT_FILES = 16  # the pages table is a multi-file crawl table, not one blob

# -- cc-large shaping ------------------------------------------------------
LARGE_MIN_KB = 16
LARGE_MAX_KB = 320
LEGACY_SHARE = 0.12
# (python codec, meta charset label, non-ASCII words in that script)
LEGACY = (
    ("cp1252", "windows-1252", "café naïve résumé façade déjà Übung straße"),
    ("cp1251", "windows-1251", "привет данные таблица строка поиск окно"),
    ("koi8_r", "koi8-r", "город книга работа время слово место"),
    ("shift_jis", "shift_jis", "日本語 文書 検索 表 列 値"),
    ("gbk", "gbk", "中文 数据 表格 查询 窗口 排序"),
    ("euc_kr", "euc-kr", "한국어 데이터 표 검색 창 정렬"),
)
# hostile kinds: (name, target KB). lt_run ("< " runs, the known
# super-linear parse) appears at two sizes so us/KB visibly grows between
# them; its 200 KB pages are the slowest block of the workload, so
# doc_p99_ms lands inside one homogeneous kind instead of on a boundary.
HOSTILE = (
    ("lt_run", 200),
    ("lt_run", 100),
    ("lt_run", 200),
    ("lt_run", 200),
    ("amp_run", 100),
    ("lt_run", 200),
    ("deep_nest", 24),
    ("lt_run", 200),
    ("attr_flood", 100),
    ("lt_run", 200),
    ("giant_table", 160),
)
HOSTILE_PER_DOCS = 400  # one full HOSTILE cycle per this many pages
DEEP_NEST_LEVELS = 480  # just under Config.max_depth (500)

# -- curate shaping --------------------------------------------------------
CURATE_HOSTS = 40
CURATE_STOPWORDS = ("to", "of", "and", "with", "that")
EXACT_DUP_SHARE = 0.10  # docs that are extra copies of another doc
NEAR_DUP_SHARE = 0.10  # docs that are small edits of another doc
TEMPLATE_SHARE = 0.60  # docs of a host that carry its template lines


def sf_text(rng: random.Random, lo: int = 10, hi: int = 100) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(lo, hi)))


def _write(path: str, table: pa.Table, files: int = INPUT_FILES) -> None:
    """Write `table` as `files` parquet part files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, math.ceil(n / files))
    for i, start in enumerate(range(0, n, step)):
        pq.write_table(table.slice(start, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for batch in table.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]


def _quantiles(values: list[int]) -> dict:
    s = sorted(values)
    return {"p50": nearest_rank(s, 0.50), "p99": nearest_rank(s, 0.99), "max": s[-1]}


# ---------------------------------------------------------------------------
# cc-small-pages: the 11 repo page templates over sf0.1-style documents
# ---------------------------------------------------------------------------


def small_documents(seed: int, n: int) -> pa.Table:
    """(doc_id, text, lang, source, template) with a seeded template mix."""
    from htmlx.spark.pages import PAGE_TEMPLATES

    rng = random.Random(seed)
    names = sorted(PAGE_TEMPLATES)
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "template": []}
    for i in range(n):
        rows["doc_id"].append(i)
        rows["text"].append(sf_text(rng))
        rows["lang"].append(rng.choice(LANGS))
        rows["source"].append(f"src{i % N_SOURCES}")
        rows["template"].append(rng.choice(names))
    return pa.table(rows)


def gen_small(seed: int, n: int, out_dir: str) -> dict:
    """Render the pages with the templates' DuckDB dialect (byte-identical
    to the Spark dialect by construction of htmlx.spark.pages)."""
    import duckdb

    from htmlx.spark.pages import PAGE_TEMPLATES, duckdb_pages_cte

    docs = small_documents(seed, n)
    con = duckdb.connect()
    con.register("all_docs", docs)
    parts = []
    for name in sorted(PAGE_TEMPLATES):
        cte = duckdb_pages_cte(name)
        parts.append(
            con.execute(
                f"WITH documents AS (SELECT * FROM all_docs WHERE template = '{name}') "
                f"SELECT url, TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS warc_ts, "
                f"encode(page_html) AS html, text, lang, doc_id FROM ({cte})"
            ).arrow()
        )
    pages = pa.concat_tables(parts).sort_by("doc_id").drop(["doc_id"])
    _write(os.path.join(out_dir, "pages"), pages)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    sizes = [len(b) for b in pages.column("html").to_pylist()]
    counts = {}
    for t in docs.column("template").to_pylist():
        counts[t] = counts.get(t, 0) + 1
    return {
        "docs": n,
        "input_bytes": _quantiles(sizes),
        "input_mb": round(sum(sizes) / 1e6, 3),
        "legacy_share": 0.0,
        "hostile_share": {},
        "template_mix": dict(sorted(counts.items())),
        "digest": _digest(pages),
    }


# ---------------------------------------------------------------------------
# cc-large-pages: crawl-sized structured pages, legacy charsets, hostile slice
# ---------------------------------------------------------------------------


def _words(rng: random.Random, lo: int, hi: int, extra: tuple = ()) -> str:
    return " ".join(rng.choices(VOCAB + list(extra) if extra else VOCAB, k=rng.randint(lo, hi)))


def _link_list(rng: random.Random, k: int, prefix: str) -> str:
    return "".join(
        f'<li><a href="{prefix}/{rng.choice(VOCAB)}-{j}">{rng.choice(VOCAB)} {rng.choice(VOCAB)}</a></li>'
        for j in range(k)
    )


def _section(rng: random.Random, doc_id: int, k: int, extra: tuple) -> str:
    parts = [f'<section class="part-{k}"><h2>{_words(rng, 2, 6, extra)}</h2>']
    for _ in range(rng.randint(2, 5)):
        parts.append(
            f"<p>{_words(rng, 20, 60, extra)} "
            f'<a href="https://ref{rng.randint(0, 9)}.example.org/{doc_id}/{k}">{_words(rng, 1, 3)}</a> '
            f"{_words(rng, 10, 40, extra)} <strong>{_words(rng, 1, 3)}</strong> "
            f"<em>{_words(rng, 1, 4)}</em>.</p>"
        )
    kind = rng.randrange(6)
    if kind == 0:
        items = "".join(f"<li>{_words(rng, 3, 12, extra)}</li>" for _ in range(rng.randint(3, 8)))
        parts.append(f"<ul>{items}</ul>")
    elif kind == 1:
        cols = rng.randint(3, 6)
        head = "".join(f"<th>{rng.choice(VOCAB)}</th>" for _ in range(cols))
        body = "".join(
            "<tr>" + "".join(f"<td>{rng.randint(0, 9999)}</td>" for _ in range(cols)) + "</tr>"
            for _ in range(rng.randint(3, 10))
        )
        parts.append(f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>")
    elif kind == 2:
        parts.append(
            f'<figure><img src="https://img.example.com/{doc_id}/{k}.jpg" '
            f'alt="{_words(rng, 2, 5)}" width="800" height="600">'
            f"<figcaption>{_words(rng, 4, 10, extra)}</figcaption></figure>"
        )
    elif kind == 3:
        parts.append(
            f'<div class="embed"><iframe src="https://www.youtube.com/embed/v{doc_id}x{k}" '
            f'width="560" height="315"></iframe></div>'
        )
    elif kind == 4:
        parts.append(
            f'<video src="https://cdn.example.com/v/{doc_id}-{k}.mp4" '
            f'poster="https://cdn.example.com/p/{doc_id}-{k}.jpg" controls></video>'
        )
    else:
        inner = f"<p>{_words(rng, 10, 30, extra)}</p>"
        for _ in range(rng.randint(3, 8)):
            inner = f'<div class="{rng.choice(VOCAB)}">{inner}</div>'
        parts.append(inner)
    parts.append("</section>")
    return "".join(parts)


def _structured_page(rng: random.Random, doc_id: int, target: int, legacy) -> bytes:
    """legacy: None (UTF-8 with meta charset) or (codec, label, words,
    declared) — undeclared legacy pages leave the charset to detection."""
    extra = tuple(legacy[2].split()) if legacy else ()
    if legacy:
        meta = f'<meta charset="{legacy[1]}">' if legacy[3] else ""
    else:
        meta = '<meta charset="utf-8">'
    title = _words(rng, 3, 8, extra)
    head = (
        f"<!DOCTYPE html><html><head>{meta}<title>{title}</title>"
        f'<meta name="description" content="{_words(rng, 5, 12)}">'
        '<link rel="stylesheet" href="/static/site.css">'
        "<script>window.dataLayer=window.dataLayer||[];function gtag(){dataLayer.push(arguments)}</script>"
        "<style>.nav{display:flex}.sidebar{width:30%}</style></head><body>"
        f'<header class="site-header"><nav class="nav menu"><ul>{_link_list(rng, rng.randint(8, 30), "/cat")}</ul></nav></header>'
        '<div class="container"><aside class="sidebar"><div class="widget"><h3>Related</h3>'
        f'<ul>{_link_list(rng, rng.randint(5, 20), "/related")}</ul></div>'
        f'<div class="ads"><p>{_words(rng, 5, 15)}</p></div></aside>'
        f'<main><article class="post"><h1>{title}</h1><div class="byline">{_words(rng, 2, 4)}</div>'
    )
    tail = (
        "</article></main></div>"
        f'<footer class="footer"><div class="links"><ul>{_link_list(rng, rng.randint(6, 15), "/about")}</ul></div>'
        "<p>Copyright Example Corp</p></footer>"
        "<script>(function(){var s=document.createElement('script');s.async=true;})();</script>"
        "</body></html>"
    )
    body = []
    size = len(head) + len(tail)
    k = 0
    while size < target:
        s = _section(rng, doc_id, k, extra)
        body.append(s)
        size += len(s.encode("utf-8"))
        k += 1
    html = head + "".join(body) + tail
    if legacy:
        return html.encode(legacy[0], errors="replace")
    return html.encode("utf-8")


def _hostile_page(rng: random.Random, kind: str, kb: int) -> bytes:
    target = kb * 1024
    pre = f"<html><head><title>{_words(rng, 2, 4)}</title></head><body><p>{_words(rng, 5, 10)}</p>"
    post = "</body></html>"
    if kind == "lt_run":
        body = "<p>" + "< " * ((target - len(pre)) // 2) + "</p>"
    elif kind == "amp_run":
        body = "<p>" + "& " * ((target - len(pre)) // 2) + "</p>"
    elif kind == "deep_nest":
        filler = _words(rng, 2, 6)
        per = max(1, (target - len(pre)) // DEEP_NEST_LEVELS - 12)
        body = "".join(f"<div>{filler[:per]}" for _ in range(DEEP_NEST_LEVELS))
        body += "</div>" * DEEP_NEST_LEVELS
    elif kind == "attr_flood":
        n = (target - len(pre)) // 12
        body = "<div " + " ".join(f'a{i}="v{i % 97}"' for i in range(n)) + f"><p>{_words(rng, 10, 20)}</p></div>"
    elif kind == "giant_table":
        cols = 20
        row = "<tr>" + "".join(f"<td>{j}</td>" for j in range(cols)) + "</tr>"
        body = "<table>" + row * max(1, (target - len(pre)) // len(row)) + "</table>"
    else:
        raise ValueError(kind)
    return (pre + body + post).encode("utf-8")


def _large_layout(n: int) -> list[list[tuple]]:
    """Per input file, the (target bytes, legacy charset, hostile kind)
    of each page. Every file holds the same log-spaced size grid and the
    same legacy share, and the hostile pages are spread over the files, so
    whichever files Spark packs into one task, the tasks cost about the
    same on every seed. The seed only orders pages and writes their text."""
    per_file = max(1, n // INPUT_FILES)
    lo, hi = math.log(LARGE_MIN_KB * 1024), math.log(LARGE_MAX_KB * 1024)
    grid = [int(math.exp(lo + (hi - lo) * (i + 0.5) / per_file)) for i in range(per_file)]
    n_legacy = round(LEGACY_SHARE * per_file)
    n_hostile = len(HOSTILE) * max(1, round(per_file * INPUT_FILES / HOSTILE_PER_DOCS))
    layout, legacy_no = [], 0
    for f in range(INPUT_FILES):
        specs = [[size, None, None] for size in grid]
        for k in range(n_legacy):  # legacy pages span the size range
            slot = (k * per_file) // n_legacy + (f % max(1, per_file // n_legacy))
            specs[min(slot, per_file - 1)][1] = LEGACY[legacy_no % len(LEGACY)] + (legacy_no // len(LEGACY) % 2 == 0,)
            legacy_no += 1
        layout.append(specs)
    for j in range(n_hostile):
        specs = layout[(j * INPUT_FILES) // n_hostile]
        free = next(s for s in specs if s[1] is None and s[2] is None)
        free[2] = HOSTILE[j % len(HOSTILE)]
    return [[tuple(s) for s in specs] for specs in layout]


def gen_large(seed: int, n: int, out_dir: str) -> dict:
    rng = random.Random(seed)
    urls, htmls, kinds, charsets = [], [], [], []
    for specs in _large_layout(n):
        specs = list(specs)
        rng.shuffle(specs)
        for size, legacy, hostile in specs:
            i = len(urls)
            urls.append(f"https://site{i % 97}.example.net/{rng.choice(VOCAB)}/{i}")
            if hostile:
                kind, kb = hostile
                htmls.append(_hostile_page(rng, kind, kb))
                kinds.append(f"{kind}_{kb}kb")
                charsets.append("utf-8")
            else:
                htmls.append(_structured_page(rng, i, size, legacy))
                kinds.append("")
                charsets.append((legacy[1] + ("" if legacy[3] else "/no-meta")) if legacy else "utf-8")
    n = len(urls)
    n_legacy = sum(1 for c in charsets if c != "utf-8")
    pages = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array([1767225600_000_000 + i for i in range(n)], pa.timestamp("us")),
            "html": pa.array(htmls, pa.binary()),
            "hostile": kinds,
            "charset": charsets,
        }
    )
    _write(os.path.join(out_dir, "pages"), pages)
    lens = [len(h) for h in htmls]
    by_kind: dict[str, int] = {}
    for k in kinds:
        if k:
            by_kind[k] = by_kind.get(k, 0) + 1
    return {
        "docs": n,
        "input_bytes": _quantiles(lens),
        "input_mb": round(sum(lens) / 1e6, 3),
        "legacy_share": round(n_legacy / n, 4),
        "hostile_share": {k: round(v / n, 4) for k, v in sorted(by_kind.items())},
        "digest": _digest(pages),
    }


# ---------------------------------------------------------------------------
# curate-pipeline: multi-line documents with planted dups and host templates
# ---------------------------------------------------------------------------


def _curate_line(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB + list(CURATE_STOPWORDS) * 2, k=rng.randint(8, 20))) + "."


def _near_edit(rng: random.Random, text: str) -> str:
    """A small edit near the end (one word replaced, one appended), so
    few shingles change and the Jaccard similarity stays above 0.9."""
    head, _, last = text.rpartition(" ")
    return f"{head} {rng.choice(VOCAB)} {rng.choice(VOCAB)}."


def gen_curate(seed: int, n: int, out_dir: str) -> dict:
    rng = random.Random(seed)
    n_exact = round(EXACT_DUP_SHARE * n)
    n_near = round(NEAR_DUP_SHARE * n)
    n_base = n - n_exact - n_near
    templates = {
        h: [
            f"home | news | contact | site{h} menu",
            f"copyright site{h} example media all rights reserved",
        ]
        for h in range(CURATE_HOSTS)
    }
    base = []
    for i in range(n_base):
        host = i % CURATE_HOSTS
        lines = [_curate_line(rng) for _ in range(rng.randint(5, 9))]
        if rng.random() < TEMPLATE_SHARE:
            lines = [templates[host][0]] + lines + [templates[host][1]]
        base.append((host, "\n".join(lines)))
    # copies: an exact copy keeps the text byte for byte on the SAME host
    # (template lines identical too); a near copy gets small edits
    copies = []
    exact_sources = rng.sample(range(n_base), n_exact)
    for src in exact_sources:
        copies.append(("exact", src, base[src][0], base[src][1]))
    near_pool = sorted(set(range(n_base)) - set(exact_sources))
    for src in rng.sample(near_pool, n_near):
        copies.append(("near", src, base[src][0], _near_edit(rng, base[src][1])))
    order = list(range(n))
    rng.shuffle(order)  # doc_ids are a seeded permutation, so copies interleave
    rows = {"doc_id": [], "url": [], "text": [], "source": [], "lang": []}
    planted_kind = []
    planted_src_id = []
    for slot, (host, text) in enumerate(base):
        rows["doc_id"].append(order[slot])
        rows["text"].append(text)
        planted_kind.append("")
        planted_src_id.append(-1)
        rows["url"].append(f"https://site{host}.example.com/doc/{order[slot]}")
        rows["source"].append(f"src{host % N_SOURCES}")
        rows["lang"].append(rng.choice(LANGS))
    for j, (kind, src, host, text) in enumerate(copies):
        did = order[n_base + j]
        rows["doc_id"].append(did)
        rows["text"].append(text)
        planted_kind.append(kind)
        planted_src_id.append(order[src])
        rows["url"].append(f"https://site{host}.example.com/doc/{did}")
        rows["source"].append(f"src{host % N_SOURCES}")
        rows["lang"].append(rng.choice(LANGS))
    docs = pa.table(rows).sort_by("doc_id")
    _write(os.path.join(out_dir, "documents"), docs)
    plants = pa.table(
        {"doc_id": rows["doc_id"], "kind": planted_kind, "source_doc_id": planted_src_id}
    )
    pq.write_table(plants, os.path.join(out_dir, "plants.parquet"))
    lens = [len(t.encode()) for t in rows["text"]]
    tmpl_docs = sum(1 for t in rows["text"] if "menu\n" in t)
    return {
        "docs": n,
        "input_bytes": _quantiles(lens),
        "input_mb": round(sum(lens) / 1e6, 3),
        "exact_dup_share": round(n_exact / n, 4),
        "near_dup_share": round(n_near / n, 4),
        "template_share": round(tmpl_docs / n, 4),
        "digest": _digest(docs),
    }


GENERATORS = {"cc-small-pages": gen_small, "cc-large-pages": gen_large, "curate-pipeline": gen_curate}
