"""Dedup keep-policy (VERDICT r5 item 6) and the staged curate pipeline
mode (item 7): survivor selection by a caller-supplied ordering column,
and the quality->dedup->decontaminate->split->pack chain with per-stage
audit counts and stage-level resume."""

import argparse
import json
import os

import pytest

from pyspark.sql import functions as F

from htmlx.spark.analytics import dedup_exact, dedup_paragraphs, split_paragraphs
from htmlx.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-curate-test")
    yield s
    s.stop()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, prio long")


def test_keep_policy_min_max_and_tiebreak(spark):
    rows = [
        (10, "aaa", 1),
        (11, "aaa", 5),
        (12, "aaa", 5),  # prio tie with 11 -> min doc_id wins under desc
        (20, "bbb", 9),
    ]
    docs = _docs(spark, rows)
    default = {r.text_md5: r.keep_doc_id for r in dedup_exact(docs).collect()}
    lowest = {r.text_md5: r.keep_doc_id
              for r in dedup_exact(docs, keep_by="prio").collect()}
    highest = {r.text_md5: r.keep_doc_id
               for r in dedup_exact(docs, keep_by="prio", descending=True).collect()}
    import hashlib

    ka = hashlib.md5(b"aaa").hexdigest()
    kb = hashlib.md5(b"bbb").hexdigest()
    assert default[ka] == 10 and default[kb] == 20
    assert lowest[ka] == 10  # prio 1 is lowest
    assert highest[ka] == 11  # prio 5 twice: ties fall to the SMALLER doc_id
    assert highest[kb] == 20


def test_keep_policy_paragraphs(spark):
    rows = [
        (1, "x\nshared", 3),
        (2, "y\nshared", 7),
        (3, "z\nshared", 7),  # tie with doc 2 under desc -> doc 2 survives
    ]
    docs = _docs(spark, rows)
    paras = split_paragraphs(docs, extra_cols=("prio",))
    out = {r.content_md5: (r.keep_doc_id, r.dup_count)
           for r in dedup_paragraphs(paras, keep_by="prio", descending=True).collect()}
    import hashlib

    keep, count = out[hashlib.md5(b"shared").hexdigest()]
    assert keep == 2 and count == 3


def _pipeline_args(tmp_path, **over):
    base = dict(
        output=str(tmp_path / "out"),
        quality_rule="none",
        keep_by=None,
        keep_desc=False,
        hash_basis="xxhash64",
        threshold=0.9,
        iters=0,
        eval_input=None,
        seq_len=64,
        pack_buckets=2,
    )
    base.update(over)
    return argparse.Namespace(**base)


def test_pipeline_stages_audit_and_resume(spark, tmp_path):
    from jobs.curate import run_pipeline

    # 6 docs: 2 exact dups (1,2), the rest distinct; no quality gate so
    # the arithmetic stays hand-checkable
    rows = [
        (1, "alpha beta gamma delta " * 8, 0),
        (2, "alpha beta gamma delta " * 8, 1),  # exact dup of 1
        (3, "one two three four five six " * 6, 0),
        (4, "seven eight nine ten eleven " * 6, 0),
        (5, "completely different words here now " * 6, 0),
        (6, "another unique document text body " * 6, 0),
    ]
    docs = _docs(spark, rows)
    manifest = run_pipeline(spark, docs, _pipeline_args(tmp_path))
    assert manifest["n_input"] == 6
    done = manifest["completed"]
    assert done["exact_dedup"]["docs_out"] == 5
    assert done["near_dedup"]["docs_in"] == 5
    assert done["split"]["docs_out"] == done["near_dedup"]["docs_out"]
    # audit table has one row per executed stage with consistent counts
    audit = {r.stage: r for r in
             spark.read.parquet(str(tmp_path / "out" / "audit.parquet")).collect()}
    assert audit["exact_dedup"].docs_dropped == 1
    assert audit["exact_dedup"].docs_in == 6
    assert set(audit) == {"exact_dedup", "near_dedup", "split", "pack"}
    # pack output exists and covers only the train split
    packed = spark.read.parquet(str(tmp_path / "out" / "stage_pack.parquet"))
    assert packed.columns == ["doc_id", "pack_bucket", "pack_bin", "pack_offset"]

    # resume: poison one stage file's manifest mtime marker by recording
    # the manifest, re-run, and assert no stage was recomputed (the
    # manifest object is byte-identical -> every stage was skipped)
    mpath = tmp_path / "out" / "_pipeline_manifest.json"
    before = mpath.read_text()
    run_pipeline(spark, docs, _pipeline_args(tmp_path))
    assert mpath.read_text() == before


def test_pipeline_keep_policy_changes_survivor(spark, tmp_path):
    from jobs.curate import run_pipeline

    rows = [
        (1, "same text body repeated here " * 8, 1),
        (2, "same text body repeated here " * 8, 9),  # highest prio
        (3, "other content entirely different " * 8, 5),
    ]
    docs = _docs(spark, rows)
    run_pipeline(
        spark, docs, _pipeline_args(tmp_path, keep_by="prio", keep_desc=True)
    )
    kept = {
        r.doc_id
        for r in spark.read.parquet(
            str(tmp_path / "out" / "stage_exact_dedup.parquet")
        ).collect()
    }
    assert kept == {2, 3}


def test_pipeline_manifest_is_write_then_commit(spark, tmp_path):
    """A stage crash must leave the manifest without that stage (and the
    ones after it) so a re-run redoes only the missing tail —
    write-then-commit, the io.ParquetTableIO contract."""
    from jobs.curate import run_pipeline

    docs = _docs(spark, [(1, "w " * 60, 0), (2, "v " * 60, 0)])
    # a missing eval parquet makes the decontaminate stage fail after
    # exact/near dedup committed but before split/pack ran
    args = _pipeline_args(tmp_path, eval_input=str(tmp_path / "missing.parquet"))
    with pytest.raises(Exception):
        run_pipeline(spark, docs, args)
    manifest = json.loads((tmp_path / "out" / "_pipeline_manifest.json").read_text())
    assert "near_dedup" in manifest["completed"]
    for missing in ("decontaminate", "split", "pack"):
        assert missing not in manifest["completed"]
    # dropping the bad eval input resumes and completes the missing tail
    run_pipeline(spark, docs, _pipeline_args(tmp_path))
    manifest = json.loads((tmp_path / "out" / "_pipeline_manifest.json").read_text())
    assert "pack" in manifest["completed"]


def test_pipeline_urlfilter_and_tempsample_stages(spark, tmp_path):
    """The r6 pipeline extensions: a url column triggers the urlfilter
    stage (blocklist honored, drops recorded first), --temp inserts the
    rebalancing stage after cleaning, and resume still skips everything
    on a second run."""
    from jobs.curate import run_pipeline

    rows = [
        # (doc_id, text, source, url) — doc 1 lands on the blocklist,
        # doc 2 trips the keyword rule; 3..8 survive to dedup (3=4 exact)
        (1, "alpha beta gamma delta " * 8, "sA", "https://spam.bad.example/x"),
        (2, "one two three four five six " * 6, "sA", "https://ok.example/free-xxx"),
        (3, "seven eight nine ten eleven " * 6, "sA", "https://ok.example/a"),
        (4, "seven eight nine ten eleven " * 6, "sA", "https://ok.example/b"),
        (5, "completely different words here now " * 6, "sA", "https://ok.example/c"),
        (6, "another unique document text body " * 6, "sA", "https://ok.example/d"),
        (7, "more spread out tokens in this one " * 6, "sB", "https://ok.example/e"),
        (8, "final body with its own words too " * 6, "sB", "https://ok.example/f"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string, url string")
    bl = tmp_path / "bl.txt"
    bl.write_text("# list\nbad.example\n")
    args = _pipeline_args(
        tmp_path, blocklist=str(bl), temp=True, group_col="source",
        alpha=0.5, target_frac=None,
    )
    manifest = run_pipeline(spark, docs, args)
    done = manifest["completed"]
    assert done["urlfilter"]["docs_in"] == 8
    assert done["urlfilter"]["docs_out"] == 6  # blocklist + keyword drops
    assert done["exact_dedup"]["docs_in"] == 6
    assert done["exact_dedup"]["docs_out"] == 5
    assert "tempsample" in done and done["tempsample"]["docs_in"] == done["near_dedup"]["docs_out"]
    audit = {r.stage: r for r in
             spark.read.parquet(str(tmp_path / "out" / "audit.parquet")).collect()}
    assert list(audit) and audit["urlfilter"].docs_dropped == 2
    assert set(audit) >= {"urlfilter", "exact_dedup", "tempsample", "split", "pack"}

    mpath = tmp_path / "out" / "_pipeline_manifest.json"
    before = mpath.read_text()
    run_pipeline(spark, docs, args)
    assert mpath.read_text() == before


def test_pipeline_hosttmpl_stage_unmasks_exact_dups(spark, tmp_path):
    """--hosttmpl inserts the template-removal annotation stage: docs 1/2
    differ ONLY by their host NAV line vs none — after template removal
    they are exact dups and exact_dedup must collapse them, proving the
    cleaned text (not the original) flows into later stages. The audit
    must record hosttmpl as a zero-drop stage with docs_touched set."""
    from jobs.curate import run_pipeline

    body = "alpha beta gamma delta " * 8
    rows = [
        # host h.example: 3 docs sharing a NAV template line
        (1, "NAV LINE\n" + body, "sA", "https://h.example/a"),
        (3, "NAV LINE\nsecond body words here " * 1, "sA", "https://h.example/b"),
        (4, "NAV LINE\nthird body different words", "sA", "https://h.example/c"),
        # other host: same body with NO nav line -> dup of 1 after cleaning
        (2, body, "sA", "https://o.example/a"),
        (5, "yet another unique document body", "sA", "https://o.example/b"),
        (6, "and one more distinct text here", "sA", "https://o.example/c"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, url string"
    )
    args = _pipeline_args(tmp_path, hosttmpl=True, tmpl_min_docs=3,
                          tmpl_min_frac=0.5)
    manifest = run_pipeline(spark, docs, args)
    done = manifest["completed"]
    assert done["hosttmpl"]["docs_in"] == 6
    assert done["hosttmpl"]["docs_out"] == 6  # annotation stage drops nothing
    assert done["hosttmpl"]["docs_touched"] == 3  # the h.example docs
    # after NAV removal doc 1 == doc 2 byte-for-byte -> one survivor
    assert done["exact_dedup"]["docs_in"] == 6
    assert done["exact_dedup"]["docs_out"] == 5
    audit = {r.stage: r for r in
             spark.read.parquet(str(tmp_path / "out" / "audit.parquet")).collect()}
    assert audit["hosttmpl"].docs_dropped == 0
    assert audit["exact_dedup"].docs_dropped == 1


def test_pipeline_robots_from_pages_gates_extraction(spark, tmp_path):
    """--robots-from-pages (r7 VERDICT item 5): the robots rule table is
    derived from /robots.txt captures INSIDE the input pages table —
    status fail-closed policy included — and gates the pipeline; resume
    leaves the manifest byte-identical."""
    from jobs.curate import run_pipeline

    def page(i, url, text, html=b"", status=200):
        return (i, url, text, bytearray(html), status, i)

    rb_h1 = b"User-agent: *\nDisallow: /blocked/\n"
    rb_h3 = b"User-agent: *\nAllow: /\n"  # 503 capture: must fail CLOSED
    rows = [
        # robots captures (the crawl's own /robots.txt responses)
        page(100, "https://h1.example.com/robots.txt", "robots capture", rb_h1),
        page(101, "https://h3.example.com/robots.txt", "robots capture", rb_h3,
             status=503),
        # corpus docs
        page(1, "https://h1.example.com/blocked/a", "alpha words one " * 10),
        page(2, "https://h1.example.com/ok/b", "beta words two " * 10),
        page(3, "https://h2.example.com/c", "gamma words three " * 10),  # no robots
        page(4, "https://h3.example.com/open/d", "delta words four " * 10),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, url string, text string, html binary, "
        "http_status int, warc_ts long",
    )
    args = _pipeline_args(tmp_path, robots_from_pages=True)
    manifest = run_pipeline(spark, docs, args)
    done = manifest["completed"]
    assert done["robots"]["docs_in"] == 6
    # dropped: doc 1 (Disallow /blocked/), doc 4 (503 host fail-closed)
    surv = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "out" / "stage_robots.parquet")).collect()}
    assert 1 not in surv and 4 not in surv
    assert {2, 3} <= surv
    # resume: manifest byte-identical, no stage recomputed
    mpath = tmp_path / "out" / "_pipeline_manifest.json"
    before = mpath.read_text()
    run_pipeline(spark, docs, args)
    assert mpath.read_text() == before


def test_pipeline_spandedup_stage_rewrites_text(spark, tmp_path):
    """--spandedup inserts the Lee-2022 substring-span annotation stage
    after the doc-level dedups: a >=w-token run shared by two otherwise
    distinct docs is removed from the later one, drops nothing, and the
    cleaned text (not the original) flows into later stages — pinned by
    decontaminating against an eval 13-gram that lives ONLY inside the
    removed span (contaminated before the stage, clean after it)."""
    from jobs.curate import run_pipeline

    span = " ".join(f"shared{i}" for i in range(20))
    head1 = " ".join(f"alpha{i}" for i in range(16))
    tail2 = " ".join(f"tailword{i}" for i in range(16))
    rows = [
        (1, head1 + " " + span, 0),
        (2, span + " " + tail2, 0),
        (3, " ".join(f"other{i}" for i in range(30)), 0),
    ]
    docs = _docs(spark, rows)
    ev = spark.createDataFrame(
        [(" ".join(f"shared{i}" for i in range(4, 17)),)], "text string"
    )
    evp = str(tmp_path / "eval.parquet")
    ev.write.parquet(evp)
    args = _pipeline_args(tmp_path, spandedup_stage=True, span_window=15,
                          eval_input=evp)
    manifest = run_pipeline(spark, docs, args)
    done = manifest["completed"]
    assert done["spandedup"]["docs_in"] == 3
    assert done["spandedup"]["docs_out"] == 3   # annotation: drops nothing
    assert done["spandedup"]["docs_touched"] == 1  # doc 2 loses its copy
    cleaned = {r["doc_id"]: r["cleaned_text"] for r in spark.read.parquet(
        str(tmp_path / "out" / "stage_spandedup.parquet")).collect()}
    assert set(cleaned) == {2}
    assert "shared0" not in cleaned[2] and "tailword3" in cleaned[2]
    # the eval 13-gram lived only inside the removed span: doc 2 must
    # now PASS decontamination while doc 1 (the kept first occurrence)
    # is dropped by it
    assert done["decontaminate"]["docs_in"] == 3
    assert done["decontaminate"]["docs_out"] == 2


def test_pipeline_pack_on_trained_bpe_counts(spark, tmp_path):
    """--bpe-train N in the pipeline: the pack stage bins on EXACT
    encoded counts (replayed here with the pure-Python encoder), and
    --bpe-model-out persists the merges table for train-once reuse."""
    from jobs.curate import run_pipeline
    from htmlx.spark import analytics as A

    rows = [
        (i, ("lowest newest widest " * (2 + i % 3)).strip(), 0)
        for i in range(1, 7)
    ]
    docs = _docs(spark, rows)
    model_out = str(tmp_path / "merges.parquet")
    args = _pipeline_args(
        tmp_path, bpe_train=8, bpe_model_out=model_out, seq_len=16, pack_buckets=1
    )
    run_pipeline(spark, docs, args)

    merges, alphabet = A.load_bpe_model(spark, model_out)
    assert len(merges) == 8 and alphabet  # full model artifact persisted
    packed = sorted(
        spark.read.parquet(str(tmp_path / "out" / "stage_pack.parquet")).collect(),
        key=lambda r: r["doc_id"],
    )
    # replay: counts from the pure-Python encoder over pipeline survivors
    kept = {r["doc_id"] for r in packed}
    texts = {r[0]: r[1] for r in rows if r[0] in kept}
    counts = {
        d: sum(len(A.bpe_apply_merges(w, merges)) for w in A._bpe_pretokens_py(t))
        for d, t in texts.items()
    }
    bin_id, fill, first = 0, 0, True
    for r in packed:
        n = counts[r["doc_id"]]
        if not first and fill + n > 16:
            bin_id += 1
            fill = 0
        first = False
        assert (r["pack_bin"], r["pack_offset"]) == (bin_id, fill), r
        fill += n
    # real counts differ from the whitespace proxy, so the packing must too
    ws = {d: len(t.split(" ")) for d, t in texts.items()}
    assert ws != counts


def test_pipeline_wet_ab_report_row_in_audit(spark, tmp_path):
    """--wet-ab: the extraction-vs-WET comparison runs where curation
    runs — report row (coverage + char-F1) lands in audit.parquet as
    stage 'wet_ab', full one-row report parquet alongside. WET side is
    a REAL write_wet/read_wet round trip: two urls match exactly, one
    diverges, one is wet-only, one engine-only."""
    import json as _json

    from pyspark.sql import functions as F

    from jobs.curate import run_pipeline
    from htmlx.spark.warc import write_wet

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta words " * 6, 0, "https://w.com/1"),
            (2, "one two three four five six " * 6, 0, "https://w.com/2"),
            (3, "completely different words here now " * 6, 0, "https://w.com/3"),
            (4, "engine only page body words here " * 6, 0, "https://w.com/4"),
        ],
        "doc_id long, text string, prio long, url string",
    )
    # WET truth: 1 and 2 identical, 3 diverges, 5 wet-only
    wet_src = docs.where("doc_id in (1, 2)").select("url", "text").unionByName(
        spark.createDataFrame(
            [("https://w.com/3", "the crawl published something else entirely"),
             ("https://w.com/5", "wet only record body")],
            "url string, text string",
        )
    )
    wet_dir = str(tmp_path / "wet")
    write_wet(wet_src, wet_dir, n_files=1).collect()  # lazy manifest frame

    args = _pipeline_args(tmp_path, wet_ab=wet_dir)
    run_pipeline(spark, docs, args)

    audit = {r["stage"]: r for r in spark.read.parquet(
        str(tmp_path / "out" / "audit.parquet")).collect()}
    assert "wet_ab" in audit
    row = audit["wet_ab"]
    # 5 urls total across both sides, 3 on both (1, 2, 3)
    assert row["docs_in"] == 5 and row["docs_out"] == 3
    note = _json.loads(row["note"])
    assert note["n_both"] == 3 and note["n_engine_only"] == 1
    assert note["n_wet_only"] == 1
    # two perfect matches + one divergent -> mean F1 strictly inside (x, 1)
    assert 0.3 < note["char_f1_mean"] < 1.0
    assert note["char_f1_p90"] == 1.0
    # ordinary stage rows carry a null note
    assert audit["pack"]["note"] is None
    rep = spark.read.parquet(str(tmp_path / "out" / "wet_ab_report.parquet")).collect()
    assert len(rep) == 1 and rep[0]["n_urls"] == 5


def _run_filter_cli(monkeypatch, inp, out, *flags):
    import sys

    from jobs.curate import main

    monkeypatch.setattr(sys, "argv", [
        "curate.py", "--input", inp, "--output", out, *flags,
    ])
    main()


def test_filter_cli_one_row_per_doc_with_null_and_empty_text(spark, tmp_path, monkeypatch):
    """--mode filter (the CLI default) decides EVERY input document: null
    and empty texts degrade to a dropped row, never to a missing one."""
    long_en = "the cat and the dog is in the house " * 5
    rows = [
        (1, long_en), (2, long_en), (3, long_en + "again"),
        (4, None), (5, None), (6, ""),
        (7, "short but fine"), (8, "xyz " * 40), (9, long_en + "more words"),
    ]
    inp, out = str(tmp_path / "in.parquet"), str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(inp)
    _run_filter_cli(monkeypatch, inp, out, "--mode", "filter")
    got = spark.read.parquet(out)
    assert got.columns == ["doc_id", "reason", "keep"]
    res = {r.doc_id: (r.reason, r.keep) for r in got.collect()}
    assert got.count() == len(rows)
    assert sorted(res) == [r[0] for r in rows]
    for d in (4, 5, 6):
        assert res[d][1] is False, (d, res[d])
    assert res[2] == ("exact_dup", False)
    assert res[7] == ("low_quality", False)


def test_filter_cli_matches_corpus_filter_operator(spark, tmp_path, monkeypatch):
    """--mode filter is analytics.corpus_filter with the single variant
    (--hash-basis, 1024); --threshold, --min-chars and --iters reach the
    operator as threshold, min_chars and the label-propagation budget."""
    from htmlx.spark.analytics import corpus_filter

    inp = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(inp)

    def rows(df):
        return sorted((r.doc_id, r.reason, r.keep) for r in df.collect())

    out = str(tmp_path / "default")
    _run_filter_cli(monkeypatch, inp, out)
    want = corpus_filter(docs, {"production": ("xxhash64", 1024)})
    assert rows(spark.read.parquet(out)) == rows(want)

    out = str(tmp_path / "flags")
    _run_filter_cli(
        monkeypatch, inp, out, "--mode", "filter", "--hash-basis", "md5",
        "--threshold", "0.5", "--min-chars", "400", "--iters", "1",
    )
    want_flags = corpus_filter(
        docs, {"production": ("md5", 1024)}, threshold=0.5, min_chars=400,
        max_iters=1, until_converged=False,
    )
    got = rows(spark.read.parquet(out))
    assert got == rows(want_flags)
    assert got != rows(want)  # the flags changed decisions
