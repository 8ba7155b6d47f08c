"""The two hash bases (xxhash64 production / md5 oracle) must be
interchangeable for dedup purposes: identical VERIFIED near-dup output and
equivalent signature structure on the test corpus. Pinning this is what
lets the driver queries run md5 (DuckDB-replicable) while production and
bench run the several-times-cheaper JVM xxhash64."""

import pytest

from htmlx.spark.analytics import (
    SIMHASH_BITS,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_docs,
)
from htmlx.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-hash-basis-test")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def _verified_pairs(docs, basis):
    cands = minhash_lsh_candidates(docs, max_bucket_size=None, hash_basis=basis)
    verified = ngram_jaccard_pairs(docs, cands).where("jaccard >= 0.9")
    return {(r.doc_a, r.doc_b) for r in verified.collect()}


def test_verified_candidate_sets_identical_across_bases(docs):
    """The full dedup pipeline (LSH candidates -> exact-Jaccard verify at
    J >= 0.9) produces the SAME pairs under both bases: per-pair LSH recall
    at J >= 0.9 is ~0.9998 with 8 bands x 4 rows, and the corpus's injected
    near-dup cluster sits at J 0.9-0.99 with a gap below to 0.07, so any
    well-mixed 64-bit base hash lands the identical verified set."""
    xx = _verified_pairs(docs, "xxhash64")
    md = _verified_pairs(docs, "md5")
    assert xx, "corpus must contain injected near-dup pairs"
    assert xx == md


def test_simhash_structure_equivalent_across_bases(docs):
    """Near-dup pairs must be low-Hamming and unrelated pairs high-Hamming
    under BOTH bases (absolute signatures differ by construction)."""
    near = sorted(_verified_pairs(docs, "md5"))
    sigs = {}
    for basis in ("xxhash64", "md5"):
        sigs[basis] = {
            r.doc_id: r.simhash for r in simhash_docs(docs, hash_basis=basis).collect()
        }

    def hamming(s, a, b):
        return bin(s[a] ^ s[b]).count("1")

    ids = sorted(sigs["md5"])
    near_set = set(near)
    far = [
        (ids[i], ids[i + 7])
        for i in range(0, len(ids) - 7, 11)
        if (ids[i], ids[i + 7]) not in near_set
    ][: len(near)]
    for basis in ("xxhash64", "md5"):
        s = sigs[basis]
        near_mean = sum(hamming(s, a, b) for a, b in near) / len(near)
        far_mean = sum(hamming(s, a, b) for a, b in far) / len(far)
        # near-dups a few bits apart; unrelated docs many bits apart (the
        # corpus shares a generator vocabulary, so "far" sits ~17 bits, not
        # the 30 of truly random text — measured ~2 vs ~17 for both bases)
        assert near_mean < SIMHASH_BITS * 0.1, (basis, near_mean)
        assert far_mean > SIMHASH_BITS * 0.2, (basis, far_mean)
        assert far_mean > 4 * near_mean, (basis, near_mean, far_mean)
        # bit balance: each signature uses a healthy share of the 60 bits
        ones = sum(bin(v).count("1") for v in s.values()) / len(s)
        assert SIMHASH_BITS * 0.2 < ones < SIMHASH_BITS * 0.8, (basis, ones)


def test_driver_queries_use_md5_basis_and_production_defaults_xxhash64():
    """The hash-basis invariant (CLAUDE.md): every analytics function that
    takes hash_basis must default to xxhash64 (production), and every
    call site in the driver-query module must pass 'md5' explicitly (the
    only base DuckDB shares). Until now this was review-enforced only."""
    import inspect
    import re

    from htmlx.spark import analytics, entryqueries

    basis_fns = [
        fn for _, fn in inspect.getmembers(analytics, inspect.isfunction)
        if "hash_basis" in inspect.signature(fn).parameters
    ]
    assert basis_fns, "expected hash_basis-taking analytics functions"
    for fn in basis_fns:
        default = inspect.signature(fn).parameters["hash_basis"].default
        assert default in ("xxhash64", inspect.Parameter.empty), (
            fn.__name__, default)

    src = inspect.getsource(entryqueries)
    # every basis-taking analytics call in the driver module passes md5
    # (a `hash_basis=hash_basis` pass-through is allowed for parametrized
    # builders — their DRIVER callers are the q_ wrappers, which must
    # pass the literal "md5")
    for call in re.finditer(r"analytics\.(\w+)\(", src):
        if call.group(1) in {f.__name__ for f in basis_fns}:
            # find the matching close paren naively: scan the call's args
            tail = src[call.end(): call.end() + 400].split("\n\n")[0]
            assert ('hash_basis="md5"' in tail or "hash_basis=hash_basis" in tail), (
                f"driver call to {call.group(1)} must pass hash_basis='md5'")
    # and the parametrized builder's driver wrapper pins md5 for the
    # DuckDB-replicable 'oracle' variant (the 'production' variant ships
    # xxhash64 deliberately — its oracle leg rests on the basis
    # equivalence this module pins, see q_corpus_filter's docstring)
    assert '{"oracle": ("md5", None)' in inspect.getsource(entryqueries.q_corpus_filter)
    # and no oracle can reference xxhash64 (DuckDB has no such function)
    from __spark_entry__ import oracle_sql
    for name, sql in oracle_sql().items():
        assert "xxhash" not in sql.lower(), name


def test_weighted_sample_floor_is_engine_independent():
    """The keep threshold is floor(weight*resolution) on BOTH engines:
    Spark's bare double->long cast truncates while DuckDB's CAST rounds to
    nearest, so any weight whose product has fraction >= 0.5 (e.g.
    0.29996 -> 2999.6) would diverge without the explicit floor. Pin the
    Spark decision against DuckDB evaluating the same expression."""
    import duckdb
    import pyspark.sql.functions as F

    from htmlx.spark.analytics import weighted_sample
    from htmlx.spark.session import get_spark

    spark = get_spark(cores=2)
    ids = list(range(300))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    con = duckdb.connect()
    for w in (0.29996, 0.12345, 0.0625, 0.73205):
        kept_spark = {
            r.doc_id
            for r in weighted_sample(df, F.lit(w)).collect()
            if r.sample_keep
        }
        kept_duck = {
            row[0]
            for row in con.execute(
                """
                SELECT i FROM range(300) t(i)
                WHERE CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 7) AS UBIGINT) AS BIGINT) % 10000
                      < CAST(floor(? * 10000) AS BIGINT)
                """,
                [w],
            ).fetchall()
        }
        assert kept_spark == kept_duck, (w, kept_spark ^ kept_duck)
