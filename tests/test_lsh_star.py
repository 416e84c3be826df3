"""Star salvage of over-cap LSH buckets (r12): behavior under a FORCED
tiny cap, where the registered default-cap query can't show it (no bucket
is over-cap at the verified scales — that non-interference is what the
driver hash check pins)."""

import pandas as pd
import pytest

from single_cell_experiments_spark.operators.dedup import (
    _DD_SHINGLES,
    _SPARK_SHINGLES,
    _lsh_star_sql,
    _minhash_sql,
)


def _docs():
    # 6 identical "template" docs (one LSH bucket of 6 in every band,
    # J = 1 pairwise), one near-dup pair in its own small bucket, and two
    # unrelated docs.  ASCII only: the Spark and DuckDB shingle dialects
    # must hash identically.
    template = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain stays mainly in the plain and the cat sat on the mat"
    )
    pair_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    pair_b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    other1 = "completely different content about spark catalyst optimizer internals"
    other2 = "yet another unrelated string mentioning parquet row groups and arrow"
    rows = [(i, template) for i in range(6)]
    rows += [(10, pair_a), (11, pair_b), (20, other1), (21, other2)]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


@pytest.fixture(scope="module")
def star_results(spark):
    pdf = _docs()
    spark.createDataFrame(pdf).createOrReplaceTempView("__docs")
    star = spark.sql(_lsh_star_sql(_SPARK_SHINGLES, cap=2, ln="size")).collect()
    plain = spark.sql(_minhash_sql(_SPARK_SHINGLES, cap=2, ln="size")).collect()
    return pdf, star, plain


def test_star_recovers_dropped_template_cluster(star_results):
    pdf, star, plain = star_results
    plain_pairs = {(r.doc1, r.doc2) for r in plain}
    star_pairs = {(r.doc1, r.doc2): r.via_star for r in star}

    # the capped core alone loses the whole 6-doc template cluster
    assert not any(d1 < 6 and d2 < 6 for d1, d2 in plain_pairs)
    # star salvage emits exactly the exemplar star, flagged via_star=1
    expected_star = {(0, d) for d in range(1, 6)}
    got_star = {p for p, v in star_pairs.items() if v == 1}
    assert got_star == expected_star
    # exemplar pairs are exact-Jaccard verified (identical docs → J = 1)
    assert all(r.jaccard == 1.0 for r in star if r.via_star == 1)


def test_star_cluster_is_connected(star_results):
    _, star, _ = star_results
    # member—exemplar—member: union-find over the star output must put all
    # 6 template docs in ONE component (the dedup CC semantics).
    parent = {i: i for i in range(6)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in star:
        if r.doc1 < 6 and r.doc2 < 6:
            parent[find(r.doc2)] = find(r.doc1)
    assert len({find(i) for i in range(6)}) == 1


def test_star_keeps_normal_buckets_untouched(star_results):
    _, star, plain = star_results
    # the small-bucket near-dup pair flows through the capped core in both
    # queries, via_star = 0
    star_pairs = {(r.doc1, r.doc2): r.via_star for r in star}
    assert star_pairs.get((10, 11)) == 0
    assert (10, 11) in {(r.doc1, r.doc2) for r in plain}
    # unrelated docs never pair
    assert not any(20 in p or 21 in p for p in star_pairs)


def test_star_sql_dialects_agree(star_results):
    """Cross-engine: the DuckDB dialect of the star builder produces the
    identical pair set at the same forced cap."""
    import duckdb

    pdf, star, _ = star_results
    con = duckdb.connect()
    con.register("documents", pdf)
    ddb = con.sql(_lsh_star_sql(_DD_SHINGLES, cap=2)).fetchall()
    assert {(r.doc1, r.doc2, round(r.jaccard, 6), r.via_star) for r in star} == {
        (d1, d2, round(j, 6), v) for d1, d2, j, v in ddb
    }


def test_hirecall_banding_is_superset(spark):
    """6×2 banding candidates ⊇ 3×4 banding candidates (a 4-row band
    agreeing implies both of its 2-row halves agree), so the verified
    output of the hi-recall variant is a superset at equal caps."""
    from single_cell_experiments_spark.registry import fresh_fn

    sf = "/root/testdata/sf0.001"
    hi = {
        (r.doc1, r.doc2, r.jaccard)
        for r in fresh_fn("dedup_minhash_lsh_hirecall")(spark, sf).collect()
    }
    lo = {
        (r.doc1, r.doc2, r.jaccard)
        for r in fresh_fn("dedup_minhash_lsh")(spark, sf).collect()
    }
    assert lo <= hi


def test_band_sig_exprs_bounds():
    import pytest as _pytest

    from single_cell_experiments_spark.operators.dedup import _band_sig_exprs

    assert len(_band_sig_exprs(6, 2)) == 6
    with _pytest.raises(ValueError, match="minhashes"):
        _band_sig_exprs(7, 2)


def test_default_cap_star_equals_plain_minhash(spark):
    """At the default cap on the sf0.001 documents, no bucket is over-cap:
    star output == plain minhash output with via_star = 0 everywhere."""
    from single_cell_experiments_spark.registry import fresh_fn

    sf = "/root/testdata/sf0.001"
    star = fresh_fn("dedup_minhash_lsh_star")(spark, sf).collect()
    plain = fresh_fn("dedup_minhash_lsh")(spark, sf).collect()
    assert all(r.via_star == 0 for r in star)
    assert {(r.doc1, r.doc2, r.jaccard) for r in star} == {
        (r.doc1, r.doc2, r.jaccard) for r in plain
    }


def test_staged_cascade_rejects_unknown_score(spark):
    from single_cell_experiments_spark.operators.dedup import lsh_pairs_staged

    docs = spark.createDataFrame(_docs())
    with pytest.raises(ValueError, match="'contaiment'"):
        lsh_pairs_staged(spark, docs, score="contaiment")
