"""Product quantization (operators/similarity.py pq_codebooks / pq_encode /
pq_topk): codebook shape/determinism, exact-reconstruction encoding, and
two-stage ADC recall vs the exact brute-force top-k."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sheetreader_duckdb_spark.operators.similarity import (
    brute_force_topk,
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from sheetreader_duckdb_spark.tables import T


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return T(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def books(emb):
    return pq_codebooks(emb, dim=64, m=16, n_codes=16, n_iters=2)


def test_codebook_shape_and_determinism(emb, books):
    assert len(books) == 16
    assert all(len(b) == 16 for b in books)
    assert all(len(c) == 4 for b in books for c in b)
    again = pq_codebooks(emb, dim=64, m=16, n_codes=16, n_iters=2)
    assert books == again  # hash-strata seeds + fixed iterations


def test_dim_must_split(emb):
    with pytest.raises(ValueError):
        pq_codebooks(emb, dim=64, m=7)


def test_encode_codebook_entries_roundtrip(spark, books):
    # A vector assembled FROM codebook entries must encode exactly to those
    # entry indices, and its pq_norm must equal the true norm.
    picks = [3, 0, 15, 7, 9, 1, 12, 5, 2, 14, 6, 11, 4, 13, 8, 10]
    vec = [x for j, c in enumerate(picks) for x in books[j][c]]
    df = spark.createDataFrame(
        [(1, [float(x) for x in vec])], "vec_id long, embedding array<float>"
    )
    row = pq_encode(df, books).collect()[0]
    assert list(row["pq_codes"]) == picks
    true_norm = math.sqrt(sum(x * x for x in vec))
    assert abs(row["pq_norm"] - true_norm) < 1e-4


def test_codes_are_small_ints(emb, books):
    enc = pq_encode(emb.limit(200), books)
    rows = enc.select("pq_codes").collect()
    for r in rows:
        assert len(r["pq_codes"]) == 16
        assert all(0 <= c < 16 for c in r["pq_codes"])


def test_recall_vs_bruteforce(emb, books):
    q = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, q, k=5)
    approx = pq_topk(emb, q, books, k=5, refine=16)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r["qid"], set()).add(r["cid"])
    got: dict[int, set] = {}
    for r in approx.collect():
        got.setdefault(r["qid"], set()).add(r["cid"])
    hits = sum(len(truth[qid] & got.get(qid, set())) for qid in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    # Random Gaussian embeddings are PQ's WORST case (no cluster structure;
    # neighbor scores bunch together) — measured 1.0 at this config, pin a
    # conservative floor.
    assert recall >= 0.9, f"PQ recall@5 {recall}"


def test_rescored_cosines_are_exact(emb, books):
    # Stage-2 scores must be true float cosines: every (qid, cid) pair that
    # ALSO appears in the exact top-k carries the identical cosine value.
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["qid"], r["cid"]): r["cosine"] for r in brute_force_topk(emb, q, k=5).collect()
    }
    for r in pq_topk(emb, q, books, k=5, refine=16).collect():
        key = (r["qid"], r["cid"])
        if key in exact:
            assert abs(r["cosine"] - exact[key]) < 1e-12


def test_pq_adc_exact_full_refine_equals_bruteforce(emb):
    """The integer-exact PQ/ADC witness (pq_adc_exact, the n05 'pq_*'
    branches): when refine covers the whole corpus the coarse pass prunes
    nothing, so the 'final' branch must equal the exact brute-force top-k
    bit for bit — ranks, ids, and cosines."""
    from sheetreader_duckdb_spark.operators.similarity import pq_adc_exact

    q = emb.filter(F.col("vec_id") < 5)
    n = emb.count()
    out = pq_adc_exact(emb, q, dim=64, m=8, n_codes=16, k=5, refine=n)
    final = {
        (r["qid"], r["cid"]): (r["rn"], r["score"])
        for r in out.filter(F.col("tag") == "final").collect()
    }
    exact = {
        (r["qid"], r["cid"]): (r["rn"], r["cosine"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    assert set(final) == set(exact)
    for key, (rn, score) in final.items():
        assert rn == exact[key][0]
        assert score == exact[key][1]  # same fold, bit-identical


def test_pq_adc_exact_coarse_is_integer(emb):
    """Coarse scores are exact integers (BIGINT cast to double) — the
    cross-engine witness property."""
    from sheetreader_duckdb_spark.operators.similarity import pq_adc_exact

    q = emb.filter(F.col("vec_id") < 3)
    out = pq_adc_exact(emb, q, dim=64, m=8, n_codes=16, k=5, refine=2)
    rows = out.filter(F.col("tag") == "coarse").collect()
    assert len(rows) == 3 * 10
    assert all(r["score"] == int(r["score"]) for r in rows)
    # per-query ranks are 1..k*refine
    per = {}
    for r in rows:
        per.setdefault(r["qid"], []).append(r["rn"])
    assert all(sorted(v) == list(range(1, 11)) for v in per.values())


def test_join_form_bit_identical_to_literal(spark, emb, books):
    """The broadcast-table carrier (pq_books_df / pq_encode_join /
    pq_topk_join) must reproduce the literal-tree forms bit for bit:
    same codes, same pq_norm, same ranked output — only the plan-size
    scaling differs."""
    from sheetreader_duckdb_spark.operators.similarity import (
        pq_encode_join,
        pq_topk_join,
    )

    sample = emb.filter(F.col("vec_id") < 100)
    lit_rows = {
        r["vec_id"]: (list(r["pq_codes"]), r["pq_norm"])
        for r in pq_encode(sample, books).collect()
    }
    join_rows = {
        r["vec_id"]: (list(r["pq_codes"]), r["pq_norm"])
        for r in pq_encode_join(sample, books).collect()
    }
    assert join_rows == lit_rows  # floats compared exactly on purpose

    q = emb.filter(F.col("vec_id") < 8)
    lit_top = [tuple(r) for r in pq_topk(emb, q, books, k=5, refine=8)
               .orderBy("qid", "rn").collect()]
    join_top = [tuple(r) for r in pq_topk_join(emb, q, books, k=5, refine=8)
                .orderBy("qid", "rn").collect()]
    assert join_top == lit_top


def test_join_form_plan_constant_in_book_size(spark):
    """A production-sized book (256 codes x 768 dims = ~200k doubles)
    must construct in seconds and produce a plan whose size does not
    carry the book: the values travel through a broadcast exchange, not
    the expression tree. (The literal form at this size would build a
    megabyte plan over minutes — that's the regression this pins.)"""
    import time

    from sheetreader_duckdb_spark.operators.similarity import pq_encode_join

    m, n_codes, dsub = 96, 256, 8  # dim = 768
    big_books = [
        [[float((j * 131 + c * 17 + p) % 97) / 97.0 for p in range(dsub)]
         for c in range(n_codes)]
        for j in range(m)
    ]
    df = spark.createDataFrame(
        [(0, [0.5] * (m * dsub))], "vec_id long, embedding array<float>"
    )
    t0 = time.perf_counter()
    enc = pq_encode_join(df, big_books)
    built = time.perf_counter() - t0
    plan = enc._jdf.queryExecution().analyzed().toString()
    assert built < 20.0, f"construct took {built:.1f}s"  # measured ~1s
    assert len(plan) < 200_000, f"plan carries the book ({len(plan)} chars)"
    row = enc.collect()[0]
    assert len(row["pq_codes"]) == m


def test_ivfpq_full_probe_equals_pq_topk_join(emb, books):
    """The composition pin: with n_probe == n_cells every cell is probed,
    so ivfpq_topk's candidate set and all arithmetic reduce to
    pq_topk_join's — the result must match bit for bit. This ties the
    IVFADC plumbing (cell assignment, probe ranking, cell equi-join) to
    the already-pinned single-stage forms."""
    from sheetreader_duckdb_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk_join,
    )

    q = emb.filter(F.col("vec_id") < 8)
    composed = [
        tuple(r)
        for r in ivfpq_topk(
            emb, q, k=5, n_cells=16, n_probe=16, refine=8, codebooks=books
        ).orderBy("qid", "rn").collect()
    ]
    flat = [
        tuple(r)
        for r in pq_topk_join(emb, q, books, k=5, refine=8)
        .orderBy("qid", "rn").collect()
    ]
    assert composed == flat


def test_ivfpq_recall_vs_bruteforce(emb, books):
    """Recall at half-probe (n_probe=8 of 16 cells) — the same probe ratio
    the pure-IVF pin uses. Gaussian testdata is the worst case for BOTH
    stages (no cluster structure for IVF, bunched neighbor scores for PQ);
    measured 0.76 at this config, pinned at the ivf_topk floor."""
    from sheetreader_duckdb_spark.operators.similarity import ivfpq_topk

    q = emb.filter(F.col("vec_id") < 20)
    truth: dict[int, set] = {}
    for r in brute_force_topk(emb, q, k=5).collect():
        truth.setdefault(r["qid"], set()).add(r["cid"])
    got: dict[int, set] = {}
    out = ivfpq_topk(emb, q, k=5, n_cells=16, n_probe=8, refine=16, codebooks=books)
    for r in out.collect():
        got.setdefault(r["qid"], set()).add(r["cid"])
    hits = sum(len(truth[qid] & got.get(qid, set())) for qid in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.7, f"IVFPQ recall@5 {recall}"


def test_ivfpq_rescored_cosines_are_exact(emb, books):
    """Stage-3 scores are true float cosines (the shared rescore tail):
    any returned pair also present in the exact top-k carries the
    identical cosine."""
    from sheetreader_duckdb_spark.operators.similarity import ivfpq_topk

    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["qid"], r["cid"]): r["cosine"]
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    out = ivfpq_topk(emb, q, k=5, n_cells=16, n_probe=16, refine=16, codebooks=books)
    for r in out.collect():
        key = (r["qid"], r["cid"])
        if key in exact:
            assert abs(r["cosine"] - exact[key]) < 1e-12


def test_ivfpq_candidates_respect_probed_cells(emb, books):
    """Structural pruning proof at n_probe=1: every returned neighbor's
    cell must be the query's single probed (top-scoring) cell."""
    from sheetreader_duckdb_spark.operators.similarity import (
        _centroid_table,
        ivf_assign_carrier,
        ivf_centroids,
        ivfpq_topk,
    )
    from sheetreader_duckdb_spark.operators.similarity import dot, l2_norm

    centroids = ivf_centroids(emb, n_cells=16, n_iters=2)
    assign = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign_carrier(emb, centroids).collect()
    }
    q = emb.filter(F.col("vec_id") < 10)
    cdf = _centroid_table(emb.sparkSession, centroids)
    qscore = dot(F.col("embedding"), F.col("cvec")) / (
        l2_norm(F.col("embedding")) * F.col("cnorm")
    )
    top_cell = {
        r["vec_id"]: r["cell"]
        for r in q.crossJoin(cdf)
        .select("vec_id", "cell", qscore.alias("s"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cell"),
                F.struct(F.col("s").alias("s"), (-F.col("cell")).alias("nc")),
            ).alias("cell")
        )
        .collect()
    }
    out = ivfpq_topk(
        emb, q, k=5, n_cells=16, n_probe=1, refine=16,
        centroids=centroids, codebooks=books,
    )
    rows = out.collect()
    assert rows, "n_probe=1 must still return neighbors"
    for r in rows:
        assert assign[r["cid"]] == top_cell[r["qid"]], (
            f"cid {r['cid']} (cell {assign[r['cid']]}) outside query "
            f"{r['qid']}'s probed cell {top_cell[r['qid']]}"
        )
