"""'gemm' — the true-BLAS Arrow form of every similarity kernel, the one
'auto' selects above the scoring-cell crossover (VERDICT r8 task 1).

An Arrow form that replays the fold's exact IEEE sequence costs dim
sequential passes over every score block — measured ~136 s of the 181 s
default SemDeDup run at 200k×K=2000 (BENCHNOTES r8) — so the only Arrow
form is 'gemm': one A @ B.T matmul per block, float-associative, NOT
hash-identical to the expression forms. These tests pin the contract
against the exact expression forms: identical pair/neighbor SETS away
from ulp-level threshold ties, cosines within float tolerance of the
exact fold, planted-duplicate recall intact, 'auto' selecting gemm above
the crossover, and the removed 'vectorized' value rejected."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sheetreader_duckdb_spark.operators import similarity as S


def _emb(spark, n=60, dim=16):
    rows = [
        (i, [float(((i * 37 + j * 11) % 19) - 9) / 7.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _planted(spark, n=50, dim=16, dups=6):
    """n base vectors plus `dups` near-identical twins (ids n..n+dups-1 of
    bases 0..dups-1, perturbed in one coordinate by 1e-6)."""
    base = [
        [float(((i * 37 + j * 11) % 19) - 9) / 7.0 for j in range(dim)]
        for i in range(n)
    ]
    rows = [(i, v) for i, v in enumerate(base)]
    for d in range(dups):
        twin = list(base[d])
        twin[0] += 1e-6
        rows.append((n + d, twin))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


def _cosines(df):
    return {(r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()}


def test_gemm_pairs_match_exact_within_tolerance(spark):
    """Same pair set as the exact expression form (no threshold-boundary
    vectors in this corpus); every cosine within 1e-9 relative."""
    e = _emb(spark)
    exact = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2, score="expr")
    gemm = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2, score="gemm")
    assert _pairs(exact) == _pairs(gemm)
    ce, cg = _cosines(exact), _cosines(gemm)
    assert all(
        math.isclose(ce[p], cg[p], rel_tol=1e-9, abs_tol=1e-12) for p in ce
    )


def test_gemm_planted_duplicate_recall(spark):
    """Every planted near-identical twin pair is found at threshold 0.99
    (cosine of a 1e-6 single-coordinate perturbation is ≈ 1)."""
    e = _planted(spark, n=50, dups=6)
    got = set(
        _pairs(S.semantic_dedup_pairs(e, n_cells=4, threshold=0.99, score="gemm"))
    )
    for d in range(6):
        assert (d, 50 + d) in got, f"planted pair ({d}, {50 + d}) missed"


def test_gemm_keep_set_matches_expr(spark):
    """Pair sets agree, so the connected-components keep set is identical."""
    e = _planted(spark, n=40, dups=5)
    kept_e = sorted(
        r["vec_id"]
        for r in S.semantic_dedup_keep(
            e, n_cells=4, threshold=0.99, score="expr"
        ).collect()
    )
    kept_g = sorted(
        r["vec_id"]
        for r in S.semantic_dedup_keep(
            e, n_cells=4, threshold=0.99, score="gemm"
        ).collect()
    )
    assert kept_e == kept_g
    # every planted twin collapsed into its base's cluster
    assert not any(v >= 40 for v in kept_e)


def test_gemm_chunked_same_pairs(spark, monkeypatch):
    """Row-chunking never changes the PAIR SET: BLAS may reassociate
    differently per block shape (cosines can move in the last ulp —
    that's the documented float-associative contract), but membership at
    a non-boundary threshold is chunking-invariant."""
    e = _emb(spark, n=30)
    whole = S.semantic_dedup_pairs(e, n_cells=2, threshold=0.2, score="gemm")
    monkeypatch.setattr(S, "_CELL_PAIR_BLOCK", 1)
    chunked = S.semantic_dedup_pairs(e, n_cells=2, threshold=0.2, score="gemm")
    assert _pairs(whole) == _pairs(chunked)
    cw, cc = _cosines(whole), _cosines(chunked)
    assert all(
        math.isclose(cw[p], cc[p], rel_tol=1e-12, abs_tol=1e-15) for p in cw
    )


def test_auto_selects_gemm_above_crossover(spark, monkeypatch):
    """'auto' resolves to 'gemm' at/above _AUTO_VECTORIZE_CELLS — the
    no-knob production call gets the BLAS path; declared witnesses (all
    below the crossover by size) keep the expression plan."""
    assert S._resolve_auto("auto", S._AUTO_VECTORIZE_CELLS, "expr", "gemm") == "gemm"
    e = _emb(spark)
    monkeypatch.setattr(S, "_AUTO_VECTORIZE_CELLS", 1)
    auto = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2, score="auto")
    explicit = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2, score="gemm")
    assert _pairs(auto) == _pairs(explicit)
    ca, cg = _cosines(auto), _cosines(explicit)
    assert all(ca[p] == cg[p] for p in ca)  # same mode → same doubles


def test_gemm_cell_assignment_matches_fold(spark):
    """gemm argmax cells equal the exact carrier fold's cells on ordinary
    embeddings (they can differ only on last-ulp top-2 ties)."""
    e = _emb(spark, n=80)
    cents = S.ivf_centroids(e, n_cells=6, assign="literal")
    fold = S.ivf_assign_carrier(e, cents)
    gemm_udf = S._vectorized_cell_udf(spark, cents)
    gm = e.select("vec_id", gemm_udf(F.col("embedding")).alias("cell"))
    a = {r["vec_id"]: r["cell"] for r in fold.collect()}
    b = {r["vec_id"]: r["cell"] for r in gm.collect()}
    assert a == b


def test_ivf_centroids_gemm_training_close(spark):
    """Training with assign='gemm' converges to centroids within float
    tolerance of the literal fold (assignments identical away from ties,
    so the Lloyd means differ only by summation order)."""
    e = _emb(spark, n=80)
    lit = S.ivf_centroids(e, n_cells=4, assign="literal")
    gm = S.ivf_centroids(e, n_cells=4, assign="gemm")
    assert len(lit) == len(gm)
    for cl, cg in zip(lit, gm):
        for x, y in zip(cl, cg):
            assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)


def test_brute_force_blocked_gemm(spark):
    """gemm=True returns the same neighbor ids/ranks as the bit-exact
    blocked form; cosines within tolerance."""
    e = _emb(spark, n=60)
    q = e.filter(F.col("vec_id") < 4)
    exact = S.brute_force_topk_blocked(e, q, k=5)
    gemm = S.brute_force_topk_blocked(e, q, k=5, gemm=True)
    key = lambda df: sorted(  # noqa: E731
        (r["qid"], r["cid"], r["rn"]) for r in df.collect()
    )
    assert key(exact) == key(gemm)
    ce = {(r["qid"], r["cid"]): r["cosine"] for r in exact.collect()}
    cg = {(r["qid"], r["cid"]): r["cosine"] for r in gemm.collect()}
    assert all(
        math.isclose(ce[p], cg[p], rel_tol=1e-9, abs_tol=1e-12) for p in ce
    )


def test_pq_encode_gemm_matches_exact(spark):
    """gemm PQ encode (one matmul per subspace via -2x·C+‖C‖²) picks the
    same codes as the exact squared-diff fold (``pq_encode_join``) on
    ordinary embeddings (differs only on last-ulp distance ties), hence
    identical norms."""
    e = _emb(spark, n=60, dim=16)
    books = S.pq_codebooks(e, dim=16, m=4, n_codes=4, assign="expr")
    exact = S.pq_encode_join(e, books).select("vec_id", "pq_codes", "pq_norm")
    gm = S.pq_encode_vectorized(e, books)
    ex = {r["vec_id"]: (list(r["pq_codes"]), r["pq_norm"]) for r in exact.collect()}
    gg = {r["vec_id"]: (list(r["pq_codes"]), r["pq_norm"]) for r in gm.collect()}
    assert ex == gg


def test_pq_codebooks_gemm_training_close(spark):
    """Training the codebooks with assign='gemm' converges to books within
    float tolerance of the expression fold."""
    e = _emb(spark, n=60, dim=16)
    expr = S.pq_codebooks(e, dim=16, m=4, n_codes=4, assign="expr")
    gm = S.pq_codebooks(e, dim=16, m=4, n_codes=4, assign="gemm")
    for be, bg in zip(expr, gm):
        for ce, cg in zip(be, bg):
            for x, y in zip(ce, cg):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)


def test_index_builds_auto_select_gemm_and_serve(spark, tmp_path, monkeypatch):
    """Above the crossover the builders' 'auto' resolves to the gemm
    forms (r9) — the built index must still index every row and serve
    queries; persisted doubles roundtrip so indexed search matches the
    same trained parameters."""
    e = _emb(spark, n=80, dim=16)
    monkeypatch.setattr(S, "_AUTO_VECTORIZE_CELLS", 1)
    p1 = str(tmp_path / "ivf_gemm")
    S.build_ivf_index(e, p1, n_cells=4)
    assert spark.read.parquet(f"{p1}/assignments").count() == 80
    out = S.ivf_topk_indexed(
        spark, p1, e.filter(F.col("vec_id") < 3), k=4, n_probe=4
    )
    assert out.count() == 12
    p2 = str(tmp_path / "ivfpq_gemm")
    S.build_ivfpq_index(e, p2, dim=16, m=4, n_codes=4, n_cells=4)
    assert spark.read.parquet(f"{p2}/codes").count() == 80
    out2 = S.ivfpq_topk_indexed(
        spark, p2, e.filter(F.col("vec_id") < 3), k=4, n_probe=4, corpus=e
    )
    assert out2.count() == 12


def test_gemm_rejects_unknown_score(spark):
    e = _emb(spark, n=10)
    with pytest.raises(ValueError, match="score must be"):
        S.semantic_dedup_pairs(e, n_cells=2, score="blas")


def _rebuild_vectorized(spark, e, tmp_path):
    path = str(tmp_path / "ivf")
    S.build_ivf_index(e, path, n_cells=2)
    # skew_threshold=0: any occupancy recommends the rebuild.
    return S.rebuild_if_drifted(
        spark, path, dest_path=str(tmp_path / "rebuilt"),
        skew_threshold=0.0, assign="vectorized",
    )


def _curate_vectorized(spark, e, tmp_path):
    from sheetreader_duckdb_spark.pipeline import curate_corpus

    docs = spark.createDataFrame(
        [(i, f"document {i} " + " ".join(f"w{i}x{j}" for j in range(8)), "s")
         for i in range(4)],
        "doc_id long, text string, source string",
    )
    return curate_corpus(
        docs, quality_rules={}, embeddings_df=e.filter(F.col("vec_id") < 4),
        semantic_cells=2, semantic_score="vectorized", temperature=False,
        seed="t",
    )


_VECTORIZED = {
    "ivf_centroids": lambda sp, e, d: S.ivf_centroids(
        e, n_cells=2, assign="vectorized"
    ),
    "pq_codebooks": lambda sp, e, d: S.pq_codebooks(
        e, dim=16, m=4, n_codes=4, assign="vectorized"
    ),
    "semantic_dedup_pairs": lambda sp, e, d: S.semantic_dedup_pairs(
        e, n_cells=2, score="vectorized"
    ),
    "semantic_dedup_keep": lambda sp, e, d: S.semantic_dedup_keep(
        e, n_cells=2, score="vectorized"
    ),
    "curate_corpus": _curate_vectorized,
    "ivfpq_topk_assign": lambda sp, e, d: S.ivfpq_topk(
        e, e, dim=16, m=4, n_codes=4, assign="vectorized"
    ),
    "ivfpq_topk_encode": lambda sp, e, d: S.ivfpq_topk(
        e, e, dim=16, m=4, n_codes=4, encode="vectorized"
    ),
    "build_ivf_index": lambda sp, e, d: S.build_ivf_index(
        e, str(d / "a"), n_cells=2, assign="vectorized"
    ),
    "build_ivfpq_index_assign": lambda sp, e, d: S.build_ivfpq_index(
        e, str(d / "b"), dim=16, m=4, n_codes=4, assign="vectorized"
    ),
    "build_ivfpq_index_encode": lambda sp, e, d: S.build_ivfpq_index(
        e, str(d / "c"), dim=16, m=4, n_codes=4, encode="vectorized"
    ),
    "rebuild_if_drifted": _rebuild_vectorized,
}


@pytest.mark.parametrize("entry", sorted(_VECTORIZED))
def test_vectorized_value_is_rejected(spark, tmp_path, entry):
    """The bit-identical 'vectorized' replay is gone: each knob that took
    it raises its ValueError (``quantized_topk`` keeps its integer-exact
    'vectorized' form)."""
    e = _emb(spark, n=40, dim=16)
    with pytest.raises(ValueError, match="must be 'auto'"):
        _VECTORIZED[entry](spark, e, tmp_path)
