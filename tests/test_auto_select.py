"""'auto' strategy resolution (VERDICT r7 task 1): the scale-safe Arrow
forms are the AUTOMATIC choice above a measured scoring-cell crossover,
the expression forms (the declared witness plan shapes) below it. These
tests pin the selection boundary BOTH ways — below-threshold calls must
produce the expression plan, above-threshold calls the Arrow plan — and
that both selections return the same rows (within float tolerance for
the 'gemm' forms, tests/test_gemm_score.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sheetreader_duckdb_spark.operators import similarity as S


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _emb(spark, n=40, dim=8):
    rows = [
        (i, [float(((i * 37 + j * 11) % 19) - 9) / 7.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_resolve_auto_boundary():
    t = S._AUTO_VECTORIZE_CELLS
    assert S._resolve_auto("auto", t - 1, "expr", "gemm") == "expr"
    assert S._resolve_auto("auto", t, "expr", "gemm") == "gemm"
    # explicit values pass through untouched, on either side of the bar
    assert S._resolve_auto("expr", t * 10, "expr", "gemm") == "expr"
    assert S._resolve_auto("gemm", 1, "expr", "gemm") == "gemm"


def test_quantized_topk_auto_both_sides(spark, monkeypatch):
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 3)
    # below the crossover: the witness-shaped expression plan (no Arrow)
    small = S.quantized_topk(e, q, k=3, refine=2, score="auto")
    assert "MapInPandas" not in _plan(small)
    # force the crossover under this corpus: the Arrow coarse pass
    monkeypatch.setattr(S, "_AUTO_VECTORIZE_CELLS", 1)
    big = S.quantized_topk(e, q, k=3, refine=2, score="auto")
    assert "MapInPandas" in _plan(big)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(small) == rows(big)


def test_semantic_dedup_pairs_auto_both_sides(spark, monkeypatch):
    """'auto' above the crossover selects 'gemm' (VERDICT r8 task 1):
    applyInPandas plan shape, same pair set, cosines float-associative
    rather than bit-identical — compare with tolerance (gemm tolerance
    is pinned in test_gemm_score.py)."""
    import math

    e = _emb(spark)
    small = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2, score="auto")
    assert "FlatMapGroupsInPandas" not in _plan(small)
    monkeypatch.setattr(S, "_AUTO_VECTORIZE_CELLS", 1)
    big = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2, score="auto")
    assert "FlatMapGroupsInPandas" in _plan(big)
    key = lambda df: sorted(  # noqa: E731
        (r["id_a"], r["id_b"], r["cell"]) for r in df.collect()
    )
    assert key(small) == key(big)
    cs = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()
    }
    a, b = cs(small), cs(big)
    assert all(math.isclose(a[p], b[p], rel_tol=1e-9, abs_tol=1e-12) for p in a)


def test_ivf_topk_auto_literal_vs_join(spark, monkeypatch):
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 2)
    # K·dim under the literal budget: constant-folded literal plan (no
    # broadcast centroid-table join on the query side)
    small = S.ivf_topk(e, q, k=3, n_cells=4, n_probe=2, assign="auto")
    monkeypatch.setattr(S, "_AUTO_LITERAL_DOUBLES", 1)
    big = S.ivf_topk(e, q, k=3, n_cells=4, n_probe=2, assign="auto")
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(small) == rows(big)
    # the join form carries the centroid carrier / table broadcasts
    assert _plan(big).count("BroadcastNestedLoopJoin") > _plan(small).count(
        "BroadcastNestedLoopJoin"
    )


def test_ivf_centroids_auto_matches_explicit(spark, monkeypatch):
    e = _emb(spark)
    lit = S.ivf_centroids(e, n_cells=4, assign="literal")
    auto_small = S.ivf_centroids(e, n_cells=4, assign="auto")
    assert auto_small == lit
    monkeypatch.setattr(S, "_AUTO_VECTORIZE_CELLS", 1)
    auto_big = S.ivf_centroids(e, n_cells=4, assign="auto")
    assert auto_big == lit  # no last-ulp score ties in this corpus


def test_pq_codebooks_auto_matches_explicit(spark, monkeypatch):
    e = _emb(spark)
    expr = S.pq_codebooks(e, dim=8, m=2, n_codes=4, assign="expr")
    assert S.pq_codebooks(e, dim=8, m=2, n_codes=4, assign="auto") == expr
    # Above the crossover 'auto' resolves to 'gemm' like every other
    # trainer (ADVICE r9): identical to an explicit gemm call; closeness
    # to expr training is pinned in
    # tests/test_gemm_score.py::test_pq_codebooks_gemm_training_close.
    gemm = S.pq_codebooks(e, dim=8, m=2, n_codes=4, assign="gemm")
    monkeypatch.setattr(S, "_AUTO_VECTORIZE_CELLS", 1)
    assert S.pq_codebooks(e, dim=8, m=2, n_codes=4, assign="auto") == gemm


def test_ivfpq_topk_validates_knobs_before_training(spark):
    """ADVICE r9: a typo'd assign/encode must fail fast, BEFORE centroid +
    codebook training. The corpus here is EMPTY — if validation ran after
    training, the seed-row error would surface instead of the knob error."""
    e = _emb(spark).filter(F.col("vec_id") < 0)
    q = _emb(spark, n=2)
    with pytest.raises(ValueError, match="assign must be .*carrier"):
        S.ivfpq_topk(e, q, assign="literal", dim=8, m=2, n_rows=0)
    with pytest.raises(ValueError, match="encode must be .*join"):
        S.ivfpq_topk(e, q, encode="carrier", dim=8, m=2, n_rows=0)


def test_build_ivf_index_reduced_cells_full_corpus(spark, tmp_path):
    """ADVICE r7: full-corpus training (train_fraction=None) on a corpus
    whose hash strata seed fewer than n_cells must WARN and build the
    reduced-cell index, not raise about train_fraction."""
    e = _emb(spark, n=3)
    path = str(tmp_path / "ivf_small")
    with pytest.warns(UserWarning, match="reduced-cell"):
        S.build_ivf_index(e, path, n_cells=16)
    got = spark.read.parquet(f"{path}/centroids").count()
    assert 0 < got < 16
    # the reduced index still serves queries
    out = S.ivf_topk_indexed(
        spark, path, e.filter(F.col("vec_id") == 0), k=2, n_probe=got
    )
    assert out.count() == 2
    # a sampled-training build that under-seeds still raises, and names
    # the knob that fixes it
    with pytest.raises(ValueError, match="train_fraction"):
        S.build_ivf_index(
            _emb(spark, n=400), str(tmp_path / "ivf_frac"),
            n_cells=256, train_fraction=0.05,
        )


def test_build_auto_train_cap_scales_with_quantizer(spark, tmp_path, monkeypatch):
    """ADVICE r9: train_fraction='auto' must never make a build fail that
    full-corpus training would have served — the auto cap scales with the
    quantizer size (max(cap, per_cell*n_cells)), and when an auto-derived
    slice still under-seeds, the build takes the reduced-cell WARNING
    path instead of raising about a knob the caller never set."""
    e = _emb(spark, n=220)
    # Old behavior: cap=8 → slice ~8 rows < n_cells=16 → hard raise.
    # New: cap scales to 25*16=400 > 220 → full-corpus training succeeds.
    monkeypatch.setattr(S, "_SEMDEDUP_TRAIN_CAP", 8)
    p = str(tmp_path / "scaled")
    S.build_ivf_index(e, p, n_cells=16)
    assert spark.read.parquet(f"{p}/centroids").count() == 16
    # Force an auto-derived slice that genuinely under-seeds: warn, build.
    monkeypatch.setattr(S, "_TRAIN_CAP_PER_CELL", 0)
    p2 = str(tmp_path / "underseeded")
    with pytest.warns(UserWarning, match="reduced-cell"):
        S.build_ivf_index(e, p2, n_cells=16)
    got = spark.read.parquet(f"{p2}/centroids").count()
    assert 0 < got < 16
    assert spark.read.parquet(f"{p2}/assignments").count() == 220
    # Same policy on the IVFADC builder (per-cell budget restored).
    monkeypatch.setattr(S, "_TRAIN_CAP_PER_CELL", 25)
    p3 = str(tmp_path / "pq_scaled")
    S.build_ivfpq_index(e, p3, dim=8, m=2, n_codes=4, n_cells=16)
    assert spark.read.parquet(f"{p3}/centroids").count() == 16


def test_ivf_topk_auto_empty_corpus(spark):
    """ADVICE r9 (low): assign='auto' on an empty corpus must degrade to
    an empty result, not TypeError on a first()=None dim probe."""
    e = _emb(spark, n=10)
    empty = e.filter(F.col("vec_id") < 0)
    out = S.ivf_topk(empty, e.limit(2), k=3, n_cells=4, assign="auto")
    assert out.count() == 0


def test_semantic_dedup_auto_train_cap(spark, monkeypatch):
    """'auto' train_fraction trains the cell quantizer on everything
    below _SEMDEDUP_TRAIN_CAP (the declared witnesses' behavior,
    unchanged) and on a deterministic hash-slice above it — sliced
    training changes which centroids come out, never pair precision
    (every emitted pair is cosine-verified)."""
    e = _emb(spark, n=40)
    full = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2)
    explicit = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2,
                                      train_fraction=None)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(full) == rows(explicit)  # below the cap: identical
    monkeypatch.setattr(S, "_SEMDEDUP_TRAIN_CAP", 20)
    sliced = S.semantic_dedup_pairs(e, n_cells=4, threshold=0.2)
    thr_ok = all(r["cosine"] >= 0.2 for r in sliced.collect())
    assert thr_ok  # precision holds under sliced training


def test_index_builds_auto_train_cap(spark, tmp_path, monkeypatch):
    """Index builders' train_fraction='auto': full-corpus training below
    _SEMDEDUP_TRAIN_CAP (byte-identical to train_fraction=None — the
    pre-r8 default), a deterministic hash-slice above it (still a
    complete, serving index over EVERY row)."""
    e = _emb(spark, n=60)
    p_auto, p_none = str(tmp_path / "a"), str(tmp_path / "n")
    S.build_ivf_index(e, p_auto, n_cells=4)
    S.build_ivf_index(e, p_none, n_cells=4, train_fraction=None)
    cs = lambda p: sorted(  # noqa: E731
        map(tuple, spark.read.parquet(f"{p}/centroids").collect())
    )
    assert cs(p_auto) == cs(p_none)
    monkeypatch.setattr(S, "_SEMDEDUP_TRAIN_CAP", 30)
    p_cap = str(tmp_path / "c")
    S.build_ivf_index(e, p_cap, n_cells=4)
    idx = spark.read.parquet(f"{p_cap}/assignments")
    assert idx.count() == 60  # every row indexed despite sliced training
    out = S.ivf_topk_indexed(
        spark, p_cap, e.filter(F.col("vec_id") < 2), k=3, n_probe=4
    )
    assert out.count() == 6
