"""Similarity-search operator tests (SURVEY.md §2.3 N3).

Pins the quality contract of the approximate path: SRP-LSH with the n05b
declared config must recover ≥ 0.9 of the exact brute-force top-5, and the
SRP-bucketed near-dup must be a subset of the exact O(n²) near-dup result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sheetreader_duckdb_spark.operators import similarity as S
from sheetreader_duckdb_spark.tables import T


def _pairs(df, a="qid", b="cid"):
    return {(r[a], r[b]) for r in df.collect()}


def test_lsh_topk_recall_at_declared_config(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = _pairs(S.brute_force_topk(e, q, k=5))
    approx = _pairs(
        S.lsh_topk(e, q, dim=64, k=5, n_planes=6, n_tables=16, multi_probe=True)
    )
    recall = len(exact & approx) / len(exact)
    assert len(exact) == 50
    assert recall >= 0.9, f"recall@5 = {recall:.3f} below 0.9"


def test_lsh_topk_single_table_is_subset_of_exact_rerank(spark, sf_dir):
    # Every reported neighbor must carry its true cosine (exact re-rank):
    # scores of approx results match the exact scores for the same pairs.
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    exact = {
        (r["qid"], r["cid"]): r["cosine"]
        for r in S.brute_force_topk(e, q, k=10_000).collect()  # all pairs
    }
    approx = S.lsh_topk(e, q, dim=64, k=5, n_planes=8, n_tables=2).collect()
    for r in approx:
        assert exact[(r["qid"], r["cid"])] == r["cosine"]


def test_srp_neardup_subset_of_exact(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    exact = _pairs(S.embedding_neardup_pairs(e, threshold=0.4), "id_a", "id_b")
    bucketed = _pairs(S.srp_neardup_pairs(e, n_planes=6, threshold=0.4), "id_a", "id_b")
    assert bucketed <= exact
    assert bucketed  # the bucketing keeps at least some true near-dups


def test_ivf_topk_recall(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = _pairs(S.brute_force_topk(e, q, k=5))
    approx = _pairs(S.ivf_topk(e, q, k=5, n_cells=8, n_probe=4))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"IVF recall@5 = {recall:.3f}"
    # probing every cell is exhaustive → exact
    full = _pairs(S.ivf_topk(e, q, k=5, n_cells=8, n_probe=8))
    assert full == exact


def test_ivf_scores_are_exact_cosines(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    exact = {
        (r["qid"], r["cid"]): r["cosine"]
        for r in S.brute_force_topk(e, q, k=10_000).collect()
    }
    for r in S.ivf_topk(e, q, k=5, n_cells=8, n_probe=2).collect():
        assert exact[(r["qid"], r["cid"])] == r["cosine"]


def test_quantized_topk_recall(spark, sf_dir):
    """int8 coarse + float rescoring must recover ≥0.9 of exact top-5."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = _pairs(S.brute_force_topk(e, q, k=5))
    approx = _pairs(S.quantized_topk(e, q, k=5, refine=4))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"quantized recall@5 = {recall:.3f}"


def test_quantized_topk_scores_are_exact_cosines(spark, sf_dir):
    """Rescored scores equal the brute-force cosine for overlapping pairs."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = {(r["qid"], r["cid"]): r["cosine"] for r in S.brute_force_topk(e, q, k=5).collect()}
    approx = {(r["qid"], r["cid"]): r["cosine"] for r in S.quantized_topk(e, q, k=5).collect()}
    shared = set(exact) & set(approx)
    assert shared
    for key in shared:
        assert exact[key] == approx[key]  # same IEEE ops → identical doubles


def test_quantize_roundtrip_error_bounded(spark, sf_dir):
    """Dequantized vectors are within half a quantization step per element."""
    e = T(spark, sf_dir, "embeddings").limit(50)
    qs = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        S.quantize_int8(F.col("embedding")).alias("qv"),
    )
    err = qs.select(
        F.aggregate(
            F.zip_with(
                F.col("v"), S.dequantize(F.col("qv")), lambda a, b: F.abs(a - b)
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_err"),
        (F.col("qv.inv_scale") * 0.5 + 1e-12).alias("bound"),
    )
    assert err.filter(F.col("max_err") > F.col("bound")).count() == 0


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    row = df.select(S.quantize_int8(F.col("embedding")).alias("q")).collect()[0]["q"]
    assert list(row["q"]) == [0, 0, 0]
    assert row["inv_scale"] == 0.0


def test_auto_srp_planes_rule():
    """The plane count the declared n06b derives from the corpus size:
    floored at 6 (the literal-plane oracle's config) for every corpus up
    to the correctness-sf sizes, growing ~log2(n/8) after so expected
    bucket population stays flat, capped at 16 (long bucket codes)."""
    assert S.auto_srp_planes(0) == 6
    assert S.auto_srp_planes(500) == 6  # sf0.001/sf0.01 — must match oracle
    assert S.auto_srp_planes(2000) == 8  # sf0.1
    assert S.auto_srp_planes(20000) == 11  # 10x sf0.1
    assert S.auto_srp_planes(10**9) == 16
    # Monotone: a bigger corpus never gets fewer planes.
    vals = [S.auto_srp_planes(n) for n in range(1, 200000, 997)]
    assert vals == sorted(vals)


def test_srp_neardup_plan_has_no_cartesian(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    plan = S.srp_neardup_pairs(e)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# -- n06b candidate-pruning recall (VERDICT r2 item 2) -----------------------
#
# The declared n06b config (6 planes, 1 table) is the SQL-reproducible
# bucketing witness; these tests QUANTIFY what that bucketing drops and pin
# the multi-table recall path (srp_neardup_pairs n_tables) that production
# would run: planted true near-dups (cosine ~0.99) recover at >= 0.9, and
# even the adversarial low-0.4-threshold regime reaches >= 0.9 with the
# right (planes, tables) dial.


def test_srp_neardup_planted_recall(spark, sf_dir):
    """Plant near-duplicate copies (tiny perturbation, cosine ~0.99) and
    require the multi-table bucketing to recover >= 90% of planted pairs."""
    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding").limit(200)
    planted = e.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0))
        ).alias("embedding"),
    )
    corpus = e.unionByName(planted)
    got = S.srp_neardup_pairs(
        corpus, n_planes=6, threshold=0.9, n_tables=8
    )
    pairs = _pairs(got, "id_a", "id_b")
    want = {(r["vec_id"], r["vec_id"] + 100_000) for r in e.select("vec_id").collect()}
    recall = len(want & pairs) / len(want)
    assert recall >= 0.9, f"planted near-dup recall = {recall:.3f}"


def test_srp_neardup_candidate_pruning_recall_vs_exact(spark, sf_dir):
    """Recall against the exact O(n^2) pair set at the (hard) 0.4 threshold:
    the declared single-table config is a aggressive pruner (documented),
    recall grows monotonically with tables, and 4 planes x 12 tables
    clears 0.9 (measured 0.955 at sf0.001)."""
    e = T(spark, sf_dir, "embeddings")
    exact = _pairs(S.embedding_neardup_pairs(e, threshold=0.4), "id_a", "id_b")
    assert exact
    r = {}
    for planes, tables in [(6, 1), (6, 8), (4, 12)]:
        got = _pairs(
            S.srp_neardup_pairs(e, n_planes=planes, threshold=0.4, n_tables=tables),
            "id_a",
            "id_b",
        )
        assert got <= exact  # bucketing can only drop, never invent
        r[(planes, tables)] = len(got & exact) / len(exact)
    assert r[(6, 8)] > r[(6, 1)]  # tables buy recall
    assert r[(4, 12)] >= 0.9, f"4x12 recall = {r[(4, 12)]:.3f}"


def test_ivf_recall_on_id_skewed_corpus(spark, sf_dir):
    """Seeding regression (VERDICT r2 item 5): the first n_cells ids all sit
    in ONE tight cluster — lowest-id seeding would spend every seed there
    and leave the rest of the space unrepresented. Hash-strata seeding must
    keep recall on this corpus at the uniform-corpus bar."""
    import math

    rows = []
    vid = 0
    for c in range(8):  # 8 well-separated cluster centers on coordinate axes
        base = [0.0] * 64
        base[c * 8] = 10.0
        for j in range(40):  # ids 0..39 are ALL cluster 0, 40..79 cluster 1, ...
            v = list(base)
            v[(c * 8 + 1 + j % 7)] += 0.5 + 0.01 * j  # small within-cluster spread
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") % 40 == 3)  # one query per cluster
    exact = _pairs(S.brute_force_topk(df, q, k=5))
    approx = _pairs(S.ivf_topk(df, q, k=5, n_cells=16, n_probe=4))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"skewed-corpus IVF recall@5 = {recall:.3f}"


def test_ivf_join_form_at_large_k_sf01(spark):
    """VERDICT r3 item 5: the join-form IVF exists precisely for large K —
    witness it there. At sf0.1 (2000 vectors) with K=256 cells:

    * plan size stays FLAT in K — the physical plan carries no K·dim
      centroid literals (the literal form at K=256 embeds 16k doubles;
      the join form's plan must be ~the K=16 plan's size), assignment
      travels as a broadcast relation: the corpus side reads the 1-row
      centroid carrier map-side (no max_by aggregation — the argmax no
      longer costs an n·K shuffle), the query probe side the K-row table;
    * recall holds — probing 96/256 cells recovers ≥ 0.9 of the exact
      brute-force top-5;
    * the join-form result is identical to the literal form at the same
      (centroids, probe) config — same candidate set, same scores.
    """
    sf01 = "/root/testdata/sf0.1"
    e = T(spark, sf01, "embeddings")
    q = e.filter(F.col("vec_id") < 20)

    big = S.ivf_topk(e, q, k=5, n_cells=256, n_probe=96, assign="join")
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_big
    # Corpus assignment is map-side over the 1-row carrier: no argmax
    # aggregation anywhere in the plan.
    assert "max_by" not in plan_big
    small = S.ivf_topk(e, q, k=5, n_cells=16, n_probe=4, assign="join")
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    # 16x the centroids must not grow the plan materially (literals would
    # blow it up ~16x); allow slack for cell-id strings in stats.
    assert len(plan_big) < 2 * len(plan_small), (
        f"join-form plan grew with K: {len(plan_big)} vs {len(plan_small)}"
    )

    exact = _pairs(S.brute_force_topk(e, q, k=5))
    got = _pairs(big)
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"K=256 n_probe=96 recall@5 = {recall:.3f}"

    lit = S.ivf_topk(e, q, k=5, n_cells=256, n_probe=96, assign="literal")
    rows_join = {tuple(r) for r in big.collect()}
    rows_lit = {tuple(r) for r in lit.collect()}
    assert rows_join == rows_lit


def test_quantized_topk_at_sf01(spark):
    """Quantized two-stage search at the larger scale point: recall vs the
    float brute force stays ≥ 0.9 at sf0.1."""
    sf01 = "/root/testdata/sf0.1"
    e = T(spark, sf01, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = _pairs(S.brute_force_topk(e, q, k=5))
    approx = _pairs(S.quantized_topk(e, q, k=5, refine=4))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"quantized recall@5 at sf0.1 = {recall:.3f}"


def test_ivf_assign_carrier_matches_both_forms(spark, sf_dir):
    """The 1-row-carrier assignment (constant plan AND amplification-free —
    the index-build hot path) must be bit-identical to the literal argmax
    on Lloyd-refined centroids (same fold arithmetic, same lowest-cell
    tie-break), and its plan must contain no shuffle (no max_by
    aggregation over n·K rows)."""
    e = T(spark, sf_dir, "embeddings")
    centroids = S.ivf_centroids(e, n_cells=16, n_iters=2)
    via_literal = {
        (r["vec_id"], r["cell"])
        for r in e.select(
            "vec_id", S._argmax_cell(F.col("embedding"), centroids).alias("cell")
        ).collect()
    }
    carrier_df = S.ivf_assign_carrier(e, centroids)
    via_carrier = {(r["vec_id"], r["cell"]) for r in carrier_df.collect()}
    assert via_carrier == via_literal
    plan = carrier_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert "HashAggregate" not in plan, plan[:1500]


def test_ivf_assign_carrier_tie_break(spark):
    """Duplicate centroids score identically: the carrier and the literal
    argmax both pick the LOWEST cell id."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = [[3.0, 0.5], [3.0, 0.5], [0.5, 3.0]]  # cells 0 and 1 identical
    lit = {
        (r["vec_id"], r["cell"])
        for r in df.select(
            "vec_id", S._argmax_cell(F.col("embedding"), cents).alias("cell")
        ).collect()
    }
    got = {(r["vec_id"], r["cell"]) for r in S.ivf_assign_carrier(df, cents).collect()}
    assert got == lit == {(0, 0), (1, 2)}


def test_blocked_bruteforce_bit_identical(spark, sf_dir):
    """brute_force_topk_blocked must reproduce brute_force_topk exactly —
    qid/cid/rn AND the cosine doubles bit for bit (the blocked scorer
    replays the fold's IEEE sequence per dimension) — across a
    multi-partition corpus where per-batch local top-k plus the global
    merge does the selection."""
    e = T(spark, sf_dir, "embeddings").repartition(7)
    q = e.filter(F.col("vec_id") < 10)
    want = {
        (r["qid"], r["cid"], r["rn"], r["cosine"])
        for r in S.brute_force_topk(e, q, k=5).collect()
    }
    got = {
        (r["qid"], r["cid"], r["rn"], r["cosine"])
        for r in S.brute_force_topk_blocked(e, q, k=5).collect()
    }
    assert got == want


def test_blocked_bruteforce_ties_and_small_batches(spark):
    """Duplicate corpus vectors tie on cosine — both forms must break the
    tie by ascending cid; batches smaller than k must still surface every
    candidate; the query's own row is excluded."""
    rows = [(i, [1.0, float(i % 2)]) for i in range(6)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(5)  # batches of ~1 row << k
    q = df.filter(F.col("vec_id") == 0)
    want = [
        (r["qid"], r["cid"], r["rn"], r["cosine"])
        for r in S.brute_force_topk(df, q, k=4)
        .orderBy("qid", "rn")
        .collect()
    ]
    got = [
        (r["qid"], r["cid"], r["rn"], r["cosine"])
        for r in S.brute_force_topk_blocked(df, q, k=4)
        .orderBy("qid", "rn")
        .collect()
    ]
    assert got == want
    assert all(c != 0 for (_, c, _, _) in got)  # self excluded


def test_quantized_vectorized_bit_identical(spark, sf_dir):
    """quantized_topk(score='vectorized') must reproduce the expression
    form exactly — integer coarse dots are associative-exact, so the GEMM
    coarse pass plus batch-local top-(k·refine) yields the same candidate
    set, and the shared rescore the same (qid, cid, rn, cosine) rows bit
    for bit — across a multi-partition corpus."""
    e = T(spark, sf_dir, "embeddings").repartition(7)
    q = e.filter(F.col("vec_id") < 10)
    want = {
        (r["qid"], r["cid"], r["rn"], r["cosine"])
        for r in S.quantized_topk(e, q, k=5, refine=4).collect()
    }
    got = {
        (r["qid"], r["cid"], r["rn"], r["cosine"])
        for r in S.quantized_topk(e, q, k=5, refine=4, score="vectorized").collect()
    }
    assert got == want
