"""Vector similarity search over embedding columns (SURVEY.md §2.3 N3).

Baseline: brute-force cosine top-k — exact, one broadcast join (queries are
broadcast against the corpus, so the corpus never shuffles) + per-partition
top-k via window. The dot product is a JVM-side higher-order-function fold
(zip_with + aggregate) — no Python in the loop.

Scale path: sign-random-projection LSH. Each vector gets an ``n_planes``-bit
bucket from the signs of dot products with deterministic pseudo-random ±1
hyperplanes whose weights are sha256-derived constants, computed once on the
driver and embedded as literal arrays (Catalyst constant-folds them; the
executors do zero hashing per row). Candidates = same bucket (optionally
multi-probe neighbors at Hamming distance 1), exact cosine re-rank on
candidates only. At 100 TB: bucket join shuffles on the code, uniform by
construction; per-bucket populations concentrate ~N/2^bits.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


# -- 'auto' strategy resolution ---------------------------------------------
# Every compute-bound family here has two forms: an interpreted expression
# fold (~dim lambda steps per scoring cell — a row×centroid, row×query, or
# same-cell pair) and an Arrow form scoring whole record batches at BLAS
# rates ('gemm': one matmul per block, float-associative — scores agree
# with the fold to ~1e-12 relative, and argmax/threshold decisions differ
# only on last-ulp ties, tolerance-pinned in tests/test_gemm_score.py;
# quantized_topk's Arrow form, 'vectorized', is integer-exact instead).
# Measured crossovers (BENCHNOTES round 7): at 20M cells the int8 coarse
# pass took 170.3 s expression vs 4.82 s Arrow; IVF assignment 182 s
# at 25.6M; SemDeDup cell scoring DNF'd (>10 min) at 20M pair-cells where
# the Arrow form took 136 s. Below ~1M cells the expression forms win on
# fixed cost (no driver collect / broadcast / Arrow worker spin-up,
# typically ~1-2 s) and are the declared oracle-witness plan shapes — so
# 'auto', the default on every entry point, picks the expression form
# under the threshold and the Arrow form at or above it. The Arrow forms
# assume NaN-free embeddings (zero-norm vectors rank differently in
# numpy's local sort than in Spark's NaN-greatest window ordering); pass
# the expression form explicitly for NaN-bearing data.
#
# Iterative trainers (Lloyd loops) pass cells×n_iters — the expression
# cost repeats per iteration, and an 800k-cells-per-iteration PQ training
# that slipped under a per-pass bar cost +35 s against the GEMM form
# (measured, r8). 500k: expr ≈ 4 s there (~8.5 µs/cell at dim 64, the r7
# int8 measurement) vs ~1-2 s of Arrow fixed cost — comfortably past the
# true crossover while the largest declared witness (sf0.1 SemDeDup,
# 200k pair-cells) stays on its expression plan shape.
_AUTO_VECTORIZE_CELLS = 500_000

# ivf_topk's 'literal' vs 'join' choice is a PLAN-size trade, not an
# arithmetic one: the literal form embeds n_cells·dim doubles in the
# expression tree (constant-folded, map-side — right at small K), the
# join form keeps the plan constant-sized and ships centroids through a
# broadcast relation (right at the K ~ thousands a 100 TB corpus wants).
_AUTO_LITERAL_DOUBLES = 16_384

# Cap on the per-chunk score block (doubles) inside semantic_dedup_pairs'
# 'gemm' cell scoring: chunk_rows = _CELL_PAIR_BLOCK // occupancy, so
# task memory is O(block + cell vectors) instead of O(occupancy²). 4M
# doubles = 32 MB per block (plus one same-sized temporary).
_CELL_PAIR_BLOCK = 4_000_000

# Row cap per applyInPandas group in semantic_dedup_pairs' 'gemm'
# scoring (VERDICT r9 task 1): the score matrix was already block-chunked,
# but the GROUP itself — pandas frame + stacked vector matrix — was
# O(cell_size × dim) in one task, so a pathologically skewed cell (exactly
# what duplicate-heavy corpora produce) could OOM an executor. Cells above
# this cap split into ceil(size/cap) hash sub-buckets and pairs generate
# across bucket pairs (the LSH bucket-cap discipline applied here): every
# task now holds at most TWO sub-buckets ≈ 2×cap rows. 32k rows × 768 dim
# × 8 B ≈ 200 MB of stacked float64 per side — bounded regardless of skew.
_CELL_SPLIT_ROWS = 32_768

# Training-slice cap for semantic_dedup's 'auto' train_fraction: Lloyd's
# per-iteration cost is n_train·K — at production K (auto_ivf_cells gives
# n/100) full-corpus training is the dominant term (measured 346 s
# end-to-end at 200k×K=2000 full-train vs seconds on a capped slice,
# BENCHNOTES r8). 50k training rows ≈ 25 rows per cell at the K that cap
# implies — the standard coarse-quantizer training budget (FAISS trains
# IVF on a learning subset for the same reason).
_SEMDEDUP_TRAIN_CAP = 50_000

# The index builders scale the auto training cap with the quantizer size
# (max(_SEMDEDUP_TRAIN_CAP, _TRAIN_CAP_PER_CELL * n_cells)): a fixed 50k
# slice can never seed n_cells > 50k, and large quantizers want more
# training rows per cell anyway (ADVICE r8). ~25 rows/cell is FAISS's
# documented minimum training-points-per-centroid guidance.
_TRAIN_CAP_PER_CELL = 25


def _resolve_auto(requested: str, cells: int, small: str, large: str) -> str:
    """Resolve an 'auto' strategy knob by estimated scoring-cell count:
    the expression form under ``_AUTO_VECTORIZE_CELLS``, the Arrow form at
    or above it. Explicit values pass through."""
    if requested != "auto":
        return requested
    return large if cells >= _AUTO_VECTORIZE_CELLS else small


def _lit_doubles(vals) -> Column:
    """array<double> literal in ONE py4j call (F.lit on a float64
    ndarray) instead of one round-trip per element — the listcomp form
    cost ~1 ms/element of pure driver chatter at construct (r15 batch
    expression building). np.float64(x) is exact for any Python float,
    so the Literal is bit-identical to F.array(*[F.lit(x) ...]).
    Empty input falls back to the typed empty-array expression."""
    import numpy as np

    vals = list(vals)
    if not vals:
        return F.expr("CAST(array() AS array<double>)")
    return F.lit(np.asarray(vals, dtype=np.float64))


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] in double, left-to-right fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries is broadcast (assumed ≪ corpus); the corpus streams map-side —
    no corpus shuffle. The only shuffle is the final per-query top-k window,
    keyed by query id.
    """
    from pyspark.sql import Window

    # Norms are precomputed per vector (not per pair): the pairwise score is
    # then one fold + one divide. Same IEEE operations per pair → results
    # identical to inline cosine(), just O(n+q) norm folds instead of O(n·q).
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.join(broadcast(q), F.col("qid") != F.col("cid"))
        .select(
            "qid", "cid",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine", "rn")
    )


def brute_force_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    gemm: bool = False,
) -> DataFrame:
    """``brute_force_topk``'s exact result via Arrow-blocked scoring —
    same (qid, cid, cosine, rn) rows, BIT-IDENTICAL cosines (the dot and
    norm folds replay as one vectorized numpy op per dimension, so every
    IEEE operation and its order match ``dot``/``l2_norm``'s left-to-right
    fold), for query batches small enough to collect (the same ≪-corpus
    assumption the broadcast form makes).

    Why: the expression form pays q·dim interpreted lambda steps per
    corpus ROW and shuffles all n·q scored pairs into the top-k window —
    measured 100 s for 100 queries × 200k vectors (BENCHNOTES round 7).
    Here each Arrow batch scores against the whole query matrix and
    emits only its LOCAL top-k per query under the exact global order
    (cosine desc, cid asc — a total order, cid unique, so a row outside
    a batch's top-k is dominated by k batch-mates globally too); the
    final window then ranks q·k·n_batches rows instead of n·q. Exact,
    not approximate — candidate pruning by total-order dominance, the
    classic distributed exact-knn merge.

    Caveat (same as every Arrow form here): NaN cosines (zero-norm
    vectors) rank last in the local numpy sort where Spark's window
    ranks NaN greatest — feed NaN-free embeddings, or use the
    expression form.

    ``gemm=True`` swaps the sequential per-dimension replay for one true
    BLAS matmul per batch — ~dim× fewer memory passes, cosines
    float-associative rather than bit-identical (neighbor sets can
    differ only on last-ulp score ties; tolerance-pinned in
    tests/test_gemm_score.py). Opt-in; never used by declared
    witnesses."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qrows = queries.select(id_col, vec_col).collect()
    qids = [r[id_col] for r in qrows]
    Q = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in qrows]
    ) if qrows else np.zeros((0, 1))
    # Query norms with l2_norm's exact fold (python sum is left-to-right
    # from 0, matching F.aggregate's acc + x*x sequence).
    import math

    qn = np.asarray(
        [math.sqrt(sum(float(x) * float(x) for x in r[vec_col])) for r in qrows]
    )
    bc = spark.sparkContext.broadcast((qids, Q, qn))

    id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"qid {id_t}, cid {id_t}, cosine double"

    def _score(batches):
        bqids, bQ, bqn = bc.value
        nq = len(bqids)
        if nq == 0:
            return
        qid_arr = np.asarray(bqids)
        dim = bQ.shape[1]
        for pdf in batches:
            cids = pdf["cid"].to_numpy()
            M = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["cv"]]
            )
            if gemm:
                dots = M @ bQ.T
                cn2 = np.einsum("ij,ij->i", M, M)
            else:
                # Sequential per-dimension accumulation: the fold's exact
                # IEEE op sequence for both the pair dots and the corpus
                # norms (acc + v_d·w_d from 0.0, in order).
                dots = np.zeros((M.shape[0], nq))
                cn2 = np.zeros(M.shape[0])
                for d in range(dim):
                    dots += M[:, d, None] * bQ[None, :, d]
                    cn2 += M[:, d] * M[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                s = dots / (bqn[None, :] * np.sqrt(cn2)[:, None])
            kk = min(k, M.shape[0])
            out_q, out_c, out_s = [], [], []
            for j in range(nq):
                sj = s[:, j]
                # Exact global order locally: score desc, cid asc
                # (lexsort: last key is primary).
                order = np.lexsort((cids, -sj))
                taken = 0
                for i in order:
                    if taken >= kk:
                        break
                    if cids[i] == bqids[j]:
                        continue  # the qid != cid exclusion
                    out_q.append(bqids[j])
                    out_c.append(cids[i])
                    out_s.append(sj[i])
                    taken += 1
            yield pd.DataFrame({"qid": out_q, "cid": out_c, "cosine": out_s})

    from pyspark.sql import Window

    local = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    ).mapInPandas(_score, out_schema)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        local.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine", "rn")
    )


# -- int8 quantization: the storage/bandwidth scale path --------------------
#
# At 100 TB of float32 embeddings, the scan is bandwidth-bound; symmetric
# per-vector int8 quantization cuts the streamed bytes 4× and the integer
# dot product is exact (no float accumulation error at the coarse stage).
# Search = coarse top-(k·refine) on quantized vectors, exact rescoring of
# those candidates on the originals — the standard two-stage layout.

def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8: q_i = floor(x_i·scale + 0.5) with
    scale = 127 / max|x|. Returns struct(q: array<int>, inv_scale: double);
    an all-zero vector quantizes to zeros with inv_scale 0. floor(x+0.5)
    rounding (not banker's) so any engine reproduces it bit-for-bit."""
    mx = F.aggregate(
        vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    q = F.transform(
        vec, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int")
    )
    inv = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(0.0))
    return F.struct(q.alias("q"), inv.alias("inv_scale"))


def dequantize(qstruct: Column) -> Column:
    """Reconstruct the float vector: x̂_i = q_i · inv_scale."""
    return F.transform(
        qstruct["q"], lambda x: x.cast("double") * qstruct["inv_scale"]
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int arrays (long accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("long") * y.cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 4,
    score: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """Two-stage ANN: coarse top-(k·refine) by int8 quantized cosine, exact
    float rescoring of the survivors. Same output schema as brute_force_topk.

    ``score='auto'`` (default) picks the form by corpus×query scoring-cell
    count (``_resolve_auto`` — round 7 measured the expression coarse pass
    at 170 s where the bit-identical GEMM took 4.8 s at 200k×100, so a
    production call must not need to know the knob): 'expr' below the
    crossover (the declared witness shape), 'vectorized' above it.
    ``n_rows`` is an optional corpus-size hint that skips the count-star
    'auto' otherwise runs.

    Scale shape: the coarse pass streams the 4×-smaller quantized corpus
    against broadcast quantized queries (integer MACs, no corpus shuffle);
    only k·refine candidates per query are rescored in float. Quantized
    cosine ≈ int_dot(qa,qb)·(sa·sb) / norms — monotone in the true cosine
    up to quantization error, so refine≥2 recovers near-perfect recall
    (pinned ≥0.9 recall@5 in tests/test_similarity.py).

    ``score='vectorized'``: the coarse pass runs as one integer GEMM per
    Arrow batch with batch-local top-(k·refine) under the exact global
    order, so the merge window ranks q·k·refine·n_batches rows instead of
    all n·q scored pairs (``brute_force_topk_blocked``'s recipe). Coarse
    scores are BIT-identical without sequential tricks: the integer dot is
    associative-exact (|dot| ≤ dim·127² ≪ 2⁵³), so any summation order
    yields the same integer, hence the same double after the identical
    cast-divide. Same NaN caveat as the blocked brute force (zero vectors
    quantize to int_dot=0 → 0/0 coarse scores rank last locally where
    Spark's window ranks NaN first — feed NaN-free, or use 'expr')."""
    from pyspark.sql import Window

    # Per-vector quantized norms are precomputed per SIDE (O(n+q) folds),
    # not per pair — same pattern as brute_force_topk.
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        quantize_int8(F.col(vec_col)).alias("qq"),
    ).withColumn("qqn", F.sqrt(int_dot(F.col("qq.q"), F.col("qq.q")).cast("double")))
    if score == "auto":
        nq = queries.count()
        nc = n_rows if n_rows is not None else corpus.count()
        score = _resolve_auto("auto", nc * max(1, nq), "expr", "vectorized")
    w = Window.partitionBy("qid").orderBy(F.col("coarse").desc(), F.col("cid"))
    if score == "vectorized":
        import numpy as np
        import pandas as pd

        qrows = q.select("qid", "qq", "qqn").collect()
        qids = [r["qid"] for r in qrows]
        Qm = (
            np.stack([np.asarray(r["qq"]["q"], dtype=np.int64) for r in qrows])
            if qrows
            else np.zeros((0, 1), dtype=np.int64)
        )
        qqn = np.asarray([r["qqn"] for r in qrows])
        bcq = corpus.sparkSession.sparkContext.broadcast((qids, Qm, qqn))
        kk = k * refine
        id_t = corpus.schema[id_col].dataType.simpleString()

        def _coarse(batches):
            bqids, bQ, bqn = bcq.value
            nq = len(bqids)
            if nq == 0:
                return
            for pdf in batches:
                cids = pdf["cid"].to_numpy()
                M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["cv"]])
                # quantize_int8's exact arithmetic, batch-wise: max|x| is an
                # order-independent fold, and q_i = floor(x·scale + 0.5)
                # is per-element — identical IEEE ops, identical ints.
                mx = np.abs(M).max(axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    scale = np.where(mx > 0, 127.0 / mx, 0.0)
                Qc = np.floor(M * scale[:, None] + 0.5).astype(np.int64)
                cqn = np.sqrt((Qc * Qc).sum(axis=1).astype(np.float64))
                dots = (Qc @ bQ.T).astype(np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = dots / (cqn[:, None] * bqn[None, :])
                take = min(kk, M.shape[0])
                out_q, out_c, out_s = [], [], []
                for j in range(nq):
                    sj = s[:, j]
                    order = np.lexsort((cids, -sj))
                    taken = 0
                    for i in order:
                        if taken >= take:
                            break
                        if cids[i] == bqids[j]:
                            continue
                        out_q.append(bqids[j])
                        out_c.append(cids[i])
                        out_s.append(sj[i])
                        taken += 1
                yield pd.DataFrame(
                    {"qid": out_q, "cid": out_c, "coarse": out_s}
                )

        cand_ids = (
            corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
            .mapInPandas(_coarse, f"qid {id_t}, cid {id_t}, coarse double")
            .withColumn("crn", F.row_number().over(w))
            .filter(F.col("crn") <= kk)
            .select("qid", "cid")
        )
    elif score == "expr":
        c = corpus.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            quantize_int8(F.col(vec_col)).alias("cq"),
        ).withColumn(
            "cqn", F.sqrt(int_dot(F.col("cq.q"), F.col("cq.q")).cast("double"))
        )
        # Per-vector scales cancel in the cosine: the coarse score is the
        # pure integer form int_dot(a,b) / (√int_dot(a,a)·√int_dot(b,b)).
        coarse_score = int_dot(F.col("cq.q"), F.col("qq.q")).cast("double") / (
            F.col("cqn") * F.col("qqn")
        )
        # The ranking window shuffles only (qid, cid, coarse) — float
        # vectors never enter a shuffle (same discipline as pq_topk).
        cand_ids = (
            c.drop("cv").join(
                broadcast(q.select("qid", "qq", "qqn")), F.col("qid") != F.col("cid")
            )
            .select("qid", "cid", coarse_score.alias("coarse"))
            .withColumn("crn", F.row_number().over(w))
            .filter(F.col("crn") <= k * refine)
            .select("qid", "cid")
        )
    else:
        raise ValueError(
            f"score must be 'auto', 'expr' or 'vectorized', got {score!r}"
        )
    # Residue-sized float fetch: survivor ids broadcast against the corpus.
    cvecs = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    rescored = (
        cvecs.join(broadcast(cand_ids), "cid")
        .join(broadcast(q.select("qid", "qv")), "qid")
        .select(
            "qid",
            "cid",
            (
                dot(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv")))
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        rescored.withColumn("rn", F.row_number().over(w2).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine", "rn")
    )


def _srp_plane(p: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane weights: bits of sha256(plane, chunk).
    Computed once on the driver and embedded as an array literal — the
    executors do zero hashing per row (constant-folded by Catalyst)."""
    import hashlib

    out: list[float] = []
    chunk = 0
    while len(out) < dim:
        h = hashlib.sha256(f"srp:{p}:{chunk}".encode()).digest()
        for byte in h:
            for bit in range(8):
                out.append(1.0 if (byte >> bit) & 1 else -1.0)
                if len(out) == dim:
                    return out
        chunk += 1
    return out


def auto_srp_planes(n: int, target_bucket: int = 8, lo: int = 6, hi: int = 16) -> int:
    """Plane count sized to the corpus: n_planes ≈ log2(n / target_bucket)
    keeps expected bucket population ≈ target_bucket, so in-bucket candidate
    pairs stay ~n·target/2 instead of exploding as n²/2^planes when a fixed
    plane count meets a 10×-bigger corpus (measured: the fixed-6-plane
    near-dup query went 36 s at a 20k-vector sf1 while every neighbor query
    stayed seconds — buckets averaged 300+ vectors). Clamped to [lo, hi];
    the lo=6 floor reproduces the declared 6-plane bucketing at the 500-
    vector correctness scale, which the SQL oracle mirrors literally."""
    import math

    if n <= 0:
        return lo
    return min(hi, max(lo, round(math.log2(max(1.0, n / target_bucket)))))


def srp_planes(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    """The ±1 hyperplanes of one hash table. ``table`` offsets the plane
    seeds so independent tables get independent planes; table 0 preserves
    the original single-table plane sequence."""
    return [_srp_plane(table * 4096 + p, dim) for p in range(n_planes)]


def srp_code(vec_col: Column, dim: int, n_planes: int = 16, table: int = 0) -> Column:
    """Sign-random-projection bucket code (long). Plane weights are constant
    literal arrays (deterministic sha256-derived ±1), so the per-row cost is
    n_planes folds — same as n_planes dot products."""
    bits = []
    for p, weights in enumerate(srp_planes(dim, n_planes, table)):
        plane = _lit_doubles(weights)
        proj = F.aggregate(
            F.zip_with(vec_col, plane, lambda v, w: v.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) * (1 << p))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def srp_codes_batch(dim: int, n_planes: int, n_tables: int):
    """Vectorized multi-table SRP coding: one pandas_udf computing ALL
    table codes per vector with a single (batch × dim) @ (dim × L·b) numpy
    matmul — returns array<long> of length n_tables (code per table).

    This is the deliberate vectorized-UDF exception to the JVM-first rule:
    the fold form (`srp_code`) evaluates L·b·dim lambda steps per row in
    codegen, which at L=16, b=6, dim=64 is ~6k expression evals/row; one
    BLAS matmul per Arrow batch is an order of magnitude faster and the
    result is per-row deterministic (independent of partitioning). The
    single-table `srp_code` stays the oracle-parity path (n06b embeds its
    fold arithmetic in SQL)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [srp_planes(dim, n_planes, table=t) for t in range(n_tables)], dtype=np.float64
    )  # (L, b, dim)
    w = planes.reshape(n_tables * n_planes, dim).T  # (dim, L·b)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def codes(vecs):
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])  # (n, dim)
        bits = (m @ w) > 0  # (n, L·b)
        per_table = bits.reshape(len(m), n_tables, n_planes) @ weights  # (n, L)
        return pd.Series(list(per_table))

    # No type hints: `from __future__ import annotations` stringifies them,
    # which the hint-based pandas_udf inference rejects — the explicit
    # returnType form resolves to the same scalar Arrow-batched eval.
    return pandas_udf(codes, "array<long>")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 1,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share an SRP bucket in ANY of
    ``n_tables`` independent hash tables; exact cosine re-rank on candidates.

    Recall = 1 - (1 - p^b)^L for per-plane agreement p, b planes, L tables;
    ``multi_probe`` additionally probes every Hamming-distance-1 bucket of
    each query (b extra probes per table — probes multiply the tiny query
    side only, never the corpus). The corpus emits L coded rows per vector
    (one vectorized matmul per Arrow batch, then a map-side posexplode);
    the join shuffles on (table, code), uniform by construction.
    tests/test_similarity.py pins recall@5 ≥ 0.9 vs the exact brute-force
    result at the n05b declared config."""
    from pyspark.sql import Window

    code_all = srp_codes_batch(dim, n_planes, n_tables)

    def coded(df: DataFrame, idc: str, vc: str, probe: bool) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(idc),
            F.col(vec_col).alias(vc),
            F.posexplode(code_all(F.col(vec_col))).alias("tbl", "code"),
        )
        if not probe:
            return base
        probes = F.array(
            F.col("code"), *[F.col("code").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        )
        return base.select(
            idc, vc, "tbl", F.explode(probes).alias("code")
        )

    q = coded(queries, "qid", "qv", probe=multi_probe)
    c = coded(corpus, "cid", "cv", probe=False)
    cands = (
        c.join(broadcast(q), on=["tbl", "code"])
        .filter(F.col("qid") != F.col("cid"))
        .dropDuplicates(["qid", "cid"])  # same pair can collide in many tables/probes
    )
    scored = cands.select("qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine", "rn")
    )


def srp_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    threshold: float = 0.4,
    n_tables: int = 1,
) -> DataFrame:
    """Scale path for embedding near-dup: SRP-bucket equi-join + exact cosine
    ≥ threshold on in-bucket pairs only. The join shuffles on the (table,
    code) key (uniform by construction) — no cross product anywhere; compare
    ``embedding_neardup_pairs``, the O(n²) verification form this replaces
    at scale. Deterministic planes make the candidate set (and thus the
    result) exactly reproducible in SQL.

    Recall dial: a pair at angle θ lands in one table's bucket with
    p = (1 - θ/π)^n_planes, and in ANY of L independent tables with
    1 - (1-p)^L — so ``n_tables`` buys recall at candidate-volume cost
    L·n²/2^n_planes. Measured at sf0.001 vs the exact n06 pair set
    (tests/test_similarity.py): true near-dup pairs (planted, cosine ≈
    0.99) are recovered at ≥ 0.9 with 6 planes × 8 tables; the LOW 0.4
    threshold over random vectors needs 4 planes × 12 tables for ≥ 0.9
    (0.955 measured) because barely-similar pairs are what SRP prunes —
    the single-table declared config (n06b) keeps ~6% of 0.4-cosine pairs
    and exists as the SQL-reproducible bucketing witness, with this
    multi-table form as the recall path."""
    if n_tables <= 0:
        raise ValueError(f"n_tables must be positive, got {n_tables}")
    # One (table, code) struct per table, exploded map-side: the join stays
    # a single equi-join shuffle regardless of L; duplicates (pairs sharing
    # buckets in several tables) collapse in the distinct BEFORE the cosine
    # is computed, so each candidate pair is scored once.
    codes = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                srp_code(F.col(vec_col), dim, n_planes, table=t).alias("code"),
            )
            for t in range(n_tables)
        ]
    )
    # Norm and codes are computed below the explode (two-step select):
    # expressions that are siblings of an explode are re-evaluated once per
    # generated row, which would multiply the norm fold by n_tables.
    coded = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("nrm"),
            codes.alias("__codes"),
        )
        .select("id", "v", "nrm", F.explode("__codes").alias("tc"))
        .select("id", "v", "nrm", F.col("tc.tbl").alias("tbl"), F.col("tc.code").alias("code"))
    )
    a = coded.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "tbl", "code"
    )
    b = coded.select(F.col("id").alias("id_b"), "tbl", "code")
    cand = (
        a.join(b, on=["tbl", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
    )
    if n_tables > 1:
        # Re-attach the b side's vector after dedup (cheap: candidates only).
        pairs = cand.select("id_a", "id_b").distinct()
        va = corpus.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            l2_norm(F.col(vec_col)).alias("na"),
        )
        vb = corpus.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            l2_norm(F.col(vec_col)).alias("nb"),
        )
        scored = pairs.join(va, "id_a").join(vb, "id_b")
    else:
        vb = corpus.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            l2_norm(F.col(vec_col)).alias("nb"),
        )
        scored = cand.join(vb, "id_b")
    return (
        scored.select(
            "id_a", "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer alternative to SRP-LSH.
# Centroids are metadata (n_cells × dim doubles): computed with a short
# Lloyd loop whose per-iteration reduction is a DataFrame aggregation, then
# embedded as literals — so cell assignment is map-side, the candidate join
# is an equi-join on cell id, and the corpus shuffles only on that key.
# --------------------------------------------------------------------------
def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iters: int = 2,
    assign: str = "auto",
    n_rows: int | None = None,
) -> list[list[float]]:
    """K coarse centroids via mini Lloyd iterations.

    ``assign='gemm'`` runs each iteration's cell assignment through the
    true-BLAS pandas_udf instead of the ``'literal'`` expression — the
    literal form's K·dim interpreted lambda steps per row make it the
    training bottleneck at large K (measured: K=2000 training on a 10k
    slice ≈ 5.5 min expression vs seconds GEMM — BENCHNOTES round 7);
    the trained centroids agree within float tolerance
    (tests/test_gemm_score.py). ``assign='auto'`` (default) picks by n·K
    scoring cells per iteration (``_resolve_auto``); ``n_rows`` is an
    optional size hint that skips the count-star 'auto' otherwise runs.

    Seeds = one vector per hash stratum: rows are bucketed by
    ``pmod(xxhash64(id), n_cells)`` and the min-hash row of each stratum
    seeds that cell. Deterministic (pure function of the id set) but
    UNCORRELATED with insertion order or id locality — lowest-id seeding
    would concentrate seeds in whatever region early ids happen to occupy,
    which on a skewed corpus yields empty/overloaded cells. Each Lloyd
    iteration assigns every vector to its max-cosine centroid map-side and
    re-averages per (cell, dimension) with one aggregation — the only
    driver-side data is the K×dim centroid table itself, exactly like
    MLlib's KMeans collects centroids between iterations.
    """
    from pyspark.sql import Window

    if assign not in ("auto", "literal", "gemm"):
        raise ValueError(
            f"assign must be 'auto', 'literal' or 'gemm', got {assign!r}"
        )
    h = F.xxhash64(F.concat(F.lit("ivf-seed:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(F.pmod(h, F.lit(n_cells))).orderBy(h, F.col(id_col))
    seeds = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .orderBy(id_col)
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    if assign == "auto":
        n = n_rows if n_rows is not None else corpus.count()
        # ×n_iters: the assignment cost repeats every Lloyd iteration.
        assign = _resolve_auto(
            "auto", n * n_cells * max(1, n_iters), "literal", "gemm"
        )
    centroids = [[float(x) for x in r[0]] for r in seeds]
    if not centroids:
        # Empty corpus: no cells to train. Returning [] lets callers
        # degrade to an empty result instead of building a zero-length
        # literal zip_with the analyzer rejects (ADVICE r9).
        return []
    for _ in range(n_iters):
        if assign == "gemm":
            cell_udf = _vectorized_cell_udf(corpus.sparkSession, centroids)
            cell = cell_udf(F.col(vec_col))
        else:
            cell = _argmax_cell(F.col(vec_col), centroids)
        # Two-step select: the cell assignment MUST be projected below the
        # explode. In `select(cell, posexplode(vec))` the analyzer puts the
        # cell projection ABOVE the Generate, so the K-fold scoring
        # expression is re-evaluated once per exploded element — dim× the
        # work (measured 7.1 s → 0.8 s per Lloyd job at K=16, dim=64).
        assigned = corpus.select(cell.alias("cell"), F.col(vec_col).alias("__v"))
        sums = (
            assigned.select("cell", F.posexplode(F.col("__v")).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum(F.col("v").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["s"] / r["n"]
        dim = len(centroids[0])
        centroids = [
            [by_cell[c][p] for p in range(dim)] if c in by_cell else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def _centroid_scores(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Array of cosines of the vector against each centroid, evaluated as ONE
    expression: a `transform` over a single array-of-arrays literal, with
    centroid norms precomputed driver-side. The per-row cost is K folds —
    but, critically, each fold appears in the plan exactly once. (An earlier
    form built K independent score columns and re-expanded them inside
    greatest()/when() chains; at K=16, dim=64 the resulting expression tree
    took ~20 s of analysis+codegen PER JOB — construction dominated the
    whole n05b query at 60 s. Computing the score array once and deriving
    argmax/top-cells from it took construction to under a second with
    bit-identical results: same fold arithmetic, same first-index-of-max
    tie-break, and Spark treats NaN = NaN as true in both forms.)"""
    import math

    # One py4j call per centroid row + one for the norm vector (r15,
    # guide §1/§5 driver work: the per-weight F.lit listcomp cost K·dim
    # round-trips — ~1 s of construct per call site at K=45, dim=64 —
    # while F.lit on a float64 ndarray ships the whole row in ONE call;
    # np.float64 conversion of a Python float is exact, so the resulting
    # Literal array is bit-identical and the optimized plan unchanged).
    cents = F.array(*[_lit_doubles(c) for c in centroids])
    norms = _lit_doubles(
        [math.sqrt(sum(x * x for x in c)) or 1.0 for c in centroids]
    )
    vn = l2_norm(vec_col)
    return F.zip_with(
        cents,
        norms,
        lambda cl, cn: F.aggregate(
            F.zip_with(vec_col, cl, lambda v, w: v.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (vn * cn),
    )


def _argmax_cell(vec_col: Column, centroids: list[list[float]]) -> Column:
    # first 0-based index achieving the max (deterministic tie-break,
    # identical to a first-match when() chain over the same scores)
    scores = _centroid_scores(vec_col, centroids)
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _centroid_table(spark, centroids: list[list[float]]) -> DataFrame:
    """The K-row broadcastable centroid relation (cell, cvec, cnorm) shared
    by the join-form assignment and probe paths."""
    import math

    rows = [
        (i, [float(x) for x in c], math.sqrt(sum(x * x for x in c)) or 1.0)
        for i, c in enumerate(centroids)
    ]
    return spark.createDataFrame(rows, "cell int, cvec array<double>, cnorm double")


def centroid_carrier_df(spark, centroids: list[list[float]]) -> DataFrame:
    """1-row broadcastable centroid carrier ``(cents, cnorms)`` — the
    ``pq_books_df`` trick applied to the coarse quantizer: all K centroids
    as one array-of-arrays column, norms precomputed driver-side with the
    exact ``_centroid_scores`` guard (zero-norm → 1.0)."""
    import math

    cnorms = [math.sqrt(sum(x * x for x in c)) or 1.0 for c in centroids]
    return spark.createDataFrame(
        [([[float(x) for x in c] for c in centroids], cnorms)],
        "cents array<array<double>>, cnorms array<double>",
    )


def _centroid_scores_from_carrier(
    vec_col: Column, cents: Column, cnorms: Column
) -> Column:
    """``_centroid_scores``'s fold arithmetic verbatim, values read from the
    joined carrier columns instead of literals — bit-identical scores."""
    vn = l2_norm(vec_col)
    return F.zip_with(
        cents,
        cnorms,
        lambda cl, cn: F.aggregate(
            F.zip_with(vec_col, cl, lambda v, w: v.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (vn * cn),
    )


def ivf_assign_carrier(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carrier: DataFrame | None = None,
) -> DataFrame:
    """Cell assignment via the 1-row broadcast carrier: each row computes
    its K-score array and takes the first-index-of-max — map-side, with NO
    row amplification and NO shuffle, plan size constant in K. Returns
    (id_col, cell).

    This dominates both earlier forms at scale: the literal ``_argmax_cell``
    is map-side but its plan embeds K·dim doubles (analysis cost grows with
    K); the K-row broadcast join form (removed) kept the plan constant but
    materialized K rows per vector through a crossJoin and bought the
    argmax with a max_by SHUFFLE of n·K rows (measured: the assignment pass dominated index
    builds at 200k×128 — BENCHNOTES round 7). The carrier form is
    constant-plan AND amplification-free; scores and the first-index-of-max
    tie-break are bit-identical to the literal form (pinned in
    tests/test_similarity.py).
    """
    from sheetreader_duckdb_spark.operators.exprutil import bind_once

    cdf = (
        carrier
        if carrier is not None
        else centroid_carrier_df(corpus.sparkSession, centroids)
    )
    scores = _centroid_scores_from_carrier(
        F.col(vec_col), F.col("cents"), F.col("cnorms")
    )
    # bind_once: array_position + array_max each reference the score
    # array; unbound, the K-fold producer is inlined (and evaluated) at
    # both sites — 2× the dominant per-row cost of the whole build.
    cell = bind_once(
        scores, lambda s: (F.array_position(s, F.array_max(s)) - 1).cast("int")
    )
    return (
        corpus.select(id_col, vec_col)
        .crossJoin(broadcast(cdf))
        .select(id_col, cell.alias("cell"))
    )


def _vectorized_cell_udf(spark, centroids: list[list[float]]):
    """The Arrow cell assignment as a reusable pandas_udf column function:
    ONE true BLAS matmul (``M @ C.T``) per record batch, then the first
    index of the max. Shared by the corpus assignment (``_assign_fn``),
    the Lloyd training loop (``ivf_centroids`` ``assign='gemm'``),
    ``ivf_topk`` and SemDeDup's 'gemm' path.

    The expression forms (literal/carrier) evaluate K·dim interpreted
    lambda steps PER ROW — measured 182 s for 200k rows at K=128, dim=64,
    ~85% of an index build's wall-clock (BENCHNOTES round 7); the batched
    ``(n×dim) @ (dim×K)`` matmul is milliseconds. This is the sanctioned
    Pandas-UDF case: the built-in operators express the semantics but not
    the arithmetic intensity. Centroids travel as a SparkContext broadcast
    (same bytes a carrier row would ship), norms with the expression
    forms' zero-norm → 1.0 guard. Float addition is not associative, so
    scores can differ from the fold in the last ulp — argmax cells are
    identical except for vectors whose top-2 centroid scores are within
    that ulp (adversarially constructible, vanishing for real embeddings;
    tolerance-pinned in tests/test_gemm_score.py). NEVER used by declared
    hash witnesses."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.asarray([math.sqrt(sum(x * x for x in c)) or 1.0 for c in centroids])
    bc = spark.sparkContext.broadcast((C, cn))

    def _cell(v):
        Cb, cnb = bc.value
        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        dots = M @ Cb.T
        vn2 = np.einsum("ij,ij->i", M, M)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = dots / (np.sqrt(vn2)[:, None] * cnb[None, :])
        return pd.Series(np.argmax(s, axis=1).astype("int32"))

    _cell.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_cell, "int")


def _assign_fn(assign: str):
    """The corpus cell assignment of a build: ``(id_col, cell)``."""
    if assign == "carrier":
        return ivf_assign_carrier
    if assign != "gemm":
        raise ValueError(f"assign must be 'carrier' or 'gemm', got {assign!r}")

    def gemm(corpus, cents, id_col="vec_id", vec_col="embedding"):
        cell_udf = _vectorized_cell_udf(corpus.sparkSession, cents)
        return corpus.select(id_col, cell_udf(F.col(vec_col)).alias("cell"))

    return gemm


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
    assign: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k via an inverted-file index: corpus vectors live in
    their max-cosine centroid cell; each query probes its ``n_probe``
    closest cells; exact cosine re-rank on the candidates. The candidate
    join is an equi-join on the cell id — the corpus shuffles once, on a
    key with ~n/n_cells occupancy. Recall rises with n_probe (n_probe =
    n_cells is exact search).

    ``assign`` picks the cell-assignment strategy:

    * ``"literal"`` — centroid scores as one constant-folded array
      expression embedded in the plan. Right at small K: map-side,
      zero extra shuffles, but the plan carries K·dim literal doubles.
    * ``"join"`` — the large-K constant-plan form: the corpus assignment
      goes through the 1-row broadcast centroid carrier (map-side
      argmax, no shuffle; bit-identical to the literal argmax,
      test-pinned) and the query probe-cell ranking through a broadcast
      join against the K-row centroid table.
    * ``"gemm"`` — the production no-knob form (r9): corpus assignment
      through the true-BLAS pandas_udf (``_vectorized_cell_udf``,
      float-associative — argmax cells differ from the fold only on
      last-ulp ties, tests/test_gemm_score.py); the query side keeps the
      'join' broadcast ranking (queries ≪ corpus). At real scale
      assignments are computed ONCE and persisted (``build_ivf_index``);
      this keeps the one-shot call usable too.
    * ``"auto"`` (default) — 'gemm' when the n·K scoring-cell estimate
      crosses ``_AUTO_VECTORIZE_CELLS`` (the interpreted carrier fold
      was measured at 182 s for 200k rows × K=128 — the class of plan
      no default should pick); below it, 'literal' while the embedded
      n_cells·dim literal doubles stay under ``_AUTO_LITERAL_DOUBLES``
      (the declared witness shape at K=16), else 'join'. 'literal' and
      'join' are bit-identical, test-pinned. ``n_rows`` is an optional
      corpus-size hint that skips the count-star 'auto' otherwise runs
      (shared with the centroid trainer's own auto).
    """
    from pyspark.sql import Window

    if assign not in ("auto", "literal", "join", "gemm"):
        raise ValueError(
            f"assign must be 'auto', 'literal', 'join' or 'gemm',"
            f" got {assign!r}"
        )
    n = n_rows
    if assign == "auto" and n is None:
        n = corpus.count()
    centroids = ivf_centroids(
        corpus, id_col, vec_col, n_cells, n_iters, n_rows=n
    )
    if assign == "auto":
        # Resolve from the trained centroids' own dim — no extra Spark
        # job, and an empty corpus (no centroids) degrades to the
        # constant-plan 'join' form instead of a first()=None TypeError
        # (ADVICE r8).
        dim = len(centroids[0]) if centroids else 0
        if centroids and n * n_cells >= _AUTO_VECTORIZE_CELLS:
            assign = "gemm"
        elif centroids and n_cells * dim <= _AUTO_LITERAL_DOUBLES:
            assign = "literal"
        else:
            assign = "join"
    if assign in ("join", "gemm"):
        from sheetreader_duckdb_spark.operators.exprutil import bind_once

        if assign == "gemm":
            cell_udf = _vectorized_cell_udf(corpus.sparkSession, centroids)
            c = corpus.select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cv"),
                cell_udf(F.col(vec_col)).alias("cell"),
            )
        else:
            # Corpus side: inline carrier assignment (bit-identical to
            # the literal argmax, test-pinned) — cell computed map-side
            # in the same select as the vector, so the large-K mode pays
            # no n·K argmax shuffle + id join-back before the cell join.
            ccar = centroid_carrier_df(corpus.sparkSession, centroids)
            ccell = bind_once(
                _centroid_scores_from_carrier(
                    F.col("cv"), F.col("cents"), F.col("cnorms")
                ),
                lambda s: (F.array_position(s, F.array_max(s)) - 1).cast("int"),
            )
            c = (
                corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
                .crossJoin(broadcast(ccar))
                .select("cid", "cv", ccell.alias("cell"))
            )
        cdf = _centroid_table(corpus.sparkSession, centroids)
        qscore = dot(F.col("qv"), F.col("cvec")) / (
            l2_norm(F.col("qv")) * F.col("cnorm")
        )
        # desc(score), asc(cell): same (highest score, lowest cell) order
        # as the literal path's array_sort on (-score, cell) structs.
        pw = Window.partitionBy("qid").orderBy(
            F.col("__s").desc(), F.col("cell").asc()
        )
        q = (
            queries.select(
                F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
            )
            .crossJoin(broadcast(cdf))
            .select("qid", "qv", "cell", qscore.alias("__s"))
            .withColumn("__rn", F.row_number().over(pw))
            .filter(F.col("__rn") <= n_probe)
            .select("qid", "qv", "cell")
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            _argmax_cell(F.col(vec_col), centroids).alias("cell"),
        )
        ranked_cells = F.slice(
            F.array_sort(
                F.transform(
                    _centroid_scores(F.col(vec_col), centroids),
                    lambda s, i: F.struct((-s).alias("neg"), i.cast("int").alias("cell")),
                )
            ),
            1,
            n_probe,
        )
        q = queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.explode(ranked_cells).alias("pc"),
        ).select("qid", "qv", F.col("pc.cell").alias("cell"))
    scored = (
        c.join(broadcast(q), on="cell")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine", "rn")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """All (a < b) pairs with cosine ≥ threshold. O(n²) scoring — the exact
    verification form; at scale run it on LSH candidates instead (see
    lsh_topk), which is the same plan with a bucket equi-join in front."""
    a = corpus.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) dedup bucketed by k-means cells.
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication" (Abbas et al. 2023): cluster the embeddings, then drop
# near-duplicates WITHIN each cluster only — the cluster equi-join replaces
# the O(n²) pair scoring the same way SRP buckets do, but with data-adaptive
# cells instead of random hyperplanes, which is the standard production
# recipe for high-threshold (≈ exact) semantic dup removal.
# --------------------------------------------------------------------------
def auto_ivf_cells(
    n: int, target_cell: int = 100, lo: int = 8, hi: int = 4096
) -> int:
    """Cell count that keeps expected cell occupancy ≈ ``target_cell``:
    same-cell candidate volume is n·occupancy, so a FIXED K degrades
    quadratically as the corpus grows (the SRP plane-count lesson,
    ``auto_srp_planes``). ``n`` is a metadata count-star — derive it from
    the data, don't hardcode it."""
    return max(lo, min(hi, (n + target_cell - 1) // target_cell))


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
    score: str = "auto",
    n_rows: int | None = None,
    train_fraction: "float | str | None" = "auto",
) -> DataFrame:
    """Same-cell embedding pairs with cosine ≥ threshold:
    ``(id_a < id_b, cell, cosine)``.

    ``train_fraction`` (when ``centroids`` is None): the deterministic
    hash-slice the cell quantizer trains on (``_train_slice``) —
    ``"auto"`` (default) caps training at ``_SEMDEDUP_TRAIN_CAP`` rows
    (full corpus below the cap, so the small declared witnesses train
    exactly as before), ``None``/1.0 trains on everything, a float
    picks the slice explicitly. Training on a slice changes WHICH
    centroids come out (cell shapes, hence candidate recall at the
    margin) but never precision — every emitted pair stays
    cosine-verified; assignment and pair scoring always cover the full
    corpus.

    ``score='gemm'`` is the production scoring form: it replaces the
    within-cell self-join + per-pair expression fold with ONE
    ``applyInPandas`` over the same cell shuffle, each cell's pair block
    scoring as one true BLAS matmul (``A @ B.T``), so the n²/K candidate
    volume pays GEMM rates instead of dim interpreted lambda steps per
    pair, and the corpus shuffles ONCE (the join form shuffles both join
    sides). Float addition is non-associative, so cosines are NOT
    hash-identical to the fold — they agree to ~1e-12 relative, and pair
    membership can differ only for cosines within an ulp of the
    threshold (tolerance + planted-recall pinned in
    tests/test_gemm_score.py). Task memory is bounded on BOTH axes: the
    score block is row-chunked to at most ``_CELL_PAIR_BLOCK`` doubles
    (ADVICE r7), and cells larger than ``_CELL_SPLIT_ROWS`` split into
    hash sub-buckets whose pair-groups each hold at most two buckets
    (VERDICT r9 task 1 — previously the WHOLE cell materialized in one
    task, so a pathologically skewed cell, exactly what duplicate-heavy
    corpora produce, could OOM an executor; now skew only adds
    ceil(csz/cap)× replication for the hot cell's own rows). The split
    is driven by a lazy broadcast K-row cell histogram — no driver
    collect, and unsplit cells score exactly as before.

    ``score='auto'`` (default) picks by estimated scoring cells —
    max(assignment n·K, expected same-cell pairs n·(n/K)) — expression
    form below the crossover (the nx witness's declared plan shape),
    'gemm' at or above it. Every declared hash witness is below the
    crossover by size, so 'auto' never changes a witnessed hash.
    ``n_rows`` is an optional corpus-size hint that skips the count-star
    'auto' otherwise runs.

    The 'expr' assignment uses the inline carrier form
    (``ivf_assign_carrier``'s expression over the 1-row broadcast centroid
    carrier — plan size constant in K, bit-identical scores/tie-break to
    the join form, test-pinned): the cell id is computed map-side IN the
    same select as the vector and its norm, so the only shuffle before
    pair generation is the cell equi-join itself (the earlier
    broadcast-join assignment paid an n·K-row argmax shuffle plus an
    id-keyed join-back first).
    With balanced cells the candidate volume is n²/K instead of n².
    Precision is exact (every
    emitted pair is cosine-verified); recall misses only near-dup pairs
    whose members land in DIFFERENT cells — rare at the high thresholds
    SemDeDup targets (≈ identical vectors almost always share a nearest
    centroid; planted-duplicate recall pinned in
    tests/test_semantic_dedup.py). For low-threshold regimes use
    ``srp_neardup_pairs``'s multi-table form instead.

    Pass precomputed ``centroids`` (e.g. from a persisted index) to skip
    the Lloyd loop; otherwise ``ivf_centroids`` runs with its
    deterministic hash-strata seeding.
    """
    from sheetreader_duckdb_spark.session import defer_unpersist

    if score not in ("auto", "expr", "gemm"):
        raise ValueError(
            f"score must be 'auto', 'expr' or 'gemm', got {score!r}"
        )
    need_n = score == "auto" or (
        centroids is None and train_fraction == "auto"
    )
    n = None
    if need_n:
        n = n_rows if n_rows is not None else corpus.count()
    if score == "auto":
        occupancy = max(1, n // max(1, n_cells))
        # No declared hash witness sits above the crossover (all
        # sf0.01/sf0.1 SemDeDup witnesses are 'expr'-shaped by size).
        score = _resolve_auto(
            "auto", max(n * n_cells, n * occupancy), "expr", "gemm"
        )
    if centroids is None:
        if train_fraction == "auto":
            train_fraction = min(1.0, _SEMDEDUP_TRAIN_CAP / max(1, n))
        if train_fraction is not None and train_fraction < 1.0:
            train = _train_slice(
                corpus, id_col, train_fraction, "semdedup-train:"
            )
            n_train = None  # slice size unknown without a count
        else:
            train, n_train = corpus, n
        centroids = ivf_centroids(
            train, id_col, vec_col, n_cells=n_cells,
            assign="gemm" if score == "gemm" else "literal",
            n_rows=n_train,
        )
    if score == "gemm":
        import numpy as np
        import pandas as pd

        thr = float(threshold)
        id_t = corpus.schema[id_col].dataType.simpleString()
        cap = int(_CELL_SPLIT_ROWS)

        def _stack(col) -> "np.ndarray":
            return np.stack([np.asarray(x, dtype=np.float64) for x in col])

        def _norms(M: "np.ndarray") -> "np.ndarray":
            return np.sqrt(np.einsum("ij,ij->i", M, M))

        _EMPTY = {"id_a": [], "id_b": [], "cell": [], "cosine": []}

        def _group_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            # One task holds ONE (cell, sub-bucket pair) group — at most
            # ~2×_CELL_SPLIT_ROWS rows regardless of cell skew (VERDICT r9
            # task 1: the whole cell used to stack into one matrix).
            # g1 == g2 is the within-bucket triangle (the only group an
            # unsplit cell produces, so small cells score EXACTLY as
            # before); g1 < g2 scores the full left×right bipartite block.
            cell_id = int(pdf["cell"].iloc[0])
            g1 = int(pdf["__g1"].iloc[0])
            g2 = int(pdf["__g2"].iloc[0])
            if g1 == g2:
                left = right = pdf
            else:
                bb = pdf["__b"].to_numpy()
                left, right = pdf[bb == g1], pdf[bb == g2]
            nl, nr = len(left), len(right)
            if nl == 0 or nr == 0 or (g1 == g2 and nl < 2):
                return pd.DataFrame(_EMPTY)
            ids_l = left["__id"].to_numpy()
            Ml = _stack(left["__v"])
            if g1 == g2:
                ids_r, Mr = ids_l, Ml
            else:
                ids_r, Mr = right["__id"].to_numpy(), _stack(right["__v"])
            nml = _norms(Ml)
            nmr = nml if g1 == g2 else _norms(Mr)
            # Row-chunked scoring: each block is chunk×nr doubles (capped
            # at _CELL_PAIR_BLOCK), never the full nl×nr matrix, scored
            # by one BLAS matmul. BLAS may reassociate per block shape,
            # so cosines can move in the last ulp with the blocking; pair
            # membership cannot, away from the threshold.
            chunk = max(1, _CELL_PAIR_BLOCK // nr)
            outs = []
            stop = nl - 1 if g1 == g2 else nl
            for r0 in range(0, stop, chunk):
                r1 = min(nl, r0 + chunk)
                dots = Ml[r0:r1] @ Mr.T
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = dots / (nml[r0:r1, None] * nmr[None, :])
                if g1 == g2:
                    # upper triangle in GLOBAL row order: pair (i, j), j > i.
                    li, ib = np.nonzero(
                        np.arange(nr)[None, :]
                        > (r0 + np.arange(r1 - r0))[:, None]
                    )
                else:
                    # bipartite: every (left, right) pair exactly once —
                    # buckets are disjoint, so no pair repeats elsewhere.
                    li = np.repeat(np.arange(r1 - r0), nr)
                    ib = np.tile(np.arange(nr), r1 - r0)
                ia = r0 + li
                # id_a < id_b like the join form (row order within a cell
                # is arbitrary, so order each pair by id, not position).
                a, b = ids_l[ia], ids_r[ib]
                swap = a > b
                a2 = np.where(swap, b, a)
                b2 = np.where(swap, a, b)
                sv = s[li, ib]
                keepm = sv >= thr
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": a2[keepm],
                            "id_b": b2[keepm],
                            "cell": np.full(int(keepm.sum()), cell_id),
                            "cosine": sv[keepm],
                        }
                    )
                )
            if not outs:
                return pd.DataFrame(_EMPTY)
            return pd.concat(outs, ignore_index=True)

        # Assignment rides the GEMM udf too: at large K the expression's
        # K·dim lambda steps per row dominate the whole job.
        cell_udf = _vectorized_cell_udf(corpus.sparkSession, centroids)
        assigned = corpus.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            cell_udf(F.col(vec_col)).alias("cell"),
        )
        grouped_schema = f"id_a {id_t}, id_b {id_t}, cell int, cosine double"
        # Resolved size: the exact count when score='auto'/train='auto'
        # already paid for one, else the caller's hint — a counted small
        # corpus skips the histogram machinery even without an n_rows hint.
        known_n = n if n is not None else n_rows
        if known_n is not None and known_n <= cap:
            # No cell can exceed the split cap when the whole corpus fits
            # under it — keep the r8 single-group plan (no histogram, no
            # persist, one exchange). Constant group keys make the same
            # _group_pairs kernel take its triangle branch.
            return (
                assigned
                .withColumn("__b", F.lit(0))
                .withColumn("__g1", F.lit(0))
                .withColumn("__g2", F.lit(0))
                .groupBy("cell", "__g1", "__g2")
                .applyInPandas(_group_pairs, grouped_schema)
            )
        assigned = defer_unpersist(assigned.persist())
        # Sub-bucket oversized cells (lazy, no driver collect): the K-row
        # cell histogram broadcasts back onto the assignment, each row of
        # a cell with csz > cap hashes into one of nb = ceil(csz/cap)
        # buckets and replicates into the nb (bucket, other) pair-groups
        # it participates in — the LSH bucket-cap pattern. Unsplit cells
        # (nb = 1, the entire non-adversarial world) explode to exactly
        # their old single group, so the declared witnesses' pair streams
        # are untouched. Replication factor is nb only for hot cells.
        hist = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("__csz"))
        sub = (
            assigned.join(broadcast(hist), "cell")
            .withColumn(
                "__nb",
                # Fan-out bounded at 4096 sub-buckets: replication is nb×
                # for the hot cell's own rows, and past ~134M rows in ONE
                # cell (4096×cap) the quadratic pair stream — identical
                # under every scoring form — is the binding constraint,
                # not group memory; an unbounded nb would only multiply
                # shuffle volume without changing that.
                F.least(
                    F.lit(4096),
                    F.greatest(
                        F.lit(1), F.ceil(F.col("__csz") / F.lit(cap))
                    ),
                ).cast("int"),
            )
            .withColumn(
                "__b",
                F.pmod(
                    F.xxhash64(
                        F.concat(
                            F.lit("semdedup-bucket:"),
                            F.col("__id").cast("string"),
                        )
                    ),
                    F.col("__nb"),
                ).cast("int"),
            )
            .withColumn(
                "__o", F.explode(F.sequence(F.lit(0), F.col("__nb") - 1))
            )
            .select(
                "__id", "__v", "cell", "__b",
                F.least("__b", "__o").alias("__g1"),
                F.greatest("__b", "__o").alias("__g2"),
            )
        )
        return sub.groupBy("cell", "__g1", "__g2").applyInPandas(
            _group_pairs, grouped_schema
        )
    from sheetreader_duckdb_spark.operators.exprutil import bind_once

    cdf = centroid_carrier_df(corpus.sparkSession, centroids)
    scores = _centroid_scores_from_carrier(
        F.col("__v"), F.col("cents"), F.col("cnorms")
    )
    cell = bind_once(
        scores, lambda s: (F.array_position(s, F.array_max(s)) - 1).cast("int")
    )
    # Persisted (deferred-release registry): both sides of the in-cell
    # self-join read the SAME materialized assignment instead of executing
    # the map-side assignment lineage twice. At production scale this is
    # the persisted IVF index (build_ivf_index) — pass its centroids in and
    # the cache is the per-run equivalent of the stored assignment table.
    sided = defer_unpersist(
        corpus.select(
            F.col(id_col), F.col(vec_col).alias("__v"),
            l2_norm(F.col(vec_col)).alias("__n"),
        )
        .crossJoin(broadcast(cdf))
        .select(id_col, "__v", "__n", cell.alias("cell"))
        .persist()
    )
    a = sided.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("va"),
        F.col("__n").alias("na"), "cell",
    )
    b = sided.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("vb"),
        F.col("__n").alias("nb"), "cell",
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "cell",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup_keep(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
    score: str = "auto",
    n_rows: int | None = None,
    train_fraction: "float | str | None" = "auto",
) -> DataFrame:
    """SemDeDup keep-set: one representative (min id) per connected
    semantic-duplicate cluster, everything unpaired kept. Transitive
    chains collapse correctly — the verified pair graph goes through
    ``dedup.cluster_dedup_keep``'s connected-components labeling rather
    than a pairwise drop. ``score``/``n_rows``/``train_fraction`` pass
    through to ``semantic_dedup_pairs`` ('auto' picks the scale-safe
    scoring form and caps quantizer training by corpus size)."""
    from sheetreader_duckdb_spark.operators.dedup import cluster_dedup_keep

    pairs = semantic_dedup_pairs(
        corpus, id_col, vec_col, n_cells=n_cells, threshold=threshold,
        centroids=centroids, score=score, n_rows=n_rows,
        train_fraction=train_fraction,
    ).select("id_a", "id_b")
    return cluster_dedup_keep(corpus, pairs, id_col)


# --------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance search — the
# billion-vector compression path (Jégou et al. 2011, the FAISS IVF-PQ
# recipe). The vector splits into m subspaces; each subspace gets its own
# small codebook (Lloyd on the sub-vectors), and a vector is stored as m
# small code ids — dim·4 bytes → m bytes (32× at dim=64, m=8, 16 codes).
# Search is ADC: the query precomputes a lookup table of its dot product
# against every codebook entry (m·n_codes values, map-side per query row),
# and a corpus vector's approximate dot is the sum of m table lookups —
# no float vector ever touched in the coarse pass. Exact rescoring of the
# top-(k·refine) survivors recovers recall, same two-stage shape as
# quantized_topk.
# --------------------------------------------------------------------------
def _vectorized_codes_udf(spark, codebooks: list[list[list[float]]]):
    """PQ code assignment as a pandas_udf returning the m-code array —
    ``pq_encode_vectorized``'s distance arithmetic, codes only. Used by
    the Lloyd training loop at large n_codes, where the expression
    form's m·n_codes·dsub = dim·n_codes interpreted lambda steps per row
    dominate the iteration."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    B = np.asarray(codebooks, dtype=np.float64)
    BN2 = np.asarray(
        [[sum(x * x for x in c) for c in book] for book in codebooks]
    )
    bc = spark.sparkContext.broadcast((B, BN2))

    def _codes(v):
        Bb, bn2 = bc.value
        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        n = M.shape[0]
        out = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            sub = M[:, j * dsub : (j + 1) * dsub]
            out[:, j] = np.argmin(sub @ (-2.0 * Bb[j].T) + bn2[j], axis=1)
        return pd.Series(list(out))

    _codes.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_codes, "array<int>")


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 2,
    assign: str = "auto",
    n_rows: int | None = None,
) -> list[list[list[float]]]:
    """Per-subspace codebooks ``[m][n_codes][dim/m]`` via Lloyd iterations
    trained on ALL subspaces at once — one assignment+aggregate job per
    iteration regardless of m (not m separate loops): each row emits its m
    (subspace, code, sub-vector) assignments map-side, one groupBy
    accumulates per-(subspace, code, position) sums, and the driver holds
    only the m·n_codes·(dim/m) = dim·n_codes codebook doubles. Seeds are
    the sub-vectors of ``n_codes`` hash-strata rows (deterministic,
    order-uncorrelated — the ivf_centroids seeding applied per subspace).
    ``assign`` is ``'expr'`` (the broadcast-codebook expression) or
    ``'gemm'`` (the BLAS udf, books within float tolerance); ``'auto'``
    (default) picks by n·n_codes scoring cells per iteration.
    """
    from pyspark.sql import Window

    if dim % m:
        raise ValueError(f"dim={dim} must split evenly into m={m} subspaces")
    if assign not in ("auto", "expr", "gemm"):
        raise ValueError(
            f"assign must be 'auto', 'expr' or 'gemm', got {assign!r}"
        )
    dsub = dim // m
    h = F.xxhash64(F.concat(F.lit("pq-seed:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(F.pmod(h, F.lit(n_codes))).orderBy(h, F.col(id_col))
    seed_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .orderBy(id_col)
        .limit(n_codes)
        .select(vec_col)
        .collect()
    )
    if len(seed_rows) < n_codes:
        # The Lloyd update indexes codes 0..n_codes-1 against the seed
        # list — fail fast instead of an IndexError mid-iteration.
        raise ValueError(
            f"corpus yields only {len(seed_rows)} seed rows across hash "
            f"strata (needs n_codes={n_codes}); lower n_codes or train on "
            "a larger corpus"
        )
    books = [
        [[float(r[0][j * dsub + p]) for p in range(dsub)] for r in seed_rows]
        for j in range(m)
    ]
    from sheetreader_duckdb_spark.operators.exprutil import bind_once

    if assign == "auto":
        # Per-iteration scoring cells: n rows × n_codes entries per
        # subspace, m subspaces of dim/m steps each = n·n_codes cells of
        # dim total steps — the same unit as the other knobs (measured:
        # 97.7 s expr vs 7.5 s GEMM at production book sizes, r7).
        n = n_rows if n_rows is not None else corpus.count()
        # Trained-book closeness to 'expr' is pinned in
        # tests/test_gemm_score.py::test_pq_codebooks_gemm_training_close.
        assign = _resolve_auto(
            "auto", n * n_codes * max(1, n_iters), "expr", "gemm"
        )
    for _ in range(n_iters):
        # Per-iteration codebooks travel as a 1-row broadcast table, not
        # literal expression trees (pq_books_df — plan size constant in
        # n_codes·dim; the literal form cost seconds of py4j construct
        # PER ITERATION at production book sizes). The assignment
        # arithmetic is _pq_code_expr's exactly, so trained books are
        # bit-identical to the literal path (pinned in tests/test_pq.py).
        # assign='gemm' computes the codes via the GEMM udf — the
        # expression's dim·n_codes lambda steps per row dominate training
        # at production book sizes.
        def _assign_struct(cs):
            return F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("j"),
                    F.element_at(cs, j + 1).alias("code"),
                    F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("sub"),
                ),
            )

        if assign == "gemm":
            codes_udf = _vectorized_codes_udf(corpus.sparkSession, books)
            # The UDF evaluates once in its own ArrowEvalPython operator;
            # the m element_at references read the materialized column.
            staged = corpus.select(
                F.col(vec_col), codes_udf(F.col(vec_col)).alias("__cs")
            ).select(_assign_struct(F.col("__cs")).alias("__a"))
        else:
            bdf = pq_books_df(corpus.sparkSession, books)
            codes = _pq_codes_from_books(F.col(vec_col), F.col("bk"), m, dsub)
            staged = (
                corpus.crossJoin(broadcast(bdf))
                .select(bind_once(codes, _assign_struct).alias("__a"))
            )
        # Assignment projected below the explode (the explode-sibling
        # re-evaluation trap — see ivf_centroids).
        exploded = (
            staged
            .select(F.explode("__a").alias("a"))
            .select("a.j", "a.code", F.posexplode(F.col("a.sub")).alias("pos", "v"))
        )
        sums = (
            exploded.groupBy("j", "code", "pos")
            .agg(F.sum(F.col("v").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in sums:
            acc.setdefault((r["j"], r["code"]), {})[r["pos"]] = r["s"] / r["n"]
        books = [
            [
                [acc[(j, c)][p] for p in range(dsub)] if (j, c) in acc else books[j][c]
                for c in range(n_codes)
            ]
            for j in range(m)
        ]
    return books


def _pq_code_expr(
    vec_col: Column, book: list[list[float]], offset: int, dsub: int
) -> Column:
    """0-based index of the L2-nearest codebook entry for the sub-vector at
    ``offset`` — one expression over a single array-of-arrays literal (the
    _centroid_scores lesson: never K independent re-expanded columns).
    Ties resolve to the first index."""
    sub = F.slice(vec_col, offset + 1, dsub)
    entries = F.array(*[_lit_doubles(c) for c in book])
    dists = F.transform(
        entries,
        lambda cl: F.aggregate(
            F.zip_with(sub, cl, lambda v, w: (v.cast("double") - w) * (v.cast("double") - w)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


# --------------------------------------------------------------------------
# Broadcast-table codebook carrier — the production form. A literal
# expression tree (`F.array(*[F.lit(w) …])`) costs py4j round-trips and
# plan bytes proportional to n_codes·dim: fine for the 16×8 oracle
# witness, minutes of plan build and a megabyte plan at a 256-code ×
# 768-dim production book. The centroid-carrier precedent: ship the
# values through a broadcast exchange (constant plan size), keep the
# scoring arithmetic EXPRESSION-identical so results are bit-identical
# to the literal form (pinned in tests/test_pq.py).
# --------------------------------------------------------------------------
def pq_books_df(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """1-row broadcastable codebook relation ``(bk, bn2)``:
    ``bk[j][c]`` = codebook entry, ``bn2[j][c]`` = its squared L2 norm
    (computed driver-side with the same float fold as the literal
    ``pq_encode``, so ``pq_norm`` stays bit-identical)."""
    bn2 = [[sum(x * x for x in c) for c in book] for book in codebooks]
    return spark.createDataFrame(
        [([[list(map(float, c)) for c in book] for book in codebooks], bn2)],
        "bk array<array<array<double>>>, bn2 array<array<double>>",
    )


def _pq_codes_from_books(vec: Column, bk: Column, m: int, dsub: int) -> Column:
    """``array<int>`` of per-subspace nearest-entry codes against a
    JOINED codebook column — _pq_code_expr's arithmetic and
    first-index-of-min tie-break verbatim, values read from ``bk``
    instead of literals. Each sub-vector slice is lambda-bound so the
    n_codes distance folds read ONE evaluated slice (the bind_once
    inlining trap)."""
    from sheetreader_duckdb_spark.operators.exprutil import bind_once

    def code_for(j: Column) -> Column:
        def from_sub(sub: Column) -> Column:
            dists = F.transform(
                F.element_at(bk, j + 1),
                lambda cl: F.aggregate(
                    F.zip_with(
                        sub,
                        cl,
                        lambda v, w: (v.cast("double") - w) * (v.cast("double") - w),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
            )
            return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

        return bind_once(F.slice(vec, j * dsub + 1, dsub), from_sub)

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)


def _pq_lut_from_books(qv: Column, bk: Column, m: int, dsub: int) -> Column:
    """Query-side ADC lookup table ``array<array<double>>`` (m × n_codes
    dot products) from the joined codebook column — pq_topk's
    ``lut_expr`` arithmetic verbatim."""
    from sheetreader_duckdb_spark.operators.exprutil import bind_once

    def lut_for(j: Column) -> Column:
        def from_sub(sub: Column) -> Column:
            return F.transform(
                F.element_at(bk, j + 1),
                lambda cl: F.aggregate(
                    F.zip_with(sub, cl, lambda v, w: v.cast("double") * w),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
            )

        return bind_once(F.slice(qv, j * dsub + 1, dsub), from_sub)

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), lut_for)


def pq_encode_join(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
    books: DataFrame | None = None,
) -> DataFrame:
    """``pq_encode`` with the codebooks shipped as a broadcast table
    (``pq_books_df``) instead of literal trees — bit-identical output,
    plan size constant in the book size. Pass a pre-built ``books``
    frame to share one broadcast across encode + query LUT."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    bdf = books if books is not None else pq_books_df(df.sparkSession, codebooks)
    return (
        df.crossJoin(broadcast(bdf))
        .withColumn(
            code_col, _pq_codes_from_books(F.col(vec_col), F.col("bk"), m, dsub)
        )
        .withColumn(
            "pq_norm",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(code_col),
                        F.col("bn2"),
                        lambda c, row: F.element_at(row, c + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
        )
        .drop("bk", "bn2")
    )


def pq_encode_vectorized(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Arrow-vectorized PQ encode — ``pq_encode_join``'s output
    (id, pq_codes, pq_norm) computed batch-wise in numpy: per subspace,
    the code is the argmin over ``-2·x@C.T + ‖C‖²`` (one BLAS matmul; the
    per-row ‖x‖² term is constant across codes and dropped), and the
    reconstructed norm accumulates the driver-side bn2 entries (the same
    addends in the same order as the expression fold). Float-associative:
    a code can differ from the exact squared-diff fold only on last-ulp
    distance ties (tests/test_gemm_score.py).

    The expression form pays m·n_codes·(dim/m) interpreted lambda steps
    per row (≈ dim·n_codes = 1024 at 64-dim × 16 codes); at index-build
    scale that dominates wall-clock the same way assignment did
    (BENCHNOTES round 7). Caveat: NaN components poison np.argmin toward
    the first NaN distance, where the expression form ranks NaN distances
    last — feed NaN-free embeddings (the expression forms remain for
    NaN-tolerant paths)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    B = np.asarray(codebooks, dtype=np.float64)  # m × n_codes × dsub
    # bn2 with pq_books_df's exact driver-side arithmetic.
    BN2 = np.asarray(
        [[sum(x * x for x in c) for c in book] for book in codebooks]
    )
    bc = df.sparkSession.sparkContext.broadcast((B, BN2))

    def _enc(v):
        Bb, bn2 = bc.value
        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        n = M.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        norm2 = np.zeros(n)
        for j in range(m):
            sub = M[:, j * dsub : (j + 1) * dsub]
            cj = np.argmin(sub @ (-2.0 * Bb[j].T) + bn2[j], axis=1)
            codes[:, j] = cj
            norm2 += bn2[j][cj]
        return pd.DataFrame(
            {"pq_codes": list(codes), "pq_norm": np.sqrt(norm2)}
        )

    _enc.__annotations__ = {"v": pd.Series, "return": pd.DataFrame}
    enc_udf = pandas_udf(_enc, f"{code_col} array<int>, pq_norm double")
    return df.select(id_col, enc_udf(F.col(vec_col)).alias("__e")).select(
        id_col, f"__e.{code_col}", "__e.pq_norm"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Append the m-code PQ encoding (``array<int>``) plus the codebook-
    reconstructed norm ``pq_norm`` (‖x̂‖ = √Σ_j ‖book_j[code_j]‖² — the
    cosine denominator the coarse pass uses). Map-side; the codebooks are
    dim·n_codes literal doubles; ``pq_encode_join`` is the broadcast
    form for huge codebooks."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    codes = F.array(
        *[
            _pq_code_expr(F.col(vec_col), codebooks[j], j * dsub, dsub)
            for j in range(m)
        ]
    )
    norm2 = [
        [sum(x * x for x in c) for c in codebooks[j]] for j in range(m)
    ]
    n2_lit = F.array(*[_lit_doubles(row) for row in norm2])
    # withColumn then derive: the m nearest-entry searches run once for the
    # code column, and the norm is m table lookups over that column.
    return df.withColumn(code_col, codes).withColumn(
        "pq_norm",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col(code_col), n2_lit,
                    lambda c, row: F.element_at(row, c + F.lit(1)),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 4,
) -> DataFrame:
    """Two-stage PQ/ADC top-k by cosine: coarse score from the query's
    per-codebook-entry dot-product lookup table (approx dot = Σ_j
    LUT_j[code_j], approx norm from the reconstruction), exact float
    rescoring of the top-(k·refine) survivors. Output schema matches
    brute_force_topk: (qid, cid, cosine, rn).

    Scale shape: the corpus travels as its m-byte codes (the 32×-smaller
    relation is all the coarse pass reads — the per-qid ranking window
    shuffles only (qid, cid, coarse) triples, never a float vector), and
    the float vectors of the k·refine survivors are fetched by a
    broadcast semi-join of the survivor ids against the corpus — zero
    corpus shuffle end to end. Queries broadcast with their m·n_codes
    LUT arrays. Recall pinned in tests/test_pq.py."""
    from pyspark.sql import Window

    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def lut_expr(qv: Column) -> Column:
        return F.array(
            *[
                F.array(
                    *[
                        F.aggregate(
                            F.zip_with(
                                F.slice(qv, j * dsub + 1, dsub),
                                _lit_doubles(c),
                                lambda v, wq: v.cast("double") * wq,
                            ),
                            F.lit(0.0),
                            lambda a, x: a + x,
                        )
                        for c in codebooks[j]
                    ]
                )
                for j in range(m)
            ]
        )

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        lut_expr(F.col(vec_col)).alias("lut"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    enc = pq_encode(
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")),
        codebooks,
        vec_col="cv",
    )
    return _pq_adc_rank(corpus, q, enc, id_col, vec_col, k, refine)


def pq_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 4,
) -> DataFrame:
    """``pq_topk`` with the codebooks shipped ONCE as a broadcast table
    (shared by the corpus encode and the query LUT) instead of literal
    expression trees — bit-identical results (pinned in tests/test_pq.py),
    plan size and driver construct time constant in n_codes·dim. This is
    the production entry point for real book sizes (256 codes × 768 dims
    is ~200k doubles: minutes of plan build as literals, milliseconds as
    a broadcast row); the literal ``pq_topk`` remains the declared
    reference form."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    bdf = pq_books_df(corpus.sparkSession, codebooks)
    q = queries.crossJoin(broadcast(bdf)).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        _pq_lut_from_books(F.col(vec_col), F.col("bk"), m, dsub).alias("lut"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    enc = pq_encode_join(
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")),
        codebooks,
        vec_col="cv",
        books=bdf,
    )
    return _pq_adc_rank(corpus, q, enc, id_col, vec_col, k, refine)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
    dim: int = 64,
    m: int = 16,
    n_codes: int = 16,
    pq_iters: int = 2,
    refine: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    assign: str = "auto",
    encode: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """IVF coarse pruning composed with PQ/ADC compressed scoring — the
    IVFADC architecture (Jégou, Douze, Schmid 2011 §V: an inverted file
    restricts the search to the queried cells, ADC scores only their
    entries; here in the shared-codebook, non-residual configuration, so
    the cell id and the PQ codes are independent and both reuse their
    tested single-stage forms verbatim).

    This is the genuine 100 TB serving shape, combining the two scale
    levers the single-stage variants each pull alone:

    * ``ivf_topk`` prunes candidates to ``n_probe/n_cells`` of the corpus
      but still reads float vectors in the probed cells;
    * ``pq_topk_join`` scores 32×-smaller codes but scans ALL of them per
      query.

    Composed, the coarse pass touches ``n_probe/n_cells`` of an already
    m-byte-per-vector relation: at n_cells=4096, n_probe=16, m=16 over
    768-dim float32 that is ~1/200000 of the raw corpus bytes per query.

    Plan shape: the index relation is (cid, cell, pq_codes, pq_norm) —
    built once from the ``assign`` cell assignment (below the 'auto'
    crossover the 1-row centroid carrier, map-side) + the ``encode`` PQ
    encode, and at real scale persisted rather than re-derived
    (``build_ivf_index`` is the persisted form for the float variant).
    Queries rank probe cells against the same broadcast centroid table
    and carry their ADC LUT; the candidate pass is an equi-join on the
    cell id (never a cross product), the ranking window shuffles only
    (qid, cid, coarse) triples, and the float vectors of the k·refine
    survivors come back through the shared ``_pq_float_rescore`` tail.

    Equivalence pin (tests/test_pq.py): with ``n_probe == n_cells`` the
    probed set covers every cell, so the candidate set and all arithmetic
    match ``pq_topk_join`` exactly — result equality is asserted, which
    pins the composition plumbing to the tested single-stage forms.
    Recall vs exact brute force at defaults is pinned there too.

    ``assign``/``encode`` (r9, mirroring ``build_ivfpq_index``): the
    corpus-side cell assignment and PQ encode default to ``'auto'`` —
    the expression forms ('carrier'/'join', the pinned witness shapes)
    below the scoring-cell crossover, the true-BLAS 'gemm' kernels above
    it, so a one-shot no-knob call at production size never pays the
    interpreted n·K / n·n_codes folds. Training autos resolve independently
    inside the trainers. ``n_rows`` is an optional corpus-size hint
    shared by all the autos (skips their count-stars).
    """
    from pyspark.sql import Window

    # Validate the strategy knobs BEFORE any training job runs: a typo'd
    # assign (or ivf_topk vocabulary like 'literal'/'join') used to surface
    # as _assign_fn's error only after the expensive centroid + codebook
    # training already completed (ADVICE r9).
    if assign not in ("auto", "carrier", "gemm"):
        raise ValueError(
            f"assign must be 'auto', 'carrier' or 'gemm', got {assign!r}"
        )
    if encode not in ("auto", "join", "gemm"):
        raise ValueError(
            f"encode must be 'auto', 'join' or 'gemm', got {encode!r}"
        )
    n = n_rows
    if (assign == "auto" or encode == "auto") and n is None:
        n = corpus.count()
    if centroids is None:
        centroids = ivf_centroids(
            corpus, id_col, vec_col, n_cells, n_iters, n_rows=n
        )
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, id_col, vec_col, dim=dim, m=m, n_codes=n_codes,
            n_iters=pq_iters, n_rows=n,
        )
    corpus_assign = _resolve_auto(assign, (n or 0) * n_cells, "carrier", "gemm")
    corpus_encode = _resolve_auto(encode, (n or 0) * n_codes, "join", "gemm")
    mm = len(codebooks)
    dsub = len(codebooks[0][0])
    bdf = pq_books_df(corpus.sparkSession, codebooks)

    # The index relation: cell + m codes + reconstruction norm. No floats.
    # Map-side argmax (carrier expression or gemm udf), no K× rows.
    cells = _assign_fn(corpus_assign)(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("cid"), "cell"
    )
    renamed = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    if corpus_encode == "gemm":
        enc = pq_encode_vectorized(
            renamed, codebooks, id_col="cid", vec_col="cv"
        )
    else:
        enc = pq_encode_join(
            renamed, codebooks, vec_col="cv", books=bdf,
        ).select("cid", "pq_codes", "pq_norm")
    index = enc.join(cells, "cid")

    # Query side: ADC lookup table + the n_probe closest cells, both from
    # the same broadcast tables the corpus side used.
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    q_lut = q.crossJoin(broadcast(bdf)).select(
        "qid",
        "qv",
        _pq_lut_from_books(F.col("qv"), F.col("bk"), mm, dsub).alias("lut"),
        l2_norm(F.col("qv")).alias("qn"),
    )
    cdf = _centroid_table(corpus.sparkSession, centroids)
    qscore = dot(F.col("qv"), F.col("cvec")) / (l2_norm(F.col("qv")) * F.col("cnorm"))
    pw = Window.partitionBy("qid").orderBy(F.col("__s").desc(), F.col("cell").asc())
    probes = (
        q.crossJoin(broadcast(cdf))
        .select("qid", "cell", qscore.alias("__s"))
        .withColumn("__rn", F.row_number().over(pw))
        .filter(F.col("__rn") <= n_probe)
        .select("qid", "cell")
    )
    qp = q_lut.join(probes, "qid").select("qid", "lut", "qn", "cell")

    # Coarse ADC restricted to probed cells: equi-join on the cell id.
    w = Window.partitionBy("qid").orderBy(F.col("coarse").desc(), F.col("cid"))
    cand_ids = (
        index.join(broadcast(qp), "cell")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", _adc_coarse_col().alias("coarse"))
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= k * refine)
        .select("qid", "cid")
    )
    return _pq_float_rescore(corpus, cand_ids, q_lut, id_col, vec_col, k)


def _adc_coarse_col() -> Column:
    """The ADC coarse-cosine expression over columns ``pq_codes``, ``lut``,
    ``qn``, ``pq_norm``: approx dot = Σ_j LUT_j[code_j], normalized by the
    query norm and the (guarded) reconstruction norm. One definition shared
    by every ADC entry point so all forms stay bit-identical."""
    approx_dot = F.aggregate(
        F.zip_with(
            F.col("pq_codes"), F.col("lut"),
            lambda c, row: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return approx_dot / (
        F.col("qn") * F.when(F.col("pq_norm") > 0, F.col("pq_norm")).otherwise(F.lit(1.0))
    )


def _pq_float_rescore(
    corpus: DataFrame,
    cand_ids: DataFrame,
    q: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact float rescore of the coarse survivors — the shared ADC tail.
    Residue-sized float fetch: k·refine·|Q| survivor ids broadcast against
    the corpus (map-side), query vectors broadcast by qid."""
    from pyspark.sql import Window

    cvecs = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    rescored = (
        cvecs.join(broadcast(cand_ids), "cid")
        .join(broadcast(q.select("qid", "qv", "qn")), "qid")
        .select(
            "qid",
            "cid",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * l2_norm(F.col("cv")))).alias(
                "cosine"
            ),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        rescored.withColumn("rn", F.row_number().over(w2).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine", "rn")
    )


def _pq_adc_rank(
    corpus: DataFrame,
    q: DataFrame,
    enc: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    refine: int,
) -> DataFrame:
    """Shared ADC two-stage tail: coarse LUT-sum ranking over the m-code
    relation, exact float rescore of the k·refine survivors. ``q`` is
    (qid, qv, lut, qn), ``enc`` is (cid, pq_codes, pq_norm)."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("coarse").desc(), F.col("cid"))
    # Coarse pass carries ONLY (qid, cid, coarse) through the ranking
    # window — the float vectors PQ exists to avoid never enter a shuffle.
    cand_ids = (
        enc.select("cid", "pq_codes", "pq_norm")
        .join(broadcast(q.select("qid", "lut", "qn")), F.col("qid") != F.col("cid"))
        .select("qid", "cid", _adc_coarse_col().alias("coarse"))
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= k * refine)
        .select("qid", "cid")
    )
    return _pq_float_rescore(corpus, cand_ids, q, id_col, vec_col, k)


def pq_int_quantize(vec: Column, scale: int = 128) -> Column:
    """Element-wise exact integer quantization ``round(v * scale)`` as
    BIGINT. float→double is exact, ×scale (power of two) is exact, and
    round() agrees across engines (the ``cents`` precedent) — so the
    integer vector is bit-identical everywhere."""
    return F.transform(
        vec, lambda v: F.round(v.cast("double") * F.lit(scale)).cast("long")
    )


def pq_adc_exact(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    refine: int = 4,
    scale: int = 128,
) -> DataFrame:
    """Integer-exact PQ + ADC witness: the full two-stage pq_topk pipeline
    (encode → ADC coarse rank → exact float rescore) with every coarse
    quantity in BIGINT so a DuckDB oracle reproduces it bit-for-bit.

    Construction (each piece SQL-expressible, which is the point):
    vectors int-quantize via ``pq_int_quantize``; subspace ``j``'s
    codebook is the ``j``-th sub-vector of the int-quantized corpus rows
    with ``id_col`` in [0, n_codes) (deterministic data-derived seeds —
    no Lloyd loop, the oracle builds the same books from the same rows);
    encoding is an exact integer L2 argmin (ties → lowest code id); the
    ADC coarse score is the exact integer LUT sum Σ_j <q_sub_j,
    book_j[code_j]>. The float Lloyd-trained production path stays
    ``pq_codebooks``/``pq_topk`` (recall-pinned in tests/test_pq.py);
    this witness pins the ENGINE — same argmin/LUT/rescore topology,
    cross-engine-hashable arithmetic.

    Returns a tagged union: 'coarse' rows are the k·refine ADC survivors
    per query (score = coarse integer dot as double, rn = coarse rank),
    'final' rows the exactly-rescored top-k (score = float cosine).
    Scale shape matches pq_topk: the corpus shuffles only integer codes
    through the ranking window; float vectors are fetched for the
    broadcast survivor residue only.
    """
    from pyspark.sql import Window

    if dim % m:
        raise ValueError(f"dim={dim} must split evenly into m={m} subspaces")
    dsub = dim // m
    iv = pq_int_quantize(F.col(vec_col), scale)
    seed_rows = {
        r["__sid"]: r["__iv"]
        for r in corpus.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).cast("long").alias("__sid"), iv.alias("__iv"))
        .collect()
    }
    if len(seed_rows) < n_codes:
        raise ValueError(
            f"corpus holds only {len(seed_rows)} rows with {id_col} < "
            f"{n_codes}; the witness codebooks need ids 0..{n_codes - 1}"
        )
    books = [
        [[int(seed_rows[c][j * dsub + p]) for p in range(dsub)] for c in range(n_codes)]
        for j in range(m)
    ]

    from sheetreader_duckdb_spark.operators.exprutil import bind_once

    # The witness codebooks travel as a 1-row broadcast table of exact
    # BIGINTs (the pq_books_df pattern): all coarse arithmetic is integer,
    # so the broadcast carrier is bit-identical to the former literal
    # trees by construction — and n05's plan-build time stops growing
    # with m·n_codes·dsub. The DuckDB oracle rebuilds the same books
    # relationally (_sql_pq_adc), unchanged.
    ibdf = corpus.sparkSession.createDataFrame(
        [(books,)], "ibk array<array<array<bigint>>>"
    )

    def code_from_sub(sub: Column, j: Column) -> Column:
        dists = F.transform(
            F.element_at(F.col("ibk"), j + 1),
            lambda cl: F.aggregate(
                F.zip_with(sub, cl, lambda v, w: (v - w) * (v - w)),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    def lut_from_sub(sub: Column, j: Column) -> Column:
        return F.transform(
            F.element_at(F.col("ibk"), j + 1),
            lambda cl: F.aggregate(
                F.zip_with(sub, cl, lambda v, w: v * w),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        )

    # The quantized vector and each subspace slice are lambda-bound
    # (exprutil.bind_once): unbound, `sub` re-ran the full 64-element
    # quantize transform inside every one of the m×n_codes codebook
    # lambdas — m·n_codes·dim work per row for what is one projection
    # (the winnowing inlining trap; measured 6.6→1.1 s on n05's exec).
    def per_subspace(builder) -> Column:
        return bind_once(
            iv,
            lambda v: F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: bind_once(
                    F.slice(v, j * dsub + 1, dsub), lambda s: builder(s, j)
                ),
            ),
        )

    enc = corpus.crossJoin(broadcast(ibdf)).select(
        F.col(id_col).alias("cid"), per_subspace(code_from_sub).alias("codes")
    )
    q = queries.crossJoin(broadcast(ibdf)).select(
        F.col(id_col).alias("qid"), per_subspace(lut_from_sub).alias("lut")
    )
    coarse = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"),
            lambda c, row: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    w = Window.partitionBy("qid").orderBy(F.col("coarse").desc(), F.col("cid"))
    # cand feeds BOTH outputs (the 'coarse' branch and the rescore's
    # survivor ids) — persist it so the corpus-wide coarse scan + ranking
    # window runs once, not once per consumer; the k·refine·|Q| survivor
    # rows are residue-sized. Released by the next query construction
    # (session.defer_unpersist), same lifecycle as the dedup shingles.
    from sheetreader_duckdb_spark import session as SESS

    cand = SESS.defer_unpersist(
        enc.join(broadcast(q), F.col("qid") != F.col("cid"))
        .select("qid", "cid", coarse.alias("coarse"))
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= k * refine)
        .persist()
    )
    coarse_rows = cand.select(
        F.lit("coarse").alias("tag"),
        "qid",
        "cid",
        F.col("coarse").cast("double").alias("score"),
        F.col("crn").cast("long").alias("rn"),
    )
    vecs = corpus.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    rescored = (
        cand.select("qid", "cid")
        .join(broadcast(vecs.withColumnRenamed("__vid", "qid").withColumnRenamed("__v", "qv")), "qid")
        .join(vecs.withColumnRenamed("__vid", "cid").withColumnRenamed("__v", "cv"), "cid")
        .select("qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    final_rows = (
        rescored.withColumn("rn", F.row_number().over(w2).cast("long"))
        .filter(F.col("rn") <= k)
        .select(F.lit("final").alias("tag"), "qid", "cid", F.col("cos").alias("score"), "rn")
    )
    return coarse_rows.unionAll(final_rows)


# --------------------------------------------------------------------------
# Persistent IVF index: build once, search many times
# --------------------------------------------------------------------------
def _train_slice(
    corpus: DataFrame, id_col: str, fraction: float | None, tag: str
) -> DataFrame:
    """Deterministic hash-sample for trainer input: keep rows whose
    xxhash64(tag, id) lands in the lowest ``fraction`` of the hash space.
    A pure function of the id set (same slice every build — no rand()),
    so sampled training stays reproducible. Lloyd's cost is linear in its
    input, so training on a 1-5% slice cuts index-build time ~20-100×
    while the assignment/encode passes still cover the FULL corpus —
    the standard IVF recipe (Jégou et al. 2011 train quantizers on a
    learning subset, not the indexed set). Measured in BENCHNOTES.md:
    at 200k vectors×K=128, full-corpus training was ~60-67% of index-build
    wall-clock; a 5% slice cut builds 2.5-3×."""
    if fraction is None or fraction >= 1.0:
        return corpus
    if fraction <= 0.0:
        raise ValueError(f"train_fraction must be in (0, 1], got {fraction}")
    h = F.xxhash64(F.concat(F.lit(tag), F.col(id_col).cast("string")))
    u = (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5)
    return corpus.filter(u < F.lit(float(fraction)))


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iters: int = 2,
    train_fraction: "float | str | None" = "auto",
    assign: str = "auto",
) -> None:
    """Materialize an IVF index on storage: ``{path}/centroids`` (the K-row
    (cell, cvec, cnorm) table) and ``{path}/assignments`` (corpus vectors
    parquet-PARTITIONED BY their cell).

    ``train_fraction="auto"`` (default) caps quantizer training at
    ``_SEMDEDUP_TRAIN_CAP`` rows — full-corpus training below the cap
    (every existing small-corpus build is byte-unchanged), a
    deterministic hash-slice above it (full-corpus Lloyd was measured at
    60-67%% of build wall-clock at 200k vectors, BENCHNOTES r7; the
    learning-subset recipe every production IVF uses). ``None``/1.0
    forces full-corpus training; a float picks the slice explicitly.

    ``assign='auto'`` (default) resolves training and full-corpus
    assignment independently by their scoring-cell counts
    (``_resolve_auto``): the expression forms below the crossover (the
    witness shapes), the float-associative 'gemm' forms above it
    (cells differ from the fold only on last-ulp score ties) — a
    production-size build gets the measured-32× faster path without
    knowing the knob (VERDICT r7 task 1). ``assign='carrier'`` or
    ``'gemm'`` forces one form for both passes.

    At 100 TB this is the operating mode ``ivf_topk`` only simulates:
    centroid training and corpus assignment run ONCE (one id-keyed shuffle
    plus one cell-partitioned write), and every subsequent query touches
    only its probed cells — the cell partitioning turns the candidate
    equi-join into a Dynamic Partition Pruning scan, so a 4-of-1024-cell
    probe reads ~0.4% of the corpus bytes off storage. Rebuilds are
    explicit (re-run after enough drift), exactly like any ANN index.

    ``train_fraction``: train the coarse quantizer on a deterministic
    hash-sample of the corpus (see ``_train_slice``); assignment still
    covers every row. Raises if the slice seeds fewer than n_cells cells.
    """
    # Fail-fast BEFORE any training job (same contract as ivfpq_topk's r9
    # early check): a typo'd assign used to coerce into 'literal' training
    # and only surface as _assign_fn's error after the Lloyd loop ran.
    if assign not in ("auto", "carrier", "gemm"):
        raise ValueError(
            f"assign must be 'auto', 'carrier' or 'gemm', got {assign!r}"
        )
    n_corpus = None
    if train_fraction == "auto" or assign == "auto":
        n_corpus = corpus.count()
    auto_fraction = train_fraction == "auto"
    if auto_fraction:
        # Scale the auto cap with n_cells: a fixed 50k slice can never
        # seed n_cells > 50k, and even n_cells=4096 has ~2% expected
        # empty hash strata — large-quantizer builds that succeeded with
        # full-corpus training must not start failing because a default
        # they never set capped the slice (ADVICE r8).
        cap = max(_SEMDEDUP_TRAIN_CAP, _TRAIN_CAP_PER_CELL * n_cells)
        train_fraction = min(1.0, cap / max(1, n_corpus))
        if train_fraction >= 1.0:
            train_fraction = None  # below the cap: full-corpus training
    train = _train_slice(corpus, id_col, train_fraction, "ivf-train:")
    n_train = None
    if train_fraction is not None:
        n_train = train.count()
        if n_train < n_cells and not auto_fraction:
            raise ValueError(
                f"training slice has fewer than n_cells={n_cells} rows"
                f" — raise train_fraction (got {train_fraction})"
            )
    if assign == "auto":
        if n_train is None:
            n_train = n_corpus
        # Above the crossover 'auto' picks 'gemm' (r9): a build is a
        # one-off production job at BLAS rates. Small builds keep the
        # expression forms (byte-stable with every prior round).
        train_assign = _resolve_auto(
            "auto", n_train * n_cells * max(1, n_iters), "literal", "gemm"
        )
        corpus_assign = _resolve_auto(
            "auto", n_corpus * n_cells, "carrier", "gemm"
        )
    else:
        train_assign = "gemm" if assign == "gemm" else "literal"
        corpus_assign = assign
    centroids = ivf_centroids(
        train, id_col, vec_col, n_cells, n_iters,
        assign=train_assign, n_rows=n_train,
    )
    if len(centroids) < n_cells:
        if train_fraction is not None and not auto_fraction:
            raise ValueError(
                f"training slice seeded only {len(centroids)} of {n_cells}"
                f" cells — raise train_fraction (got {train_fraction})"
            )
        # Full-corpus training (or an auto-derived slice the caller never
        # asked for, ADVICE r8): fewer occupied hash strata than n_cells
        # just means fewer distinct vectors than the requested quantizer —
        # the reduced-cell index is valid (the search paths handle
        # K' < K), so build it and say so (ADVICE r7).
        import warnings

        warnings.warn(
            f"corpus seeded only {len(centroids)} of n_cells={n_cells}"
            " cells; building the reduced-cell index"
        )
    spark = corpus.sparkSession
    _centroid_table(spark, centroids).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    cells = _assign_fn(corpus_assign)(corpus, centroids, id_col, vec_col)
    (
        corpus.select(id_col, vec_col)
        .join(cells, id_col)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        # Rebuilds must replace the WHOLE assignments table: under a
        # session-wide partitionOverwriteMode=dynamic, cells absent from
        # the new build would otherwise survive and serve stale vectors.
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell")
        .parquet(f"{path}/assignments")
    )
    _write_buildmeta(spark, path, "assignments")


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k search against a persisted IVF index (``build_ivf_index``):
    (qid, cid, cosine, rn) — same output contract as ``ivf_topk``, and
    bit-identical to its 'join' form on the same corpus (the index stores
    the same centroids and assignments; pinned in tests/test_ivf_index.py).

    ``exclude_self=True`` (default, the self-search contract all the
    in-memory forms share) drops candidates with ``cid == qid`` — which
    assumes query and corpus ids share a NAMESPACE. For external queries
    whose ids are unrelated to the indexed ids, pass
    ``exclude_self=False`` or a numerically colliding external query id
    would silently lose its best neighbor (VERDICT r7).

    Plan shape: the query side ranks probe cells against the broadcast
    K-row centroid table; the candidate join is an equi-join on the
    partition column of the assignments table, so Dynamic Partition
    Pruning restricts the scan to probed cells before exact-cosine
    re-ranking. Nothing about the corpus is recomputed at query time.
    """
    from pyspark.sql import Window

    cdf = spark.read.parquet(f"{path}/centroids")
    assignments = spark.read.parquet(f"{path}/assignments")
    qscore = dot(F.col("qv"), F.col("cvec")) / (l2_norm(F.col("qv")) * F.col("cnorm"))
    pw = Window.partitionBy("qid").orderBy(F.col("__s").desc(), F.col("cell").asc())
    probes = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .crossJoin(broadcast(cdf))
        .select("qid", "qv", "cell", qscore.alias("__s"))
        .withColumn("__rn", F.row_number().over(pw))
        .filter(F.col("__rn") <= n_probe)
        .select("qid", "qv", "cell")
    )
    cand = assignments.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), "cell"
    )
    rw = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    joined = cand.join(broadcast(probes), "cell")
    if exclude_self:
        joined = joined.filter(F.col("qid") != F.col("cid"))
    return (
        joined
        .select("qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cosine"))
        .withColumn("rn", F.row_number().over(rw).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine", "rn")
    )


def ivf_index_upsert(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_report: bool = False,
):
    """Add a batch of vectors to a persisted IVF index without touching the
    existing corpus: assign each new vector against the STORED centroids
    (centroids do not retrain on upsert, as in any ANN index; rebuild
    explicitly after enough drift) and append to the cell partitions.
    Work is batch-proportional: only the new rows are scored and written;
    existing assignment files keep their exact bytes. The caller owns key
    uniqueness (ids already in the index are NOT replaced — this is an
    append, mirroring vector-database add()).

    Assignment uses the carrier form (``ivf_assign_carrier``): map-side
    argmax over the stored centroids, no K× row amplification and no
    shuffle per batch; scores and the highest-score-lowest-cell tie-break
    match the previous max_by-join form bit for bit (the K stored rows
    collect to the driver once per upsert — K is the quantizer size,
    never corpus-sized).

    Returns the (id, cell) assignment of the batch (small; also useful for
    routing audits). With ``drift_report=True`` returns
    ``(cells, report)`` where report is ``ivf_index_drift``'s post-upsert
    summary — the rebuild signal reaches the caller in the same call
    instead of requiring a separate audit pass (VERDICT r8 task 6; the
    report's occupancy aggregation reads only the index's partition
    column).
    """
    stored = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    centroids = [list(r["cvec"]) for r in stored]
    cells = ivf_assign_carrier(
        new_vectors, centroids, id_col=id_col, vec_col=vec_col
    )
    (
        new_vectors.select(id_col, vec_col)
        .join(cells, id_col)
        .repartition(F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/assignments")
    )
    if drift_report:
        return cells, ivf_index_drift(spark, path)
    return cells


# --------------------------------------------------------------------------
# Persistent IVFADC index — build_ivf_index's layout with the PQ code
# relation instead of float vectors: the index stores (id, 16 code ids,
# reconstructed norm) cell-partitioned on parquet, ~dim·4/m smaller than
# the float assignments (32× at m=16 over 64-dim float64). Queries DPP-
# prune to probed cells and ADC-score the codes; the optional exact
# rescore reads the float vectors from the CALLER's corpus table (the
# index itself never stores floats — that is the point of PQ).
# --------------------------------------------------------------------------
def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iters: int = 2,
    dim: int = 64,
    m: int = 16,
    n_codes: int = 16,
    pq_iters: int = 2,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    train_fraction: "float | str | None" = "auto",
    assign: str = "auto",
    encode: str = "auto",
) -> None:
    """Materialize an IVFADC index: ``{path}/centroids`` (K-row coarse
    quantizer), ``{path}/books`` (the 1-row PQ codebook relation of
    ``pq_books_df``), and ``{path}/codes`` — (id, pq_codes, pq_norm)
    parquet-PARTITIONED BY cell. Training, assignment, and encoding run
    ONCE; doubles roundtrip parquet exactly, so indexed search is
    bit-identical to the in-memory ``ivfpq_topk`` on the same trained
    parameters (pinned in tests/test_ivfpq_index.py). Rebuilds are
    explicit, like ``build_ivf_index``.

    ``train_fraction``: train BOTH quantizers on a deterministic
    hash-sample (see ``_train_slice``); assignment and encoding still
    cover every row. ``"auto"`` (default) caps training at
    ``_SEMDEDUP_TRAIN_CAP`` rows — full corpus below the cap, so small
    builds are byte-unchanged. Ignored for a quantizer whose trained
    parameters are passed in explicitly.

    ``assign='auto'`` / ``encode='auto'`` (defaults) resolve training,
    full-corpus assignment, and full-corpus encoding independently by
    scoring-cell count (``_resolve_auto``): witness-shaped expression
    forms below the crossover, the float-associative 'gemm' forms above
    it. An explicit value forces one form for training and the corpus
    pass alike."""
    # Fail-fast BEFORE the (much longer) two-quantizer training — the same
    # early-validation contract as ivfpq_topk and build_ivf_index.
    if assign not in ("auto", "carrier", "gemm"):
        raise ValueError(
            f"assign must be 'auto', 'carrier' or 'gemm', got {assign!r}"
        )
    if encode not in ("auto", "join", "gemm"):
        raise ValueError(
            f"encode must be 'auto', 'join' or 'gemm', got {encode!r}"
        )
    spark = corpus.sparkSession
    n_corpus = None
    if train_fraction == "auto" or assign == "auto" or encode == "auto":
        n_corpus = corpus.count()
    auto_fraction = train_fraction == "auto"
    if auto_fraction:
        # Auto cap scales with the quantizer sizes (same rationale as
        # build_ivf_index, ADVICE r8): a fixed slice can never seed more
        # cells/codes than its row count.
        cap = max(
            _SEMDEDUP_TRAIN_CAP, _TRAIN_CAP_PER_CELL * max(n_cells, n_codes)
        )
        train_fraction = min(1.0, cap / max(1, n_corpus))
        if train_fraction >= 1.0:
            train_fraction = None  # below the cap: full-corpus training
    train = _train_slice(corpus, id_col, train_fraction, "ivfpq-train:")
    n_train = None
    if (
        train_fraction is not None
        and (centroids is None or codebooks is None)
    ):
        n_train = train.count()
        if n_train < max(n_cells, n_codes) and not auto_fraction:
            raise ValueError(
                f"training slice has fewer than max(n_cells={n_cells},"
                f" n_codes={n_codes}) rows — raise train_fraction"
                f" (got {train_fraction})"
            )
    if (assign == "auto" or encode == "auto") and n_train is None:
        n_train = n_corpus
    if assign == "auto":
        # Same r9 policy as build_ivf_index: 'gemm' above the crossover.
        train_assign = _resolve_auto(
            "auto", n_train * n_cells * max(1, n_iters), "literal", "gemm"
        )
        corpus_assign = _resolve_auto(
            "auto", n_corpus * n_cells, "carrier", "gemm"
        )
    else:
        train_assign = "gemm" if assign == "gemm" else "literal"
        corpus_assign = assign
    if encode == "auto":
        book_assign = _resolve_auto(
            "auto", n_train * n_codes * max(1, pq_iters), "expr", "gemm"
        )
        corpus_encode = _resolve_auto(
            "auto", n_corpus * n_codes, "join", "gemm"
        )
    else:
        book_assign = "gemm" if encode == "gemm" else "expr"
        corpus_encode = encode
    if centroids is None:
        centroids = ivf_centroids(
            train, id_col, vec_col, n_cells, n_iters,
            assign=train_assign, n_rows=n_train,
        )
        if len(centroids) < n_cells:
            if train_fraction is not None and not auto_fraction:
                raise ValueError(
                    f"training slice seeded only {len(centroids)} of"
                    f" {n_cells} cells — raise train_fraction"
                    f" (got {train_fraction})"
                )
            # Full-corpus training: the reduced-cell index is valid
            # (search handles K' < K) — warn and build (ADVICE r7).
            import warnings

            warnings.warn(
                f"corpus seeded only {len(centroids)} of n_cells={n_cells}"
                " cells; building the reduced-cell index"
            )
    if codebooks is None:
        codebooks = pq_codebooks(
            train, id_col, vec_col, dim=dim, m=m, n_codes=n_codes,
            n_iters=pq_iters, assign=book_assign, n_rows=n_train,
        )
        if len(codebooks[0]) < n_codes:
            if train_fraction is not None and not auto_fraction:
                raise ValueError(
                    f"training slice seeded only {len(codebooks[0])} of"
                    f" {n_codes} codes — raise train_fraction"
                    f" (got {train_fraction})"
                )
            # Reduced-code codebooks are valid (codes index whatever
            # entries exist; the LUT builders size from the books) —
            # same reduced-quantizer policy as the cell path.
            import warnings

            warnings.warn(
                f"training seeded only {len(codebooks[0])} of"
                f" n_codes={n_codes} codes; building the reduced-code index"
            )
    _centroid_table(spark, centroids).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    bdf = pq_books_df(spark, codebooks)
    bdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/books")
    cells = _assign_fn(corpus_assign)(corpus, centroids, id_col, vec_col)
    if corpus_encode == "gemm":
        enc = pq_encode_vectorized(
            corpus.select(id_col, vec_col), codebooks, id_col=id_col,
            vec_col=vec_col,
        )
    else:
        enc = pq_encode_join(
            corpus.select(id_col, vec_col), codebooks, vec_col=vec_col, books=bdf
        ).select(id_col, "pq_codes", "pq_norm")
    (
        enc.join(cells, id_col)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        # Static overwrite for the same reason as build_ivf_index: a
        # rebuild must replace ALL cells, not just those it repopulates.
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    _write_buildmeta(spark, path, "codes")


def _load_books(spark, path: str):
    """Read back ``{path}/books``: (books_df, codebooks_as_lists, m, dsub).
    The 1-row collect is driver-cheap (m·n_codes·dsub doubles) and gives
    the Python ints the LUT/encode expression builders need."""
    bdf = spark.read.parquet(f"{path}/books")
    row = bdf.first()
    books = [[list(c) for c in book] for book in row["bk"]]
    return bdf, books, len(books), len(books[0][0])


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    refine: int = 4,
    corpus: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k against a persisted IVFADC index (``build_ivfpq_index``).

    ``exclude_self``: as in ``ivf_topk_indexed`` — the default drops
    ``cid == qid`` candidates (the self-search contract), which assumes
    query and corpus ids share a namespace; external queries with
    unrelated ids should pass ``exclude_self=False``.

    With ``corpus`` given: (qid, cid, cosine, rn) — exact float rescore of
    the k·refine coarse survivors through the shared ``_pq_float_rescore``
    tail, bit-identical to ``ivfpq_topk`` on the same trained parameters.
    With ``corpus=None``: (qid, cid, adc, rn) — the ADC approximation is
    the final score (honestly named ``adc``, not ``cosine``), and NO float
    vector is touched anywhere: the query reads codes only, which is the
    pure-index serving mode for when the float corpus is cold storage.

    Plan shape: probe ranking against the broadcast K-row centroid table;
    the candidate pass equi-joins the broadcast (qid, lut, qn, cell) probe
    relation against the codes table ON ITS PARTITION COLUMN, so Dynamic
    Partition Pruning restricts the scan to probed cells' files
    (plan-asserted in tests/test_ivfpq_index.py) — n_probe/n_cells of an
    already m-byte-per-vector relation read off storage per query batch.
    """
    from pyspark.sql import Window

    cdf = spark.read.parquet(f"{path}/centroids")
    bdf, _books, mm, dsub = _load_books(spark, path)
    index = spark.read.parquet(f"{path}/codes")
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    q_lut = q.crossJoin(broadcast(bdf)).select(
        "qid",
        "qv",
        _pq_lut_from_books(F.col("qv"), F.col("bk"), mm, dsub).alias("lut"),
        l2_norm(F.col("qv")).alias("qn"),
    )
    qscore = dot(F.col("qv"), F.col("cvec")) / (l2_norm(F.col("qv")) * F.col("cnorm"))
    pw = Window.partitionBy("qid").orderBy(F.col("__s").desc(), F.col("cell").asc())
    probes = (
        q.crossJoin(broadcast(cdf))
        .select("qid", "cell", qscore.alias("__s"))
        .withColumn("__rn", F.row_number().over(pw))
        .filter(F.col("__rn") <= n_probe)
        .select("qid", "cell")
    )
    qp = q_lut.join(probes, "qid").select("qid", "lut", "qn", "cell")
    w = Window.partitionBy("qid").orderBy(F.col("coarse").desc(), F.col("cid"))
    cand = index.select(
        F.col(id_col).alias("cid"), "pq_codes", "pq_norm", "cell"
    ).join(broadcast(qp), "cell")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("cid"))
    cand = cand.select(
        "qid", "cid", _adc_coarse_col().alias("coarse")
    ).withColumn("crn", F.row_number().over(w))
    if corpus is None:
        return cand.filter(F.col("crn") <= k).select(
            "qid", "cid", F.col("coarse").alias("adc"), F.col("crn").cast("long").alias("rn")
        )
    cand_ids = cand.filter(F.col("crn") <= k * refine).select("qid", "cid")
    return _pq_float_rescore(corpus, cand_ids, q_lut, id_col, vec_col, k)


def _write_buildmeta(spark, path: str, rel: str) -> None:
    """Record build-time per-cell occupancy next to the index (one cheap
    aggregation over the just-written cell-partitioned relation): the
    baseline ``ivf_index_drift`` measures upsert drift against."""
    (
        spark.read.parquet(f"{path}/{rel}")
        .groupBy("cell")
        .count()
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/buildmeta")
    )


def ivf_index_drift(
    spark,
    path: str,
    skew_threshold: float = 4.0,
    upsert_threshold: float = 0.2,
) -> dict:
    """Drift report for a persisted IVF (``build_ivf_index``) or IVFADC
    (``build_ivfpq_index``) index — the rebuild trigger upserts need.

    Upserts assign against FROZEN quantizers (``ivf_index_upsert`` /
    ``ivfpq_index_upsert``): correct by construction, but as the data
    distribution drifts away from the training set, new vectors crowd
    into whichever cells' centroids happen to point their way. That
    degrades BOTH serving recall (a query's n_probe closest centroids no
    longer bracket its true neighbors — measured in
    tests/test_ivfpq_index.py's drift drill, where a rebuilt index
    recovers the recall the frozen-quantizer upserts lost) and scan
    efficiency (DPP reads of a hot cell approach a full scan). Two
    observables, one cheap aggregation over the index's partition column
    each (plus the build-time occupancy the build recorded in
    ``{path}/buildmeta``):

    * ``skew`` — max over mean cell population. Lloyd-balanced builds
      sit near 1-2; a drifted index grows a hot cell. Note skew is
      bounded above by n_cells, so the default threshold assumes a
      production-sized quantizer (K ≫ 4).
    * ``upsert_fraction`` — rows added since build over rows at build.
      Frozen quantizers are only as good as their training snapshot;
      past ~20% new data a retrain is due regardless of how the new
      rows happened to scatter.

    ``rebuild_recommended`` trips on EITHER. Rebuilds stay explicit
    (like any ANN index) — this report is the documented operating rule,
    not an automatic retrain. Indexes built before buildmeta existed
    report ``upsert_fraction=None`` and fall back to skew-only.
    """
    rel = "assignments"
    try:
        idx = spark.read.parquet(f"{path}/{rel}")
    except Exception:  # IVFADC layout stores codes, not float assignments
        rel = "codes"
        idx = spark.read.parquet(f"{path}/{rel}")
    occ = idx.groupBy("cell").count().collect()
    n_trained = spark.read.parquet(f"{path}/centroids").count()
    counts = [r["count"] for r in occ]
    n_rows = int(sum(counts))
    mean = n_rows / n_trained if n_trained else 0.0
    mx = max(counts) if counts else 0
    skew = (mx / mean) if mean else 0.0
    upsert_fraction = None
    try:
        built = spark.read.parquet(f"{path}/buildmeta").collect()
        n_built = int(sum(r["count"] for r in built))
        if n_built:
            upsert_fraction = round((n_rows - n_built) / n_built, 4)
    except Exception:
        pass  # pre-buildmeta index: skew-only report
    return {
        "layout": "ivf" if rel == "assignments" else "ivfadc",
        "n_cells_trained": int(n_trained),
        "n_cells_occupied": len(counts),
        "n_rows": n_rows,
        "max_occupancy": int(mx),
        "mean_occupancy": round(mean, 2),
        "skew": round(skew, 3),
        "upsert_fraction": upsert_fraction,
        "rebuild_recommended": bool(
            skew > skew_threshold
            or (upsert_fraction is not None and upsert_fraction > upsert_threshold)
        ),
    }


def rebuild_if_drifted(
    spark,
    path: str,
    corpus: "DataFrame | None" = None,
    dest_path: "str | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skew_threshold: float = 4.0,
    upsert_threshold: float = 0.2,
    n_cells: "int | None" = None,
    train_fraction: "float | str | None" = "auto",
    assign: str = "auto",
    encode: str = "auto",
) -> dict:
    """The serving-side maintenance loop as ONE call (VERDICT r9 task 6):
    run ``ivf_index_drift`` and, when it recommends a rebuild, retrain
    with the same train-cap policy as the original build (``build_*`` at
    its defaults — capped deterministic hash-slice training, auto
    strategy knobs) and re-report.

    * ``corpus``: rows to rebuild from. For an IVF index this defaults to
      the index's OWN stored ``assignments`` (they carry the float
      vectors, so the loop needs no external input); an IVFADC index
      stores only PQ codes, so ``corpus`` is required there.
    * ``dest_path``: where the rebuilt index lands. Default (None)
      rebuilds IN PLACE through a sibling staging directory + two
      renames — the self-read-while-overwrite hazard of building straight
      onto the files being read never arises, and readers see either the
      old or the new index, never a mix of generations. The two renames
      are driver-local ``os.rename`` (LOCAL paths only — remote URIs are
      rejected up front, before the retrain; object-store deployments
      pass an explicit ``dest_path`` and swap serving pointers
      themselves), so there is a sub-millisecond window where ``path``
      does not exist; a crash inside it leaves ``<path>.rebuild-old``,
      which the next call restores automatically before re-evaluating
      drift.
    * ``n_cells``: defaults to the index's trained cell count; pass a new
      K to resize while rebuilding. IVFADC geometry (m, n_codes, dim) is
      read from the stored books.

    Returns ``{"rebuilt": bool, "drift": <pre-report>}`` plus, after a
    rebuild, ``"post"`` (the fresh index's report — upsert_fraction back
    to 0.0) and ``"path"``. Extends tests/test_ivfpq_index.py's drift
    drill: upserts past the threshold trigger exactly one rebuild, recall
    on drift-region queries is restored, and a second call is a no-op.
    """
    if dest_path is None:
        # The in-place swap is driver-local os.rename — it cannot operate
        # on a remote URI, and discovering that AFTER the staged retrain
        # completed would orphan the staging dir. Validate up front.
        # `file:` URIs name the local filesystem but os.path.exists /
        # os.rename cannot resolve them either (ADVICE r10: the exemption
        # alone just deferred the failure past the retrain) — normalize
        # them to the plain local path they name; everything else remote
        # is rejected here, before any work.
        if path.startswith("file:"):
            from urllib.parse import unquote, urlparse

            u = urlparse(path)
            if u.netloc not in ("", "localhost") or not u.path:
                raise ValueError(
                    "in-place rebuild (dest_path=None) renames through "
                    "the local filesystem — cannot resolve non-local "
                    f"file: URI {path!r}; pass an explicit dest_path"
                )
            path = unquote(u.path)
        elif "://" in path:
            raise ValueError(
                "in-place rebuild (dest_path=None) renames through the "
                "local filesystem — pass an explicit dest_path for "
                f"remote index URIs (got {path!r})"
            )
        # Self-heal a crash between the two renames of a prior rebuild
        # (old moved aside, staging not yet promoted): restore the old
        # index so serving resumes, then re-evaluate drift normally.
        old = path + ".rebuild-old"
        if not os.path.exists(path) and os.path.isdir(old):
            os.rename(old, path)
    report = ivf_index_drift(spark, path, skew_threshold, upsert_threshold)
    if not report["rebuild_recommended"]:
        return {"rebuilt": False, "drift": report}
    layout = report["layout"]
    if n_cells is None:
        n_cells = int(report["n_cells_trained"])
    if corpus is None:
        if layout != "ivf":
            raise ValueError(
                "IVFADC indexes store PQ codes, not float vectors — pass "
                "corpus= to rebuild_if_drifted"
            )
        corpus = spark.read.parquet(f"{path}/assignments").select(
            id_col, vec_col
        )
    build_at = dest_path if dest_path is not None else path + ".rebuild-staging"
    if layout == "ivf":
        build_ivf_index(
            corpus, build_at, id_col, vec_col, n_cells=n_cells,
            train_fraction=train_fraction, assign=assign,
        )
    else:
        bk = spark.read.parquet(f"{path}/books").collect()[0]["bk"]
        m, n_codes, dsub = len(bk), len(bk[0]), len(bk[0][0])
        build_ivfpq_index(
            corpus, build_at, id_col, vec_col, n_cells=n_cells,
            dim=m * dsub, m=m, n_codes=n_codes,
            train_fraction=train_fraction, assign=assign, encode=encode,
        )
    if dest_path is None:
        # In-place swap: old index aside, staging in, old removed. A crash
        # between the renames leaves `<path>.rebuild-old` for manual
        # recovery instead of a half-written serving directory.
        import shutil

        old = path + ".rebuild-old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(build_at, path)
        shutil.rmtree(old, ignore_errors=True)
        final = path
    else:
        final = dest_path
    post = ivf_index_drift(spark, final, skew_threshold, upsert_threshold)
    return {"rebuilt": True, "drift": report, "post": post, "path": final}


def ivfpq_index_upsert(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_report: bool = False,
):
    """Append a batch to a persisted IVFADC index: assign against the
    STORED centroids, encode against the STORED codebooks (neither
    retrains — rebuild explicitly after drift, as with any ANN index),
    and append to the cell partitions of the codes table. Work and bytes
    written are batch-proportional; existing files keep their exact
    bytes. The caller owns key uniqueness (append, not replace). Returns
    the (id, cell) assignment of the batch.

    Assignment uses the carrier form (``ivf_assign_carrier``) over the
    stored centroids — map-side argmax, no K× row amplification, no
    shuffle per batch. Scores and the highest-score-lowest-cell tie-break
    are identical to the previous max_by-join form; the K stored rows
    collect to the driver once per upsert (K is the coarse-quantizer
    size, never corpus-sized)."""
    stored = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    centroids = [list(r["cvec"]) for r in stored]
    bdf, books, _mm, _dsub = _load_books(spark, path)
    cells = ivf_assign_carrier(
        new_vectors, centroids, id_col=id_col, vec_col=vec_col
    )
    enc = pq_encode_join(
        new_vectors.select(id_col, vec_col), books, vec_col=vec_col, books=bdf
    ).select(id_col, "pq_codes", "pq_norm")
    (
        enc.join(cells, id_col)
        .repartition(F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    if drift_report:
        # Same contract as ivf_index_upsert: the post-upsert drift
        # summary rides back with the batch assignment (VERDICT r8
        # task 6).
        return cells, ivf_index_drift(spark, path)
    return cells
