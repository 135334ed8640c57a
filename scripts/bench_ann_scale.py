#!/usr/bin/env python3
"""ANN serving scale witness: brute force vs persisted IVF vs persisted
IVFADC on a replicated embeddings corpus.

The unit suites pin correctness at 500-2000 vectors; this measures the
thing the index designs exist FOR — query-batch serving cost as the
corpus grows past what a full scan enjoys — plus the storage story
(codes bytes vs float bytes). The corpus is the sf0.1 embeddings table
replicated N times with per-replica key offsets and a deterministic
per-replica coordinate perturbation (same recipe as make_scaled_sf.py:
near-duplicate structure, no exact collisions).

Methodology mirrors bench.py: untimed warmup, min of PASSES timed runs,
noop sink. Build times are single-shot (a build is a one-off job, its
first-run cost IS the number). Prints ONE JSON line; numbers land in
BENCHNOTES.md.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SRC = os.environ.get("ANN_SRC", "/root/testdata/sf0.1/embeddings.parquet")
WORK = os.environ.get("ANN_WORK", "/tmp/sheetreader_ann_scale")
REPLICAS = int(os.environ.get("ANN_REPLICAS", "100"))  # 2k -> 200k vectors
N_QUERIES = int(os.environ.get("ANN_QUERIES", "100"))
K = 5
N_CELLS = int(os.environ.get("ANN_CELLS", "128"))
N_PROBE = int(os.environ.get("ANN_PROBE", "8"))
PASSES = int(os.environ.get("ANN_PASSES", "2"))
# Optional sampled training (build-time lever): e.g. 0.05 trains the
# quantizers on a 5% hash-slice while indexing every row.
TRAIN_FRACTION = (
    float(os.environ["ANN_TRAIN_FRACTION"])
    if os.environ.get("ANN_TRAIN_FRACTION")
    else None
)
# 'carrier' (expression form), 'gemm' (Arrow BLAS form), or 'auto'
# (r8 production defaults: size-resolved strategies + capped training —
# build_* called with NO knobs beyond n_cells).
ASSIGN = os.environ.get("ANN_ASSIGN", "carrier")


def build_corpus() -> str:
    """Replicate SRC REPLICAS times in DuckDB: key offset 10^10 per replica,
    +r*1e-3 on one vec_id-picked coordinate so replicas are near, not
    exact, duplicates."""
    import duckdb

    out = os.path.join(WORK, f"corpus_{REPLICAS}x.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(WORK, exist_ok=True)
    duckdb.sql(
        f"""
        COPY (
          SELECT vec_id + r * 10000000000 AS vec_id,
                 list_transform(
                   embedding,
                   (x, i) -> CASE WHEN i - 1 = vec_id % len(embedding)
                             THEN x + r * 0.001 ELSE x END
                 )::FLOAT[] AS embedding
          FROM read_parquet('{SRC}'), range({REPLICAS}) t(r)
        ) TO '{out}' (FORMAT PARQUET)
        """
    )
    return out


def timed(fn) -> float:
    fn()  # warmup
    best = float("inf")
    for _ in range(PASSES):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )


def main() -> int:
    from pyspark.sql import functions as F

    from sheetreader_duckdb_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_blocked,
        build_ivf_index,
        build_ivfpq_index,
        ivf_topk_indexed,
        ivfpq_topk_indexed,
    )
    from sheetreader_duckdb_spark.session import get_spark

    spark = get_spark("bench-ann-scale")
    corpus_path = build_corpus()
    corpus = spark.read.parquet(corpus_path)
    n = corpus.count()
    # Query batch drawn from replica 0 (original vectors), driver-built so
    # serving runs never rescan the corpus parquet for the query side.
    q = spark.createDataFrame(
        [
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in corpus.filter(F.col("vec_id") < N_QUERIES).collect()
        ],
        "vec_id long, embedding array<double>",
    )

    tf_tag = f"_tf{TRAIN_FRACTION}" if TRAIN_FRACTION else ""
    tf_tag += f"_{ASSIGN}" if ASSIGN != "carrier" else ""
    ivf_path = os.path.join(WORK, f"ivf_{REPLICAS}x{tf_tag}")
    ivfpq_path = os.path.join(WORK, f"ivfpq_{REPLICAS}x{tf_tag}")
    t0 = time.perf_counter()
    if ASSIGN == "auto":
        # Pure production defaults: auto strategies + auto-capped training.
        build_ivf_index(corpus, ivf_path, n_cells=N_CELLS, n_iters=2)
    else:
        build_ivf_index(
            corpus, ivf_path, n_cells=N_CELLS, n_iters=2,
            train_fraction=TRAIN_FRACTION, assign=ASSIGN,
        )
    ivf_build = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    if ASSIGN == "auto":
        build_ivfpq_index(corpus, ivfpq_path, n_cells=N_CELLS, n_iters=2)
    else:
        build_ivfpq_index(
            corpus, ivfpq_path, n_cells=N_CELLS, n_iters=2,
            train_fraction=TRAIN_FRACTION, assign=ASSIGN,
            encode="gemm" if ASSIGN == "gemm" else "join",
        )
    ivfpq_build = round(time.perf_counter() - t0, 3)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    res = {
        "metric": "ann_serving_scale",
        "unit": "sec",
        "n_vectors": n,
        "n_queries": N_QUERIES,
        "k": K,
        "n_cells": N_CELLS,
        "n_probe": N_PROBE,
        "train_fraction": TRAIN_FRACTION,
        "assign": ASSIGN,
        "brute_force": timed(lambda: noop(brute_force_topk(corpus, q, k=K))),
        "brute_force_blocked": timed(
            lambda: noop(brute_force_topk_blocked(corpus, q, k=K))
        ),
        "ivf_indexed": timed(
            lambda: noop(ivf_topk_indexed(spark, ivf_path, q, k=K, n_probe=N_PROBE))
        ),
        "ivfpq_adc_only": timed(
            lambda: noop(
                ivfpq_topk_indexed(spark, ivfpq_path, q, k=K, n_probe=N_PROBE)
            )
        ),
        "ivfpq_rescored": timed(
            lambda: noop(
                ivfpq_topk_indexed(
                    spark, ivfpq_path, q, k=K, n_probe=N_PROBE, corpus=corpus
                )
            )
        ),
        "build": {"ivf": ivf_build, "ivfpq": ivfpq_build},
        "bytes": {
            "corpus_parquet": os.path.getsize(corpus_path),
            "ivf_assignments": dir_bytes(os.path.join(ivf_path, "assignments")),
            "ivfpq_codes": dir_bytes(os.path.join(ivfpq_path, "codes")),
        },
    }
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
