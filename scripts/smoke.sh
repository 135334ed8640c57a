#!/usr/bin/env bash
# Smoke gate: the `-m "not slow"` suite split into three balanced shards
# run in PARALLEL (pytest-xdist is not available in this environment;
# three pytest processes with their own local[4] Spark sessions are).
# Shard 1 carries the oracle differential + the XLSX source/sink surface;
# shard 2 the ANN/similarity family (the heaviest operator suites);
# shard 3 the rest of the operator library. Fails if any shard fails.
# Serial fallback: `python -m pytest tests/ -q`, which runs the same
# fast tier (pytest.ini deselects @slow): 764 passed, 3 skipped in about
# 15 min on 4 cores. Slow tier included: add `-m ""`.
set -u
cd "$(dirname "$0")/.."

SHARD1=(tests/test_queries_oracle.py tests/test_xlsx_*.py)
SHARD2=(tests/test_similarity.py tests/test_pq.py
        tests/test_ivf_index.py tests/test_ivfpq_index.py
        tests/test_semantic_dedup.py tests/test_gemm_score.py
        tests/test_auto_select.py)

IGNORES=()
for f in "${SHARD1[@]}" "${SHARD2[@]}"; do IGNORES+=("--ignore=$f"); done

python -m pytest -q -m "not slow" "${SHARD1[@]}" >/tmp/smoke_shard1.log 2>&1 &
PID1=$!
python -m pytest -q -m "not slow" "${SHARD2[@]}" >/tmp/smoke_shard2.log 2>&1 &
PID2=$!
python -m pytest -q -m "not slow" tests/ "${IGNORES[@]}" >/tmp/smoke_shard3.log 2>&1 &
PID3=$!

FAIL=0
wait "$PID1" || FAIL=1
wait "$PID2" || FAIL=1
wait "$PID3" || FAIL=1
tail -2 /tmp/smoke_shard1.log
tail -2 /tmp/smoke_shard2.log
tail -2 /tmp/smoke_shard3.log
if [ "$FAIL" -ne 0 ]; then
  echo "SMOKE FAILED — see /tmp/smoke_shard{1,2,3}.log"
  exit 1
fi
echo "SMOKE OK"
