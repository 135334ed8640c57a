#!/usr/bin/env python3
"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line (kept deliberately COMPACT — the driver
captures only a 2000-char stdout tail, and round 4's enriched line
overflowed it, costing the round its machine-readable bench record):
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The rich payload — per-query {construct, exec} splits and the paired
prev-commit sentinel block — is written to a committed side file
``BENCH_DETAIL_r{N}.json`` instead (N = next round, inferred from the
latest "round N:" driver commit).

Self-interpreting across rounds (two mechanisms, so no reader has to
re-derive whether a cross-round delta is code, methodology, or the box):

* ``splits`` — every query reports ``{"construct": s, "exec": s}``
  separately: ``construct`` is the Python-side plan build (``fn()``,
  which for a few queries materializes real intermediate state via
  localCheckpoint), ``exec`` the noop-sink execution of the built plan.
  ``queries`` stays {name: construct+exec} for compatibility.
* ``prev_commit`` — in the SAME bench session, the previous round's
  archived commit (the last ``round N:`` driver commit) is checked out
  into a scratch git worktree and paired against HEAD at ENTRY
  granularity (r14, VERDICT r13 task 1): two persistent warm-Spark
  subprocess workers — one per tree — ping-pong single timed passes of
  each entry back-to-back, alternating which side goes first, for
  min-of-3 rounds. Until r13 the block ran the halves SEQUENTIALLY
  (full current set, then the prev set after spark.stop()), which let
  box thermal/background drift land entirely on the ratio — three
  consecutive rounds produced split-brained records the judge had to
  adjudicate as weather (r13: a uniform 1.437x driver block vs the
  builder's 0.952x on byte-identical relational code; this round's
  opening baseline reproduced it again, per-entry ratios 0.68-2.19x on
  IDENTICAL code). Interleaving makes every cross-round delta a paired
  measurement at second scale, immune to minute-scale drift. The block
  reports BOTH sides (``queries`` = prev minima, ``current`` = HEAD
  minima from the same interleaved session) so the ratio is computed
  from one instrument; the headline ``splits`` stays the in-process
  run, unchanged methodology.

The headline set covers the engine surface end-to-end:
  - xlsx_load_lineitem — sheetreader data-source scan of a 600k-row
    (at sf0.1) lineitem XLSX, the direct analog of BASELINE.md's
    "lineitem XLSX load time" rows (reference: ~13.6 s 1T / ~7.1 s 4T).
    The XLSX file itself is written once and cached in /tmp (write cost
    is prep, not measured).
  - TPC-H-style relational core (agg, join, window, top-k).
  - Training-data north stars (exact + MinHash dedup, ANN top-k,
    text quality, tumbling windows).

Each query runs against the `noop` sink so we measure plan execution,
not driver-side collect. One untimed warmup pass absorbs JVM/codegen
startup; timed values are per-phase minima over three passes (the box
runs periodic background work and a single pass can randomly inflate a
query 10x).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "s01_xlsx_roundtrip",
    "t06_forecast_revenue",
    "t18_large_orders",
    "t21_waiting_suppliers",
    "h08_agg_tpch_q1",
    "h08b_tpch_q3",
    "h08c_tpch_q5",
    "h03_joins",
    "h12_window_functions",
    "h12c_global_ntile",
    "h13_sort_topk",
    "h22_cte_subquery",
    "h02b_ctas_sink",
    "n01_dedup_exact_pipeline",
    "n01_cur_kept",
    "n02_dedup_minhash_lsh",
    "n05_ann_bruteforce_topk",
    "n06b_embedding_neardup_srp",
    "n07_text_signals",
    "n10_token_stats",
    "n13_tumbling_windows",
    "n17_tf_idf",
    "n19_asof_join",
]

# Paired against the previous round's commit in the same session. Since r10
# this is the FULL headline set plus the five standalone entries (pack,
# export, curate, both xlsx loads) — VERDICT r9 wrong #2: the 6-query
# sentinel block left regressions in the other 22 entries hidden inside box
# noise (the r9 64-vs-55 s scare cost a judge-hour to classify). The prev
# block costs one extra JVM + ~1-2 min; every cross-round delta is now a
# paired measurement.
SENTINELS = HEADLINE

# Standalone entries paired alongside the headline set (mirrors main()'s
# non-registry recipes exactly).
STANDALONE = [
    "pack_documents",
    "export_documents",
    "curate_corpus",
    "xlsx_load_lineitem",
    "xlsx_load_pruned",
]

# Persistent warm-worker body for the interleaved paired block: runs in
# EITHER tree (HEAD or the prev round's worktree) with that tree's package
# on sys.path; only stdlib + APIs the tree has had since round 7
# (plans.all_queries, branch fns, pipeline.curate_corpus, read_xlsx).
# Every section is guarded so a missing API in an older commit records an
# error string for that entry instead of killing the block. Protocol:
# warmup every requested entry once, print "READY <err-names>", then serve
# "RUN <name>" -> "RES <json>" until stdin closes.
_PAIR_WORKER = r'''
import json, sys, time
root, sf_dir, cpus = sys.argv[1], sys.argv[2], sys.argv[3]
names = json.loads(sys.argv[4])
sys.path.insert(0, root)
from pyspark.sql import SparkSession
builder = (SparkSession.builder.master("local[" + cpus + "]")
           .appName("sheetreader-bench-pair")
           .config("spark.sql.shuffle.partitions", cpus)
           .config("spark.driver.memory", "16g")
           .config("spark.ui.enabled", "false"))
try:  # the TREE under test supplies its static confs (absent in old trees)
    from sheetreader_duckdb_spark.session import static_builder_confs
except ImportError:
    static_builder_confs = dict
for _k, _v in static_builder_confs().items():
    builder = builder.config(_k, _v)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from sheetreader_duckdb_spark.session import configure_session
from sheetreader_duckdb_spark.plans import all_queries
configure_session(spark)
corpus = all_queries()
err = {}


class _B:
    def __init__(self, fn):
        self.fn = fn


try:  # branch overrides, mirroring main()
    from sheetreader_duckdb_spark.plans.tpch import TPCH_BRANCHES
    for t in ("t06_forecast_revenue", "t18_large_orders",
              "t21_waiting_suppliers"):
        corpus[t] = _B(TPCH_BRANCHES[t][0])
    from sheetreader_duckdb_spark.plans.northstar import (
        n01_cur_kept_branch, n01_dedup_core)
    corpus["n01_dedup_exact_pipeline"] = _B(n01_dedup_core)
    corpus["n01_cur_kept"] = _B(n01_cur_kept_branch)
except Exception as e:
    err["_branch_override"] = str(e)[:200]


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


# name -> (kind, zero-arg builder). Kinds: 'noop' = construct the frame,
# noop-sink it; 'call' = the call IS the operator (export's real write);
# 'noop_release' = noop + release_deferred (curate's deferred caches).
builders = {}
for n in names:
    if n in corpus:
        builders[n] = ("noop", (lambda n=n: corpus[n].fn(spark, sf_dir)))

# Per-builder guards (r14 review): one missing operator API in an older
# walk-back tree must not poison its sibling's entry — only the shared
# docs relation couples them.
try:  # the shared docs relation (mirror main())
    from sheetreader_duckdb_spark.plans.relational import T
    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
except Exception as e:
    docs = None
    err["pack_documents"] = err["export_documents"] = str(e)[:200]
if docs is not None:
    try:
        from sheetreader_duckdb_spark.operators.packing import pack_sequences
        builders["pack_documents"] = ("noop", lambda: pack_sequences(
            docs, "doc_id", "n_chars", seq_len=2048, n_buckets=8))
    except Exception as e:
        err["pack_documents"] = str(e)[:200]
    try:
        from sheetreader_duckdb_spark.operators.export import export_shards
        import os as _os
        exp_dir = "/tmp/sheetreader_bench_export_pair_%d" % _os.getpid()
        builders["export_documents"] = ("call", lambda: export_shards(
            docs, "doc_id", 8, exp_dir, seed="bench"))
    except Exception as e:
        err["export_documents"] = str(e)[:200]

try:  # the composed curation pipeline (mirror main())
    from pyspark.sql import functions as F
    from sheetreader_duckdb_spark.pipeline import curate_corpus
    from sheetreader_duckdb_spark.operators.sampling import hash_split
    emb = T(spark, sf_dir, "embeddings")

    def _curated():
        d = (T(spark, sf_dir, "documents")
             .withColumn("url", F.concat(F.lit("https://www."),
                                         F.col("source"), F.lit(".com/d/"),
                                         F.col("doc_id").cast("string")))
             .withColumn("split", hash_split(
                 "doc_id", [("corpus", 0.9), ("eval", 0.1)], seed="bench")))
        cs = d.filter(F.col("split") == "corpus").drop("split")
        ev = d.filter(F.col("split") == "eval").select("doc_id", "text")
        cur, _ = curate_corpus(
            cs, eval_df=ev, url_col="url", domain_cap=50, line_dedup=True,
            dupspan=True, pii=True, embeddings_df=emb, budget_tokens=50_000,
            seed="bench", collect_report=False)
        return cur

    builders["curate_corpus"] = ("noop_release", _curated)
except Exception as e:
    err["curate_corpus"] = str(e)[:200]

try:  # the cached xlsx fixture + registration (shared prep)
    from sheetreader_duckdb_spark.plans.ingestion import _xlsx_for_sf
    from sheetreader_duckdb_spark import register
    register(spark)
    xlsx_path = _xlsx_for_sf(sf_dir)
except Exception as e:
    xlsx_path = None
    err["xlsx_load_lineitem"] = err["xlsx_load_pruned"] = str(e)[:200]
if xlsx_path is not None:
    builders["xlsx_load_lineitem"] = ("noop", lambda: spark.read.format(
        "sheetreader").load(xlsx_path))
    try:
        from sheetreader_duckdb_spark import read_xlsx
        builders["xlsx_load_pruned"] = ("noop", lambda: read_xlsx(
            spark, xlsx_path, columns=["l_returnflag", "l_quantity"]))
    except Exception as e:
        err["xlsx_load_pruned"] = str(e)[:200]


def one_pass(name):
    kind, build = builders[name]
    if kind == "call":
        t0 = time.perf_counter()
        build()
        return {"construct": 0.0, "exec": time.perf_counter() - t0}
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    _noop(df)
    t2 = time.perf_counter()
    if kind == "noop_release":
        from sheetreader_duckdb_spark.session import release_deferred
        release_deferred()
    return {"construct": t1 - t0, "exec": t2 - t1}


for n in names:  # warmup pass, untimed (JVM, codegen, cached fixtures)
    if n in err:
        continue
    if n not in builders:
        err[n] = "entry not available in this tree"
        continue
    try:
        one_pass(n)
    except Exception as e:
        err[n] = (type(e).__name__ + ": " + str(e))[:200]

print("READY " + json.dumps(sorted(err)), flush=True)
for line in sys.stdin:
    line = line.strip()
    if not line.startswith("RUN "):
        break
    n = line[4:]
    if n in err:
        print("RES " + json.dumps({"error": err[n]}), flush=True)
        continue
    try:
        r = one_pass(n)
        print("RES " + json.dumps({"construct": round(r["construct"], 3),
                                   "exec": round(r["exec"], 3)}), flush=True)
    except Exception as e:
        print("RES " + json.dumps(
            {"error": (type(e).__name__ + ": " + str(e))[:200]}), flush=True)
spark.stop()
'''


def _next_round() -> int:
    """Infer the upcoming round number: latest driver 'round N:' commit + 1,
    falling back to max existing BENCH_r*.json + 1."""
    try:
        subj = subprocess.run(
            ["git", "log", "--grep", "^round [0-9]*:", "-n", "1", "--format=%s"],
            cwd=_REPO_ROOT, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if subj.startswith("round "):
            return int(subj.split(":", 1)[0].split()[1]) + 1
    except Exception:  # noqa: BLE001
        pass
    rounds = [0]
    for name in os.listdir(_REPO_ROOT):
        if name.startswith("BENCH_r") and name.endswith(".json"):
            try:
                rounds.append(int(name[len("BENCH_r"):-len(".json")]))
            except ValueError:
                pass
    return max(rounds) + 1


def _capture_stderr() -> str:
    """Redirect fd 2 (this process AND the child JVM, which inherits it)
    to a log file so the full bench stderr is preserved — BENCH_r08's
    tail contained an unclassifiable DAGScheduler stack fragment because
    the driver records only a 2000-char stdout tail (VERDICT r8 wrong #3).
    Post-run, _task_failure_audit scrapes the log and the count is
    stamped into BENCH_DETAIL provenance and the stdout line."""
    log_path = os.path.join(
        "/tmp", f"sheetreader_bench_stderr_r{_next_round():02d}.log"
    )
    f = open(log_path, "wb", buffering=0)
    os.dup2(f.fileno(), 2)
    return log_path


_TASK_ID_RE = re.compile(
    rb"(?:Lost|Exception in) task (\d+\.\d+) in stage (\d+\.\d+)"
)


def _task_failure_audit(log_path: str) -> dict:
    """Scrape the captured stderr for task/stage failure markers. Spark on
    a healthy run logs none of these at ERROR level; any hit means a task
    retried or a stage aborted mid-bench and the numbers are suspect.

    ``task_failures`` is deduped by (task, stage) attempt id so a
    multi-line Java stack for one failed task counts once, and marker
    lines are excluded from ``error_lines`` so one line never counts in
    both buckets (ADVICE r9 — the raw line-hit counts inflated under
    stacks and double-counted ' ERROR ' marker lines). Marker lines
    WITHOUT a parseable task id (stage aborts, job failures) are reported
    SEPARATELY as ``marker_lines`` (r11, VERDICT note 1: summing them
    into task_failures could double-count a lost task that also prints an
    id-less marker, making magnitudes incomparable across rounds — both
    fields are now stamped and each is internally deduped). ``audit_error``
    (instead of -1 sentinels) distinguishes 'log unreadable' from 'no
    failures' for JSON consumers."""
    markers = (b"Lost task", b"Exception in task", b"Aborting TaskSet",
               b"Stage failure", b"failed; aborting job")
    failed_ids: set = set()
    marker_lines: set = set()
    error_lines = 0
    size = 0
    try:
        with open(log_path, "rb") as f:
            for line in f:
                size += len(line)
                if any(m in line for m in markers):
                    m = _TASK_ID_RE.search(line)
                    if m:
                        failed_ids.add((m.group(1), m.group(2)))
                    else:
                        marker_lines.add(line.strip()[:400])
                elif b" ERROR " in line or b'"level": "ERROR"' in line:
                    error_lines += 1
    except OSError as e:
        return {
            "task_failures": 0, "marker_lines": 0, "error_lines": 0,
            "audit_error": f"stderr log unreadable: {e}",
            "stderr_log": log_path,
        }
    return {
        "task_failures": len(failed_ids),
        "marker_lines": len(marker_lines),
        "error_lines": error_lines,
        "stderr_bytes": size,
        "stderr_log": log_path,
    }


def _sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.removeprefix("sf"))
    except ValueError:
        return -1.0


def _pair_start(root: str, names: list, label: str):
    """Launch one persistent warm worker in ``root``'s tree. stderr goes
    to a per-side log file (NOT the bench audit log — worker-internal
    Spark noise would pollute the task-failure audit). A daemon reader
    thread pumps the worker's stdout lines into a queue: select() on the
    TextIOWrapper's fd could block forever with a complete protocol line
    already sitting in the wrapper's buffer (noise line + protocol line
    arriving in one pipe chunk — r14 review), killing a healthy worker on
    timeout; a blocking-readline thread has no such window."""
    import queue
    import threading

    log = open(f"/tmp/bench_pair_{label}.log", "wb")
    try:
        p = subprocess.Popen(
            [sys.executable, "-c", _PAIR_WORKER, root, SF_DIR, CPUS,
             json.dumps(names)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log,
            text=True, bufsize=1, cwd=root,
        )
    finally:
        log.close()  # the child holds its own dup; don't leak ours

    q: queue.Queue = queue.Queue()

    def _pump() -> None:
        for line in p.stdout:
            q.put(line)
        q.put(None)  # EOF sentinel

    t = threading.Thread(target=_pump, daemon=True, name=f"pair-{label}")
    t.start()
    p._pair_lines = q  # type: ignore[attr-defined]
    return p


def _pair_readline(p, timeout: float) -> str:
    """One line from a worker's stdout with a wall timeout (reader-thread
    queue; each protocol message is exactly one flushed line)."""
    import queue

    deadline = time.time() + timeout
    while True:
        remaining = deadline - time.time()
        if remaining <= 0:
            raise TimeoutError("worker read timed out")
        try:
            line = p._pair_lines.get(timeout=min(remaining, 5.0))
        except queue.Empty:
            if p.poll() is not None:
                raise RuntimeError(f"worker exited rc={p.returncode}")
            continue
        if line is None:
            raise RuntimeError("worker died")
        return line


def _pair_ready(p, timeout: float = 1800.0) -> None:
    while True:
        line = _pair_readline(p, timeout)
        if line.startswith("READY"):
            return


_PAIR_PASS_TIMEOUT = float(os.environ.get("SPARK_GRAFT_PAIR_TIMEOUT", "300"))


def _pair_pass(p, name: str, timeout: float = _PAIR_PASS_TIMEOUT) -> dict:
    p.stdin.write(f"RUN {name}\n")
    p.stdin.flush()
    while True:
        line = _pair_readline(p, timeout)
        if line.startswith("RES "):
            return json.loads(line[4:])


def _pair_stop(p) -> None:
    try:
        p.stdin.close()
        p.wait(timeout=60)
    except Exception:  # noqa: BLE001
        try:
            p.kill()
        except Exception:  # noqa: BLE001
            pass


def _pair_rounds(
    entries: list, cur_p, prev_p, rounds: int, budget: float,
    progress=None,
) -> tuple[dict, int, dict, float]:
    """The interleaved ping-pong loop shared by the bench's paired block
    and scripts/pair_ab.py (one instrument, one error policy — r14
    review). Per (round, entry), both sides run one timed pass with
    alternating order; a failed/dead pass appends ``None`` so that index
    i of both sides' lists is always the SAME round (ratio pairing must
    never misalign into cross-round samples). A timed-out or dead worker
    is protocol-desynced: it is killed so later entries fail fast rather
    than read the wrong RES. Returns (acc, rounds_done, dead, wall)."""
    acc: dict[str, dict] = {"cur": {}, "prev": {}}
    dead = {"cur": False, "prev": False}
    t_block = time.time()
    rounds_done = 0
    for rnd in range(rounds):
        for i, name in enumerate(entries):
            order = [("cur", cur_p), ("prev", prev_p)]
            if (rnd + i) % 2:
                order.reverse()
            for label, p in order:
                slot = acc[label].setdefault(
                    name, {"construct": [], "exec": []}
                )
                if dead[label]:
                    slot.setdefault("error", "worker dead")
                    slot["construct"].append(None)
                    slot["exec"].append(None)
                    continue
                try:
                    r = _pair_pass(p, name)
                except Exception as exc:  # noqa: BLE001
                    slot["error"] = f"{type(exc).__name__}: {exc}"[:200]
                    dead[label] = True
                    _pair_stop(p)
                    slot["construct"].append(None)
                    slot["exec"].append(None)
                    continue
                if "error" in r:
                    slot["error"] = r["error"]
                    slot["construct"].append(None)
                    slot["exec"].append(None)
                else:
                    slot["construct"].append(r["construct"])
                    slot["exec"].append(r["exec"])
        rounds_done += 1
        if progress is not None:
            progress(rnd)
        if time.time() - t_block > budget or dead["cur"] or dead["prev"]:
            break
    return acc, rounds_done, dead, time.time() - t_block


def _prev_commit_sentinel() -> dict:
    """Interleaved paired block (VERDICT r13 task 1): HEAD vs the previous
    round's archived commit, one persistent warm worker per tree,
    single timed passes ping-ponged per entry with alternating order, so
    box drift at minute scale cancels out of the ratio. Never raises — a
    bench must always print its JSON line."""
    commits = subprocess.run(
        ["git", "log", "--grep", "^round [0-9]*:", "-n", "3", "--format=%H"],
        cwd=_REPO_ROOT, capture_output=True, text=True, timeout=30,
    ).stdout.split()
    if not commits:
        return {"skipped": "no prior round commit"}
    entries = list(SENTINELS) + [n for n in STANDALONE if n not in SENTINELS]
    rounds = int(os.environ.get("SPARK_GRAFT_PAIR_ROUNDS", "3"))
    budget = float(os.environ.get("SPARK_GRAFT_PAIR_BUDGET", "2400"))
    scratch = tempfile.mkdtemp(prefix="bench_pair_")
    cur_p = prev_p = None
    wt = None
    used_commit = None
    try:
        # Workers warm SEQUENTIALLY: several queries write fixed /tmp
        # paths (h02b's sink dirs, s01's xlsx sink) during warmup, and
        # two trees warming at once race each other's overwrites
        # (observed: FileNotFoundException on _temporary/0). Ping-pong
        # passes are strictly alternating, so after warmup the shared
        # paths are single-writer again.
        cur_p = _pair_start(_REPO_ROOT, entries, "cur")
        _pair_ready(cur_p)
        # Walk back to the newest archived commit whose worker reaches
        # READY (a broken snapshot — round 6's unparseable registry —
        # would otherwise leave the round with no paired measurement).
        last_err = {"skipped": "no runnable prior round commit"}
        for commit in commits:
            wt = os.path.join(scratch, f"wt_{commit[:12]}")
            try:
                subprocess.run(
                    ["git", "worktree", "add", "--detach", wt, commit],
                    cwd=_REPO_ROOT, capture_output=True, text=True,
                    timeout=60, check=True,
                )
                # per-commit log label: a walk-back retry must not
                # truncate the previous attempt's stderr evidence
                prev_p = _pair_start(wt, entries, f"prev_{commit[:8]}")
                _pair_ready(prev_p)
                used_commit = commit
                break
            except Exception as exc:  # noqa: BLE001
                last_err = {
                    "commit": commit[:12],
                    "error": f"{type(exc).__name__}: {exc}"[:400],
                }
                if prev_p is not None:
                    _pair_stop(prev_p)
                    prev_p = None
                subprocess.run(
                    ["git", "worktree", "remove", "--force", wt],
                    cwd=_REPO_ROOT, capture_output=True, timeout=60,
                )
                wt = None
                if isinstance(exc, TimeoutError):
                    # a timed-out warmup means the box, not the snapshot —
                    # walking back would burn up to two more warmup
                    # ceilings for the same outcome (restored r14 review;
                    # the pre-interleave design had this guard too)
                    break
        if used_commit is None:
            return last_err

        acc, rounds_done, _dead, wall = _pair_rounds(
            entries, cur_p, prev_p, rounds, budget
        )

        def mins(side: dict) -> dict:
            out = {}
            for name, v in side.items():
                vals = [x for x in v["construct"] if x is not None]
                if vals:
                    out[name] = {
                        "construct": round(min(vals), 3),
                        "exec": round(
                            min(x for x in v["exec"] if x is not None), 3
                        ),
                    }
                else:
                    out[name] = {"error": v.get("error", "no passes")}
            return out

        return {
            "commit": used_commit[:12],
            "design": "interleaved",
            "rounds": rounds_done,
            "wall_sec": round(wall, 1),
            "queries": mins(acc["prev"]),
            "current": mins(acc["cur"]),
        }
    except Exception as exc:  # noqa: BLE001 — diagnostic block, never fatal
        return {"error": f"{type(exc).__name__}: {exc}"[:400]}
    finally:
        for p in (cur_p, prev_p):
            if p is not None:
                _pair_stop(p)
        if wt is not None:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=_REPO_ROOT, capture_output=True, timeout=60,
            )
        import shutil

        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    started_unix = int(time.time())
    stderr_log = _capture_stderr()
    from pyspark.sql import SparkSession

    from sheetreader_duckdb_spark.session import configure_session
    from sheetreader_duckdb_spark.plans import all_queries

    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("sheetreader-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Engine-level static confs (codegen class-cache sizing): part of the
    # engine posture under test, applied by every session builder of this
    # package — see session.static_builder_confs for the measurements.
    from sheetreader_duckdb_spark.session import static_builder_confs

    for _k, _v in static_builder_confs().items():
        builder = builder.config(_k, _v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    configure_session(spark)
    corpus = all_queries()

    # TPC-H branches are declared as two union entries (50-row CORRECTNESS
    # cap) but benched individually: a scan-aggregate, a HAVING-IN semi
    # join + top-k, and the sole-late-supplier window form.
    from sheetreader_duckdb_spark.plans.tpch import TPCH_BRANCHES

    class _BranchSpec:
        def __init__(self, fn):
            self.fn = fn

    for tname in ("t06_forecast_revenue", "t18_large_orders", "t21_waiting_suppliers"):
        corpus[tname] = _BranchSpec(TPCH_BRANCHES[tname][0])

    # n01 is declared as a five-branch union (50-row CORRECTNESS cap) but
    # its composed-curation witness carries a fixed construct cost that
    # swamped the dedup core's number (r7: 11.14 s, ~7.5 s of it cur_kept
    # construct). Bench the dedup core and the curation witness as their
    # own lines so each stays comparable across rounds; the DECLARED query
    # (what the correctness driver runs) keeps the full union.
    from sheetreader_duckdb_spark.plans.northstar import (
        n01_cur_kept_branch,
        n01_dedup_core,
    )

    corpus["n01_dedup_exact_pipeline"] = _BranchSpec(n01_dedup_core)
    corpus["n01_cur_kept"] = _BranchSpec(n01_cur_kept_branch)

    # Prep outside timing: warm the JVM/codegen path and materialize the
    # cached lineitem XLSX (s01's input) so its one-time write cost is not
    # attributed to the load measurement.
    from sheetreader_duckdb_spark.plans.ingestion import _xlsx_for_sf

    _xlsx_for_sf(SF_DIR)
    corpus["h01_scan_filter_project"].fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()

    # Warmup pass (untimed): absorbs parquet footer reads, Python worker
    # pool spin-up, and per-plan codegen; the timed passes below measure
    # steady-state execution, which is what scales to a real cluster.
    for name in HEADLINE:
        corpus[name].fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()

    # Timed passes. construct (fn(): plan build + any localCheckpoint-era
    # compute) and exec (noop write of the built plan) are timed separately
    # and each reported as the min over three passes.
    acc: dict[str, dict[str, list[float]]] = {
        n: {"construct": [], "exec": []} for n in HEADLINE
    }
    for _pass in range(3):
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = corpus[name].fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            acc[name]["construct"].append(t1 - t0)
            acc[name]["exec"].append(t2 - t1)

    splits: dict[str, dict[str, float]] = {}
    for name, v in acc.items():
        splits[name] = {
            "construct": round(min(v["construct"]), 3),
            "exec": round(min(v["exec"]), 3),
        }

    # Standalone operator timings for the training-data write path, so the
    # per-round record shows them individually (h02b above times the whole
    # tagged bundle): FFD packing of documents into 2048-token windows, and
    # the deterministic 8-shard export (a real parquet write, not noop —
    # the write IS the operator, so it all lands in exec).
    from sheetreader_duckdb_spark.operators.export import export_shards
    from sheetreader_duckdb_spark.operators.packing import pack_sequences
    from sheetreader_duckdb_spark.plans.relational import T

    docs = T(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    pack_sequences(docs, "doc_id", "n_chars", seq_len=2048, n_buckets=8).write.mode(
        "overwrite"
    ).format("noop").save()  # warmup
    pc, pe = [], []
    for _pass in range(3):
        t0 = time.perf_counter()
        packed = pack_sequences(docs, "doc_id", "n_chars", seq_len=2048, n_buckets=8)
        t1 = time.perf_counter()
        packed.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        pc.append(t1 - t0)
        pe.append(t2 - t1)
    splits["pack_documents"] = {"construct": round(min(pc), 3), "exec": round(min(pe), 3)}

    export_dir = "/tmp/sheetreader_bench_export"
    export_shards(docs, "doc_id", 8, export_dir, seed="bench")  # warmup
    ee = []
    for _pass in range(3):
        t0 = time.perf_counter()
        export_shards(docs, "doc_id", 8, export_dir, seed="bench")
        ee.append(time.perf_counter() - t0)
    splits["export_documents"] = {"construct": 0.0, "exec": round(min(ee), 3)}

    # The one-call curation pipeline, end-to-end at the PRODUCTION settings
    # (xxhash MinHash 128×8, every hygiene stage on — including SemDeDup
    # over the embeddings table on the 'auto' scoring path, so the
    # advertised full pipeline finally has a wall-clock number with its
    # heaviest stage on; VERDICT r7 task 3): the closest thing to the
    # product's headline workload. construct carries most of the work
    # by design — the stage lineage barriers and the connected-components
    # keep-set materialize during fn construction; exec is the final noop
    # write of the curated frame. Reported as one splits entry like every
    # other headline query.
    from pyspark.sql import functions as F

    from sheetreader_duckdb_spark.pipeline import curate_corpus
    from sheetreader_duckdb_spark.operators.sampling import hash_split

    emb = T(spark, SF_DIR, "embeddings")

    def _curated():
        d = (
            T(spark, SF_DIR, "documents")
            .withColumn(
                "url",
                F.concat(
                    F.lit("https://www."),
                    F.col("source"),
                    F.lit(".com/d/"),
                    F.col("doc_id").cast("string"),
                ),
            )
            .withColumn(
                "split", hash_split("doc_id", [("corpus", 0.9), ("eval", 0.1)], seed="bench")
            )
        )
        corpus_side = d.filter(F.col("split") == "corpus").drop("split")
        eval_side = d.filter(F.col("split") == "eval").select("doc_id", "text")
        cur, _ = curate_corpus(
            corpus_side,
            eval_df=eval_side,
            url_col="url",
            domain_cap=50,
            line_dedup=True,
            dupspan=True,
            pii=True,
            embeddings_df=emb,
            budget_tokens=50_000,
            seed="bench",
            collect_report=False,
        )
        return cur

    from sheetreader_duckdb_spark.session import release_deferred

    _curated().write.mode("overwrite").format("noop").save()  # warmup
    release_deferred()
    cc_, ce_ = [], []
    for _pass in range(3):
        t0 = time.perf_counter()
        cur_df = _curated()
        t1 = time.perf_counter()
        cur_df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        cc_.append(t1 - t0)
        ce_.append(t2 - t1)
        release_deferred()
    splits["curate_corpus"] = {"construct": round(min(cc_), 3), "exec": round(min(ce_), 3)}

    # Dedicated XLSX scan measurement, directly comparable to BASELINE.md
    # "lineitem XLSX load time" — warm run, same methodology as above.
    from sheetreader_duckdb_spark import register

    register(spark)
    xlsx_path = _xlsx_for_sf(SF_DIR)
    spark.read.format("sheetreader").load(xlsx_path).write.mode("overwrite").format(
        "noop"
    ).save()  # warmup
    xc, xe = [], []
    for _pass in range(3):
        t0 = time.perf_counter()
        xlsx_df = spark.read.format("sheetreader").load(xlsx_path)
        t1 = time.perf_counter()
        xlsx_df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        xc.append(t1 - t0)
        xe.append(t2 - t1)
    splits["xlsx_load_lineitem"] = {
        "construct": round(min(xc), 3),
        "exec": round(min(xe), 3),
    }

    # Same workbook through read_xlsx's stated projection (reader-side
    # columns= pruning): 2 of 3 columns parsed/decoded. The full-scan entry
    # above stays the BASELINE.md-comparable number; this one shows what a
    # caller that states its projection pays.
    from sheetreader_duckdb_spark import read_xlsx

    pruned_cols = ["l_returnflag", "l_quantity"]
    read_xlsx(spark, xlsx_path, columns=pruned_cols).write.mode("overwrite").format(
        "noop"
    ).save()  # warmup
    pcc, pce = [], []
    for _pass in range(3):
        t0 = time.perf_counter()
        pdf = read_xlsx(spark, xlsx_path, columns=pruned_cols)
        t1 = time.perf_counter()
        pdf.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        pcc.append(t1 - t0)
        pce.append(t2 - t1)
    splits["xlsx_load_pruned"] = {
        "construct": round(min(pcc), 3),
        "exec": round(min(pce), 3),
    }

    spark.stop()

    # Interleaved paired block — after spark.stop() so the in-process JVM
    # never contends with the pair workers; the two workers themselves
    # ping-pong (one idle while the other runs a pass).
    prev = _prev_commit_sentinel()

    timings = {n: round(s["construct"] + s["exec"], 3) for n, s in splits.items()}
    total = round(sum(timings.values()), 3)

    # Rich payload → committed side file (splits, paired sentinels). The
    # stdout line carries only what the driver's 2000-char tail must parse.
    # Provenance stamp: which code produced this artifact and when, so a
    # driver re-run can never silently overwrite the record a BENCHNOTES
    # narrative cites — notes reference the stamp, readers cross-check it.
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=_REPO_ROOT, capture_output=True, text=True, timeout=30,
        ).stdout.strip()[:12]
    except Exception:  # noqa: BLE001
        head = "unknown"
    # Post-run failure audit over the captured stderr (the JVM inherited
    # fd 2, so Spark's executor/driver logs are all in the file). Runs
    # after spark.stop() so every task's fate is final.
    audit = _task_failure_audit(stderr_log)
    provenance = {
        "commit": head,
        "started_unix": started_unix,
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "stderr_audit": audit,
    }

    detail_path = os.path.join(_REPO_ROOT, f"BENCH_DETAIL_r{_next_round():02d}.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": _sf_from_dir(SF_DIR),
                "provenance": provenance,
                "splits": splits,
                "prev_commit": prev,
            },
            f,
            indent=1,
        )
        f.write("\n")

    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": _sf_from_dir(SF_DIR),
            "task_failures": audit.get("task_failures"),
            "marker_lines": audit.get("marker_lines"),
        }
    )
    # The driver records only a 2000-char stdout tail; a line longer than
    # that is unrecoverable mid-line (the round-4 failure). Hard-stop here.
    assert len(line) < 1900, f"bench stdout line too long ({len(line)} chars)"
    print(line)


if __name__ == "__main__":
    try:
        main()
    except BaseException as exc:  # noqa: BLE001
        # stderr is redirected to the audit log (see _capture_stderr), so
        # a crash would otherwise leave the driver's stdout tail EMPTY.
        # Emit a short parseable error line; the full traceback is in the
        # log file.
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total",
                    "error": f"{type(exc).__name__}: {exc}"[:400],
                }
            )
        )
        raise
