"""One-call training-corpus curation — the operator library composed in
the canonical order a production web-corpus pipeline runs it (the
FineWeb / RefinedWeb stage sequence, each stage opt-in):

    per-domain URL cap → quality filter → exact dedup →
    line-level cross-doc dedup → near-dup cluster dedup →
    cross-doc n-gram span scrub → eval-set decontamination →
    PII scrub → sqrt-temperature source mixing →
    per-source token budget → (sequence packing → sharded export)

Every stage is one of the individually-oracle-witnessed operators; this
module adds only the composition and a per-stage row-count report.
Determinism is inherited: every keep/assign decision downstream of the
scan is a pure function of (seed, key), so the curated corpus — and the
exported shard bytes — are invariant to partitioning and cluster size.

Stage order rationale (the 100 TB budget): the per-domain cap and the
scan-speed quality filter run FIRST so every shuffle downstream sees
only surviving rows; exact dedup (one digest shuffle) precedes the
line/near-dup stages so they never hash byte-identical copies; line
dedup precedes near-dup so boilerplate lines don't glue unrelated
documents into LSH buckets (the RefinedWeb ordering); the span scrub
runs on the deduplicated residue; decontamination uses the
benchmark-regime join direction (the eval grams are the small distinct
side, broadcast); PII masking is a scan-speed rewrite; mixing and
budgeting are scan-speed predicates plus one bounded window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sheetreader_duckdb_spark import session as SESS
from sheetreader_duckdb_spark.operators import dedup as D
from sheetreader_duckdb_spark.operators import sampling as SM
from sheetreader_duckdb_spark.operators import text as X

__all__ = ["curate_corpus"]


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    *,
    eval_df: DataFrame | None = None,
    quality_rules: dict | None = None,
    url_col: str | None = None,
    domain_cap: int | None = None,
    suffixes=None,
    shingle_k: int = 3,
    n_hashes: int = 64,
    band_size: int = 8,
    jaccard_threshold: float = 0.8,
    minhash: str = "xxhash",
    line_dedup: bool = False,
    line_min_docs: int = 2,
    line_min_chars: int = 1,
    dupspan: bool = False,
    dupspan_n: int = 5,
    dupspan_min_docs: int = 2,
    pii: bool = False,
    embeddings_df: "DataFrame | None" = None,
    embedding_id_col: str = "vec_id",
    embedding_col: str = "embedding",
    semantic_threshold: float = 0.95,
    semantic_cells: int | None = None,
    semantic_score: str = "auto",
    semantic_train_fraction: "float | str | None" = "auto",
    contamination_k: int = 8,
    contamination_min_hits: int = 1,
    temperature: bool = True,
    budget_tokens: int | None = None,
    seed: str = "curate",
    collect_report: bool = True,
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Run the curation pipeline over ``df``; returns ``(curated, report)``
    where ``report`` is ``[(stage, surviving_rows), ...]`` (empty when
    ``collect_report=False`` — each report entry is one count job, which
    a fire-and-forget production run may not want to pay).

    Opt-in hygiene stages (all default off, so existing callers see the
    identical pipeline):

    - ``url_col`` + ``domain_cap``: keep at most ``domain_cap`` rows per
      registrable domain of the URL column (operators/web.py
      per_domain_cap — deterministic md5 rank, WindowGroupLimit-bounded
      state; ``suffixes`` optionally supplies a real public-suffix
      table). Runs first: crawl-frequency bias never reaches a shuffle.
    - ``line_dedup``: remove lines whose trimmed form occurs in ≥
      ``line_min_docs`` documents (operators/dedup.py
      remove_duplicate_lines — the RefinedWeb/FineWeb boilerplate
      scrub); documents scrubbed to '' are dropped. Replaces
      ``text_col`` in place (losslessly for unaffected docs).
    - ``dupspan``: cut cross-document repeated word ``dupspan_n``-gram
      spans (operators/dedup.py remove_duplicate_ngrams, Lee et al.
      2022); documents scrubbed to '' are dropped. NOTE: the rewrite is
      the operator's documented canonical-space form — the surviving
      text is lower-cased, single-space token-joined.
    - ``embeddings_df``: SemDeDup semantic dedup (Abbas et al. 2023) over
      an embedding table ``(embedding_id_col, embedding_col)`` keyed by
      the corpus ids — runs AFTER the fuzzy text dedup (stage 5b), drops
      every same-cell cosine-≥``semantic_threshold`` duplicate except one
      representative per connected cluster
      (operators/similarity.py semantic_dedup_keep). Documents WITHOUT
      an embedding row are kept (no evidence → no drop).
      ``semantic_cells=None`` derives the cell count from the embedded
      corpus size (auto_ivf_cells); ``semantic_score='auto'`` (default)
      picks the scoring form by size — the Arrow per-cell 'gemm' path
      (float-associative, BENCHNOTES round 7) at production cell counts,
      the expression form below the crossover — so a production call
      with defaults never hits the measured-DNF expression plan
      (VERDICT r7 task 1).
    - ``pii``: mask URL/email/phone spans with placeholder tokens
      (operators/text.py scrub_pii) — scan-speed rewrite, count
      unchanged (the report row is still emitted so stage presence is
      auditable).

    ``minhash`` selects the near-dup signature family: ``"xxhash"``
    (default — 64-bit JVM hashing, the scale path) or ``"md5"`` (the
    oracle-witnessable flavor, identical topology; used by the declared
    n01 'cur_kept' witness, which runs THIS composed pipeline end-to-end
    and hash-matches every surviving document's final text vs DuckDB).

    ``eval_df`` (same schema) enables decontamination: corpus documents
    sharing ≥ ``contamination_min_hits`` word ``contamination_k``-grams
    with ANY eval document are dropped (the reverse join direction of
    ``operators.dedup.contamination``'s eval-flagging form — here the
    eval grams are the small distinct side, broadcast, so the big side
    never builds a corpus-wide distinct).

    ``budget_tokens`` caps each source's whitespace-token mass, walking
    docs in deterministic hash order (no quality bias — a quality-ranked
    budget is one ``operators.sampling.budget_select`` call away).
    """
    if minhash not in ("xxhash", "md5"):
        raise ValueError(f"minhash must be 'xxhash' or 'md5', got {minhash!r}")
    report: list[tuple[str, int]] = []

    def note(
        stage: str,
        frame: DataFrame,
        *,
        barrier: bool = True,
        count_preserving: bool = False,
    ) -> DataFrame:
        # Lineage barrier at every MULTI-REFERENCE stage boundary. Each
        # such stage references its input several times (occurrence
        # mining + rebuild + replacement joins), and Spark's self-join
        # deduplication deep-copies the shared subtree at every
        # reference — chained across ten stages the analyzed plan grows
        # EXPONENTIALLY (observed: driver OOM in plan canonicalization
        # at toy scale with no barriers). A lazy localCheckpoint pins
        # each stage to a materialized boundary: plan size stays linear
        # in stages and the cached partitions feed both the next stage
        # and (when collect_report=True) its count. Checkpoints register
        # as deferred REFERENCES (session.defer_reference) — never
        # deferred unpersists: a localCheckpoint's blocks are the only
        # copy of its data, so an eager unpersist would leave the
        # returned curated frame (whose plan reads these checkpoints)
        # throwing checkpoint-block-not-found on any later action
        # (ADVICE r7). The ContextCleaner reclaims the blocks once the
        # caller drops the curated frame.
        #
        # ``barrier=False`` is for frames that are ALREADY a barrier
        # (e.g. the semantic no-op stage re-noting the previous stage's
        # checkpoint) — checkpointing a checkpoint is pure overhead.
        # Do NOT use it to "optimize away" linear stages: the lazy
        # checkpoint is free at construct, and removing it lets every
        # downstream self-join deep-copy the stage's subtree (measured
        # +0.9 s of plan-analysis time on the composed pipeline, r8).
        if barrier:
            frame = SESS.defer_reference(frame.localCheckpoint(eager=False))
        if collect_report:
            if count_preserving and report:
                # Row-count-preserving rewrite (e.g. PII masking): the
                # stage row is still emitted so its presence is
                # auditable, but the count is the previous stage's —
                # no job.
                report.append((stage, report[-1][1]))
            else:
                report.append((stage, frame.count()))
        return frame

    # The input is left un-barriered: it is a scan leaf with a small plan,
    # and checkpointing it would materialize the raw corpus for nothing.
    cur = df
    if collect_report:
        report.append(("input", df.count()))

    # 1. per-domain cap — crawl-frequency debias before any text work.
    if url_col is not None and domain_cap is not None:
        from sheetreader_duckdb_spark.operators import web as WB

        cur = note(
            "url_cap",
            WB.per_domain_cap(cur, url_col, domain_cap, id_col, suffixes=suffixes),
        )

    # 2. quality filter — scan speed, before anything shuffles. The
    #    barrier stays even though the stage is linear: a lazy
    #    localCheckpoint costs nothing at construct (it materializes
    #    only when an action needs it) while KEEPING the analyzed plan
    #    small — dropping it let every downstream self-join reference
    #    deep-copy the scan+filter subtree, measured +0.9 s of analysis
    #    time on the composed pipeline (tried and reverted, r8).
    cur = note(
        "quality", cur.filter(X.quality_keep(F.col(text_col), quality_rules))
    )

    # 3. exact dedup — one digest shuffle.
    cur = note("exact_dedup", D.exact_dedup(cur, id_col, text_col))

    # 4. line-level cross-doc dedup — boilerplate lines out BEFORE the
    #    shingle stages see them (RefinedWeb order: line-wise correction
    #    precedes fuzzy dedup).
    if line_dedup:
        scrubbed = D.remove_duplicate_lines(
            cur, id_col, text_col,
            min_docs=line_min_docs, min_chars=line_min_chars,
        )
        cur = note(
            "line_dedup",
            scrubbed.withColumn(text_col, F.col("line_scrub_text"))
            .drop("line_scrub_text")
            .filter(F.length(text_col) > 0),
        )

    # 5. near-dup cluster dedup: shingles → MinHash → banded LSH →
    #    capped candidate pairs → exact Jaccard verify → one
    #    representative per connected cluster.
    sh = D.word_shingles(cur, id_col, text_col, k=shingle_k)
    if minhash == "md5":
        sigs = D.minhash_signatures_md5(sh, id_col, n_hashes=n_hashes)
    else:
        sigs = D.minhash_signatures_xxhash(sh, id_col, n_hashes=n_hashes)
    bands = D.lsh_bands(sigs, id_col, n_hashes, band_size)
    cand = D.lsh_candidate_pairs(bands, id_col, max_bucket_size=1000)
    pairs = D.jaccard_verify(sh, cand, id_col, threshold=jaccard_threshold)
    cur = note("near_dedup", D.cluster_dedup_keep(cur, pairs, id_col))

    # 5b. SemDeDup — semantic near-dup dedup over the embedding table,
    #     after the fuzzy text dedup (the SemDeDup recipe: embeddings
    #     catch paraphrase-level duplicates the shingles miss). Only
    #     docs WITH embeddings can be dropped; the keep-set is one
    #     representative per connected cosine-cluster.
    if embeddings_df is not None:
        from sheetreader_duckdb_spark.operators import similarity as SIM

        emb = SESS.defer_unpersist(
            embeddings_df.select(
                F.col(embedding_id_col).alias(id_col),
                F.col(embedding_col).alias("__emb"),
            )
            .join(cur.select(id_col), id_col)
            .persist()
        )
        n_emb = emb.count()
        if n_emb < 2:
            # Nothing can pair — and the Lloyd seeding of an empty/1-row
            # set would train no centroids. The stage is an auditable
            # no-op, not a skip: the report row still appears (cur is
            # already the previous stage's barrier, so no new one).
            cur = note("semantic_dedup", cur, barrier=False, count_preserving=True)
        else:
            n_cells = (
                semantic_cells
                if semantic_cells is not None
                else SIM.auto_ivf_cells(n_emb)
            )
            keep = SIM.semantic_dedup_keep(
                emb, id_col, "__emb", n_cells=min(n_cells, n_emb),
                threshold=semantic_threshold, score=semantic_score,
                n_rows=n_emb, train_fraction=semantic_train_fraction,
            ).select(id_col)
            drop = emb.select(id_col).join(keep, id_col, "left_anti")
            cur = note("semantic_dedup", cur.join(drop, id_col, "left_anti"))

    # 6. cross-doc n-gram span scrub — exact substring dedup over the
    #    deduplicated residue (RefinedWeb order: after fuzzy dedup).
    if dupspan:
        scrubbed = D.remove_duplicate_ngrams(
            cur, id_col, text_col, n=dupspan_n, min_docs=dupspan_min_docs
        )
        cur = note(
            "dupspan",
            scrubbed.withColumn(text_col, F.col("scrub_text"))
            .drop("scrub_text")
            .filter(F.length(text_col) > 0),
        )

    # 7. decontamination — drop corpus docs overlapping the eval set.
    if eval_df is not None:
        flagged = D.contamination(
            eval_df,
            cur,
            id_col,
            text_col,
            k=contamination_k,
            min_hits=contamination_min_hits,
            # REVERSED direction: train=eval_df (small benchmark),
            # eval_df=cur (the corpus). broadcast_train broadcasts the
            # distinct BENCHMARK grams into the hit join so the corpus
            # grams are probed map-side and never shuffle; broadcast_eval
            # here would broadcast a corpus-wide distinct — the exact
            # anti-pattern this stage must avoid at 100 TB.
            broadcast_train=True,
        ).select(F.col("id").alias(id_col))
        cur = note("decontaminate", cur.join(flagged, id_col, "left_anti"))

    # 8. PII scrub — placeholder masking. Barrier kept (lazy — free at
    #    construct, keeps the analyzed plan small; see stage 2); the
    #    COUNT is skipped: the stage is row-preserving, so its report
    #    row reuses the previous stage's count — one fewer job per
    #    reported run.
    if pii:
        cur = note(
            "pii",
            cur.withColumn(text_col, X.scrub_pii(F.col(text_col))),
            count_preserving=True,
        )

    # 9. sqrt-temperature source mixing — integer-exact keep decision.
    if temperature:
        cur = note(
            "temperature_mix",
            SM.sqrt_temperature_sample(cur, source_col, id_col, seed=f"{seed}:t"),
        )

    # 10. per-source token budget — deterministic hash walk order.
    if budget_tokens is not None:
        cur = cur.withColumn("__nws", X.n_tokens(F.col(text_col)))
        cur = note(
            "budget",
            SM.budget_select(
                cur,
                [source_col],
                [F.md5(F.concat(F.lit(f"{seed}:b:"), F.col(id_col).cast("string"))), F.col(id_col)],
                "__nws",
                budget_tokens,
            ).drop("__nws"),
        )

    return cur, report
