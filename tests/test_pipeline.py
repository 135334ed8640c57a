"""curate_corpus (pipeline.py): the operator-library composition —
monotone per-stage survival, determinism under repartitioning, planted
dup/contaminated docs removed, and composability with packing/export."""

from __future__ import annotations

from pyspark.sql import functions as F

from sheetreader_duckdb_spark.pipeline import curate_corpus
from sheetreader_duckdb_spark.tables import T


def test_stages_monotone_and_planted_rows_removed(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # plant: an exact dup of doc 0 and an eval set overlapping doc 1
    extra = d.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text", "lang", "source",
        "n_chars",
    )
    corpus = d.unionByName(extra)
    ev = d.filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 800000).alias("doc_id"), "text", "lang", "source",
        "n_chars",
    )
    cur, report = curate_corpus(
        corpus, eval_df=ev, budget_tokens=2000, seed="t"
    )
    stages = dict(report)
    order = [s for s, _ in report]
    assert order == [
        "input", "quality", "exact_dedup", "near_dedup", "decontaminate",
        "temperature_mix", "budget",
    ]
    counts = [n for _, n in report]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    ids = {r.doc_id for r in cur.collect()}
    # the planted exact dup lost to its lower-id original
    assert 900000 not in ids
    # doc 1 is contaminated by the planted eval doc (identical text)
    assert 1 not in ids
    assert stages["decontaminate"] < stages["near_dedup"]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_hygiene_stage_order_and_monotone(spark, sf_dir):
    d = T(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".com/"),
            F.col("doc_id").cast("string"),
        ),
    )
    ev = d.limit(3).select((F.col("doc_id") + 800000).alias("doc_id"), "text")
    cur, report = curate_corpus(
        d,
        eval_df=ev,
        url_col="url",
        domain_cap=5,
        line_dedup=True,
        dupspan=True,
        pii=True,
        budget_tokens=2000,
        seed="t",
    )
    order = [s for s, _ in report]
    assert order == [
        "input", "url_cap", "quality", "exact_dedup", "line_dedup",
        "near_dedup", "dupspan", "decontaminate", "pii", "temperature_mix",
        "budget",
    ]
    counts = [n for _, n in report]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    stages = dict(report)
    # pii masks in place — count-preserving by contract
    assert stages["pii"] == stages["decontaminate"]
    # the per-source domains (cap 5, ≥20 sources) actually bind
    assert stages["url_cap"] <= 5 * 25 and stages["url_cap"] < stages["input"]


def test_url_cap_stage_planted(spark):
    rows = [
        (i, f"unique body number {i} alpha beta gamma", "s", f"https://hot.com/{i}")
        for i in range(10)
    ] + [
        (100 + i, f"other body number {i} delta epsilon zeta", "s", f"https://cold.com/{i}")
        for i in range(2)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, url string"
    )
    cur, report = curate_corpus(
        df, quality_rules={}, url_col="url", domain_cap=3, temperature=False
    )
    ids = {r.doc_id for r in cur.collect()}
    assert len([i for i in ids if i < 100]) == 3  # hot.com capped at 3
    assert len([i for i in ids if i >= 100]) == 2  # cold.com untouched
    assert dict(report)["url_cap"] == 5


def test_line_dedup_stage_planted(spark):
    boiler = "subscribe to our newsletter today"
    df = _docs(
        spark,
        [
            (1, f"alpha one unique words here\n{boiler}", "s"),
            (2, f"beta two different tokens now\n{boiler}", "s"),
            (3, boiler, "s"),  # nothing but boilerplate -> dropped
            (4, "gamma three standalone body line", "s"),
        ],
    )
    cur, _ = curate_corpus(df, quality_rules={}, line_dedup=True, temperature=False)
    out = {r.doc_id: r.text for r in cur.collect()}
    assert 3 not in out
    assert out[1] == "alpha one unique words here"
    assert out[2] == "beta two different tokens now"
    assert out[4] == "gamma three standalone body line"


def test_dupspan_stage_planted(spark):
    span = "the quick brown fox jumps over the lazy dog"
    df = _docs(
        spark,
        [
            (1, f"alpha bravo charlie delta echo {span}", "s"),
            (2, f"{span} foxtrot golf hotel india juliet", "s"),
            (3, "kilo lima mike november oscar papa", "s"),
        ],
    )
    cur, _ = curate_corpus(df, quality_rules={}, dupspan=True, temperature=False)
    out = {r.doc_id: r.text for r in cur.collect()}
    # the shared 9-token span is cut from both carriers; the rewrite is the
    # operator's documented canonical space (lossless here — already lower,
    # single-space)
    assert out[1] == "alpha bravo charlie delta echo"
    assert out[2] == "foxtrot golf hotel india juliet"
    assert out[3] == "kilo lima mike november oscar papa"


def test_pii_stage_masks_in_place(spark):
    df = _docs(
        spark,
        [
            (1, "contact me at john.doe@example.com for details", "s"),
            (2, "no personal info in this text at all", "s"),
        ],
    )
    cur, report = curate_corpus(df, quality_rules={}, pii=True, temperature=False)
    out = {r.doc_id: r.text for r in cur.collect()}
    assert out[1] == "contact me at [EMAIL] for details"
    assert out[2] == "no personal info in this text at all"
    stages = dict(report)
    assert stages["pii"] == stages["near_dedup"]


def test_minhash_flavor_identity(spark):
    # md5 (oracle flavor) and xxhash (scale flavor) share the topology;
    # on data where the near-dup decision is unambiguous (Jaccard 0.92
    # vs ≤0.1 against threshold 0.5) the keep-sets must be identical.
    base = "zero one two three four five six seven eight nine ten eleven twelve"
    df = _docs(
        spark,
        [
            (1, base, "s"),
            (2, base + " thirteen", "s"),
            (3, "completely different words in this document body here", "s"),
            (4, "another unrelated sentence with its own tokens", "s"),
        ],
    )
    kept = {}
    for flavor in ("md5", "xxhash"):
        cur, _ = curate_corpus(
            df,
            quality_rules={},
            n_hashes=16,
            band_size=2,
            jaccard_threshold=0.5,
            minhash=flavor,
            temperature=False,
        )
        kept[flavor] = sorted(r.doc_id for r in cur.collect())
    assert kept["md5"] == kept["xxhash"] == [1, 3, 4]


def test_deterministic_under_partitioning(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    a, _ = curate_corpus(d, budget_tokens=1500, collect_report=False)
    b, _ = curate_corpus(
        d.repartition(17), budget_tokens=1500, collect_report=False
    )
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


def test_composes_with_packing_and_export(spark, sf_dir, tmp_path):
    from sheetreader_duckdb_spark.operators.export import export_shards
    from sheetreader_duckdb_spark.operators.packing import pack_sequences

    d = T(spark, sf_dir, "documents")
    cur, _ = curate_corpus(d, collect_report=False)
    packed = pack_sequences(cur, "doc_id", F.col("n_chars"), seq_len=2048, n_buckets=4)
    assert packed.count() == cur.count()  # every survivor packed once
    out = str(tmp_path / "curated")
    export_shards(
        cur.select("doc_id", "text"), "doc_id", 4, out, seed="cur", format="json"
    )
    back = spark.read.schema("doc_id long, text string").json(out)
    assert back.count() == cur.count()


def test_semantic_dedup_stage_planted(spark):
    """SemDeDup stage (5b): docs with near-identical embeddings collapse
    to one representative (min id), docs WITHOUT embeddings are kept, the
    stage slots between near_dedup and dupspan in the report, and
    score='gemm' drops the identical set."""
    docs = _docs(
        spark,
        [
            (0, "alpha beta gamma delta epsilon unique zero", "s"),
            (1, "one two three four five six seven eight", "s"),
            (2, "nine ten eleven twelve thirteen fourteen", "s"),
            (3, "totally different text with no embedding row", "s"),
        ],
    )
    # 0 and 1 share a near-identical embedding direction; 2 is far; 3 absent.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.999, 0.001, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    for score in ("expr", "gemm"):
        cur, report = curate_corpus(
            docs, quality_rules={}, eval_df=None, embeddings_df=emb,
            semantic_cells=2, semantic_threshold=0.95, semantic_score=score,
            temperature=False, dupspan=True, seed="t",
        )
        order = [s for s, _ in report]
        assert order == [
            "input", "quality", "exact_dedup", "near_dedup",
            "semantic_dedup", "dupspan",
        ]
        ids = {r.doc_id for r in cur.collect()}
        assert 1 not in ids      # semantic dup of 0, higher id loses
        assert {0, 2, 3} <= ids  # representative, far doc, no-embedding doc


def test_semantic_stage_off_by_default(spark):
    docs = _docs(spark, [(0, "alpha beta gamma", "s"), (1, "delta eps zeta", "s")])
    _, report = curate_corpus(docs, quality_rules={}, temperature=False, seed="t")
    assert "semantic_dedup" not in {s for s, _ in report}


def test_semantic_stage_noop_when_no_embeddings_match(spark):
    """An embedding table disjoint from the corpus ids is an auditable
    no-op: the report row appears, nothing is dropped."""
    docs = _docs(spark, [(0, "alpha beta gamma", "s"), (1, "delta eps zeta", "s")])
    emb = spark.createDataFrame(
        [(900, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cur, report = curate_corpus(
        docs, quality_rules={}, embeddings_df=emb, temperature=False, seed="t"
    )
    assert dict(report)["semantic_dedup"] == 2
    assert cur.count() == 2


def test_curated_frame_survives_release_deferred(spark, sf_dir):
    """ADVICE r7 regression: the documented standalone-caller pattern —
    materialize the curated frame, then release_deferred() — must leave
    the frame re-collectable. The stage barriers are localCheckpoints
    whose blocks are the only copy of their data, so the registry may
    only drop references to them, never unpersist them."""
    from sheetreader_duckdb_spark.session import release_deferred

    d = T(spark, sf_dir, "documents")
    cur, report = curate_corpus(d, pii=True, budget_tokens=2000, seed="t")
    n1 = cur.count()
    release_deferred()
    # Re-collect AFTER the release: throws checkpoint-block-not-found if
    # any stage barrier was destroyed instead of dereferenced.
    n2 = cur.count()
    assert n1 == n2 > 0
    # pii is count-preserving: its report row reuses the previous count.
    stages = dict(report)
    order = [s for s, _ in report]
    assert stages["pii"] == stages[order[order.index("pii") - 1]]
