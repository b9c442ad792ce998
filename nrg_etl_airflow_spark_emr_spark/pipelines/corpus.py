"""End-to-end training-corpus cleaning pipeline (SURVEY.md §7 M5 capstone).

Composes the LLM-data operators into the standard corpus-hygiene flow:

    documents
      → quality filter   (text_quality_score ≥ threshold)
      → language filter  (text_langid ∈ allowed set)
      → near-dup dedup   (dedup_clusters: keep each cluster's canonical)
      → cleaned corpus + per-stage survival stats

Each stage is the SAME oracle-gated operator from the catalog (joined on
doc_id), so the composed pipeline inherits their verified semantics; the
catalog entry `corpus_clean` re-states the composition as one DuckDB
query over the operators' own oracle SQL, gating the composition itself.

Scale: every stage is keyed on doc_id — the joins reuse one hash
partitioning; the only non-doc_id shuffle is inside dedup_clusters
(bounded by the near-dup candidate set, see SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import dedup_clusters
from ..operators.text import text_langid, text_quality_score  # noqa: F401 (survival_stats)
from ..operators._util import boundary, spread, t
from ..plans.catalog import register

QUALITY_THRESHOLD = 0.55
ALLOWED_LANGS = ("en",)


def clean_corpus(
    spark: SparkSession,
    sf_dir: str,
    quality_threshold: float = QUALITY_THRESHOLD,
    allowed_langs: tuple[str, ...] = ALLOWED_LANGS,
    candidates: str = "exact",
) -> DataFrame:
    """Cleaned corpus: doc_id + text + the per-stage signals that kept it.

    Round 13: the quality and langid signals are pure map-side
    expressions, so they compute INLINE in the document scan instead of
    as two doc_id shuffle joins against their standalone operators (the
    expression cores are shared — operators/text._quality_exprs /
    _langid_pred_expr — and the nested corpus_clean oracle gates any
    drift). The one remaining join is the near-dup cluster table, which
    genuinely needs corpus-wide candidate generation. At 100 TB this
    turns the clean stage from three shuffles over the corpus into one
    scan + one join.

    ``candidates`` selects the cluster table's PAIR stage (VERDICT r13
    item 1): "exact" keeps dedup_clusters' shared-shingle inverted-
    index pairs (the oracle-recall shape, quadratic in shingle posting
    occupancy — the one exact-pair term left in the repo, fixture-scale
    only); "lsh" feeds the same connected-components loop from BANDED
    minhash_lsh_pairs (lsh_cluster_frame — candidate mass bounded by
    near-dup density, the 100 TB shape, corpus_pipeline_e2e_lsh's
    clean stage)."""
    from ..operators.graph import lsh_cluster_frame
    from ..operators.text import _langid_pred_expr, _quality_exprs

    _ns, _sr, _ttr, score = _quality_exprs()
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        score.alias("quality_score"),
        _langid_pred_expr().alias("predicted_lang"),
    )
    if candidates == "exact":
        clusters = dedup_clusters(spark, sf_dir)
    elif candidates == "lsh":
        clusters = lsh_cluster_frame(spark, sf_dir)
    else:
        raise ValueError(f"unknown candidates mode: {candidates!r}")
    clusters = clusters.select("doc_id", "cluster_id", "is_canonical")
    return docs.join(clusters, "doc_id").filter(
        (F.col("quality_score") >= quality_threshold)
        & F.col("predicted_lang").isin(*allowed_langs)
        & (F.col("is_canonical") == 1)
    )


def survival_stats(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Per-stage survivor counts (one job per stage; diagnostic helper)."""
    docs = t(spark, sf_dir, "documents")
    quality = text_quality_score(spark, sf_dir).filter(
        F.col("quality_score") >= QUALITY_THRESHOLD
    )
    lang = text_langid(spark, sf_dir).filter(
        F.col("predicted_lang").isin(*ALLOWED_LANGS)
    )
    return {
        "input": docs.count(),
        "pass_quality": quality.count(),
        "pass_lang": lang.count(),
        "cleaned": clean_corpus(spark, sf_dir).count(),
    }


def _compose_oracle(candidates: str = "exact") -> str:
    """One DuckDB query re-stating the composition from the stage
    oracles. ``candidates`` mirrors clean_corpus: "lsh" swaps the
    cluster subquery's pair term onto the banded-LSH recursive closure
    (_sql_cc_lsh_ctes) — the composition law is identical, only the
    edge list differs."""
    from ..operators.graph import _sql_cc_lsh_ctes
    from ..plans.catalog import all_specs

    specs = all_specs()
    q = specs["text_quality_score"].oracle
    lg = specs["text_langid"].oracle
    if candidates == "exact":
        cl = specs["dedup_clusters"].oracle
    else:
        cl = f"""
        WITH RECURSIVE {_sql_cc_lsh_ctes()}
        SELECT node AS doc_id, MIN(lbl) AS cluster_id,
               CAST(node = MIN(lbl) AS INTEGER) AS is_canonical
        FROM reach GROUP BY node
        """
    langs = ", ".join(f"'{x}'" for x in ALLOWED_LANGS)
    return f"""
    SELECT d.doc_id, d.text, q.quality_score, l.predicted_lang,
           c.cluster_id, c.is_canonical
    FROM documents d
    JOIN ({q}) q ON q.doc_id = d.doc_id
    JOIN ({lg}) l ON l.doc_id = d.doc_id
    JOIN ({cl}) c ON c.doc_id = d.doc_id
    WHERE q.quality_score >= {QUALITY_THRESHOLD}
      AND l.predicted_lang IN ({langs})
      AND c.is_canonical = 1
    """


@register(
    "corpus_clean",
    oracle=_compose_oracle(),
    tags=("pipeline", "dedup", "text"),
    doc="Composed corpus-cleaning pipeline: quality filter + language "
    "filter + canonical-only dedup, every stage the already-oracle-gated "
    "operator, the composition itself gated by nesting the stage oracles "
    "into one DuckDB query.",
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean_corpus(spark, sf_dir).select(
        "doc_id",
        "text",
        "quality_score",
        "predicted_lang",
        "cluster_id",
        "is_canonical",
    )


def _e2e_oracle(candidates: str = "exact") -> str:
    """The production chain as ONE DuckDB query, every stage the nested
    oracle of its already-gated operator: clean (quality+lang+canonical)
    → corpus-wide line dedup → MinHash-LSH near-dup verdicts (greedy
    keep-lowest-id: any doc appearing as the higher id of a near-dup
    pair drops) → RAG chunking → deterministic shard manifest.
    ``candidates`` selects the clean stage's cluster pair term, exactly
    as in _compose_oracle."""
    from ..functions.hashing import sql_hash60
    from ..operators.dedup import _sql_lsh_oracle
    from ..operators.text import _chunk_oracle, _line_dedup_oracle
    from .training import _N_SHARDS

    return f"""
    WITH cleaned AS (SELECT doc_id, text FROM ({_compose_oracle(candidates)}) cc),
    lined AS MATERIALIZED (
        SELECT doc_id, clean_text AS text
        FROM ({_line_dedup_oracle("cleaned")}) ld
        WHERE len(clean_text) > 0
    ),
    pairs AS (SELECT d1, d2 FROM ({_sql_lsh_oracle("lined")}) pp),
    kept AS (
        SELECT l.doc_id, l.text FROM lined l
        WHERE l.doc_id NOT IN (SELECT d2 FROM pairs)
    ),
    chunks AS (SELECT * FROM ({_chunk_oracle("kept")}) ch)
    SELECT CAST({sql_hash60("'shard:' || CAST(doc_id AS VARCHAR)")}
               % {_N_SHARDS} AS BIGINT) AS shard_id,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(len(chunk_text)) AS BIGINT) AS n_chars,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM chunks
    GROUP BY 1
    """


@register(
    "corpus_pipeline_e2e",
    bench=True,
    oracle=_e2e_oracle(),
    tags=("pipeline", "dedup", "text", "training"),
    doc="The COMPOSED production corpus pipeline under one plan and one "
    "oracle (VERDICT r12 item 1): raw documents → corpus_clean "
    "(quality + language + canonical-only near-dup) → corpus-wide "
    "C4-style line dedup (empty-after-dedup docs drop at this stage "
    "boundary) → MinHash-LSH near-dup verdicts over the LINE-DEDUPED "
    "text (greedy keep-lowest-id: a doc that appears as the higher id "
    "of any ≥threshold pair drops — the standard streaming-dedup "
    "verdict rule, one anti-join) → overlapping-window RAG chunking → "
    "deterministic hash-sharded export manifest. Every stage is the "
    "SAME frame-level core its standalone catalog query runs "
    "(line_dedup, minhash_lsh_pairs, chunk_for_rag), and the oracle "
    "nests the stage oracles verbatim with only the source relation "
    "re-pointed — the composition, not just the stages, is what the "
    "hash gate checks. Interfaces this exercises: clean_text='' "
    "accounting rows, sub-3-word docs that cannot shingle (no "
    "signature → auto-keep, both engines), and chunk coordinates over "
    "REWRITTEN text. Plan shape: the two multi-consumer stage "
    "boundaries (cleaned, lined) are eager plan boundaries "
    "(operators/_util.boundary) so no stage re-scans the raw corpus and "
    "no self-join plan copy re-embeds it; all "
    "shuffles are keyed (doc_id, line digest, band key, shard id); no "
    "row-UDFs anywhere (repo-wide BatchEvalPython pin). At 100 TB each "
    "boundary becomes a durable parquet hand-off via the SHIPPED runner "
    "mode corpus_pipeline_run(materialize_dir=...) — same stage "
    "kernels, resumable from the last completed stage, value-identical "
    "output (round 14).",
)
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _e2e_frame(spark, sf_dir, candidates="exact")


def _stage_lined(cleaned: DataFrame) -> DataFrame:
    """Corpus-wide C4-style line dedup over the cleaned boundary;
    empty-after-dedup docs drop at this stage edge."""
    from ..operators.text import line_dedup

    return (
        line_dedup(cleaned)
        .select("doc_id", F.col("clean_text").alias("text"))
        .filter(F.length("text") > 0)
    )


def _stage_kept(lined: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup verdicts over the lined boundary — greedy
    keep-lowest-id: a doc appearing as the higher id of any ≥threshold
    pair drops (one anti-join)."""
    from ..operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(lined)
    drops = pairs.select(F.col("d2").alias("doc_id")).distinct()
    return lined.join(drops, "doc_id", "left_anti")


def _stage_manifest(kept: DataFrame) -> DataFrame:
    """RAG chunking + deterministic hash-sharded export manifest."""
    from ..functions.hashing import hash60
    from ..operators.text import chunk_for_rag
    from .training import _N_SHARDS

    chunks = chunk_for_rag(kept)
    shard = (
        hash60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % _N_SHARDS
    ).alias("shard_id")
    return chunks.groupBy(shard).agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.length("chunk_text")).cast("long").alias("n_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _e2e_frame(
    spark: SparkSession, sf_dir: str, candidates: str = "exact"
) -> DataFrame:
    """The shared e2e chain; ``candidates`` parameterizes ONLY the clean
    stage's cluster pair term (exact shared-shingle vs banded LSH). The
    stage kernels are module-level so corpus_pipeline_run drives the
    SAME code over durable parquet boundaries.

    Stage boundaries are eager ``boundary()`` calls: each boundary frame
    is consumed by several downstream plan copies (lined feeds the LSH
    verdict self-join AND the kept anti-join), and the r15 driver-side
    profile showed the untruncated chain spending more wall on Catalyst
    plan clone/analysis than on execution. This is the in-memory analog
    of corpus_pipeline_run's durable parquet hand-offs. The boundary
    frames are O(corpus) executor-stored state, so at 100 TB with
    executor churn either run the chain through corpus_pipeline_run (the
    stated scale path) or use ``boundary()``'s reliable mode (contract
    pinned in tests/test_corpus_pipeline.py)."""
    cleaned = boundary(
        clean_corpus(spark, sf_dir, candidates=candidates).select("doc_id", "text")
    )
    lined = boundary(_stage_lined(cleaned))
    return _stage_manifest(_stage_kept(lined))


def corpus_pipeline_run(
    spark: SparkSession,
    sf_dir: str,
    materialize_dir: str,
    candidates: str = "exact",
) -> DataFrame:
    """The e2e chain with DURABLE stage boundaries — the 100 TB runner
    mode corpus_pipeline_e2e's docstring promises (VERDICT r13 item 6):
    each stage boundary (cleaned → lined → kept → manifest) lands as a
    parquet hand-off whose _SUCCESS marker is its completion record,
    and a restarted run RESUMES from the last completed stage instead
    of recomputing the chain. Same stage kernels as the in-memory
    chain, so the returned manifest is value-identical to
    corpus_pipeline_e2e (pinned in tests/test_corpus_pipeline.py);
    the caches just become parquet edges, exactly as documented.

    Crash discipline: a stage that dies mid-write leaves a torn dir
    (no _SUCCESS — Spark writes the marker after the files), and the
    retry's mode("overwrite") replaces it; completed stages are never
    recomputed OR rewritten. A params marker records (sf_dir,
    candidates); resuming the same materialize_dir under different
    inputs fails loudly instead of silently composing boundaries from
    two different runs.

    Control plane goes through the Hadoop FileSystem API (r15 —
    VERDICT r14 finding 2): the data already moved through
    spark.read/write.parquet, which accepts any Hadoop FS URI, but the
    params marker and _SUCCESS probes used local open()/os.path — the
    same local-IO-on-a-URI class as reference bug B4. With both planes
    on the Hadoop API, materialize_dir may be a local path, file: URI,
    or any object-store scheme the session's Hadoop conf can reach
    (for s3-like stores without atomic create, the params marker's
    create(overwrite=False) claim degrades to last-writer-wins — the
    single-runner-per-dir contract below is what actually guards
    concurrent runs, as in ann_index's object-store note). Concurrent
    runs on one materialize_dir remain OUTSIDE the contract: resume
    handles crash-then-retry, not two live writers racing the same
    stage dirs (ADVICE r14)."""
    import json

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _hpath(*parts: str):
        return jvm.org.apache.hadoop.fs.Path("/".join(parts))

    def _fs(p):
        return p.getFileSystem(hconf)

    params = {"sf_dir": sf_dir, "candidates": candidates}
    pfile = _hpath(materialize_dir, "params.json")
    fs = _fs(pfile)
    if fs.exists(pfile):
        stream = fs.open(pfile)
        try:
            # IOUtils drains the stream fully regardless of FS block size.
            raw = bytes(
                jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
            )
        finally:
            stream.close()
        prior = json.loads(raw.decode("utf-8"))
        if prior != params:
            raise ValueError(
                f"materialize_dir {materialize_dir} holds boundaries for "
                f"{prior}, not {params}: refusing a mixed-input resume"
            )
    else:
        fs.mkdirs(_hpath(materialize_dir))
        out = fs.create(pfile, False)  # no-overwrite claim, as before
        try:
            out.write(bytearray(json.dumps(params).encode("utf-8")))
        finally:
            out.close()
    stages = (
        ("cleaned", lambda _: clean_corpus(
            spark, sf_dir, candidates=candidates
        ).select("doc_id", "text")),
        ("lined", _stage_lined),
        ("kept", _stage_kept),
        ("manifest", _stage_manifest),
    )
    prev: DataFrame | None = None
    for name, fn in stages:
        d = f"{materialize_dir}/{name}"
        if not _fs(_hpath(d)).exists(_hpath(d, "_SUCCESS")):
            fn(prev).write.mode("overwrite").parquet(d)
        prev = spark.read.parquet(d)
    return prev


@register(
    "corpus_pipeline_e2e_lsh",
    bench=True,
    oracle=_e2e_oracle(candidates="lsh"),
    tags=("pipeline", "dedup", "text", "training"),
    doc="corpus_pipeline_e2e with the clean stage's near-dup cluster "
    "input swapped onto BANDED MinHash-LSH candidates (lsh_cluster_frame "
    "— VERDICT r13 item 1): the exact shared-shingle pair join was the "
    "chain's entire sf10 cost and its only spill, with pair mass "
    "Σ occ² over shingle postings (Zipfian-hostile at corpus scale); "
    "the banded candidate stage bounds pair mass by true near-dup "
    "density, the same retirement every other dedup family already "
    "made. Identical composition law — quality/lang filters, connected-"
    "components closure, keep-min-id verdicts, line dedup, LSH verdict "
    "pass over lined text, RAG chunking, hash-sharded manifest — and "
    "the oracle nests the SAME stage oracles with only the cluster "
    "subquery's pair term re-pointed at the recursive closure over "
    "_sql_lsh_oracle. This is the deployment row; the exact-pair twin "
    "remains the oracle-recall fixture row.",
)
def corpus_pipeline_e2e_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _e2e_frame(spark, sf_dir, candidates="lsh")


def corpus_checks(min_docs: int = 1, max_empty_docs: int = 0) -> list:
    """Declarative QC seed for the documents corpus — the reference's
    check taxonomy (row counts, null audits, consistency) applied to the
    training-data side of the house. Evaluated single-pass by qc.evaluate
    like the nrg pipeline's checks."""
    from pyspark.sql import functions as F

    from .. import qc

    return [
        qc.row_count_min("documents", min_docs),
        qc.null_count("documents", "doc_id"),
        qc.null_count("documents", "text"),
        qc.null_count("documents", "lang"),
        qc.Check(
            name="documents_empty_text",
            table="documents",
            agg=F.count_if(F.length("text") == 0),
            op="<=",
            expected=max_empty_docs,
        ),
        qc.Check(
            name="documents_n_chars_consistent",
            table="documents",
            agg=F.count_if(F.length("text") != F.col("n_chars")),
            op="==",
            expected=0,
        ),
        qc.Check(
            name="documents_doc_id_unique",
            table="documents",
            agg=F.count(F.lit(1)) - F.count_distinct(F.col("doc_id")),
            op="==",
            expected=0,
        ),
    ]


@register(
    "qc_documents_audit",
    bench=True,
    oracle="""
    WITH m AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS id_nulls,
               COUNT(CASE WHEN text IS NULL THEN 1 END) AS text_nulls,
               COUNT(CASE WHEN lang IS NULL THEN 1 END) AS lang_nulls,
               COUNT(CASE WHEN length(text) = 0 THEN 1 END) AS empty_text,
               COUNT(CASE WHEN length(text) != n_chars THEN 1 END) AS bad_len,
               COUNT(*) - COUNT(DISTINCT doc_id) AS dup_ids
        FROM documents
    )
    SELECT * FROM (
        SELECT 'documents_row_count_min_1' AS check_name,
               CAST(n_rows AS BIGINT) AS actual, CAST(1 AS BIGINT) AS expected,
               '>=' AS op, n_rows >= 1 AS passed FROM m
        UNION ALL
        SELECT 'documents_doc_id_nulls', CAST(id_nulls AS BIGINT),
               CAST(0 AS BIGINT), '==', id_nulls = 0 FROM m
        UNION ALL
        SELECT 'documents_text_nulls', CAST(text_nulls AS BIGINT),
               CAST(0 AS BIGINT), '==', text_nulls = 0 FROM m
        UNION ALL
        SELECT 'documents_lang_nulls', CAST(lang_nulls AS BIGINT),
               CAST(0 AS BIGINT), '==', lang_nulls = 0 FROM m
        UNION ALL
        SELECT 'documents_empty_text', CAST(empty_text AS BIGINT),
               CAST(0 AS BIGINT), '<=', empty_text <= 0 FROM m
        UNION ALL
        SELECT 'documents_n_chars_consistent', CAST(bad_len AS BIGINT),
               CAST(0 AS BIGINT), '==', bad_len = 0 FROM m
        UNION ALL
        SELECT 'documents_doc_id_unique', CAST(dup_ids AS BIGINT),
               CAST(0 AS BIGINT), '==', dup_ids = 0 FROM m
    )
    """,
    tags=("qc", "pipeline"),
    doc="The declarative QC framework with driver-visible evidence: the "
    "documents corpus_checks (row count, null audits, empty-text cap, "
    "n_chars consistency, key uniqueness) evaluated through "
    "qc.audit_frame — ONE fused aggregate scan, every check one "
    "aggregate column, unpivoted row-locally to (check, actual, "
    "expected, op, passed) — against an oracle that recomputes each "
    "audit from scratch. This is the reference's check taxonomy "
    "(rows_count/nulls_count, bugs B1/B2/B3/B7 fixed) as a distributed "
    "result set rather than collected driver scalars.",
)
def qc_documents_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import qc

    docs = t(spark, sf_dir, "documents")
    return qc.audit_frame(docs, corpus_checks())


def _compose_training_card_oracle() -> str:
    """clean -> hash-split -> per-split card, re-stated from the stage
    oracles (the clean composition nests three operator oracles; the
    split is the same hash60 rule train_split_assign gates)."""
    from ..pipelines.training import _SQL_SPLIT_KEY
    from ..functions.hashing import sql_hash60

    return f"""
    WITH cleaned AS ({_compose_oracle()})
    SELECT CASE WHEN {sql_hash60(_SQL_SPLIT_KEY)} % 100 < 90 THEN 'train'
                WHEN {sql_hash60(_SQL_SPLIT_KEY)} % 100 < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM cleaned
    GROUP BY split
    """


@register(
    "corpus_training_card",
    oracle=_compose_training_card_oracle(),
    tags=("pipeline", "training", "text"),
    doc="End-to-end training-data pipeline card — the capstone "
    "composition a user of this engine actually ships: the CLEANED "
    "corpus (quality + language + canonical-dedup, each stage the "
    "oracle-gated operator) flows through the hash-deterministic "
    "90/5/5 split (train_split_assign's exact rule) into a per-split "
    "dataset card (docs, tokens, chars, id range). The oracle nests "
    "ALL FOUR stage oracles into one DuckDB query, so the gate covers "
    "the composition — filters composed with splits composed with "
    "aggregation — not just the stages. Scale shape: every stage keys "
    "on doc_id (one reusable partitioning); the split is a row-local "
    "hash; the card is a 3-row aggregate. A regression anywhere in "
    "the four-stage chain moves a count or token total here.",
)
def corpus_training_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash60
    from ..pipelines.training import _salted

    cleaned = clean_corpus(spark, sf_dir).select("doc_id", "text")
    bucket = hash60(_salted("split:")) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        cleaned.select(
            "doc_id",
            split.alias("split"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# --- Referential-integrity audit ---------------------------------------------

# Every FK edge in the fixture star schema: (edge name, child table, FK
# column, parent table, PK column). One audit row per edge.
_FK_EDGES = (
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "qc_fk_orphans",
    bench=True,
    oracle="\n    UNION ALL ".join(
        f"""SELECT '{edge}' AS edge,
               (SELECT COUNT(*) FROM {child}) AS n_child_rows,
               (SELECT COUNT(*) FROM {child}
                 WHERE {fk} IS NOT NULL
                   AND {fk} NOT IN (SELECT {pk} FROM {parent}
                                     WHERE {pk} IS NOT NULL)) AS n_orphans,
               (SELECT COUNT(*) FROM {child} WHERE {fk} IS NULL)
                   AS n_null_fk
        """
        for edge, child, fk, parent, pk in _FK_EDGES
    )
    + "\n    ORDER BY edge",
    tags=("qc", "join"),
    doc="Referential-integrity audit — every FK edge of the star schema "
    "in one report: child rows, orphaned FKs (non-null value with no "
    "parent row), and NULL FKs (legal but counted separately, since "
    "NOT IN and anti-join agree only when the probe side is null-"
    "filtered). Each edge is a LEFT ANTI join of the null-filtered FK "
    "column against the parent's key projection (anti-join semantics "
    "are immune to duplicated parent keys) plus one cheap single-column "
    "stats aggregate; empty tables report 0, not NULL. A single-pass "
    "LEFT-join rewrite was A/B'd and measured slower (BASELINE.md "
    "round 8). Bounded dimensions broadcast by hint, scaling parents "
    "(orders at 100 TB is a fact, not a dim) left to AQE's size-based "
    "broadcast-vs-shuffle decision. This is "
    "the audit that decides whether downstream inner joins silently "
    "drop rows; at 100 TB it rides the same scan the QC framework "
    "already makes (counts are one number per edge, results KB-sized). "
    "Defect paths (orphan + NULL FK) pinned on a crafted star in "
    "tests/test_audit_scrub.py.",
)
def qc_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for edge, child, fk, parent, pk in _FK_EDGES:
        c = t(spark, sf_dir, child)
        p = t(spark, sf_dir, parent).select(F.col(pk).alias("__pk"))
        # Hint broadcast only for the bounded dimensions; the other
        # parents (orders/customer/part/supplier) scale with the data,
        # so Catalyst/AQE picks broadcast-vs-shuffle from actual size.
        if parent in ("nation", "region"):
            p = F.broadcast(p)
        # LEFT ANTI keeps per-child-row semantics even when the parent
        # key is duplicated (no de-dup pass needed), and an interleaved
        # A/B (BASELINE.md round 8) measured it faster than the
        # single-pass LEFT-join rewrite — the extra stats aggregate is a
        # cheap one-column columnar scan.
        orphans = (
            c.filter(F.col(fk).isNotNull())
            .join(p, F.col(fk) == F.col("__pk"), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        # coalesce keeps an EMPTY child table at 0, matching the
        # oracle's scalar COUNT subqueries — an audit must not report
        # NULL on exactly the zero-row feed it exists to catch.
        stats = c.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            F.coalesce(
                F.sum(F.col(fk).isNull().cast("long")), F.lit(0).cast("long")
            ).alias("n_null_fk"),
        )
        frames.append(
            stats.crossJoin(orphans).select(
                F.lit(edge).alias("edge"),
                "n_child_rows",
                "n_orphans",
                "n_null_fk",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("edge")


# --- Primary-key uniqueness audit --------------------------------------------

# (table, PK column(s)) for every fixture table with a declared key.
_PK_EDGES = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


@register(
    "qc_pk_duplicates",
    oracle="\n    UNION ALL ".join(
        f"""SELECT '{table}' AS tbl,
               (SELECT COUNT(*) FROM {table}) AS n_rows,
               (SELECT COUNT(*) FROM
                   (SELECT 1 FROM {table} GROUP BY {", ".join(pk)}))
                   AS n_distinct_keys,
               CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
                   (SELECT COUNT(*) AS c FROM {table}
                    GROUP BY {", ".join(pk)} HAVING COUNT(*) > 1))
                   AS BIGINT) AS n_excess_rows
        """
        for table, pk in _PK_EDGES
    )
    + "\n    ORDER BY tbl",
    tags=("qc", "agg"),
    doc="Primary-key uniqueness audit — the PK half of the integrity "
    "pair (qc_fk_orphans is the FK half): for every table with a "
    "declared key, row count, distinct-key count, and the number of "
    "EXCESS rows duplicate keys contribute (what a dedup would delete; "
    "0 = clean). One hash aggregate per table at the key grain — the "
    "same shuffle any downstream groupBy pays anyway — and lineitem "
    "demonstrates the composite-key case: the synthetic generator does "
    "NOT enforce TPC-H's (l_orderkey, l_linenumber) key, and the audit "
    "surfaces those collisions as a real nonzero finding (14k excess "
    "rows at sf0.01) rather than assuming cleanliness. Runs before upserts and "
    "joins that assume key semantics: a duplicated PK silently turns "
    "every downstream equi-join into a row multiplier, which is "
    "exactly how fact tables explode at 100 TB. Defect path pinned on "
    "a crafted dirty star in tests/test_audit_scrub.py.",
)
def qc_pk_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for table, pk in _PK_EDGES:
        c = t(spark, sf_dir, table)
        per_key = c.groupBy(*pk).agg(F.count(F.lit(1)).alias("c"))
        agg = per_key.agg(
            F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct_keys"),
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, F.col("c") - 1)),
                F.lit(0).cast("long"),
            ).alias("n_excess_rows"),
        )
        frames.append(agg.select(F.lit(table).alias("tbl"), "*"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("tbl")


# --- Column profile audit ----------------------------------------------------

# (column, portable min/max rendering). Doubles render as exact integer
# cents and dates as ISO strings because CAST(DOUBLE AS VARCHAR) is the
# one formatting the two engines do NOT agree on.
_PROFILE_COLS = (
    ("o_orderkey", "CAST({c} AS VARCHAR)"),
    ("o_custkey", "CAST({c} AS VARCHAR)"),
    ("o_orderstatus", "{c}"),
    ("o_totalprice", "CAST(CAST(floor({c} * 100) AS BIGINT) AS VARCHAR)"),
    ("o_orderdate", "CAST(CAST({c} AS DATE) AS VARCHAR)"),
    ("o_orderpriority", "{c}"),
)


@register(
    "qc_orders_profile",
    oracle="""
    WITH m AS (SELECT
    """
    + ",\n    ".join(
        f"""COUNT({c}) AS nn_{c}, COUNT(*) - COUNT({c}) AS nl_{c},
        COUNT(DISTINCT {c}) AS nd_{c},
        {render.format(c=f"MIN({c})")} AS mn_{c},
        {render.format(c=f"MAX({c})")} AS mx_{c}"""
        for c, render in _PROFILE_COLS
    )
    + """
    FROM orders)
    SELECT * FROM (
    """
    + "\n    UNION ALL ".join(
        f"""SELECT '{c}' AS col, CAST(nn_{c} + nl_{c} AS BIGINT) AS n_rows,
               CAST(nl_{c} AS BIGINT) AS n_null,
               CAST(nd_{c} AS BIGINT) AS n_distinct,
               mn_{c} AS min_val, mx_{c} AS max_val FROM m"""
        for c, _ in _PROFILE_COLS
    )
    + """
    ) ORDER BY col
    """,
    tags=("qc", "agg"),
    doc="Per-column profile of the orders table — the third leg of the "
    "integrity tripod (qc_fk_orphans = FK, qc_pk_duplicates = PK, this "
    "= column content): for every column, exact row/null/distinct "
    "counts plus min/max rendered through engine-portable forms "
    "(integers and strings verbatim, doubles as exact integer cents, "
    "dates as ISO strings — double-to-string CAST is the one rendering "
    "Spark and DuckDB disagree on, so it never appears; aggregation "
    "happens on the native value and only the RESULT is rendered, so "
    "min/max are never lexicographic). ONE fused "
    "aggregate scan computes all 30 metrics, then a row-local unpivot "
    "emits the (column, metric) frame. Cost note, measured at sf0.1: "
    "the six EXACT distincts dominate (2.6s of 4.6s) because "
    "multi-distinct plans through Expand — a 6x scan fan-out that is "
    "the honest price of oracle-exact distinct counts; at 100 TB swap "
    "count_distinct for approx_count_distinct (one pass, no Expand, "
    "the approx_sketches path) and keep the rest of the profile "
    "identical — the qc_documents_audit "
    "shape applied to schema profiling, the first thing a warehouse "
    "runs against a new feed before trusting its joins or its stats.",
)
def qc_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    # Aggregate on the NATIVE value, render the aggregate — min/max on
    # the stringified value would be lexicographic (max custkey "999").
    renders = {
        "o_orderkey": lambda a: a.cast("string"),
        "o_custkey": lambda a: a.cast("string"),
        "o_orderstatus": lambda a: a,
        "o_totalprice": lambda a: F.floor(a * 100).cast("bigint").cast("string"),
        "o_orderdate": lambda a: a.cast("date").cast("string"),
        "o_orderpriority": lambda a: a,
    }
    aggs = []
    for c, _ in _PROFILE_COLS:
        aggs += [
            F.count(F.col(c)).alias(f"nn_{c}"),
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"nl_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            renders[c](F.min(F.col(c))).alias(f"mn_{c}"),
            renders[c](F.max(F.col(c))).alias(f"mx_{c}"),
        ]
    m = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nn_{c} + nl_{c}, nl_{c}, nd_{c}, mn_{c}, mx_{c}"
        for c, _ in _PROFILE_COLS
    )
    return (
        m.select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack}) AS "
                "(col, n_rows, n_null, n_distinct, min_val, max_val)"
            )
        )
        .orderBy("col")
    )


# --- Approx column profile (HLL registers, no Expand) --------------------------

# The exact profile above pays multi-COUNT(DISTINCT)'s Expand: a 6x scan
# fan-out whose shuffle carries every distinct value. This twin replaces
# the distincts with a RELATIONAL HyperLogLog — deterministic hash60 into
# _HLL_M registers, max rho per register, integer-exact 2^(51-rho) sums —
# so the estimate itself is oracle-gated to the bit (the KMV precedent,
# approx_kmv_distinct): the only float steps are one literal/S division
# (verified IEEE-identical across engines) and a PRECOMPUTED linear-
# counting literal table (native ln diverges between engines in the last
# ulp on 302/4096 probed inputs, so ln never executes in either engine —
# both look the value up from the same Python-rendered literal).
#
# Scale story (the reason this twin exists): registers aggregate
# map-side to at most _HLL_M rows per (table, column) per partition, so
# the shuffle is O(columns x 1024) REGARDLESS of data size, and register
# frames from different shards MERGE by max(rho) — the 100 TB profile is
# this exact plan; the exact variant (qc_orders_profile) stays as the
# small-data oracle baseline.

_HLL_M = 1024                      # registers per column: rsd ~3.2%
_HLL_W_BITS = 51                   # hash60 minus 10 bucket bits + 1
# alpha_m * m^2 * 2^51 as ONE literal: both engines parse the identical
# decimal string, so raw = _LIT / S is a single shared-literal division.
_HLL_LIT = repr(0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * 2.0**51)
_HLL_LC_CUTOFF = 2.5 * _HLL_M      # below this, linear counting wins


def _hll_lc_table() -> list[tuple[int, float]]:
    """(m0, m*ln(m/m0)) for every possible zero-register count — ln runs
    HERE once, and both engines consume the rendered literals."""
    import math

    return [(m0, _HLL_M * math.log(_HLL_M / m0)) for m0 in range(1, _HLL_M + 1)]


# (table, column, kind) — kind picks the engine-portable string rendering
# used BOTH for min/max output and as the hash input: ints verbatim,
# doubles as exact integer cents (CAST DOUBLE->VARCHAR is the one
# rendering the engines disagree on), timestamps as ISO dates.
_APPROX_PROFILE = (
    ("orders", "o_orderkey", "int"),
    ("orders", "o_custkey", "int"),
    ("orders", "o_orderstatus", "str"),
    ("orders", "o_totalprice", "money"),
    ("orders", "o_orderdate", "date"),
    ("orders", "o_orderpriority", "str"),
    ("customer", "c_custkey", "int"),
    ("customer", "c_nationkey", "int"),
    ("customer", "c_acctbal", "money"),
    ("customer", "c_mktsegment", "str"),
    ("part", "p_partkey", "int"),
    ("part", "p_brand", "str"),
    ("part", "p_size", "int"),
    ("part", "p_retailprice", "money"),
    ("supplier", "s_suppkey", "int"),
    ("supplier", "s_nationkey", "int"),
    ("supplier", "s_acctbal", "money"),
    ("lineitem", "l_orderkey", "int"),
    ("lineitem", "l_quantity", "money"),
    ("lineitem", "l_shipdate", "date"),
    ("lineitem", "l_returnflag", "str"),
)

_PROFILE_TABLES = tuple(dict.fromkeys(tbl for tbl, _, _ in _APPROX_PROFILE))


def _render_sql(kind: str, expr: str) -> str:
    if kind == "int":
        return f"CAST({expr} AS VARCHAR)"
    if kind == "money":
        return f"CAST(CAST(floor({expr} * 100) AS BIGINT) AS VARCHAR)"
    if kind == "date":
        return f"CAST(CAST({expr} AS DATE) AS VARCHAR)"
    return expr


def _render_spark(kind: str, col):
    if kind == "int":
        return col.cast("string")
    if kind == "money":
        return F.floor(col * 100).cast("bigint").cast("string")
    if kind == "date":
        return col.cast("date").cast("string")
    return col


def _approx_profile_oracle() -> str:
    from ..functions.hashing import sql_hash60

    vals = "\n        UNION ALL ".join(
        f"""SELECT '{tbl}' AS tbl, '{c}' AS col,
                {_render_sql(kind, c)} AS sval
            FROM {tbl} WHERE {c} IS NOT NULL"""
        for tbl, c, kind in _APPROX_PROFILE
    )
    stats = "\n        UNION ALL ".join(
        f"""SELECT '{tbl}' AS tbl, '{c}' AS col,
                COUNT(*) AS n_rows,
                COUNT(*) - COUNT({c}) AS n_null,
                {_render_sql(kind, f"MIN({c})")} AS min_val,
                {_render_sql(kind, f"MAX({c})")} AS max_val
            FROM {tbl}"""
        for tbl, c, kind in _APPROX_PROFILE
    )
    # CAST through VARCHAR: a bare decimal literal in VALUES parses as
    # DECIMAL in DuckDB and re-rounds on the way to DOUBLE; the string
    # parse is the correctly-rounded shortest-repr round-trip.
    lc_rows = ", ".join(
        f"({m0}, CAST('{est!r}' AS DOUBLE))" for m0, est in _hll_lc_table()
    )
    h = sql_hash60("'prof:' || col || ':' || sval")
    return f"""
    WITH vals AS (
        {vals}
    ),
    regs AS (
        SELECT tbl, col, h % {_HLL_M} AS bucket,
               MAX(CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W_BITS}
                        ELSE {_HLL_W_BITS} - length(bin(h // {_HLL_M}))
                   END) AS mrho
        FROM (SELECT tbl, col, {h} AS h FROM vals)
        GROUP BY tbl, col, bucket
    ),
    sk AS (
        SELECT tbl, col,
               SUM(CAST(1 AS BIGINT) << ({_HLL_W_BITS} - mrho))
                   + ({_HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {_HLL_W_BITS})
                   AS s,
               {_HLL_M} - COUNT(*) AS m0
        FROM regs GROUP BY tbl, col
    ),
    lc(m0, lc_est) AS (VALUES {lc_rows}),
    est AS (
        SELECT sk.tbl, sk.col,
               CASE WHEN sk.m0 > 0
                         AND {_HLL_LIT} / CAST(sk.s AS DOUBLE) <= {_HLL_LC_CUTOFF!r}
                    THEN lc.lc_est
                    ELSE {_HLL_LIT} / CAST(sk.s AS DOUBLE) END AS nd_approx
        FROM sk LEFT JOIN lc ON lc.m0 = sk.m0
    ),
    stats AS (
        {stats}
    )
    SELECT st.tbl, st.col,
           CAST(st.n_rows AS BIGINT) AS n_rows,
           CAST(st.n_null AS BIGINT) AS n_null,
           COALESCE(e.nd_approx, 0.0) AS nd_approx,
           st.min_val, st.max_val
    FROM stats st LEFT JOIN est e ON e.tbl = st.tbl AND e.col = st.col
    ORDER BY st.tbl, st.col
    """


@register(
    "qc_table_profile_approx",
    bench=True,
    oracle=_approx_profile_oracle(),
    tags=("qc", "agg", "sketch"),
    doc="Column profile across the star's five scaling tables with HLL "
    "distinct estimates — the 100 TB twin of qc_orders_profile: exact "
    "row/null counts and portable min/max from one fused aggregate per "
    "table (count/min/max need no Expand), plus a relational "
    f"HyperLogLog per column ({_HLL_M} registers over hash60, max-rho "
    "per register, integer-exact 2^(51-rho) sums so the ESTIMATE is "
    "oracle-gated bit-for-bit; linear-counting correction below "
    f"{_HLL_LC_CUTOFF:.0f} comes from a precomputed literal table "
    "because native ln diverges across engines in the last ulp). The "
    "register aggregation collapses map-side to <= 1024 rows per "
    "column per partition — the shuffle is O(columns x 1024) at any "
    "data size, and register frames merge by max(rho), which is the "
    "distributed-combine story multi-COUNT(DISTINCT)'s Expand plan "
    "cannot offer. The exact variant stays registered as the oracle "
    "baseline; accuracy vs exact pinned in tests/test_qc.py.",
)
def qc_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table_profile_approx(spark, sf_dir, hasher=None)


@register(
    "qc_table_profile_approx_xx",
    oracle=None,  # xxhash64 is Spark-engine-native — see rows-only policy below
    tags=("qc", "agg", "sketch"),
    doc="qc_table_profile_approx's 100 TB REGISTER-HASH variant: same "
    "fused exact stats + relational HLL, but the per-value register "
    "hash is Spark's built-in xxhash64 (codegen'd JVM integer mixing) "
    "masked to 60 bits, instead of md5-hex-parse — the swap "
    "BASELINE.md's affine-hash A/B named as the genuine scale path "
    "(the affine mix was DECLINED because equally-spaced hashes bias "
    "rho statistics; xxhash64 is a full-avalanche mixer, so the "
    "geometric-rho assumption holds). At 100 TB the hash is the "
    "profile's bill: one md5 per cell value is ~10 digest+hex-parse "
    "ops per row x columns, xxhash64 is a handful of multiply-rotate "
    "rounds inside whole-stage codegen. ROWS-ONLY BY POLICY: DuckDB "
    "has no xxhash64, so the estimate leaves the bit-exact oracle "
    "(same class as approx_sketches' engine-native sketch bytes); the "
    "gate is instead (a) ground-truth accuracy vs EXACT distinct "
    "counts pinned in tests/test_qc.py next to the md5 path — the "
    "re-validation the affine A/B taught is mandatory under a sketch "
    "estimator — and (b) the exact columns (n_rows/n_null/min/max) "
    "pinned equal to the oracle-gated md5 variant's. Register "
    "geometry, merge law, and linear-counting branch are byte-shared "
    "with the gated path (hll_registers/hll_estimates).",
)
def qc_table_profile_approx_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table_profile_approx(spark, sf_dir, hasher=_xx_hash60)


def _xx_hash60(c):
    """60-bit register hash from Spark's codegen'd xxhash64: mask the
    signed 64-bit mix to [0, 2^60) so the (bucket, rho) geometry is
    identical to hash60's 60-bit md5 prefix."""
    return F.xxhash64(c).bitwiseAND(F.lit((1 << 60) - 1))


def _table_profile_approx(spark: SparkSession, sf_dir: str, hasher) -> DataFrame:
    by_table: dict[str, list[tuple[str, str]]] = {}
    for tbl, c, kind in _APPROX_PROFILE:
        by_table.setdefault(tbl, []).append((c, kind))

    val_frames, stat_frames = [], []
    for tbl, cols in by_table.items():
        d = t(spark, sf_dir, tbl)
        # Render first (named projection), THEN stack on the rendered
        # names: stack() takes SQL text, and rendered-expression strings
        # would couple this builder to Column.toString round-trips.
        #
        # spread() BELOW the stack (r16): the fixture's five scans union
        # to ~7 input splits, so the md5 register hash — the profile's
        # dominant stage — ran on 7 of 32 cores (measured 4.7 s of the
        # row). Spreading the narrow rendered projection BEFORE stack
        # moves the k-way row fan-out and the per-value md5+conv work
        # behind a round-robin exchange that carries one row per SOURCE
        # row (not per stacked value), so the hash runs on every core.
        # The r15 attempt spread the post-stack 3.4 M-row frame and the
        # exchange ate the win; this one ships ~n rows of short strings.
        # Scale-adaptive per spread()'s partition-count guard: a 100 TB
        # scan already has thousands of splits and this is a no-op, so
        # the O(columns x 1024) register-shuffle story is unchanged.
        rendered = spread(
            d.select(
                *[_render_spark(kind, F.col(c)).alias(f"sv_{c}") for c, kind in cols]
            )
        )
        branches = ", ".join(f"'{c}', sv_{c}" for c, _ in cols)
        val_frames.append(
            rendered.select(
                F.lit(tbl).alias("tbl"),
                F.expr(f"stack({len(cols)}, {branches}) AS (col, sval)"),
            ).filter(F.col("sval").isNotNull())
        )
        aggs = []
        for c, kind in cols:
            aggs += [
                F.count(F.lit(1)).alias(f"nr_{c}"),
                (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"nl_{c}"),
                _render_spark(kind, F.min(F.col(c))).alias(f"mn_{c}"),
                _render_spark(kind, F.max(F.col(c))).alias(f"mx_{c}"),
            ]
        stacked = ", ".join(
            f"'{c}', nr_{c}, nl_{c}, mn_{c}, mx_{c}" for c, _ in cols
        )
        stat_frames.append(
            d.agg(*aggs).select(
                F.lit(tbl).alias("tbl"),
                F.expr(
                    f"stack({len(cols)}, {stacked}) AS "
                    "(col, n_rows, n_null, min_val, max_val)"
                ),
            )
        )

    vals = val_frames[0]
    for fme in val_frames[1:]:
        vals = vals.unionByName(fme)
    stats = stat_frames[0]
    for fme in stat_frames[1:]:
        stats = stats.unionByName(fme)

    est = hll_estimates(hll_registers(vals, hasher=hasher))
    return (
        stats.join(est, ["tbl", "col"], "left")
        .select(
            "tbl",
            "col",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_null").cast("long").alias("n_null"),
            F.coalesce(F.col("nd_approx"), F.lit(0.0)).alias("nd_approx"),
            "min_val",
            "max_val",
        )
        .orderBy("tbl", "col")
    )


def hll_registers(vals: DataFrame, hasher=None) -> DataFrame:
    """``(tbl, col, sval)`` → register frame ``(tbl, col, bucket, mrho)``.

    THE mergeable sketch state: registers from any sharding of the input
    combine by max(mrho) per (tbl, col, bucket) to exactly the
    whole-input registers — the distributed-combine law pinned in
    tests/test_qc.py::test_hll_registers_merge_law, and the reason the
    profile's shuffle stays O(columns x 1024) at any data size.

    ``hasher``: optional Column→Column producing a long in [0, 2^60)
    from the tagged value string; None → the portable md5 hash60 (the
    oracle-replayable default). The xxhash64 scale variant passes
    _xx_hash60 — same geometry, no DuckDB twin."""
    from ..functions.hashing import hash60

    hash_fn = hasher if hasher is not None else hash60
    h = hash_fn(F.concat(F.lit("prof:"), F.col("col"), F.lit(":"), F.col("sval")))
    w = F.expr(f"h div {_HLL_M}")
    rho = F.when(w == 0, F.lit(_HLL_W_BITS)).otherwise(
        F.lit(_HLL_W_BITS) - F.length(F.bin(w))
    )
    return (
        vals.select("tbl", "col", h.alias("h"))
        .select("tbl", "col", (F.col("h") % _HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("tbl", "col", "bucket")
        .agg(F.max("rho").alias("mrho"))
    )


def hll_estimates(regs: DataFrame) -> DataFrame:
    """Register frame → ``(tbl, col, nd_approx)``. Integer-exact
    2^(51-mrho) sums, one shared-literal division, literal-table linear
    counting — every step bit-reproducible in ANSI SQL (see the
    registration docstring)."""
    spark = regs.sparkSession
    sk = regs.groupBy("tbl", "col").agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_W_BITS} - mrho)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << _HLL_W_BITS).cast("long")
        ).alias("s"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("m0"),
    )
    lc = spark.createDataFrame(_hll_lc_table(), "m0 int, lc_est double")
    raw = F.expr(f"{_HLL_LIT} / CAST(s AS DOUBLE)")
    return sk.join(F.broadcast(lc), "m0", "left").select(
        "tbl",
        "col",
        F.when((F.col("m0") > 0) & (raw <= F.lit(_HLL_LC_CUTOFF)), F.col("lc_est"))
        .otherwise(raw)
        .alias("nd_approx"),
    )


# --- Epoch drift audit ---------------------------------------------------------

DRIFT_PIVOT = "1998-04-25"   # fixture midpoint; any fixed epoch boundary
# (column, category-rendering) pairs drift-audited over orders. Renders
# are engine-portable (strings verbatim; doubles bucketed by exact
# floor-division so the category label never stringifies a raw double).
_DRIFT_COLS = (
    ("o_orderpriority", "{c}"),
    ("o_orderstatus", "{c}"),
    ("o_totalprice", "CAST(CAST(floor({c} / 50000) AS BIGINT) AS VARCHAR)"),
)


@register(
    "qc_epoch_drift",
    oracle="""
    WITH cells AS (
    """
    + "\n        UNION ALL ".join(
        f"""SELECT '{c}' AS col, {render.format(c=c)} AS category,
               CAST(o_orderdate AS DATE) < DATE '{DRIFT_PIVOT}' AS early,
               COUNT(*) AS obs
            FROM orders GROUP BY 1, 2, 3"""
        for c, render in _DRIFT_COLS
    )
    + """
    ),
    tot AS (
        SELECT col, category,
               CAST(SUM(CASE WHEN early THEN obs ELSE 0 END) AS BIGINT) AS obs_early,
               CAST(SUM(CASE WHEN NOT early THEN obs ELSE 0 END) AS BIGINT) AS obs_late
        FROM cells GROUP BY col, category
    ),
    m AS (
        SELECT col, category, obs_early, obs_late,
               SUM(obs_early) OVER (PARTITION BY col) AS n_early,
               SUM(obs_late) OVER (PARTITION BY col) AS n_late,
               obs_early + obs_late AS cat_tot,
               SUM(obs_early + obs_late) OVER (PARTITION BY col) AS n
        FROM tot
    )
    SELECT col, category, obs_early, obs_late,
           CAST(n_early AS BIGINT) AS n_early,
           CAST(n_late AS BIGINT) AS n_late,
           CAST(CAST(obs_early AS HUGEINT) * n
                  - CAST(n_early AS HUGEINT) * cat_tot AS DOUBLE)
             * CAST(CAST(obs_early AS HUGEINT) * n
                      - CAST(n_early AS HUGEINT) * cat_tot AS DOUBLE)
             / (CAST(n_early AS DOUBLE)
                * CAST(n_late AS DOUBLE) * CAST(cat_tot AS DOUBLE))
               AS chi2_contrib
    FROM m
    ORDER BY col, category
    """,
    tags=("qc", "stats", "agg"),
    doc=f"Epoch drift audit — did the feed's value distributions change "
    f"between two time periods? For each audited column, per-category "
    f"observed counts before/after the {DRIFT_PIVOT} pivot plus the "
    "category's chi-square contribution to the 2xK homogeneity test — "
    "the 'did the upstream change' check a warehouse runs between "
    "snapshot loads, and the drift gate a training pipeline runs "
    "between data epochs before trusting mixture weights. Per-CATEGORY "
    "rows keep the gate exact (a12_chisquare_cells' discipline): the "
    "2xK cell difference obs_early*n - n_early*cat_tot is formed in "
    "decimal(38,0)/HUGEINT (the late cell's difference is exactly "
    "-diff, so one fixed expression diff^2/(cat_tot*n_early*n_late) "
    "sums both cells of the category in closed form — for a planted "
    "total shift the per-category contributions sum to n, the 2xK "
    "perfect-separation bound), and no float is ever summed across "
    "categories. ONE "
    "fused aggregate scan per audited column (the stack unpivot is "
    "row-local); every window after it runs on the category frame, "
    "bounded by the vocabulary, never the data. Drift sensitivity "
    "pinned on a planted-shift fixture in tests/test_qc.py.",
)
def qc_epoch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    renders = {
        "o_orderpriority": F.col("o_orderpriority"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": F.floor(F.col("o_totalprice") / 50000)
        .cast("bigint")
        .cast("string"),
    }
    rendered = o.select(
        (F.col("o_orderdate").cast("date") < F.lit(DRIFT_PIVOT).cast("date")).alias(
            "early"
        ),
        *[renders[c].alias(f"cat_{c}") for c, _ in _DRIFT_COLS],
    )
    branches = ", ".join(f"'{c}', cat_{c}" for c, _ in _DRIFT_COLS)
    cells = (
        rendered.select(
            "early",
            F.expr(f"stack({len(_DRIFT_COLS)}, {branches}) AS (col, category)"),
        )
        .groupBy("col", "category")
        .agg(
            F.sum(F.col("early").cast("long")).alias("obs_early"),
            F.sum((~F.col("early")).cast("long")).alias("obs_late"),
        )
    )
    w = Window.partitionBy("col")
    m = cells.select(
        "col",
        "category",
        "obs_early",
        "obs_late",
        F.sum("obs_early").over(w).alias("n_early"),
        F.sum("obs_late").over(w).alias("n_late"),
        (F.col("obs_early") + F.col("obs_late")).alias("cat_tot"),
        F.sum(F.col("obs_early") + F.col("obs_late")).over(w).alias("n"),
    )
    dec = "decimal(38,0)"
    diff = (
        F.col("obs_early").cast(dec) * F.col("n").cast(dec)
        - F.col("n_early").cast(dec) * F.col("cat_tot").cast(dec)
    ).cast("double")
    ned, nld, ctd = [
        F.col(c).cast("double") for c in ("n_early", "n_late", "cat_tot")
    ]
    return m.select(
        "col",
        "category",
        "obs_early",
        "obs_late",
        F.col("n_early").cast("long").alias("n_early"),
        F.col("n_late").cast("long").alias("n_late"),
        (diff * diff / (ned * nld * ctd)).alias("chi2_contrib"),
    ).orderBy("col", "category")
