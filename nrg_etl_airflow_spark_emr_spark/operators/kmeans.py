"""Quantized k-means (Lloyd's) over the embeddings table — the
representative *iterative algorithm*, and the ONE trainer behind every
trained ANN structure: the IVF coarse quantizer (ivf_train), the PQ
codebooks (sim_knn_pq, sim_knn_ivfpq), both levels of the two-level
router (dedup.twolevel_train) and the whole-vector cells
(sim_kmeans_cells). IVFADC treats the coarse quantizer and the PQ
codebooks as the same k-means; so does this module.

One law, two functions:
- pq_assign: exact BIGINT squared-L2 argmin per group, ties to the
  lowest cid — a row-local array_min fold against one broadcast row of
  cid-sorted centroids (no shuffle, one output row per input row);
- lloyd_fit_grouped_quantized: deterministic init (the k lowest
  vec_ids per group, cid = 0..k-1), ``iters`` rounds of (pq_assign,
  floor-integer mean per (group, cell, dim)), and the final assignment.

The trainer is one declarative plan (iters is small and fixed) cut at
an eager plan boundary (_util.boundary over the k*groups centroid
rows), so its consumers start from a LogicalRDD instead of re-embedding
the unroll. Every intermediate stays in exact fixed-point arithmetic,
so the whole trainer replays in ANSI SQL (similarity._pq_trainer_parts)
and every trainer row here — sim_kmeans_step, sim_kmeans_cells and the
trained-IVF rows — is oracle-gated value-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators._util import boundary, pin, spread, t
from ..operators.similarity import (
    FP_SCALE,
    N_QUERIES,
    NPROBE,
    _SQL_VEC_CTE,
    _dot,
    _fixed,
    _pq_trainer_parts,
    _sql_d2,
    _vectors,
)
from ..plans.catalog import register

K_DEFAULT = 5
ITERS_DEFAULT = 5
IVF_TRAIN_ITERS = 2  # unrolled quantized-Lloyd rounds in sim_knn_ivf_trained


def _long_d2_guard(vectors: DataFrame, col: str = "q") -> DataFrame:
    """Derived-exactness guard for pq_assign's long accumulator (same
    discipline as text._tfidf_weights's dot_sum): a squared-L2 partial
    sum is bounded by dims * (2 * max|component|)^2, so the BIGINT path
    is only valid while that bound stays under 2^63. The unit-norm
    fixture argument puts it at ~4e14 * dims, but the precondition was
    previously asserted nowhere — a higher-magnitude or higher-dim
    fixture would ANSI-overflow on the Spark side only (the oracle
    accumulates in HUGEINT).

    Returns a 1-row frame whose ``d2_ok`` column is NULL when safe and
    RAISES (assert_true) when not, so the check lives INSIDE the
    returned plan: the builder stays lazy (no eager job at plan-build
    time — it was the one catalog builder that executed Spark jobs in
    the builder, which bench_ab would have timed), and the bound
    aggregate costs nothing until the query actually runs. The bound
    comparison runs in float64 with a conservative 1e-9 relative margin
    — errs only toward failing EARLY, never past the true 2^63 bound."""
    bound = vectors.select(
        F.aggregate(
            col, F.lit(0).cast("long"), lambda acc, x: F.greatest(acc, F.abs(x))
        ).alias("m"),
        F.size(col).alias("d"),
    ).agg(F.max("m").alias("max_abs"), F.max("d").alias("dims"))
    safe = (
        F.pow(F.col("max_abs").cast("double") * 2.0, F.lit(2.0))
        * F.col("dims").cast("double")
    ) < F.lit(2.0**63 * (1.0 - 1e-9))
    return bound.select(
        F.assert_true(
            F.coalesce(safe, F.lit(True)),  # empty table → nulls → safe
            F.concat(
                F.lit("fixed-point vectors (max|q|="),
                F.col("max_abs").cast("string"),
                F.lit(", dims="),
                F.col("dims").cast("string"),
                F.lit(") exceed the BIGINT squared-L2 bound; widen "),
                F.lit("pq_assign's zero to decimal(38,0)"),
            ),
        ).alias("d2_ok")
    )


def pq_assign(subs: DataFrame, cent: DataFrame) -> DataFrame:
    """THE assignment law of every quantized trainer: exact BIGINT
    squared-L2 per gid, ties to the lowest cid. The trainer's rounds,
    its final assignment, IVF routing (ivf_assign), PQ encoding and
    two-level routing all call it, so NEW vectors land under persisted
    centroids with the identical arithmetic the trainer used. Carrying
    the winning d2 out costs nothing and spares callers
    (kmeans_fit_quantized) a re-join against the final centroids.
    ``subs``: gid/vec_id/sv plus any payload columns, which ride along;
    ``cent``: gid/cid/c_q → every ``subs`` column, then cid/d2.

    Shape (round 13 — the sf100 routing-spill fix): the centroid side
    collapses to ONE broadcastable row per gid holding a cid-sorted
    array of (cid, c_q), and the argmin runs as a ROW-LOCAL fold —
    transform to (d2, cid) structs, array_min. The round-3 shape
    (broadcast join exploding one row per (vector, centroid), then a
    groupBy argmin) carried the full subvector through an n*k-row
    aggregate; at sf100 routing 2M vectors under k=134 centroids that
    aggregate sorted ~268M wide rows and spilled tens of GB. The fold
    emits exactly one row per input row — assignment is pure map work
    at any scale, and every Lloyd iteration loses its argmin exchange.
    The argmin LAW is bit-identical: array_min on (d2, cid) structs is
    the same lexicographic order as min(struct(d2, cid)) — ties to the
    lowest cid — and the sort_array(collect_list) on (cid, c_q) structs
    makes element order deterministic (every oracle-gated trainer row
    re-verifies this equivalence value-exactly)."""
    cents = cent.groupBy("gid").agg(
        F.sort_array(F.collect_list(F.struct("cid", "c_q"))).alias("cents")
    )
    scored = F.transform(
        "cents",
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(F.col("sv"), c["c_q"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    keep = subs.columns
    return (
        subs.join(F.broadcast(cents), "gid")
        .select(*keep, F.array_min(scored).alias("m"))
        .select(*keep, F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2"))
    )


def lloyd_fit_grouped_quantized(
    subs: DataFrame, k: int, iters: int
) -> tuple[DataFrame, DataFrame]:
    """Grouped Lloyd's on FIXED-POINT integer subvectors with the
    floor-integer centroid update — the one trainer behind the IVF
    coarse quantizer, the PQ codebooks, the two-level router and
    sim_kmeans_cells (each an oracle-gated, bit-replayable row).

    ``subs`` is ``(gid: int, vec_id, sv: array<bigint>)``. Arithmetic
    law per group (replayed in SQL by similarity._pq_trainer_parts):

    - init: the k lowest vec_ids per gid, cid = 0..k-1 in vec_id order;
    - assign: exact BIGINT squared-L2, ties to the lowest cid;
    - update: per-(gid, cell, dim) FLOOR-integer mean via the
      subtract-mod identity on a decimal(38,0)-accumulated exact sum
      (floor, not truncate, so negative coordinates round the same way
      in both engines);
    - a cell that loses all members vanishes.

    There is NO driver loop state: the trainer is one declarative plan
    (iters is small and fixed), materialized at an eager plan boundary
    (_util.boundary over the k*M centroid rows) so downstream search
    plans start from a LogicalRDD instead of re-embedding the unroll per
    consumer.
    Returns (codes: gid/vec_id/cid/d2 under the FINAL centroids — d2 is
    the exact integer distance to the winning centroid,
    cent: gid/cid/c_q — checkpointed, k*M rows)."""
    iw = Window.partitionBy("gid").orderBy("vec_id")
    cent = (
        subs.select("gid", "vec_id", "sv", F.row_number().over(iw).alias("irn"))
        .filter(F.col("irn") <= k)
        .select(
            "gid",
            (F.col("irn") - 1).cast("long").alias("cid"),
            F.col("sv").alias("c_q"),
        )
    )
    for _ in range(iters):
        ex = pq_assign(subs, cent).select(
            "gid", F.col("cid").alias("cell"), F.posexplode("sv").alias("dim", "qv")
        )
        agg = ex.groupBy("gid", "cell", "dim").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("qv").cast("decimal(38,0)")).alias("s"),
        )
        smod = ((F.col("s") % F.col("n")) + F.col("n")) % F.col("n")
        # Quotient law: s stays DECIMAL through the division (the oracle
        # keeps it HUGEINT with integer `//`), so the mean is exact to
        # the 38-digit accumulator bound on BOTH engines — (s - smod) is
        # exactly divisible by n, and an exactly-representable integer
        # quotient survives Spark's decimal divide + long cast bit-for-
        # bit. No 2^53 double-division caveat: long/long division (the
        # round-10 shape) went through IEEE doubles, where Spark's
        # double->long cast truncates but DuckDB's rounds to nearest —
        # a cross-engine divergence once per-(gid, cell, dim) sums
        # passed 2^53 (~4.5e8 members/cell at 1e7-scale coords).
        means = agg.select(
            "gid",
            "cell",
            "dim",
            ((F.col("s") - smod) / F.col("n")).cast("long").alias("m"),
        )
        cent = (
            means.groupBy("gid", "cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda st: st["m"],
                ).alias("c_q")
            )
            .select("gid", F.col("cell").alias("cid"), "c_q")
        )
    cent = boundary(cent)
    codes = pq_assign(subs, cent).select("gid", "vec_id", "cid", "d2")
    return codes, cent


def kmeans_fit_quantized(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
) -> DataFrame:
    """Whole-vector fixed-point Lloyd's: lloyd_fit_grouped_quantized with
    a single constant group, plus the exact integer d2 of every vector to
    its FINAL centroid. Returns (vec_id, cell, d2: long)."""
    v = _vectors(spark, sf_dir)
    subs = pin(v.select(
        F.lit(0).cast("long").alias("gid"), "vec_id", F.col("fe").alias("sv")
    ))
    # The trainer's final assignment already carries the winning d2 —
    # no re-join against the centroids.
    codes, _cent = lloyd_fit_grouped_quantized(subs, k, iters)
    return codes.select("vec_id", F.col("cid").alias("cell"), "d2")


def _kmeans_cells_oracle(k: int, iters: int) -> str:
    """ANSI replay of the whole-vector fixed-point trainer: a single-gid
    subs CTE feeds the SAME trainer unroll the PQ oracles use
    (_pq_trainer_parts), then the summary aggregates exact integer d2
    per final cell — the one IEEE divide is the mean at the surface."""
    parts = [
        "subs AS (SELECT CAST(0 AS BIGINT) AS gid, vec_id, fe AS sv FROM vecs)",
    ]
    parts.extend(_pq_trainer_parts(k, iters))
    parts.append(
        f"""pv AS (
        SELECT co.cid, {_sql_d2("s.sv", "c.c_q")} AS d2
        FROM subs s
        JOIN codes co ON co.gid = s.gid AND co.vec_id = s.vec_id
        JOIN cent{iters} c ON c.gid = co.gid AND c.cid = co.cid)"""
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {_SQL_VEC_CTE},
    {body}
    SELECT cid AS cell, COUNT(*) AS n_members,
           CAST(SUM(CAST(d2 AS HUGEINT)) AS DOUBLE) / COUNT(*) AS mean_sq_dist
    FROM pv GROUP BY cid
    """


@register(
    "sim_kmeans_step",
    oracle=f"""
    WITH fx AS (
        SELECT vec_id,
               [CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE}) AS BIGINT)
                for x in embedding] AS q
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, q AS c_q FROM fx ORDER BY vec_id LIMIT {K_DEFAULT}
    ), qe AS (
        SELECT vec_id, CAST(generate_subscripts(q, 1) AS BIGINT) AS dim,
               unnest(q) AS qv
        FROM fx
    ), ce AS (
        SELECT cid, CAST(generate_subscripts(c_q, 1) AS BIGINT) AS dim,
               unnest(c_q) AS cv
        FROM cent
    ), d AS (
        SELECT qe.vec_id, ce.cid,
               SUM(CAST(qe.qv - ce.cv AS HUGEINT) * (qe.qv - ce.cv)) AS d2
        FROM qe JOIN ce ON ce.dim = qe.dim
        GROUP BY qe.vec_id, ce.cid
    ), assign AS (
        SELECT vec_id, cid AS cell
        FROM d
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
    )
    SELECT a.cell, qe.dim,
           COUNT(*) AS n_members,
           CAST(SUM(CAST(qe.qv AS HUGEINT)) AS BIGINT) AS sum_q,
           CAST(SUM(CAST(qe.qv AS HUGEINT)) AS DOUBLE) / COUNT(*) AS mean_q
    FROM assign a JOIN qe ON qe.vec_id = a.vec_id
    GROUP BY a.cell, qe.dim
    """,
    tags=("similarity", "iterative"),
    doc=f"ONE Lloyd iteration with pinned centroids (the k={K_DEFAULT} "
    "lowest vec_ids — the trainer's deterministic init), oracle-gated "
    "bit-for-bit: assign every vector to its nearest centroid (exact "
    "integer squared-L2 on the similarity module's fixed-point "
    "vectors, ties to the lowest cid — the trainer's exact tie rule), "
    "then emit the update step's per-(cell, dim) member count, exact "
    "coordinate sum, and mean (one IEEE division). This is the SQL-"
    "expressible core of sim_kmeans_cells: the full trainer only "
    "re-enters this step with re-derived centroids, so the driver row "
    "here covers the arithmetic each trainer round is built from. "
    "Plan: the argmin is the trainer's own pq_assign — one broadcast "
    "row of cid-sorted centroids and a row-local array_min fold, so "
    "assignment shuffles nothing; the update is one posexplode + keyed "
    "agg, the same shape that scales to 100 TB in the trainer itself.",
)
def sim_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-point quantized embeddings — the similarity module's shared
    # resolution, so this step and the ANN stack agree on what "the same
    # vector" means.
    v = spread(t(spark, sf_dir, "embeddings")).select(
        "vec_id", _fixed(F.col("embedding")).alias("q")
    )
    gid = F.lit(0).cast("long").alias("gid")
    cents = (
        v.orderBy("vec_id")
        .limit(K_DEFAULT)
        .select(gid, F.col("vec_id").alias("cid"), F.col("q").alias("c_q"))
    )
    # The trainer's own pq_assign (long accumulator): |a-b|^2 sums are
    # bounded by 4 * FP_SCALE^2 for unit-norm vectors (~4e14 << 2^63) —
    # the same bound discipline as similarity._dot. The unit-norm
    # precondition is DERIVED, not assumed: _long_d2_guard hard-fails
    # past the actual bound, lazily — the guard is a 1-row broadcast
    # side of the returned plan, so the builder itself runs no Spark job
    # (see the crossJoin at the tail).
    guard = _long_d2_guard(v, "q")
    assigned = pq_assign(v.select(gid, "vec_id", F.col("q").alias("sv")), cents)
    ex = assigned.select(
        F.col("cid").alias("cell"), F.posexplode("sv").alias("dim0", "qv")
    ).select("cell", (F.col("dim0") + 1).cast("long").alias("dim"), "qv")
    return (
        ex.groupBy("cell", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("qv").cast("decimal(38,0)")).cast("long").alias("sum_q"),
        )
        .select(
            "cell",
            "dim",
            "n_members",
            "sum_q",
            (F.col("sum_q").cast("double") / F.col("n_members").cast("double")).alias(
                "mean_q"
            ),
        )
        # Exactness guard evaluated at execution: 1-row broadcast side;
        # the filter keeps d2_ok referenced so pruning can't drop the
        # assert_true, and is a no-op when the bound holds (NULL row).
        .crossJoin(F.broadcast(guard))
        .filter(F.col("d2_ok").isNull())
        .drop("d2_ok")
    )


@register(
    "sim_kmeans_cells",
    oracle=_kmeans_cells_oracle(K_DEFAULT, ITERS_DEFAULT),
    tags=("similarity", "iterative"),
    doc=f"K-means cell summary after {ITERS_DEFAULT} Lloyd's iterations "
    f"(k={K_DEFAULT}): per-cell member count and mean squared distance, "
    "oracle-gated END-TO-END — the whole-vector trainer is "
    "lloyd_fit_grouped_quantized with a single constant group (gid=0), "
    "so the iterative-algorithm representative runs the SAME pinned "
    "fixed-point law as the PQ codebooks and trained IVF: exact BIGINT "
    "squared-L2 assignment (ties to the lowest cid), floor-integer "
    "centroid means, deterministic k-lowest-vec_ids init. Summary "
    "aggregates the exact integer d2 to the FINAL centroids "
    "(decimal-accumulated, so no overflow at any SF) with the single "
    "IEEE divide at the surface; the oracle reuses _pq_trainer_parts "
    "verbatim. Plan per iteration: pq_assign's row-local array_min "
    "fold against one broadcast row of k centroids (no assignment "
    "shuffle), then one (cell, dim) aggregate for the update — the "
    "shape that scales to 100 TB.",
)
def sim_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = kmeans_fit_quantized(spark, sf_dir)
    return pv.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.sum(F.col("d2").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_sq_dist"),
    )


def _ivf_trained_parts(
    k: int, iters: int, nprobe: int, nq: int, src: str = "vecs"
) -> list[str]:
    """CTE parts of the trained-IVF search, up to ``scored(query_id,
    vec_id, cosine, fe, nrm)`` — shared by _ivf_trained_oracle (top-5
    select), sim_knn_ivf_mmr's oracle (top-C candidates into the MMR
    rounds), sim_knn_ivf_upsert's oracle and the balance audit. The
    trainer is the PQ oracles' own unroll (_pq_trainer_parts, prefix
    ``ivf``) over a one-gid subs CTE, as ivf_train is the one-group
    call of lloyd_fit_grouped_quantized. ``src``: the CTE the TRAINER
    reads; the final assignment (fassign) and the queries always cover
    the FULL ``vecs`` — with src="vecs" that is the plain trained
    search, with src = a base subset it states the incremental-index
    law (old centroids, union corpus)."""
    parts = [
        f"ivftrain AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS gid, vec_id, fe AS sv FROM {src})",
        "ivfsubs AS (SELECT CAST(0 AS BIGINT) AS gid, vec_id, fe AS sv FROM vecs)",
    ]
    parts.extend(
        _pq_trainer_parts(
            k, iters, train_src="ivftrain", prefix="ivf", subs_src="ivfsubs"
        )
    )
    parts.append(f"q AS MATERIALIZED (SELECT * FROM vecs WHERE vec_id < {nq})")
    parts.append(
        f"""probes AS (
        SELECT q.vec_id AS query_id, c.cid
        FROM q CROSS JOIN ivfcent{iters} c
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id
            ORDER BY {_sql_d2("q.fe", "c.c_q")}, c.cid) <= {nprobe})"""
    )
    parts.append(
        """fassign AS (
        SELECT v.vec_id, v.fe, v.nrm, c.cid
        FROM vecs v JOIN ivfcodes c ON c.vec_id = v.vec_id)"""
    )
    parts.append(
        """scored AS (
        SELECT q.vec_id AS query_id, a.vec_id AS vec_id,
               list_dot_product(q.fe, a.fe) / (q.nrm * a.nrm) AS cosine,
               a.fe AS fe, a.nrm AS nrm
        FROM probes p
        JOIN q ON q.vec_id = p.query_id
        JOIN fassign a ON a.cid = p.cid AND a.vec_id != q.vec_id)"""
    )
    return parts


def _ivf_trained_oracle(k: int, iters: int, nprobe: int, nq: int) -> str:
    """Trained-IVF top-5: the shared trainer/search CTEs plus the final
    re-rank select."""
    body = ",\n    ".join(_ivf_trained_parts(k, iters, nprobe, nq))
    return f"""
    WITH {_SQL_VEC_CTE},
    {body}
    SELECT query_id, vec_id, cosine, rn FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
        FROM scored)
    WHERE rn <= 5
    """


@register(
    "sim_knn_ivf_trained",
    bench=True,
    oracle=_ivf_trained_oracle(K_DEFAULT, IVF_TRAIN_ITERS, NPROBE, N_QUERIES),
    tags=("similarity", "topk", "iterative"),
    doc=f"IVF top-5 over TRAINED centroids, oracle-gated end-to-end "
    "INCLUDING the trainer — closes SCALE.md's 'fixture-rule centroids' "
    f"shortcut with a stronger guarantee than the planned swap: "
    f"{IVF_TRAIN_ITERS} quantized-Lloyd rounds (init = the "
    f"{K_DEFAULT} lowest vec_ids as cells 0..{K_DEFAULT - 1}, exact "
    "BIGINT squared-L2 assignment with ties to the lowest cid, "
    "centroid update = per-dimension FLOOR-INTEGER mean via the "
    "subtract-mod identity, a cell that loses all members vanishes) "
    "keep every intermediate in exact fixed-point arithmetic, so the "
    "whole iterative trainer is bit-reproducible in ANSI SQL. The "
    "trainer is lloyd_fit_grouped_quantized with one group — the PQ "
    "codebooks' own trainer — and the oracle unrolls the identical "
    "rounds through _pq_trainer_parts. Queries then probe their "
    f"{NPROBE} nearest cells BY THE ASSIGNMENT LAW (exact d2, not "
    "cosine — probe law == cell law is what bounds recall loss), and "
    "exact fixed-point cosine re-ranks inside probed cells only. Floor "
    "quantization costs <=1e-7 relative error per coordinate per round "
    "— noise at embedding precision, and the price of an exact "
    "cross-engine gate on an iterative algorithm. Plan: the whole "
    "trainer is ONE declarative plan (no driver loop, no collect) cut "
    "at an eager k-row centroid boundary; each round is pq_assign's "
    "row-local array_min fold against one broadcast row of centroids "
    "(no assignment shuffle) + posexplode/regroup update; the vector "
    "table is cached once and re-read per round from memory. 100 TB: "
    "identical layout to sim_knn_ivf — bucket vectors by trained cid, "
    "centroids broadcast, queries touch nprobe buckets; training cost "
    "is iters x (one pass + one dims x k shuffle), the standard Lloyd "
    "bill.",
)
def sim_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_trained_shortlist(spark, sf_dir, topn=5).select(
        "query_id", "vec_id", "cosine", "rn"
    )


def ivf_train(v: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The trained-IVF *build* step, factored out of the search so the
    index can be PERSISTED (sources/ann_index.py) instead of re-trained
    per query: lloyd_fit_grouped_quantized with one group (k=K_DEFAULT,
    IVF_TRAIN_ITERS rounds), so cells are the trainer's 0..k-1 rank ids,
    plus the final cell assignment of every vector. Returns ``(cent:
    cid/c_q — checkpointed, k rows, fassign: vec_id/fe/nrm/cid)``; the
    artifact round-trips through parquet bit-exactly."""
    subs = v.select(
        F.lit(0).cast("long").alias("gid"), "vec_id", F.col("fe").alias("sv")
    )
    _codes, cent = lloyd_fit_grouped_quantized(subs, K_DEFAULT, IVF_TRAIN_ITERS)
    cent = cent.select("cid", "c_q")
    return cent, ivf_assign(v, cent)


def ivf_assign(v: DataFrame, cent: DataFrame) -> DataFrame:
    """THE cell-assignment law — pq_assign with one group — so
    incremental index maintenance (sources/ann_index.upsert_ivf_postings)
    assigns NEW vectors under persisted centroids with the identical
    arithmetic the trainer used: exact BIGINT squared-L2, ties to the
    lowest cid. Carries fe/nrm through so consumers need no join back to
    the vector table. ``v``: vec_id/fe/nrm, ``cent``: cid/c_q → returns
    vec_id/fe/nrm/cid."""
    gid = F.lit(0).cast("long").alias("gid")
    subs = v.select(gid, "vec_id", F.col("fe").alias("sv"), "nrm")
    return pq_assign(subs, cent.select(gid, "cid", "c_q")).select(
        "vec_id", F.col("sv").alias("fe"), "nrm", "cid"
    )


def ivf_search(
    cent: DataFrame, fassign: DataFrame, q: DataFrame, topn: int
) -> DataFrame:
    """The trained-IVF *search* step over an already-built index
    (``cent``: cid/c_q, ``fassign``: vec_id/fe/nrm/cid — from ivf_train
    or read back from a persisted parquet index): route each query to
    its NPROBE nearest cells by the exact-d2 assignment law, exact
    fixed-point cosine inside probed cells, top-``topn`` per query.
    Columns: query_id, vec_id, cosine, rn, fe, nrm. ``q`` columns:
    query_id, qfe, qnrm."""
    qd2 = F.aggregate(
        F.zip_with("qfe", "c_q", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pw = Window.partitionBy("query_id").orderBy(F.col("pd2"), F.col("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "cid", qd2.alias("pd2"))
        .select("query_id", "cid", F.row_number().over(pw).alias("prn"))
        .filter(F.col("prn") <= NPROBE)
        .select("query_id", "cid")
    )
    cand = (
        probes.join(fassign, "cid")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    cosine = _dot(F.col("qfe"), F.col("fe")).cast("double") / (
        F.col("qnrm") * F.col("nrm")
    )
    rw = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.select("query_id", "vec_id", cosine.alias("cosine"), "fe", "nrm")
        .select(
            "query_id",
            "vec_id",
            "cosine",
            F.row_number().over(rw).alias("rn"),
            "fe",
            "nrm",
        )
        .filter(F.col("rn") <= topn)
    )


def ivf_trained_shortlist(spark: SparkSession, sf_dir: str, topn: int) -> DataFrame:
    """Per-query top-``topn`` of the trained-IVF search, carrying each
    hit's (fe, nrm) so downstream rerank stages (sim_knn_ivf_mmr) can
    compute candidate-set pairwise cosines without joining back to the
    vector table. Columns: query_id, vec_id, cosine, rn, fe, nrm.
    Composes ivf_train + ivf_search (trainer inline — the persisted-
    index twin is sim_knn_ivf_persisted) plus the long-d2 exactness
    guard."""
    v = pin(_vectors(spark, sf_dir))
    guard = _long_d2_guard(v, "fe")
    cent, fassign = ivf_train(v)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("fe").alias("qfe"),
        F.col("nrm").alias("qnrm"),
    )
    return (
        ivf_search(cent, fassign, q, topn)
        .crossJoin(F.broadcast(guard))
        .filter(F.col("d2_ok").isNull())
        .drop("d2_ok")
    )


@register(
    "sim_knn_ivf_persisted",
    bench=True,
    oracle=_ivf_trained_oracle(K_DEFAULT, IVF_TRAIN_ITERS, NPROBE, N_QUERIES),
    tags=("similarity", "topk", "index", "sink"),
    doc="Trained-IVF search FROM A PERSISTED INDEX — the train-once / "
    "search-many shape a 100 TB deployment actually runs, closing the "
    "'every trainer re-trains inline per query' gap: the builder first "
    "writes the index artifact (sources/ann_index.write_ivf_index — "
    "quantized-Lloyd centroids as a k-row parquet routing table, the "
    "corpus postings PARTITIONED BY trained cell id, the physical "
    "realization of IVF inverted lists), then the returned SEARCH plan "
    "contains NO trainer at all — it starts from two parquet scans "
    "(plan-pinned: zero posexplode/Generate stages, "
    "tests/test_plans.py). Routing and scoring are ivf_search, the "
    "SAME code path as sim_knn_ivf_trained, and fe/c_q (array<bigint>) "
    "and nrm (double) round-trip through parquet bit-exactly, so the "
    "persisted search hash-matches the inline path under the IDENTICAL "
    "oracle — the same value-level guarantee the layout round-trips "
    "(snk_compacted_roundtrip) established for physical rewrites, now "
    "for trained state. At 100 TB the index build is a once-per-corpus "
    "maintenance job; each query batch broadcasts the centroid table, "
    "routes to nprobe cells, and partition pruning on cid skips every "
    "unprobed inverted list without opening a file. Amortization is "
    "measured in BASELINE.md (build vs search split).",
)
def sim_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.formats import _roundtrip_dir
    from ..sources.ann_index import read_ivf_index, write_ivf_index

    path = _roundtrip_dir(spark, "ivfidx", sf_dir)
    write_ivf_index(spark, sf_dir, path)  # the once-per-corpus build
    cent, postings = read_ivf_index(spark, path)
    guard = _long_d2_guard(postings, "fe")
    q = _vectors(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("fe").alias("qfe"),
        F.col("nrm").alias("qnrm"),
    )
    return (
        ivf_search(cent, postings, q, topn=5)
        .crossJoin(F.broadcast(guard))
        .filter(F.col("d2_ok").isNull())
        .drop("d2_ok")
        .select("query_id", "vec_id", "cosine", "rn")
    )


def _ivf_balance_oracle() -> str:
    body = ",\n    ".join(
        _ivf_trained_parts(K_DEFAULT, IVF_TRAIN_ITERS, NPROBE, N_QUERIES)
    )
    return f"""
    WITH {_SQL_VEC_CTE},
    {body}
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                / SUM(COUNT(*)) OVER () * 10000) AS DOUBLE) / 10000
               AS cell_share
    FROM fassign
    GROUP BY cid
    """


@register(
    "qc_ivf_index_balance",
    oracle=_ivf_balance_oracle(),
    tags=("qc", "similarity", "index"),
    doc="ANN-index health audit: per-cell postings count and share of "
    "the corpus under the trained-IVF assignment — the gate a vector "
    "store checks before (and after each maintenance cycle of) serving "
    "an index: a hot cell means every query probing it scans a "
    "disproportionate inverted list, and probe-time p99 is set by the "
    "LARGEST probed cell, not the average (the same reason "
    "qc_key_skew_audit exists for join keys). Oracle-gated end-to-end "
    "through the trainer unroll (fassign GROUP BY cid); the cell_share "
    "column is the floor*1e4 portable ratio. At 100 TB this reads the "
    "persisted postings' partition footprints — a metadata-weight "
    "query — and a share above ~3x 1/k triggers the centroid-retrain "
    "job the upsert path deliberately defers.",
)
def qc_ivf_index_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = pin(_vectors(spark, sf_dir))
    _cent, fassign = ivf_train(v)
    return cell_balance(fassign)


def cell_balance(assigned: DataFrame) -> DataFrame:
    """THE per-cell balance law — postings count plus the floor*1e4
    portable corpus share over any (..., cid) assignment frame. Shared
    by the oracle-gated qc_ivf_index_balance (inline-trained
    assignment) and sources/ann_index.ivf_index_balance /
    maintain_ivf_index (persisted index), so the hot-cell definition
    cannot drift between the audit surfaces and the retrain trigger."""
    share = (
        F.floor(
            F.count(F.lit(1)).cast("double")
            / F.sum(F.count(F.lit(1))).over(Window.partitionBy()).cast("double")
            * 10000
        ).cast("double")
        / 10000
    )
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        share.alias("cell_share"),
    )


def _ivf_upsert_oracle() -> str:
    """The incremental-index law in ANSI: train centroids on the BASE
    slice only (src="base"), assign the UNION corpus under them (the
    shared parts' fassign always covers vecs), search. Must equal the
    engine's build-on-base + append-new-under-old-centroids index."""
    body = ",\n    ".join(
        _ivf_trained_parts(K_DEFAULT, IVF_TRAIN_ITERS, NPROBE, N_QUERIES, src="base")
    )
    return f"""
    WITH {_SQL_VEC_CTE},
    base AS (SELECT * FROM vecs WHERE vec_id % 4 != 0),
    {body}
    SELECT query_id, vec_id, cosine, rn FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
        FROM scored)
    WHERE rn <= 5
    """


@register(
    "sim_knn_ivf_upsert",
    oracle=_ivf_upsert_oracle(),
    tags=("similarity", "topk", "index", "sink", "upsert"),
    doc="INCREMENTAL maintenance of the persisted IVF index — the "
    "operation a growing 100 TB corpus runs instead of rebuilds: the "
    "index is built on the base slice (vec_id % 4 != 0), then the new "
    "batch (vec_id % 4 == 0) is assigned under the PERSISTED centroids "
    "(ivf_assign — the identical exact-BIGINT argmin law) and APPENDED "
    "to the cid-partitioned postings (sources/ann_index."
    "upsert_ivf_postings): mode('append') into Hive partitions writes "
    "a few files into only the inverted-list directories the batch "
    "lands in, never rewriting the corpus — the same touched-"
    "partitions-only discipline as upsert_scd2_history, applied to "
    "trained state. The search over the upserted index is oracle-gated "
    "against the incremental LAW: centroids trained on base, the UNION "
    "corpus assigned under them (_ivf_trained_parts with src='base' — "
    "fassign always covers the full vecs, which IS the law), exact "
    "cosine in probed cells. Centroid retrain stays a separate, rarer "
    "job, per the standard IVF maintenance contract; recall drift "
    "under growth is bounded because probe law == cell law holds for "
    "whatever centroids the index carries.",
)
def sim_knn_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.formats import _roundtrip_dir
    from ..sources.ann_index import (
        read_ivf_index,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = _roundtrip_dir(spark, "ivfups", sf_dir)
    v = pin(_vectors(spark, sf_dir))
    write_ivf_index(
        spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 4 != 0)
    )
    upsert_ivf_postings(
        spark,
        path,
        v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm"),
    )
    cent, postings = read_ivf_index(spark, path)
    guard = _long_d2_guard(postings, "fe")
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("fe").alias("qfe"),
        F.col("nrm").alias("qnrm"),
    )
    return (
        ivf_search(cent, postings, q, topn=5)
        .crossJoin(F.broadcast(guard))
        .filter(F.col("d2_ok").isNull())
        .drop("d2_ok")
        .select("query_id", "vec_id", "cosine", "rn")
    )


# --- Composed ANN -> rerank (the production RAG retrieval path) ---------------


def _ivf_mmr_oracle() -> str:
    from ..operators.similarity import MMR_C, mmr_oracle_tail

    body = ",\n    ".join(
        _ivf_trained_parts(K_DEFAULT, IVF_TRAIN_ITERS, NPROBE, N_QUERIES)
    )
    return f"""
    WITH {_SQL_VEC_CTE},
    {body},
    cand AS MATERIALIZED (
        SELECT query_id, vec_id, cosine AS rel, fe, nrm FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rn
            FROM scored
        ) WHERE rn <= {MMR_C}
    ),
    {mmr_oracle_tail()}
    """


@register(
    "sim_knn_ivf_mmr",
    bench=True,
    oracle=_ivf_mmr_oracle(),
    tags=("similarity", "topk", "rerank", "iterative"),
    doc="Trained-IVF shortlist feeding the MMR diversification rerank — "
    "the end-to-end RAG retrieval path, composing the two round-8 "
    "flagships: candidates come from ivf_trained_shortlist (quantized-"
    "Lloyd centroids, nprobe cell routing, exact fixed-point cosines "
    "within probed cells) instead of sim_knn_mmr's brute-force full-"
    "corpus relevance scan, then similarity.mmr_rerank greedily picks "
    "K of the top-C with the lam*rel - (1-lam)*max-sim recurrence in "
    "one grouped-map kernel per query. The oracle nests the two "
    "existing oracles the way corpus_training_card does: the trainer/"
    "search CTEs from _ivf_trained_parts, a top-C cand CTE, and "
    "similarity.mmr_oracle_tail's unrolled greedy rounds — both halves' "
    "semantics exist exactly once in the codebase. Fewer than C "
    "candidates per query (IVF probes a subset of cells) partial-fill "
    "identically on both sides. Scale: the candidate stage now touches "
    "nprobe cells instead of the corpus — the composition is what makes "
    "MMR production-shaped at 100 TB; the rerank stays O(q*C^2) "
    "post-ANN.",
)
def sim_knn_ivf_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import MMR_C, mmr_rerank

    cand = ivf_trained_shortlist(spark, sf_dir, topn=MMR_C).select(
        "query_id", "vec_id", F.col("cosine").alias("rel"), "fe", "nrm"
    )
    return mmr_rerank(cand)
