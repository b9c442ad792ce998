"""Similarity search over the ``embeddings`` table (SURVEY.md §7 M5).

Approximate-nearest-neighbor building blocks for an LLM data pipeline:
all-pairs cosine (near-dup detection), brute-force top-k (the correctness
baseline), and an IVF (inverted-file) variant — assign vectors to their
nearest centroid cell, probe only the closest cells at query time — as the
scale path.

Numeric portability: cosine goes through *fixed-point integer* dot
products — components are floored to 1e-7 resolution (embeddings are
unit-norm, so scaled values stay < 6e6 and 64-term sums stay < 2^53, i.e.
exact in both engines' arithmetic). One final double division/sqrt per
pair is IEEE-deterministic, so Spark and DuckDB produce bit-identical
cosines and therefore identical top-k rankings.

Scale design (100 TB): brute force is O(n·q) — kept as the oracle/verify
stage. The IVF path is the real layout: vectors partitioned (bucketed) by
cell id, queries shuffled only to their nprobe cells, centroids broadcast.
Recall tuning = nprobe; re-ranking on exact cosine happens inside cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.catalog import register
from ._util import boundary, pin, spread, t

FP_SCALE = 10_000_000  # 1e-7 resolution; exact for unit-norm float32 vectors
N_QUERIES = 5          # fixture queries: vec_id < 5
CENTROID_MOD = 100     # fixture centroids: vec_id % 100 == 0 (5 cells)
NPROBE = 2
PAIR_THRESHOLD = 0.4


def _fixed(emb: Column) -> Column:
    return F.transform(emb, lambda x: F.floor(x.cast("double") * float(FP_SCALE)))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _sql_d2(a: str, b: str) -> str:
    """Exact integer squared-L2 between two BIGINT lists, via three dot
    products (|a-b|^2 = a.a + b.b - 2 a.b). DuckDB's list_dot_product
    returns DOUBLE, but every term is an integer bounded by ~4e14 for
    unit-norm fixed-point vectors (Cauchy-Schwarz: |a.b| <= |a||b| =
    FP_SCALE^2 = 1e14; partial sums of products share the bound), so the
    double arithmetic is EXACT (< 2^53) — the same discipline the cosine
    oracles below already rely on. Shared with kmeans.py's trained-IVF
    oracle and the PQ oracle here."""
    return (
        f"(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        f" - 2 * list_dot_product({a}, {b}))"
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (vec_id, label, fe: array<bigint>, nrm: double).

    spread() before the fixed-point transform + norm: HOF array math is
    interpreted (not codegen'd), so it must run on every core, and the
    single-file fixture scan would otherwise serialize it onto one task.
    """
    emb = spread(t(spark, sf_dir, "embeddings"))
    fe = _fixed(F.col("embedding")).alias("fe")
    df = emb.select("vec_id", "label", fe)
    return df.select(
        "vec_id", "label", "fe", F.sqrt(_dot(F.col("fe"), F.col("fe")).cast("double")).alias("nrm")
    )


_SQL_VEC_CTE = f"""
    fx AS (
        SELECT vec_id, label,
               [CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE}) AS BIGINT) for x in embedding] AS fe
        FROM embeddings
    ),
    vecs AS MATERIALIZED (
        SELECT vec_id, label, fe, sqrt(list_dot_product(fe, fe)) AS nrm FROM fx
    )
"""


@register(
    "sim_cosine_pairs",
    oracle=f"""
    WITH {_SQL_VEC_CTE}
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           list_dot_product(a.fe, b.fe) / (a.nrm * b.nrm) AS cosine
    FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.fe, b.fe) / (a.nrm * b.nrm) >= {PAIR_THRESHOLD}
    """,
    tags=("similarity",),
    doc="Embedding-cosine near-dup pairs (all-pairs ≥ threshold). The "
    "fixture has no true near-dups (max cosine ≈ 0.51), so the 0.4 "
    "threshold exercises the tail; the scale path is sim_cosine_lsh_pairs "
    "(SRP-bucket candidate filter) or dedup_embedding_ivf (cell-routed) "
    "with a ≥0.95 production threshold — never all-pairs.",
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    a = v.alias("a")
    b = v.alias("b")
    cosine = _dot(F.col("a.fe"), F.col("b.fe")).cast("double") / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= PAIR_THRESHOLD)
    )


# Shared by sim_knn_brute and sim_knn_numpy: both produce the exact same
# fixed-point cosines and ranking, so one oracle covers both.
_SQL_KNN_BRUTE_ORACLE = f"""
    WITH {_SQL_VEC_CTE},
    q AS (SELECT * FROM vecs WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
               list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) AS cosine
        FROM q JOIN vecs v ON v.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rn FROM ranked WHERE rn <= 10
    """


@register(
    "sim_knn_brute",
    oracle=_SQL_KNN_BRUTE_ORACLE,
    tags=("similarity", "topk"),
    bench=True,
    doc="Brute-force cosine top-10 for 5 fixed query vectors — the exact "
    "baseline every ANN variant is measured against. Queries broadcast "
    "against the vector table; per-query ranking via row_number.",
)
def sim_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("fe").alias("qfe"), F.col("nrm").alias("qnrm")
    )
    cosine = _dot(F.col("qfe"), F.col("fe")).cast("double") / (F.col("qnrm") * F.col("nrm"))
    scored = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.select("query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
    )


@register(
    "sim_knn_numpy",
    oracle=_SQL_KNN_BRUTE_ORACLE,
    tags=("similarity", "topk", "udf"),
    doc="Brute-force cosine top-10 through the vectorized-Python path: an "
    "Arrow-batched mapInPandas kernel does one int64 NumPy matmul per "
    "batch against the broadcast query matrix (exact — |fe|≤1e7, 64-dim "
    "dots < 2^63) and emits only each batch's per-query top-10; a final "
    "window merges partials (top-k is monotone under union, so partial "
    "top-k per batch is lossless). Same fixed-point integers, same "
    "IEEE division as sim_knn_brute → bit-identical cosines, ranking, "
    "and oracle. This is the escape-hatch pattern for vector math the "
    "HOF expressions can't reach (wide dims, BLAS kernels): the shuffle "
    "carries k·q rows per batch instead of n·q scored pairs.",
)
def sim_knn_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    v = _vectors(spark, sf_dir)
    # The q query vectors are tiny by construction (N_QUERIES) — closure-
    # broadcast them into the kernel, same pattern as the k-means
    # centroid collect.
    qrows = sorted(
        v.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "fe", "nrm").collect(),
        key=lambda r: r.vec_id,
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r.fe, dtype=np.int64) for r in qrows])
    q_nrm = np.array([r.nrm for r in qrows], dtype=np.float64)

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["fe"]])
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            # Exact int64 dot products, then the same (qnrm * nrm) IEEE
            # division sim_knn_brute performs.
            dots = mat @ q_mat.T  # [batch, q]
            cos = dots.astype(np.float64) / (q_nrm[None, :] * nrm[:, None])
            out_q, out_v, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                mask = ids != qid
                cand_ids, cand_cos = ids[mask], cos[mask, j]
                # Partial top-10 with the global tiebreak (cosine desc,
                # vec_id asc) — lexsort keys are applied last-key-major.
                order = np.lexsort((cand_ids, -cand_cos))[:10]
                out_q.extend([qid] * len(order))
                out_v.extend(cand_ids[order])
                out_c.extend(cand_cos[order])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "vec_id": pd.Series(out_v, dtype="int64"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

    partials = v.select("vec_id", "fe", "nrm").mapInPandas(
        kernel, schema="query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return partials.select(
        "query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 10)


def _fixture_centroids(v: DataFrame) -> DataFrame:
    """(cid, cfe, cnrm): the fixture-rule centroids — every vector with
    vec_id % CENTROID_MOD == 0 is a cell, labelled by its vec_id."""
    return v.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("fe").alias("cfe"), F.col("nrm").alias("cnrm")
    )


def _cell_assignment(v: DataFrame) -> DataFrame:
    """(vec_id, fe, nrm, cid): nearest-centroid cell per vector (payload
    carried through), centroids broadcast.

    Shared by sim_knn_ivf (probe path) and dedup_embedding_ivf (candidate
    routing): one broadcast pass over the vectors, ties broken by lowest
    cid, so both engines agree on the assignment bit-for-bit.

    argmax via max_by over a (cosine, -cid) struct rather than a
    row_number window: the groupBy gets a map-side partial aggregate, so
    the exchange carries ~1 row per vector instead of sorting the full
    (vectors × cells) fan-out — the difference between shuffling n and
    n·k rows at 100 TB. Lexicographic struct order == ORDER BY cos DESC,
    cid ASC because -cid is distinct (no ties reach the second key
    ambiguously).
    """
    cent = _fixture_centroids(v)
    c_cos = _dot(F.col("fe"), F.col("cfe")).cast("double") / (F.col("nrm") * F.col("cnrm"))
    return (
        v.crossJoin(F.broadcast(cent))
        .select("vec_id", "fe", "nrm", "cid", c_cos.alias("c_cos"))
        .groupBy("vec_id")
        .agg(
            # Carry the vector payload through the aggregation so callers
            # need no second join back to the vector table (saves a
            # vec_id-keyed exchange pair downstream).
            F.first("fe").alias("fe"),
            F.first("nrm").alias("nrm"),
            F.max_by("cid", F.struct(F.col("c_cos"), (-F.col("cid")).alias("nc"))).alias("cid"),
        )
    )


# Shared SQL: nearest-centroid assignment (matches _cell_assignment).
_SQL_ASSIGN_CTE = f"""
    cent AS (
        SELECT vec_id AS cid, fe, nrm FROM vecs WHERE vec_id % {CENTROID_MOD} = 0
    ),
    assign_scored AS (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.fe, c.fe) / (v.nrm * c.nrm) DESC, c.cid
               ) AS crn
        FROM vecs v CROSS JOIN cent c
    ),
    assigned AS (SELECT vec_id, cid FROM assign_scored WHERE crn = 1)
"""


@register(
    "sim_knn_ivf",
    bench=True,
    oracle=f"""
    WITH {_SQL_VEC_CTE},
    {_SQL_ASSIGN_CTE},
    q AS (SELECT * FROM vecs WHERE vec_id < {N_QUERIES}),
    probe_scored AS (
        SELECT q.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.fe, c.fe) / (q.nrm * c.nrm) DESC, c.cid
               ) AS prn
        FROM q CROSS JOIN cent c
    ),
    probes AS (SELECT query_id, cid FROM probe_scored WHERE prn <= {NPROBE}),
    scored AS (
        SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
               list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) AS cosine
        FROM probes p
        JOIN q ON q.vec_id = p.query_id
        JOIN assigned a ON a.cid = p.cid
        JOIN vecs v ON v.vec_id = a.vec_id AND v.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rn FROM ranked WHERE rn <= 5
    """,
    tags=("similarity", "topk"),
    doc="IVF top-5: vectors assigned to nearest-centroid cells, queries "
    f"probe their {NPROBE} closest cells, exact cosine re-ranks inside. "
    "Fixture centroids are the vec_id%100==0 vectors (KMeans at scale). "
    "100 TB layout: bucket vectors by cid so a query touches nprobe "
    "buckets; centroids broadcast; no all-pairs shuffle. MEASURED "
    "REGIME BOUND (round-11 sf10 probe, BASELINE.md): the fixture-rule "
    "centroid count grows with the corpus, so the assignment crossJoin "
    "is O(n^2/MOD) — 249 s and 218 GB spill at the second 10x decade, "
    "the same single-level law dedup_embedding_ivf hit. This query is "
    "the fixture-scale recall oracle; the scale path ALREADY EXISTS as "
    "its fixed-k twins — sim_knn_ivf_trained (4.8 s, 1.46x/decade, "
    "zero spill in the SAME probe session) and sim_knn_ivf_persisted "
    "(trainer amortized to a maintenance job entirely).",
)
def sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = pin(_vectors(spark, sf_dir))
    cent = _fixture_centroids(v)
    # Assign every vector to its nearest centroid cell (centroids broadcast).
    assigned = _cell_assignment(v)
    # Queries probe their NPROBE closest cells.
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("fe").alias("qfe"), F.col("nrm").alias("qnrm")
    )
    p_cos = _dot(F.col("qfe"), F.col("cfe")).cast("double") / (F.col("qnrm") * F.col("cnrm"))
    pw = Window.partitionBy("query_id").orderBy(F.col("p_cos").desc(), F.col("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "cid", p_cos.alias("p_cos"))
        .select("query_id", "cid", F.row_number().over(pw).alias("prn"))
        .filter(F.col("prn") <= NPROBE)
        .select("query_id", "cid")
    )
    # Exact cosine inside the probed cells only; the assignment already
    # carries fe/nrm, so no join back to the vector table.
    cand = (
        probes.join(assigned, "cid")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    cosine = _dot(F.col("qfe"), F.col("fe")).cast("double") / (F.col("qnrm") * F.col("nrm"))
    rw = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.select("query_id", "vec_id", cosine.alias("cosine"))
        .select("query_id", "vec_id", "cosine", F.row_number().over(rw).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


# LSH (random-hyperplane / SRP) variant: the 5 centroid vectors double as
# hyperplanes — data-derived but fixed and engine-portable (no RNG). A
# vector's bucket is the 5-bit sign pattern of its hyperplane dot
# products; queries multi-probe their own bucket plus the 5 buckets at
# Hamming distance 1 (sign flips near a hyperplane are exactly the
# boundary cases multi-probe exists to recover).
LSH_PLANES = 5


def _srp_signatures(v: DataFrame) -> DataFrame:
    """(vec_id, bucket): 5-bit sign-random-projection signature per vector,
    hyperplanes broadcast. Shared by sim_knn_lsh and sim_cosine_lsh_pairs.

    Exactly LSH_PLANES hyperplanes (the lowest LSH_PLANES centroid-rule
    vec_ids) at EVERY scale factor: the centroid rule alone yields more
    vectors at larger sf, and letting the signature width grow with the
    corpus (20 bits at sf0.1) puts every vector in a singleton bucket —
    bucket count must be tuned to occupancy, not data size."""
    planes = (
        v.filter(
            (F.col("vec_id") % CENTROID_MOD == 0)
            & (F.col("vec_id") < CENTROID_MOD * LSH_PLANES)
        )
        .select(F.col("vec_id").alias("pid"), F.col("fe").alias("pfe"))
        .withColumn(
            "j",
            (F.row_number().over(Window.orderBy("pid")) - 1).cast("long"),
        )
    )
    return (
        v.crossJoin(F.broadcast(planes))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(
                    _dot(F.col("fe"), F.col("pfe")) >= 0,
                    F.expr("shiftleft(1L, CAST(j AS INT))"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("bucket")
        )
    )


@register(
    "sim_cosine_lsh_pairs",
    oracle=f"""
    WITH {_SQL_VEC_CTE},
    planes AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, fe
        FROM vecs WHERE vec_id % {CENTROID_MOD} = 0
          AND vec_id < {CENTROID_MOD * LSH_PLANES}
    ),
    sig AS (
        SELECT v.vec_id,
               CAST(SUM(CASE WHEN list_dot_product(v.fe, p.fe) >= 0
                             THEN 1 << p.j ELSE 0 END) AS BIGINT) AS bucket
        FROM vecs v CROSS JOIN planes p
        GROUP BY v.vec_id
    )
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           list_dot_product(va.fe, vb.fe) / (va.nrm * vb.nrm) AS cosine
    FROM sig a
    JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    JOIN vecs va ON va.vec_id = a.vec_id
    JOIN vecs vb ON vb.vec_id = b.vec_id
    WHERE list_dot_product(va.fe, vb.fe) / (va.nrm * vb.nrm) >= {PAIR_THRESHOLD / 2}
    """,
    tags=("similarity",),
    doc="Candidate-filtered cosine pairs: only vectors sharing the same "
    f"{LSH_PLANES}-bit SRP bucket are compared, then exact cosine ≥ "
    f"{PAIR_THRESHOLD / 2} on candidates. The scale-safe counterpart to "
    "sim_cosine_pairs: the join is keyed on bucket (hash shuffle, no "
    "cartesian), so cost tracks bucket occupancy, not n². Same-bucket "
    "vectors agree on every hyperplane sign — exactly the high-cosine "
    "region near-dup detection cares about; dedup_embedding_ivf is the "
    "cell-routed alternative.",
)
def sim_cosine_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = pin(_vectors(spark, sf_dir))
    # Cache: the signature frame feeds both sides of the self-join.
    sig = pin(_srp_signatures(v))
    a = sig.alias("a")
    b = sig.alias("b")
    cand = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
    va = v.select(F.col("vec_id").alias("v1"), F.col("fe").alias("fa"), F.col("nrm").alias("na"))
    vb = v.select(F.col("vec_id").alias("v2"), F.col("fe").alias("fb"), F.col("nrm").alias("nb"))
    cosine = _dot(F.col("fa"), F.col("fb")).cast("double") / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "v1")
        .join(vb, "v2")
        .select("v1", "v2", cosine.alias("cosine"))
        .filter(F.col("cosine") >= PAIR_THRESHOLD / 2)
    )


@register(
    "sim_knn_lsh",
    oracle=f"""
    WITH {_SQL_VEC_CTE},
    planes AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, fe
        FROM vecs WHERE vec_id % {CENTROID_MOD} = 0
          AND vec_id < {CENTROID_MOD * LSH_PLANES}
    ),
    sig AS (
        SELECT v.vec_id,
               CAST(SUM(CASE WHEN list_dot_product(v.fe, p.fe) >= 0
                             THEN 1 << p.j ELSE 0 END) AS BIGINT) AS bucket
        FROM vecs v CROSS JOIN planes p
        GROUP BY v.vec_id
    ),
    q AS (SELECT vec_id AS query_id, fe, nrm FROM vecs WHERE vec_id < {N_QUERIES}),
    qprobe AS (
        SELECT s.vec_id AS query_id,
               CASE WHEN m.j < 0 THEN s.bucket ELSE xor(s.bucket, 1 << m.j) END AS bucket
        FROM sig s CROSS JOIN (SELECT unnest(range(-1, {LSH_PLANES})) AS j) m
        WHERE s.vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, v.vec_id,
               list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) AS cosine
        FROM qprobe p
        JOIN sig sv ON sv.bucket = p.bucket
        JOIN vecs v ON v.vec_id = sv.vec_id
        JOIN q ON q.query_id = p.query_id
        WHERE v.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rn FROM ranked WHERE rn <= 5
    """,
    tags=("similarity", "topk"),
    doc=f"LSH top-5 via sign-random-projection: {LSH_PLANES} hyperplanes "
    "(the centroid vectors — fixed, portable, no RNG) give a 5-bit "
    "bucket; queries probe their bucket plus all Hamming-1 neighbors, "
    "exact cosine re-ranks candidates. 100 TB layout: vectors written "
    "bucketed by signature, so a query reads 6 of 32 buckets; the "
    "signature computation is one broadcast pass, no all-pairs shuffle.",
)
def sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = pin(_vectors(spark, sf_dir))
    # 5-bit signature per vector (shared helper — exactly LSH_PLANES
    # hyperplanes at every scale factor).
    sig = _srp_signatures(v)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("fe").alias("qfe"), F.col("nrm").alias("qnrm")
    )
    # Multi-probe: own bucket (j = -1) plus each 1-bit flip.
    masks = F.array(*[F.lit(j) for j in range(-1, LSH_PLANES)])
    qprobe = (
        sig.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "bucket", F.explode(masks).alias("j"))
        .select(
            "query_id",
            F.when(F.col("j") < 0, F.col("bucket"))
            .otherwise(
                F.col("bucket").bitwiseXOR(F.expr("shiftleft(1L, CAST(j AS INT))"))
            )
            .alias("bucket"),
        )
    )
    cand = (
        qprobe.join(sig.withColumnRenamed("vec_id", "cand_id"), "bucket")
        .join(v.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("cand_id") != F.col("query_id"))
    )
    cosine = _dot(F.col("qfe"), F.col("fe")).cast("double") / (F.col("qnrm") * F.col("nrm"))
    rw = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.select("query_id", F.col("cand_id").alias("vec_id"), cosine.alias("cosine"))
        .select("query_id", "vec_id", "cosine", F.row_number().over(rw).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


# --- Scalar-quantized (SQ8) search ------------------------------------------

_SQ8_ORACLE = f"""
    WITH {_SQL_VEC_CTE},
    e AS (
        SELECT vec_id, unnest([{{'p': i, 'v': fe[i]}} for i in range(1, len(fe)+1)]) AS s
        FROM vecs
    ),
    ev AS (SELECT vec_id, s.p AS p, s.v AS v FROM e),
    params AS (SELECT p, MIN(v) AS mn, MAX(v) AS mx FROM ev GROUP BY p),
    coded AS (
        SELECT ev.vec_id, ev.p,
               CASE WHEN mx = mn THEN mn
                    ELSE CAST(FLOOR((mn * 255
                          + FLOOR(CAST((v - mn) * 255 AS DOUBLE) / (mx - mn))
                            * (mx - mn)) / 255.0) AS BIGINT)
               END AS rq
        FROM ev JOIN params ON ev.p = params.p
    ),
    recv AS (
        SELECT vec_id, list(rq ORDER BY p) AS recon,
               CAST(SUM(rq * rq) AS BIGINT) AS n2
        FROM coded GROUP BY vec_id
    ),
    q AS (SELECT vec_id, fe, nrm FROM vecs WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, r.vec_id AS vec_id,
               CAST(list_dot_product(q.fe, r.recon) AS DOUBLE)
                   / (q.nrm * sqrt(CAST(r.n2 AS DOUBLE))) AS cosine
        FROM q JOIN recv r ON r.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rn FROM ranked WHERE rn <= 10
    """


@register(
    "sim_knn_sq8",
    oracle=_SQ8_ORACLE,
    tags=("similarity", "topk", "compression"),
    doc="Scalar-quantized (SQ8) top-10: each dimension is affinely "
    "quantized to an 8-bit code against per-dimension [min, max] trained "
    "on the corpus, queries score asymmetrically (exact query vector vs "
    "reconstructed database vectors). At 100 TB this is the storage/"
    "bandwidth play — 64 one-byte codes + shared 64-entry codebook "
    "instead of 64 longs per vector (8×), with the scan and shuffle "
    "shrinking proportionally. Every quantization step is integer/"
    "FLOOR-of-double arithmetic written identically in both engines, so "
    "the reconstruction — and therefore the ranking — is bit-identical "
    "to the SQL oracle; recall vs the exact baseline is gated in "
    "tests/test_approx.py.",
)
def sim_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = pin(_vectors(spark, sf_dir))
    ev = v.select("vec_id", F.posexplode("fe").alias("p0", "v")).select(
        "vec_id", (F.col("p0") + 1).alias("p"), "v"
    )
    params = ev.groupBy("p").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    code = F.floor(((F.col("v") - F.col("mn")) * 255).cast("double") / (F.col("mx") - F.col("mn")))
    rq = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.floor((F.col("mn") * 255 + code * (F.col("mx") - F.col("mn"))) / 255.0).cast("long")
    )
    coded = ev.join(F.broadcast(params), "p").select("vec_id", "p", rq.alias("rq"))
    recv = coded.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "rq"))), lambda s: s["rq"]
        ).alias("recon"),
        F.sum(F.col("rq") * F.col("rq")).alias("n2"),
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("fe").alias("qfe"), F.col("nrm").alias("qnrm")
    )
    cosine = _dot(F.col("qfe"), F.col("recon")).cast("double") / (
        F.col("qnrm") * F.sqrt(F.col("n2").cast("double"))
    )
    scored = (
        F.broadcast(q)
        .join(recv, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.select("query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
    )


# --- Product quantization (PQ) ----------------------------------------------

PQ_M = 8          # subspaces (64 dims → 8 × 8)
PQ_K = 16         # codes per subspace (4 bits)
PQ_ITERS = 3      # Lloyd's rounds per codebook
PQ_SHORTLIST = 50  # ADC candidates per query before exact re-rank


PQ_SUB_W = 8  # fixture dim 64 = PQ_M * PQ_SUB_W; asserted in the builder


def _exact_rerank_top10(shortlist: DataFrame, v: DataFrame, q: DataFrame) -> DataFrame:
    """Shared PQ tail: fetch true vectors ONLY for (query_id, vec_id)
    shortlist rows, score exact fixed-point cosine, return the top-10
    with rn — identical in sim_knn_pq and sim_knn_ivfpq (and in their
    oracles\' final SELECT)."""
    exact = _dot(F.col("qfe"), F.col("fe")).cast("double") / (
        F.col("qnrm") * F.col("nrm")
    )
    rer = (
        shortlist.join(v.select("vec_id", "fe", "nrm"), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", exact.alias("cosine"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        rer.select("query_id", "vec_id", "cosine", F.row_number().over(w2).alias("rn"))
        .filter(F.col("rn") <= 10)
    )


def _check_pq_dim_src(spark: SparkSession, sf_dir: str) -> None:
    """_check_pq_dim against the RAW embeddings table via a limit-1
    scan. The old call sites measured the dim off the derived fixed-
    point frame (``v.select("fe").first()``), which executed the whole
    spread + HOF-transform pipeline as a standalone job just to read an
    array length (r15 profile: one extra ~0.5 MB-shuffle job per PQ
    query). fe is an element-wise transform of embedding, so the
    lengths are identical by construction."""
    row = t(spark, sf_dir, "embeddings").select("embedding").first()
    _check_pq_dim(len(row[0]))


def _check_pq_dim(dim: int) -> None:
    """Fail fast on a mis-sized fixture BEFORE _subvectors slices it:
    an explicit raise (not assert — asserts vanish under python -O) so a
    wrong embedding width can never silently produce short/ragged
    subvectors."""
    if dim != PQ_M * PQ_SUB_W:
        raise ValueError(
            f"embedding dim {dim} is not PQ_M*PQ_SUB_W = {PQ_M}x{PQ_SUB_W}"
        )


def _subvectors(df: DataFrame, id_col: str, vec_col: str, out_col: str) -> DataFrame:
    """Explode ``df[vec_col]`` into its PQ_M width-PQ_SUB_W subvectors:
    (id_col, gid, out_col). The 1-based slice offsets are the ONE place
    the subspace-slicing law lives on the Spark side (the SQL twin is the
    list_slice in _pq_oracle/_ivfpq_oracle) — shared by both PQ builders
    for database vectors, residuals, and query vectors alike."""
    return df.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("gid"),
                        F.slice(vec_col, m * PQ_SUB_W + 1, PQ_SUB_W).alias("v"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select(F.col("s.gid").alias("gid"), id_col, F.col("s.v").alias(out_col))


def _pq_trainer_parts(
    k: int,
    iters: int,
    train_src: str = "subs",
    prefix: str = "",
    subs_src: str = "subs",
) -> list[str]:
    """CTE parts replaying lloyd_fit_grouped_quantized over an existing
    ``subs(gid, vec_id, sv)`` CTE: deterministic init, ``iters`` rounds
    of (exact-BIGINT assign, floor-integer update), and the final
    ``codes(gid, vec_id, cid)`` under ``cent{iters}``. Shared by the
    whole-vector PQ oracle (sim_knn_pq), the residual-PQ oracle
    (sim_knn_ivfpq), the incremental oracle (sim_knn_pq_upsert), and
    both levels of the two-level dedup router
    (dedup_embedding_twolevel) — gid is just another grouping key, so
    the unroll is per-iteration only, never per-subspace. ``train_src``:
    the CTE the TRAINER reads; the final ``codes`` always cover the full
    ``subs_src`` (with a base subset as train_src that states the
    incremental law: old codebooks, union corpus). ``prefix`` renames
    every emitted CTE (``{prefix}cent0`` … ``{prefix}codes``) so two
    trainer instances can share one WITH clause (the two-level oracle
    runs the same generator once per routing level)."""
    parts = [
        f"""{prefix}cent0 AS (
        SELECT gid,
               CAST(ROW_NUMBER() OVER (PARTITION BY gid ORDER BY vec_id) - 1
                    AS BIGINT) AS cid,
               sv AS c_q
        FROM {train_src}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY gid ORDER BY vec_id) <= {k})""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""{prefix}a{i} AS (
        SELECT s.gid, s.vec_id, s.sv, c.cid
        FROM {train_src} s JOIN {prefix}cent{i - 1} c ON c.gid = s.gid
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY s.gid, s.vec_id
            ORDER BY {_sql_d2("s.sv", "c.c_q")}, c.cid) = 1)"""
        )
        parts.append(
            f"""{prefix}m{i} AS (
        SELECT gid, cell, dim,
               CAST((s - ((s % n) + n) % n) // n AS BIGINT) AS m
        FROM (
            SELECT gid, cell, dim, COUNT(*) AS n,
                   SUM(CAST(qv AS HUGEINT)) AS s
            FROM (
                SELECT gid, cid AS cell,
                       CAST(generate_subscripts(sv, 1) AS BIGINT) AS dim,
                       unnest(sv) AS qv
                FROM {prefix}a{i}
            ) ex
            GROUP BY gid, cell, dim
        ) agg)"""
        )
        # The last round's centroids are read twice: by codes and by
        # the caller's search or summary.
        mat = " MATERIALIZED" if i == iters else ""
        parts.append(
            f"{prefix}cent{i} AS{mat} (SELECT gid, cell AS cid, list(m ORDER BY dim) AS c_q"
            f" FROM {prefix}m{i} GROUP BY gid, cell)"
        )
    cent = f"{prefix}cent{iters}"
    parts.append(
        f"""{prefix}codes AS (
        SELECT s.gid, s.vec_id, c.cid
        FROM {subs_src} s JOIN {cent} c ON c.gid = s.gid
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY s.gid, s.vec_id
            ORDER BY {_sql_d2("s.sv", "c.c_q")}, c.cid) = 1)"""
    )
    return parts


def _pq_oracle(
    m: int,
    w: int,
    k: int,
    iters: int,
    shortlist: int,
    nq: int,
    train_where: str = "",
) -> str:
    """ANSI replay of the WHOLE fixed-point PQ path — codebook training
    (_pq_trainer_parts), 4-bit code assignment, per-query ADC lookup
    tables, the shortlist, and the exact re-rank. ``train_where``
    optionally restricts the codebook TRAINING vectors (the incremental
    oracle trains on the base slice; codes always cover the corpus)."""
    cent = f"cent{iters}"
    parts = [
        f"gids AS (SELECT unnest(range({m})) AS gid)",
        f"""subs AS (
        SELECT g.gid, v.vec_id,
               list_slice(v.fe, g.gid * {w} + 1, g.gid * {w} + {w}) AS sv
        FROM vecs v CROSS JOIN gids g)""",
    ]
    train_src = "subs"
    if train_where:
        parts.append(
            f"subs_base AS (SELECT * FROM subs WHERE {train_where})"
        )
        train_src = "subs_base"
    parts.extend(_pq_trainer_parts(k, iters, train_src=train_src))
    parts.append(f"q AS (SELECT vec_id, fe, nrm FROM vecs WHERE vec_id < {nq})")
    parts.append(
        f"""lut AS (
        SELECT s.query_id, s.gid, c.cid,
               list_dot_product(s.qsv, c.c_q) AS part
        FROM (
            SELECT q.vec_id AS query_id, g.gid,
                   list_slice(q.fe, g.gid * {w} + 1, g.gid * {w} + {w}) AS qsv
            FROM q CROSS JOIN gids g
        ) s JOIN {cent} c ON c.gid = s.gid)"""
    )
    parts.append(
        """adcn AS (
        SELECT l.query_id, co.vec_id, SUM(l.part) AS adc_num
        FROM codes co
        JOIN lut l ON l.gid = co.gid AND l.cid = co.cid
        WHERE co.vec_id != l.query_id
        GROUP BY l.query_id, co.vec_id)"""
    )
    parts.append(
        f"""short AS (
        SELECT a.query_id, a.vec_id
        FROM adcn a
        JOIN q ON q.vec_id = a.query_id
        JOIN vecs v ON v.vec_id = a.vec_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY a.query_id
            ORDER BY a.adc_num / (q.nrm * v.nrm) DESC, a.vec_id) <= {shortlist})"""
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {_SQL_VEC_CTE},
    {body}
    SELECT query_id, vec_id, cosine, rn FROM (
        SELECT s.query_id, s.vec_id,
               list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) AS cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY s.query_id
                   ORDER BY list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) DESC,
                            s.vec_id) AS INTEGER) AS rn
        FROM short s
        JOIN q ON q.vec_id = s.query_id
        JOIN vecs v ON v.vec_id = s.vec_id)
    WHERE rn <= 10
    """


@register(
    "sim_knn_pq",
    oracle=_pq_oracle(PQ_M, PQ_SUB_W, PQ_K, PQ_ITERS, PQ_SHORTLIST, N_QUERIES),
    bench=True,
    tags=("similarity", "topk", "compression", "iterative"),
    doc=f"Product-quantized top-10 with exact re-rank (IVFADC's PQ half), "
    "oracle-gated END-TO-END including the codebook trainer — closes one "
    "of the two rows-only PQ rows by moving the trainer onto the "
    "fixed-point discipline sim_knn_ivf_trained proved bit-replayable: "
    f"vectors quantize to BIGINT (floor x*FP_SCALE), split into {PQ_M} "
    f"subspaces of {PQ_SUB_W} dims, and each subspace trains its own "
    f"{PQ_K}-entry codebook by {PQ_ITERS} floor-integer Lloyd rounds "
    "(lloyd_fit_grouped_quantized: exact BIGINT squared-L2 assignment, "
    "ties to the lowest cid, subtract-mod floor mean — every "
    "intermediate exact, so the oracle unrolls the identical rounds "
    "with gid as one more grouping key). Search is the real IVFADC "
    "structure: per-query ADC LOOKUP TABLES (dot of each query "
    f"subvector with each codebook entry — {PQ_M}x{PQ_K} integers per "
    "query, broadcast), codes join the LUT and sum their parts (exact "
    "integers < 2^53 in any order), the approximate cosine divides by "
    "the STORED true norms (cosine-via-IP with norms, so no "
    "normalization divide ever precedes the floor quantizer — that "
    "divide is what kept the old float trainer un-replayable), and the "
    f"top-{PQ_SHORTLIST} shortlist re-ranks with exact fixed-point "
    "cosine. At 100 TB the ADC scan touches 4 bits x "
    f"{PQ_M} codes + one bigint norm per vector instead of the raw "
    "vector (~100x less I/O), LUTs are query-local broadcast state, and "
    "exact vectors are fetched only for shortlist rows. Recall vs brute "
    "stays gated in tests/test_approx.py.",
)
def sim_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .kmeans import lloyd_fit_grouped_quantized

    v = pin(_vectors(spark, sf_dir))
    _check_pq_dim_src(spark, sf_dir)
    subs = _subvectors(v, "vec_id", "fe", "sv")
    codes, cent = lloyd_fit_grouped_quantized(subs, PQ_K, PQ_ITERS)
    return _pq_adc_search(cent, codes, v.select("vec_id", "nrm"), v, _pq_queries(v))


def _pq_queries(v: DataFrame) -> DataFrame:
    return v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("fe").alias("qfe"),
        F.col("nrm").alias("qnrm"),
    )


def _pq_adc_search(
    cent: DataFrame, codes: DataFrame, norms: DataFrame, v: DataFrame, q: DataFrame
) -> DataFrame:
    """The PQ *search* over an already-built codebook/code/norm index
    (inline from the trainer or read back from a persisted parquet
    index): per-query ADC lookup tables, code-keyed ADC sums, top-
    PQ_SHORTLIST by approximate cosine, exact fixed-point re-rank
    fetching raw vectors (``v``) for shortlist rows only."""
    qsubs = _subvectors(q, "query_id", "qfe", "qsv")
    # ADC lookup tables: nq * M * K integer dots — broadcast-sized state.
    lut = qsubs.join(F.broadcast(cent), "gid").select(
        "query_id", "gid", "cid", _dot(F.col("qsv"), F.col("c_q")).alias("part")
    )
    adcn = (
        codes.join(F.broadcast(lut), ["gid", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("part").alias("adc_num"))
    )
    qn = q.select("query_id", "qnrm")
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("vec_id"))
    shortlist = (
        adcn.join(norms, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "vec_id",
            (F.col("adc_num").cast("double") / (F.col("qnrm") * F.col("nrm"))).alias(
                "adc"
            ),
        )
        .withColumn("arn", F.row_number().over(w))
        .filter(F.col("arn") <= PQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    return _exact_rerank_top10(shortlist, v, q)


@register(
    "sim_knn_pq_persisted",
    oracle=_pq_oracle(PQ_M, PQ_SUB_W, PQ_K, PQ_ITERS, PQ_SHORTLIST, N_QUERIES),
    tags=("similarity", "topk", "index", "sink"),
    doc="PQ search FROM A PERSISTED INDEX — completes the train-once / "
    "search-many family (sim_knn_ivf_persisted, text_bpe_encode_"
    "persisted) for the compressed-corpus case: the builder first "
    "writes the index (sources/ann_index.write_pq_index — M*K-row "
    "codebooks, the 4-bit codes at ~100x raw-vector compression, one "
    "stored norm per vector), then the SEARCH reads codes + codebooks "
    "+ norms from parquet: the quantized-Lloyd trainer is gone from "
    "the query path (plan-pinned: the only Generate left is the "
    "query-subvector explode over nq rows). Raw vectors are fetched "
    "from the source table ONLY for exact-re-rank shortlist rows — "
    "the actual IVFADC deployment I/O shape, where the index IS the "
    "compressed corpus and a query batch reads ~1% of the raw bytes. "
    "Integer codes/codebooks and IEEE norms round-trip through parquet "
    "bit-exactly, so the persisted search hash-matches sim_knn_pq "
    "under the IDENTICAL oracle.",
)
def sim_knn_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ann_index import read_pq_index, write_pq_index
    from .formats import _roundtrip_dir

    path = _roundtrip_dir(spark, "pqidx", sf_dir)
    write_pq_index(spark, sf_dir, path)  # the once-per-corpus build
    cb, codes, norms = read_pq_index(spark, path)
    v = pin(_vectors(spark, sf_dir))
    return _pq_adc_search(cb, codes, norms, v, _pq_queries(v))


@register(
    "sim_knn_pq_upsert",
    oracle=_pq_oracle(
        PQ_M,
        PQ_SUB_W,
        PQ_K,
        PQ_ITERS,
        PQ_SHORTLIST,
        N_QUERIES,
        train_where="vec_id % 4 != 0",
    ),
    tags=("similarity", "topk", "index", "sink", "upsert"),
    doc="INCREMENTAL maintenance of the persisted PQ index — the "
    "compressed-corpus twin of sim_knn_ivf_upsert: codebooks are "
    "trained on the base slice (vec_id % 4 != 0), then the new batch "
    "is ENCODED under the persisted codebooks (pq_assign — the "
    "trainer's exact per-subspace argmin) and its codes + norms "
    "appended (sources/ann_index.upsert_pq_codes); the ADC search runs "
    "over the upserted index. Oracle states the incremental law via "
    "_pq_oracle's train_where: codebooks from the base subs, codes "
    "over the FULL corpus — old artifact, union data, the same "
    "contract as the IVF upsert and the unseen-word encode. At 100 TB "
    "the appended codes are ~1% of the appended vectors' bytes (4-bit "
    "codes + one norm), so the daily ingest ships compressed-corpus "
    "deltas; codebook retrain stays the rarer job, and quantization "
    "error for new vectors under old codebooks is exactly what the "
    "exact re-rank stage absorbs.",
)
def sim_knn_pq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ann_index import read_pq_index, upsert_pq_codes, write_pq_index
    from .formats import _roundtrip_dir

    path = _roundtrip_dir(spark, "pqups", sf_dir)
    v = pin(_vectors(spark, sf_dir))
    # Dim validation happens inside BOTH write_pq_index and
    # upsert_pq_codes (round-11 advice: a mis-sized batch must fail
    # loudly, not write ragged subvector codes) — no caller-side
    # duplicate.
    write_pq_index(
        spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 4 != 0)
    )
    upsert_pq_codes(
        spark, path, v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    )
    cb, codes, norms = read_pq_index(spark, path)
    return _pq_adc_search(cb, codes, norms, v, _pq_queries(v))


def _ivfpq_oracle(
    m: int, w: int, k: int, iters: int, shortlist: int, nq: int, nprobe: int
) -> str:
    """ANSI replay of the fixed-point IVFADC path: nearest-cell coarse
    assignment (_SQL_ASSIGN_CTE — the law sim_knn_ivf pinned), exact
    BIGINT residuals, residual-PQ codebook training (_pq_trainer_parts —
    the law sim_knn_pq pinned), per-query ADC = coarse integer dot +
    residual LUT parts restricted to the probed cells, then the exact
    re-rank. Every pre-division intermediate is an exact integer; the
    two IEEE divides (probe cosine, ADC score) are written identically
    on both engines."""
    cent = f"cent{iters}"
    parts = [
        f"gids AS (SELECT unnest(range({m})) AS gid)",
        # Residual subvectors straight off the slices: no residual list is
        # ever materialized — fe[off+i] - cfe[off+i] per dim, exact BIGINT.
        f"""subs AS (
        SELECT g.gid, a.vec_id,
               list_transform(range(1, {w + 1}),
                              i -> v.fe[g.gid * {w} + i] - c.fe[g.gid * {w} + i]) AS sv
        FROM assigned a
        JOIN vecs v ON v.vec_id = a.vec_id
        JOIN cent c ON c.cid = a.cid
        CROSS JOIN gids g)""",
    ]
    parts.extend(_pq_trainer_parts(k, iters))
    parts.append(f"q AS (SELECT vec_id, fe, nrm FROM vecs WHERE vec_id < {nq})")
    parts.append(
        f"""probes AS (
        SELECT q.vec_id AS query_id, c.cid, list_dot_product(q.fe, c.fe) AS cdot
        FROM q CROSS JOIN cent c
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_dot_product(q.fe, c.fe) / (q.nrm * c.nrm) DESC, c.cid
        ) <= {nprobe})"""
    )
    parts.append(
        f"""lut AS (
        SELECT s.query_id, s.gid, c.cid,
               list_dot_product(s.qsv, c.c_q) AS part
        FROM (
            SELECT q.vec_id AS query_id, g.gid,
                   list_slice(q.fe, g.gid * {w} + 1, g.gid * {w} + {w}) AS qsv
            FROM q CROSS JOIN gids g
        ) s JOIN {cent} c ON c.gid = s.gid)"""
    )
    parts.append(
        """cand AS (
        SELECT p.query_id, p.cdot, a.vec_id
        FROM probes p JOIN assigned a ON a.cid = p.cid
        WHERE a.vec_id != p.query_id)"""
    )
    parts.append(
        """adcn AS (
        SELECT ca.query_id, ca.vec_id, ca.cdot + SUM(l.part) AS adc_num
        FROM cand ca
        JOIN codes co ON co.vec_id = ca.vec_id
        JOIN lut l ON l.query_id = ca.query_id
                  AND l.gid = co.gid AND l.cid = co.cid
        GROUP BY ca.query_id, ca.vec_id, ca.cdot)"""
    )
    parts.append(
        f"""short AS (
        SELECT a.query_id, a.vec_id
        FROM adcn a
        JOIN q ON q.vec_id = a.query_id
        JOIN vecs v ON v.vec_id = a.vec_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY a.query_id
            ORDER BY a.adc_num / (q.nrm * v.nrm) DESC, a.vec_id) <= {shortlist})"""
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {_SQL_VEC_CTE},
    {_SQL_ASSIGN_CTE},
    {body}
    SELECT query_id, vec_id, cosine, rn FROM (
        SELECT s.query_id, s.vec_id,
               list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) AS cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY s.query_id
                   ORDER BY list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) DESC,
                            s.vec_id) AS INTEGER) AS rn
        FROM short s
        JOIN q ON q.vec_id = s.query_id
        JOIN vecs v ON v.vec_id = s.vec_id)
    WHERE rn <= 10
    """


@register(
    "sim_knn_ivfpq",
    oracle=_ivfpq_oracle(
        PQ_M, PQ_SUB_W, PQ_K, PQ_ITERS, PQ_SHORTLIST, N_QUERIES, NPROBE
    ),
    tags=("similarity", "topk", "compression", "iterative"),
    doc=f"IVFADC — the full inverted-file + product-quantization layout "
    "(the composition of sim_knn_ivf's coarse routing and sim_knn_pq's "
    "compressed scoring), oracle-gated END-TO-END: vectors assign to "
    "their nearest coarse cell (_cell_assignment — the cosine/max_by "
    "law sim_knn_ivf pinned), the RESIDUAL (fe − cell centroid, a pure "
    f"BIGINT subtraction, exact) is product-quantized into {PQ_M}×"
    f"{PQ_K}-entry codebooks by the floor-integer grouped Lloyd "
    "(lloyd_fit_grouped_quantized — the law sim_knn_pq pinned), and a "
    f"query probes only its {NPROBE} closest cells. ADC decomposes "
    "EXACTLY: dot(q, centroid + residual_recon) = the coarse integer "
    "dot (already in hand from probing) + the sum of residual LUT "
    "parts — every term an exact integer < 2^53, so the decomposition "
    "is replayable, and the one IEEE divide (by stored true norms) "
    "happens at the ranking surface. Residual quantization is what "
    "makes PQ bits count at scale: residual magnitudes are a fraction "
    "of vector magnitudes, so the same 4 bits/subspace carry far less "
    f"error than whole-vector PQ. The top-{PQ_SHORTLIST} shortlist "
    "re-ranks with exact fixed-point cosine. 100 TB layout: bucket by "
    "cell id, codes = 4 bytes/vector in the probed buckets only, "
    "codebooks + centroids + LUTs broadcast, exact vectors fetched for "
    "shortlist rows — candidate I/O is nprobe/ncells of the corpus at "
    "~100× compression. Recall vs brute stays gated in "
    "tests/test_approx.py.",
)
def sim_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .kmeans import lloyd_fit_grouped_quantized

    v = pin(_vectors(spark, sf_dir))
    _check_pq_dim_src(spark, sf_dir)
    cent = _fixture_centroids(v)
    # Coarse assignment (shared law with sim_knn_ivf), then exact BIGINT
    # residuals — vector minus its cell centroid, centroids broadcast.
    assigned = _cell_assignment(v)
    resid = pin(
        assigned.join(F.broadcast(cent), "cid")
        .select(
            "vec_id",
            F.col("cid").alias("ccid"),
            "nrm",
            F.zip_with("fe", "cfe", lambda a, b: a - b).alias("res"),
        )
    )
    subs = _subvectors(resid, "vec_id", "res", "sv")
    codes, pcent = lloyd_fit_grouped_quantized(subs, PQ_K, PQ_ITERS)

    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("fe").alias("qfe"),
        F.col("nrm").alias("qnrm"),
    )
    # Probing keeps the coarse INTEGER dot alongside the cosine rank: it is
    # the first ADC term, so it never needs recomputing per candidate.
    p_cos = _dot(F.col("qfe"), F.col("cfe")).cast("double") / (
        F.col("qnrm") * F.col("cnrm")
    )
    pw = Window.partitionBy("query_id").orderBy(F.col("p_cos").desc(), F.col("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "cid",
            _dot(F.col("qfe"), F.col("cfe")).alias("cdot"),
            p_cos.alias("p_cos"),
        )
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= NPROBE)
        .select("query_id", F.col("cid").alias("ccid"), "cdot")
    )
    # Residual ADC lookup tables: nq * M * K integer dots, broadcast.
    qsubs = _subvectors(q, "query_id", "qfe", "qsv")
    lut = qsubs.join(F.broadcast(pcent), "gid").select(
        "query_id", "gid", "cid", _dot(F.col("qsv"), F.col("c_q")).alias("part")
    )
    # Candidates are the probed cells' members only; ADC = coarse dot +
    # summed residual LUT parts (exact integers, order-free).
    cand = (
        probes.join(resid.select("vec_id", "ccid", "nrm"), "ccid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cdot", "nrm")
    )
    adcn = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "gid", "cid"])
        .groupBy("query_id", "vec_id")
        .agg(
            (F.first("cdot") + F.sum("part")).alias("adc_num"),
            F.first("nrm").alias("nrm"),
        )
    )
    qn = q.select("query_id", "qnrm")
    sw = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("vec_id"))
    shortlist = (
        adcn.join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "vec_id",
            (F.col("adc_num").cast("double") / (F.col("qnrm") * F.col("nrm"))).alias(
                "adc"
            ),
        )
        .withColumn("arn", F.row_number().over(sw))
        .filter(F.col("arn") <= PQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    return _exact_rerank_top10(shortlist, v, q)


@register(
    "sim_knn_classify",
    oracle=f"""
    WITH {_SQL_VEC_CTE},
    q AS (SELECT * FROM vecs WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, v.vec_id AS vec_id, v.label,
               list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) AS cosine
        FROM q JOIN vecs v ON v.vec_id != q.vec_id
    ),
    knn AS (
        SELECT query_id, vec_id, label FROM (
            SELECT query_id, vec_id, label,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
            FROM scored)
        WHERE rn <= 10
    ),
    votes AS (
        SELECT query_id, label, COUNT(*) AS n_votes
        FROM knn GROUP BY query_id, label
    ),
    pred AS (
        SELECT query_id, label AS predicted_label, n_votes FROM (
            SELECT query_id, label, n_votes,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY n_votes DESC, label) AS vr
            FROM votes)
        WHERE vr = 1
    )
    SELECT p.query_id,
           CAST(v.label AS INTEGER) AS true_label,
           CAST(p.predicted_label AS INTEGER) AS predicted_label,
           CAST(p.n_votes AS BIGINT) AS n_votes,
           CAST(p.predicted_label = v.label AS INTEGER) AS is_match
    FROM pred p JOIN vecs v ON v.vec_id = p.query_id
    """,
    tags=("similarity", "topk", "eval"),
    doc="kNN label classification over the brute-force top-10: majority "
    "vote of neighbour labels (ties -> lowest label), compared to the "
    "query's own label — the standard embedding-quality eval, and the "
    "one catalog consumer of the embeddings.label column. The vote is a "
    "map-side max_by argmax over per-(query,label) counts; at scale the "
    "neighbour stage swaps for any ANN sibling (IVF/LSH/PQ) without "
    "touching the vote.",
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = pin(_vectors(spark, sf_dir))
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("fe").alias("qfe"),
        F.col("nrm").alias("qnrm"), F.col("label").alias("true_label"),
    )
    cosine = _dot(F.col("qfe"), F.col("fe")).cast("double") / (F.col("qnrm") * F.col("nrm"))
    scored = (
        F.broadcast(q.select("query_id", "qfe", "qnrm"))
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    knn = scored.select("query_id", "label", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 10
    )
    votes = knn.groupBy("query_id", "label").agg(F.count(F.lit(1)).alias("n_votes"))
    pred = votes.groupBy("query_id").agg(
        F.max_by(
            F.struct(F.col("label"), F.col("n_votes")),
            F.struct(F.col("n_votes"), (-F.col("label")).alias("nl")),
        ).alias("best")
    ).select(
        "query_id",
        F.col("best.label").alias("predicted_label"),
        F.col("best.n_votes").alias("n_votes"),
    )
    return pred.join(F.broadcast(q.select("query_id", "true_label")), "query_id").select(
        "query_id",
        F.col("true_label").cast("int"),
        F.col("predicted_label").cast("int"),
        F.col("n_votes").cast("long"),
        (F.col("predicted_label") == F.col("true_label")).cast("int").alias("is_match"),
    )


@register(
    "sim_knn_l2_brute",
    oracle=f"""
    WITH {_SQL_VEC_CTE},
    sq AS (
        SELECT vec_id, fe, list_dot_product(fe, fe) AS selfdot FROM vecs
    ),
    q AS (SELECT * FROM sq WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
               CAST(q.selfdot + v.selfdot
                    - 2 * list_dot_product(q.fe, v.fe) AS BIGINT) AS dist2_scaled
        FROM q JOIN sq v ON v.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, dist2_scaled,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY dist2_scaled, vec_id) AS INTEGER) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, dist2_scaled, rn FROM ranked WHERE rn <= 10
    """,
    tags=("similarity", "topk"),
    doc="Brute-force EUCLIDEAN top-10 — the other standard ANN metric "
    "(cosine ranks by angle; L2 also feels magnitude, and for "
    "non-normalized embeddings the two disagree). The squared distance "
    "is EXACT integer algebra on the same fixed-point vectors the "
    "cosine stack uses: |a-b|^2 = a.a + b.b - 2a.b from three int64 "
    "dot products (bounded by dim x FP_SCALE^2 < 2^63), so the ranking "
    "needs no sqrt and no float at all — ties broken by vec_id. Self-"
    "dots are computed once per vector (row-local), queries broadcast, "
    "per-query WindowGroupLimit ranking; every IVF/LSH/PQ routing "
    "layer in this module composes with this scorer unchanged because "
    "candidate generation is metric-agnostic bucketing.",
)
def sim_knn_l2_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir).select(
        "vec_id", "fe", _dot(F.col("fe"), F.col("fe")).alias("selfdot")
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("fe").alias("qfe"),
        F.col("selfdot").alias("qselfdot"),
    )
    dist2 = (
        F.col("qselfdot") + F.col("selfdot") - 2 * _dot(F.col("qfe"), F.col("fe"))
    ).cast("long")
    scored = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dist2.alias("dist2_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy("dist2_scaled", "vec_id")
    return (
        scored.select(
            "query_id", "vec_id", "dist2_scaled", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 10)
    )


# --- Vector-column QC audit --------------------------------------------------


@register(
    "qc_embedding_audit",
    oracle=f"""
    WITH staged AS (
        SELECT label,
               embedding IS NULL AS is_null,
               COALESCE(len(list_filter(embedding,
                   x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                        OR isinf(CAST(x AS DOUBLE))
               )) > 0, FALSE) AS nonfinite,
               COALESCE(len(list_filter(embedding,
                   x -> CAST(x AS DOUBLE) = 0.0
               )) = len(embedding), FALSE) AS zero,
               CASE WHEN embedding IS NULL THEN 0
                    ELSE len(embedding) END AS ndim,
               CASE WHEN embedding IS NOT NULL
                         AND NOT COALESCE(len(list_filter(embedding,
                             x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                                  OR isinf(CAST(x AS DOUBLE)))) > 0, FALSE)
                    THEN CAST(list_sum(list_transform(
                        [CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE}) AS BIGINT)
                         for x in embedding],
                        y -> y * y)) AS BIGINT)
               END AS qn
        FROM embeddings
    ),
    modal AS (
        SELECT ndim AS modal_dim FROM staged WHERE NOT is_null
        GROUP BY ndim ORDER BY count(*) DESC, ndim LIMIT 1
    )
    SELECT label,
           count(*) AS n_vecs,
           CAST(sum(CAST(is_null AS BIGINT)) AS BIGINT) AS n_null,
           CAST(sum(CAST(nonfinite AS BIGINT)) AS BIGINT) AS n_nonfinite,
           CAST(sum(CAST(zero AS BIGINT)) AS BIGINT) AS n_zero,
           CAST(sum(CAST(NOT is_null AND ndim <> modal_dim AS BIGINT))
               AS BIGINT) AS n_dim_mismatch,
           CAST(max(modal_dim) AS INTEGER) AS modal_dim,
           min(qn) AS min_qnorm2,
           max(qn) AS max_qnorm2,
           CAST(sum(qn) AS DOUBLE) / count(qn) AS mean_qnorm2
    FROM staged LEFT JOIN modal ON TRUE
    GROUP BY label
    ORDER BY label
    """,
    tags=("qc", "similarity"),
    doc="Vector-column QC audit — the embedding-side counterpart of "
    "qc_documents_audit: per label, count NULL vectors, non-finite "
    "components (NULL/NaN/Inf — a NULL element poisons fixed-point "
    "arithmetic exactly like NaN, so it lands in the same flag), "
    "all-zero vectors (undefined cosine), and "
    "dimension mismatches against the corpus's modal dimensionality, "
    "plus min/max/mean squared fixed-point norms (drift in the norm "
    "profile is the cheapest signal an embedding model version changed "
    "upstream). Every flag is exact: boolean HOF folds, BIGINT norm "
    "sums (components floored at 1e-7, so 64-term sums are exact in "
    "both engines), one IEEE division for the mean. One fused aggregate "
    "scan plus a broadcast of the single-row modal-dimension frame — at "
    "100 TB this is the same one-pass shape as the documents audit, and "
    "it runs BEFORE any ANN/dedup job so a bad embedding batch is "
    "caught at ingest cost, not at pair-join cost.",
)
def qc_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(t(spark, sf_dir, "embeddings"))
    e = F.col("embedding")
    dbl = lambda x: x.cast("double")  # noqa: E731
    is_null = e.isNull()
    nonfinite = F.coalesce(
        F.exists(
            e,
            lambda x: x.isNull()
            | F.isnan(dbl(x))
            | (F.abs(dbl(x)) == F.lit(float("inf"))),
        ),
        F.lit(False),
    )
    # "every element equals 0.0" via a filtered count, not forall: a NULL
    # element makes forall yield NULL (-> false) in Spark but is DROPPED
    # by DuckDB's list_filter — counting x = 0.0 hits against len() is
    # the one formulation both engines evaluate identically.
    zero = F.coalesce(
        F.size(F.filter(e, lambda x: dbl(x) == F.lit(0.0))) == F.size(e),
        F.lit(False),
    )
    ndim = F.when(is_null, F.lit(0)).otherwise(F.size(e))
    fe = _fixed(e)
    qn = F.when(~is_null & ~nonfinite, _dot(fe, fe))
    staged = emb.select(
        "label",
        is_null.alias("is_null"),
        nonfinite.alias("nonfinite"),
        zero.alias("zero"),
        ndim.alias("ndim"),
        qn.alias("qn"),
    )
    modal = (
        staged.filter(~F.col("is_null"))
        .groupBy("ndim")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("ndim"))
        .limit(1)
        .select(F.col("ndim").alias("modal_dim"))
    )
    # LEFT join on TRUE, not a cross join: when EVERY embedding is NULL
    # the modal frame is empty and a cross join would empty the whole
    # audit — on exactly the fully-broken feed it exists to catch
    # (round-9 advice). With no non-null vector, modal_dim is NULL and
    # the per-label NULL counts still surface (mismatch flags reduce to
    # FALSE via the is_null conjunct, never to NULL).
    return (
        staged.join(F.broadcast(modal), F.lit(True), "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("is_null").cast("long")).alias("n_null"),
            F.sum(F.col("nonfinite").cast("long")).alias("n_nonfinite"),
            F.sum(F.col("zero").cast("long")).alias("n_zero"),
            F.sum(
                (~F.col("is_null") & (F.col("ndim") != F.col("modal_dim")))
                .cast("long")
            ).alias("n_dim_mismatch"),
            F.max("modal_dim").cast("int").alias("modal_dim"),
            F.min("qn").alias("min_qnorm2"),
            F.max("qn").alias("max_qnorm2"),
            (
                F.sum(F.col("qn").cast("decimal(38,0)")).cast("double")
                / F.count("qn")
            ).alias("mean_qnorm2"),
        )
        .orderBy("label")
    )


# --- MMR diversification rerank ----------------------------------------------

MMR_K = 5            # picks per query
MMR_C = 20           # relevance candidates entering the rerank
MMR_L = "0.7"        # lambda literal — SAME TEXT in Spark lit() and SQL
MMR_1ML = "0.3"      # (1 - lambda) as its own literal, never derived


def _mmr_round_sql(t: int) -> str:
    """CTE block for greedy round t (t >= 2): max-sim to the selected
    set, MMR score, argmax pick, accumulated selection."""
    return f"""
    ms{t} AS (
        SELECT p.query_id, p.vid_a AS vec_id, MAX(p.sim) AS ms
        FROM psim p JOIN sel{t - 1} s
          ON s.query_id = p.query_id AND s.vec_id = p.vid_b
        GROUP BY p.query_id, p.vid_a
    ),
    r{t} AS (
        SELECT c.query_id, c.vec_id,
               {MMR_L} * c.rel - {MMR_1ML} * m.ms AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY c.query_id
                   ORDER BY {MMR_L} * c.rel - {MMR_1ML} * m.ms DESC, c.vec_id
               ) AS rn
        FROM cand c
        JOIN ms{t} m ON m.query_id = c.query_id AND m.vec_id = c.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM sel{t - 1} s
                          WHERE s.query_id = c.query_id
                            AND s.vec_id = c.vec_id)
    ),
    p{t} AS (
        SELECT query_id, {t} AS pick, vec_id, score FROM r{t} WHERE rn = 1
    ),
    sel{t} AS MATERIALIZED (SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM p{t})"""


def mmr_oracle_tail() -> str:
    """SQL of the greedy rerank, from the pairwise sims to the final
    select. Assumes a CTE ``cand(query_id, vec_id, rel, fe, nrm)`` is
    already in scope — sim_knn_mmr supplies the brute-force top-C,
    sim_knn_ivf_mmr (operators/kmeans.py) the trained-IVF shortlist;
    the rounds themselves are the one shared definition, so the two
    oracles can never drift on the greedy semantics. Every CTE read more
    than once is MATERIALIZED: DuckDB inlines a plain CTE at each
    reference, and each round reads the previous selection three times,
    so inlined rounds re-ran cand (and the IVF trainer behind it) at
    every reference."""
    return (
        f"""psim AS MATERIALIZED (
        SELECT a.query_id, a.vec_id AS vid_a, b.vec_id AS vid_b,
               list_dot_product(a.fe, b.fe) / (a.nrm * b.nrm) AS sim
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.vec_id != b.vec_id
    ),
    r1 AS (
        -- Rank by the SAME {MMR_L} * rel expression the kernel scores
        -- with (not bare rel): IEEE multiply by a constant is only
        -- weakly monotone, so two rels one ulp apart can collapse to
        -- equal scores — both sides must then tie-break on vec_id over
        -- the identical score values (round-9 advice).
        SELECT query_id, vec_id, {MMR_L} * rel AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY {MMR_L} * rel DESC, vec_id) AS rn
        FROM cand
    ),
    sel1 AS MATERIALIZED (SELECT query_id, 1 AS pick, vec_id, score FROM r1 WHERE rn = 1),
"""
        + ",".join(_mmr_round_sql(t) for t in range(2, MMR_K + 1))
        + f"""
    SELECT query_id, CAST(pick AS INTEGER) AS pick, vec_id, score
    FROM sel{MMR_K} ORDER BY query_id, pick
    """
    )


_MMR_ORACLE = (
    f"""
    WITH {_SQL_VEC_CTE},
    q AS (SELECT * FROM vecs WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
               list_dot_product(q.fe, v.fe) / (q.nrm * v.nrm) AS rel,
               v.fe AS fe, v.nrm AS nrm
        FROM q JOIN vecs v ON v.vec_id != q.vec_id
    ),
    cand AS MATERIALIZED (
        SELECT query_id, vec_id, rel, fe, nrm FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
            FROM scored
        ) WHERE rn <= {MMR_C}
    ),
"""
    + mmr_oracle_tail()
)


@register(
    "sim_knn_mmr",
    bench=True,
    oracle=_MMR_ORACLE,
    tags=("similarity", "topk", "rerank"),
    doc=f"Maximal-marginal-relevance rerank — the retrieval stage AFTER "
    f"top-k: greedily pick {MMR_K} of the top-{MMR_C} relevance "
    f"candidates, each round scoring score = {MMR_L}·rel − {MMR_1ML}·"
    f"max-sim-to-already-picked, so near-duplicate hits are demoted in "
    f"favor of coverage (the deduplicated-context selection a RAG "
    f"pipeline runs between ANN and the prompt). A sequential greedy "
    f"recurrence is §2.10's exact shape: the relational stage computes "
    f"the top-{MMR_C} relevance candidates and their {MMR_C}² pairwise "
    f"sims (house fixed-point cosines), then ONE applyInPandas group "
    f"per query runs the {MMR_K} greedy rounds in-process — the ewma "
    f"pattern, chosen over a plan-unrolled formulation after an "
    f"interleaved A/B showed the {MMR_K}-round relational unroll costs "
    f"~12s of pure stage-scheduling overhead at ANY scale (vs ~2.2s "
    f"here; BASELINE.md round 8). The SQL oracle still unrolls the "
    f"identical rounds: the kernel adds only lam·rel − (1−lam)·max(sim) "
    f"in float64 with an ascending-vec_id tiebreak, the same IEEE ops "
    f"in the same order, so the selection is bit-reproducible. Scale: "
    f"the rerank costs O(q·{MMR_C}²) after ANN pruning regardless of "
    f"corpus size; only the candidate stage grows with the corpus.",
)
def sim_knn_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("fe").alias("qfe"),
        F.col("nrm").alias("qnrm"),
    )
    rel = _dot(F.col("qfe"), F.col("fe")).cast("double") / (
        F.col("qnrm") * F.col("nrm")
    )
    scored = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", rel.alias("rel"), "fe", "nrm")
    )
    wrel = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "vec_id")
    cand = (
        scored.withColumn("rn", F.row_number().over(wrel))
        .filter(F.col("rn") <= MMR_C)
        .select("query_id", "vec_id", "rel", "fe", "nrm")
    )
    return mmr_rerank(cand)


def mmr_rerank(cand: DataFrame) -> DataFrame:
    """Greedy MMR over an arbitrary candidate frame
    ``(query_id, vec_id, rel, fe, nrm)`` — the stage shared by
    sim_knn_mmr (brute-force candidates) and sim_knn_ivf_mmr
    (trained-IVF shortlist, operators/kmeans.py). Computes the
    candidate-set pairwise cosines relationally, then runs the K greedy
    rounds as ONE grouped-map kernel per query (the formulation the
    round-8 A/B kept: 5.4x over the plan-unrolled variant)."""
    # Eager boundary (r15): cand feeds BOTH sides of the pairwise-sim
    # self-join plus the feats projection — three plan copies, each of
    # which re-embedded the unrolled IVF trainer for sim_knn_ivf_mmr.
    # The boundary truncates all three to a q*C-row LogicalRDD.
    cand = boundary(cand)
    a = cand.select(
        "query_id",
        F.col("vec_id").alias("vid_a"),
        F.col("fe").alias("fe_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = cand.select(
        "query_id",
        F.col("vec_id").alias("vid_b"),
        F.col("fe").alias("fe_b"),
        F.col("nrm").alias("nrm_b"),
    )
    sim = _dot(F.col("fe_a"), F.col("fe_b")).cast("double") / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("vid_a") != F.col("vid_b"))
        .groupBy("query_id", F.col("vid_a").alias("vec_id"))
        .agg(F.collect_list(F.struct(F.col("vid_b"), sim.alias("sim"))).alias("sims"))
    )
    feats = cand.select("query_id", "vec_id", "rel").join(
        pairs, ["query_id", "vec_id"], "left"
    )
    return (
        feats.groupBy("query_id")
        .applyInPandas(
            _mmr_greedy_kernel,
            schema="query_id long, pick int, vec_id long, score double",
        )
        .orderBy("query_id", "pick")
    )


def _mmr_greedy_kernel(pdf):
    """Greedy MMR over one query's candidate group (pandas). Float
    parity contract: rel/sim arrive precomputed from the relational
    fixed-point cosines; the kernel adds only lam*rel - (1-lam)*max(sim)
    in float64 — the identical IEEE ops the SQL oracle's unrolled
    rounds perform — and breaks score ties by ascending vec_id, so the
    selection is bit-reproducible against the oracle (the ewma
    precedent: grouped-map kernel, relational replay)."""
    import pandas as pd

    lam, one_m = float(MMR_L), float(MMR_1ML)
    qid = int(pdf["query_id"].iloc[0])
    rel = {int(v): float(r) for v, r in zip(pdf["vec_id"], pdf["rel"])}
    sims: dict[tuple[int, int], float] = {}
    for v, lst in zip(pdf["vec_id"], pdf["sims"]):
        if lst is None:
            continue
        for e in lst:
            sims[(int(v), int(e["vid_b"]))] = float(e["sim"])
    remaining = sorted(rel)
    out = []
    for pick in range(1, MMR_K + 1):
        if not remaining:
            break
        if pick == 1:
            scores = {v: lam * rel[v] for v in remaining}
        else:
            chosen = [v for _, v, _ in out]
            scores = {
                v: lam * rel[v]
                - one_m * max(sims[(v, c)] for c in chosen)
                for v in remaining
            }
        best = min(remaining, key=lambda v: (-scores[v], v))
        out.append((pick, best, scores[best]))
        remaining.remove(best)
    return pd.DataFrame(
        {
            "query_id": [qid] * len(out),
            "pick": [p for p, _, _ in out],
            "vec_id": [v for _, v, _ in out],
            "score": [s for _, _, s in out],
        }
    )


# --- Hard-negative mining (contrastive training) -----------------------------

HN_ANCHORS = 64  # fixed anchor set: vec_id < 64 at every SF
HN_K = 2         # hard negatives per anchor


@register(
    "train_hard_negatives",
    oracle=f"""
    WITH {_SQL_VEC_CTE},
    {_SQL_ASSIGN_CTE},
    anchors AS (
        SELECT v.vec_id, v.label, v.fe, v.nrm, a.cid
        FROM vecs v JOIN assigned a ON a.vec_id = v.vec_id
        WHERE v.vec_id < {HN_ANCHORS}
    ),
    cand AS (
        SELECT an.vec_id AS anchor_id, v.vec_id AS negative_id,
               list_dot_product(an.fe, v.fe) / (an.nrm * v.nrm) AS cosine
        FROM anchors an
        JOIN assigned a2 ON a2.cid = an.cid
        JOIN vecs v ON v.vec_id = a2.vec_id
        WHERE v.label != an.label
    )
    SELECT anchor_id, negative_id, cosine, rn FROM (
        SELECT anchor_id, negative_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY anchor_id
                   ORDER BY cosine DESC, negative_id) AS INTEGER) AS rn
        FROM cand)
    WHERE rn <= {HN_K}
    """,
    tags=("training", "similarity", "topk"),
    doc=f"Hard-negative mining for contrastive training — the ANN-routed "
    "complement of train_negative_pairs' random negatives (random "
    "negatives are easy; the pairs a contrastive objective learns from "
    "are the SIMILAR-but-differently-labeled ones): a deterministic "
    f"{HN_ANCHORS}-anchor fixed set (vec_id < {HN_ANCHORS}) takes its top-{HN_K} "
    "most-cosine-similar vectors with a DIFFERENT label, candidates "
    "restricted to the anchor's IVF cell (_cell_assignment — the pinned "
    "cosine/max_by law sim_knn_ivf shares), so mining cost is "
    "n_anchors x cell size, never all-pairs. The anchor set is a FIXED "
    "absolute bound, not a modular sample: a 1-in-k sample was built "
    "first and its measured sf0.1->sf1 ramp was ~10x for 10x data "
    "(anchors AND the fixture's 5 fixed cells both grow linearly -> "
    "quadratic mining) — the registered query must not own that shape. "
    "At 100 TB mining IS linear in anchors (every example needs "
    "negatives), so the per-anchor term is what must stay bounded: "
    "train cell count proportional to corpus size (k ~ n/target_cell_"
    "size via kmeans_fit_quantized) and per-anchor cost is a constant "
    "cell, giving linear total — the fixture rule keeps 5 cells only "
    "because the oracle replays it. Exact fixed-point cosine, "
    "IEEE-identical ranking in both engines.",
)
def train_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = pin(_vectors(spark, sf_dir))
    assigned = _cell_assignment(v)  # vec_id, fe, nrm, cid (payload carried)
    lab = v.select("vec_id", "label")
    anchors = (
        assigned.filter(F.col("vec_id") < HN_ANCHORS)
        .join(lab, "vec_id")
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("fe").alias("afe"),
            F.col("nrm").alias("anrm"),
            F.col("label").alias("alabel"),
            "cid",
        )
    )
    cand = (
        anchors.join(assigned.join(lab, "vec_id"), "cid")
        .filter(F.col("label") != F.col("alabel"))
    )
    cosine = _dot(F.col("afe"), F.col("fe")).cast("double") / (
        F.col("anrm") * F.col("nrm")
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        cand.select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            cosine.alias("cosine"),
        )
        .select("anchor_id", "negative_id", "cosine", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= HN_K)
    )
