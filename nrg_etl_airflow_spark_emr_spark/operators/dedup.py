"""Deduplication operators over the ``documents`` table (SURVEY.md §7 M5).

Beyond-reference capability for LLM training-data pipelines: exact dedup,
shingle-Jaccard near-dup, MinHash signatures + LSH banding, and SimHash.
Everything is expressed relationally (explode → join → aggregate) so the
same algorithm runs as ANSI SQL in the DuckDB oracle, and every hash goes
through the engine-portable ``hash60`` (functions/hashing.py).

Scale design (100 TB): the inverted-index self-join (dedup_jaccard_pairs)
is quadratic in the worst case — it is the *verify* stage. The scale path
is MinHash→LSH banding (dedup_minhash_lsh): candidate generation touches
only docs sharing a band key, i.e. the shuffle is keyed on band hashes
whose fan-in is bounded, then exact Jaccard runs on candidates only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    P61,
    digest_pair,
    hash60,
    seeded_hash60,
    shingles_from_words,
    sql_hash60,
    sql_combined_hash,
    sql_hash_pair,
    sql_word_shingles,
)
from ..plans.catalog import register
from ._util import boundary, explode_unpushed, pin, release, spread, t

# MinHash configuration: 16 hashes in 4 bands of 4.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS
SIMHASH_BITS = 32
JACCARD_THRESHOLD = 0.5

# Shared SQL fragments --------------------------------------------------------

def _sql_shingles_cte(src: str = "documents") -> str:
    """The shingle CTE pair over any (doc_id, text) relation ``src`` —
    parameterized so composed pipelines (corpus_pipeline_e2e) can replay
    the IDENTICAL shingle law over an intermediate stage's output."""
    return f"""
    sh AS MATERIALIZED (
        SELECT doc_id, {sql_word_shingles(3)} AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src})
    ),
    ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
"""


_SQL_SHINGLES_CTE = _sql_shingles_cte()

_SQL_H1, _SQL_H2 = sql_hash_pair("shingle")
_SQL_SIG_CTE = (
    f"hh AS (SELECT doc_id, {_SQL_H1} AS h1, {_SQL_H2} AS h2 FROM ex),\n"
    "    sig AS MATERIALIZED (SELECT doc_id, "
    + ", ".join(
        f"MIN({sql_combined_hash('h1', 'h2', j)}) AS mh{j}" for j in range(MINHASH_K)
    )
    + " FROM hh GROUP BY doc_id)"
)


def _doc_shingles(
    spark: SparkSession, sf_dir: str, require_shingles: bool = False
) -> DataFrame:
    """(doc_id, shingles array) — words pre-projected (see
    shingles_from_words), scan spread across cores.

    ``require_shingles`` drops docs that produce no shingles. It filters on
    the equivalent cheap predicate ``size(split(text)) >= k`` — NEVER on
    ``size(shingles) > 0``: Catalyst pushes filters below the spread()
    exchange with the aliased expression substituted in, so a predicate on
    the shingles column would inline the whole shingle construction into
    the single-partition scan stage (measured: 8× slowdown).
    """
    docs = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return _doc_shingles_from(docs, require_shingles)


def _doc_shingles_from(docs: DataFrame, require_shingles: bool = False) -> DataFrame:
    """The shingle law over any (doc_id, text) frame — the frame-level
    core behind _doc_shingles, exposed for composed pipelines."""
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    if require_shingles:
        words = words.filter(F.size("w") >= 3)
    return words.select("doc_id", shingles_from_words(F.col("w"), 3).alias("shingles"))


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with ZERO shuffle: the k permutations are
    array_min over per-shingle (h1 + j·h2) mod P — entirely row-local, so
    there is no exploded intermediate and no groupBy exchange. One md5 per
    (doc, shingle); the k permutations are integer math (combined_hash),
    ~k× cheaper than k independent md5 passes. Docs with no shingles drop
    out (matching the oracle's unnest semantics)."""
    return _signatures_from(_doc_shingles(spark, sf_dir, require_shingles=True))


def _signatures_from(sh: DataFrame) -> DataFrame:
    """Signature law over a (doc_id, shingles) frame — the frame-level
    core behind _signatures, exposed for composed pipelines."""
    digs = sh.select("doc_id", F.transform("shingles", F.md5).alias("dig"))
    pairs = digs.select(
        "doc_id",
        F.transform(
            "dig",
            lambda d: F.struct(
                *(c.alias(n) for c, n in zip(digest_pair(d), ("h1", "h2")))
            ),
        ).alias("hp"),
    )
    return pairs.select(
        "doc_id",
        *[
            F.array_min(
                F.transform("hp", lambda p: (p["h1"] + F.lit(j) * p["h2"]) % P61)
            ).alias(f"mh{j}")
            for j in range(MINHASH_K)
        ],
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_keep_first",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup",),
    doc="Exact dedup: hash-groupBy on content digest, keep lowest doc_id "
    "per group. Hashing the text (not grouping by the raw string) keeps "
    "shuffle rows narrow — at 100 TB you shuffle 16-byte digests, not "
    "documents.",
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("digest"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (inverted-index join)
# ---------------------------------------------------------------------------


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs_arr): distinct 60-bit shingle hashes per doc, cached.

    Shuffle/join on 60-bit shingle hashes, not 3-word strings: the
    inverted-index exchange carries fixed-width bigints (same count
    semantics; hash60 injective on the corpus vocabulary in practice —
    the caveat MinHash already carries). Hash INSIDE the array before
    exploding: one md5 per (doc, shingle), row-local. The cache() is
    the CollapseProject barrier (see dedup_simhash_banded): without it
    the shingle+md5 construction re-runs on BOTH self-join sides and a
    third time for sizes — measured 4× wall-clock on the fixture. The
    frame is shared by dedup_jaccard_pairs AND dedup_jaccard_prefix
    (identical plan → Spark's CacheManager resolves both to one
    InMemoryRelation), so prefix's extra stages reuse, never re-derive.
    """
    docs = _doc_shingles(spark, sf_dir)
    return pin(docs.select(
        "doc_id", F.transform("shingles", lambda s: hash60(s)).alias("hs_arr")
    ))


def _pair_intersections(spark: SparkSession, sf_dir: str):
    """(sizes, inter): per-doc shingle-set sizes and per-unordered-pair
    intersection counts from the cached hashed-shingle inverted index —
    the shared kernel of every exact set-overlap score (Jaccard,
    containment). One exploded self-join keyed on the shingle hash; the
    ``d1 < d2`` convention and the explode_unpushed guard live HERE so
    the scoring variants cannot drift apart."""
    hashed = _hashed_shingles(spark, sf_dir)
    sizes = hashed.select("doc_id", F.size("hs_arr").alias("sz"))
    ex = explode_unpushed(hashed, F.col("hs_arr"), "hs", "doc_id")
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.hs") == F.col("b.hs")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return sizes, inter


@register(
    "dedup_jaccard_pairs",
    bench=True,
    oracle=f"""
    WITH {_SQL_SHINGLES_CTE},
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup",),
    doc="Exact 3-token-shingle Jaccard near-dup pairs via inverted-index "
    "self-join. Integer intersection/union then one double division → "
    "bit-identical across engines. This is the verify stage of the dedup "
    "pipeline; candidate pruning at scale is dedup_minhash_lsh.",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes, inter = _pair_intersections(spark, sf_dir)
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jacc = F.col("n_common").cast("double") / (
        F.col("s1.sz") + F.col("s2.sz") - F.col("n_common")
    )
    return (
        inter.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select("d1", "d2", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@register(
    "dedup_jaccard_prefix",
    bench=True,
    oracle=f"""
    WITH {_SQL_SHINGLES_CTE},
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup",),
    doc="Exact Jaccard near-dup pairs with PPJoin-style prefix filtering — "
    "zero recall loss (same oracle as dedup_jaccard_pairs). Each doc's "
    "postings are ordered rare-first (global document frequency); for "
    "threshold t only the first |X|-ceil(t*|X|)+1 postings can witness a "
    "qualifying pair (prefix-filter theorem), so the inverted-index join "
    "runs on ~half the postings — and the frequent shingles that drive "
    "the quadratic posting-pair blow-up are exactly the ones rare-first "
    "prefixes exclude. A length filter (t*|A| <= |B| <= |A|/t) prunes "
    "candidates before exact array_intersect scoring against the SAME "
    "cached hash frame the all-pairs query uses. Cost vs benefit: the "
    "df-ordering adds one vocab aggregation + posting join + per-doc "
    "window (3 exchanges of bigint postings) to save posting-pair work "
    "in the candidate join; on the fixture's near-uniform ~50-word "
    "vocabulary that overhead buys nothing and the prefix plan runs "
    "2-2.5x SLOWER than the all-pairs sibling (BENCH_r2/r3). The win "
    "condition is MEASURED, not assumed: on Zipfian corpora "
    "(BASELINE.md 'Zipfian crossover') the "
    "all-pairs join's sum(df^2) blow-up crosses over by 10k docs "
    "(1.8x faster at s=1.2) and reaches 15x faster at 20k docs — "
    "that curve, not the fixture, is the 100 TB case for it.",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_ = JACCARD_THRESHOLD
    hashed = _hashed_shingles(spark, sf_dir)
    sized = hashed.select("doc_id", F.size("hs_arr").alias("sz"), "hs_arr")
    exh = explode_unpushed(sized, F.col("hs_arr"), "hs", "doc_id", "sz")
    # Global document frequency per shingle; rare-first ordering minimizes
    # prefix collisions. Any shared total order is correct — (df, hash)
    # makes it deterministic.
    df_counts = exh.groupBy("hs").agg(F.count(F.lit(1)).alias("df"))
    # Prefix selection: keep the L = sz - ceil(t*sz) + 1 rarest postings
    # per doc, picked directly on the posting stream with a row_number
    # window — no per-doc array rebuild (the old collect_list/array_sort/
    # slice pipeline re-aggregated every doc and re-cached a second copy
    # of the corpus; measured 17 exchanges vs 7 for this shape).
    w = Window.partitionBy("doc_id").orderBy("df", "hs")
    prefix_len = F.col("sz") - F.ceil(F.col("sz") * F.lit(t_)).cast("int") + 1
    pex = (
        exh.join(df_counts, "hs")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "sz", "hs")
    )
    a = pex.alias("a")
    b = pex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.hs") == F.col("b.hs"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # Length filter: |B| in [t*|A|, |A|/t] (symmetric, a.sz<=…
            # not assumed). Cheap row-level prune before dedup+scoring.
            & (F.col("b.sz") * F.lit(t_) <= F.col("a.sz"))
            & (F.col("a.sz") * F.lit(t_) <= F.col("b.sz")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # Verify on the unsorted hashed arrays straight from the shared cache:
    # array_intersect is set-intersection, so no ordered copy is needed.
    s1 = hashed.select(F.col("doc_id").alias("d1"), F.col("hs_arr").alias("sh1"))
    s2 = hashed.select(F.col("doc_id").alias("d2"), F.col("hs_arr").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jacc = n_common.cast("double") / (
        F.size("sh1") + F.size("sh2") - n_common
    )
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= t_)
    )


CONTAIN_THRESHOLD = 0.7


def _score_both_directions(paired: DataFrame) -> DataFrame:
    """(d1, d2, n_common, sz1, sz2) → thresholded directional containment
    rows (doc_sub, doc_sup, containment). One explode per pair row — a
    union of two branches would re-run the whole upstream join per branch
    (measured ~6x; see SCALE.md 'plan traps'). Shared by the exact and
    LSH-routed containment ops so the scoring shape cannot drift."""
    both = paired.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("d1").alias("doc_sub"),
                    F.col("d2").alias("doc_sup"),
                    (F.col("n_common").cast("double") / F.col("sz1")).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("d2").alias("doc_sub"),
                    F.col("d1").alias("doc_sup"),
                    (F.col("n_common").cast("double") / F.col("sz2")).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("x")
    ).select("x.*")
    return both.filter(F.col("containment") >= CONTAIN_THRESHOLD)


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLES_CTE},
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT d1 AS doc_sub, d2 AS doc_sup,
               CAST(n_common AS DOUBLE) / s1.sz AS containment
        FROM inter JOIN sizes s1 ON d1 = s1.doc_id
        UNION ALL
        SELECT d2 AS doc_sub, d1 AS doc_sup,
               CAST(n_common AS DOUBLE) / s2.sz AS containment
        FROM inter JOIN sizes s2 ON d2 = s2.doc_id
    )
    SELECT doc_sub, doc_sup, containment
    FROM scored WHERE containment >= {CONTAIN_THRESHOLD}
    """,
    tags=("dedup",),
    doc="Shingle CONTAINMENT near-dup pairs — the asymmetric measure "
    "Jaccard cannot express: C(A in B) = |A∩B| / |A| flags a short "
    "document swallowed by a longer one (quote inclusion, boilerplate "
    "wrapping, excerpt reposts) even when the symmetric Jaccard is "
    "diluted far below threshold by the length gap. Same inverted-index "
    "self-join and cached hashed-shingle frame as dedup_jaccard_pairs "
    "(one intersection count per unordered pair), then each pair scores "
    "in BOTH directions with one exact double division. Scale path at "
    "100 TB is identical to Jaccard's: MinHash/LSH candidates first, "
    "containment verify on candidates only.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes, inter = _pair_intersections(spark, sf_dir)
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    paired = (
        inter.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1", "d2", "n_common",
            F.col("s1.sz").alias("sz1"), F.col("s2.sz").alias("sz2"),
        )
    )
    return _score_both_directions(paired)


def _sql_band_cte() -> str:
    """The band-key UNION over sig — single SQL source of the LSH band
    layout, kept in lockstep with the Spark-side keys in _lsh_candidates.
    Used by both the minhash-LSH and containment-LSH oracles."""
    band_arms = []
    for b in range(LSH_BANDS):
        cols = [f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        key = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_arms.append(
            f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sig"
        )
    return " UNION ALL ".join(band_arms)


def _sql_containment_lsh_oracle() -> str:
    bands = _sql_band_cte()
    return f"""
    WITH {_SQL_SHINGLES_CTE},
    {_SQL_SIG_CTE},
    bands AS ({bands}),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    inter AS (
        SELECT c.d1, c.d2, COUNT(*) AS n_common
        FROM cand c
        JOIN ex a ON a.doc_id = c.d1
        JOIN ex b ON b.doc_id = c.d2 AND b.shingle = a.shingle
        GROUP BY c.d1, c.d2
    ),
    scored AS (
        SELECT d1 AS doc_sub, d2 AS doc_sup,
               CAST(n_common AS DOUBLE) / s1.sz AS containment
        FROM inter JOIN sizes s1 ON d1 = s1.doc_id
        UNION ALL
        SELECT d2 AS doc_sub, d1 AS doc_sup,
               CAST(n_common AS DOUBLE) / s2.sz AS containment
        FROM inter JOIN sizes s2 ON d2 = s2.doc_id
    )
    SELECT doc_sub, doc_sup, containment
    FROM scored WHERE containment >= {CONTAIN_THRESHOLD}
    """


@register(
    "dedup_containment_lsh",
    oracle=_sql_containment_lsh_oracle(),
    tags=("dedup", "sketch"),
    doc="LSH-routed containment — the scale path dedup_containment_pairs' "
    "docstring promises: MinHash band keys generate the candidate pairs "
    "(the only wide shuffle is keyed on band hashes, fan-in bounded), "
    "then EXACT containment scores both directions of each candidate "
    "from the cached hashed-shingle arrays — no all-pairs inverted-index "
    "join anywhere. Same verify arithmetic as the exact op (integer "
    "intersection / |A| in one IEEE division). Recall caveat is "
    "MinHash's own, amplified for asymmetric pairs: a short doc inside "
    "a much longer one has Jaccard ~ |A|/|B| and band-collision "
    "probability follows JACCARD, not containment — so at extreme "
    "length ratios route candidates by a containment-aware scheme "
    "(e.g. band the SHORTER doc's prefix shingles) instead; the "
    "candidate stage is the swappable half of this operator.",
)
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, cand = _lsh_candidates(spark, sf_dir)
    hashed = _hashed_shingles(spark, sf_dir)
    h1 = hashed.select(F.col("doc_id").alias("d1"), F.col("hs_arr").alias("a1"))
    h2 = hashed.select(F.col("doc_id").alias("d2"), F.col("hs_arr").alias("a2"))
    n_common = F.size(F.array_intersect("a1", "a2"))
    paired = (
        cand.join(h1, "d1")
        .join(h2, "d2")
        .select("d1", "d2", n_common.alias("n_common"),
                F.size("a1").alias("sz1"), F.size("a2").alias("sz2"))
    )
    return _score_both_directions(paired)


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_SQL_SHINGLES_CTE},
    {_SQL_SIG_CTE}
    SELECT * FROM sig
    """,
    tags=("dedup", "sketch"),
    doc=f"MinHash signatures: {MINHASH_K} permutations from ONE md5 per "
    "3-token shingle ((h1 + j*h2) mod 2^61-1), computed as row-local "
    "array expressions — zero shuffle, no exploded intermediate.",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(spark, sf_dir)


def _sql_lsh_oracle(src: str = "documents") -> str:
    bands = _sql_band_cte()
    matches = " + ".join(
        f"CASE WHEN s1.mh{j} = s2.mh{j} THEN 1 ELSE 0 END" for j in range(MINHASH_K)
    )
    return f"""
    WITH {_sql_shingles_cte(src)},
    {_SQL_SIG_CTE},
    bands AS MATERIALIZED ({bands}),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT d1, d2, ({matches}) / {MINHASH_K}.0 AS est_jaccard
        FROM cand
        JOIN sig s1 ON d1 = s1.doc_id
        JOIN sig s2 ON d2 = s2.doc_id
    )
    SELECT d1, d2, est_jaccard FROM scored WHERE est_jaccard >= {JACCARD_THRESHOLD}
    """


def _lsh_candidates(spark: SparkSession, sf_dir: str):
    """(cached signatures, band-keyed candidate pairs d1<d2) — the shared
    candidate-generation stage for every LSH-routed dedup scorer."""
    sig = pin(_signatures(spark, sf_dir))
    return sig, _lsh_candidates_from(sig)


def _lsh_candidates_from(sig: DataFrame) -> DataFrame:
    """Band-keyed candidate pairs (d1 < d2) from a signature frame."""
    bands = _band_frame(sig)
    a = bands.alias("a")
    b_ = bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def _lsh_scored(sig: DataFrame, cand: DataFrame) -> DataFrame:
    """Signature-agreement scoring of candidate pairs — the verify stage
    of dedup_minhash_lsh, shared with the frame-level minhash_lsh_pairs."""
    s1 = sig.alias("s1")
    s2 = sig.alias("s2")
    matches = reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"s1.mh{j}") == F.col(f"s2.mh{j}"), 1).otherwise(0)
            for j in range(MINHASH_K)
        ],
    )
    return (
        cand.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select("d1", "d2", (matches / float(MINHASH_K)).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """dedup_minhash_lsh's exact law over any (doc_id, text) frame —
    the near-dup verdict stage of composed pipelines
    (corpus_pipeline_e2e). Identical shingle → signature → band-key →
    agreement-score arithmetic.

    The signature frame sits behind an eager ``boundary()``: it feeds
    three plan copies downstream (band self-join a/b + score join
    s1/s2), and inside composed pipelines every copy re-embedded the
    whole upstream chain (clean stage, line dedup, the 16 minhash HOF
    columns) — Catalyst work that dominated wall time over execution.
    The boundary truncates the lineage to a LogicalRDD of (doc_id, 16
    longs), corpus-bounded state."""
    sig = boundary(
        _signatures_from(_doc_shingles_from(docs, require_shingles=True))
    )
    return _lsh_scored(sig, _lsh_candidates_from(sig))



@register(
    "dedup_minhash_lsh",
    oracle=_sql_lsh_oracle(),
    tags=("dedup", "sketch"),
    bench=True,
    doc=f"MinHash-LSH near-dup pairs: {LSH_BANDS} bands × {LSH_ROWS} rows; "
    "candidates share a band key, scored by signature agreement. This is "
    "the 100 TB dedup path: the only shuffle wider than (id, signature) "
    "is keyed on band hashes, so matching cost tracks the number of true "
    "near-dup candidates, not n².",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig, cand = _lsh_candidates(spark, sf_dir)
    return _lsh_scored(sig, cand)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


EMB_DUP_THRESHOLD = 0.4  # fixture max cosine ≈ 0.51; production near-dup ≥0.95


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH fx AS (
        SELECT vec_id,
               [CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT) for x in embedding] AS fe
        FROM embeddings
    ),
    vecs AS (SELECT vec_id, fe, sqrt(list_dot_product(fe, fe)) AS nrm FROM fx)
    SELECT a.vec_id AS keep_id, b.vec_id AS drop_id,
           list_dot_product(a.fe, b.fe) / (a.nrm * b.nrm) AS cosine
    FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.fe, b.fe) / (a.nrm * b.nrm) >= {EMB_DUP_THRESHOLD}
    """,
    tags=("dedup", "similarity"),
    doc="Embedding-cosine near-dup (SURVEY.md §7 M5 dedup list): pairs "
    "above the cosine threshold, lower vec_id kept. All-pairs on the "
    "fixture — the recall oracle; the 100 TB path is dedup_embedding_ivf, "
    "which routes candidates through the shared k-means cell assignment "
    "(same-cell pairs only) before the exact cosine.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _vectors

    v = _vectors(spark, sf_dir)
    a = v.alias("a")
    b = v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.fe"), F.col("b.fe"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cosine = dot.cast("double") / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("keep_id"),
            F.col("b.vec_id").alias("drop_id"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= EMB_DUP_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _sql_simhash_cte() -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    fold = " + ".join(
        f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    from ..functions.hashing import sql_hash60

    return f"""
    sh0 AS (
        SELECT doc_id, {sql_word_shingles(3)} AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ),
    tok AS (SELECT doc_id, unnest(shingles) AS token FROM sh0),
    th AS (SELECT doc_id, {sql_hash60("token")} AS h FROM tok),
    bits AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id),
    simhashes AS (SELECT doc_id, {fold} AS simhash FROM bits)
    """


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_sql_simhash_cte()}
    SELECT doc_id, simhash FROM simhashes
    """,
    tags=("dedup", "sketch"),
    doc=f"{SIMHASH_BITS}-bit SimHash per document over 3-token-shingle "
    "hash60s: per-bit ±1 vote, sign fold. Linear, one groupBy. Shingles "
    "rather than unigrams: with a small shared vocabulary the unigram "
    "sketch collapses (every doc contains most of the vocabulary).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhashes(spark, sf_dir)


def _simhashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZERO-shuffle simhash (same trick as _signatures): the per-bit ±1
    vote runs as a row-local array fold — aggregate(hashes) with a
    32-wide count accumulator, one zip_with against a literal powers-of-2
    array per element — so there is no exploded intermediate and no
    groupBy exchange. The former explode + 32-column groupBy shuffled one
    row per (doc, shingle); this shuffles nothing (measured 3× faster at
    sf0.1, and the shuffle deleted is O(corpus tokens) at 100 TB).
    Docs with no shingles drop out (matching the oracle's unnest)."""
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)])
    sh = _doc_shingles(spark, sf_dir, require_shingles=True)
    hashed = sh.select(
        "doc_id", F.transform("shingles", lambda s: hash60(s)).alias("hs")
    )
    counts = F.aggregate(
        "hs",
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc, powers, lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1)
        ),
    )
    fold = F.aggregate(
        F.zip_with(
            counts, powers, lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return hashed.select("doc_id", fold.alias("simhash"))


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_sql_simhash_cte()}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
    """,
    tags=("dedup", "sketch"),
    doc="SimHash near-dup pairs: Hamming distance ≤ 5 over the 32-bit "
    "sketches. All-pairs here (documents is a fixed-size fixture); the "
    "scale path is dedup_simhash_banded: identical output, candidates "
    "bucketed by simhash prefix bands (same LSH argument as MinHash "
    "banding), no nested loop.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _simhashes(spark, sf_dir)
    # The theta-join below is a broadcast nested-loop whose parallelism is
    # the STREAMED side's partition count — and AQE coalesces the tiny
    # post-agg frame to 1 partition, serializing the O(n²) compare loop.
    # Explicit repartition (REPARTITION_BY_NUM — exempt from AQE coalesce)
    # spreads the compare across cores.
    a = sh.repartition(sh.sparkSession.sparkContext.defaultParallelism).alias("a")
    b = sh.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 5)
    )


# Prefix banding for simhash: with Hamming threshold h, splitting the
# SIMHASH_BITS-bit sketch into h+1 disjoint bands guarantees (pigeonhole)
# that every pair within threshold agrees exactly on at least one band —
# so banded candidate generation has 100% recall and the banded query is
# value-identical to the all-pairs one (same oracle).
HAMMING_MAX = 5
SIMHASH_BANDS = HAMMING_MAX + 1
_BAND_WIDTHS = [
    SIMHASH_BITS // SIMHASH_BANDS + (1 if j < SIMHASH_BITS % SIMHASH_BANDS else 0)
    for j in range(SIMHASH_BANDS)
]
_BAND_OFFSETS = [sum(_BAND_WIDTHS[:j]) for j in range(SIMHASH_BANDS)]


@register(
    "dedup_simhash_banded",
    bench=True,
    oracle=f"""
    WITH {_sql_simhash_cte()}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    tags=("dedup", "sketch"),
    doc=f"SimHash near-dup pairs via prefix banding — the banded shape of "
    f"dedup_simhash_pairs. The {SIMHASH_BITS}-bit sketch splits into "
    f"{SIMHASH_BANDS} disjoint bands (pigeonhole: Hamming ≤ {HAMMING_MAX} "
    "⇒ at least one band identical), candidates hash-join on (band_id, "
    "band_value), exact Hamming filters candidates. No nested-loop/"
    "cartesian anywhere: the only wide operation is a shuffle keyed on "
    "band values. Recall is exact, so the oracle is the all-pairs SQL. "
    "MEASURED REGIME BOUND (round-11 sf10 probe, BASELINE.md): with "
    f"the sketch width FIXED at {SIMHASH_BITS} bits, each band carries "
    f"only ~{SIMHASH_BITS // SIMHASH_BANDS}-{SIMHASH_BITS // SIMHASH_BANDS + 1} "
    "bits, so uncorrelated-pair collisions are "
    "B*n^2/2^w — the single-level fixed-granularity law again (50x "
    "wall at the second decade, compute-bound, no spill). Exact-recall "
    "Hamming banding needs the sketch width to GROW with the corpus "
    "(w per band ~ log2(n/c), total bits = bands * w; hash60 supports "
    "up to 60), which changes the Hamming threshold's meaning — a "
    "corpus-sized parameterization, pinned here at the fixture width "
    "for the oracle — IMPLEMENTED in round 12 as dedup_simhash_wide "
    "(120-bit sketch, 20-bit collision-budget bands, a TIGHTER "
    "similarity contract). For scaling at THIS row's exact "
    "contract (Hamming <= 5 of 32), route through dedup_simhash_rb "
    "— Manku r-of-b combination keys, ~11x fewer uncorrelated "
    "collisions at identical output — or leave the simhash family "
    "for dedup_minhash_lsh (4.3x/decade, zero spill, same probe) / "
    "dedup_embedding_twolevel's two-level law.",
)
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cache() is a semantic barrier, not just a speedup: _simhashes is a
    # pure projection since the zero-shuffle rewrite, so CollapseProject
    # would inline the whole array fold into each of the band expressions
    # below (and into both self-join sides) — the sketch would be computed
    # ~9× per doc, ×2 sides (measured 2.5× wall-clock on the fixture).
    # The cached frame is 16 bytes/doc; at 100 TB corpus scale this is
    # the same small-sketch persist dedup_minhash_lsh already does.
    sh = pin(_simhashes(spark, sf_dir))
    band_vals = F.array(
        *[
            F.shiftright("simhash", off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in zip(_BAND_OFFSETS, _BAND_WIDTHS)
        ]
    )
    bands = sh.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band_id", "band_val")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        # A pair within threshold can collide on several bands; distinct is
        # exact because hamming is a function of (d1, d2).
        .distinct()
    )


# ---------------------------------------------------------------------------
# Width-parameterized simhash (round 12 — closes dedup_simhash_banded's
# classified 50x regime bound: exact-recall banding needs sketch width to
# grow with log(n), BASELINE.md round-11 probe)
# ---------------------------------------------------------------------------

# The sketch is WIDE_WORDS independent 60-bit simhash words (hash60 is the
# repo's full per-hash width; word w uses the seed-w hash family), read as
# one WIDE_BITS-bit sketch. Banding derives from the COLLISION BUDGET, not
# from the old fixed width: uncorrelated pairs collide on a band with
# probability 2^-band_bits, so candidate volume is B * n^2 / 2^band_bits and
# bounded-per-doc candidates need band_bits >= log2(B * n / c). 20-bit bands
# hold the budget to c collisions/doc past n ~ c * 2^20 / B corpus docs —
# three decades beyond the 32-bit row's ~5-bit bands. Exact recall keeps
# bands = h + 1 (pigeonhole), so the total width is (h+1) * band_bits = 120.
WIDE_WORD_BITS = 60
WIDE_HAMMING_MAX = 5
WIDE_BANDS = WIDE_HAMMING_MAX + 1  # pigeonhole: exact recall at Hamming <= h
WIDE_BAND_BITS = 20  # the collision-budget knob: log2(B*n/c) headroom
WIDE_BITS = WIDE_BANDS * WIDE_BAND_BITS
WIDE_WORDS = WIDE_BITS // WIDE_WORD_BITS
_WIDE_BANDS_PER_WORD = WIDE_WORD_BITS // WIDE_BAND_BITS
assert WIDE_BITS % WIDE_WORD_BITS == 0 and WIDE_WORD_BITS % WIDE_BAND_BITS == 0


def _sql_simhash_wide_cte() -> str:
    from ..functions.hashing import sql_seeded_hash60, sql_word_shingles

    hsel = ", ".join(
        f"{sql_seeded_hash60(w, 'token')} AS h{w}" for w in range(WIDE_WORDS)
    )
    bit_sums, folds = [], []
    for w in range(WIDE_WORDS):
        bit_sums.extend(
            f"SUM(CASE WHEN (h{w} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{w}_{j}"
            for j in range(WIDE_WORD_BITS)
        )
        folds.append(
            " + ".join(
                f"CASE WHEN b{w}_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
                for j in range(WIDE_WORD_BITS)
            )
            + f" AS w{w}"
        )
    return f"""
    wsh0 AS (
        SELECT doc_id, {sql_word_shingles(3)} AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ),
    wtok AS (SELECT doc_id, unnest(shingles) AS token FROM wsh0),
    wth AS (SELECT doc_id, {hsel} FROM wtok),
    wbits AS (SELECT doc_id, {", ".join(bit_sums)} FROM wth GROUP BY doc_id),
    widesh AS (SELECT doc_id, {", ".join(folds)} FROM wbits)
    """


def _simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDE_BITS-bit simhash as WIDE_WORDS per-doc 60-bit words
    (columns w0..w{k}), each word the zero-shuffle array fold of
    _simhashes over its own seeded hash family — one shingle pass, all
    words computed row-locally from the same shingles array, still no
    exploded intermediate and no groupBy exchange."""
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(WIDE_WORD_BITS)])
    sh = _doc_shingles(spark, sf_dir, require_shingles=True)

    def fold_word(w: int) -> F.Column:
        hs = F.transform("shingles", lambda s: seeded_hash60(w, s))
        counts = F.aggregate(
            hs,
            F.array_repeat(F.lit(0), WIDE_WORD_BITS),
            lambda acc, h: F.zip_with(
                acc,
                powers,
                lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
            ),
        )
        return F.aggregate(
            F.zip_with(
                counts,
                powers,
                lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    return sh.select(
        "doc_id", *[fold_word(w).alias(f"w{w}") for w in range(WIDE_WORDS)]
    )


def _wide_hamming(a: str, b: str) -> F.Column:
    return sum(
        F.bit_count(F.col(f"{a}.w{w}").bitwiseXOR(F.col(f"{b}.w{w}")))
        for w in range(WIDE_WORDS)
    )


@register(
    "dedup_simhash_wide",
    oracle=f"""
    WITH {_sql_simhash_wide_cte()}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST({" + ".join(f"bit_count(xor(a.w{w}, b.w{w}))" for w in range(WIDE_WORDS))}
               AS INTEGER) AS hamming
    FROM widesh a JOIN widesh b ON a.doc_id < b.doc_id
    WHERE {" + ".join(f"bit_count(xor(a.w{w}, b.w{w}))" for w in range(WIDE_WORDS))}
          <= {WIDE_HAMMING_MAX}
    """,
    tags=("dedup", "sketch"),
    doc=f"WIDTH-PARAMETERIZED simhash banding — the scale-safe variant "
    "closing dedup_simhash_banded's classified regime bound (round-11 "
    "sf10 probe: fixed 32-bit sketches give B*n^2/2^5-ish uncorrelated "
    f"band collisions — 50x wall at the second decade). Sketch = "
    f"{WIDE_WORDS} independent seeded 60-bit simhash words read as one "
    f"{WIDE_BITS}-bit sketch; bands are sized FROM THE COLLISION "
    f"BUDGET: band_bits = {WIDE_BAND_BITS} puts uncorrelated-pair "
    f"candidate volume at {WIDE_BANDS}*n^2/2^{WIDE_BAND_BITS} — "
    "bounded per-doc candidates three decades past the 32-bit row — "
    f"while bands = h+1 = {WIDE_BANDS} keeps pigeonhole-exact recall, "
    "so the all-pairs SQL is still the oracle. THE RESTATED THRESHOLD: "
    f"Hamming <= {WIDE_HAMMING_MAX} of {WIDE_BITS} bits is a TIGHTER "
    "similarity contract than the same count of 32 (E[hamming] = "
    "w*theta/pi, so h/w is the angle bound — ~7.5 degrees here vs ~28); "
    "that trade is structural: at fixed h, exact-recall banding scales "
    "by widening bands (w = (h+1)*log2((h+1)*n/c)), which tightens "
    "h/w — the growth law the 32-bit docstring states, now "
    "implemented. Fixture pins: wide pairs are a subset of both the "
    "32-bit pairs and the dedup_minhash_lsh verdicts "
    "(tests/test_dedup.py). Same plan shape as the banded row: "
    "zero-shuffle sketch fold, posexplode to (band_id, band_val), one "
    "equi-join keyed on the band value, exact Hamming filter, distinct.",
)
def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cache(): same semantic barrier as dedup_simhash_banded — without it
    # CollapseProject inlines the word folds into every band expression
    # and both join sides.
    sh = pin(_simhash_wide(spark, sf_dir))
    band_vals = F.array(
        *[
            F.shiftright(
                f"w{i // _WIDE_BANDS_PER_WORD}",
                WIDE_BAND_BITS * (i % _WIDE_BANDS_PER_WORD),
            ).bitwiseAND(F.lit((1 << WIDE_BAND_BITS) - 1))
            for i in range(WIDE_BANDS)
        ]
    )
    bands = sh.select(
        "doc_id",
        *[f"w{w}" for w in range(WIDE_WORDS)],
        F.posexplode(band_vals).alias("band_id", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            _wide_hamming("a", "b").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= WIDE_HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Manku r-of-b simhash banding (round 13 — the CONTRACT-PRESERVING scale
# route: dedup_simhash_wide cut collisions by widening the sketch, which
# tightens the similarity threshold; r-of-b cuts them at the SAME sketch
# width and Hamming bound)
# ---------------------------------------------------------------------------

# The 32-bit sketch splits into RB_BLOCKS disjoint blocks; a candidate
# pair must agree on RB_MATCH blocks SIMULTANEOUSLY. Pigeonhole: Hamming
# <= h flips at most h blocks, so >= RB_BLOCKS - h agree, and any
# RB_MATCH <= RB_BLOCKS - h guarantees some matching combination exists
# -> exact recall, same all-pairs oracle as the banded row. Collision
# law: an uncorrelated pair matches one combination with probability
# 2^-(RB_MATCH * block_bits), so candidate volume is
# C(b, r) * n^2 / 2^(r*w/b) — here 56 * n^2 / 2^12, ~11x below the
# single-block banded row's 6 * n^2 / 2^5.33 AT THE IDENTICAL
# similarity contract (Manku, Jain & Das Sarma, WWW'07, the simhash
# near-dup construction for web crawling). The scaling knob is b (and
# with it r = b - h): raising b at fixed w multiplies the matched key
# width r*w/b faster than the C(b, r) table count grows, until key
# count per doc dominates — the measured sweet spot for w=32, h=5 is
# b=8 (56 keys/doc vs the banded row's 6).
RB_BLOCKS = 8
RB_BLOCK_BITS = SIMHASH_BITS // RB_BLOCKS
RB_MATCH = RB_BLOCKS - HAMMING_MAX  # = 3: the r in r-of-b
_RB_COMBOS: list[tuple[int, ...]] = list(
    __import__("itertools").combinations(range(RB_BLOCKS), RB_MATCH)
)
assert RB_BLOCKS * RB_BLOCK_BITS == SIMHASH_BITS and RB_MATCH >= 1


@register(
    "dedup_simhash_rb",
    oracle=f"""
    WITH {_sql_simhash_cte()}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    tags=("dedup", "sketch"),
    doc=f"Manku r-of-b simhash candidates — the CONTRACT-PRESERVING "
    f"scale route for simhash dedup (VERDICT r12 item 5): same "
    f"{SIMHASH_BITS}-bit sketch and Hamming <= {HAMMING_MAX} bound as "
    f"dedup_simhash_banded (so the output, and therefore the oracle, "
    f"is IDENTICAL — pinned value-equal in tests/test_dedup.py), but "
    f"candidates must agree on {RB_MATCH} of {RB_BLOCKS} disjoint "
    f"{RB_BLOCK_BITS}-bit blocks SIMULTANEOUSLY instead of any one "
    f"wider band. Pigeonhole keeps recall exact (<= {HAMMING_MAX} "
    f"flipped blocks leave >= {RB_MATCH} agreeing); uncorrelated-pair "
    f"candidate volume drops from the banded row's "
    f"~{SIMHASH_BANDS}·n²/2^5.33 to "
    f"{len(_RB_COMBOS)}·n²/2^{RB_MATCH * RB_BLOCK_BITS} — ~11x at the "
    f"IDENTICAL similarity contract, where dedup_simhash_wide bought "
    f"its headroom by tightening the contract (5 of 120 bits vs 5 of "
    f"32). Cost: {len(_RB_COMBOS)} combination keys per doc (vs "
    f"{SIMHASH_BANDS} bands) — the classic Manku WWW'07 trade of "
    f"table count for probe selectivity. Plan shape unchanged: "
    f"zero-shuffle sketch fold, posexplode to (combo_id, key), one "
    f"equi-join keyed on the combination value, exact Hamming filter, "
    f"distinct.",
)
def dedup_simhash_rb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cache(): same CollapseProject barrier as dedup_simhash_banded.
    sh = pin(_simhashes(spark, sf_dir))
    block = [
        F.shiftright("simhash", RB_BLOCK_BITS * j).bitwiseAND(
            F.lit((1 << RB_BLOCK_BITS) - 1)
        )
        for j in range(RB_BLOCKS)
    ]
    combo_keys = F.array(
        *[
            reduce(
                lambda acc, ji: acc + (block[ji[1]] * F.lit(1 << (RB_BLOCK_BITS * ji[0]))),
                enumerate(combo),
                F.lit(0).cast("long"),
            )
            for combo in _RB_COMBOS
        ]
    )
    keys = sh.select(
        "doc_id", "simhash", F.posexplode(combo_keys).alias("combo_id", "key")
    )
    a = keys.alias("a")
    b = keys.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.combo_id") == F.col("b.combo_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF-routed embedding dedup (the 100 TB shape of dedup_embedding_cosine)
# ---------------------------------------------------------------------------


def _sql_emb_dedup_vec_cte() -> str:
    from .similarity import _SQL_ASSIGN_CTE, FP_SCALE

    return f"""
    fx AS (
        SELECT vec_id, label,
               [CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE}) AS BIGINT) for x in embedding] AS fe
        FROM embeddings
    ),
    vecs AS (
        SELECT vec_id, label, fe, sqrt(list_dot_product(fe, fe)) AS nrm FROM fx
    ),
    {_SQL_ASSIGN_CTE}
    """


@register(
    "dedup_embedding_ivf",
    bench=True,
    oracle=f"""
    WITH {_sql_emb_dedup_vec_cte()}
    SELECT aa.vec_id AS keep_id, ab.vec_id AS drop_id,
           list_dot_product(a.fe, b.fe) / (a.nrm * b.nrm) AS cosine
    FROM assigned aa
    JOIN assigned ab ON aa.cid = ab.cid AND aa.vec_id < ab.vec_id
    JOIN vecs a ON a.vec_id = aa.vec_id
    JOIN vecs b ON b.vec_id = ab.vec_id
    WHERE list_dot_product(a.fe, b.fe) / (a.nrm * b.nrm) >= {EMB_DUP_THRESHOLD}
    """,
    tags=("dedup", "similarity"),
    doc="Embedding near-dup with IVF candidate routing: vectors are "
    "assigned to nearest-centroid cells (sim_knn_ivf's assignment, "
    "centroids broadcast), then exact fixed-point cosine runs on "
    "same-cell pairs only. The candidate join is keyed on cell id — a "
    "hash shuffle whose cost tracks cell occupancy; no cartesian or "
    "nested-loop join in the plan. High-cosine pairs share a nearest "
    "centroid with high probability (production: multi-assign to top-2 "
    "cells for exact-recall routing); dedup_embedding_cosine remains the "
    "all-pairs recall oracle. MEASURED REGIME BOUND (round-11 sf10 "
    "probe, BASELINE.md): the fixture-rule centroid count grows with "
    "the corpus (one per CENTROID_MOD vectors), so the ASSIGNMENT "
    "crossJoin is O(n^2/MOD) — 37x wall and 219 GB spill at the second "
    "10x decade, invariant to shuffle-partition count. This query is "
    "the fixture-scale recall oracle; the 100 TB dedup path is "
    "IMPLEMENTED as dedup_embedding_twolevel (two-level trained "
    "routing: granularity multiplies, assignment cost adds — measured "
    "at sf10 in BASELINE.md), with banded SRP candidates "
    "(sim_cosine_lsh_pairs' discipline) the sketch-side alternative.",
)
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _cell_assignment, _dot, _vectors

    v = pin(_vectors(spark, sf_dir))
    # Cache: the assignment feeds both sides of the self-join; without it
    # the k-centroid broadcast pass runs twice.
    # The assignment carries each vector's fe/nrm payload, so the same-cell
    # self-join scores exact cosine directly — no joins back to the vector
    # table (two fewer vec_id-keyed exchanges).
    assigned = pin(_cell_assignment(v))
    a = assigned.select(
        F.col("vec_id").alias("keep_id"), "cid",
        F.col("fe").alias("fa"), F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("drop_id"), "cid",
        F.col("fe").alias("fb"), F.col("nrm").alias("nb"),
    )
    cosine = _dot(F.col("fa"), F.col("fb")).cast("double") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "cid")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .select("keep_id", "drop_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= EMB_DUP_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Two-level trained routing (the 100 TB fix for dedup_embedding_ivf's
# measured sf10 boundary — BASELINE.md round-11 regime probe, finding 1)
# ---------------------------------------------------------------------------


def _twolevel_parts(k1: int, k2: int, iters: int) -> str:
    """The shared CTE body replaying BOTH routing levels (ends at the
    ``codes`` CTE: gid = coarse cell, cid = sub-cell per vec_id) — used
    by the pair oracle below and the balance oracle."""
    from .similarity import _pq_trainer_parts

    parts = [
        "subs1 AS (SELECT CAST(0 AS BIGINT) AS gid, vec_id, fe AS sv FROM vecs)",
    ]
    parts.extend(
        _pq_trainer_parts(k1, iters, train_src="subs1", prefix="l1", subs_src="subs1")
    )
    parts.append(
        """subs AS (
        SELECT c.cid AS gid, s.vec_id, s.sv
        FROM l1codes c JOIN subs1 s ON s.vec_id = c.vec_id)"""
    )
    parts.extend(_pq_trainer_parts(k2, iters))
    return ",\n    ".join(parts)


def _twolevel_oracle(k1: int, k2: int, iters: int) -> str:
    """ANSI replay of BOTH routing levels: the SAME trainer generator
    (_pq_trainer_parts — proven cross-engine-exact by sim_knn_pq and
    sim_knn_ivf_trained) runs once with a single constant group (coarse
    level, prefix l1) and once with gid = the coarse cell (per-cell
    sub-quantizer), then same-(coarse, sub) candidates take the exact
    cosine filter."""
    from .similarity import _SQL_VEC_CTE

    body = _twolevel_parts(k1, k2, iters)
    return f"""
    WITH {_SQL_VEC_CTE},
    {body}
    SELECT a.vec_id AS keep_id, b.vec_id AS drop_id,
           list_dot_product(va.fe, vb.fe) / (va.nrm * vb.nrm) AS cosine
    FROM codes a
    JOIN codes b ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN vecs va ON va.vec_id = a.vec_id
    JOIN vecs vb ON vb.vec_id = b.vec_id
    WHERE list_dot_product(va.fe, vb.fe) / (va.nrm * vb.nrm) >= {EMB_DUP_THRESHOLD}
    """


def twolevel_train(
    v: DataFrame, k1: int, k2: int, iters: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train BOTH routing levels over a cached vector frame ``v``
    (vec_id/fe/nrm) — the shared trainer behind the inline query
    (dedup_embedding_twolevel) and the persisted artifact
    (sources/ann_index.write_twolevel_index). Returns
    ``(cent1, cent2, assigned)``:

    - cent1: gid(=0)/cid/c_q — the coarse centroids (a boundary);
    - cent2: gid(=coarse cid)/cid/c_q — per-cell sub-centroids,
      COMPLETED so every cent1 cid appears as a gid (an empty coarse
      cell gets the coarse centroid itself as its single sub-centroid —
      route_twolevel never drops a vector);
    - assigned: c1/c2/vec_id/fe/nrm — the corpus under the FINAL
      centroids of both levels, pinned and materialized, so the
      trainer's level-2 input pin is released before this returns.

    Assignment under the returned centroids is route_twolevel — the
    trainer's own final-assign law (pq_assign twice), so persisted
    centroids reproduce ``assigned`` bit-for-bit (pinned in
    tests/test_ann_index.py)."""
    from .kmeans import lloyd_fit_grouped_quantized

    subs1 = v.select(
        F.lit(0).cast("long").alias("gid"), "vec_id", F.col("fe").alias("sv")
    )
    codes1, cent1 = lloyd_fit_grouped_quantized(subs1, k1, iters)
    # Cache the level-2 input: the grouped trainer re-reads its subs
    # frame every iteration, and without the pin each re-read would
    # replay the ENTIRE level-1 trainer as a plan prefix.
    subs2 = pin(
        codes1.select(F.col("cid").alias("gid"), "vec_id")
        .join(v.select("vec_id", F.col("fe").alias("sv")), "vec_id")
    )
    codes2, cent2 = lloyd_fit_grouped_quantized(subs2, k2, iters)
    # A cent1 centroid can win ZERO vectors in the FINAL level-1
    # assignment (its last members migrated in the closing update
    # step), so cent2 — trained per coarse cell — has no rows for that
    # gid. route_twolevel's level-2 pq_assign inner-joins on gid: an
    # increment vector routed to such a cell would silently vanish from
    # upsert_twolevel_postings / stream_ingest_twolevel output (ADVICE
    # r12). Complete the table: an empty coarse cell gets ONE synthetic
    # sub-centroid — the coarse centroid itself, sub-cid 0 — so routing
    # there is well-defined and lossless. Training-corpus assignments
    # are untouched: no corpus vector routes to an empty cell (level-1
    # routing reproduces codes1 bit-for-bit), so the oracle replay and
    # the persisted-row hash are unchanged.
    cent2 = cent2.unionByName(
        cent1.select(F.col("cid").alias("gid"), "c_q")
        .join(cent2.select("gid").distinct(), "gid", "left_anti")
        .select("gid", F.lit(0).cast("long").alias("cid"), "c_q")
    )
    assigned = pin(
        codes2.select(F.col("gid").alias("c1"), F.col("cid").alias("c2"), "vec_id")
        .join(v.select("vec_id", "fe", "nrm"), "vec_id")
    )
    assigned.count()
    release(subs2)
    return cent1, cent2, assigned


def route_twolevel(
    new_vectors: DataFrame, cent1: DataFrame, cent2: DataFrame
) -> DataFrame:
    """Assign vectors (vec_id/fe/nrm) under ALREADY-TRAINED two-level
    centroids — the search-time/increment-time routing: two broadcast
    hash joins (pq_assign at each level, exact BIGINT argmin, ties to
    the lowest cid — the trainer's own final-assign arithmetic), never
    a retrain. Returns c1/c2/vec_id/fe/nrm. At 100 TB this is the
    daily-increment path BASELINE.md's two-level fix note promises:
    both centroid tables are bounded (k1 + k1*k2 rows), so routing a
    batch costs n*(k1+k2) distance evaluations and zero shuffles beyond
    the two map-side aggregations."""
    from .kmeans import pq_assign

    subs1 = new_vectors.select(
        F.lit(0).cast("long").alias("gid"), "vec_id", F.col("fe").alias("sv")
    )
    a1 = pq_assign(subs1, cent1)
    subs2 = a1.select(F.col("cid").alias("gid"), "vec_id").join(
        new_vectors.select("vec_id", F.col("fe").alias("sv")), "vec_id"
    )
    a2 = pq_assign(subs2, cent2)
    return a2.select(
        F.col("gid").alias("c1"), F.col("cid").alias("c2"), "vec_id"
    ).join(new_vectors.select("vec_id", "fe", "nrm"), "vec_id")


def twolevel_pairs(assigned: DataFrame) -> DataFrame:
    """Same-(cell, sub-cell) candidate pairs over a routed corpus
    (c1/c2/vec_id/fe/nrm), exact fixed-point cosine filter — the
    shared search stage of the inline and persisted two-level dedup."""
    from .similarity import _dot

    a = assigned.select(
        F.col("vec_id").alias("keep_id"), "c1", "c2",
        F.col("fe").alias("fa"), F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("drop_id"), "c1", "c2",
        F.col("fe").alias("fb"), F.col("nrm").alias("nb"),
    )
    cosine = _dot(F.col("fa"), F.col("fb")).cast("double") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, ["c1", "c2"])
        .filter(F.col("keep_id") < F.col("drop_id"))
        .select("keep_id", "drop_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= EMB_DUP_THRESHOLD)
    )


def embedding_dedup_twolevel(
    spark: SparkSession,
    sf_dir: str,
    k1: int,
    k2: int,
    iters: int,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Two-level trained-routing embedding near-dup — the parameterized
    core behind dedup_embedding_twolevel, exposed so the scale-regime
    probe can size (k1, k2) to the corpus (BASELINE.md "Round-11 fix of
    regime finding 1" runs it at sf10 with sqrt-sized levels; the
    registered query pins the fixture sizes for the oracle gate).

    Level 1 trains k1 coarse cells over the whole corpus; level 2 trains
    k2 sub-cells INSIDE each coarse cell (the same grouped quantized-
    Lloyd law, gid = coarse cell). Candidates are same-(cell, sub-cell)
    pairs; exact fixed-point cosine filters them. The structural fix
    over single-level cells: granularity MULTIPLIES (k1*k2 buckets)
    while assignment cost ADDS (n*(k1+k2) distance evaluations), so
    bounded-occupancy buckets need k1 = k2 = sqrt(n/c) — O(n^1.5)
    assignment work instead of the fixture-rule single level's
    O(n^2/c), with every stage a keyed hash join (centroid sides
    broadcast, k rows)."""
    from .similarity import _vectors

    v = vectors if vectors is not None else pin(_vectors(spark, sf_dir))
    _cent1, _cent2, assigned = twolevel_train(v, k1, k2, iters)
    # The pair join reads only the materialized `assigned` (pinned: it
    # feeds both self-join sides), so the corpus pin is dead here. A
    # caller-supplied frame's pin stays the caller's (ADVICE r12).
    release(v)
    return twolevel_pairs(assigned)


def _twolevel_fixture_params() -> tuple[int, int, int]:
    from .kmeans import IVF_TRAIN_ITERS, K_DEFAULT

    return K_DEFAULT, K_DEFAULT, IVF_TRAIN_ITERS


_TL_K1, _TL_K2, _TL_ITERS = _twolevel_fixture_params()


@register(
    "dedup_embedding_twolevel",
    oracle=_twolevel_oracle(_TL_K1, _TL_K2, _TL_ITERS),
    tags=("dedup", "similarity", "iterative"),
    doc=f"Embedding near-dup with TWO-LEVEL trained routing — the "
    "implemented remedy for dedup_embedding_ivf's measured sf10 "
    "boundary (BASELINE.md round-11 regime probe: the single-level "
    "fixture-rule assignment is O(n^2/MOD) — 37x wall, 219 GB spill "
    "at the second decade). Level 1: quantized-Lloyd k1 coarse cells "
    "over the corpus (the sim_knn_ivf_trained law). Level 2: the SAME "
    "grouped trainer with gid = coarse cell trains k2 sub-cells inside "
    "each cell (the PQ codebook law, lloyd_fit_grouped_quantized). "
    "Candidates = same-(cell, sub-cell) pairs; exact fixed-point "
    "cosine >= threshold filters them, lower vec_id kept. Both levels "
    "are oracle-replayed end-to-end by the shared trainer unroll "
    f"(_pq_trainer_parts, k1={_TL_K1}, k2={_TL_K2}, iters={_TL_ITERS})"
    " — the iterative routing is hash-gated, not argued. THE SCALE "
    "LAW: granularity multiplies (k1*k2 buckets re-bound same-bucket "
    "pair mass) while assignment cost adds (n*(k1+k2) exact-BIGINT "
    "distances, centroids broadcast) — sizing k1 = k2 = sqrt(n/c) "
    "holds bucket occupancy at c with O(n*sqrt(n/c)) assignment work, "
    "vs the single level's impossible trade (fixed k leaves n^2/k "
    "pair mass; k ~ n/c makes assignment n^2/c). Measured at sf10 "
    "with sqrt-sized levels in BASELINE.md; at 100 TB the levels "
    "persist like sim_knn_ivf_persisted's artifacts (coarse = the "
    "same IVF centroid table, sub-cells = one more broadcastable "
    "parquet), so routing is two broadcast joins against a daily "
    "increment, never a retrain per run.",
)
def dedup_embedding_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_dedup_twolevel(spark, sf_dir, _TL_K1, _TL_K2, _TL_ITERS)


@register(
    "dedup_embedding_twolevel_persisted",
    oracle=_twolevel_oracle(_TL_K1, _TL_K2, _TL_ITERS),
    tags=("dedup", "similarity", "index", "sink"),
    doc="Two-level trained dedup routing FROM A PERSISTED INDEX — the "
    "train-once/search-many completion of dedup_embedding_twolevel "
    "(whose inline twin retrains BOTH levels per run). The builder "
    "first commits the router artifact through the manifest pointer "
    "(sources/ann_index.write_twolevel_index: coarse centroids + "
    "per-cell sub-centroids as broadcastable parquet routing tables, "
    "the routed corpus partitioned by coarse cell), then the returned "
    "SEARCH plan is the same-(c1, c2) pair join over two parquet "
    "scans — ZERO trainer stages (plan-pinned: no Generate/posexplode, "
    "tests/test_ann_index.py). fe (array<bigint>) and nrm (double) "
    "round-trip parquet bit-exactly, so the persisted search hash-"
    "matches the inline path under the IDENTICAL two-level trainer "
    "oracle. LIKE ITS INLINE TWIN, the registered row pins the FIXTURE "
    "level sizes (k1=k2=5) for the oracle gate, so same-bucket pair "
    "mass is n^2/25 — quadratic past bench scale BY CONSTRUCTION; the "
    "deployment path is the parameterized write_twolevel_index with "
    "sqrt-sized levels, measured at sf10 with zero spill in "
    "BASELINE.md's maintenance table (build 33.9s once, search 4.7s, "
    "increment 4.1s). At 100 TB the build is a once-per-corpus "
    "maintenance job and a daily increment routes via "
    "upsert_twolevel_postings — two broadcast joins against bounded "
    "centroid tables, never a retrain.",
)
def dedup_embedding_twolevel_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ann_index import read_twolevel_index, write_twolevel_index
    from .formats import _roundtrip_dir

    path = _roundtrip_dir(spark, "tlidx", sf_dir)
    write_twolevel_index(spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS)
    _c1, _c2, assigned = read_twolevel_index(spark, path)
    return twolevel_pairs(assigned)


def _twolevel_balance_oracle(k1: int, k2: int, iters: int) -> str:
    from .similarity import _SQL_VEC_CTE

    body = _twolevel_parts(k1, k2, iters)
    return f"""
    WITH {_SQL_VEC_CTE},
    {body}
    SELECT CAST(gid * {k2 + 1} + cid AS BIGINT) AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                / SUM(COUNT(*)) OVER () * 10000) AS DOUBLE) / 10000
               AS cell_share
    FROM codes
    GROUP BY gid, cid
    """


@register(
    "qc_twolevel_index_balance",
    oracle=_twolevel_balance_oracle(_TL_K1, _TL_K2, _TL_ITERS),
    tags=("qc", "dedup", "index"),
    doc="Router health audit over the PERSISTED two-level index: per-"
    "(coarse, sub) bucket postings count and corpus share, through the "
    "SAME composite-bucket cell_balance law maintain_twolevel_index's "
    "retrain trigger reads — so the hot-bucket definition the oracle "
    "gates IS the one that fires rebuilds (the qc_ivf_index_balance "
    "discipline, extended to the artifact: the builder commits the "
    "index, then audits the committed postings, driver-gating the "
    "whole persist→read→audit path, not just the inline trainer). "
    "Same-bucket pair mass is QUADRATIC in bucket occupancy, so the "
    "p99 of candidate generation is set by the LARGEST bucket — the "
    "audit's max share times corpus size bounds it. Oracle replays "
    "both trainer levels and groups the final codes; cell_share is "
    "the floor*1e4 portable ratio. At 100 TB this reads c1 partition "
    "footprints plus a c2 sub-count — metadata-weight.",
)
def qc_twolevel_index_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ann_index import twolevel_index_balance, write_twolevel_index
    from .formats import _roundtrip_dir

    path = _roundtrip_dir(spark, "tlidx", sf_dir)
    write_twolevel_index(spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS)
    return twolevel_index_balance(spark, path)


@register(
    "dedup_exact_normalized",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
    FROM documents
    GROUP BY md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
    """,
    tags=("dedup", "text"),
    doc="Normalization-aware exact dedup (the C4-style 'exact after "
    "canonicalization' stage between raw-digest dedup and MinHash): "
    "documents equal after lowercasing, trimming, and whitespace "
    "collapse share a group — n_raw_variants counts how many RAW "
    "digests the normalized group absorbs, i.e. how much the cheap "
    "normalization buys before any near-dup machinery runs. The "
    "normalization is row-local column algebra feeding one md5, so "
    "the shuffle still carries 16-byte digests, never documents; "
    "the regex is anchored to literal-space runs (no catastrophic "
    "classes), and Spark/DuckDB agree on lower() for the fixture's "
    "ASCII regime (the locale caveat text_fuzzy_pairs documents).",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " ")))
    return (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5(norm).alias("digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct(F.md5("text")).alias("n_raw_variants"),
        )
        .select("doc_id", "n_copies", "n_raw_variants")
    )


# ---------------------------------------------------------------------------
# LSH parameter tuning (closes SCALE.md's "retune (k, bands) per corpus")
# ---------------------------------------------------------------------------

LSH_TUNE_SAMPLE_MOD = 5   # fixture sample; production: hash-mod to a fixed count
LSH_TUNE_SAMPLE_CAP = 5000  # id cap bounds the sample at ANY corpus size
LSH_TUNE_FN_PENALTY = 100.0  # one missed near-dup costs ~100 candidate verifies


def _sql_lsh_tune_oracle() -> str:
    matches = " + ".join(
        f"CASE WHEN s1.mh{j} = s2.mh{j} THEN 1 ELSE 0 END" for j in range(MINHASH_K)
    )
    k_thresh = int(JACCARD_THRESHOLD * MINHASH_K)
    return f"""
    WITH {_SQL_SHINGLES_CTE},
    {_SQL_SIG_CTE},
    samp AS (SELECT * FROM sig
             WHERE doc_id % {LSH_TUNE_SAMPLE_MOD} = 0
               AND doc_id < {LSH_TUNE_SAMPLE_CAP}),
    pairs AS (
        SELECT ({matches}) AS k
        FROM samp s1 JOIN samp s2 ON s1.doc_id < s2.doc_id
    ),
    hist AS (SELECT k, COUNT(*) AS n FROM pairs GROUP BY k),
    br AS (
        SELECT * FROM (VALUES (1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
        t(bands, rows_per_band)
    ),
    terms AS (
        SELECT bands, rows_per_band, k, n, 1.0 - ub AS p FROM (
            SELECT *, CASE bands WHEN 1 THEN u WHEN 2 THEN u * u
                      WHEN 4 THEN u2 * u2 WHEN 8 THEN u4 * u4
                      ELSE u8 * u8 END AS ub
            FROM (
                SELECT *, u * u AS u2, (u * u) * (u * u) AS u4,
                       ((u * u) * (u * u)) * ((u * u) * (u * u)) AS u8
                FROM (
                    SELECT *, 1.0 - sr AS u FROM (
                        SELECT *, CASE rows_per_band WHEN 1 THEN s
                                  WHEN 2 THEN s * s WHEN 4 THEN s2 * s2
                                  WHEN 8 THEN s4 * s4 ELSE s8 * s8 END AS sr
                        FROM (
                            SELECT *, s * s AS s2, (s * s) * (s * s) AS s4,
                                   ((s * s) * (s * s)) * ((s * s) * (s * s)) AS s8
                            FROM (
                                SELECT bands, rows_per_band, k, n,
                                       CAST(k AS DOUBLE) / {MINHASH_K}.0 AS s
                                FROM hist CROSS JOIN br
                            ) t0
                        ) t1
                    ) t2
                ) t3
            ) t4
        ) t5
    ),
    folded AS (
        SELECT bands, rows_per_band,
               CAST(SUM(n) AS BIGINT) AS sampled_pairs,
               list_reduce(list(CAST(n AS DOUBLE) * p ORDER BY k),
                           (acc, x) -> acc + x) AS expected_candidates,
               list_reduce(list(CASE WHEN k >= {k_thresh}
                                THEN CAST(n AS DOUBLE) * (1.0 - p)
                                ELSE 0.0 END ORDER BY k),
                           (acc, x) -> acc + x) AS fn_mass,
               list_reduce(list(CASE WHEN k < {k_thresh}
                                THEN CAST(n AS DOUBLE) * p
                                ELSE 0.0 END ORDER BY k),
                           (acc, x) -> acc + x) AS fp_mass
        FROM terms
        GROUP BY bands, rows_per_band
    )
    SELECT bands, rows_per_band, sampled_pairs, expected_candidates,
           fn_mass, fp_mass, cost,
           ROW_NUMBER() OVER (ORDER BY cost, bands) = 1 AS recommended
    FROM (
        SELECT *, fn_mass * {LSH_TUNE_FN_PENALTY} + expected_candidates AS cost
        FROM folded
    ) c
    """


@register(
    "dedup_lsh_tune",
    oracle=_sql_lsh_tune_oracle(),
    tags=("dedup", "sketch", "stats"),
    doc="LSH parameter tuner — closes SCALE.md's 'retune (k, bands) per "
    "corpus similarity profile' shortcut by making the retune ITSELF a "
    "query: estimate the corpus pair-similarity histogram from MinHash "
    "agreement over a deterministic doc sample (doc_id % "
    f"{LSH_TUNE_SAMPLE_MOD} below id {LSH_TUNE_SAMPLE_CAP} — the cap "
    "bounds the sample, and therefore the all-pairs estimator, by "
    "CONSTRUCTION at any corpus size; production swaps in a hash-mod "
    "chosen to hit the same fixed count on sparse ids), then score "
    f"every (bands x rows) split of the {MINHASH_K} hashes with the "
    "standard S-curve P(candidate|s) = 1-(1-s^r)^b: expected candidate "
    "mass, false-negative mass above the Jaccard threshold, false-"
    "positive mass below it, and a recommended flag minimizing "
    f"fn*{LSH_TUNE_FN_PENALTY:.0f}+candidates. Exactness discipline: "
    "similarities are k/16 (dyadic — exact doubles), the powers are "
    "explicit square-multiply chains (never pow(), whose libm differs "
    "across engines), and the per-split sums fold ordered arrays "
    "(sort_array+aggregate vs list ORDER BY+list_reduce) so float "
    "summation order is pinned on both sides. The sampled all-pairs "
    "join is the one deliberately quadratic piece - quadratic in the "
    "SAMPLE (~1k docs), not the corpus, the same contract as a "
    "sort-based quantile sample.",
)
def dedup_lsh_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    k_thresh = int(JACCARD_THRESHOLD * MINHASH_K)
    sig = _signatures(spark, sf_dir).filter(
        (F.col("doc_id") % LSH_TUNE_SAMPLE_MOD == 0)
        & (F.col("doc_id") < LSH_TUNE_SAMPLE_CAP)
    )
    a, b = sig.alias("a"), sig.alias("b")
    k_match = reduce(
        lambda x, y: x + y,
        [
            (F.col(f"a.mh{j}") == F.col(f"b.mh{j}")).cast("int")
            for j in range(MINHASH_K)
        ],
    )
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        k_match.alias("k")
    )
    hist = pairs.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    br = spark.createDataFrame(
        [(1, 16), (2, 8), (4, 4), (8, 2), (16, 1)], "bands int, rows_per_band int"
    )
    s = F.col("k").cast("double") / float(MINHASH_K)
    cross = (
        hist.crossJoin(F.broadcast(br))
        .withColumn("s", s)
        .withColumn("s2", F.col("s") * F.col("s"))
        .withColumn("s4", F.col("s2") * F.col("s2"))
        .withColumn("s8", F.col("s4") * F.col("s4"))
        .withColumn(
            "sr",
            F.when(F.col("rows_per_band") == 1, F.col("s"))
            .when(F.col("rows_per_band") == 2, F.col("s2"))
            .when(F.col("rows_per_band") == 4, F.col("s4"))
            .when(F.col("rows_per_band") == 8, F.col("s8"))
            .otherwise(F.col("s8") * F.col("s8")),
        )
        .withColumn("u", F.lit(1.0) - F.col("sr"))
        .withColumn("u2", F.col("u") * F.col("u"))
        .withColumn("u4", F.col("u2") * F.col("u2"))
        .withColumn("u8", F.col("u4") * F.col("u4"))
        .withColumn(
            "ub",
            F.when(F.col("bands") == 1, F.col("u"))
            .when(F.col("bands") == 2, F.col("u2"))
            .when(F.col("bands") == 4, F.col("u4"))
            .when(F.col("bands") == 8, F.col("u8"))
            .otherwise(F.col("u8") * F.col("u8")),
        )
        .withColumn("p", F.lit(1.0) - F.col("ub"))
    )
    nd = F.col("n").cast("double")
    terms = cross.select(
        "bands",
        "rows_per_band",
        "k",
        "n",
        (nd * F.col("p")).alias("cand_t"),
        F.when(F.col("k") >= k_thresh, nd * (F.lit(1.0) - F.col("p")))
        .otherwise(F.lit(0.0))
        .alias("fn_t"),
        F.when(F.col("k") < k_thresh, nd * F.col("p"))
        .otherwise(F.lit(0.0))
        .alias("fp_t"),
    )

    def fold(field: str) -> F.Column:
        return F.aggregate(
            F.transform("arr", lambda st: st[field]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    folded = (
        terms.groupBy("bands", "rows_per_band")
        .agg(
            F.sum("n").alias("sampled_pairs"),
            F.sort_array(
                F.collect_list(F.struct("k", "cand_t", "fn_t", "fp_t"))
            ).alias("arr"),
        )
        .select(
            "bands",
            "rows_per_band",
            "sampled_pairs",
            fold("cand_t").alias("expected_candidates"),
            fold("fn_t").alias("fn_mass"),
            fold("fp_t").alias("fp_mass"),
        )
        .withColumn(
            "cost",
            F.col("fn_mass") * F.lit(LSH_TUNE_FN_PENALTY)
            + F.col("expected_candidates"),
        )
    )
    w = Window.orderBy("cost", "bands")
    return folded.select(
        "bands",
        "rows_per_band",
        "sampled_pairs",
        "expected_candidates",
        "fn_mass",
        "fp_mass",
        "cost",
        (F.row_number().over(w) == 1).alias("recommended"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup (the daily-batch production shape)
# ---------------------------------------------------------------------------

INCR_MOD = 10  # fixture increment: doc_id % 10 == 0 (a ~10% "daily batch")


def _sql_incremental_lsh_oracle() -> str:
    matches = " + ".join(
        f"CASE WHEN s1.mh{j} = s2.mh{j} THEN 1 ELSE 0 END" for j in range(MINHASH_K)
    )
    return f"""
    WITH {_SQL_SHINGLES_CTE},
    {_SQL_SIG_CTE},
    bands AS ({_sql_band_cte()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS cand_id
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
        WHERE a.doc_id % {INCR_MOD} = 0
          AND (b.doc_id % {INCR_MOD} != 0 OR b.doc_id < a.doc_id)
    ),
    scored AS (
        SELECT new_id, cand_id, ({matches}) / {MINHASH_K}.0 AS est_jaccard
        FROM cand
        JOIN sig s1 ON new_id = s1.doc_id
        JOIN sig s2 ON cand_id = s2.doc_id
        WHERE ({matches}) / {MINHASH_K}.0 >= {JACCARD_THRESHOLD}
    ),
    best AS (
        SELECT new_id, MIN(cand_id) AS dup_of,
               arg_min(est_jaccard, cand_id) AS est_jaccard
        FROM scored GROUP BY new_id
    )
    SELECT d.doc_id, b.dup_of, b.est_jaccard, b.dup_of IS NULL AS keep
    FROM (SELECT doc_id FROM documents WHERE doc_id % {INCR_MOD} = 0) d
    LEFT JOIN best b ON b.new_id = d.doc_id
    """


@register(
    "dedup_incremental_lsh",
    bench=True,
    oracle=_sql_incremental_lsh_oracle(),
    tags=("dedup", "sketch", "incremental"),
    doc="INCREMENTAL MinHash-LSH dedup — the production shape the "
    "full-recompute queries skip: a new batch (fixture: doc_id % "
    f"{INCR_MOD} == 0) is deduped against the HISTORICAL corpus plus "
    "earlier docs of its own batch, and each new doc gets a verdict "
    "(keep, or dup_of = the lowest matching doc). The candidate join "
    "is new-bands x all-bands on the shared 4x4 band layout — "
    "history x history pairs are never generated, so per-batch cost "
    "tracks increment_size x collision_rate instead of re-running "
    "corpus-wide dedup (at 100 TB: the historical band index is a "
    "bucketed table keyed on (band_id, band_key); a daily batch "
    "shuffles only its own bands against it, exactly this plan). "
    "History docs are never re-verdicted — an earlier keep decision "
    "is immutable, which is what makes the operator idempotent "
    "across batches. Signature agreement >= "
    f"{JACCARD_THRESHOLD} decides, lowest matching doc wins ties "
    "(arg_min on the distinct candidate set — deterministic both "
    "engines).",
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = pin(_signatures(spark, sf_dir))
    bands = _band_frame(sig)
    a = bands.filter(F.col("doc_id") % INCR_MOD == 0).alias("a")
    b_ = bands.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (
                (F.col("b.doc_id") % INCR_MOD != 0)
                | (F.col("b.doc_id") < F.col("a.doc_id"))
            ),
        )
        .select(F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("cand_id"))
        .distinct()
    )
    s1, s2 = sig.alias("s1"), sig.alias("s2")
    agree = reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"s1.mh{j}") == F.col(f"s2.mh{j}"), 1).otherwise(0)
            for j in range(MINHASH_K)
        ],
    )
    scored = (
        cand.join(s1, F.col("new_id") == F.col("s1.doc_id"))
        .join(s2, F.col("cand_id") == F.col("s2.doc_id"))
        .select("new_id", "cand_id", (agree / float(MINHASH_K)).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
    )
    best = scored.groupBy("new_id").agg(
        F.min("cand_id").alias("dup_of"),
        F.min_by("est_jaccard", "cand_id").alias("est_jaccard"),
    )
    incr = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCR_MOD == 0)
        .select("doc_id")
    )
    return incr.join(
        best, incr["doc_id"] == best["new_id"], "left"
    ).select(
        "doc_id",
        "dup_of",
        "est_jaccard",
        F.col("dup_of").isNull().alias("keep"),
    )


def _band_frame(sig: DataFrame) -> DataFrame:
    """Explode a signature frame into its LSH band index rows
    (doc_id, band_id, band_key) — the 4x4 band layout every LSH query
    shares (THE single source: _lsh_candidates, dedup_incremental_lsh,
    and the persisted band index all call this). One pass over sig, not
    a LSH_BANDS-way union: posexplode an array of per-band keys; band
    id comes free as the array position."""
    band_keys = F.array(
        *[
            F.concat_ws(",", *[f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)])
            for b in range(LSH_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band_id", "band_key"))


# write_minhash_index moved to sources/ann_index.py (round 11): the
# persisted band index now commits through the same manifest-pointer
# mechanism as the IVF/PQ indexes, with upsert_minhash_index /
# compact_minhash_index completing its maintenance cycle.


@register(
    "dedup_incremental_persisted",
    oracle=_sql_incremental_lsh_oracle(),
    tags=("dedup", "sketch", "incremental", "index", "sink"),
    doc="Incremental MinHash-LSH dedup FROM A PERSISTED BAND INDEX — "
    "extends the round-10 train-once/search-many family to dedup: the "
    "builder first persists the historical corpus's index "
    "(write_minhash_index — signatures + band table partitioned by "
    "band_id), then the incremental batch computes signatures for the "
    "NEW docs ONLY (the doc_id filter pushes below the row-local "
    "md5/permutation transforms to the parquet scan) and joins its "
    "bands against the persisted band index; verification sigs for "
    "historical candidates come from the persisted signature table. "
    "Identical verdict law and the IDENTICAL oracle as "
    "dedup_incremental_lsh — what changes is the bill: per-batch "
    "compute is increment-sized (inline recomputes corpus-wide "
    "signatures every run — one md5 per (doc, shingle) over the full "
    "history), and at 100 TB the band index is append-maintained like "
    "the IVF postings (today's keeps append their bands; earlier "
    "verdicts stay immutable).",
)
def dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ann_index import read_minhash_index, write_minhash_index
    from .formats import _roundtrip_dir

    path = _roundtrip_dir(spark, "mhidx", sf_dir)
    write_minhash_index(spark, sf_dir, path)  # the once-per-corpus build

    hist_sig, hist_bands = read_minhash_index(spark, path)
    hist_bands = hist_bands.select("doc_id", "band_id", "band_key")
    new_sig = pin(_signatures(spark, sf_dir).filter(F.col("doc_id") % INCR_MOD == 0))
    new_bands = _band_frame(new_sig)

    a = new_bands.alias("a")
    b_ = hist_bands.unionByName(new_bands).alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (
                (F.col("b.doc_id") % INCR_MOD != 0)
                | (F.col("b.doc_id") < F.col("a.doc_id"))
            ),
        )
        .select(F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("cand_id"))
        .distinct()
    )
    s1 = new_sig.alias("s1")
    s2 = hist_sig.unionByName(new_sig).alias("s2")
    agree = reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"s1.mh{j}") == F.col(f"s2.mh{j}"), 1).otherwise(0)
            for j in range(MINHASH_K)
        ],
    )
    scored = (
        cand.join(s1, F.col("new_id") == F.col("s1.doc_id"))
        .join(s2, F.col("cand_id") == F.col("s2.doc_id"))
        .select("new_id", "cand_id", (agree / float(MINHASH_K)).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
    )
    best = scored.groupBy("new_id").agg(
        F.min("cand_id").alias("dup_of"),
        F.min_by("est_jaccard", "cand_id").alias("est_jaccard"),
    )
    incr = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCR_MOD == 0)
        .select("doc_id")
    )
    return incr.join(best, incr["doc_id"] == best["new_id"], "left").select(
        "doc_id",
        "dup_of",
        "est_jaccard",
        F.col("dup_of").isNull().alias("keep"),
    )


# --- Exact-substring (maximal shared span) dedup -----------------------------

SPAN_W = 8        # seed window, tokens
SPAN_MIN = 12     # report spans of at least this many shared tokens
SPAN_DF_CAP = 64  # drop seed hashes occurring more often (boilerplate guard)

_SPAN_SEED_SQL = sql_hash60(
    f"array_to_string(toks[pos:pos + {SPAN_W - 1}], ' ')"
)


@register(
    "dedup_substring_spans",
    bench=True,
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    pos_ex AS (
        SELECT doc_id, toks,
               CAST(unnest(generate_series(1, n - {SPAN_W} + 1)) AS INTEGER)
                   AS pos
        FROM tok WHERE n >= {SPAN_W}
    ),
    seeds AS (
        SELECT doc_id, pos, {_SPAN_SEED_SQL} AS h FROM pos_ex
    ),
    kept AS (
        SELECT * FROM (
            SELECT doc_id, pos, h, COUNT(*) OVER (PARTITION BY h) AS occ
            FROM seeds
        ) WHERE occ <= {SPAN_DF_CAP}
    ),
    anchors AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS d
        FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    steps AS (
        SELECT doc_a, doc_b, d, pos_a,
               CASE WHEN pos_a - LAG(pos_a) OVER w = 1 THEN 0 ELSE 1 END
                   AS step
        FROM anchors
        WINDOW w AS (PARTITION BY doc_a, doc_b, d ORDER BY pos_a)
    ),
    islands AS (
        SELECT doc_a, doc_b, d, pos_a,
               SUM(step) OVER (PARTITION BY doc_a, doc_b, d ORDER BY pos_a
                               ROWS UNBOUNDED PRECEDING) AS island
        FROM steps
    )
    SELECT doc_a, doc_b,
           CAST(MIN(pos_a) AS INTEGER) AS start_a,
           CAST(MIN(pos_a) - d AS INTEGER) AS start_b,
           CAST(MAX(pos_a) - MIN(pos_a) + {SPAN_W} AS INTEGER) AS span_tokens
    FROM islands
    GROUP BY doc_a, doc_b, d, island
    HAVING MAX(pos_a) - MIN(pos_a) + {SPAN_W} >= {SPAN_MIN}
    ORDER BY doc_a, doc_b, start_a, start_b
    """,
    tags=("dedup", "text", "substring"),
    doc=f"Exact-substring dedup — maximal shared token spans between doc "
    f"pairs (the 'deduplicating training data' substring granularity: "
    f"near-dup docs caught by MinHash still share verbatim passages that "
    f"doc-level verdicts cannot localize; this emits (pair, start_a, "
    f"start_b, length) so the duplicated span itself can be cut). "
    f"Seed-and-merge instead of a suffix array: every {SPAN_W}-token "
    f"window is hashed (hash60, engine-portable, so the oracle replays "
    f"collisions too), windows occurring more than {SPAN_DF_CAP} times "
    f"are dropped as boilerplate (the candidate-budget discipline of "
    f"text_tfidf_topk_capped), matching anchors join on the hash, and "
    f"anchors on the same pair diagonal (pos_a - pos_b) merge into "
    f"maximal islands: stride-1 windows make a shared region an "
    f"unbroken run of matching anchors, so consecutive-anchor islands "
    f"ARE the maximal spans, reported when >= {SPAN_MIN} tokens. "
    f"Scale shape: the window hashing is one map pass; the xxhash64+"
    f"integer-fold swap was MEASURED and REJECTED at sf1 (BASELINE.md "
    f"'Span seed-hash formulation': interpreted HOF lambdas make the "
    f"folds cost more than the codegen-visible md5 — an O(1) rolling "
    f"recurrence would need a prefix scan Spark's HOFs lack, i.e. a "
    f"mapInPandas kernel, trading the no-Python-hot-path rule for a "
    f"constant that is not currently the bill), the anchor join is a "
    f"keyed equi-join bounded by the occurrence cap — never all-pairs — "
    f"and the island merge windows over (pair, diagonal), never "
    f"globally. Detection is exact for spans >= {SPAN_MIN} modulo "
    f"60-bit hash collisions (~1e-18/pair-position, identically "
    f"replayed by the oracle).",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(t(spark, sf_dir, "documents")).select("doc_id", "text")
    return substring_spans(docs)


def substring_spans(docs: DataFrame) -> DataFrame:
    """Maximal shared token spans over a (doc_id, text) frame — the
    kernel behind ``dedup_substring_spans``; split out so property tests
    can drive it on literal corpora (tests/test_properties.py pins it
    against a brute-force per-diagonal reference)."""
    toks = F.split("text", " ")
    staged = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= SPAN_W
    )
    # Seed hashing stays md5-per-window DELIBERATELY (round-9 A/B,
    # BASELINE.md "Span seed-hash formulation"): the long-promised
    # "xxhash64 tokens + integer polynomial fold" swap was built and
    # measured at sf1 and did NOT win — 1.11s (two-lane fold) / 2.53s
    # (struct-accumulator fold) vs 1.03s (this md5) on the isolated
    # map pass, because HOF lambdas execute as interpreted expression
    # trees: sixteen interpreted mod-muls per window cost more than one
    # codegen-visible md5 call, and the fold's per-window F.slice adds
    # an array copy md5's concat_ws doesn't. Keeping md5 also keeps the
    # stronger oracle story — the oracle replays hash60 bit-for-bit,
    # collisions included.
    seed_hashes = F.transform(
        F.sequence(F.lit(1), F.size("toks") - SPAN_W + 1),
        lambda p: hash60(F.concat_ws(" ", F.slice(F.col("toks"), p, SPAN_W))),
    )
    seeds = staged.select(
        "doc_id", F.posexplode(seed_hashes).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "h")
    occ = Window.partitionBy("h")
    # cache() is a semantic barrier against CollapseProject re-inlining
    # (the dedup_simhash_banded trap): without it, both self-join sides
    # recompute the O(n·W) window hashing AND the occurrence window.
    kept = pin(
        seeds.withColumn("occ", F.count(F.lit(1)).over(occ))
        .filter(F.col("occ") <= SPAN_DF_CAP)
        .select("doc_id", "pos", "h")
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h")
    anchors = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("d"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pos_a")
    islands = anchors.withColumn(
        "island",
        F.sum(
            F.when(F.col("pos_a") - F.lag("pos_a").over(w) == 1, 0).otherwise(1)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    span = F.max("pos_a") - F.min("pos_a") + F.lit(SPAN_W)
    return (
        islands.groupBy("doc_a", "doc_b", "d", "island")
        .agg(
            F.min("pos_a").cast("int").alias("start_a"),
            (F.min("pos_a") - F.col("d")).cast("int").alias("start_b"),
            span.cast("int").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= SPAN_MIN)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    )
