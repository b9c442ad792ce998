"""Training-data pipeline operators: deterministic splits, sampling,
sequence packing, and benchmark-contamination checks over ``documents``.

These are the dataset-construction steps an LLM training pipeline runs at
100 TB — all expressed as pure DataFrame plans over the engine-portable
``hash60`` (functions/hashing.py), so every assignment is a deterministic
function of the row's key: re-running on different cluster sizes,
partitionings, or engines yields byte-identical splits/samples. No RNG
state, no ``rand()`` (non-reproducible across retries), no driver-side
shuffling.

Scale notes:
- Split/sample ops are map-only (no shuffle at all) — the filter sits
  directly on the scan and composes with predicate pushdown.
- Packing shuffles once on the bin key, then packs within each bin with a
  partition-local running sum; no global ordering bottleneck.
- The contamination join keys on shingle hash60; the benchmark side is a
  tiny fraction (5%) of the corpus and is broadcast at any realistic
  benchmark size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60, sql_hash60, sql_word_shingles, shingles_from_words
from ..operators._util import explode_unpushed, spread, t
from ..plans.catalog import register

# Salted key expressions — salting the hash input decorrelates each op's
# buckets from every other op's (a doc's split bucket is independent of its
# sample bucket), mirrored exactly in the oracle SQL. Functions, not module
# constants: building a Column requires an active SparkContext.
def _salted(salt: str):
    return F.concat(F.lit(salt), F.col("doc_id").cast("string"))


_SQL_SPLIT_KEY = "'split:' || CAST(doc_id AS VARCHAR)"
_SQL_SAMPLE_KEY = "'sample:42:' || CAST(doc_id AS VARCHAR)"
_SQL_BENCH_KEY = "'bench:' || CAST(doc_id AS VARCHAR)"


@register(
    "train_split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {sql_hash60(_SQL_SPLIT_KEY)} % 100 AS bucket
          FROM documents)
    """,
    tags=("training", "split"),
    doc="Deterministic 90/5/5 train/val/test assignment: bucket = "
    "hash60('split:'||doc_id) mod 100. Map-only (zero shuffle); adding "
    "documents never reassigns existing ones, unlike rand()-based or "
    "row-number-based splits.",
)
def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = hash60(_salted("split:")) % 100
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias("split"),
    )


@register(
    "train_sample_hash",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {sql_hash60(_SQL_SAMPLE_KEY)} % 10000 < 1000
    """,
    tags=("training", "sample"),
    doc="Deterministic 10% Bernoulli sample: keep iff "
    "hash60('sample:42:'||doc_id) mod 10000 < 1000. The '42' salt is the "
    "seed — different salts give independent samples. Pushes down as an "
    "ordinary filter; no shuffle, no RNG state.",
)
def train_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .filter(hash60(_salted("sample:42:")) % 10000 < 1000)
        .select("doc_id", "lang", "n_chars")
    )


# Per-language keep-rates for the mixture-rebalancing sample: downsample
# the dominant language, keep the tail. Basis points out of 10000.
_STRATA_BPS = {"en": 2500, "fr": 7500, "es": 7500, "de": 7500, "zh": 7500}


@register(
    "train_sample_stratified",
    oracle=f"""
    SELECT lang, COUNT(*) AS sampled_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE {sql_hash60(_SQL_SAMPLE_KEY)} % 10000 <
          CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_BPS.items())}
               ELSE 10000 END
    GROUP BY lang
    """,
    tags=("training", "sample"),
    doc="Stratified mixture rebalancing: per-language keep-rates (en 25%, "
    "others 75%) applied via the same hash-threshold trick, then audited "
    "with per-stratum counts. One map-side filter + one tiny group-by — "
    "the 100 TB cost is a single corpus scan.",
)
def train_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    rate = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _STRATA_BPS.items() for x in kv])[F.col("lang")],
        F.lit(10000),
    )
    return (
        t(spark, sf_dir, "documents")
        .filter(hash60(_salted("sample:42:")) % 10000 < rate)
        .groupBy("lang")
        .agg(
            F.count("*").alias("sampled_docs"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


_PACK_BUDGET = 512  # tokens per pack
_PACK_BINS = 32     # parallel packing bins


@register(
    "train_pack_sequences",
    bench=True,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               {sql_hash60(_SQL_SPLIT_KEY)} AS h
        FROM documents
    ),
    binned AS (
        SELECT doc_id, n_tokens, h % {_PACK_BINS} AS bin,
               SUM(n_tokens) OVER (PARTITION BY h % {_PACK_BINS}
                                   ORDER BY h, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks
    )
    SELECT doc_id, n_tokens,
           bin * 1000000 + CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT)
               AS pack_id
    FROM binned
    """,
    tags=("training", "packing"),
    doc=f"Greedy sequence packing into ~{_PACK_BUDGET}-token packs: docs "
    f"are dealt into {_PACK_BINS} deterministic bins by hash, ordered "
    "within each bin by the same hash (a deterministic shuffle), and "
    "packed by running token count. One shuffle on the bin key; the "
    "running sum is partition-local, so there is no global-order "
    "bottleneck — at 100 TB raise the bin count to executor count.",
)
def train_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        hash60(_salted("split:")).alias("h"),
    )
    binned = docs.withColumn("bin", F.col("h") % _PACK_BINS)
    w = Window.partitionBy("bin").orderBy("h", "doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return binned.select(
        "doc_id",
        "n_tokens",
        (
            F.col("bin") * 1000000
            + F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET)
        ).alias("pack_id"),
    )


_CONTAM_K = 3  # shingle width for contamination detection


@register(
    "train_importance_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars, CAST(ttr_bps AS INTEGER) AS ttr_bps
    FROM (
        SELECT doc_id, lang, n_chars,
               FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) * 10000) AS ttr_bps
        FROM documents
    )
    WHERE {sql_hash60("'imp:42:' || CAST(doc_id AS VARCHAR)")} % 10000 < ttr_bps
    """,
    tags=("training", "sample"),
    doc="Importance-weighted (quality-proportional) sampling: each doc's "
    "keep-probability is its type-token ratio (distinct words / words), "
    "realized deterministically as hash60('imp:42:'||doc_id) mod 10000 < "
    "floor(ttr*1e4). Repetitive docs are downweighted smoothly instead of "
    "hard-filtered — the resample-by-classifier-score pattern from "
    "published pipeline recipes, minus the classifier. FLOOR of an IEEE "
    "division is bit-deterministic in both engines (same rationale as "
    "_util.fixed), and the whole operator is one map-side filter: no "
    "shuffle, no RNG state, reproducible under retries at any scale.",
)
def train_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Named array column first — the size/array_distinct pair gets no CSE
    # inside further HOF use, and projecting once keeps the split single.
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.split("text", " ").alias("w")
    )
    ttr_bps = F.floor(
        F.size(F.array_distinct("w")).cast("double") / F.size("w") * 10000
    )
    staged = toks.select("doc_id", "lang", "n_chars", ttr_bps.alias("ttr_bps"))
    return staged.filter(
        hash60(F.concat(F.lit("imp:42:"), F.col("doc_id").cast("string"))) % 10000
        < F.col("ttr_bps")
    ).select("doc_id", "lang", "n_chars", F.col("ttr_bps").cast("int").alias("ttr_bps"))


_EPOCH_BUCKETS_BITS = 10  # 1024 contiguous hash ranges


@register(
    "train_epoch_order",
    oracle=f"""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY {sql_hash60("'shuffle:7:' || CAST(doc_id AS VARCHAR)")},
                        doc_id) AS BIGINT) AS epoch_pos
    FROM documents
    """,
    tags=("training", "shuffle"),
    doc="Deterministic epoch shuffle: every document's position in epoch "
    "7's training order is rank-by-salted-hash — reshuffling an epoch is "
    "just a salt change, reproducible across retries/engines with no RNG "
    "state. The oracle uses one global ROW_NUMBER (fine for DuckDB); the "
    "Spark plan deliberately does NOT — an unpartitioned window "
    "serializes onto one task. Instead: bucket by the hash's TOP bits "
    "(buckets are contiguous hash ranges, so bucket order ≡ global "
    "order), rank within each bucket in parallel, then add per-bucket "
    "offsets from a 1024-row cumulative count — exact global positions "
    "with nothing wider than a 1024-row broadcast.",
)
def train_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = hash60(_salted("shuffle:7:"))
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", h.alias("h")
    ).withColumn("bkt", F.shiftright("h", 60 - _EPOCH_BUCKETS_BITS))
    in_bucket = Window.partitionBy("bkt").orderBy("h", "doc_id")
    ranked = docs.select(
        "doc_id", "bkt", F.row_number().over(in_bucket).alias("r")
    )
    # Tiny side: bucket → count of all STRICTLY EARLIER buckets.
    counts = docs.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    off_w = (
        Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bkt", F.coalesce(F.sum("c").over(off_w), F.lit(0)).alias("off")
    )
    return (
        ranked.join(F.broadcast(offsets), "bkt")
        .select("doc_id", (F.col("off") + F.col("r")).alias("epoch_pos"))
    )


def _sql_split_leakage_oracle() -> str:
    from ..operators.dedup import _sql_lsh_oracle

    return f"""
    WITH leak_pairs AS ({_sql_lsh_oracle()}),
    splits AS (
        SELECT doc_id,
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, {sql_hash60(_SQL_SPLIT_KEY)} % 100 AS bucket
              FROM documents)
    )
    SELECT p.d1, p.d2, p.est_jaccard,
           s1.split AS split1, s2.split AS split2
    FROM leak_pairs p
    JOIN splits s1 ON p.d1 = s1.doc_id
    JOIN splits s2 ON p.d2 = s2.doc_id
    WHERE s1.split <> s2.split
    """


@register(
    "train_split_leakage",
    oracle=_sql_split_leakage_oracle(),
    tags=("training", "dedup"),
    doc="Split-leakage guard: near-duplicate pairs (MinHash-LSH, same "
    "candidates and threshold as dedup_minhash_lsh) that STRADDLE the "
    "train/val/test assignment from train_split_assign — eval examples "
    "with a near-copy in training data invalidate the eval. Composes the "
    "two existing operators: the LSH pair list (small — true near-dups "
    "only) joins the map-side (doc_id, split) projection twice. The "
    "production remedy is group-aware splitting (assign by dedup_clusters "
    "component instead of doc_id); this query is the audit that says "
    "whether you need it.",
)
def train_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    bucket = hash60(_salted("split:")) % 100
    splits = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias(
            "split"
        ),
    )
    s1 = splits.select(F.col("doc_id").alias("d1"), F.col("split").alias("split1"))
    s2 = splits.select(F.col("doc_id").alias("d2"), F.col("split").alias("split2"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .filter(F.col("split1") != F.col("split2"))
        .select("d1", "d2", "est_jaccard", "split1", "split2")
    )


def _sql_split_by_cluster_oracle() -> str:
    from ..operators.graph import _SQL_CC_CTES

    return f"""
    WITH RECURSIVE {_SQL_CC_CTES},
    clusters AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 {sql_hash60("'split:' || CAST(cluster_id AS VARCHAR)")} % 100
                     AS bucket
          FROM clusters)
    """


@register(
    "train_split_by_cluster",
    oracle=_sql_split_by_cluster_oracle(),
    tags=("training", "split", "dedup"),
    doc="Group-aware train/val/test split — the remedy train_split_leakage "
    "audits for: the hash bucket is keyed on the near-dup CLUSTER id "
    "(connected components over exact-Jaccard pairs, dedup_clusters), so "
    "every exact near-duplicate (and its transitive closure) lands in the "
    "same split by construction — zero leakage over the exact pair set, "
    "invariant-tested; LSH-estimated pairs below the true threshold can "
    "still straddle, and that residue is estimation error, not leakage. "
    "Same "
    "90/5/5 rule and determinism as train_split_assign; the only extra "
    "cost over the plain split is the dedup clustering you were already "
    "running.",
)
def train_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    comp = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    bucket = (
        hash60(F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))) % 100
    )
    return comp.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias(
            "split"
        ),
    )


@register(
    "train_mixture_weights",
    oracle="""
    WITH agg AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                    THEN 3.0 ELSE 1.0 END AS w
        FROM documents GROUP BY source
    ),
    shares AS (
        SELECT source, n_docs, chars,
               CAST(chars AS DOUBLE) / SUM(chars) OVER () AS current_share,
               w / SUM(w) OVER () AS target_share
        FROM agg
    )
    SELECT source, n_docs, chars, current_share, target_share,
           MIN(current_share / target_share) OVER ()
               * target_share / current_share AS keep_rate
    FROM shares
    ORDER BY source
    """,
    tags=("training", "sample"),
    doc="Mixture rebalancing weights: given per-source target shares "
    "(here 3:1 favoring even-numbered sources), compute the per-source "
    "keep-rate that hits the target mixture exactly by downsampling only "
    "— λ = min_s(current/target) is the water-filling scale, keep_rate = "
    "λ·target/current ≤ 1 with equality for the scarcest source (maximum "
    "data retention). One corpus scan + one tiny per-source aggregate + "
    "unpartitioned windows over |sources| rows; the keep-rates then feed "
    "the train_sample_hash threshold trick. All shares are single-"
    "division doubles — IEEE-identical across engines.",
)
def train_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    agg = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars"))
        .withColumn(
            "w",
            F.when(
                F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(3.0)
            ).otherwise(F.lit(1.0)),
        )
    )
    all_rows = Window.partitionBy()
    shares = agg.select(
        "source",
        "n_docs",
        "chars",
        (F.col("chars").cast("double") / F.sum("chars").over(all_rows)).alias(
            "current_share"
        ),
        (F.col("w") / F.sum("w").over(all_rows)).alias("target_share"),
    )
    keep = (
        F.min(F.col("current_share") / F.col("target_share")).over(all_rows)
        * F.col("target_share")
        / F.col("current_share")
    )
    return shares.select(
        "source", "n_docs", "chars", "current_share", "target_share",
        keep.alias("keep_rate"),
    ).orderBy("source")


@register(
    "train_contamination_check",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id, text,
               {sql_hash60(_SQL_BENCH_KEY)} % 20 = 0 AS is_bench
        FROM documents
    ),
    sh AS (
        SELECT doc_id, is_bench, {sql_word_shingles(_CONTAM_K)} AS shingles
        FROM (SELECT doc_id, is_bench, string_split(text, ' ') AS w FROM tagged)
    ),
    ex AS (SELECT doc_id, is_bench, unnest(shingles) AS shingle FROM sh)
    SELECT tr.doc_id,
           COUNT(DISTINCT be.shingle) AS hit_shingles,
           COUNT(DISTINCT be.doc_id) AS hit_bench_docs
    FROM (SELECT doc_id, shingle FROM ex WHERE NOT is_bench) tr
    JOIN (SELECT doc_id, shingle FROM ex WHERE is_bench) be
      ON tr.shingle = be.shingle
    GROUP BY tr.doc_id
    """,
    tags=("training", "dedup"),
    doc=f"Benchmark-contamination scan: a held-out 5% 'benchmark' slice "
    f"(hash-designated) is checked against the training slice for shared "
    f"{_CONTAM_K}-gram shingles; reports, per contaminated training doc, "
    "how many distinct shingles and benchmark docs it hits. The benchmark "
    "shingle side is a small fraction of the corpus → broadcast; the "
    "training side streams through map-side.",
)
def train_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(t(spark, sf_dir, "documents")).select(
        "doc_id",
        (hash60(_salted("bench:")) % 20 == 0).alias("is_bench"),
        F.split(F.col("text"), " ").alias("w"),
    )
    sh = docs.select(
        "doc_id", "is_bench", shingles_from_words(F.col("w"), _CONTAM_K).alias("shingles")
    )
    ex = explode_unpushed(sh, F.col("shingles"), "shingle", "doc_id", "is_bench")
    train = ex.filter(~F.col("is_bench")).select("doc_id", "shingle")
    bench = ex.filter(F.col("is_bench")).select(
        F.col("doc_id").alias("bench_doc_id"), F.col("shingle").alias("bench_shingle")
    )
    return (
        train.join(F.broadcast(bench), train.shingle == bench.bench_shingle)
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("hit_shingles"),
            F.count_distinct("bench_doc_id").alias("hit_bench_docs"),
        )
    )


NEG_K = 4                    # negatives per anchor document
NEG_A = 2654435761           # Knuth multiplicative constants — any odd
NEG_B = 40503                # co-prime pair works; fixed for determinism


@register(
    "train_negative_pairs",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS c FROM documents),
    anchors AS (
        SELECT doc_id, unnest(range({NEG_K})) AS i FROM documents
    ),
    cand AS (
        SELECT a.doc_id,
               CAST(a.i AS INTEGER) AS i,
               (a.doc_id * {NEG_A} + (a.i + 1) * {NEG_B}) % n.c AS neg_id
        FROM anchors a CROSS JOIN n
    )
    SELECT doc_id, i, neg_id
    FROM cand
    WHERE neg_id != doc_id
    """,
    tags=("training",),
    doc=f"Deterministic negative sampling for contrastive training: each "
    f"anchor document gets {NEG_K} pseudo-random negative partners via "
    "fixed multiplicative hashing over the dense doc_id space — no RNG, "
    "so every epoch, engine, and retry derives the identical pair set "
    "(the property train_split_assign relies on for splits). Pure "
    "projection + explode: zero shuffles, embarrassingly parallel at "
    "any scale; self-collisions are dropped (≈K/n of rows, never a "
    "biased resample). Pair with sim_knn_* hard negatives when "
    "curriculum requires semantically-close pairs.",
)
def train_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_docs = docs.count()
    anchors = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(NEG_K - 1))).alias("i")
    )
    neg = (F.col("doc_id") * NEG_A + (F.col("i") + 1) * NEG_B) % F.lit(n_docs)
    return (
        anchors.select("doc_id", F.col("i").cast("int").alias("i"), neg.alias("neg_id"))
        .filter(F.col("neg_id") != F.col("doc_id"))
    )


_BUDGET_TOKENS = 8000     # corpus token budget for the selection demo
_BUDGET_BKT = 64          # n_chars range per priority bucket


@register(
    "train_token_budget",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens FROM (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY n_chars DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM toks)
    WHERE cum_tokens <= {_BUDGET_TOKENS}
    """,
    tags=("training", "selection"),
    doc=f"Token-budget corpus selection: documents are ranked by a priority "
    "(longest-first here — any deterministic score works) and taken "
    f"greedily until the cumulative token count exceeds {_BUDGET_TOKENS}. "
    "This is the 'fill the training-token budget with the best data' "
    "step every pretraining mix ends with. The oracle uses one global "
    "running-sum window; the Spark plan deliberately does NOT — a "
    "global-order window serializes the whole corpus onto one task. "
    "Instead the train_epoch_order decomposition: bucket by a coarse "
    f"priority range (n_chars div {_BUDGET_BKT}; bucket order refines to "
    "global order), running-sum within buckets in parallel, and add "
    "per-bucket token offsets from a tiny cumulative frame — exact "
    "global cumulative counts with nothing wider than a bucket-count "
    "broadcast.",
)
def train_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.floor(F.col("n_chars") / _BUDGET_BKT).alias("bkt"),
    )
    in_bucket = (
        Window.partitionBy("bkt")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = docs.select(
        "doc_id", "bkt", "n_tokens", F.sum("n_tokens").over(in_bucket).alias("lc")
    )
    # Tiny side: bucket -> token total of all STRICTLY HIGHER buckets
    # (buckets sort descending because priority is n_chars DESC).
    counts = docs.groupBy("bkt").agg(F.sum("n_tokens").alias("c"))
    off_w = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bkt", F.coalesce(F.sum("c").over(off_w), F.lit(0)).alias("off")
    )
    return (
        local.join(F.broadcast(offsets), "bkt")
        .select("doc_id", "n_tokens", (F.col("off") + F.col("lc")).alias("cum_tokens"))
        .filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
    )


_N_SHARDS = 16  # output shards for the export manifest


@register(
    "train_shard_manifest",
    oracle=f"""
    SELECT CAST({sql_hash60("'shard:' || CAST(doc_id AS VARCHAR)")} % {_N_SHARDS}
               AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
    tags=("training", "sink"),
    doc=f"Deterministic shard manifest — the closing step of the training "
    f"export pipeline (select -> pack -> shard -> manifest): each "
    f"document lands in one of {_N_SHARDS} shards by salted hash (no "
    "RNG, so every engine/retry shards identically and a resumed export "
    "rewrites exactly the shards it owns), and the manifest row per "
    "shard carries the doc/token/char totals plus the id range a "
    "consumer needs to validate a download without opening it. One "
    "groupBy on the shard key; the physical write of each shard is "
    "snk_partitioned_parquet's dynamic-overwrite path with shard_id as "
    "the partition column. Shard count scales to executor count at "
    "100 TB; the hash keeps shard sizes balanced regardless of doc_id "
    "clustering.",
)
def train_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    shard = (hash60(_salted("shard:")) % _N_SHARDS).alias("shard_id")
    return docs.groupBy(shard).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "train_dataset_card",
    oracle="""
    WITH per_src AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               quantile_cont(n_chars, 0.5) AS p50_chars,
               quantile_cont(n_chars, 0.9) AS p90_chars
        FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens, total_chars, p50_chars, p90_chars,
           CAST(n_tokens AS DOUBLE) /
           CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share
    FROM per_src
    """,
    tags=("training", "agg"),
    doc="Per-source dataset card — the summary table every training-data "
    "release ships (docs/tokens/chars per source, length quantiles, "
    "mixture share): one fused aggregate scan per source computes "
    "counts, exact token/char totals, and exact interpolated p50/p90 "
    "document lengths (integer inputs + the shared p*(n-1) "
    "interpolation both engines use — the a6_exact_percentiles parity "
    "argument), then token_share is one double division against the "
    "unpartitioned window total over the source-sized aggregate (rows "
    "bounded by |sources|, not data). This is the observability "
    "endpoint for train_mixture_weights: the card's token_share is the "
    "measured mixture the weights op steers. At 100 TB: one corpus "
    "scan, map-side partials, a final frame of a few dozen rows — "
    "except the exact quantiles, which materialize each source's "
    "length multiset; swap quantile_cont for approx_percentile when "
    "exactness stops being worth that sort.",
)
def train_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    qs = F.percentile("n_chars", F.array(F.lit(0.5), F.lit(0.9)))
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        qs.getItem(0).alias("p50_chars"),
        qs.getItem(1).alias("p90_chars"),
    )
    return per_src.select(
        "*",
        (
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(Window.partitionBy()).cast("double")
        ).alias("token_share"),
    )


KFOLD_K = 5
_SQL_KFOLD_KEY = "'fold:7:' || CAST(doc_id AS VARCHAR)"


@register(
    "train_kfold_assign",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, {sql_hash60(_SQL_KFOLD_KEY)} % {KFOLD_K} AS fold
        FROM documents
    ), r AS (
        SELECT f.doc_id,
               CAST(rounds.round AS INTEGER) AS round,
               CASE WHEN f.fold = rounds.round THEN 'eval' ELSE 'train' END AS role
        FROM f CROSS JOIN (SELECT unnest(range({KFOLD_K})) AS round) rounds
    )
    SELECT round, role,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM r GROUP BY round, role
    """,
    tags=("training", "split"),
    doc=f"{KFOLD_K}-fold cross-validation assignment: fold = "
    f"hash60('fold:7:'||doc_id) mod {KFOLD_K}, each round r holds fold r "
    "out for eval and trains on the rest. Gated at the round x role "
    "grain (counts + doc_id sum/min/max — a doc in the wrong role moves "
    "sum_doc_id, so the membership audit is value-level, not just "
    "cardinality, and eval+train partition the corpus per round by "
    "construction). Hash-deterministic like every train_* split: adding "
    "documents never reassigns existing ones, folds are reproducible "
    "across engines/retries/cluster sizes, and the assignment is "
    "map-only — the explode to K rounds costs K rows per doc here for "
    "the audit, while production materializes nothing (a round's train "
    "set is the pushdown filter fold <> r).",
)
def train_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    fold = hash60(_salted("fold:7:")) % KFOLD_K
    f = t(spark, sf_dir, "documents").select("doc_id", fold.alias("fold"))
    r = f.select(
        "doc_id",
        "fold",
        F.explode(F.array(*[F.lit(i) for i in range(KFOLD_K)])).alias("round"),
    ).select(
        "doc_id",
        F.col("round").cast("int").alias("round"),
        F.when(F.col("fold") == F.col("round"), "eval").otherwise("train").alias("role"),
    )
    return r.groupBy("round", "role").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


BATCH_TOKENS = 2048  # per-batch token budget within one length bucket


@register(
    "train_length_buckets",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
        FROM documents
    ), b AS (
        SELECT doc_id, n_tokens,
               CAST(length(CAST(n_tokens AS VARCHAR)) AS INTEGER) AS bucket
        FROM d
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS padding_waste_tokens,
           CAST(CEIL(CAST(COUNT(*) * MAX(n_tokens) AS DOUBLE)
                     / {BATCH_TOKENS}) AS BIGINT) AS n_batches
    FROM b GROUP BY bucket
    """,
    tags=("training", "pack"),
    doc="Length-bucketed batching audit — the pad-to-longest batching "
    "strategy that complements train_pack_sequences' concat-packing: "
    "docs are grouped into digit-of-length buckets (the exact-integer "
    "log10 proxy), and per bucket the audit reports the padding waste "
    "(docs x bucket-max minus real tokens — the cost pad-to-longest "
    "pays and packing avoids) and the batch count at a fixed token "
    "budget. Choosing between the two strategies IS this comparison: "
    "bucketing preserves document boundaries (needed when attention "
    "must not cross documents), packing wastes nothing. One map-side "
    "token count + one bucket-grain aggregate; bucket cardinality is "
    "the digit count of the longest document, never the data.",
)
def train_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tokens = F.size(F.split("text", " "))
    b = t(spark, sf_dir, "documents").select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length(n_tokens.cast("string")).cast("int").alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("long")
        .alias("padding_waste_tokens"),
        F.ceil(
            (F.count(F.lit(1)) * F.max("n_tokens")).cast("double") / BATCH_TOKENS
        )
        .cast("long")
        .alias("n_batches"),
    )
