"""Dedup clustering: connected components over near-dup pairs.

Closes the dedup pipeline end-to-end: candidate pairs (MinHash-LSH or
exact Jaccard) are an *edge list*; the keep/drop decision needs the
transitive closure — if A≈B and B≈C, all three are one cluster even when
A and C don't pair directly. Canonical doc = min doc_id per component.

Spark-first implementation: iterative min-label propagation on the
DataFrame API (small-star style). Each round joins labels to the edge
list and takes the min over self + neighbors; converges in O(component
diameter) rounds. The edge list after LSH candidate pruning is tiny
relative to the corpus (that's the point of LSH), so at 100 TB the loop
shuffles only near-dup docs, never the corpus. A lazy plan boundary
(_util.boundary) per round truncates the lineage so plans don't grow
with iterations.

Oracle: DuckDB recursive CTE computing min reachable id — genuinely
iterative SQL, proving the Spark loop equals the fixpoint semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import register
from .dedup import JACCARD_THRESHOLD, _SQL_SHINGLES_CTE, dedup_jaccard_pairs
from ._util import boundary, pin, t

MAX_ITERATIONS = 40  # 2^40 diameter headroom — pointer jumping is O(log d)


def connected_components(
    edges: DataFrame, nodes: DataFrame, edges_canonical: bool = False
) -> DataFrame:
    """(node) + (src, dst) undirected edges → (node, cluster_id=min id).

    Precondition: ``nodes`` ⊇ edge endpoints — labels are seeded from
    endpoints (round 14), so an endpoint absent from ``nodes`` still
    appears in the output (and can win min-label); both in-repo callers
    pass the full corpus node set (ADVICE r14 note).

    Pure DataFrame iteration — no RDDs, no driver-side graph. Each round:

    1. label(v) ← min(label(v), min over neighbors' labels) — 1-hop spread;
    2. pointer jump: label(v) ← label(label(v)) — labels always point to a
       smaller node, so the label table doubles as a pointer forest and
       one self-join halves its depth. Neighbor-min alone moves a label 1
       hop per round (a diameter-d chain needs d rounds); with jumping
       convergence is O(log d).

    ``edges_canonical``: the caller guarantees ``edges`` is distinct with
    src < dst per row (every dedup pair frame in this repo). The mirrored
    union is then already duplicate-free — (a,b) with a<b and (b,a) with
    b>a live in disjoint key spaces — so the edge-list dedup shuffle is
    skipped outright (guide §2.4: a distinct on already-unique data is a
    removable exchange; measured no-op at sf0.1, 12 912 = 12 912 rows).

    Stops when no label changed (one cheap count per round); raises if the
    iteration cap is hit rather than silently returning partial clusters.
    """
    both = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionAll(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    if not edges_canonical:
        both = both.distinct()
    # Lazy boundaries throughout: each one's final materialization job
    # folds into the round's convergence count. Building one still runs
    # its upstream shuffle stages (see _util.boundary).
    both = boundary(both, eager=False)

    # Only edge ENDPOINTS can ever change label: an isolated node's
    # label is itself in every round, so looping over the full node set
    # shuffled a corpus-sized label table O(log d) times for rows that
    # never move (round 14 — at corpus scale near-dup endpoints are a
    # small fraction of documents, and this is the difference between
    # the loop costing O(near-dup docs) and O(corpus) per round, the
    # docstring's "shuffles only near-dup docs" made literal). The
    # label space stays closed: every label is the id of some reachable
    # node, and reachable ⇒ endpoint, so the pointer-jump self-join
    # always finds its target inside the endpoint set. Isolated nodes
    # rejoin as their own singleton clusters after convergence.
    endpoints = both.select(F.col("a").alias("node")).distinct()
    labels = endpoints.select(F.col("node"), F.col("node").alias("lbl"))
    for _ in range(MAX_ITERATIONS):
        neighbor_min = (
            both.join(labels, both["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(
            neighbor_min, labels["node"] == neighbor_min["a"], "left"
        ).select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("slbl"),
            F.col("lbl").alias("old_lbl"),
        )
        # pointer jump: slbl(v) → slbl(slbl(v)); every label is a node id,
        # so the inner self-join always finds its target.
        tgt = stepped.select(
            F.col("node").alias("tnode"), F.col("slbl").alias("tlbl")
        )
        new_labels = boundary(
            stepped.join(tgt, stepped["slbl"] == tgt["tnode"]).select(
                "node",
                F.least(F.col("slbl"), F.col("tlbl")).alias("new_lbl"),
                "old_lbl",
            ),
            eager=False,
        )
        # The convergence count doubles as the checkpoint materialization.
        changed = new_labels.filter(F.col("new_lbl") != F.col("old_lbl")).count()
        labels = new_labels.select("node", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            # Isolated nodes (never an edge endpoint) are their own
            # singleton clusters — one anti-join outside the loop
            # instead of a corpus-sized ride through every round.
            isolated = nodes.join(endpoints, "node", "left_anti").select(
                F.col("node"), F.col("node").alias("cluster_id")
            )
            return labels.select(
                F.col("node"), F.col("lbl").alias("cluster_id")
            ).unionByName(isolated)
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITERATIONS} rounds"
    )


# Reusable CTE chain for the transitive-closure oracle (consumed here and
# by the group-aware split in pipelines/training.py). Callers prepend
# `WITH RECURSIVE` and append their own final SELECT over `reach`.
_SQL_CC_CTES = f"""{_SQL_SHINGLES_CTE},
    sizes AS MATERIALIZED (SELECT doc_id, len(shingles) AS sz FROM sh),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS MATERIALIZED (
        SELECT d1, d2
        FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common)
              >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )"""


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_CC_CTES}
    SELECT node AS doc_id, MIN(lbl) AS cluster_id,
           CAST(node = MIN(lbl) AS INTEGER) AS is_canonical
    FROM reach GROUP BY node
    """,
    tags=("dedup", "graph"),
    doc="Connected components over exact-Jaccard near-dup pairs "
    "(transitive closure of dedup_jaccard_pairs): every document labeled "
    "with its cluster's min doc_id; is_canonical marks the keeper. "
    "Iterative min-label propagation in Spark vs a recursive CTE oracle. "
    "SCALE CLASSIFICATION (round-13 sf10 probe, BASELINE.md): this row "
    "dominates the composed corpus pipeline's cost, and ALL of it is "
    "the exact inverted-index pair term — the CC loop itself shuffles "
    "only labels + the tiny post-threshold edge list. The candidate "
    "stage is the swappable half: past the scale where the "
    "shared-shingle join's pair mass bites, feed connected_components "
    "from minhash_lsh_pairs (banded, bounded candidate mass, 100%-"
    "recall-free estimate) instead — IMPLEMENTED as lsh_cluster_frame "
    "(round 14), the clean stage of corpus_pipeline_e2e_lsh, whose "
    "oracle composes the recursive closure over _sql_lsh_oracle.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_jaccard_pairs(spark, sf_dir).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    nodes = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    # Pairs come out of a (d1, d2) groupBy with d1 < d2 — canonical, so
    # the CC edge-dedup shuffle is skipped (guide §2.4).
    comp = connected_components(pairs, nodes, edges_canonical=True)
    return comp.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def _sql_cc_lsh_ctes(src: str = "documents") -> str:
    """Recursive-closure CTE chain over the BANDED (MinHash-LSH)
    candidate pairs — _SQL_CC_CTES with the exact shared-shingle pair
    term swapped for _sql_lsh_oracle, exactly as the dedup_clusters
    scale classification prescribes. Callers prepend `WITH RECURSIVE`
    and select over `reach`."""
    from .dedup import _sql_lsh_oracle

    return f"""lsh_pairs AS MATERIALIZED (SELECT d1, d2 FROM ({_sql_lsh_oracle(src)}) lp),
    lsh_edges AS (
        SELECT d1 AS src, d2 AS dst FROM lsh_pairs
        UNION SELECT d2, d1 FROM lsh_pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM {src}
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN lsh_edges e ON e.src = r.node
    )"""


def lsh_cluster_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters' output contract (doc_id, cluster_id,
    is_canonical) with the candidate stage swapped onto BANDED MinHash-
    LSH pairs (minhash_lsh_pairs) — the corpus-scale clean-stage shape
    (VERDICT r13 item 1). The exact shared-shingle inverted-index pair
    join's mass is Σ occ² over shingle postings — Zipfian-hostile past
    bench scale and the owner of corpus_pipeline_e2e's entire sf10 cost
    and only spill; the banded candidate mass is bounded by true
    near-dup density instead. Same connected-components loop, same
    keep-the-min-id verdict; only the edge list differs (LSH estimate
    ≥ threshold vs exact Jaccard ≥ threshold), which its own composed
    oracle states."""
    from .dedup import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    # LSH verdict pairs are unique (candidate distinct ⨝ unique-doc_id
    # signatures) with d1 < d2 — canonical, edge-dedup shuffle skipped.
    comp = connected_components(pairs, nodes, edges_canonical=True)
    return comp.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


# --- PageRank (exact integer arithmetic) ------------------------------------

PR_SCALE = 1_000_000_000   # per-node rank unit: 1e9 "micro-ranks"
PR_ITERS = 5               # fixed iteration count (oracle unrolls the same 5)


def _pagerank_oracle() -> str:
    base = f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), bi AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), deg AS (
        SELECT src, COUNT(*) AS outdeg FROM bi GROUP BY src
    ), it0 AS (
        SELECT DISTINCT src AS node, CAST({PR_SCALE} AS BIGINT) AS r FROM bi
    )"""
    for i in range(1, PR_ITERS + 1):
        base += f""", it{i} AS (
        SELECT b.dst AS node,
               CAST({15 * PR_SCALE // 100} + (85 * SUM(p.r // d.outdeg)) // 100
                    AS BIGINT) AS r
        FROM it{i - 1} p
        JOIN bi b ON b.src = p.node
        JOIN deg d ON d.src = p.node
        GROUP BY b.dst
    )"""
    return base + f"""
    SELECT node, r AS pagerank FROM it{PR_ITERS}
    ORDER BY pagerank DESC, node
    """


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative"),
    bench=True,
    doc=f"PageRank over the customer↔supplier bipartite trade graph "
    f"(distinct (custkey, suppkey) pairs from orders⋈lineitem, edges both "
    f"directions so no node dangles), {PR_ITERS} fixed iterations, "
    f"damping 0.85 — in EXACT integer arithmetic: ranks are 1e9-scale "
    "longs, each neighbor contribution is rank div outdeg and the damped "
    "update is (85*sum) div 100, so sums are order-independent and "
    "Spark's distributed fold matches DuckDB's unrolled-CTE oracle "
    "bit-for-bit (no floating-point PageRank ever hash-matches across "
    "engines). Spark side is the idiomatic iterative-DataFrame loop: "
    "the edge+degree frame is built by a shuffle-merge-hinted join and "
    "cache()d — InMemoryRelation preserves the join's partitioning and "
    "sort order by src, so each round's join reads the edge side from "
    "the in-memory scan with no per-round exchange or sort (the round-"
    "11 sf10 spill fix; plan-pinned). Each round is one join + one "
    "groupBy-sum keyed on the destination, and an every-2nd-round lazy "
    "plan boundary truncates the RANK frame's growing lineage so no "
    "plan ever embeds more than 2 iterations. Lazy is not job-free: "
    "under AQE building each boundary runs its upstream shuffle stages "
    "(the builder runs 19 jobs at sf0.01), and laziness saves only the "
    "boundary's final materialization job. At 100 TB the graph frame "
    "would be bucketed by src so every round's join is co-located; rank "
    "state is 2 longs/node.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # No distinct after the union: e is distinct and customer nodes are
    # even / supplier nodes odd, so e and its reversal live in disjoint
    # (src,dst) parity spaces — the union cannot introduce duplicates.
    bi = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = bi.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # The graph frame is the LOCAL analog of the bucketed-by-src table the
    # 100 TB layout prescribes. The degree join is HINTED shuffle-merge so
    # its output comes out hash-partitioned AND sorted by src for free (the
    # join needs that layout anyway), and cache() preserves both properties
    # — InMemoryRelation keeps outputPartitioning/outputOrdering, while
    # localCheckpoint's LogicalRDD drops them (measured, Spark 4.1). Every
    # iteration's sort-merge join then reads the edge side straight from
    # the in-memory scan with NO per-round exchange and NO per-round sort;
    # only the node-sized rank side shuffles. The per-iteration re-sort of
    # the full edge list was the round-11 sf10 spill source (41 GB mem /
    # 3.6 GB disk); this layout measured ZERO spill and 0.86x wall at sf10
    # at a 1.09x cost at sf0.1 — the three-way layout A/B (old checkpoint /
    # repartition+sort+cache / merge-hinted cache) is recorded in
    # BASELINE.md, "Round-11 fix of regime finding 2".
    graph = pin(bi.join(deg.hint("merge"), "src"))
    # Every node appears as src in bi (each edge is mirrored), so the
    # graph's src domain is exactly the node set. Rank init reads it
    # FROM THE CACHED GRAPH, not from deg: deg's plan re-embeds the
    # whole edge build (orders⋈lineitem + distinct + union), so seeding
    # from deg ran that build a SECOND time outside the cache (measured
    # ~1.1s of the row's 6.4s at sf0.1; r15). The cached graph is hash-
    # partitioned by src, so the distinct is exchange-free map-side
    # dedup — strictly cheaper than deg's recompute at any scale.
    ranks = graph.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("r")
    )
    for i in range(PR_ITERS):
        contrib = graph.join(ranks, graph.src == ranks.node).select(
            "dst", F.expr("r div outdeg").alias("c")
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(15 * PR_SCALE // 100) + F.expr("(85 * s) div 100"))
                .cast("long")
                .alias("r"),
            )
        )
        # Truncate lineage every 2nd round: plan depth stays bounded (≤2
        # iterations) while halving the boundary count — at fixture
        # scale per-job overhead was ~20% of the whole bench when every
        # round checkpointed eagerly. Lazy still runs the round's
        # shuffle stages when the boundary is built; it saves only the
        # final materialization job.
        if i % 2 == 1:
            ranks = boundary(ranks, eager=False)
    return ranks.select("node", F.col("r").alias("pagerank")).orderBy(
        F.col("pagerank").desc(), "node"
    )


# --- Triangle counting (degree-oriented wedge join) -------------------------


def _copurchase_edges_degrees(spark: SparkSession, sf_dir: str):
    """(edges, degrees) of the part co-purchase graph: distinct undirected
    (p1 < p2) pairs sharing an order, and per-node degree. Shared by
    graph_triangle_count and graph_degree_stats so the graph definition
    cannot drift between the operator and its observability endpoint."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
    )
    deg = (
        e.select(F.col("p1").alias("node"))
        .unionAll(e.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return e, deg


@register(
    "graph_triangle_count",
    oracle="""
    WITH pe AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
        SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        FROM pe e1
        JOIN pe e2 ON e2.p1 = e1.p2
        JOIN pe e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ), pernode AS (
        SELECT node, COUNT(*) AS n_tri FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        GROUP BY node
    ), deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT p1 AS node FROM pe UNION ALL SELECT p2 FROM pe)
        GROUP BY node
    )
    SELECT d.node, d.degree, p.n_tri,
           2.0 * p.n_tri / (d.degree * (d.degree - 1.0)) AS clustering
    FROM pernode p JOIN deg d ON d.node = p.node
    """,
    tags=("graph",),
    doc="Per-node triangle counts + local clustering coefficient over the "
    "part co-purchase graph (parts appearing in the same order are "
    "connected; distinct undirected edges). Spark side uses the "
    "DEGREE-ORIENTED wedge join (Schank/Wagner; the MapReduce variant is "
    "Cohen 2009 / Suri-Vassilvitskii 2011): every edge is directed from "
    "its lower-(degree, id) endpoint to the higher, wedges are generated "
    "only at each node's oriented out-neighborhood, and a wedge closes "
    "into a triangle iff the id-canonical edge between its two endpoints "
    "exists. Orientation caps out-degree at O(sqrt(|E|)), so wedge "
    "volume is O(|E|^1.5) instead of sum(deg^2) — the difference between "
    "feasible and hopeless on a 100 TB power-law graph where hub nodes "
    "have millions of neighbors. Each triangle is produced exactly once "
    "(at its orientation-minimum vertex), then credited to all three "
    "corners with one explode. The oracle counts the same triangles via "
    "the id-canonical a<b<c three-way join — orientation changes the "
    "plan, never the set. Clustering = 2T/(d(d-1)) in one final double "
    "division (bit-identical in both engines).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, deg = _copurchase_edges_degrees(spark, sf_dir)
    # Orient each edge toward the higher (degree, id) endpoint. deg is
    # node-sized (tiny vs edges) — broadcast both lookups.
    d1 = deg.select(F.col("node").alias("p1"), F.col("degree").alias("g1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("degree").alias("g2"))
    lower_first = (F.col("g1") < F.col("g2")) | (
        (F.col("g1") == F.col("g2")) & (F.col("p1") < F.col("p2"))
    )
    oriented = (
        e.join(F.broadcast(d1), "p1")
        .join(F.broadcast(d2), "p2")
        .select(
            F.when(lower_first, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(lower_first, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        )
    )
    # Wedges: unordered pairs of out-neighbors of one src (dst1 < dst2 by
    # id — any strict order works, id keeps the closure join canonical).
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.dst") < F.col("o2.dst")),
    ).select(
        F.col("o1.src").alias("x"),
        F.col("o1.dst").alias("u"),
        F.col("o2.dst").alias("v"),
    )
    closed = wedges.join(
        e, (F.col("u") == F.col("p1")) & (F.col("v") == F.col("p2"))
    ).select("x", "u", "v")
    pernode = (
        closed.select(F.explode(F.array("x", "u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return pernode.join(deg, "node").select(
        "node",
        "degree",
        "n_tri",
        (
            F.lit(2.0) * F.col("n_tri")
            / (F.col("degree") * (F.col("degree") - F.lit(1.0)))
        ).alias("clustering"),
    )


@register(
    "dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {_SQL_CC_CTES},
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    csz AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM comp GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM csz GROUP BY cluster_size
    """,
    tags=("dedup", "graph", "agg"),
    doc="Duplicate-cluster size histogram — the dedup pipeline's "
    "observability endpoint: how many singleton docs, how many pairs, "
    "how big is the largest boilerplate cluster, what fraction of the "
    "corpus would dedup remove (sum over size>1 of (size-1)·n_clusters). "
    "Composes dedup_clusters' connected components (iterative Spark loop "
    "vs recursive-CTE oracle, nested here the way corpus_clean nests its "
    "stage oracles) with two tiny aggregations: components → sizes → "
    "histogram, each smaller than the last. Watching this histogram "
    "drift between ingests is how a 100 TB pipeline catches a scraper "
    "loop (one giant cluster) or a broken shingler (all singletons) "
    "before training on it.",
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_clusters(spark, sf_dir)
    csz = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return csz.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )


@register(
    "graph_degree_stats",
    oracle="""
    WITH pe AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT p1 AS node FROM pe UNION ALL SELECT p2 FROM pe)
        GROUP BY node
    )
    SELECT CAST(length(CAST(degree AS VARCHAR)) AS INTEGER) AS degree_digits,
           COUNT(*) AS n_nodes,
           CAST(MIN(degree) AS BIGINT) AS min_degree,
           CAST(MAX(degree) AS BIGINT) AS max_degree,
           CAST(SUM(degree) AS BIGINT) AS sum_degree
    FROM deg
    GROUP BY degree_digits
    """,
    tags=("graph", "agg"),
    doc="Degree distribution of the part co-purchase graph, bucketed by "
    "digit count of the degree (the exact-integer log10 proxy the "
    "surprisal operators use — a power-law graph shows roughly linear "
    "node-count decay across digit buckets): per bucket, node count and "
    "min/max/sum degree. This is the graph family's observability "
    "endpoint — the measurement that DECIDES whether the triangle "
    "count's degree orientation and pagerank's skew handling are "
    "worth their cost on a given graph. The edge-build self-join is "
    "the only data-sized work (same plan as graph_triangle_count's "
    "first stage); the degree aggregate is node-grain and the bucket "
    "key cardinality is the digit count of the max degree.",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, deg = _copurchase_edges_degrees(spark, sf_dir)
    return (
        deg.groupBy(
            F.length(F.col("degree").cast("string")).cast("int").alias("degree_digits")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
            F.sum("degree").alias("sum_degree"),
        )
    )
