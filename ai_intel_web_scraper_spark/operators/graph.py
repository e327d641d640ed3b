"""Link-graph authority scoring: integer-quantized PageRank for crawl
frontier prioritization (the OPIC/PageRank scheduling signal a web-scale
crawler feeds into its politeness/budget ranking — the reference crawls
strictly by listing order, `docs_scraper.py`; this is the authority
upgrade).

Exactness contract: every arithmetic step is 64-bit integer — ranks are
quantized to `PR_SCALE` units, per-edge contributions use ONE integer
division (`r DIV outdeg`), and the damping blend is `(85 * s) DIV 100` —
so a fixed iteration count produces bit-identical ranks on any engine.
The DuckDB oracle replays the SAME recurrence as K unrolled CTEs
(generated in a loop), which makes an iterative algorithm fully
hash-checkable — no float drift, no rows-only fallback.

Scale shape (10^10-node graphs):
- Each iteration is the Pregel step as two shuffles: contributions =
  edges ⋈ ranks on src (both sides hash-partitioned on src — co-located
  once the edge table is bucketed by src), then groupBy dst with
  map-side partial sums. No driver-side state; ranks never collect.
- The dangling-mass and convergence-test collects are single-row
  aggregates (constant bytes to the driver).
- Lineage is localCheckpoint-truncated every `checkpoint_every`
  iterations — without it the plan doubles per iteration and the DAG
  scheduler chokes near iteration ~20 (same device as
  `dedup.connected_components`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_N = 500                  # synthetic link-graph nodes (driver fixture)
PR_ITERS = 8
PR_SCALE = 1_000_000_000    # rank unit = 1e-9 of total mass
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100


def link_graph(spark, n: int = PR_N) -> DataFrame:
    """Deterministic synthetic link graph: node i emits 1 + (i % 3)
    out-links to ((i*13 + 7*(k+1) + k*k) % n). Every node has outdeg
    >= 1 (no dangling mass), in-degrees vary enough that ranks spread.
    DuckDB regenerates the identical edge multiset from the same
    constants."""
    return (spark.range(n)
            .select(F.col("id").alias("src"),
                    F.explode(F.sequence(F.lit(0), F.col("id") % 3))
                    .alias("_k"))
            .select("src",
                    ((F.col("src") * 13 + 7 * (F.col("_k") + 1)
                      + F.col("_k") * F.col("_k")) % n).alias("dst")))


def pagerank(edges: DataFrame, n_nodes: int,
             iters: int = PR_ITERS, scale: int = PR_SCALE,
             checkpoint_every: int = 3,
             nodes: DataFrame | None = None,
             releases: list | None = None) -> DataFrame:
    """Fixed-iteration integer PageRank over (src, dst) edges with node
    ids in [0, n_nodes). Returns (node, r) where r is the quantized rank
    after `iters` steps of

        r'_v = BASE + (DAMP_NUM * sum_{u->v} (r_u DIV outdeg_u)) DIV DAMP_DEN
        BASE = ((DEN - NUM) * scale) DIV (DEN * n_nodes)

    Nodes may have no in-links (they settle at BASE); the edge generator
    guarantees no dangling nodes, and callers with dangling nodes should
    add self-loops first.

    `nodes` optionally supplies the node set as a single-column
    DataFrame of ANY orderable key type (e.g. canonical URL strings) —
    the recurrence only ever joins on key equality, so dense integer ids
    are not required (no global row_number pass at 10^10 nodes);
    `n_nodes` must still be the exact node count (it sets BASE and the
    uniform init mass).

    `releases`, if given, receives one callable per cache this call pins
    (the persisted edges, each local checkpoint of the ranks), for the
    caller to run once the ranks are materialized. Otherwise the persist
    stays for the session, and a local checkpoint until the JVM collects
    its plan."""
    sp = edges.sparkSession
    base = ((PR_DAMP_DEN - PR_DAMP_NUM) * scale) // (PR_DAMP_DEN * n_nodes)
    if nodes is None:
        nodes = sp.range(n_nodes).select(F.col("id").alias("node"))
    deg = edges.groupBy("src").agg(F.count("*").alias("_outdeg"))
    # persist: the degree-annotated edge table is static across all
    # iterations — the Pregel convention of caching the edge RDD; without
    # it each iteration's join re-derives the edges subtree
    ed = edges.join(deg, "src").persist()
    if releases is not None:
        releases.append(ed.unpersist)
    ranks = nodes.select("node", F.lit(scale // n_nodes).alias("r"))
    # a zero contribution per node folds the old `nodes LEFT JOIN sums`
    # re-attach into the aggregation itself: every node still gets
    # exactly sum(contribs) (+0), so ranks are bit-identical, but each
    # iteration costs one join + one groupBy instead of two joins + one
    # groupBy — and the static zero subtree's exchange is reused across
    # iterations (ReusedExchange) since all iterations share one DAG
    zero = nodes.select("node", F.lit(0).cast("long").alias("_c"))
    for it in range(iters):
        contribs = (ed.join(ranks, ed["src"] == ranks["node"])
                    .select(F.col("dst").alias("node"),
                            F.expr("r DIV _outdeg").alias("_c")))
        ranks = (contribs.unionByName(zero)
                 .groupBy("node").agg(F.sum("_c").alias("_s"))
                 .select("node",
                         (F.lit(base)
                          + F.expr(f"({PR_DAMP_NUM} * _s)"
                                   f" DIV {PR_DAMP_DEN}"))
                         .cast("long").alias("r")))
        if (it + 1) % checkpoint_every == 0 and it + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
            if releases is not None:
                rdd = ranks._jdf.queryExecution().analyzed().rdd()
                releases.append(lambda rdd=rdd: rdd.unpersist(False))
    return ranks


# Weight turning a seed's priority (ppm) into rank units when composing
# authority with operator-declared priorities (seed lists, sitemaps).
AUTH_SEED_W = 1000


def authority_over(nodes: DataFrame, edges: DataFrame,
                   iters: int = PR_ITERS,
                   releases: list | None = None) -> DataFrame:
    """PageRank over an ARBITRARY node key (canonical URLs here): adds
    the self-loops the recurrence requires for dangling nodes (left-anti
    against the out-edge set), counts nodes once (single-row collect),
    and runs the integer recurrence keyed by the node column directly —
    no dense-id assignment pass, so nothing global-windows 10^10 URLs.
    `edges` must already be DISTINCT (src, dst) pairs. `releases` as in
    `pagerank`, also for the two inputs persisted here."""
    # persist both inputs: `edges` feeds the out-node set AND the full
    # edge union (then degree + join inside pagerank), `nodes` feeds the
    # count action, the dangling anti-join, the rank init and the
    # per-iteration zero rows — uncached each consumer re-derives the
    # upstream resolution/distinct subtrees
    nodes = nodes.persist()
    edges = edges.persist()
    if releases is not None:
        releases += [nodes.unpersist, edges.unpersist]
    outs = edges.select(F.col("src").alias("node")).distinct()
    dangling = nodes.join(outs, "node", "left_anti")
    full = edges.unionByName(
        dangling.select(F.col("node").alias("src"),
                        F.col("node").alias("dst")))
    return pagerank(full, nodes.count(), iters=iters, nodes=nodes,
                    releases=releases)


def toprank_hosts(edges: DataFrame, n_nodes: int, k: int = 20,
                  iters: int = PR_ITERS) -> DataFrame:
    """The frontier-facing view: top-k authority nodes with a dense rank
    position — what a crawler joins against its pending frontier to
    boost high-authority hosts. TakeOrderedAndProject-able."""
    pr = pagerank(edges, n_nodes, iters=iters)
    # limit-after-sort compiles to TakeOrderedAndProject (per-partition
    # heaps, no global sort); the dense position is a window over the
    # k-row result only — never the full graph
    top = pr.orderBy(F.desc("r"), F.asc("node")).limit(k)
    w = Window.orderBy(F.desc("r"), F.asc("node"))
    return (top.withColumn("pos", F.row_number().over(w))
            .select("pos", "node", "r"))


CC_N = 500
CC_BLOCK = 50


def cc_graph(spark, n: int = CC_N, block: int = CC_BLOCK) -> DataFrame:
    """Deterministic blocked link graph for component analysis: node i
    emits 1 + (i % 2) edges to targets confined to its own `block`-node
    range — so the graph has exactly n/block components, each requiring
    multi-hop min-label propagation to converge (the block interiors are
    sparse chains, not cliques). DuckDB regenerates the identical edge
    set from the same constants."""
    return (spark.range(n)
            .select(F.col("id").alias("a"),
                    F.explode(F.sequence(F.lit(0), F.col("id") % 2))
                    .alias("_k"))
            .select("a",
                    ((F.col("a") - F.col("a") % block)
                     + ((F.col("a") * 13 + 7 * (F.col("_k") + 1)
                         + F.col("_k") * F.col("_k")) % block)).alias("b")))
