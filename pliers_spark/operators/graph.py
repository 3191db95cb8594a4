"""Link-graph operators for web-scale curation pipelines.

Host-level PageRank is the canonical graph signal a Common-Crawl-style
curation pipeline attaches to documents (domain authority → sampling
weight / quality prior — the reference's stimulus graph has no
counterpart, this is part of the beyond-reference training-data layer).

The engine's twist: ranks are computed in EXACT fixed-point integer
arithmetic (``SCALE`` micro-units, damping as the rational 17/20, all
divisions integer ``div``), so a K-iteration run is bit-identical across
engines — the DuckDB oracle unrolls the same K iterations as chained
CTEs and the driver's hash comparison holds exactly, with no float
accumulation-order caveats. Published formulation: Page et al. 1999
(the simplified no-dangling-redistribution variant; leaked dangling
mass is documented, not silently renormalized).

Scale notes (100 TB design): edges are joined with the rank frame on
``src`` and re-aggregated on ``dst`` each round — both shuffles hash on
node id, so the edge partitioning is reused across all K rounds once
AQE fixes the layout. The rank frame is one row per HOST (orders of
magnitude smaller than the page table); lineage is cut per round with
``stableCheckpoint`` (durability modes: plans/reliable.py) exactly like ``dedup.connected_components``. The
only driver-side values are scalar counts (N hosts), never rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000  # fixed-point unit: 1.0 == 10^9
DAMP_NUM, DAMP_DEN = 17, 20  # d = 0.85 as an exact rational


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-point integer PageRank over an edge list.

    ``r_0(v) = SCALE div N``;
    ``r_{k+1}(v) = (3·SCALE) div (20·N) + (17 · Σ_{u→v} (r_k(u) div outdeg(u))) div 20``.

    Every operation is 64-bit integer arithmetic on non-negative values
    (ranks ≤ SCALE = 10^9, so ``17·Σ`` stays far below 2^63): the K-round
    result is a pure function of the edge list, identical on any engine
    that implements integer division. Nodes without in-links keep the
    base teleport mass; mass flowing into dangling nodes leaks (the
    simplified variant — monotone, deterministic, and the standard
    choice when ranks feed a *relative* ordering).

    Returns (node, rank_fp BIGINT, rank DOUBLE = round(rank_fp/SCALE, 6)).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .stableCheckpoint(eager=True)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = e.join(outdeg, "src").stableCheckpoint(eager=True)
    n = nodes.count()
    base = (3 * PR_SCALE) // (DAMP_DEN * n)
    ranks = nodes.withColumn("rank_fp", F.lit(PR_SCALE // n).cast("long"))
    for _ in range(iterations):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select("dst", F.expr("rank_fp div outdeg").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({DAMP_NUM} * coalesce(_in, 0L)) div {DAMP_DEN}")
                ).cast("long").alias("rank_fp"),
            )
            .stableCheckpoint(eager=True)
        )
    return ranks.select(
        "node",
        "rank_fp",
        F.round(F.col("rank_fp") / F.lit(PR_SCALE), 6).alias("rank"),
    )


def host_link_edges(docs: DataFrame, id_col: str = "doc_id", n_hosts: int = 50,
                    links_per_doc: int = 3) -> DataFrame:
    """Deterministic host-level link graph derived from the documents
    table (no external data): each doc belongs to host ``doc_id % n_hosts``
    and emits ``links_per_doc`` out-links to hosts chosen by the
    cross-engine 60-bit md5 hash — Zipf-free but collision-shaped like a
    real host graph (multi-edges collapse via distinct, self-links drop).
    In production this operator is replaced by the real (src_host,
    dst_host) projection of a hyperlink table; everything downstream is
    unchanged."""
    from ..functions.hashing import md5_int

    links = F.array(*[
        F.pmod(
            md5_int(F.concat(F.col(id_col).cast("string"), F.lit(f":{j}"))),
            F.lit(n_hosts),
        )
        for j in range(links_per_doc)
    ])
    return (
        docs.select(
            F.pmod(F.col(id_col), F.lit(n_hosts)).alias("src"),
            F.explode(links).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-point integer PERSONALIZED PageRank (Page et al. 1999 §6;
    the random-surfer restart lands only on the seed set, so ranks
    measure proximity to the seeds rather than global authority — the
    topic-/trust-biased variant used for TrustRank-style seed
    propagation and related-host discovery).

    Same exact-integer recurrence as :func:`pagerank` with the teleport
    mass concentrated on the seeds:

    ``r_0(v) = SCALE div |S|`` for v in S else 0;
    ``r_{k+1}(v) = [v∈S]·(3·SCALE) div (20·|S|)
                  + (17 · Σ_{u→v} (r_k(u) div outdeg(u))) div 20``.

    Non-seed nodes with no in-path from a seed stay at exact 0 — a
    useful reachability signal in itself. Bit-identical across engines;
    the oracle unrolls the same K rounds. Scale notes identical to
    :func:`pagerank` (node-hash shuffles reused across rounds, rank
    frame is host-grain, lineage cut per round).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .stableCheckpoint(eager=True)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = e.join(outdeg, "src").stableCheckpoint(eager=True)
    n_seeds = len(seeds)
    seed_col = F.col("node").isin(list(seeds))
    base = (3 * PR_SCALE) // (DAMP_DEN * n_seeds)
    ranks = nodes.withColumn(
        "rank_fp",
        F.when(seed_col, F.lit(PR_SCALE // n_seeds)).otherwise(F.lit(0)).cast("long"),
    )
    for _ in range(iterations):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select("dst", F.expr("rank_fp div outdeg").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.when(seed_col, F.lit(base)).otherwise(F.lit(0))
                    + F.expr(f"({DAMP_NUM} * coalesce(_in, 0L)) div {DAMP_DEN}")
                ).cast("long").alias("rank_fp"),
            )
            .stableCheckpoint(eager=True)
        )
    return ranks.select(
        "node",
        "rank_fp",
        F.round(F.col("rank_fp") / F.lit(PR_SCALE), 6).alias("rank"),
    )


def minplus_closure(edges: DataFrame, rounds: int = 6) -> DataFrame:
    """All-pairs shortest hop counts by min-plus DOUBLING: after k
    rounds the frame holds exact shortest distances for every pair
    within 2^k hops, so O(log diameter) shuffle rounds close any
    graph (Valiant-style path doubling — the standard PRAM/BSP
    formulation). Each round is one self-join on the node key + a
    min-reduce; lineage is cut per round.

    Scale note: the output is O(reachable pairs) — fine for the
    host-grain graphs this engine materializes (hosts ≪ pages), and
    for billion-NODE graphs the per-pair closure is replaced by the
    label-propagation operator (``dedup.connected_components``),
    which keeps per-node state only.

    Returns (src, dst, dist BIGINT), dist ≥ 1, self-pairs only when
    the graph has a cycle through the node.
    """
    r = (
        edges.select("src", "dst")
        .distinct()
        .withColumn("dist", F.lit(1).cast("long"))
        .stableCheckpoint(eager=True)
    )
    for _ in range(rounds):
        a = r.alias("a")
        b = r.alias("b")
        two_hop = a.join(b, F.col("a.dst") == F.col("b.src")).select(
            F.col("a.src").alias("src"),
            F.col("b.dst").alias("dst"),
            (F.col("a.dist") + F.col("b.dist")).alias("dist"),
        )
        r = (
            r.unionAll(two_hop)
            .groupBy("src", "dst")
            .agg(F.min("dist").cast("long").alias("dist"))
            .stableCheckpoint(eager=True)
        )
    return r


def maxplus_closure(edges: DataFrame, rounds: int = 6) -> DataFrame:
    """All-pairs LONGEST-path hop counts by max-plus doubling — the
    dual of :func:`minplus_closure`, well-defined only on DAGs (on a
    cyclic graph the 'longest walk' diverges; feed it the SCC
    condensation). Same O(log depth) shuffle structure.

    Returns (src, dst, dist BIGINT) with dist = longest path length.
    """
    r = (
        edges.select("src", "dst")
        .distinct()
        .withColumn("dist", F.lit(1).cast("long"))
        .stableCheckpoint(eager=True)
    )
    for _ in range(rounds):
        a = r.alias("a")
        b = r.alias("b")
        two_hop = a.join(b, F.col("a.dst") == F.col("b.src")).select(
            F.col("a.src").alias("src"),
            F.col("b.dst").alias("dst"),
            (F.col("a.dist") + F.col("b.dist")).alias("dist"),
        )
        r = (
            r.unionAll(two_hop)
            .groupBy("src", "dst")
            .agg(F.max("dist").cast("long").alias("dist"))
            .stableCheckpoint(eager=True)
        )
    return r
