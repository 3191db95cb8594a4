"""Approximate / exact nearest-neighbor search over embedding columns.

- :func:`cosine_topk` — brute-force exact top-k (the correctness
  baseline): broadcast the (small) query set, score every corpus row
  with a JVM ``zip_with``/``aggregate`` dot product, per-query rank
  window, keep k. One broadcast join + one shuffle on query_id.
- :func:`ivf_topk` — the scale path: corpus rows carry a coarse
  partition (cluster id / label / LSH bucket); queries probe only their
  ``nprobe`` nearest buckets, cutting scored candidates by the bucket
  fan-out factor. Same scoring expressions, bucket-gated join.
- :func:`random_hyperplane_buckets` — seeded LSH bucketing for corpora
  without a precomputed cluster id (deterministic: hyperplanes derive
  from md5 of (seed, dim) — reproducible across runs/engines).
- :func:`kmeans_assign` / :func:`kmeans_fit` — the IVF coarse
  quantizer: one Lloyd assignment step / the full driver-coordinated
  trainer, both in exact int64 micro-unit arithmetic so the DuckDB
  oracles replay them bit-for-bit (the fit as unrolled CTEs).
- :func:`ivf_multiprobe_topk` — end-to-end ANN over the trained
  quantizer: queries rank centroids by the same integer distance and
  probe their nprobe nearest buckets.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pliers_spark.operators.census import census_collect

# The audited driver-side bound on one query batch that _adc_scores and
# exact_l2_topk fetch and broadcast (the corpus is never collected): a
# larger query set raises CensusBoundExceeded — split it into batches.
MAX_QUERY_ROWS = 1_000_000


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, z: acc + z)


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query (brute force, broadcast queries)."""
    q = F.broadcast(queries.select(F.col(query_id).alias("q_id"), F.col(query_vec).alias("q_vec")))
    c = corpus.select(F.col(corpus_id).alias("c_id"), F.col(corpus_vec).alias("c_vec"))
    joined = c.crossJoin(q)
    if exclude_self:
        joined = joined.where(F.col("c_id") != F.col("q_id"))
    scored = joined.select(
        "q_id",
        "c_id",
        F.round(_dot(F.col("c_vec"), F.col("q_vec")) / (_norm(F.col("c_vec")) * _norm(F.col("q_vec"))), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    bucket_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style ANN: only score corpus rows in the query's bucket(s).

    ``bucket_col`` must exist on both sides (queries pre-assigned to the
    buckets they probe — replicate query rows per probed bucket for
    nprobe > 1). Equi-join on bucket ⇒ shuffle is bucket-local; scored
    candidates shrink by ~|buckets| versus brute force.
    """
    q = queries.select(
        F.col(query_id).alias("q_id"), F.col(query_vec).alias("q_vec"), F.col(bucket_col)
    )
    c = corpus.select(
        F.col(corpus_id).alias("c_id"), F.col(corpus_vec).alias("c_vec"), F.col(bucket_col)
    )
    joined = c.join(F.broadcast(q), on=bucket_col)
    if exclude_self:
        joined = joined.where(F.col("c_id") != F.col("q_id"))
    scored = joined.select(
        "q_id",
        "c_id",
        F.round(_dot(F.col("c_vec"), F.col("q_vec")) / (_norm(F.col("c_vec")) * _norm(F.col("q_vec"))), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def random_hyperplane_buckets(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 4, seed: int = 42
) -> DataFrame:
    """Sign-LSH bucket id from ``n_planes`` deterministic pseudo-random
    hyperplanes. Plane coefficients come from the md5-int hash of
    (seed, plane, dim-index) mapped to [-1, 1] — fully reproducible,
    no RNG state, computable in SQL for oracles."""
    import hashlib

    def coef(p: int, d: int) -> float:
        h = int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:15], 16)
        return (h / float(2**60)) * 2.0 - 1.0

    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(coef(p, d)) for d in range(dim)])
        proj = _dot(F.col(vec_col).cast("array<double>"), plane)
        bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket)


def kmeans_assign(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """One Lloyd assignment step — the training primitive behind the IVF
    coarse quantizer (:func:`ivf_topk` consumes exactly this output as
    its bucket column).

    Distances are EXACT int64 arithmetic: every coordinate is scaled to
    micro-units with ``floor(x·1e6 + 0.5)`` (floor-plus-half instead of
    round so both engines use the same half-up rule; numpy ``round``
    is banker's, DuckDB ``round`` is half-away), then
    ``d = Σ (v_u − c_u)²`` in int64 — order-independent, no float
    accumulation anywhere, so the driver's raw-bit hash is trivially
    stable. Ties (equidistant centroids) break toward the smaller
    centroid id on both engines.

    Seeds are the ``k`` smallest-id vectors (k-means++ at scale is a
    different initializer, same assignment step). The seed collect is a
    bounded k-row dimension fetch; the corpus side is one
    Arrow-batched numpy pass — (B×D)·(D×k) integer matmul per batch,
    never a per-row Python loop — and shuffles nothing.

    Returns ``(id, cluster_id, d_u)`` with ``d_u`` in squared
    micro-units.
    """
    seeds = census_collect(
        vectors.where(F.col(id_col) < k).select(id_col, vec_col).orderBy(id_col),
        k, "k-means seed fetch (model-k grain)",
    )
    seed_ids = np.array([r[0] for r in seeds], dtype=np.int64)
    cu = np.floor(np.asarray([r[1] for r in seeds], dtype=np.float64) * 1e6 + 0.5).astype(
        np.int64
    )

    @F.pandas_udf("cluster_id long, d_u long")
    def assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for emb in batches:
            vu = np.floor(
                np.stack(emb.to_numpy()).astype(np.float64) * 1e6 + 0.5
            ).astype(np.int64)
            # ||v-c||² = v·v − 2 v·c + c·c, all int64 (exact)
            d = (
                (vu * vu).sum(axis=1, keepdims=True)
                - 2 * (vu @ cu.T)
                + (cu * cu).sum(axis=1)[None, :]
            )
            best = d.argmin(axis=1)  # first minimum = smallest centroid id
            yield pd.DataFrame(
                {
                    "cluster_id": seed_ids[best],
                    "d_u": d[np.arange(len(best)), best],
                }
            )

    return vectors.select(
        id_col, assign(F.col(vec_col)).alias("s")
    ).select(id_col, F.col("s.cluster_id"), F.col("s.d_u"))


def kmeans_assign_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> str:
    """DuckDB oracle for :func:`kmeans_assign` (same micro-unit
    scaling, same int64 distance, same tie rule)."""
    return f"""WITH c AS (
         SELECT {id_col} AS cid, {vec_col} AS cemb FROM {table} WHERE {id_col} < {k}),
       d AS (
         SELECT e.{id_col}, c.cid,
                CAST(list_sum(list_transform(
                  list_transform(range(1, len(e.{vec_col}) + 1),
                    i -> CAST(floor(e.{vec_col}[i]::DOUBLE * 1e6 + 0.5) AS BIGINT)
                       - CAST(floor(c.cemb[i]::DOUBLE * 1e6 + 0.5) AS BIGINT)),
                  x -> x * x)) AS BIGINT) AS d_u
         FROM {table} e CROSS JOIN c),
       r AS (
         SELECT {id_col}, cid, d_u,
                row_number() OVER (PARTITION BY {id_col} ORDER BY d_u, cid) AS rn
         FROM d)
       SELECT {id_col}, cid AS cluster_id, d_u FROM r WHERE rn = 1"""


def _scale_u(arr):
    """float → exact int64 micro-units, half-up (matches DuckDB floor(x*1e6+0.5))."""
    return np.floor(np.asarray(arr, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)


def kmeans_fit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
) -> DataFrame:
    """Lloyd's k-means for ``n_iter`` rounds — the IVF coarse-quantizer
    TRAINER (:func:`kmeans_assign` is one step of this loop).

    Distributed shape = MLlib's: each round is ONE Arrow-batched pass
    over the corpus emitting per-batch partial sums (k·(D+1) tiny rows
    per batch — assignment and per-cluster/per-dim reduction happen
    INSIDE the Python worker, so the shuffle carries partials, never
    vectors), then a k·(D+1)-row global reduce to the driver and a
    broadcast of the k×D centroid array into the next round's closure.
    Centroids stay exact int64 micro-units: the update is
    ``floor(sum/n + 0.5)`` (sum exact int64 → float64 division is exact
    below 2^53 — at ~10^9+ members·units per (cluster, dim) cell switch
    the update to DECIMAL), so every round is bit-reproducible and the
    DuckDB oracle can replay the whole fit as unrolled relational
    algebra (:func:`kmeans_fit_sql`). Empty clusters keep their
    previous centroid. Ties break toward the smaller cluster id.

    Returns one row per seed cluster: ``(cluster_id, n_members,
    sum_d_u)`` from a final assignment pass under the trained
    centroids.
    """
    seeds = census_collect(
        vectors.where(F.col(id_col) < k).select(id_col, vec_col).orderBy(id_col),
        k, "k-means seed fetch (model-k grain)",
    )
    seed_ids = np.array([r[0] for r in seeds], dtype=np.int64)
    cu = _scale_u([r[1] for r in seeds])

    def partials(cu_now):
        cu_arr = cu_now.copy()

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                vu = _scale_u(np.stack(pdf[vec_col].to_numpy()))
                d = (
                    (vu * vu).sum(axis=1, keepdims=True)
                    - 2 * (vu @ cu_arr.T)
                    + (cu_arr * cu_arr).sum(axis=1)[None, :]
                )
                best = d.argmin(axis=1)
                rows = []
                for c in range(len(cu_arr)):
                    m = best == c
                    n = int(m.sum())
                    if n == 0:
                        continue
                    sums = vu[m].sum(axis=0)
                    rows.extend(
                        {"cluster_idx": c, "dim": j, "s": int(sums[j])}
                        for j in range(vu.shape[1])
                    )
                    rows.append({"cluster_idx": c, "dim": -1, "s": n})
                    rows.append(
                        {
                            "cluster_idx": c,
                            "dim": -2,
                            "s": int(d[np.arange(len(best)), best][m].sum()),
                        }
                    )
                yield pd.DataFrame(rows, columns=["cluster_idx", "dim", "s"])

        return fn

    dim = len(cu[0])
    for _ in range(n_iter):
        agg = census_collect(
            vectors.select(vec_col)
            .mapInPandas(partials(cu), "cluster_idx long, dim long, s long")
            .groupBy("cluster_idx", "dim")
            .agg(F.sum("s").alias("s")),
            k * (dim + 2), "k-means partial-sum census (model-size grain)",
        )
        sums = np.zeros((k, dim), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        for r in agg:
            if r.dim == -1:
                cnt[r.cluster_idx] = r.s
            elif r.dim >= 0:
                sums[r.cluster_idx][r.dim] = r.s
        new_cu = cu.copy()  # empty clusters keep their centroid
        nz = cnt > 0
        new_cu[nz] = np.floor(
            sums[nz].astype(np.float64) / cnt[nz][:, None] + 0.5
        ).astype(np.int64)
        cu = new_cu

    final = (
        vectors.select(vec_col)
        .mapInPandas(partials(cu), "cluster_idx long, dim long, s long")
        .where(F.col("dim") < 0)
        .groupBy("cluster_idx", "dim")
        .agg(F.sum("s").alias("s"))
        .groupBy("cluster_idx")
        .agg(
            F.sum(F.when(F.col("dim") == -1, F.col("s")).otherwise(0)).alias("n_members"),
            F.sum(F.when(F.col("dim") == -2, F.col("s")).otherwise(0)).alias("sum_d_u"),
        )
    )
    ids = vectors.sparkSession.createDataFrame(
        [(int(i), int(s)) for i, s in enumerate(seed_ids)], "cluster_idx long, cluster_id long"
    )
    return (
        ids.join(final, "cluster_idx", "left")
        .select(
            "cluster_id",
            F.coalesce("n_members", F.lit(0)).cast("long").alias("n_members"),
            F.coalesce("sum_d_u", F.lit(0)).cast("long").alias("sum_d_u"),
        )
    )


def kmeans_fit_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
) -> str:
    """DuckDB oracle for :func:`kmeans_fit`: the whole Lloyd fit
    unrolled as one relational expression — iteration ``r`` builds
    centroid relation ``c{r}`` from assignment relation ``a{r}``, all in
    the same exact int64 micro-unit arithmetic as the engine."""
    head = f"""WITH vu AS (
         SELECT {id_col} AS vid, (u.i - 1)::BIGINT AS dim,
                CAST(floor({vec_col}[u.i]::DOUBLE * 1e6 + 0.5) AS BIGINT) AS v
         FROM {table}, unnest(range(1, len({vec_col}) + 1)) AS u(i)),
       c0 AS (
         SELECT vid AS cluster_id, dim, v AS cu FROM vu WHERE vid < {k})"""
    parts = [head]
    prev = "c0"
    for r in range(1, n_iter + 1):
        parts.append(
            f"""a{r} AS (
         SELECT vid, cluster_id,
                row_number() OVER (PARTITION BY vid ORDER BY d, cluster_id) AS rn
         FROM (SELECT vu.vid, c.cluster_id, sum((vu.v - c.cu) * (vu.v - c.cu)) AS d
               FROM vu JOIN {prev} c USING (dim) GROUP BY vu.vid, c.cluster_id))""")
        parts.append(
            f"""c{r} AS (
         SELECT p.cluster_id, p.dim,
                CASE WHEN n.cnt IS NULL THEN p.cu
                     ELSE CAST(floor(n.s::DOUBLE / n.cnt + 0.5) AS BIGINT) END AS cu
         FROM {prev} p LEFT JOIN (
             SELECT a.cluster_id, vu.dim, sum(vu.v) AS s, count(DISTINCT vu.vid) AS cnt
             FROM vu JOIN a{r} a ON vu.vid = a.vid AND a.rn = 1
             GROUP BY a.cluster_id, vu.dim) n
         ON p.cluster_id = n.cluster_id AND p.dim = n.dim)""")
        prev = f"c{r}"
    fin = n_iter + 1
    parts.append(
        f"""afin AS (
         SELECT vid, cluster_id, d,
                row_number() OVER (PARTITION BY vid ORDER BY d, cluster_id) AS rn
         FROM (SELECT vu.vid, c.cluster_id, sum((vu.v - c.cu) * (vu.v - c.cu)) AS d
               FROM vu JOIN {prev} c USING (dim) GROUP BY vu.vid, c.cluster_id))""")
    body = ",\n       ".join(parts)
    return f"""{body}
       SELECT s.cluster_id,
              coalesce(f.n_members, 0)::BIGINT AS n_members,
              coalesce(f.sum_d_u, 0)::BIGINT AS sum_d_u
       FROM (SELECT DISTINCT cluster_id FROM c0) s
       LEFT JOIN (
         SELECT cluster_id, count(*)::BIGINT AS n_members,
                CAST(sum(d) AS BIGINT) AS sum_d_u
         FROM afin WHERE rn = 1 GROUP BY cluster_id) f
       USING (cluster_id)"""


def ivf_multiprobe_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 8,
    nprobe: int = 2,
    k: int = 5,
    query_lo: int = 8,
    query_hi: int = 16,
) -> DataFrame:
    """End-to-end IVF search over the trained coarse quantizer:
    :func:`kmeans_assign` buckets the corpus, each query ranks the
    centroids by the same exact int64 micro-unit distance and probes
    its ``nprobe`` nearest buckets (query rows replicated per probed
    bucket — the documented nprobe>1 recipe of :func:`ivf_topk`), and
    scoring is the shared cosine expression. Candidates shrink by
    ~k_clusters/nprobe versus brute force; the corpus side shuffles
    only for the bucket equi-join and the per-query rank.

    Queries are the id range [query_lo, query_hi) so the demo needs no
    external query set. Returns ``(q_id, c_id, cosine, rank)``.
    """
    assigned = kmeans_assign(vectors, id_col, vec_col, k_clusters)
    corpus = vectors.join(assigned.select(id_col, "cluster_id"), id_col)

    scale = lambda col: F.transform(  # noqa: E731
        col, lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long")
    )
    seeds = vectors.where(F.col(id_col) < k_clusters).select(
        F.col(id_col).alias("cluster_id"), scale(F.col(vec_col)).alias("cu")
    )
    qs = vectors.where((F.col(id_col) >= query_lo) & (F.col(id_col) < query_hi)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        scale(F.col(vec_col)).alias("qu"),
    )
    # query×centroid is (few × k_clusters) rows — interpreted array math
    # is fine off the corpus path
    dist = F.aggregate(
        F.zip_with("qu", "cu", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    probes = (
        qs.crossJoin(F.broadcast(seeds))
        .select("q_id", "q_vec", "cluster_id", dist.alias("d_u"))
        .withColumn(
            "prn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy("d_u", "cluster_id")
            ),
        )
        .where(F.col("prn") <= nprobe)
        .select("q_id", F.col("q_vec").alias("embedding"), "cluster_id")
    )
    return ivf_topk(
        corpus, probes, id_col, vec_col, "q_id", "embedding", "cluster_id", k=k
    )


def ivf_multiprobe_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 8,
    nprobe: int = 2,
    k: int = 5,
    query_lo: int = 8,
    query_hi: int = 16,
) -> str:
    """DuckDB oracle for :func:`ivf_multiprobe_topk`."""
    su = (
        f"list_transform({{side}}.{vec_col}, "
        f"x -> CAST(floor(x::DOUBLE * 1e6 + 0.5) AS BIGINT))"
    )
    dot = (
        f"list_sum(list_transform(range(1, len(a.{vec_col})+1), "
        f"i -> a.{vec_col}[i]::DOUBLE * q.{vec_col}[i]::DOUBLE))"
    )
    norm_a = f"sqrt(list_sum(list_transform(a.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    norm_q = f"sqrt(list_sum(list_transform(q.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""WITH seeds AS (
         SELECT {id_col} AS cluster_id, {su.format(side=f'{table}')} AS cu
         FROM {table} WHERE {id_col} < {k_clusters}),
       assigned AS (
         SELECT {id_col}, cluster_id FROM (
           SELECT e.{id_col}, s.cluster_id,
                  row_number() OVER (PARTITION BY e.{id_col} ORDER BY
                    list_sum(list_transform(
                      list_transform(range(1, len(e.{vec_col})+1),
                        i -> CAST(floor(e.{vec_col}[i]::DOUBLE * 1e6 + 0.5) AS BIGINT)
                           - s.cu[i]),
                      x -> x * x)), s.cluster_id) AS rn
           FROM {table} e CROSS JOIN seeds s)
         WHERE rn = 1),
       probes AS (
         SELECT q_id, cluster_id FROM (
           SELECT e.{id_col} AS q_id, s.cluster_id,
                  row_number() OVER (PARTITION BY e.{id_col} ORDER BY
                    list_sum(list_transform(
                      list_transform(range(1, len(e.{vec_col})+1),
                        i -> CAST(floor(e.{vec_col}[i]::DOUBLE * 1e6 + 0.5) AS BIGINT)
                           - s.cu[i]),
                      x -> x * x)), s.cluster_id) AS prn
           FROM {table} e CROSS JOIN seeds s
           WHERE e.{id_col} >= {query_lo} AND e.{id_col} < {query_hi})
         WHERE prn <= {nprobe}),
       cand AS (
         SELECT p.q_id, a.{id_col} AS c_id,
                round({dot} / ({norm_a} * {norm_q}), 6) AS cosine
         FROM probes p
         JOIN assigned ast ON ast.cluster_id = p.cluster_id
         JOIN {table} a ON a.{id_col} = ast.{id_col}
         JOIN {table} q ON q.{id_col} = p.q_id
         WHERE a.{id_col} <> p.q_id),
       ranked AS (
         SELECT q_id, c_id, cosine,
                row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         FROM cand)
       SELECT q_id, c_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= {k}"""


def jl_project(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dims: int = 16,
    scale: int = 1_000_000,
) -> DataFrame:
    """Johnson–Lindenstrauss random-sign projection (Achlioptas 2003:
    ±1 entries preserve pairwise distances in expectation like Gaussian
    projections) — the dimensionality-reduction front-end for ANN /
    clustering over wide embedding columns, in EXACT integer
    arithmetic: coordinates quantize to int64 micro-units with the
    engine's half-up rule (``floor(x·1e6 + 0.5)``), the sign matrix
    derives from the cross-engine md5 hash (``s(j,i) = 1 − 2·(h(j:i)
    mod 2)``), and each output component is a pure integer dot product
    — bit-identical on any engine, no float accumulation order.

    Shape: positional explode of the vector column → broadcast join
    against the (out_dims × D)-row sign dimension (built relationally
    from the data's own dimension census, so D is never hard-coded) →
    one groupBy(id, dim) integer sum with map-side partial agg. Output
    long format (id, dim, y) — the relational shape downstream bucket
    ops consume; |output| = out_dims rows per vector.
    """
    from ..functions.hashing import md5_int

    pos = vectors.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "x")
    )
    q = pos.select(
        id_col,
        "i",
        F.floor(F.col("x").cast("double") * F.lit(float(scale)) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    dims = vectors.sparkSession.range(out_dims).select(F.col("id").alias("dim"))
    sign = (
        q.select("i")
        .distinct()
        .crossJoin(dims)
        .select(
            "i",
            "dim",
            (
                F.lit(1)
                - F.lit(2)
                * F.pmod(
                    md5_int(
                        F.concat(
                            F.col("dim").cast("string"), F.lit(":"), F.col("i").cast("string")
                        )
                    ),
                    F.lit(2),
                )
            ).alias("s"),
        )
    )
    return (
        q.join(F.broadcast(sign), "i")
        .groupBy(id_col, "dim")
        .agg(F.sum(F.col("s") * F.col("q")).cast("long").alias("y"))
    )


def _pq_codebook(vectors, id_col: str, vec_col: str, m: int, ksub: int):
    """Collect the PQ codebook: the ``ksub`` smallest-id vectors, sliced
    into ``m`` subspaces, in int64 micro-units. Returns
    (m, ksub, subdim) int64 array. Bounded k-row dimension fetch — the
    codebook is a model parameter (production trains it with
    :func:`kmeans_fit` per subspace; the deterministic seed codebook
    keeps the oracle replayable)."""
    seeds = census_collect(
        vectors.where(F.col(id_col) < ksub).select(vec_col).orderBy(id_col),
        ksub, "PQ codebook fetch (model-ksub grain)",
    )
    cu = _scale_u(np.asarray([r[0] for r in seeds], dtype=np.float64))
    ksub_eff, dim = cu.shape
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    subdim = dim // m
    return cu.reshape(ksub_eff, m, subdim).transpose(1, 0, 2).copy()


def pq_encode(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): each vector
    becomes ``m`` sub-codes — the nearest of ``ksub`` codebook entries
    per subspace — shrinking a D-float vector to m small ints (64 f32
    → 8 codes = 32× memory cut; the difference between a 10^12-vector
    index fitting in cluster RAM or not).

    Same exactness contract as :func:`kmeans_assign`: micro-unit int64
    coordinates, exact integer distances, ties toward the smaller code.
    One Arrow-batched numpy pass per partition (a (B×sd)·(sd×ksub)
    integer matmul per subspace), zero shuffle — the encode stage fuses
    onto the scan. Returns (id, codes array<long> of length m).
    """
    cb = _pq_codebook(vectors, id_col, vec_col, m, ksub)  # (m, ksub, sd)
    subdim = cb.shape[2]

    @F.pandas_udf("array<long>")
    def encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cc = [(cb[s], (cb[s] * cb[s]).sum(axis=1)) for s in range(m)]
        for emb in batches:
            vu = _scale_u(np.stack(emb.to_numpy()))
            out = np.empty((len(vu), m), dtype=np.int64)
            for s in range(m):
                blk = vu[:, s * subdim : (s + 1) * subdim]
                cs, c2 = cc[s]
                d = (
                    (blk * blk).sum(axis=1, keepdims=True)
                    - 2 * (blk @ cs.T)
                    + c2[None, :]
                )
                out[:, s] = d.argmin(axis=1)  # first min = smallest code
            yield pd.Series(list(out))

    return vectors.select(id_col, encode(F.col(vec_col)).alias("codes"))


def pq_encode_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> str:
    """DuckDB oracle for :func:`pq_encode` — codebook, micro-unit
    scaling, integer distances, and the smaller-code tie rule replayed
    relationally."""
    return f"""WITH seeds AS (
         SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS j, {vec_col} AS cemb
         FROM {table} WHERE {id_col} < {ksub}),
       dim AS (SELECT len({vec_col}) // {m} AS sd FROM {table} LIMIT 1),
       d AS (
         SELECT e.{id_col}, s.s, seeds.j,
                CAST(list_sum(list_transform(
                  list_transform(range(s.s * dim.sd + 1, (s.s + 1) * dim.sd + 1),
                    i -> CAST(floor(e.{vec_col}[i]::DOUBLE * 1e6 + 0.5) AS BIGINT)
                       - CAST(floor(seeds.cemb[i]::DOUBLE * 1e6 + 0.5) AS BIGINT)),
                  x -> x * x)) AS BIGINT) AS d_u
         FROM {table} e
         CROSS JOIN (SELECT unnest(range({m})) AS s) s
         CROSS JOIN seeds CROSS JOIN dim),
       best AS (
         SELECT {id_col}, s, j,
                row_number() OVER (PARTITION BY {id_col}, s ORDER BY d_u, j) AS rn
         FROM d)
       SELECT {id_col}, list(j ORDER BY s) AS codes
       FROM best WHERE rn = 1 GROUP BY {id_col}"""


def _adc_scores(
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    m: int,
    ksub: int,
) -> DataFrame:
    """Shared ADC scorer: (q_id, c_id, adist_u) for every (query,
    candidate-row-of-``codes``) pair. Each query precomputes an
    (m × ksub) table of exact integer subspace distances to the
    codebook; a candidate's approximate distance is m table lookups
    summed in int64 — no full-precision corpus vector is read at
    query time. Extra columns on ``codes`` (e.g. a coarse cluster id)
    are carried through for downstream gating."""
    cb = _pq_codebook(vectors, id_col, vec_col, m, ksub)  # (m, ksub, sd)
    subdim = cb.shape[2]
    qrows = census_collect(
        queries.select(q_id_col, vec_col).orderBy(q_id_col),
        MAX_QUERY_ROWS, "broadcast query-set fetch (bounded query batch, never the corpus)",
    )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qu = _scale_u(np.asarray([r[1] for r in qrows], dtype=np.float64))
    nq = len(q_ids)
    # dtab[q, s, j] = exact int64 squared distance of query q's subspace
    # s block to codebook entry j
    dtab = np.empty((nq, m, ksub), dtype=np.int64)
    for s in range(m):
        blk = qu[:, s * subdim : (s + 1) * subdim]
        cs = cb[s]
        dtab[:, s, :] = (
            (blk * blk).sum(axis=1, keepdims=True)
            - 2 * (blk @ cs.T)
            + (cs * cs).sum(axis=1)[None, :]
        )

    @F.pandas_udf("array<struct<q_id: long, adist_u: long>>")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for col in batches:
            cmat = np.stack(col.to_numpy()).astype(np.int64)  # (B, m)
            # gather: adist[b, q] = Σ_s dtab[q, s, cmat[b, s]]
            a = np.empty((len(cmat), nq), dtype=np.int64)
            srange = np.arange(m)[None, :]
            for qi in range(nq):
                a[:, qi] = dtab[qi][srange, cmat].sum(axis=1)
            yield pd.Series(
                [
                    [
                        {"q_id": int(q_ids[qi]), "adist_u": int(a[bi, qi])}
                        for qi in range(nq)
                    ]
                    for bi in range(len(cmat))
                ]
            )

    carried = [c for c in codes.columns if c not in (id_col, "codes")]
    return (
        codes.select(
            F.col(id_col).alias("c_id"), *carried, score(F.col("codes")).alias("ss")
        )
        .select("c_id", *carried, F.explode("ss").alias("s"))
        .select(
            F.col("s.q_id").alias("q_id"),
            "c_id",
            F.col("s.adist_u").alias("adist_u"),
            *carried,
        )
    )


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (see :func:`_adc_scores`
    for the scoring contract). Returns (q_id, c_id, adist_u, rank)
    ranked ascending by approximate squared distance."""
    codes = pq_encode(vectors, id_col, vec_col, m, ksub)
    scored = _adc_scores(codes, vectors, queries, id_col, vec_col, q_id_col, m, ksub)
    if exclude_self:
        scored = scored.where(F.col("c_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy("adist_u", F.col("c_id"))
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rank"))
        .where(F.col("rank") <= k)
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "vec_id",
    kc: int = 8,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011, the composition FAISS ships as
    IndexIVFPQ): coarse k-means cluster gate × PQ asymmetric-distance
    scoring — THE 10^12-vector index shape. The inverted-file gate cuts
    candidates by the cluster fan-out; the PQ codes cut bytes-per-
    candidate by 32×; both reuse this engine's exact-int64 primitives
    (:func:`kmeans_assign`, :func:`pq_encode`), so the whole index is
    bit-reproducible across engines. nprobe=1 here (the query's own
    cluster); :func:`ivf_multiprobe_topk` shows the multi-probe gate.

    Returns (q_id, c_id, adist_u, rank) among same-cluster candidates.
    """
    coarse = kmeans_assign(vectors, id_col, vec_col, k=kc).select(
        id_col, "cluster_id"
    )
    q_clusters = coarse.join(
        F.broadcast(queries.select(F.col(q_id_col).alias(id_col))), id_col
    ).select(F.col(id_col).alias("q_id"), F.col("cluster_id").alias("q_cluster"))
    # inverted-file gate BEFORE scoring: only clusters that contain a
    # query are ever encoded-scored (the fan-out cut happens on the
    # corpus side, not after the fact)
    probed = q_clusters.select(F.col("q_cluster").alias("cluster_id")).distinct()
    codes = (
        pq_encode(vectors, id_col, vec_col, m, ksub)
        .join(coarse, id_col)
        .join(F.broadcast(probed), "cluster_id", "semi")
    )
    scored = _adc_scores(codes, vectors, queries, id_col, vec_col, q_id_col, m, ksub)
    scored = scored.join(F.broadcast(q_clusters), "q_id").where(
        F.col("cluster_id") == F.col("q_cluster")
    )
    if exclude_self:
        scored = scored.where(F.col("c_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy("adist_u", F.col("c_id"))
    return (
        scored.select(
            "q_id", "c_id", "adist_u", F.row_number().over(w).cast("long").alias("rank")
        )
        .where(F.col("rank") <= k)
    )


def pq_adc_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 8,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
) -> str:
    """DuckDB oracle for :func:`pq_adc_topk` (queries = ``{id_col} <
    n_queries``, self-matches excluded)."""
    scale = (
        lambda e, i: f"CAST(floor({e}[{i}]::DOUBLE * 1e6 + 0.5) AS BIGINT)"
    )
    return f"""WITH seeds AS (
         SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS j, {vec_col} AS cemb
         FROM {table} WHERE {id_col} < {ksub}),
       dim AS (SELECT len({vec_col}) // {m} AS sd FROM {table} LIMIT 1),
       subsp AS (SELECT unnest(range({m})) AS s),
       cd AS (
         SELECT e.{id_col}, subsp.s, seeds.j,
                CAST(list_sum(list_transform(
                  list_transform(range(subsp.s * dim.sd + 1, (subsp.s + 1) * dim.sd + 1),
                    i -> {scale('e.' + vec_col, 'i')}
                       - {scale('seeds.cemb', 'i')}),
                  x -> x * x)) AS BIGINT) AS d_u
         FROM {table} e CROSS JOIN subsp CROSS JOIN seeds CROSS JOIN dim),
       codes AS (
         SELECT {id_col} AS c_id, s, j AS code
         FROM (SELECT {id_col}, s, j,
                      row_number() OVER (PARTITION BY {id_col}, s ORDER BY d_u, j) AS rn
               FROM cd) WHERE rn = 1),
       qtab AS (
         SELECT cd.{id_col} AS q_id, cd.s, cd.j, cd.d_u
         FROM cd WHERE cd.{id_col} < {n_queries}),
       adist AS (
         SELECT qtab.q_id, codes.c_id, CAST(sum(qtab.d_u) AS BIGINT) AS adist_u
         FROM codes JOIN qtab ON qtab.s = codes.s AND qtab.j = codes.code
         WHERE codes.c_id <> qtab.q_id
         GROUP BY 1, 2),
       ranked AS (
         SELECT q_id, c_id, adist_u,
                row_number() OVER (PARTITION BY q_id ORDER BY adist_u, c_id)::BIGINT AS rank
         FROM adist)
       SELECT q_id, c_id, adist_u, rank FROM ranked WHERE rank <= {k}"""


def ivfpq_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 8,
    kc: int = 8,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
) -> str:
    """DuckDB oracle for :func:`ivfpq_topk`: the kmeans_assign oracle
    (coarse gate) composed with the pq_adc oracle (ADC scoring) —
    candidates restricted to the query's coarse cluster."""
    sc = lambda e, i: f"CAST(floor({e}[{i}]::DOUBLE * 1e6 + 0.5) AS BIGINT)"
    return f"""WITH cc AS (
         SELECT {id_col} AS cid, {vec_col} AS cemb FROM {table} WHERE {id_col} < {kc}),
       cdist AS (
         SELECT e.{id_col}, cc.cid,
                CAST(list_sum(list_transform(
                  list_transform(range(1, len(e.{vec_col}) + 1),
                    i -> {sc('e.' + vec_col, 'i')} - {sc('cc.cemb', 'i')}),
                  x -> x * x)) AS BIGINT) AS d_u
         FROM {table} e CROSS JOIN cc),
       coarse AS (
         SELECT {id_col}, cid AS cluster_id
         FROM (SELECT {id_col}, cid, row_number() OVER
                 (PARTITION BY {id_col} ORDER BY d_u, cid) AS rn FROM cdist)
         WHERE rn = 1),
       seeds AS (
         SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS j, {vec_col} AS cemb
         FROM {table} WHERE {id_col} < {ksub}),
       dim AS (SELECT len({vec_col}) // {m} AS sd FROM {table} LIMIT 1),
       subsp AS (SELECT unnest(range({m})) AS s),
       cd AS (
         SELECT e.{id_col}, subsp.s, seeds.j,
                CAST(list_sum(list_transform(
                  list_transform(range(subsp.s * dim.sd + 1, (subsp.s + 1) * dim.sd + 1),
                    i -> {sc('e.' + vec_col, 'i')} - {sc('seeds.cemb', 'i')}),
                  x -> x * x)) AS BIGINT) AS d_u
         FROM {table} e CROSS JOIN subsp CROSS JOIN seeds CROSS JOIN dim),
       codes AS (
         SELECT {id_col} AS c_id, s, j AS code
         FROM (SELECT {id_col}, s, j,
                      row_number() OVER (PARTITION BY {id_col}, s ORDER BY d_u, j) AS rn
               FROM cd) WHERE rn = 1),
       qtab AS (
         SELECT cd.{id_col} AS q_id, cd.s, cd.j, cd.d_u
         FROM cd WHERE cd.{id_col} < {n_queries}),
       qc AS (SELECT {id_col} AS q_id, cluster_id AS q_cluster
              FROM coarse WHERE {id_col} < {n_queries}),
       adist AS (
         SELECT qtab.q_id, codes.c_id, CAST(sum(qtab.d_u) AS BIGINT) AS adist_u
         FROM codes
         JOIN coarse cm ON cm.{id_col} = codes.c_id
         JOIN qc ON qc.q_cluster = cm.cluster_id
         JOIN qtab ON qtab.q_id = qc.q_id AND qtab.s = codes.s AND qtab.j = codes.code
         WHERE codes.c_id <> qtab.q_id
         GROUP BY 1, 2),
       ranked AS (
         SELECT q_id, c_id, adist_u,
                row_number() OVER (PARTITION BY q_id ORDER BY adist_u, c_id)::BIGINT AS rank
         FROM adist)
       SELECT q_id, c_id, adist_u, rank FROM ranked WHERE rank <= {k}"""


def exact_l2_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "vec_id",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact squared-L2 top-k in the engine's int64 micro-unit space —
    the ground truth the PQ/IVF approximations are audited against.
    Same Arrow-batched (B×D)·(D×nq) integer matmul as kmeans_assign;
    one corpus pass, rank window on q_id."""
    qrows = census_collect(
        queries.select(q_id_col, vec_col).orderBy(q_id_col),
        MAX_QUERY_ROWS, "broadcast query-set fetch (bounded query batch, never the corpus)",
    )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qu = _scale_u(np.asarray([r[1] for r in qrows], dtype=np.float64))
    nq = len(q_ids)

    @F.pandas_udf("array<struct<q_id: long, d_u: long>>")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        q2 = (qu * qu).sum(axis=1)
        for emb in batches:
            vu = _scale_u(np.stack(emb.to_numpy()))
            d = (vu * vu).sum(axis=1, keepdims=True) - 2 * (vu @ qu.T) + q2[None, :]
            yield pd.Series(
                [
                    [
                        {"q_id": int(q_ids[qi]), "d_u": int(d[bi, qi])}
                        for qi in range(nq)
                    ]
                    for bi in range(len(d))
                ]
            )

    scored = (
        vectors.select(F.col(id_col).alias("c_id"), score(F.col(vec_col)).alias("ss"))
        .select("c_id", F.explode("ss").alias("s"))
        .select(F.col("s.q_id").alias("q_id"), "c_id", F.col("s.d_u").alias("d_u"))
    )
    if exclude_self:
        scored = scored.where(F.col("c_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy("d_u", F.col("c_id"))
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rank"))
        .where(F.col("rank") <= k)
    )


def pq_recall(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
) -> DataFrame:
    """Recall@k audit of the PQ ADC index against the exact int64 L2
    truth — the number an ANN deployment must publish before trusting
    compressed search (the PQ analog of the ``lsh_recall`` audit).
    Returns one row per query: (q_id, n_hits, recall). At production
    scale the truth side runs on a hash-sampled query slice; the ADC
    side is the production operator unchanged."""
    truth = exact_l2_topk(vectors, queries, id_col, vec_col, q_id_col, k).select(
        "q_id", "c_id"
    )
    approx = pq_adc_topk(
        vectors, queries, id_col, vec_col, q_id_col, m, ksub, k
    ).select("q_id", "c_id")
    hits = truth.join(approx, ["q_id", "c_id"], "semi")
    n_hits = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    all_q = truth.select("q_id").distinct()
    return (
        all_q.join(n_hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


def pq_recall_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 8,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
) -> str:
    """DuckDB oracle for :func:`pq_recall`: exact micro-unit L2 truth
    top-k vs the pq_adc oracle top-k, per-query overlap."""
    sc = lambda e, i: f"CAST(floor({e}[{i}]::DOUBLE * 1e6 + 0.5) AS BIGINT)"
    return f"""WITH q AS (
         SELECT {id_col} AS q_id, {vec_col} AS q_emb FROM {table}
         WHERE {id_col} < {n_queries}),
       exact AS (
         SELECT q.q_id, e.{id_col} AS c_id,
                CAST(list_sum(list_transform(
                  list_transform(range(1, len(e.{vec_col}) + 1),
                    i -> {sc('e.' + vec_col, 'i')} - {sc('q.q_emb', 'i')}),
                  x -> x * x)) AS BIGINT) AS d_u
         FROM {table} e CROSS JOIN q WHERE e.{id_col} <> q.q_id),
       truth AS (
         SELECT q_id, c_id FROM (
           SELECT q_id, c_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY d_u, c_id) AS rn
           FROM exact) WHERE rn <= {k}),
       seeds AS (
         SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS j, {vec_col} AS cemb
         FROM {table} WHERE {id_col} < {ksub}),
       dim AS (SELECT len({vec_col}) // {m} AS sd FROM {table} LIMIT 1),
       subsp AS (SELECT unnest(range({m})) AS s),
       cd AS (
         SELECT e.{id_col}, subsp.s, seeds.j,
                CAST(list_sum(list_transform(
                  list_transform(range(subsp.s * dim.sd + 1, (subsp.s + 1) * dim.sd + 1),
                    i -> {sc('e.' + vec_col, 'i')} - {sc('seeds.cemb', 'i')}),
                  x -> x * x)) AS BIGINT) AS d_u
         FROM {table} e CROSS JOIN subsp CROSS JOIN seeds CROSS JOIN dim),
       codes AS (
         SELECT {id_col} AS c_id, s, j AS code
         FROM (SELECT {id_col}, s, j,
                      row_number() OVER (PARTITION BY {id_col}, s ORDER BY d_u, j) AS rn
               FROM cd) WHERE rn = 1),
       qtab AS (
         SELECT cd.{id_col} AS q_id, cd.s, cd.j, cd.d_u
         FROM cd WHERE cd.{id_col} < {n_queries}),
       adist AS (
         SELECT qtab.q_id, codes.c_id, CAST(sum(qtab.d_u) AS BIGINT) AS adist_u
         FROM codes JOIN qtab ON qtab.s = codes.s AND qtab.j = codes.code
         WHERE codes.c_id <> qtab.q_id
         GROUP BY 1, 2),
       approx AS (
         SELECT q_id, c_id FROM (
           SELECT q_id, c_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY adist_u, c_id) AS rn
           FROM adist) WHERE rn <= {k}),
       hits AS (
         SELECT t.q_id, count(*) AS n_hits
         FROM truth t JOIN approx a ON a.q_id = t.q_id AND a.c_id = t.c_id
         GROUP BY 1)
       SELECT q.q_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
              round(coalesce(h.n_hits, 0)::DOUBLE / {k}.0, 6) AS recall
       FROM (SELECT DISTINCT q_id FROM truth) q
       LEFT JOIN hits h USING (q_id)"""
