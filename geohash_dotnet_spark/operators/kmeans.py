"""Distributed Lloyd k-means over embedding vectors — the codebook
trainer the IVF index (operators/similarity.py) declares it wants
("swap in offline k-means centroids in production").

Deterministic and engine-portable end to end:

* init: the ``n_clusters`` lowest-id vectors (the same deterministic
  demo rule the IVF quantizer uses; swap for a sampled init in
  production — the dataflow is identical);
* assignment: shuffle-free literal-codebook argmin (the r3 IVF
  lesson) — centroids are a bounded driver artifact (C×dim doubles),
  folded in as literal arrays; squared-L2 distance is a fixed-order
  fold over components (zip_with + aggregate), so the double is
  bit-identical in DuckDB's list_reduce replay; ties break to the
  lowest centroid id via struct-min;
* update: per-(cluster, component) sums of MICRO-UNIT-QUANTIZED
  components (``exact.MICRO`` ticks, BIGINT) — integer sums are
  addition-order free, so new centroids are identical doubles on any
  cluster size, any layout, any engine. Empty clusters keep their
  previous centroid.

Scale shape per iteration: one narrow assignment projection over the
corpus (no join, no exchange) + one (cluster, component)-keyed
aggregation whose map-side partials collapse to C·dim rows per task
before the shuffle; the driver syncs exactly C·dim integers per round
(the synchronization every distributed k-means pays). The returned
DataFrame is the final aggregation itself — no terminal collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import MICRO

__all__ = ["kmeans_fit", "kmeans_assign", "kmeans_fit_sql"]


def _dist_to(vec_col, comps):
    """Fixed-order squared-L2 fold against a literal centroid."""
    lit = F.array(*[F.lit(float(c)) for c in comps])
    sq = F.zip_with(vec_col, lit,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b))
    return F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)


def kmeans_assign(df: DataFrame, centroids, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Assign every vector to its nearest centroid (squared L2, ties to
    the lowest cluster id). ``centroids`` is [(cid, [components])] —
    a bounded driver artifact; assignment is a pure projection."""
    structs = [F.struct(_dist_to(F.col(vec_col), comps).alias("d"),
                        F.lit(int(cid)).cast("long").alias("cid"))
               for cid, comps in centroids]
    return (df.select(id_col, vec_col)
            .withColumn("cid", F.array_min(F.array(*structs))["cid"]))


def _cluster_stats(assigned: DataFrame, vec_col: str) -> DataFrame:
    """(cid, pos, s_u, n): micro-unit integer component sums + sizes."""
    e = assigned.select("cid", F.posexplode(F.col(vec_col))
                        .alias("pos", "comp"))
    su = MICRO.ticks(F.col("comp").cast("double"))
    return (e.groupBy("cid", "pos")
            .agg(F.sum(su).alias("s_u"), F.count(F.lit(1)).alias("n")))


def kmeans_fit(df: DataFrame, n_clusters: int = 8, n_iter: int = 2,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Run ``n_iter`` Lloyd rounds; return the final per-cluster
    component table: (cluster, pos, n_vecs, comp) — comp the exact
    double s_u/(n·1e6), one row per (non-empty cluster, dimension).
    Reassemble centroid arrays with ``collect_list`` ordered by pos,
    or feed them straight back into :func:`kmeans_assign` / the IVF
    quantizer."""
    init = (df.filter(F.col(id_col) < int(n_clusters))
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c"))
            .collect())
    cents = sorted(((int(r["cid"]), [float(x) for x in r["c"]])
                    for r in init), key=lambda t: t[0])

    stats = None
    for _ in range(int(n_iter)):
        assigned = kmeans_assign(df, cents, vec_col, id_col)
        stats = _cluster_stats(assigned, vec_col)
        new = {}
        for r in stats.collect():
            new.setdefault(int(r["cid"]), {})[int(r["pos"])] = (
                float(r["s_u"]) / float(int(r["n"]) * MICRO.scale))
        cents = [(cid,
                  [new[cid][p] for p in range(len(comps))]
                  if cid in new else comps)
                 for cid, comps in cents]

    return stats.select(
        F.col("cid").alias("cluster"),
        F.col("pos").cast("long").alias("pos"),
        F.col("n").alias("n_vecs"),
        (F.col("s_u").cast("double")
         / (F.col("n") * F.lit(MICRO.scale)).cast("double")).alias("comp"))


def kmeans_fit_sql(inner: str = "embeddings", n_clusters: int = 8,
                   n_iter: int = 2, dim: int = 64,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> str:
    """DuckDB oracle twin of :func:`kmeans_fit` (n_iter chained CTE
    blocks — join+QUALIFY argmin instead of the literal-codebook
    projection, an independent formulation of the same fixpoint)."""
    dist = ("list_reduce(list_transform(range(1, {d} + 1), "
            "i -> (CAST(v[i] AS DOUBLE) - CAST(c[i] AS DOUBLE)) "
            "* (CAST(v[i] AS DOUBLE) - CAST(c[i] AS DOUBLE))), "
            "(a, b) -> a + b)").format(d=int(dim))
    comp_expr = f"CAST(s_u AS DOUBLE) / CAST(n * {MICRO.scale} AS DOUBLE)"
    blocks = [f"""
vecs AS (
  SELECT CAST({id_col} AS BIGINT) AS id, {vec_col} AS v FROM {inner}
), cent0 AS (
  SELECT CAST({id_col} AS BIGINT) AS cid,
         list_transform(range(1, {int(dim)} + 1),
                        i -> CAST({vec_col}[i] AS DOUBLE)) AS c
  FROM {inner} WHERE {id_col} < {int(n_clusters)}
)"""]
    for it in range(int(n_iter)):
        blocks.append(f"""
a{it} AS (
  SELECT id, cid, v FROM (
    SELECT vecs.id, cent{it}.cid, vecs.v, {dist} AS dist
    FROM vecs CROSS JOIN cent{it})
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist, cid) = 1
), e{it} AS (
  SELECT cid, unnest(range({int(dim)})) AS pos, v FROM a{it}
), s{it} AS (
  SELECT cid, pos,
         CAST(sum({MICRO.ticks_sql('CAST(v[pos + 1] AS DOUBLE)')})
              AS BIGINT) AS s_u,
         count(*) AS n
  FROM e{it} GROUP BY cid, pos
), cent{it + 1} AS (
  SELECT cent{it}.cid, COALESCE(l.cl, cent{it}.c) AS c
  FROM cent{it} LEFT JOIN (
    SELECT cid, list({comp_expr} ORDER BY pos) AS cl
    FROM s{it} GROUP BY cid) l ON l.cid = cent{it}.cid
)""")
    last = int(n_iter) - 1
    return ("WITH " + ",".join(blocks) + f"""
SELECT cid AS cluster, CAST(pos AS BIGINT) AS pos, n AS n_vecs,
       {comp_expr} AS comp
FROM s{last}
""")
