"""Iterative clustering over embedding columns: k-means (Lloyd).

The representative ITERATIVE algorithm (nothing in the reference
iterates): each round is assign (per-row argmin over a broadcast
codebook — zero shuffle) then update (per-cell mean — one narrow
shuffle of integer partial sums). Driver holds nothing but the loop
counter; the codebook stays a one-row DataFrame that is re-broadcast
each round.

Determinism: centroid means use the exact integer-scaling scheme from
``similarity.embedding_centroids`` (float32-origin values scaled by 1e12
sum exactly in BIGINT), so every iteration's codebook — and therefore the
final assignment — is bit-reproducible regardless of partitioning or
summation order. That is what makes the fixed-point testable.

Scale notes: per round the corpus is scanned once; shuffle volume is
K x dim longs per partition (partial sums), independent of row count.
Lineage grows per iteration — ``localCheckpoint`` every few rounds caps
plan depth for large T (applied here every 2 rounds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_corpus

K_CELLS = 8
N_ITERS = 3
_SCALE = 1e12  # exact for float32-origin values in double (24-bit mantissa)


def _codebook_row(centroids: DataFrame) -> DataFrame:
    """(cell_id, c: array<double>) rows -> one-row codebook for broadcast."""
    return centroids.agg(
        F.sort_array(F.collect_list(F.struct("cell_id", "c"))).alias("cb")
    )


def _nearest(e: Column) -> Column:
    """cell_id of the nearest codebook entry (squared L2, cell_id ties)."""
    d2 = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(e, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.array_min(
        F.transform(
            F.col("cb"),
            lambda entry: F.struct(
                d2(entry["c"]).alias("d"), entry["cell_id"].alias("cell_id")
            ),
        )
    )["cell_id"]


def kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CELLS,
    n_iters: int = N_ITERS,
) -> tuple[DataFrame, DataFrame]:
    """Run ``n_iters`` Lloyd rounds; return (assignments, centroids).

    assignments: (vec_id, cell_id); centroids: (cell_id, c: array<double>).
    Seeds are the first k vectors (deterministic); empty cells keep their
    previous centroid (coalesce on the update join).
    """
    emb = load_corpus(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    centroids = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cell_id"), F.col("e").alias("c")
    )
    for it in range(n_iters):
        cb = _codebook_row(centroids)
        assigned = emb.crossJoin(F.broadcast(cb)).select(
            "vec_id", "e", _nearest(F.col("e")).alias("cell_id")
        )
        # update: exact integer-scaled per-cell mean, per dimension
        flat = assigned.select(
            "cell_id", F.posexplode("e").alias("dim_idx", "x")
        )
        scaled = F.floor(F.col("x") * F.lit(_SCALE))
        dims = (
            flat.groupBy("cell_id", "dim_idx")
            .agg(F.sum(scaled).alias("s"), F.count("*").alias("n"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim_idx", "s", "n"))
                    ),
                    lambda t: t["s"].cast("double") / (t["n"] * F.lit(_SCALE)),
                ).alias("c_new")
            )
        )
        centroids = (
            centroids.join(dims, "cell_id", "left")
            .select(
                "cell_id", F.coalesce("c_new", "c").alias("c")
            )
        )
        if (it + 1) % 2 == 0:
            centroids = centroids.localCheckpoint(eager=True)
    cb = _codebook_row(centroids)
    assignments = emb.crossJoin(F.broadcast(cb)).select(
        "vec_id", _nearest(F.col("e")).alias("cell_id")
    )
    return assignments, centroids


def _kmeans_oracle(k: int = K_CELLS, n_iters: int = N_ITERS) -> str:
    """SQL replica of the full Lloyd fit: the fixed iteration count is
    UNROLLED into one CTE chain (assign -> integer-scaled update, per
    round). Every arithmetic step mirrors the Spark expressions exactly —
    ordered-fold squared distances in double, floor(x*1e12) BIGINT sums,
    one double division per mean — so the round-3 assignment (and hence
    the cell cardinalities) is bit-identical across engines. This is what
    makes an ITERATIVE algorithm oracle-checkable: determinism by
    construction, not by tolerance."""
    d2 = (
        "list_reduce(list_transform(range(1, len(v.e) + 1), "
        "i -> (v.e[i] - cb.c[i]) * (v.e[i] - cb.c[i])), (acc, x) -> acc + x)"
    )
    parts = [
        f"""emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
cb0 AS (
  SELECT CAST(vec_id AS INT) AS cell_id, e AS c FROM emb WHERE vec_id < {k}
)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, cb.cell_id, {d2} AS d
    FROM emb v CROSS JOIN cb{t - 1} cb
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) = 1
),
u{t} AS (
  SELECT cell_id, list(CAST(s AS DOUBLE) / (n * 1e12) ORDER BY dim_idx) AS c_new
  FROM (
    SELECT cell_id, dim_idx,
      SUM(CAST(floor(x * 1e12) AS BIGINT)) AS s, count(*) AS n
    FROM (
      SELECT a.cell_id, generate_subscripts(e, 1) AS dim_idx, unnest(e) AS x
      FROM a{t} a JOIN emb USING (vec_id)
    ) GROUP BY cell_id, dim_idx
  ) GROUP BY cell_id
),
cb{t} AS (
  SELECT cb.cell_id, COALESCE(u.c_new, cb.c) AS c
  FROM cb{t - 1} cb LEFT JOIN u{t} u USING (cell_id)
)"""
        )
    parts.append(
        f"""final AS (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, cb.cell_id, {d2} AS d
    FROM emb v CROSS JOIN cb{n_iters} cb
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) = 1
)"""
    )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT cell_id, count(*) AS n_vectors FROM final GROUP BY cell_id"


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster cardinalities after N_ITERS Lloyd rounds over the
    embeddings table — the deterministic summary of the fit (cell sizes
    sum to the corpus; bit-reproducible across runs, asserted in tests).
    The oracle unrolls the same fixed iteration count in SQL — see
    :func:`_kmeans_oracle`."""
    assignments, _ = kmeans_fit(spark, sf_dir)
    return assignments.groupBy("cell_id").agg(F.count("*").alias("n_vectors"))
