"""Integer-exact k-means over the embeddings table, and the
SemDeDup-style semantic near-dup pass it enables.

Clustering is the missing grain between the corpus-wide near-dup
passes (MinHash / SimHash / grid-cell cosine, functions/dedup.py) and
per-document quality scores: training-data curation pipelines cluster
embeddings to balance domain mix, cap per-topic quotas, and run
semantic dedup WITHIN clusters (Abbas et al. 2023, SemDeDup) so the
pair space is bounded by the largest cluster instead of the corpus.

Cross-engine exactness is the design constraint (the driver
hash-compares against DuckDB): Lloyd's algorithm is run entirely in
INTEGER space. Coordinates are quantized to floor(x * 2**20) -- exact
for float32 inputs (a 24-bit mantissa shifted by a power of two loses
nothing through the double path, and both engines floor identically).
Distances are integer sums of squares, centroid updates are exact
floor-division means (the ``(s - pmod(s, n)) div n`` trick: subtract
the non-negative remainder so truncating division equals floor even
for negative sums -- same fix as operators/scale.py's chunk ids), and
assignment ties break on the lowest cluster id. Every number the
driver hashes is therefore bit-identical in Spark and DuckDB; the
ONLY doubles emitted are cosines of the form
``dot / (sqrt(na2) * sqrt(nb2))`` over exact int64 operands (each op
is correctly rounded IEEE-754, so the bits match across engines).

Scale shape (the 100 TB story):
- assignment is MAP-ONLY: the K x DIM centroid table is driver state
  (a few KiB), folded into the scan as literal expressions -- no
  join, no shuffle, whole-stage codegen;
- the centroid update is ONE map-side-combinable aggregate per
  iteration (K rows x DIM sums + a count);
- the two driver ``collect()`` sites are bounded by construction
  (K init rows, K update rows) -- the same pattern as the sketch
  tables and the IVF training sample;
- SemDeDup's pair space is sum of n_c^2 over clusters, bounded by the
  largest cluster; production picks K proportional to corpus size to
  cap it. The per-cluster Gram matrix is an exact int64 numpy matmul
  inside ``applyInPandas`` (order-independent, Arrow-batched).
- int64 headroom: the quantizer ENFORCES |x| <= 8 (so |coord| <= 2**23
  after quantization) via assert_true -- out-of-envelope input raises
  loudly in Spark instead of wrapping silently while DuckDB raises on
  overflow (r9 advice). Within the envelope a squared distance is
  <= DIM * 2**48 and per-cluster coordinate sums stay exact past
  10**9 rows; the dist SUM in the profile would need decimal
  accumulation far beyond that (documented at the agg).
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memo
from ..sources.testdata import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

_K = 8
_ITERS = 3  # assignment passes; centroids update after all but the last
_DIM = 64
_Q = 1 << 20
#: SemDeDup within-cluster cosine threshold (matches the grid-cell
#: near-dup family's _COSINE_THRESHOLD; the fixtures plant pairs here)
_SEM_THRESHOLD = 0.4


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # int64-headroom envelope: the squared-distance and coordinate-sum
    # arithmetic is exact only for |x| <= 8 (|quantized| <= 2**23).
    # Outside it, Spark's non-ANSI int64 wraps SILENTLY while DuckDB
    # raises — assert_true turns that into a loud cross-engine error
    # instead of a silent divergence (r9 advice). Structure matters
    # twice over (r13 hostile-embeddings finding, fixed r14):
    # - the predicate needs the explicit ``x IS NOT NULL`` conjunct
    #   (abs(NULL) <= 8 is NULL and assert_true raises only on FALSE);
    # - the assert must be coalesce's FIRST argument, not a ``+ 0``
    #   side-term: Spark's null-intolerant ``+`` short-circuits when
    #   the quantized left operand is NULL, skipping the assert
    #   entirely. coalesce evaluates in order, and assert_true yields
    #   NULL on pass, so the quantized value flows through unchanged.
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"coalesce(assert_true(x IS NOT NULL AND "
            f"abs(CAST(x AS DOUBLE)) <= 8.0D, "
            f"'kmeans quantizer: NULL or |coordinate| > 8 exceeds the "
            f"int64 headroom envelope'), "
            f"CAST(floor(CAST(x AS DOUBLE) * {_Q}.0) AS BIGINT)))"
        ).alias("e"),
    )


def _dist_expr(cent: "list[int]") -> Column:
    arr = "array(" + ",".join(f"{v}L" for v in cent) + ")"
    return F.expr(
        f"aggregate(zip_with(e, {arr}, (x, y) -> (x - y) * (x - y)), "
        f"0L, (a, b) -> a + b)"
    )


def _with_assignment(q: DataFrame, cents: "list[list[int]]") -> DataFrame:
    """Attach (cluster_id, dist) = argmin over the centroid literals.
    Ties break on the lowest cluster id (coalesce scans j ascending),
    mirroring the oracle's ROW_NUMBER(ORDER BY dist, j)."""
    d = q
    for j, c in enumerate(cents):
        d = d.withColumn(f"_d{j}", _dist_expr(c))
    dcols = [F.col(f"_d{j}") for j in range(len(cents))]
    # F.least needs >= 2 columns; a 1-row corpus (K clamps to 1
    # centroid) is a plain single-cluster assignment
    md = dcols[0] if len(dcols) == 1 else F.least(*dcols)
    cl = F.coalesce(
        *[F.when(dc == md, F.lit(j)) for j, dc in enumerate(dcols)]
    )
    return (
        d.withColumn("dist", md)
        .withColumn("cluster_id", cl.cast("bigint"))
        .drop(*[f"_d{j}" for j in range(len(cents))])
    )


def _floor_div(s: int, n: int) -> int:
    # Python's // is already floor division; spelled as a helper so the
    # intent (must equal the oracle's exact-multiple `div`) is pinned
    return s // n


def _final_assignment_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _quantized(spark, sf_dir)
    # deterministic init: the K lowest vec_ids' quantized vectors
    # (a corpus smaller than K simply runs with one cluster per vector,
    # exactly like the oracle's LIMIT K; an empty corpus short-circuits
    # to the zero-row frame with the right schema)
    init = q.orderBy("vec_id").limit(_K).collect()
    cents = [list(r.e) for r in init]
    if not cents:
        return q.select(
            "vec_id",
            "e",
            F.lit(None).cast("bigint").alias("cluster_id"),
            F.lit(None).cast("bigint").alias("dist"),
        )
    sums = [
        F.sum(F.element_at("e", i + 1)).alias(f"s{i}") for i in range(_DIM)
    ]
    for _ in range(_ITERS - 1):
        a = _with_assignment(q, cents)
        rows = (
            a.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()  # bounded: K rows x (DIM + 1) ints
        )
        new = {
            int(r["cluster_id"]): [
                _floor_div(int(r[f"s{i}"]), int(r["n"])) for i in range(_DIM)
            ]
            for r in rows
        }
        # a cluster that lost every member keeps its previous centroid
        cents = [new.get(j, cents[j]) for j in range(len(cents))]
    return _with_assignment(q, cents).select(
        "vec_id", "e", "cluster_id", "dist"
    )


def _assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final (vec_id, e, cluster_id, dist) frame, session-memoized
    (three queries share it)."""
    return memo(
        spark, "kmeans_assignment", sf_dir, "embeddings",
        lambda: _final_assignment_build(spark, sf_dir),
    )


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _assignment(spark, sf_dir)
        .select("vec_id", "cluster_id", "dist")
    )


def q_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _assignment(spark, sf_dir)
    prof = a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("dist").alias("min_dist"),
        F.max("dist").alias("max_dist"),
        # int64 sum is exact past 10**9 rows at this quantization; a
        # larger corpus accumulates in DECIMAL and floors at the end
        F.sum("dist").alias("_sd"),
    )
    return prof.select(
        "cluster_id",
        "n_members",
        "min_dist",
        "max_dist",
        F.expr("(_sd - pmod(_sd, n_members)) div n_members").alias(
            "avg_dist_floor"
        ),
    )


#: Arrow schema of the SemDeDup pair kernel's output
SEMDEDUP_PAIR_SCHEMA = "a_id long, b_id long, cosine double"


def semdedup_pair_kernel(threshold: float):
    """Per-group near-dup pair kernel (one exact int64 Gram matmul
    over the Arrow batch). Module-level so a scale probe can time the
    SAME code the registered query ships, not a drifted copy (the r10
    x100 k-means probe, at commit ``9dbaa4e``)."""
    import numpy as np
    import pandas as pd

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:  # no pair can exist; np.stack would also choke
            return pd.DataFrame(
                {"a_id": [], "b_id": [], "cosine": []}
            ).astype({"a_id": "int64", "b_id": "int64", "cosine": "float64"})
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf["e"].to_numpy())[order].astype(np.int64)
        g = m @ m.T  # exact: |coord| <= 2**22, DIM=64 -> < 2**63
        n2 = np.diagonal(g)
        iu, ju = np.triu_indices(len(ids), k=1)
        dots = g[iu, ju]
        na2 = n2[iu].astype(np.float64)
        nb2 = n2[ju].astype(np.float64)
        valid = (na2 > 0) & (nb2 > 0)
        cos = np.zeros(len(dots), dtype=np.float64)
        # op order mirrors the oracle: dot / (sqrt(na2) * sqrt(nb2)),
        # every operand exact in double, every op correctly rounded
        cos[valid] = dots[valid] / (np.sqrt(na2[valid]) * np.sqrt(nb2[valid]))
        mask = valid & (cos >= threshold)
        return pd.DataFrame(
            {
                "a_id": ids[iu[mask]],
                "b_id": ids[ju[mask]],
                "cosine": cos[mask],
            }
        )

    return pairs


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: near-dup pairs WITHIN k-means clusters. The pair space
    is bounded by the largest cluster; each cluster's Gram matrix is
    one exact int64 matmul over the Arrow batch."""
    a = _assignment(spark, sf_dir).select("vec_id", "cluster_id", "e")
    out = a.groupBy("cluster_id").applyInPandas(
        semdedup_pair_kernel(_SEM_THRESHOLD), schema=SEMDEDUP_PAIR_SCHEMA
    )
    return out


# ---------------------------------------------------------------------------
# DuckDB oracles: the SAME integer Lloyd iterations, unrolled CTEs
# (like the PageRank oracle). list_sum over BIGINT returns HUGEINT --
# every sum is CAST back to BIGINT before it can reach the output or a
# double (the round-7 zscore lesson).
# ---------------------------------------------------------------------------


def _kmeans_cte() -> str:
    parts = [
        f"""
  q AS (
    SELECT vec_id, list_transform(embedding, x ->
             CAST(floor(CAST(x AS DOUBLE) * {_Q}.0) AS BIGINT)) AS e
    FROM embeddings
  ),
  c0 AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS j,
           e AS ci
    FROM (SELECT vec_id, e FROM q ORDER BY vec_id LIMIT {_K})
  )"""
    ]
    for it in range(1, _ITERS + 1):
        prev = f"c{it - 1}"
        parts.append(
            f"""
  a{it} AS (
    SELECT vec_id, e, j, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
    FROM (
      SELECT q.vec_id, q.e, {prev}.j,
             CAST(list_sum(list_transform(range(1, {_DIM + 1}),
               i -> (e[i] - ci[i]) * (e[i] - ci[i]))) AS BIGINT) AS dist
      FROM q CROSS JOIN {prev}
    )
  ),
  s{it} AS (
    SELECT vec_id, e, j AS cluster_id, dist FROM a{it} WHERE rn = 1
  )"""
        )
        if it < _ITERS:
            parts.append(
                f"""
  u{it} AS (
    SELECT cluster_id, t.i AS i, CAST(SUM(e[t.i]) AS BIGINT) AS s,
           COUNT(*) AS n
    FROM s{it} CROSS JOIN generate_series(1, {_DIM}) AS t(i)
    GROUP BY 1, 2
  ),
  m{it} AS (
    SELECT cluster_id,
           list((s - ((s % n) + n) % n) // n ORDER BY i) AS ci
    FROM u{it} GROUP BY cluster_id
  ),
  c{it} AS (
    SELECT c0.j, coalesce(m{it}.ci, {"c0" if it == 1 else f"c{it - 1}"}.ci) AS ci
    FROM c0
    {"" if it == 1 else f"JOIN c{it - 1} ON c{it - 1}.j = c0.j"}
    LEFT JOIN m{it} ON m{it}.cluster_id = c0.j
  )"""
            )
    return ",".join(parts)


KMEANS_ASSIGN_SQL = f"""
  WITH {_kmeans_cte()}
  SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id, dist
  FROM s{_ITERS}
  ORDER BY vec_id
"""

KMEANS_PROFILE_SQL = f"""
  WITH {_kmeans_cte()}
  SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         MIN(dist) AS min_dist,
         MAX(dist) AS max_dist,
         (CAST(SUM(dist) AS BIGINT)
          - ((CAST(SUM(dist) AS BIGINT) % COUNT(*)) + COUNT(*)) % COUNT(*))
           // COUNT(*) AS avg_dist_floor
  FROM s{_ITERS}
  GROUP BY 1
  ORDER BY 1
"""

SEMANTIC_DEDUP_SQL = f"""
  WITH {_kmeans_cte()},
  v AS (
    SELECT vec_id, cluster_id, e,
           CAST(list_sum(list_transform(range(1, {_DIM + 1}),
             i -> e[i] * e[i])) AS BIGINT) AS n2
    FROM s{_ITERS}
  ),
  p AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(list_sum(list_transform(range(1, {_DIM + 1}),
             i -> a.e[i] * b.e[i])) AS BIGINT) AS dot,
           a.n2 AS na2, b.n2 AS nb2
    FROM v a JOIN v b
      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    WHERE a.n2 > 0 AND b.n2 > 0
  )
  SELECT a_id, b_id,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
           AS cosine
  FROM p
  WHERE CAST(dot AS DOUBLE)
          / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
        >= {_SEM_THRESHOLD}
  ORDER BY a_id, b_id
"""

QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "cluster_kmeans_assign": (q_kmeans_assign, KMEANS_ASSIGN_SQL),
    "cluster_kmeans_profile": (q_kmeans_profile, KMEANS_PROFILE_SQL),
    "semantic_dedup_kmeans": (q_semantic_dedup, SEMANTIC_DEDUP_SQL),
}
