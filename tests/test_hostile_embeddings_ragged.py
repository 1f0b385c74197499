"""Hostile RAGGED embedding vectors: empty ``[]`` and wrong-dimension
rows — the classic 100 TB ingest failure the fixed-shape axis
(test_hostile_embeddings.py: zero/NULL/NaN) cannot see.

r15 probe result (tools/hostile_sweep.py embeddings_ragged), the
classification this module pins; the latest full 186-query sweep
(Spark 4 default semantics) reads the same, 175 green / 0 mismatch /
11 in the sweep's `spark_only_error` bucket (Spark raises, the oracle
returns rows; `both_error` is empty):

1. **Zero silent divergence.** No query returns wrong rows on ragged
   input — every non-green is a LOUD Spark raise.
2. **Two queries are fully ragged-robust** (cross-engine green):
   ``embedding_centroid_by_group`` (posexplode emits exactly the
   positions present, the (grp, dim) agg simply has fewer/more dim
   keys — identical to DuckDB's unnest-over-range) and
   ``quantize_embeddings_int8`` (pure per-element transform, no
   fixed-dim assumption).
3. **Eleven queries RAISE on the Spark side** while the list-native
   DuckDB oracles complete: the Arrow/numpy kernels require a
   homogeneous batch (``np.stack`` on an inhomogeneous shape) and the
   k-means quantizer indexes ``element_at(v, dim+1)`` past a short
   vector (INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI). For a typed
   fixed-dim embedding column this is the CORRECT surface — a
   contract violation should stop the job, not flow NaNs — so these
   are pinned as intended loud behavior, not scheduled fixes. The
   driver can never hit them: the tripwire below asserts every driver
   sf ships uniform-dimension vectors.
"""

from __future__ import annotations

import duckdb
import pytest

from .hostile_tables import build
from .oracle_compare import compare_query

#: cross-engine green on ragged vectors (parity-pinned below)
_ROBUST = [
    "embedding_centroid_by_group",
    "quantize_embeddings_int8",
]

#: loud Spark raise on ragged vectors (oracle completes; pinned as the
#: intended fixed-dim contract surface)
_KNOWN_LOUD = [
    "similarity_topk_exact",
    "similarity_topk_ann",
    "similarity_topk_ivf",
    "similarity_topk_ann_indexed",
    "similarity_ann_recall_contract",
    "dedup_embedding_cosine",
    "dedup_decontaminate_semantic",
    "embedding_knn_label",
    "cluster_kmeans_assign",
    "cluster_kmeans_profile",
    "semantic_dedup_kmeans",
]


@pytest.fixture(scope="module")
def ragged_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_ragged")
    return build("embeddings_ragged", sf_small, d)


@pytest.mark.parametrize("name", _ROBUST)
def test_ragged_vectors_stay_oracle_green(spark, ragged_sf, name):
    problems = compare_query(spark, name, ragged_sf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _KNOWN_LOUD)
def test_ragged_vectors_raise_loudly(spark, ragged_sf, name):
    """The fixed-dim contract violation must STOP the job — a raise is
    the pinned behavior. If this ever completes, either the kernel
    went shape-tolerant (then parity-check it and move it to _ROBUST)
    or — worse — it silently emitted rows; compare before moving.

    The raise is matched against the expected contract surfaces (r15
    ADVICE: a bare ``pytest.raises(Exception)`` let a missing fixture
    or a registry rename pass as the pin): numpy's inhomogeneous-
    shape / broadcast errors out of the Arrow kernels, and Spark's
    ANSI element_at out-of-bounds in the k-means quantizer. The
    registry lookup happens OUTSIDE the raises block so a renamed
    query fails the test instead of satisfying it."""
    import __spark_entry__ as e

    fn = e.queries()[name]  # KeyError here = test failure, not the pin
    with pytest.raises(
        Exception,
        match=(
            "INVALID_ARRAY_INDEX|inhomogeneous|could not broadcast"
            "|setting an array element|stack|shape|dimension"
        ),
    ):
        fn(spark, ragged_sf).toPandas()


def test_driver_embeddings_are_uniform_dimension():
    """Tripwire: the loud-raise class stays latent only while every
    driver embedding has the same dimension at every sf."""
    import glob

    con = duckdb.connect()
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs, "driver testdata missing"
    for d in dirs:
        p = f"{d}/embeddings.parquet"
        lo, hi, n_null = con.execute(
            f"SELECT min(len(embedding)), max(len(embedding)), "
            f"count(*) FILTER (embedding IS NULL) FROM '{p}'"
        ).fetchone()
        assert lo == hi and lo > 0 and n_null == 0, (
            f"{p}: ragged/null embeddings (min {lo}, max {hi}, "
            f"null {n_null})"
        )
