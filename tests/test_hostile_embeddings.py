"""Hostile embedding vectors: zero-norm, NULL elements, true NaN.

The documents table has a hostile-input suite (test_hostile_docs);
this is the embeddings twin, built after an r13 audit found the
behavior is THREE-TIERED:

1. **Zero-norm and NULL-element vectors**: every oracle-backed
   embedding consumer except the k-means trio stays Spark==DuckDB
   green — a NULL element propagates to a NULL dot/score and both
   engines drop the row the same way; a zero vector's undefined
   cosine is skipped query-side and never enters a top-k. Pinned here
   so a kernel rewrite cannot regress it silently.

2. **The k-means family fails LOUDLY on a NULL element.** The
   quantizer's envelope guard ``assert_true(abs(x) <= 8)`` once let
   NULL through: ``abs(NULL) <= 8`` is NULL and ``assert_true`` raises
   only on FALSE, so a NULL element became a NULL cluster_id and then
   a cryptic Python ``int(None)`` on the collected rows. The fix waited
   one round (r13 to r14) only because it changed the k-means trio's
   verified outputs. The guard predicate is now ``x IS NOT NULL AND
   abs(x) <= 8``, and the pin below asserts the loud envelope error.

3. **True NaN is a KNOWN, DOCUMENTED cross-engine divergence** (the
   U+000B pattern from functions/tokcount.py): numpy comparisons with
   NaN are false (NaN cosines never reach a threshold or top-k), while
   DuckDB's total order ranks NaN above +inf, so ``cos >= threshold``
   PASSES for NaN pairs and the oracle emits extra rows; ANSI Spark
   additionally refuses NaN->int casts where DuckDB raises its own
   error. The driver testdata carries no NaN/NULL embedding elements
   at any scale (tripwired below, like the no-\\x0B tripwire), so the
   divergence is latent-only and pinned loudly rather than papered
   over.

A full 186-query sweep over the zero-norm and NULL-element rows
(`tools/hostile_sweep.py embeddings`, Spark 4 default semantics) reads
183 green / 0 mismatch / 3 loud errors, the k-means trio of tier 2.
"""

from __future__ import annotations

import duckdb
import pytest

from .hostile_tables import build
from .oracle_compare import compare_query, run_oracle

#: oracle-backed embedding consumers proven robust to NULL-element and
#: zero-norm vectors (tier 1)
_ROBUST = [
    "similarity_topk_exact",
    "similarity_topk_ivf",
    "dedup_embedding_cosine",
    "quantize_embeddings_int8",
    "embedding_knn_label",
    "embedding_centroid_by_group",
    "dedup_decontaminate_semantic",
]


@pytest.fixture(scope="module")
def null_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_emb_null")
    return build("embeddings", sf_small, d)


@pytest.fixture(scope="module")
def nan_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_emb_nan")
    return build("embeddings_nan", sf_small, d)


@pytest.mark.parametrize("name", _ROBUST)
def test_null_and_zero_vectors_stay_oracle_green(spark, null_sf, name):
    problems = compare_query(spark, name, null_sf)
    assert not problems, f"{name}: {problems}"


def test_kmeans_null_element_raises_envelope_error(spark, null_sf):
    """Tier 2 pin, flipped r14: a NULL embedding
    element now trips the quantizer's envelope assert_true LOUDLY —
    the guard predicate is ``x IS NOT NULL AND abs(x) <= 8`` so NULL
    no longer slips through assert_true's raise-only-on-FALSE
    semantics into a NULL cluster_id / driver-side int(None)."""
    import __spark_entry__ as e

    with pytest.raises(Exception) as exc:
        e.queries()["cluster_kmeans_assign"](spark, null_sf).collect()
    assert "headroom envelope" in str(exc.value)


def test_nan_is_the_known_embedding_divergence(spark, nan_sf):
    """Tier 3 pin (the \\x0B pattern): on a NaN-poisoned corpus the
    DuckDB oracle emits MORE near-dup pairs than the engine — NaN
    passes DuckDB's total-order threshold test and never passes
    numpy's. If this ever starts agreeing, the documented divergence
    note in this module is stale."""
    import __spark_entry__ as e

    sdf = e.queries()["dedup_embedding_cosine"](spark, nan_sf).toPandas()
    odf = run_oracle(e.oracle_sql()["dedup_embedding_cosine"], nan_sf)
    assert len(odf) > len(sdf)


def test_testdata_embeddings_are_finite_and_complete():
    """Tripwire (the no-\\x0B pattern): the NaN/NULL divergences above
    stay latent ONLY while the driver testdata is clean. Fires before
    any oracle mismatch could confuse a round."""
    import glob
    import os

    con = duckdb.connect()
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs, "driver testdata missing"
    for d in dirs:
        p = os.path.join(d, "embeddings.parquet")
        bad = con.execute(
            f"""
            SELECT count(*) FROM '{p}',
                   unnest(embedding) AS u(x)
            WHERE x IS NULL OR isnan(x) OR isinf(x)
            """
        ).fetchone()[0]
        assert bad == 0, f"{p}: {bad} non-finite embedding elements"
