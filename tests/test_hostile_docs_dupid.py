"""Hostile doc_id UNIQUENESS violation: one existing id duplicated
with DIFFERENT text — the eighth hostile axis (r15).

Why this shape matters at 100 TB: every doc-keyed family orders or
prefix-sums by ``doc_id`` (shard manifest, packing, training order,
keep-first dedup, position profiles), and a duplicated id makes every
one of those ORDER BYs a real tie. Ties are where engines are allowed
to disagree (and where one engine can disagree WITH ITSELF across
runs) — the classic silent-nondeterminism trap.

Full-registry sweep (``tools/hostile_sweep.py documents_dupid``):
**186 green / 0 mismatch / 0 errors.** (The r15 sweep reported
186/186, but its table was one row: an unparenthesized
``ORDER BY doc_id LIMIT 1`` bound to the whole ``UNION ALL``. With
two rows the sweep found 181 green / 5 mismatch, fixed below.)

- Green, and structurally so: the tied rows share the tie key, and
  every tie-sensitive query's OUTPUT projection either aggregates over
  the tie (per-shard / per-sequence / per-source rollups are
  order-insensitive within the tie) or emits rows keyed by the id
  itself, so swapping the two tied rows produces the SAME output set.
  This suite pins a representative slice of those families so a
  future query that breaks the pattern (e.g. emitting a row_number
  alongside a non-key column) fails here first.
- The id-keyed PAIR families ``dedup_jaccard_prefix_filter``,
  ``dedup_containment_pairs``, ``dedup_ngram_jaccard``,
  ``dedup_simhash`` and ``dedup_decontaminate`` once grouped their
  shingle joins by ``doc_id``, merging the two texts of one id into
  one set, and emitted a different number of ``(a_id, b_id)`` pairs
  than DuckDB. They now pair ROWS: every group, window and size join
  keys on the shingle frame's row ordinal (``dedup._doc_rows``) and
  ``doc_id`` rides along as payload, which is what the oracle SQL
  does. Pinned in ``_ROBUST``.
"""

from __future__ import annotations

import pytest

from .hostile_tables import build
from .oracle_compare import compare_query

#: the most tie-sensitive doc-keyed queries: global/stratified prefix
#: sums, keep-first windows, fingerprint dedup with DIFFERENT text
#: under one id, and the funnel/census pair
_ROBUST = [
    "shard_manifest_tokens",
    "pack_training_sequences",
    "training_order_global_index",
    "release_shard_manifest",
    "token_position_profile",
    "dedup_exact",
    "text_fingerprint",
    "curation_funnel_stages",
    "corpus_curation_pipeline",
    "split_train_val_test",
    "token_budget_waterfill",
    "chunk_context_windows",
    # the shingle-pair families: pairs of ROWS keyed on the shingle
    # frame's row ordinal, doc_id carried as payload
    "dedup_ngram_jaccard",
    "dedup_containment_pairs",
    "dedup_decontaminate",
    "dedup_jaccard_prefix_filter",
    "dedup_simhash",
]


@pytest.fixture(scope="module")
def dupid_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_dupid")
    return build("documents_dupid", sf_small, d)


@pytest.mark.parametrize("name", _ROBUST)
def test_duplicate_doc_id_stays_oracle_green(spark, dupid_sf, name):
    problems = compare_query(spark, name, dupid_sf)
    assert not problems, f"{name}: {problems}"


def test_testdata_doc_ids_are_unique():
    """Tripwire: the driver documents carry unique doc_ids at every sf,
    so the pins above are the only coverage of a duplicated id."""
    import glob
    import os

    import duckdb

    from .conftest import SF_SMALL

    dirs = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))
    assert dirs, "driver testdata missing"
    for d in dirs:
        n, n_ids = duckdb.sql(
            f"SELECT count(*), count(DISTINCT doc_id) "
            f"FROM '{d}/documents.parquet'"
        ).fetchone()
        assert n == n_ids, f"{d}: {n - n_ids} duplicated doc_ids"
