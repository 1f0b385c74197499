"""Hostile vertical-tab (U+000B) documents — the whitespace-grain axis.

U+000B is THE character the two engines' ``\\s`` disagree on (Java
includes it, RE2 does not; proven codepoint-exhaustively in
test_cross_engine_primitives). The r14-r16 respells moved every
fingerprint/token spelling they covered onto the explicit
``tokcount.WS_CLASS``, where both engines agree — this module pins the
r16 sweep classification of ``tools/hostile_sweep.py documents_vtab``
(poison: one doc with \\x0B inside words, one doc differing from an
existing doc ONLY by \\x0B-vs-space):

1. **186/186 classified, zero mismatch (r17)** — the r16 fingerprint
   atomic group (exact dedup, fingerprints, curation pipeline + funnel
   audit, source dedup rate, dataset cards, corpus diff), the curation
   token gate, the repetition pair, ``_RE_TOKEN``, the r14/r15
   tokcount/bpe/array grains, AND (r17) the final textstats token
   split: the split and its paired SQL literals (batching OOV_RATE_SQL,
   source_stats CONTAMINATION_SQL) moved to ``WS_CLASS`` as one atomic
   set, so ``text_token_stats``,
   ``text_quality_scores``, ``text_winnow_fingerprints``,
   ``text_docfreq_quality``, ``oov_rate_by_source`` and
   ``lang_sampling_weights_sqrt`` now agree on \\x0B text. A
   representative slice (including all six) is parity-pinned below.
2. ``_KNOWN_MISMATCH`` is EMPTY — kept as the loud landing spot for
   any future token-grain site that is not born on ``WS_CLASS``.
"""

from __future__ import annotations

import pytest

from .hostile_tables import build
from .oracle_compare import compare_query, run_oracle

#: representative slice of the 186 vtab-green queries: the r16
#: fingerprint atomic group + the grains flipped in earlier rounds
_ROBUST = [
    "text_fingerprint",
    "dedup_exact",
    "corpus_curation_pipeline",
    "curation_funnel_stages",
    "curation_funnel_by_source",
    "source_dedup_rate_rollup",
    "dataset_card_by_source",
    "dataset_card_global",
    "corpus_churn_by_source",
    "corpus_snapshot_diff",
    "text_repetition_scores",
    "contamination_matrix_sources",
    "token_budget_waterfill",
    "shard_manifest_tokens",
    "bpe_top_pairs",
    "bpe_apply_merges",
    "token_salience",
    # r17: the textstats token-split respell set, flipped from
    # _KNOWN_MISMATCH when that split moved to WS_CLASS
    "text_token_stats",
    "text_quality_scores",
    "text_winnow_fingerprints",
    "text_docfreq_quality",
    "oov_rate_by_source",
    "lang_sampling_weights_sqrt",
]

#: EMPTY since r17 (the textstats token-split set landed): every token/
#: fingerprint site is on the explicit WS_CLASS grain. Any new entry
#: here is a regression, not a backlog item — new token sites must be
#: born on tokcount.WS_CLASS.
_KNOWN_MISMATCH: list[str] = []


@pytest.fixture(scope="module")
def vtab_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_vtab")
    return build("documents_vtab", sf_small, d)


@pytest.mark.parametrize("name", _ROBUST)
def test_vtab_stays_oracle_green(spark, vtab_sf, name):
    problems = compare_query(spark, name, vtab_sf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _KNOWN_MISMATCH)
def test_vtab_known_mismatch_is_pinned(spark, vtab_sf, name):
    """EMPTY since r17 — the loud landing spot: a query listed here is
    asserted to DISAGREE with its oracle on \\x0B text, so a pinned
    divergence can neither be forgotten (this fails when fixed) nor
    silently regress (the sweep axis catches new mismatches)."""
    assert compare_query(spark, name, vtab_sf), (
        f"{name} now agrees on vertical-tab text — move it to _ROBUST"
    )


def test_fingerprint_vtab_collision_is_real(spark, vtab_sf):
    """The \\x0B-vs-space twin (doc 910002) must fingerprint IDENTICAL
    to doc 1 on BOTH engines? No — the OPPOSITE: \\x0B is NOT
    whitespace under WS_CLASS, so the twin does NOT collapse to doc
    1's fingerprint (the old Java-\\s+ Spark side would have collapsed
    it while the oracle did not — the exact silent-wrong-answer shape
    the r16 flip closed). Assert both engines agree the twin is a
    DISTINCT fingerprint."""
    import __spark_entry__ as e

    sdf = e.queries()["text_fingerprint"](spark, vtab_sf).toPandas()
    by_id = dict(zip(sdf["doc_id"], sdf["fingerprint"]))
    assert by_id[910002] != by_id[1]
    odf = run_oracle(e.oracle_sql()["text_fingerprint"], vtab_sf)
    oby = dict(zip(odf["doc_id"], odf["fingerprint"]))
    assert oby[910002] != oby[1]
    assert by_id[910002] == oby[910002]
