"""Hostile documents rows: NULL doc_id / text / lang / source.

Fourth and final table audit of r13 (test_hostile_docs covers
empty/unicode/multibyte TEXT VALUES; this covers NULL FIELDS — a
different axis: null text reaches the Python kernels, null doc_id
reaches every ordering and prefix sum, null source reaches every
grouping and join).

Full 186-query sweep result (``tools/hostile_sweep.py documents``):
**181 green / 5 Spark errors / 0 mismatch.**

- Robust (representative slice pinned below): the dedup, funnel,
  curation, similarity, text-stats and streaming families treat null
  fields identically on both engines (null fingerprints group
  together, null text drops from token counts on both sides, the
  %-residue filters drop null ids consistently — the funnel's pin in
  test_funnel.py documents that last one explicitly).

- Known divergent/crash set (pinned as NOT-green below, the \\x0B
  pattern): three multimodal kernels, ``text_diversity_stats`` and
  ``importance_weights_ngram`` raise from their Arrow kernels on a
  None payload — loud raises, the INTENDED surface for an
  unreadable payload. Everything else has been fixed in its drain
  round (r14: nullable ORDER BY; r15: phantom positions, shard/pack
  prefix sums; r16: the token_salience divide-by-zero).

- Tripwire: driver documents carry zero nulls in ANY column at every
  sf — fires before a testdata regeneration could surface any of the
  above as a confusing driver mismatch.
"""

from __future__ import annotations

import duckdb
import pytest

from .hostile_tables import build
from .oracle_compare import compare_frames, compare_query, run_oracle

_ROBUST = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_token_stats",
    "text_quality_scores",
    "text_lang_id",
    "text_fingerprint",
    "curation_funnel_stages",
    "curation_funnel_by_source",
    "corpus_curation_pipeline",
    "corpus_mix_weighted",
    "source_quota_cap",
    "split_train_val_test",
    "token_budget_waterfill",
    "token_budget_summary",
    "lm_band_prune_by_source",
    "curriculum_stage_mix",
    "bpe_top_pairs",
    "bpe_apply_merges",
    "heavy_hitters_users",
    "chunk_context_windows",
    # fixed r14 (zero-slot: r10/r11 queries already in the r14
    # window): the nullable-ORDER-BY class — oracles now spell NULLS
    # FIRST explicitly (Spark's window and range-partitioner default)
    # on the histogram cum windows (null n_chars -> null bin_cap),
    # the percentile rank keys, and the training-order md5 key
    "hist_quantiles_by_source",
    "quality_percentile_by_source",
    "training_order_global_index",
    "dataset_card_by_source",
    # fixed r15 (zero-slot, r11 in-window): null-text docs must emit
    # ZERO position rows as posexplode(NULL) does; DuckDB's least()
    # SKIPS nulls so the oracle needed `WHERE w IS NOT NULL` to stop
    # len(NULL) -> least(NULL, 32) = 32 phantom positions
    "token_position_profile",
    # fixed r15 (fronted): the manifest's global order IS doc_id, so
    # id-less docs are excluded on both engines; packing spells
    # NULLS FIRST in its per-lang cumsum ORDER BY
    "shard_manifest_tokens",
    "pack_training_sequences",
    # fixed r16 (in-drain, zero-slot): id-less docs excluded from the
    # salience universe on both engines (tf, df, N) — a token seen
    # only in an id-less doc carried df = 0, so Spark's ANSI division
    # raised where DuckDB flowed inf
    "token_salience",
]

#: queries that are KNOWN to crash or diverge on null document fields
_KNOWN_NOT_GREEN = [
    # Arrow-kernel crashes on a None payload
    "multimodal_audio_chunks",
    "multimodal_binary_features",
    "multimodal_wav_resample",
    "text_diversity_stats",
    "importance_weights_ngram",
    # (r15: the null-doc_id prefix-sum class emptied — shard manifest
    # and packing moved to the robust list above; r16: token_salience
    # divide-by-zero fixed, moved to robust)
]


@pytest.fixture(scope="module")
def null_docs_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_docs_nulls")
    return build("documents", sf_small, d)


@pytest.mark.parametrize("name", _ROBUST)
def test_null_fields_stay_oracle_green(spark, null_docs_sf, name):
    problems = compare_query(spark, name, null_docs_sf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _KNOWN_NOT_GREEN)
def test_null_fields_known_not_green(spark, null_docs_sf, name):
    """Uniform NOT-green pin: the query either raises or disagrees
    with its oracle on null fields today. A fix flips this loudly —
    then move the query to _ROBUST."""
    import __spark_entry__ as e

    try:
        sdf = e.queries()[name](spark, null_docs_sf).toPandas()
    except Exception:
        return  # crash: loud, counted as pinned
    odf = run_oracle(e.oracle_sql()[name], null_docs_sf)
    assert compare_frames(sdf, odf), (
        f"{name} now agrees on null fields — move it to _ROBUST"
    )


def test_testdata_documents_have_no_nulls():
    """Tripwire: everything above stays latent only while driver
    documents are null-free in every column."""
    import glob

    con = duckdb.connect()
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs, "driver testdata missing"
    for d in dirs:
        bad = con.execute(
            f"""
            SELECT count(*) FROM '{d}/documents.parquet'
            WHERE doc_id IS NULL OR text IS NULL OR lang IS NULL
               OR source IS NULL OR n_chars IS NULL
            """
        ).fetchone()[0]
        assert bad == 0, f"{d}: {bad} documents with null fields"
