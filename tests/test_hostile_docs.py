"""Kernel/oracle parity on HOSTILE document shapes the sf fixtures
never produce: empty text, sub-paragraph-length text, and non-ASCII
(multi-byte) text.

Round-8 advice flagged that q_text_diversity and the BMP/WAV
round-trip oracles agreed with their Spark kernels only because the
fixtures guarantee non-empty ASCII text (empty-doc guard on one side
only; bytes-vs-characters grain). This module runs the affected
queries over a synthetic documents table that exercises exactly those
shapes, through the same compare the driver uses. A short-doc case is
included for dedup_paragraph_exact: Spark's ``sequence(0, -1)`` counts
DOWN to ``[0, -1]`` where DuckDB's ``range(0, 0)`` is empty, so a
<10-token doc exploded into phantom paragraphs until guarded.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from .oracle_compare import compare, run_oracle

#: doc_id % 3 picks the modality (0=image, 1=audio), so ids are chosen
#: to land empty/non-ASCII docs in BOTH the BMP and WAV populations
_DOCS = [
    # (doc_id, text)
    (0, ""),                                      # empty image doc
    (1, ""),                                      # empty audio doc
    (2, "plain ascii text with enough tokens "
        "one two three four five six seven"),     # control
    (3, "hélloé wörld \U0001f30d mixed byte widths "
        "padded out to ten tokens total ok"),      # non-ASCII image doc
    (4, "ümläut \U0001f680 audio doc with several more "
        "tokens to cross ten"),                    # non-ASCII audio doc
    (5, "short doc"),                              # < 10 tokens
    (6, "x"),                                      # single char
    (8, "vïdeo \U0001f3ac content with well over "
        "sixteen payload bytes here"),             # non-ASCII video doc
    (14, ""),                                      # empty video doc
]


@pytest.fixture(scope="module")
def hostile_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_docs")
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in _DOCS], pa.int64()),
            "text": pa.array([t for _, t in _DOCS], pa.string()),
            # mixed langs so the DSIR target('en') and raw histograms
            # genuinely diverge over the non-ASCII docs
            "lang": pa.array(
                ["fr" if i == 3 else "de" if i == 4 else "en"
                 for i, _ in _DOCS],
                pa.string(),
            ),
            "source": pa.array(["synthetic"] * len(_DOCS), pa.string()),
            "n_chars": pa.array([len(t) for _, t in _DOCS], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


_AFFECTED = [
    "text_diversity_stats",
    "dedup_paragraph_exact",
    "multimodal_bmp_decode",
    "multimodal_wav_resample",
    "multimodal_binary_features",
    "multimodal_frame_sample",
    "multimodal_audio_chunks",
    # r10: oracle moved from char-grain ascii(substr) to byte recovery;
    # the kernel's ASCII-only ValueError guard is gone — multi-byte
    # docs (3, 4, 8) must now hash identically on both engines
    "importance_weights_ngram",
    # r11: the PNG round trip (byte-grain oracle, same population as
    # BMP) and the LM band prune (split(' ') token grain on unicode,
    # <2-token docs unscored on both engines)
    "multimodal_png_decode",
    "lm_band_prune_by_source",
    "dataset_card_by_source",
    "budget_sampled_by_source",
    "shard_manifest_tokens",
    "release_shard_manifest",
    # r12: curriculum rank-band stats on the same LM-score grain --
    # unicode token splitting + <2-token exclusion must agree
    "curriculum_decile_bounds",
    "curriculum_stage_mix",
    "curriculum_pacing_schedule",
    # r12: character-pair counts -- multibyte substr grain must agree
    "bpe_top_pairs",
    # r14: merge apply -- char-grain tokenization + greedy fold vs the
    # positional run-parity oracle must agree on unicode/empty/short
    # docs (and on however many merge rules this tiny corpus yields)
    "bpe_apply_merges",
    # r13: stage-homogeneous packing -- stage assignment (LM grain,
    # <2-token exclusion) AND the \s+ token-count grain must agree
    "pack_by_curriculum_stage",
    "pack_stage_fill_summary",
    "pack_fill_histogram",
    # r13: streaming card ingest -- the \s+ token-count grain on
    # unicode/empty docs must agree through the streaming path too
    "stream_dataset_card_ingest",
    # r13: the curation funnel -- first-fail attribution must agree on
    # empty/unicode docs across the fingerprint, token-count, and
    # shingle grains at once
    "curation_funnel_stages",
    "curation_funnel_by_source",
]


@pytest.mark.parametrize("name", _AFFECTED)
def test_hostile_docs_parity(spark, hostile_sf_dir, name):
    import __spark_entry__ as e

    fn = e.queries()[name]
    sql = e.oracle_sql()[name]
    sdf = fn(spark, hostile_sf_dir)
    odf = run_oracle(sql, hostile_sf_dir)
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"
    # the populations must be non-trivial: non-ASCII docs survive both
    # engines, empty docs are dropped by both
    if name == "text_diversity_stats":
        ids = {r.doc_id for r in sdf.collect()}
        assert 3 in ids and 4 in ids and 0 not in ids and 1 not in ids
