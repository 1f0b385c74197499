"""Difficulty-aware packing (functions/currpack.py) invariants the
driver hash-compare can't see from the stock testdata:

- the stage-rule SQL spelled in currpack's oracle must stay identical
  to curriculum.py's (the tokcount lesson: duplicated spellings drift
  silently unless pinned);
- the two-level chunked prefix sum (sharding.chunked_prefix_sum, keyed
  by stage here and unkeyed in the shard manifest) must be exact on id
  shapes the stock testdata never produces — negative ids, sparse
  gaps, ids deep into superchunk > 0, and budget-straddling docs
  (the sharding-multilevel lesson: the stock ids never leave
  superchunk 0, so the top level of the decomposition is invisible
  to the oracle compare without these fixtures);
- sequences are stage-homogeneous and first seq_id per stage is 0.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _normalize(sql: str) -> str:
    return re.sub(r"\s+", " ", sql).strip()


def test_stage_case_spelling_matches_curriculum():
    """currpack's oracle duplicates the tertile stage CASE because
    curriculum's _STAGED_CTE drops doc_id (which packing needs). The
    two spellings must never drift."""
    from etl_sales_pandas_sqlserver_spark.functions.currpack import (
        _PACKED_CTE,
    )
    from etl_sales_pandas_sqlserver_spark.functions.curriculum import (
        _STAGED_CTE,
    )

    case = (
        "CAST(CASE WHEN 3 * lo <= n THEN 0 "
        "WHEN 3 * lo <= 2 * n THEN 1 "
        "ELSE 2 END AS BIGINT) AS stage"
    )
    assert case in _normalize(_PACKED_CTE)
    assert case in _normalize(_STAGED_CTE)


def _naive_prefix(rows, keys):
    """{(stage, doc_id): (before, total)} by a per-key cumsum over
    ``doc_id`` order; ``rows`` are (stage, doc_id, n_tok)."""
    groups: dict = {}
    for st, d, n in rows:
        groups.setdefault(st if keys else None, []).append((d, n, st))
    want = {}
    for docs in groups.values():
        total = sum(n for _, n, _ in docs)
        before = 0
        for d, n, st in sorted(docs):
            want[(st, d)] = (before, total)
            before += n
    return want


def _chunked_prefix(sdf, keys):
    from etl_sales_pandas_sqlserver_spark.functions.sharding import (
        chunked_prefix_sum,
    )

    return {
        (r.stage, r.doc_id): (r.before, r.total)
        for r in chunked_prefix_sum(sdf, keys).collect()
    }


#: the stage-keyed prefix (currpack) and the global one (sharding)
_KEYS = [pytest.param(["stage"], id="stage"), pytest.param([], id="global")]


@pytest.mark.parametrize("keys", _KEYS)
def test_chunked_stage_prefix_on_hostile_ids(spark, keys):
    """chunked_prefix_sum vs a naive cumsum, on ids that exercise every
    level of the decomposition: negative ids (chunk 0 spans
    (-4096, 4096) under truncating div), sparse gaps, ids in
    superchunks 0/1/3, and docs larger than the 2048 pack budget
    (seq_id gaps — straddling docs land whole where their prefix
    starts). Unkeyed, the stages' ids are moved 4 superchunks apart so
    every doc_id stays unique in the one global order."""
    from etl_sales_pandas_sqlserver_spark.functions.currpack import (
        _PACK_BUDGET,
    )

    sup_w = 4096 * 4096
    shift = 1 if keys else 4 * sup_w
    rows = []  # (stage, doc_id, n_tok)
    ids = [
        -9000, -1, 0, 17, 4095, 4096, 9999,
        sup_w - 1, sup_w, sup_w + 4097,
        3 * sup_w + 12345, 3 * sup_w + 12346,
    ]
    for s in (0, 1, 2):
        for i, d in enumerate(ids):
            # vary sizes; every stage gets one straddler > budget
            n_tok = [37, 5000, 1, 2047, 2048, 2049, 400,
                     1, 1, 9000, 123, 1][i] + s
            rows.append((s, d + s * shift, n_tok))  # stages differ
    sdf = spark.createDataFrame(rows, "stage long, doc_id long, n_tok long")
    want = _naive_prefix(rows, keys)
    assert len(want) == len(rows)
    assert _chunked_prefix(sdf.repartition(8), keys) == want

    # straddler sanity: at least one stage has a seq_id gap
    seqs0 = sorted(
        b // _PACK_BUDGET for (s, _), (b, _) in want.items() if s == 0
    )
    assert seqs0[0] == 0
    assert max(seqs0) >= len(set(seqs0))  # gaps exist


def test_sequences_are_stage_homogeneous_and_zero_based(spark, sf_small):
    from etl_sales_pandas_sqlserver_spark.functions.currpack import (
        _packed_docs,
    )

    packed = _packed_docs(spark, sf_small).cache()
    # stage-homogeneity is structural (seq_id is scoped per stage);
    # what CAN break is the zero-base and the budget fill: every
    # non-final sequence of a stage must carry >= 1 doc and the
    # per-stage seq_id 0 must exist whenever the stage has docs
    first = (
        packed.groupBy("stage").agg(F.min("seq_id").alias("m")).collect()
    )
    assert all(r.m == 0 for r in first)
    # every doc appears exactly once
    n_docs = packed.count()
    assert packed.select("stage", "doc_id").distinct().count() == n_docs
    packed.unpersist()


@pytest.mark.parametrize("keys", _KEYS)
def test_chunked_stage_prefix_property(spark, keys):
    """Property form of the hostile-id test: on randomized
    (stage, doc_id, n_tok) frames — ids signed and spanning multiple
    superchunks, token counts crossing the budget — the chunked
    decomposition must equal the naive cumsum, under any input
    partitioning."""
    import random

    rng = random.Random(0xC0FFEE)
    sup_w = 4096 * 4096
    for trial in range(3):
        n = rng.randint(20, 120)
        ids = rng.sample(range(-2 * sup_w, 5 * sup_w), n)
        rows = [
            (rng.randint(0, 2), d, rng.choice([1, 37, 512, 2047, 2048,
                                               2049, 5000, 9001]))
            for d in ids
        ]
        sdf = spark.createDataFrame(
            rows, "stage long, doc_id long, n_tok long"
        ).repartition(rng.choice([1, 5, 16]))
        assert _chunked_prefix(sdf, keys) == _naive_prefix(rows, keys), (
            f"trial {trial}"
        )
